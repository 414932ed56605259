package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.GraftFunctions._

/** Relational operator suite. Each entry re-expresses an operator family
  * from the reference engine (see SURVEY.md §2; reference cites in each
  * scaladoc are into /root/reference) over the driver's star schema,
  * Spark-first: declarative plans, broadcast hints for dimension tables,
  * decimal-exact aggregation so results hash-match a DuckDB oracle.
  *
  * Scale notes (100 TB): every query here either (a) aggregates with
  * map-side partial aggregation, (b) joins a big fact to broadcastable
  * dims, or (c) uses TakeOrderedAndProject for top-k — no unbounded
  * global sorts except where the semantics demand a total order, and
  * window functions partition on high-cardinality keys.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Decimal-exact sum emitted as double: deterministic across engines
    * regardless of aggregation order (double sums are not associative;
    * decimal sums are exact).
    */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast(DecimalType(18, 2))).cast("double")

  // -------------------------------------------------------------------
  /** Grouped aggregation with map-side combine (reference A1/A3 family,
    * postgres_media.py:81, params_queries.py:35 generalized to grouped
    * form). TPC-H Q1 shape.
    */
  val q01_pricing_summary: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round($"sum_qty" / $"count_order", 4))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Projection + IN-list predicate + sort (reference P1/P3,
    * params_queries.py:7,31; pushed to the parquet scan by Catalyst).
    */
  val q02_select_in: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .where($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Equality predicate (reference P4, params_queries.py:33). */
  val q03_select_eq: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .where($"p_brand" === "Brand#7")
      .select($"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  /** 3-way inner equi-join + theta filter + desc sort (reference J1
    * GAIN_SELECT, params_queries.py:13-20). Dimensions broadcast; the
    * theta filter is pushed below the join into the orders scan.
    */
  val q04_theta_join: Q = (spark, dir) => {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders").where($"o_totalprice" < 50000.0)
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"o_orderkey", $"c_name", $"n_name", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
  }

  /** 3-way join + IN predicate + asc sort (reference J2 JOIN_SELECT,
    * params_queries.py:22-29).
    */
  val q05_join_in_sort: Q = (spark, dir) => {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
      .where($"p_brand".isin("Brand#1", "Brand#2", "Brand#3"))
    val supp = Tables.load(spark, dir, "supplier")
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .select($"l_orderkey", $"l_linenumber", $"p_name", $"s_name")
      .orderBy($"p_name", $"l_orderkey", $"l_linenumber")
  }

  /** Global scalar aggregate with arithmetic + ROUND (reference A1,
    * params_queries.py:35 — AVG(file_size)/(1024*1024) analog).
    */
  val q06_global_avg: Q = (spark, dir) => {
    Tables.load(spark, dir, "orders")
      .agg(round(dsum("o_totalprice") / count(lit(1)) / lit(1024.0), 2)
        .as("avg_kprice"))
  }

  /** Top-k by sort + limit (reference O1/O5 family) — plans as
    * TakeOrderedAndProject: per-partition heaps, no global sort.
    */
  val q07_topk: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
  }

  /** Order-preserving dedup: first row per key by time (reference A5,
    * spotify_client.py:545-546 — dedup keeping first occurrence).
    */
  val q08_dedup_first: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_id", $"event_type")
      .orderBy($"user_id")
  }

  /** argmax: top-1 per group carrying payload (reference A2/J4,
    * spotify_client.py:171-175). Window row_number for deterministic
    * tie-breaks; `max_by` is the shuffle-lighter alternative when ties
    * are impossible.
    */
  val q09_argmax: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
    val top = Tables.load(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
    top.join(broadcast(Tables.load(spark, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_name", $"c_acctbal")
      .orderBy($"n_name")
  }

  /** Analytic window with running frame (SURVEY §2.7 extension surface). */
  val q10_window_running: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .withColumn("running_spend",
        sum($"o_totalprice".cast(DecimalType(18, 2))).over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"running_spend")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Left-semi join (EXISTS). */
  val q11_semi_join: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Left-anti join (NOT EXISTS). */
  val q12_anti_join: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Set difference (SURVEY §2.9 extension surface). */
  val q13_except: Q = (spark, dir) => {
    import spark.implicits._
    val building = Tables.load(spark, dir, "customer")
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val bigSpenders = Tables.load(spark, dir, "orders")
      .where($"o_totalprice" > 100000.0).select($"o_custkey".as("c_custkey"))
    building.except(bigSpenders).orderBy($"c_custkey")
  }

  /** Distinct union over heterogeneous sources. */
  val q14_union: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "region").select($"r_name".as("name"))
      .union(Tables.load(spark, dir, "nation").select($"n_name".as("name")))
      .distinct()
      .orderBy($"name")
  }

  /** ROLLUP hierarchy aggregate (grouping-sets surface). */
  val q15_rollup: Q = (spark, dir) => {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    o.join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(dsum("o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** Nested/JSON field extraction (reference F15, spotify_client.py:
    * 407-426 — nested document field access), via get_json_object.
    */
  val q16_json_extract: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id",
        get_json_object($"props", "$.k").cast("int").as("k"))
      .orderBy($"event_id")
  }

  /** Event-time tumbling window aggregate — the batch-equivalent of the
    * Structured Streaming pipeline in graft.streaming (same window
    * semantics; streaming adds a watermark).
    */
  val q17_hourly_window: Q = (spark, dir) => {
    import spark.implicits._
    // ts arrives as epoch-nanos Long (see Tables.load); rebuild a
    // micros-precision timestamp with integer division — nanos exceed
    // double's mantissa, so only `DIV` (integer) division is safe.
    Tables.load(spark, dir, "events")
      .withColumn("tstamp", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window($"tstamp", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"), dsum("value").as("sum_value"))
      .select(unix_timestamp($"window.start").as("hour_start"),
        $"event_type", $"n_events", $"sum_value")
      .orderBy($"hour_start", $"event_type")
  }

  /** Dictionary decode via map literal + element_at (reference F8/F9
    * pitch-class/mode decode, models.py:76-97).
    */
  val q18_case_decode: Q = (spark, dir) => {
    import spark.implicits._
    val codes = typedLit(Map(
      "click" -> 1, "view" -> 2, "signup" -> 3, "purchase" -> 4, "error" -> 5))
    Tables.load(spark, dir, "events")
      .select($"event_id",
        element_at(codes, $"event_type").as("type_code"),
        when($"value" >= 100.0, "high").otherwise("normal").as("severity"))
      .orderBy($"event_id")
  }

  /** Composite formatted natural key (reference F12 track_tag,
    * postgres_media.py:256-260).
    */
  val q19_format_key: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .select($"p_partkey",
        format_string("%03d | %s | %02d",
          pmod($"p_partkey", lit(1000)), $"p_name", pmod($"p_size", lit(100)))
          .as("part_tag"))
      .orderBy($"p_partkey")
  }

  /** ms → HH:MM:SS duration rendering (reference F3 convert_duration,
    * spotify_client.py:328-344), in pure integer arithmetic so the
    * result is timezone-free and engine-agnostic.
    */
  val q20_duration: Q = (spark, dir) => {
    import spark.implicits._
    val ms = floor($"value" * 1000).cast(LongType)
    Tables.load(spark, dir, "events")
      .select($"event_id",
        format_string("%02d:%02d:%02d",
          floor(ms / 3600000.0).cast(LongType) % 24,
          floor(ms / 60000.0).cast(LongType) % 60,
          floor(ms / 1000.0).cast(LongType) % 60).as("duration"))
      .orderBy($"event_id")
  }

  /** Length-dispatched date parsing: 'YYYY' | 'YYYY-MM' | 'YYYY-MM-DD'
    * (reference F4 convert_release_date, spotify_client.py:346-374).
    * The variable-precision strings are synthesized deterministically
    * from o_orderdate, then parsed back.
    */
  val q21_parse_date: Q = (spark, dir) => {
    import spark.implicits._
    val ds = when(pmod($"o_orderkey", lit(3)) === 0, date_format($"o_orderdate", "yyyy"))
      .when(pmod($"o_orderkey", lit(3)) === 1, date_format($"o_orderdate", "yyyy-MM"))
      .otherwise(date_format($"o_orderdate", "yyyy-MM-dd"))
    Tables.load(spark, dir, "orders")
      .withColumn("datestr", ds)
      .select($"o_orderkey", $"datestr",
        when(length($"datestr") === 4, to_date(concat($"datestr", lit("-01-01"))))
          .when(length($"datestr") === 7, to_date(concat($"datestr", lit("-01"))))
          .otherwise(to_date($"datestr")).as("parsed"))
      .orderBy($"o_orderkey")
  }

  /** Unicode accent folding via the custom ascii_fold expression
    * (reference F1 normalize, spotify_client.py:181-202). Accented
    * input is synthesized with translate(), then folded back; the
    * DuckDB oracle uses its independent strip_accents implementation.
    */
  val q22_ascii_fold: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "nation")
      .select($"n_nationkey", $"n_name",
        ascii_fold(translate(lower($"n_name"), "aeio", "áéíö"))
          .as("folded"))
      .orderBy($"n_nationkey")
  }

  /** Fuzzy best-match top-1 join with threshold (reference J4,
    * spotify_client.py:140-179): corrupted keys are matched back to
    * candidate names by InDel similarity (custom fuzz_ratio expression),
    * argmax per keyword, filtered at confidence >= 70 (reference thold,
    * config/settings_example.toml:34). Candidates broadcast — at scale
    * this is a broadcast nested-loop scoring pass, never a shuffle.
    * Oracle-gated since round 11: DuckDB's levenshtein permits
    * substitutions, so [[q23Oracle]] instead unrolls the InDel LCS DP
    * itself into nested list_reduce folds.
    */
  val q23_fuzzy_topk: Q = (spark, dir) => {
    import spark.implicits._
    val names = Tables.load(spark, dir, "nation").select(lower($"n_name").as("candidate"))
    val keywords = Tables.load(spark, dir, "nation")
      .select(regexp_replace(lower($"n_name"), "[aeiou]", "").as("keyword"))
      .distinct()
    val w = Window.partitionBy($"keyword").orderBy($"score".desc, $"candidate")
    keywords.crossJoin(broadcast(names))
      .withColumn("score", fuzz_ratio($"keyword", $"candidate"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1 && $"score" >= 70.0)
      .select($"keyword", $"candidate".as("matched"), $"score")
      .orderBy($"keyword")
  }

  /** Explicit GROUPING SETS with a grouping-id discriminator — the
    * general form of which ROLLUP (q15) and CUBE (q40) are the fixed
    * shorthands, completing the multi-granularity aggregation surface.
    * Runs through the SQL path (`spark.sql` over a registered view) so
    * the exact ANSI syntax a reference user would write is what is
    * exercised; Spark expands the sets into one Expand + single
    * aggregate — one shuffle for all three granularities, not one per
    * set. Sums cross the engine boundary through DECIMAL(18,2).
    */
  val q94_grouping_sets: Q = (spark, dir) => {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, rflag, lstatus""".stripMargin)
  }

  // ------------------------------------------------------------ oracles
  val oracles: Map[String, String] = Map(
    "q94_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, rflag, lstatus""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | COUNT(*) AS count_order,
        | ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_select_in" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') ORDER BY c_custkey""".stripMargin,
    "q03_select_eq" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_brand = 'Brand#7' ORDER BY p_partkey""".stripMargin,
    "q04_theta_join" ->
      """SELECT o_orderkey, c_name, n_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_totalprice < 50000
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q05_join_in_sort" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
        |ORDER BY p_name, l_orderkey, l_linenumber""".stripMargin,
    "q06_global_avg" ->
      """SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        | / COUNT(*) / 1024.0, 2) AS avg_kprice FROM orders""".stripMargin,
    "q07_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q08_dedup_first" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q09_argmax" ->
      """SELECT n_name, c_name, c_acctbal FROM (
        |  SELECT c_nationkey, c_name, c_acctbal,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) t JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn = 1 ORDER BY n_name""".stripMargin,
    "q10_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q11_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q12_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q13_except" ->
      """SELECT * FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t
        |ORDER BY c_custkey""".stripMargin,
    "q14_union" ->
      """SELECT * FROM (
        |  SELECT r_name AS name FROM region
        |  UNION
        |  SELECT n_name AS name FROM nation) t
        |ORDER BY name""".stripMargin,
    "q15_rollup" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q16_json_extract" ->
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q17_hourly_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        | event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q18_case_decode" ->
      """SELECT event_id,
        | CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |   WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 WHEN 'error' THEN 5
        | END AS type_code,
        | CASE WHEN value >= 100.0 THEN 'high' ELSE 'normal' END AS severity
        |FROM events ORDER BY event_id""".stripMargin,
    "q19_format_key" ->
      """SELECT p_partkey,
        | printf('%03d | %s | %02d', p_partkey % 1000, p_name, p_size % 100) AS part_tag
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q20_duration" ->
      """SELECT event_id,
        | printf('%02d:%02d:%02d',
        |   CAST(FLOOR(CAST(FLOOR(value * 1000) AS BIGINT) / 3600000.0) AS BIGINT) % 24,
        |   CAST(FLOOR(CAST(FLOOR(value * 1000) AS BIGINT) / 60000.0) AS BIGINT) % 60,
        |   CAST(FLOOR(CAST(FLOOR(value * 1000) AS BIGINT) / 1000.0) AS BIGINT) % 60) AS duration
        |FROM events ORDER BY event_id""".stripMargin,
    "q21_parse_date" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 3
        |      WHEN 0 THEN strftime(o_orderdate, '%Y')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y-%m')
        |      ELSE strftime(o_orderdate, '%Y-%m-%d') END AS datestr
        |  FROM orders)
        |SELECT o_orderkey, datestr,
        |  CASE LENGTH(datestr)
        |    WHEN 4 THEN CAST(datestr || '-01-01' AS DATE)
        |    WHEN 7 THEN CAST(datestr || '-01' AS DATE)
        |    ELSE CAST(datestr AS DATE) END AS parsed
        |FROM t ORDER BY o_orderkey""".stripMargin,
    "q22_ascii_fold" ->
      ("SELECT n_nationkey, n_name, " +
        "strip_accents(translate(lower(n_name), 'aeio', 'áéíö')) AS folded " +
        "FROM nation ORDER BY n_nationkey"),
    "q23_fuzzy_topk" -> q23Oracle)

  /** q23's DuckDB oracle: the InDel LCS DP unrolled into nested
    * `list_reduce` folds (the HashOracleSql precedent for variable-
    * length folds). The outer fold walks the candidate's chars with
    * the DP row (a list) as accumulator; the inner fold rebuilds the
    * row left-to-right, which expresses the new-row prefix dependency
    * `r_new[j-1]` that `list_transform` cannot. Accumulator and
    * element types must MATCH in DuckDB's list_reduce, so chars and
    * column indices ride as single-element int lists. The ratio
    * mirrors the kernel's exact double recipe — same ops, same order,
    * banker's rounding (`round_even` = `math.rint`) — so scores are
    * bit-identical and the top-1 tiebreak agrees.
    */
  // lazy: referenced from the `oracles` map literal above, which
  // initializes first in declaration order
  private lazy val q23Oracle: String = {
    val lcs = """list_reduce(
      |  list_prepend(list_transform(range(0, length(s) + 1), x -> 0),
      |    list_transform(range(1, length(l) + 1),
      |      i -> list_value(ord(substring(l, i, 1)), 0))),
      |  (row, cl) -> list_reduce(
      |      list_prepend(list_value(0),
      |        list_transform(range(1, length(s) + 1),
      |          j -> list_value(CAST(j AS INT)))),
      |      (nr, jx) -> list_append(nr,
      |        CASE WHEN ord(substring(s, jx[1], 1)) = cl[1]
      |             THEN row[jx[1]] + 1
      |             ELSE greatest(row[jx[1] + 1], nr[jx[1]]) END))
      |)[length(s) + 1]""".stripMargin
    s"""WITH cand AS (SELECT lower(n_name) AS candidate FROM nation),
       |kw AS (SELECT DISTINCT regexp_replace(lower(n_name), '[aeiou]', '', 'g')
       |         AS keyword FROM nation),
       |pairs AS (
       |  SELECT keyword, candidate, keyword AS s, candidate AS l
       |  FROM kw CROSS JOIN cand),
       |scored AS (
       |  SELECT keyword, candidate,
       |    CASE WHEN length(s) + length(l) = 0 THEN 100.0
       |         ELSE round_even(100.0 * (1.0 -
       |            CAST(length(s) + length(l) - 2 * ($lcs) AS DOUBLE)
       |            / CAST(length(s) + length(l) AS DOUBLE)) * 10000.0, 0)
       |           / 10000.0
       |    END AS score
       |  FROM pairs),
       |ranked AS (
       |  SELECT keyword, candidate AS matched, score,
       |    row_number() OVER (PARTITION BY keyword
       |                       ORDER BY score DESC, candidate) AS rn
       |  FROM scored)
       |SELECT keyword, matched, score FROM ranked
       |WHERE rn = 1 AND score >= 70.0
       |ORDER BY keyword""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01_pricing_summary,
    "q02_select_in" -> q02_select_in,
    "q03_select_eq" -> q03_select_eq,
    "q04_theta_join" -> q04_theta_join,
    "q05_join_in_sort" -> q05_join_in_sort,
    "q06_global_avg" -> q06_global_avg,
    "q07_topk" -> q07_topk,
    "q08_dedup_first" -> q08_dedup_first,
    "q09_argmax" -> q09_argmax,
    "q10_window_running" -> q10_window_running,
    "q11_semi_join" -> q11_semi_join,
    "q12_anti_join" -> q12_anti_join,
    "q13_except" -> q13_except,
    "q14_union" -> q14_union,
    "q15_rollup" -> q15_rollup,
    "q16_json_extract" -> q16_json_extract,
    "q17_hourly_window" -> q17_hourly_window,
    "q18_case_decode" -> q18_case_decode,
    "q19_format_key" -> q19_format_key,
    "q20_duration" -> q20_duration,
    "q21_parse_date" -> q21_parse_date,
    "q22_ascii_fold" -> q22_ascii_fold,
    "q23_fuzzy_topk" -> q23_fuzzy_topk,
    "q94_grouping_sets" -> q94_grouping_sets)
}
