package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scope, Tables}

/** Additional operator coverage rounding out SURVEY §2: human-readable
  * size formatting (F13), regex predicates (P6), distinct aggregation,
  * CUBE grouping sets, URI-style concat (F11), HAVING filters.
  */
object Extras {
  import Relational.Q

  /** Bytes → human-readable size ladder (reference F13
    * get_readable_size, util/logger.py:11-20). Decimal-typed rounding
    * so the string render is engine-exact.
    *
    * DOCUMENTED DIVERGENCE from the reference: util/logger.py:13-19
    * divides by 1000 at each rung while labeling the result KiB/MiB/
    * GiB (binary-unit names on decimal arithmetic). This
    * implementation uses 1024 divisors to match the binary labels —
    * a deliberate correction, not an oversight; a bug-compatible
    * variant would only need the three divisor constants changed.
    */
  val q37_readable_size: Q = (spark, dir) => {
    import spark.implicits._
    val b = floor($"l_extendedprice" * 1024).cast(LongType)
    def fmt(scaled: org.apache.spark.sql.Column, unit: String) =
      concat(round(scaled, 2).cast(DecimalType(18, 2)).cast(StringType), lit(unit))
    Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", b.as("bytes"))
      .withColumn("readable",
        when($"bytes" < 1024L, concat($"bytes".cast(StringType), lit(" B")))
          .when($"bytes" < 1024L * 1024, fmt($"bytes" / 1024.0, " KiB"))
          .when($"bytes" < 1024L * 1024 * 1024, fmt($"bytes" / (1024.0 * 1024), " MiB"))
          .otherwise(fmt($"bytes" / (1024.0 * 1024 * 1024), " GiB")))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Regex predicate (reference P6: relname !~ '^(pg_|sql_)',
    * postgres_media.py:76) — negated rlike pushed into the scan filter.
    */
  val q38_regex_filter: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .where(!$"p_name".rlike("^(small|large)") && $"p_name".rlike("(bolt|widget)$"))
      .select($"p_partkey", $"p_name")
      .orderBy($"p_partkey")
  }

  /** Exact distinct-count per group (A-family extension; map-side
    * partial distinct before the shuffle).
    */
  val q39_distinct_count: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** CUBE grouping sets over two dimensions. */
  val q40_cube: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** URI-style composite identifier (reference F11 spotify URI concat,
    * spotify_client.py:483,502).
    */
  val q42_uri_concat: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id",
        concat_ws(":", lit("evt"), $"event_type", $"event_id").as("uri"))
      .orderBy($"event_id")
  }

  /** AS-OF JOIN via the custom Catalyst operator (graft.plans.AsOfJoin):
    * every purchase event joined to that user's most recent click at or
    * before it. Oracle: DuckDB's native ASOF LEFT JOIN — an independent
    * implementation of the same semantics.
    */
  val q41_asof_join: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("p_event"), $"user_id", $"ts".as("p_ts"))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id".as("c_event"), $"user_id".as("c_user"), $"ts".as("c_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user", "p_ts", "c_ts")
      .select($"p_event", $"user_id", $"c_event")
      .orderBy($"p_event")
  }

  /** q153: temporal dimension join — every order joined to the SCD2
    * customer version VALID AT ITS ORDER DATE (`FOR SYSTEM_TIME AS
    * OF` over a slowly-changing dimension, the late-arriving-fact
    * shape every warehouse needs). Because SCD2 validity intervals
    * tile time per key, "the version containing the date" IS the
    * backward as-of match on valid_from — so the range predicate
    * runs on the custom [[graft.plans.AsOfJoin]] operator: one
    * exchange+sort per side and a streaming merge, never the
    * key-equality join + interval filter that fans out every fact
    * row to ALL versions of its key before filtering. Dates ride as
    * epoch-day longs. Oracle: DuckDB's native ASOF JOIN against the
    * UNION ALL-built version table — an independent implementation.
    *
    * The base version's `valid_from` is DERIVED as min(o_orderdate) —
    * a planning-time scalar (one min over a pruned single-column
    * scan, same device as the S4/A4 total probe), NOT a hard-coded
    * epoch — so every fact is covered by construction under any data
    * vintage: no fact can predate the base version, hence no
    * null-extended rows from the as-of LEFT join. The oracle derives
    * the identical scalar with a CTE, keeping cross-engine parity
    * vintage-independent. t1 (the one mid-history version bump) stays
    * a constant; facts before it simply match the base version.
    */
  val q153_temporal_join: Q = (spark, dir) => {
    import spark.implicits._
    val t0 = Tables.load(spark, dir, "orders")
      .agg(min(to_date($"o_orderdate")).as("m"))
      .first().getDate(0).toString
    val t1 = "1998-01-01"
    def ver(from: String, bal: org.apache.spark.sql.Column) =
      struct(lit(from).as("valid_from"), bal.as("bal"))
    val dim = Tables.load(spark, dir, "customer")
      .select($"c_custkey", explode(
        when($"c_custkey" % 7 === 3,
          array(ver(t0, $"c_acctbal"), ver(t1, $"c_acctbal" + 100.0)))
          .otherwise(array(ver(t0, $"c_acctbal")))).as("v"))
      .select($"c_custkey".as("d_key"),
        unix_date(to_date($"v.valid_from")).cast("long").as("vf_day"),
        $"v.valid_from".as("valid_from"), $"v.bal".as("bal"))
    val facts = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        unix_date(to_date($"o_orderdate")).cast("long").as("o_day"))
    graft.plans.AsOf.join(facts, dim, "o_custkey", "d_key", "o_day", "vf_day")
      .select($"o_orderkey", $"o_custkey", $"valid_from", $"bal")
      .orderBy($"o_orderkey")
  }

  /** AS-OF join with tolerance: the attribution window. A purchase
    * joins its user's most recent click only if that click is within
    * 10 minutes; older clicks null-extend (pandas merge_asof
    * `tolerance` semantics). Oracle: DuckDB ASOF LEFT JOIN with the
    * out-of-window match nulled by CASE — independently derived.
    */
  val q68_asof_tolerance: Q = (spark, dir) => {
    import spark.implicits._
    val tolNs = 600L * 1000000000L // 10 min in nanos (ts is epoch-nanos)
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("p_event"), $"user_id", $"ts".as("p_ts"))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id".as("c_event"), $"user_id".as("c_user"), $"ts".as("c_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user",
        "p_ts", "c_ts", tolNs)
      .select($"p_event", $"user_id", $"c_event")
      .orderBy($"p_event")
  }

  /** FORWARD as-of join: each click joined to that user's NEXT
    * purchase at-or-after it (conversion attribution). Runs the same
    * streaming-merge exec over negated times. Oracle: DuckDB ASOF
    * with the inequality reversed.
    */
  val q69_asof_forward: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id".as("c_event"), $"user_id", $"ts".as("c_ts"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("p_event"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    graft.plans.AsOf.joinForward(clicks, purchases, "user_id", "p_user",
        "c_ts", "p_ts")
      .select($"c_event", $"user_id", $"p_event")
      .orderBy($"c_event")
  }

  /** NEAREST as-of join: each purchase joined to that user's closest
    * click in EITHER direction (ties backward). Oracle: DuckDB chained
    * backward + forward ASOF joins with a pick-the-closer CASE —
    * independently derived from our single-merge implementation.
    */
  val q72_asof_nearest: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("p_event"), $"user_id", $"ts".as("p_ts"))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id".as("c_event"), $"user_id".as("c_user"), $"ts".as("c_ts"))
    graft.plans.AsOf.joinNearest(purchases, clicks, "user_id", "c_user",
        "p_ts", "c_ts")
      .select($"p_event", $"user_id", $"c_event")
      .orderBy($"p_event")
  }

  /** Distribution-ranking windows (§2.7 extension): quartile bucket,
    * percent_rank, cume_dist per order-priority partition. The
    * ordering key (o_totalprice, o_orderkey) is a total order, so
    * ntile's bucket boundaries and the rank fractions are
    * deterministic; percent_rank/cume_dist are exact integer ratios
    * computed in double — engine-exact.
    */
  val q43_rank_windows: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy($"o_orderkey")
  }

  /** Post-aggregation filter (HAVING). */
  val q44_having: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("spend"))
      .where($"n_orders" >= 3)
      .orderBy($"o_custkey")
  }

  /** Paginated-API scan via the DataSourceV2 connector (reference
    * S4/S5: offset-paged pulls with a planning-time total probe), then
    * a grouped aggregate. The oracle regenerates the same deterministic
    * payload with DuckDB's range() — an independent re-derivation of
    * the source contract.
    */
  val q45_paged_source: Q = (spark, dir) => {
    import spark.implicits._
    spark.read.format("graft.sources.PagedSourceProvider")
      .option("total", 5000).option("pageSize", 50).load()
      .groupBy($"category")
      .agg(count(lit(1)).as("n"), sum($"popularity").as("sum_pop"))
      .orderBy($"category")
  }

  /** Batched point-lookup enrichment (reference S6: <= 50 ids per API
    * call) joined back to the documents table.
    */
  val q46_batched_lookup: Q = (spark, dir) => {
    import spark.implicits._
    val feats = graft.sources.BatchedLookup.features(
      Tables.load(spark, dir, "documents"), "doc_id")
    Tables.load(spark, dir, "documents").select($"doc_id", $"lang")
      .join(feats, $"doc_id" === $"id")
      .select($"doc_id", $"lang", $"feature")
      .orderBy($"doc_id")
  }

  /** Gap-based sessionization as a pure window-function batch plan (the
    * oracle-checkable twin of streaming/EventsStream.sessionize): a new
    * session starts after > 30 min of inactivity; sessions are numbered
    * by a running sum of session-start flags.
    */
  /** Shared session builder: one window pass per user (shuffles on
    * user_id once), gap > 30 min starts a new session.
    */
  private def sessionFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select($"user_id", expr("ts DIV 1000").as("us"), $"event_id")
      .withColumn("new_session",
        when(lag($"us", 1).over(w).isNull ||
          $"us" - lag($"us", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum($"new_session").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"session_id", $"start_us", $"end_us", $"n_events")
  }

  val q48_sessionize: Q = (spark, dir) => {
    import spark.implicits._
    sessionFrame(spark, dir).orderBy($"user_id", $"session_id")
  }

  /** q158: event throttling / alert dedup — per (user, event type),
    * suppress every event within 1 h of the previously KEPT event,
    * chained (a burst of events 20 min apart keeps only its first,
    * however long the burst runs — the paging/alerting semantics
    * "notify once per incident"). The chain makes this inexpressible
    * as a plain lag() comparison against the previous EVENT; but a
    * chain of <= 1 h gaps is exactly a q48 session: gap-split burst
    * ids via the summed-boundary window device, then keep each
    * burst's first event. Reported per burst: the kept event and how
    * many it suppressed.
    *
    * Scale shape: one hash exchange on (user_id, event_type), two
    * window passes over the same sort, one aggregate — identical
    * economics to q48. The streaming twin is
    * `EventsStream.sessionize` with emit-on-open semantics.
    */
  val q158_throttle: Q = (spark, dir) => {
    import spark.implicits._
    val gapUs = 3600L * 1000000L
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"us", $"event_id")
    Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", expr("ts DIV 1000").as("us"),
        $"event_id")
      .withColumn("nb",
        when(lag($"us", 1).over(w).isNull ||
          $"us" - lag($"us", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("burst_id", sum($"nb")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"event_type", $"burst_id")
      .agg(min(struct($"us", $"event_id")).as("f"),
        (count(lit(1)) - 1).as("n_suppressed"))
      .select($"user_id", $"event_type", $"burst_id".cast("long").as("burst_id"),
        $"f.event_id".as("kept_event"), $"f.us".as("kept_us"),
        $"n_suppressed")
      .orderBy($"user_id", $"event_type", $"burst_id")
  }

  /** Interval-overlap join via time-bucket binning + in-bucket
    * chunking: co-active session pairs across users. Spark has no
    * native interval join — a naive `a.start <= b.end AND b.start <=
    * a.end` theta join plans as a nested-loop over the cross product.
    * Binning makes it an EQUI-join: each interval emits one row per
    * hour bucket it covers, the join keys on the bucket, and the exact
    * overlap predicate refines. Each overlapping pair is emitted
    * exactly once — at the later-starting side's first bucket, which
    * the earlier side necessarily covers.
    *
    * Keying on the bucket ALONE has a skew ceiling: one globally busy
    * hour is one shuffle key group, and neither AQE skew-split nor
    * salting can divide a self-join key group that must pair rows of
    * the same key. So a busy bucket's sessions are further segmented
    * into chunks and the join keys on the chunk PAIR `(bucket, ca,
    * cb)` with ca <= cb: the a-side emits its (chunk..C-1) pair keys,
    * the b-side its (0..chunk) pair keys, so every unordered session
    * pair meets exactly once for ca < cb (orientation fixed by the
    * chunks) and twice for ca == cb (deduped by `user_a < user_b`,
    * which also drops self-pairs). The chunk count is ADAPTIVE per
    * bucket — C = ceil(events_in_bucket / chunkRows) — so a cold
    * bucket keeps C = 1 (zero replication, the common case) while a
    * hot one becomes C(C+1)/2 independent key groups: per-task refine
    * work is bounded by chunkRows² REGARDLESS of how busy the hour is,
    * total candidate work is unchanged, and the replication factor
    * (C+1 ≈ n/chunkRows) is paid only where the quadratic pair work it
    * divides actually exists (emission ≈ pairs/chunkRows — sublinear
    * in the output). The sizing count deliberately comes from the RAW
    * event stream, not the sessionized one: within-session gaps are
    * ≤ 30 min < the 60-min bucket width, so every bucket a session
    * covers contains at least one of its events, making events-per-
    * bucket a true upper bound on sessions-per-bucket — and the count
    * is then a map-side-combinable scan aggregate (no third
    * sessionize pass, no window). Because the chunk orientation (not
    * the user ordering) decides which side a session lands on for
    * ca < cb, output columns are canonicalized to user-ascending
    * afterwards. The result set is independent of the chunking, so
    * chunkRows is a pure performance knob.
    *
    * Per-bucket work is O(concurrent-sessions²), the problem's
    * inherent output complexity; buckets × chunk-pairs parallelize
    * across executors. Two granularity knobs: bucket width trades
    * emission (long intervals × many buckets) against per-bucket
    * refine; chunkRows trades replication against per-task work.
    */
  /** The keyed sides of the chunked interval self-join — exposed so
    * ScaleSpec can prove the per-key-group bound on a synthetic hot
    * hour with a small chunkRows. See [[q67_interval_join]]. Both
    * sides read one segment table persisted in `sc`.
    */
  private[graft] def intervalJoinSides(sc: Scope, spark: SparkSession, dir: String,
      bucketUs: Long, chunkRows: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val binned = sessionFrame(spark, dir)
      .select($"user_id", $"session_id", $"start_us", $"end_us",
        explode(sequence(expr(s"start_us DIV $bucketUs"),
          expr(s"end_us DIV $bucketUs"))).as("bucket"))
    // per-bucket sizing from the raw event stream (sessions-per-bucket
    // <= events-per-bucket, see scaladoc): map-side-combined count to
    // one tiny row per bucket, broadcast back. Left join + coalesce is
    // belt-and-braces for the (impossible) covered-bucket-without-
    // events case — dropping rows would be silent wrongness.
    val chunkCounts = Tables.load(spark, dir, "events")
      .select(expr(s"(ts DIV 1000) DIV $bucketUs").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      .select($"bucket",
        expr(s"(n + ${chunkRows - 1}) DIV $chunkRows").cast("int").as("nc"))
    // persisted: both join sides derive from seg, and without a cache
    // the whole sessionFrame (window + agg) executes twice in the one
    // DAG (the q104 lesson; CacheManager keys on the canonicalized
    // plan, so repeat invocations share the entry)
    val seg = sc.persist(binned.join(broadcast(chunkCounts), Seq("bucket"), "left")
      .withColumn("nc", coalesce($"nc", lit(1)))
      .withColumn("chunk", pmod(hash($"user_id", $"session_id"), $"nc")))
    val a = seg
      .select($"user_id".as("user_a"), $"session_id".as("session_a"),
        $"start_us".as("start_a"), $"end_us".as("end_a"), $"bucket",
        $"chunk".as("ca"), explode(sequence($"chunk", $"nc" - 1)).as("cb"))
    val b = seg
      .select($"user_id".as("user_b"), $"session_id".as("session_b"),
        $"start_us".as("start_b"), $"end_us".as("end_b"), $"bucket",
        explode(sequence(lit(0), $"chunk")).as("ca"), $"chunk".as("cb"))
    (a, b)
  }

  /** Joins [[intervalJoinSides]] on the compound key, refines with the
    * exact overlap predicate, dedups to one emission per pair, and
    * canonicalizes output columns to user-ascending. Sealed in `sc`
    * (the plain plan under [[Scope.Lazy]]).
    */
  private[graft] def intervalJoinOn(spark: SparkSession, dir: String,
      bucketUs: Long, chunkRows: Long, sc: Scope): DataFrame = {
    import spark.implicits._
    val (a, b) = intervalJoinSides(sc, spark, dir, bucketUs, chunkRows)
    val out = a.join(b, Seq("bucket", "ca", "cb"))
      .where(($"ca" < $"cb" || $"user_a" < $"user_b") &&
        $"user_a" =!= $"user_b" &&
        $"start_a" <= $"end_b" && $"start_b" <= $"end_a" &&
        $"bucket" === greatest(expr(s"start_a DIV $bucketUs"),
          expr(s"start_b DIV $bucketUs")))
      .select(
        when($"user_a" < $"user_b",
          struct($"user_a".as("u1"), $"session_a".as("s1"),
            $"user_b".as("u2"), $"session_b".as("s2")))
          .otherwise(
            struct($"user_b".as("u1"), $"session_b".as("s1"),
              $"user_a".as("u2"), $"session_a".as("s2"))).as("p"),
        (least($"end_a", $"end_b") - greatest($"start_a", $"start_b"))
          .as("overlap_us"))
      .select($"p.u1".as("user_a"), $"p.s1".as("session_a"),
        $"p.u2".as("user_b"), $"p.s2".as("session_b"), $"overlap_us")
      .orderBy($"user_a", $"session_a", $"user_b", $"session_b")
    sc.seal(out)
  }

  val q67_interval_join: Q = (spark, dir) =>
    // per-task refine bound = 1024² comparisons
    Scope(intervalJoinOn(spark, dir, bucketUs = 3600L * 1000000L, chunkRows = 1024L, _))

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` implement the same linear-interpolation
    * definition; exactness verified by hash match).
    */
  val q49_percentiles: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(percentile($"o_totalprice", lit(0.5)).as("p50"),
        percentile($"o_totalprice", lit(0.9)).as("p90"))
      .orderBy($"o_orderstatus")
  }

  /** Equi-width histogram: bucketed counts + per-bucket min/max (pure
    * integer bucketing over an exact double division — engine-exact).
    */
  val q50_histogram: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy(floor($"o_totalprice" / 50000.0).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
      .orderBy($"bucket")
  }

  /** Array-column statistics over the embeddings table: dimension
    * count, element min/max (float-exact), sequential double sum.
    */
  val q51_vector_stats: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id",
        size($"embedding").as("dims"),
        array_min($"embedding").as("lo"),
        array_max($"embedding").as("hi"),
        aggregate($"embedding", lit(0.0),
          (acc, x) => acc + x.cast("double")).as("sum"))
      .orderBy($"vec_id")
  }

  /** Top-k per group via the custom TypedImperativeAggregate
    * (graft.functions.TopKByAgg): only k pairs per group per partition
    * cross the shuffle, vs a window that moves every row. Oracle: the
    * window formulation in DuckDB — same rows, independently derived.
    */
  val q53_topk_agg: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .groupBy($"c_nationkey")
      .agg(graft.functions.TopKByAgg.top_k_by($"c_acctbal", $"c_custkey", 3).as("top"))
      .select($"c_nationkey", posexplode($"top").as(Seq("pos", "t")))
      .select($"c_nationkey", ($"pos" + 1).cast(IntegerType).as("rank"),
        $"t.payload".as("c_custkey"), $"t.value".as("c_acctbal"))
      .orderBy($"c_nationkey", $"rank")
  }

  /** Sketch aggregates — the 100 TB substitute for q39/q49's exact
    * forms: HyperLogLog++ distinct counts and quantile-summary
    * percentiles hold constant memory per group where exact distinct
    * is O(cardinality) state and exact percentile is a full sort.
    * Approximate -> rows-only check; relative error vs the exact
    * answers is pinned in QuerySuiteSpec.
    */
  val q61_sketch_stats: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        approx_count_distinct($"o_custkey").as("approx_customers"),
        approx_percentile($"o_totalprice", lit(0.5), lit(1000)).as("approx_p50"))
      .orderBy($"o_orderpriority")
  }

  /** Deterministic hash sampling (stable train/eval splits): a row is
    * sampled iff a multiplicative hash of its key lands under the
    * rate threshold — reproducible across runs, engines, and
    * partitionings, unlike `TABLESAMPLE`/`rand()`. The key is reduced
    * mod p=1e9+7 BEFORE the multiply, so the product stays under 2^62
    * for ANY key value (no ANSI-mode overflow at scale, no wrap
    * divergence between Java longs and DuckDB's hugeint promotion).
    * Emits per-group sampled counts + the achieved rate.
    */
  val q62_hash_sample: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .where((($"o_orderkey" % 1000000007L) * 2654435761L) % 100 < 5)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("sample_spend"))
      .orderBy($"o_orderpriority")
  }

  /** Per-group uniform sample WITHOUT replacement via bottom-k hashing
    * (the classic distributed-sampling sketch): keep the k rows whose
    * key-hash is smallest in each group. Unlike reservoir sampling the
    * choice is a pure function of the key, so the sample is identical
    * across runs, engines, and partitionings — and composable (the
    * bottom-k of a union is the bottom-k of the per-part bottom-ks).
    * Rides the `top_k_by` heap aggregate on the negated hash, so only
    * k ids per group per partition cross the wire; the hash is
    * injective over the key domain (prime modulus > max key), so the
    * DuckDB row_number oracle has no tie ambiguity.
    */
  val q63_bottomk_sample: Q = (spark, dir) => {
    import spark.implicits._
    val hash = (($"o_orderkey" % 1000000007L) * 2654435761L) % 1000000007L
    Tables.load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(graft.functions.TopKByAgg
        .top_k_by(-hash.cast("double"), $"o_orderkey", 3).as("picks"))
      .select($"o_orderpriority", posexplode($"picks").as(Seq("pos", "t")))
      .select($"o_orderpriority", ($"pos" + 1).cast(IntegerType).as("rank"),
        $"t.payload".as("o_orderkey"))
      .orderBy($"o_orderpriority", $"rank")
  }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * Spark's hll_sketch_agg/hll_union_agg): per (event_type, day)
    * partial sketches union LOSSLESSLY into per-type totals — the
    * incremental-pipeline pattern where each day is sketched once and
    * monthly/any-window rollups merge sketches instead of rescanning
    * raw data. Union is exact at the sketch level, so the merged
    * estimate EQUALS the direct one (pinned in QuerySuiteSpec); the
    * estimate itself is approximate -> rows-only check.
    */
  val q70_sketch_merge: Q = (spark, dir) => {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .select($"event_type", expr("ts DIV 86400000000000").as("day"), $"user_id")
      .groupBy($"event_type", $"day")
      .agg(hll_sketch_agg($"user_id").as("sk"))
    daily.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"),
        count(lit(1)).as("n_days"))
      .orderBy($"event_type")
  }

  /** EXACT-fraction stratified sampling: exactly ceil(2% of n_g) rows
    * from every stratum g, chosen by deterministic hash order — the
    * guarantee q62's rate filter cannot give (its per-stratum counts
    * are only rate in expectation). Costs a per-stratum rank, i.e. one
    * shuffle of (key, id) pairs — the price of exactness; use q62/q63
    * when approximate-per-stratum or fixed-k suffices.
    */
  val q73_stratified_sample: Q = (spark, dir) => {
    import spark.implicits._
    val hash = (($"o_orderkey" % 1000000007L) * 2654435761L) % 1000000007L
    val byHash = Window.partitionBy($"o_orderpriority").orderBy(hash, $"o_orderkey")
    val all = Window.partitionBy($"o_orderpriority")
    Tables.load(spark, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey")
      .withColumn("rn", row_number().over(byHash))
      .withColumn("n_g", count(lit(1)).over(all))
      // ceil(n*2%) in INTEGER arithmetic: double 0.02 vs DuckDB's
      // decimal literal would diverge on exact multiples
      .where($"rn" <= expr("(n_g * 2 + 99) DIV 100"))
      .select($"o_orderpriority", $"o_orderkey", $"rn".cast(IntegerType).as("rn"))
      .orderBy($"o_orderpriority", $"rn")
  }

  /** PIVOT: event counts per user bucket spread across event-type
    * columns (explicit value list — deterministic output schema; never
    * let pivot infer values with a distinct scan at 100 TB).
    */
  val q56_pivot: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .withColumn("user_bucket", pmod($"user_id", lit(10L)))
      .groupBy($"user_bucket")
      .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_bucket")
  }

  /** UNPIVOT/melt: wide numeric columns to (attribute, value) rows. */
  val q57_unpivot: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .select($"p_partkey", $"p_size".cast("double").as("size"),
        $"p_retailprice".as("retailprice"))
      .unpivot(Array($"p_partkey"), Array($"size", $"retailprice"),
        "attribute", "value")
      .orderBy($"p_partkey", $"attribute")
  }

  val oracles: Map[String, String] = Map(
    "q56_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        | COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        | COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        | COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        | COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin,
    "q57_unpivot" ->
      """SELECT p_partkey, attribute, value FROM (
        |  SELECT p_partkey, 'size' AS attribute, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice' AS attribute, p_retailprice AS value FROM part) t
        |ORDER BY p_partkey, attribute""".stripMargin,
    "q53_topk_agg" ->
      """SELECT c_nationkey, CAST(rn AS INTEGER) AS rank, c_custkey, c_acctbal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                           ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rank""".stripMargin,
    "q50_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        | COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q51_vector_stats" ->
      """SELECT vec_id,
        | CAST(len(embedding) AS INTEGER) AS dims,
        | list_min(embedding) AS lo,
        | list_max(embedding) AS hi,
        | list_sum(CAST(embedding AS DOUBLE[])) AS sum
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q49_percentiles" ->
      """SELECT o_orderstatus,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q158_throttle" ->
      """WITH t AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |         THEN 1 ELSE 0 END AS nb
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |               ORDER BY epoch_us(ts), event_id)),
        |b AS (
        |  SELECT user_id, event_type, us, event_id,
        |    SUM(nb) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst_id
        |  FROM t)
        |SELECT user_id, event_type, CAST(burst_id AS BIGINT) AS burst_id,
        |  CAST(MIN([us, event_id])[2] AS BIGINT) AS kept_event,
        |  CAST(MIN([us, event_id])[1] AS BIGINT) AS kept_us,
        |  COUNT(*) - 1 AS n_suppressed
        |FROM b GROUP BY user_id, event_type, burst_id
        |ORDER BY user_id, event_type, burst_id""".stripMargin,
    "q48_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (
        |  SELECT user_id, us, event_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM t)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(us) AS start_us, MAX(us) AS end_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q67_interval_join" ->
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM t),
        |sess AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |    MIN(us) AS start_us, MAX(us) AS end_us
        |  FROM s GROUP BY user_id, session_id)
        |SELECT a.user_id AS user_a, a.session_id AS session_a,
        |  b.user_id AS user_b, b.session_id AS session_b,
        |  least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us) AS overlap_us
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id
        | AND a.start_us <= b.end_us AND b.start_us <= a.end_us
        |ORDER BY user_a, session_a, user_b, session_b""".stripMargin,
    "q45_paged_source" ->
      """SELECT category, COUNT(*) AS n, CAST(SUM(popularity) AS BIGINT) AS sum_pop
        |FROM (SELECT ['rock','pop','jazz','folk','ska'][(i % 5) + 1] AS category,
        |             (i * 37) % 101 AS popularity
        |      FROM range(0, 5000) t(i))
        |GROUP BY category ORDER BY category""".stripMargin,
    "q46_batched_lookup" ->
      """SELECT doc_id, lang, (doc_id * 2654435761 % 1000) / 10.0 AS feature
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q37_readable_size" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST(FLOOR(l_extendedprice * 1024) AS BIGINT) AS bytes FROM lineitem)
        |SELECT l_orderkey, l_linenumber, bytes,
        |  CASE
        |    WHEN bytes < 1024 THEN bytes || ' B'
        |    WHEN bytes < 1048576 THEN
        |      CAST(CAST(ROUND(bytes / 1024.0, 2) AS DECIMAL(18,2)) AS VARCHAR) || ' KiB'
        |    WHEN bytes < 1073741824 THEN
        |      CAST(CAST(ROUND(bytes / 1048576.0, 2) AS DECIMAL(18,2)) AS VARCHAR) || ' MiB'
        |    ELSE
        |      CAST(CAST(ROUND(bytes / 1073741824.0, 2) AS DECIMAL(18,2)) AS VARCHAR) || ' GiB'
        |  END AS readable
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q38_regex_filter" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT regexp_matches(p_name, '^(small|large)')
        |  AND regexp_matches(p_name, '(bolt|widget)$')
        |ORDER BY p_partkey""".stripMargin,
    "q39_distinct_count" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q40_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q41_asof_join" ->
      """SELECT p.event_id AS p_event, p.user_id, c.event_id AS c_event
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_event""".stripMargin,
    "q153_temporal_join" ->
      """WITH t0 AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS m FROM orders),
        |dim AS (
        |  SELECT c_custkey AS d_key, STRFTIME(t0.m, '%Y-%m-%d') AS valid_from,
        |    t0.m AS vf, c_acctbal AS bal
        |  FROM customer, t0
        |  UNION ALL
        |  SELECT c_custkey, '1998-01-01', DATE '1998-01-01', c_acctbal + 100.0
        |  FROM customer WHERE c_custkey % 7 = 3)
        |SELECT o.o_orderkey, o.o_custkey, d.valid_from, d.bal
        |FROM orders o
        |ASOF LEFT JOIN dim d
        |  ON o.o_custkey = d.d_key AND CAST(o.o_orderdate AS DATE) >= d.vf
        |ORDER BY o.o_orderkey""".stripMargin,
    "q42_uri_concat" ->
      """SELECT event_id, concat_ws(':', 'evt', event_type, event_id) AS uri
        |FROM events ORDER BY event_id""".stripMargin,
    "q72_asof_nearest" ->
      """SELECT p.event_id AS p_event, p.user_id,
        |  CASE WHEN f.event_id IS NULL THEN b.event_id
        |       WHEN b.event_id IS NULL THEN f.event_id
        |       WHEN epoch_ns(p.ts) - epoch_ns(b.ts) <= epoch_ns(f.ts) - epoch_ns(p.ts)
        |            THEN b.event_id
        |       ELSE f.event_id END AS c_event
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') f
        |  ON p.user_id = f.user_id AND p.ts <= f.ts
        |ORDER BY p_event""".stripMargin,
    "q69_asof_forward" ->
      """SELECT c.event_id AS c_event, c.user_id, p.event_id AS p_event
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c_event""".stripMargin,
    "q68_asof_tolerance" ->
      """SELECT p.event_id AS p_event, p.user_id,
        |  CASE WHEN epoch_ns(p.ts) - epoch_ns(c.ts) <= 600000000000
        |       THEN c.event_id END AS c_event
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_event""".stripMargin,
    "q62_hash_sample" ->
      """SELECT o_orderpriority, COUNT(*) AS n_sampled,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sample_spend
        |FROM orders
        |WHERE ((o_orderkey % 1000000007) * 2654435761) % 100 < 5
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q63_bottomk_sample" ->
      """SELECT o_orderpriority, CAST(rn AS INTEGER) AS rank, o_orderkey
        |FROM (SELECT o_orderpriority, o_orderkey,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |          ORDER BY ((o_orderkey % 1000000007) * 2654435761) % 1000000007, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q73_stratified_sample" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY ((o_orderkey % 1000000007) * 2654435761) % 1000000007, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n_g
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= (n_g * 2 + 99) // 100
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q43_rank_windows" ->
      """SELECT o_orderkey, o_orderpriority,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q44_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
        |ORDER BY o_custkey""".stripMargin)

  val queries: Map[String, Q] = Map(
    "q37_readable_size" -> q37_readable_size,
    "q38_regex_filter" -> q38_regex_filter,
    "q39_distinct_count" -> q39_distinct_count,
    "q40_cube" -> q40_cube,
    "q41_asof_join" -> q41_asof_join,
    "q153_temporal_join" -> q153_temporal_join,
    "q42_uri_concat" -> q42_uri_concat,
    "q43_rank_windows" -> q43_rank_windows,
    "q45_paged_source" -> q45_paged_source,
    "q46_batched_lookup" -> q46_batched_lookup,
    "q48_sessionize" -> q48_sessionize,
    "q158_throttle" -> q158_throttle,
    "q49_percentiles" -> q49_percentiles,
    "q50_histogram" -> q50_histogram,
    "q51_vector_stats" -> q51_vector_stats,
    "q53_topk_agg" -> q53_topk_agg,
    "q56_pivot" -> q56_pivot,
    "q57_unpivot" -> q57_unpivot,
    "q61_sketch_stats" -> q61_sketch_stats,
    "q62_hash_sample" -> q62_hash_sample,
    "q70_sketch_merge" -> q70_sketch_merge,
    "q63_bottomk_sample" -> q63_bottomk_sample,
    "q73_stratified_sample" -> q73_stratified_sample,
    "q67_interval_join" -> q67_interval_join,
    "q68_asof_tolerance" -> q68_asof_tolerance,
    "q69_asof_forward" -> q69_asof_forward,
    "q72_asof_nearest" -> q72_asof_nearest,
    "q44_having" -> q44_having)
}
