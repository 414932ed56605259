package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scope, Staging, Tables}

/** Serving-side analytics, layout and graph shapes that complete the
  * window / join / layout surface (reference §2.7 window extension
  * family, postgres_media.py:81's canned-query pattern generalized):
  *
  *  - q98 time-RANGE window frames (trailing-24h entity features),
  *  - q99 date-partitioned layout + planning-time partition pruning,
  *  - q100 FULL OUTER reconciliation (the one join type no prior
  *    query exercised),
  *  - q101 Z-order (Morton) layout profiling from built-in bit ops,
  *  - q102 typed Dataset Aggregator UDAF (integer-cents state),
  *  - q103 sliding windows (batch twin of EventsStream.slidingAgg),
  *  - q104 integer-exact PageRank over the customer–supplier graph,
  *  - q105 schema-evolution append (unionByName + missing columns),
  *  - q106 per-entity time-series gap fill,
  *  - q107 funnel-stage analysis, q108 cohort retention,
  *  - q109 the end-to-end curation funnel (chain oracle-gated, with
  *    observe-metric taps),
  *  - q110 Pearson correlation from exact decimal moments,
  *  - q111 the ASOF JOIN SQL syntax under the oracle gate,
  *  - q112 forward-fill / LOCF imputation (IGNORE NULLS windows).
  */
object Analytics {
  import Relational.Q

  private def dsum6(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Trailing-24h rolling features per user over the events stream:
    * for every event, how many events and how much value this user
    * produced in the preceding 24 hours (inclusive of now). A RANGE
    * frame over epoch-micros — ROWS frames cannot express "last 24
    * hours"; time-tied rows must see each other symmetrically, which
    * RANGE guarantees on both engines.
    *
    * Scale shape: one hash exchange on user_id, then a sort and a
    * single sequential pass per user partition. The partition key is
    * the entity (high cardinality, grows with the data), never a
    * low-cardinality attribute — a per-event_type trailing window
    * would serialize the corpus into 5 tasks. The double sum rides a
    * DECIMAL(18,6) accumulator: RANGE frames add AND RETRACT as the
    * frame slides, and float retraction (x + a - a != x) would make
    * the result order-dependent; decimal is exact so the sliding
    * accumulator is deterministic cross-engine.
    */
  val q98_rolling_features: Q = (spark, dir) => {
    import spark.implicits._
    val dayUs = 24L * 3600 * 1000000
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-dayUs, 0)
    Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", expr("ts DIV 1000").as("us"), $"value")
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_24h",
        round(sum($"value".cast(DecimalType(18, 6))).over(w).cast("double"), 4))
      .select($"event_id", $"user_id", $"n_24h", $"sum_24h")
      .orderBy($"event_id")
  }

  /** Date-partitioned layout + partition-pruned read: write events
    * hive-partitioned by event_date, read back filtered to two dates,
    * aggregate per (date, type). At 100 TB the write IS the table
    * (ingest lands date-partitioned) and every incremental job reads
    * a handful of partitions; the point of the query is the scan —
    * the date predicate resolves against directory names at planning
    * time (PartitionFilters, pinned in AnalyticsSpec), so 28 of 30
    * days are never opened, no footer reads, no row-group skipping
    * needed. Staged to a unique per-invocation dir (concurrent-safe,
    * the q82 lesson).
    */
  val q99_partition_prune: Q = (spark, dir) => {
    import spark.implicits._
    // Staged date-partitioned copy of `events`, one per dataset
    // fingerprint per JVM via [[graft.Staging]] — an index artifact
    // like the Bloom bitmaps (at scale the partitioned layout IS the
    // ingested table); a rewritten dataset rebuilds the stage and
    // deletes the superseded dir.
    val stage = Staging.stage(s"q99_events_bydate#$dir",
      Tables.fingerprint(dir, "events")) { d =>
        Tables.load(spark, dir, "events")
          .select($"event_id", $"event_type", $"value",
            to_date(timestamp_micros(expr("ts DIV 1000"))).as("event_date"))
          .write.mode("overwrite").partitionBy("event_date").parquet(d)
      }
    spark.read.parquet(stage)
      // date (not string) literals — a string comparison would cast the
      // partition column and defeat directory-level pruning
      .where($"event_date".isin(
        java.sql.Date.valueOf("2024-01-05"), java.sql.Date.valueOf("2024-01-12")))
      .groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n"), round(dsum6($"value"), 4).as("sum_value"))
      .orderBy($"event_date", $"event_type")
  }

  /** FULL OUTER reconciliation: per-customer order counts from two
    * date halves of the orders table, keys present in either side
    * kept and classified (both / h1_only / h2_only) — the general
    * shape for reconciling two independently produced datasets
    * (yesterday's export vs today's, system A vs system B).
    *
    * Scale shape: a full-outer join can never broadcast (every
    * unmatched row on BOTH sides survives), so both sides hash-
    * partition on the key — here the two aggregates already partition
    * by o_custkey, so the join adds NO exchange of its own (the sort-
    * merge join reuses the aggregates' partitioning; with bucketed
    * inputs the whole reconcile is zero-exchange). For this
    * particular derivable case a single conditional aggregate would
    * be the one-shuffle plan; the operator models the general case
    * where the two sides are independent inputs.
    */
  val q100_reconcile_halves: Q = (spark, dir) => {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val cut = "1998-01-01"
    def half(p: Column, nm: String): DataFrame =
      orders.where(p).groupBy($"o_custkey").agg(count(lit(1)).as(nm))
    half($"o_orderdate" < cut, "n_h1")
      .join(half($"o_orderdate" >= cut, "n_h2"), Seq("o_custkey"), "full_outer")
      .select($"o_custkey",
        when($"n_h1".isNull, lit("h2_only"))
          .when($"n_h2".isNull, lit("h1_only"))
          .otherwise(lit("both")).as("status"),
        coalesce($"n_h1", lit(0L)).as("n_h1"),
        coalesce($"n_h2", lit(0L)).as("n_h2"))
      .orderBy($"o_custkey")
  }

  /** Z-value (Morton interleave) of two `bits`-bit non-negative ints,
    * composed entirely from built-in bit functions — 2·bits codegen'd
    * integer ops, no UDF, no custom expression. Bit i of x lands at
    * 2i, bit i of y at 2i+1.
    */
  private def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(x.bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-order (space-filling-curve) layout profile: map lineitem onto
    * an 8-bit × 8-bit key grid (partkey, suppkey), order by the
    * interleaved z-value, and profile each of the 16 leading-z-bit
    * buckets — the bucket a z-sorted writer would put in one file.
    * Each bucket's (min,max) rectangle over BOTH dimensions is a
    * 64×64 tile (spec-pinned), which is the whole point at 100 TB:
    * parquet min/max stats per z-sorted file are tight on EVERY
    * interleaved dimension, so scans filtering on partkey OR suppkey
    * skip ~15/16 of the files, where a linear sort gives tight stats
    * on only its leading column. The profile itself is one map-only
    * projection + one aggregate.
    */
  val q101_zorder_layout: Q = (spark, dir) => {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .select(($"l_partkey" % 256).as("x"), ($"l_suppkey" % 256).as("y"))
    li.withColumn("z", zValue($"x", $"y", 8))
      .withColumn("z_bucket", ($"z" / 4096).cast("long"))
      .groupBy($"z_bucket")
      .agg(count(lit(1)).as("n"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
      .orderBy($"z_bucket")
  }

  /** Typed-Aggregator UDAF (the §2.12 Dataset-API surface,
    * complementing the catalyst-level TypedImperativeAggregate
    * `top_k_by`): quantity-weighted mean discount per return flag.
    * Inputs are pre-scaled to exact integer cents/units so the
    * aggregation state is two longs — integer-exact, two longs per
    * group per partition across the shuffle, and only the final two
    * divisions touch floating point.
    */
  val q102_weighted_mean: Q = (spark, dir) => {
    import spark.implicits._
    import graft.functions.{Weighted, WeightedMeanAgg}
    Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag".as("key"),
        round($"l_discount" * 100).cast("long").as("valueCents"),
        $"l_quantity".cast("long").as("weight"))
      .as[Weighted]
      .groupByKey(_.key)
      .agg(WeightedMeanAgg.toColumn.name("w_disc"))
      .toDF("l_returnflag", "w_disc")
      .orderBy($"l_returnflag")
  }

  /** Sliding-window counts (batch twin of
    * streaming/EventsStream.slidingAgg, oracle-checked here the way
    * q17/q48 anchor their streaming twins): 6-hour windows advancing
    * hourly per event type — built-in `window()` expands membership
    * map-side (one row -> 6 keyed rows), then one aggregate. The
    * oracle replays the same expansion as an unnested offset join.
    */
  val q103_sliding_window: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .withColumn("tstamp", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window($"tstamp", "6 hours", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp($"window.start").as("win_start"),
        $"event_type", $"n_events")
      .orderBy($"win_start", $"event_type")
  }

  /** Three rounds of q104's integer PageRank over the (src, dst,
    * degree) edge table from the rank vector `init`; `base` is the
    * per-node restart mass. q113 runs the same rounds over its merged
    * graph.
    */
  private def pageRank(edgesDeg: DataFrame, init: DataFrame, base: Long): DataFrame =
    (1 to 3).foldLeft(init) { (r, _) =>
      edgesDeg
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("rank DIV degree").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("cs"))
        .select(col("dst").as("node"), (lit(base) + expr("(85 * cs) DIV 100")).as("rank"))
    }

  /** PageRank (3 damped iterations, d = 0.85) over the undirected
    * customer–supplier interaction graph derived from lineitem ×
    * orders — the link-authority score web-corpus curation uses to
    * weight crawl quality (alongside CC dedup clusters, q77/q91).
    *
    * All arithmetic is SCALED-INTEGER (total mass 10^12, integer
    * division at every step, mirrored operation-for-operation in the
    * oracle): float PageRank sums contributions in partition order,
    * which is nondeterministic cross-engine; integer sums are exact.
    * Node ids disambiguate the bipartite key spaces numerically
    * (cust·2, supp·2+1) — never stringified.
    *
    * Scale shape: per iteration ONE aggregation shuffle (contributions
    * grouped by dst) plus a co-partitioned join of ranks against
    * edges; edges and degrees hash-partition on src once and every
    * iteration reuses that partitioning (at cluster scale: persist
    * edges partitioned by src, or bucket both sides — the rank side
    * is the only moving data). The node count is a planning-time
    * scalar (like the paged source's total probe), not a per-row
    * driver loop.
    */
  val q104_pagerank: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val Total = 1000000000000L
    // The derived graph is persisted: each iteration references it, and
    // without a cache the lineitem×orders derivation re-executes once
    // PER ITERATION inside the single DAG (measured 7.3 s -> ~1 s at
    // sf0.1). Dropped on return like every other query-local cache.
    // fromScratch = true IS the semantics here: q104 is the
    // full-recompute baseline q113's incremental path is measured
    // against — same [[BipartiteGraph]] formula, opposite flag.
    val (cs, deg) = BipartiteGraph.derived(sc, spark, dir)
    // no fanOut here: the pair cache comes out of the distinct's own
    // 32-partition shuffle (persisted plans keep their width), so the
    // edge side is already wide — fanOut is for the staged-parquet
    // readers whose scan yields O(1) splits
    val edges = BipartiteGraph.edgesOf(cs)
    val edgesDeg = sc.persist(edges.join(deg, "src"))
    // planning-time scalar off the persisted per-node table (one row
    // per src — no extra distinct over the edge-sized side)
    val n = deg.count()
    require(n > 0, s"q104: empty customer-supplier graph under $dir")
    val base = Total * 15 / 100 / n
    val init = deg.select($"src".as("node"), lit(Total / n).as("rank"))
    val ranked = pageRank(edgesDeg, init, base)
    // seal the node-sized result; the graph caches die with the scope
    sc.seal(ranked).orderBy($"node")
  }

  /** Incremental PageRank: a NEW batch of orders (the q85
    * steady-state-ingest split, `o_orderkey % 10 == 0`) arrives after
    * the base graph's pair index and degree table were already built
    * and persisted. Delta-sized work derives the merge:
    *
    *  - new pairs = delta pairs ANTI-JOIN the base pair index (at
    *    cluster scale both sides bucket on (c, s), so the anti-join
    *    co-locates; pairs seen in any earlier batch drop out here);
    *  - merged degrees = base degree table + the delta's endpoint
    *    counts (union + one re-aggregate on the node-sized table —
    *    never a rescan of base lineitem×orders, which is the term
    *    that dominates full recomputation at 100 TB);
    *  - the rank iterations then run over base ∪ new edges. The
    *    iteration cost is inherent (every edge carries contributions
    *    — rank mass moves globally even for a one-edge delta); what
    *    the incremental path removes is the GRAPH DERIVATION, the
    *    lineitem×orders join + distinct that q104 pays from scratch.
    *
    * Because base ∪ delta partitions the full order set and the
    * anti-join restores pair distinctness, the merged graph is
    * IDENTICAL to q104's, so the oracle is the same full-graph
    * integer PageRank — the incremental path must reproduce the full
    * recompute bit-for-bit (also pinned Spark-vs-Spark in
    * AnalyticsSpec).
    */
  val q113_incremental_pagerank: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val Total = 1000000000000L
    // the single derivation site, over the base/delta order split
    def pairs(pred: org.apache.spark.sql.Column) =
      BipartiteGraph.pairs(spark, dir, Some(pred))
    // The prior ingest's artifacts, staged to parquet ONCE per
    // dataset fingerprint ([[graft.Staging]]) exactly as a
    // steady-state pipeline would hold them next to the data — so
    // repeat invocations (and the bench) pay only the delta-sized
    // derivation plus an index read, never the base lineitem×orders
    // rescan that dominates q104's full recompute.
    val baseDir = Staging.stage(s"q113_base_graph#$dir",
      Tables.fingerprint(dir, "lineitem") + "|" +
        Tables.fingerprint(dir, "orders")) { d =>
        Scope { st =>
          val bp = st.persist(pairs($"o_orderkey" % 10 =!= 0))
          bp.write.parquet(s"$d/pairs")
          BipartiteGraph.degreesOf(bp).write.parquet(s"$d/degree")
        }
      }
    val basePairs = spark.read.parquet(s"$baseDir/pairs")
    val baseDeg = spark.read.parquet(s"$baseDir/degree")
    // delta-sized: only genuinely new customer-supplier relationships
    val newPairs = sc.persist(pairs($"o_orderkey" % 10 === 0)
      .join(basePairs, Seq("c", "s"), "left_anti"))
    val deltaDeg = BipartiteGraph.degreesOf(newPairs)
    val mergedDeg = sc.persist(baseDeg.union(deltaDeg)
      .groupBy($"src").agg(sum($"degree").as("degree")))
    val mergedCs = basePairs.union(newPairs)
    val edges = BipartiteGraph.edgesOf(mergedCs)
    val edgesDeg = sc.persist(edges.join(mergedDeg, "src"))
    val n = mergedDeg.count()
    require(n > 0, s"q113: empty merged customer-supplier graph under $dir")
    val base = Total * 15 / 100 / n
    val init = mergedDeg.select($"src".as("node"), lit(Total / n).as("rank"))
    val ranked = pageRank(edgesDeg, init, base)
    sc.seal(ranked).orderBy($"node")
  }

  /** Schema-evolution append: union two generations of the customer
    * dimension whose schemas differ — gen1 predates c_mktsegment and
    * gen2 adds a loyalty_tier column — via unionByName with
    * allowMissingColumns, the operation every long-lived dataset
    * needs when a column is added mid-history. Position-based UNION
    * would silently misalign columns; name-based resolution with
    * null-fill is the only safe append, and it stays a zero-shuffle
    * map-only plan (each side projects to the merged schema).
    */
  val q105_schema_evolution: Q = (spark, dir) => {
    import spark.implicits._
    val cust = Tables.load(spark, dir, "customer")
    val gen1 = cust.where($"c_custkey" % 2 === 0)
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")
    val gen2 = cust.where($"c_custkey" % 2 === 1)
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
        $"c_mktsegment",
        ($"c_custkey" % 3).cast("int").as("loyalty_tier"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .orderBy($"c_custkey")
  }

  /** Time-series gap fill / resample: per (user, hour) event counts
    * with MISSING hours emitted as zero rows between each user's
    * first and last active hour — the densification step before any
    * rolling-feature or forecasting pass (a model reading "no row"
    * cannot distinguish inactivity from missing data).
    *
    * Scale shape: the hour spine is generated per user from a
    * sequence explode of the user's own [min, max] hour span (map-
    * side after one per-user aggregate) — never a global calendar
    * cross join, which at 100 TB would materialize users × hours
    * before filtering. The spine joins the observed counts on the
    * co-partitioned (user, hour) key.
    */
  val q106_gap_fill: Q = (spark, dir) => {
    import spark.implicits._
    val hours = Tables.load(spark, dir, "events")
      .select($"user_id", expr("(ts DIV 1000) DIV 3600000000").as("hour"))
    val counts = hours.groupBy($"user_id", $"hour").agg(count(lit(1)).as("n"))
    val spine = counts.groupBy($"user_id")
      .agg(min($"hour").as("lo"), max($"hour").as("hi"))
      .select($"user_id", explode(sequence($"lo", $"hi")).as("hour"))
    spine.join(counts, Seq("user_id", "hour"), "left")
      .select($"user_id", $"hour", coalesce($"n", lit(0L)).as("n"))
      .orderBy($"user_id", $"hour")
  }

  /** Funnel analysis: how far each user progresses through the
    * ordered signup -> click -> purchase funnel, where a stage counts
    * only if its FIRST occurrence is at-or-after the first occurrence
    * of the previous stage. One conditional-min aggregate per user
    * (map-side combinable, one shuffle), then pure per-row stage
    * logic — never an event-sequence self-join, which at 100 TB would
    * pair every user's events. Micros are integers, so stage
    * comparisons are exact.
    */
  val q107_funnel: Q = (spark, dir) => {
    import spark.implicits._
    def firstTs(t: String) =
      min(when($"event_type" === t, $"us")).as(s"ts_$t")
    val firsts = Tables.load(spark, dir, "events")
      .select($"user_id", expr("ts DIV 1000").as("us"), $"event_type")
      .groupBy($"user_id")
      .agg(firstTs("signup"), firstTs("click"), firstTs("purchase"))
    firsts.select($"user_id",
      when($"ts_signup".isNull, 0)
        .when($"ts_click".isNull || $"ts_click" < $"ts_signup", 1)
        .when($"ts_purchase".isNull || $"ts_purchase" < $"ts_click", 2)
        .otherwise(3).cast("int").as("funnel_stage"))
      .orderBy($"user_id")
  }

  /** Cohort retention: users grouped by first-active day (their
    * cohort), counted distinct per (cohort, day offset) for the first
    * week — the activation-quality report every event product runs.
    * Two shuffles: the per-user cohort aggregate and the final
    * (cohort, offset) distinct-count; the cohort joins back to events
    * on user_id (co-partitioned with the first aggregate's output at
    * cluster scale). Day arithmetic is all integer.
    */
  val q108_retention: Q = (spark, dir) => {
    import spark.implicits._
    val days = Tables.load(spark, dir, "events")
      .select($"user_id", expr("(ts DIV 1000) DIV 86400000000").as("day"))
    val cohorts = days.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    days.join(cohorts, "user_id")
      .withColumn("offset", ($"day" - $"cohort_day").cast("int"))
      .where($"offset" <= 7)
      .groupBy($"cohort_day", $"offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"offset")
  }

  /** The end-to-end curation pipeline as ONE query: holdout split ->
    * language filter (q26's predicate) -> quality filter (q25's
    * score >= 3) -> exact dedup (min doc_id per md5) -> benchmark
    * decontamination (q66's 5-gram overlap, held-out grams broadcast)
    * — each stage consuming the previous stage's survivors, reported
    * as a per-stage funnel. This is the integration shape a real
    * corpus run composes from the individual operators; the oracle
    * replays the entire pipeline as nested CTEs, so the chain (not
    * just each stage alone) is correctness-gated.
    *
    * The funnel counts re-derive each prefix (side-effect-free; at
    * 100 TB the counts come free from `observe` metrics on the single
    * materializing pass instead). Every filter is a map-only scan
    * stage; the only wide ops are the dedup window and the two
    * decontamination distincts, same shapes as q28/q66.
    */
  /** The q109 stage chain with a `tap` hook: each stage's output
    * passes through `tap(name, df)` before the next stage consumes
    * it, so a caller can wire `observe` metrics into the lineage and
    * read every stage count from ONE materializing pass
    * (AnalyticsSpec proves the observed counts equal the funnel's).
    * The decontamination stage consumes its input twice (gram stream
    * + anti-join left side) — at scale that stage's input is
    * persisted, which also keeps its observation single-fire.
    */
  private[graft] def curationStages(sc: Scope, spark: SparkSession, dir: String,
      tap: (String, DataFrame) => DataFrame = (_, d) => d): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val rawDocs = Tables.load(spark, dir, "documents")
    def markers(pat: String) =
      size(regexp_extract_all(lower($"text"), lit(pat), lit(0)))
    val docs = tap("input", rawDocs)
    val split17 = tap("holdout_split", docs.where($"doc_id" % 17 =!= 0))
    val lang = tap("lang_en", sc.persist(split17
      .withColumn("c_en", markers("\\b(the|and|of|is|to)\\b"))
      .withColumn("c_de", markers("\\b(der|die|das|und|ist)\\b"))
      .withColumn("c_fr", markers("\\b(le|la|les|et|est)\\b"))
      .withColumn("c_es", markers("\\b(el|los|las|es|y)\\b"))
      .where($"c_en" >= $"c_de" && $"c_en" >= $"c_fr" &&
        $"c_en" >= $"c_es" && $"c_en" > 0)
      // persisted: five downstream funnel prefixes re-derive this
      // stage (and its four regex scans) without a cache
      .select(rawDocs.columns.map(col): _*)))
    val qual = tap("quality",
      lang.where(TextOps.qualityLadder($"text") >= 3)
        .select(rawDocs.columns.map(col): _*))
    // persisted: the decontamination stage consumes it twice (gram
    // stream + anti-join left) and the funnel counts once more
    val deduped = tap("dedup", sc.persist(qual
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5($"text")).orderBy($"doc_id")))
      .where($"rn" === 1).select(rawDocs.columns.map(col): _*)))
    def grams(d: DataFrame) = d
      .select($"doc_id", split(trim($"text"), "\\s+").as("w"))
      .where(size($"w") >= 5)
      .select($"doc_id", explode(transform(sequence(lit(1), size($"w") - 4),
        i => concat_ws(" ", slice($"w", i, lit(5))))).as("gram"))
    // held-out grams come from the RAW table (not the tapped input),
    // so no observation node sits in two branches of the final plan
    val heldGrams = grams(rawDocs.where($"doc_id" % 17 === 0))
      .select($"gram").distinct()
    val contaminated = grams(deduped)
      .join(broadcast(heldGrams), Seq("gram"), "left_semi")
      .select($"doc_id").distinct()
    val clean = deduped.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    Seq("input" -> docs, "holdout_split" -> split17, "lang_en" -> lang,
      "quality" -> qual, "dedup" -> deduped, "decontaminated" -> clean)
  }

  val q109_curation_pipeline: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val stages = curationStages(sc, spark, dir)
    val out = stages.zipWithIndex.map { case ((name, d), i) =>
      d.agg(count(lit(1)).as("n_docs"))
        .select(lit(i + 1).cast("int").as("stage_no"),
          lit(name).as("stage"), $"n_docs")
    }.reduce(_ union _).orderBy($"stage_no")
    sc.seal(out)
  }

  /** Pearson correlation per group (quantity vs extended price) from
    * EXACT decimal moments: built-in `corr` accumulates floating
    * co-moments in partition order, which is nondeterministic
    * cross-engine; here the five moments are decimal sums (exact,
    * order-free, map-side combinable — one shuffle total) and only
    * the final fixed-shape formula touches floating point, every
    * operation mirrored in the oracle. The moment aggregate is the
    * single-pass sufficient-statistics shape feature analysis runs
    * over a 100 TB table.
    */
  val q110_correlation: Q = (spark, dir) => {
    import spark.implicits._
    def d2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    val m = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(d2($"l_quantity")).cast("double").as("sx"),
        sum(d2($"l_extendedprice")).cast("double").as("sy"),
        sum(d2($"l_quantity") * d2($"l_extendedprice")).cast("double").as("sxy"),
        sum(d2($"l_quantity") * d2($"l_quantity")).cast("double").as("sxx"),
        sum(d2($"l_extendedprice") * d2($"l_extendedprice")).cast("double").as("syy"))
    // rounded to 6 dp: DuckDB's decimal->double conversion double-
    // rounds once a moment's unscaled value passes 2^53 (Spark's
    // BigDecimal conversion rounds once), leaving the raw statistic
    // ~1e-16 apart; at 6 dp both engines agree for any fixture
    m.select($"l_returnflag",
      round(($"n" * $"sxy" - $"sx" * $"sy") /
        (sqrt($"n" * $"sxx" - $"sx" * $"sx") *
         sqrt($"n" * $"syy" - $"sy" * $"sy")), 6).as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** q166: per-group multiple linear regression (OLS, two features +
    * intercept) fit entirely from SUFFICIENT STATISTICS — the
    * distributed-OLS normal-equation pattern: one aggregate computes
    * the 9 cross-moment sums (map-side partials, group-key shuffle of
    * 9 numbers per group), then the 2×2 centered system solves in
    * closed form inside the projection. Fits extendedprice ~ quantity
    * + discount per returnflag. At 100 TB this is ONE pass and one
    * 3-row exchange — no gradient iterations, no driver matrix beyond
    * the closed form (Cramer on the centered 2×2).
    *
    * Parity device = q110's: moments sum through DECIMAL(18,2)
    * (exact), convert to double once, then every downstream double
    * expression is written identically in both engines and the final
    * round(…, 6) absorbs the one-vs-two-rounding difference in
    * decimal→double conversion.
    */
  val q166_ols: Q = (spark, dir) => {
    import spark.implicits._
    def d2(c: Column) = c.cast(DecimalType(18, 2))
    val m = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        count(lit(1)).cast("double").as("n"),
        sum(d2($"l_quantity")).cast("double").as("s1"),
        sum(d2($"l_discount")).cast("double").as("s2"),
        sum(d2($"l_extendedprice")).cast("double").as("sy"),
        sum(d2($"l_quantity") * d2($"l_quantity")).cast("double").as("s11"),
        sum(d2($"l_quantity") * d2($"l_discount")).cast("double").as("s12"),
        sum(d2($"l_discount") * d2($"l_discount")).cast("double").as("s22"),
        sum(d2($"l_quantity") * d2($"l_extendedprice")).cast("double").as("s1y"),
        sum(d2($"l_discount") * d2($"l_extendedprice")).cast("double").as("s2y"),
        sum(d2($"l_extendedprice") * d2($"l_extendedprice")).cast("double").as("syy"))
    m.select($"l_returnflag", $"n_rows",
        ($"s11" - $"s1" * $"s1" / $"n").as("c11"),
        ($"s12" - $"s1" * $"s2" / $"n").as("c12"),
        ($"s22" - $"s2" * $"s2" / $"n").as("c22"),
        ($"s1y" - $"s1" * $"sy" / $"n").as("c1y"),
        ($"s2y" - $"s2" * $"sy" / $"n").as("c2y"),
        ($"syy" - $"sy" * $"sy" / $"n").as("cyy"),
        $"n", $"s1", $"s2", $"sy")
      .select($"l_returnflag", $"n_rows", $"n", $"s1", $"s2", $"sy",
        $"c1y", $"c2y", $"cyy",
        (($"c1y" * $"c22" - $"c2y" * $"c12") /
          ($"c11" * $"c22" - $"c12" * $"c12")).as("b1"),
        (($"c11" * $"c2y" - $"c12" * $"c1y") /
          ($"c11" * $"c22" - $"c12" * $"c12")).as("b2"))
      .select($"l_returnflag", $"n_rows",
        round(($"sy" - $"b1" * $"s1" - $"b2" * $"s2") / $"n", 6).as("b0"),
        round($"b1", 6).as("b1_qty"),
        round($"b2", 6).as("b2_disc"),
        round(($"b1" * $"c1y" + $"b2" * $"c2y") / $"cyy", 6).as("r2"))
      .orderBy($"l_returnflag")
  }

  /** q41's as-of attribution through the SQL SURFACE: the `ASOF JOIN`
    * keyword (GraftSqlParser rewrite + post-hoc marker rule) planning
    * into the same custom AsOfJoinExec as the DataFrame API — this
    * puts the injected-parser path itself under the driver's oracle
    * gate, not just under AsOfSqlSpec. Requires the production
    * install path (`withExtensions(GraftExtensions)`), which Verify
    * and Bench both use.
    */
  val q111_asof_sql: Q = (spark, dir) => {
    Tables.registerAll(spark, dir)
    spark.sql(
      """WITH p AS (SELECT event_id AS p_event, user_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_event, user_id AS c_user, ts AS c_ts
        |           FROM events WHERE event_type = 'click')
        |SELECT p_event, user_id, c_event
        |FROM p ASOF JOIN c
        |  ON user_id = c_user AND asof_backward(p_ts, c_ts)
        |ORDER BY p_event""".stripMargin)
  }

  /** Forward fill (last observation carried forward): error events'
    * readings are unreliable -> masked to NULL, then imputed from the
    * user's most recent good reading via `last_value(IGNORE NULLS)`
    * over a running frame — the LOCF imputation every time-series
    * feature pipeline needs, and the one window surface (IGNORE
    * NULLS) no other query exercises. One hash exchange on the entity
    * key; the fill value passes through unchanged (no arithmetic), so
    * the output is hash-exact.
    */
  val q112_forward_fill: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", expr("ts DIV 1000").as("us"),
        $"event_type", $"value")
      .withColumn("reading",
        when($"event_type" =!= "error", $"value"))
      .withColumn("filled", last($"reading", ignoreNulls = true).over(w))
      .select($"event_id", $"user_id", $"reading", $"filled")
      .orderBy($"event_id")
  }

  /** Week-over-week distribution-drift monitor: weekly event-type
    * counts plus the ratio against the type's previous week — the
    * after-every-ingest check that a source's mix hasn't silently
    * shifted (the data-ops sibling of the q97 rule audit: q97 checks
    * VALUES, this checks DISTRIBUTIONS). Integer counts are exact
    * cross-engine; the ratio is one raw double division, NULL on a
    * type's first week (SQL NULL-propagating division on both
    * engines). One aggregate plus one lag window over the tiny
    * (week, type) table — the corpus-sized scan happens once.
    */
  val q121_drift: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"week")
    Tables.load(spark, dir, "events")
      .select(expr("(ts DIV 1000) DIV 604800000000").as("week"), $"event_type")
      .groupBy($"week", $"event_type").agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag($"n", 1).over(w))
      .withColumn("wow_ratio", $"n".cast("double") / $"prev_n")
      .orderBy($"week", $"event_type")
  }

  /** Bucketed co-located join: both sides of orders ⋈ customer are
    * staged as BUCKETED tables on the join key (8 buckets, sorted),
    * so the join AND the downstream per-customer aggregate run with
    * ZERO hash exchanges — each task reads bucket i of both sides,
    * sort-merge joins, and aggregates in place (the only exchange in
    * the plan is the final presentation sort's range partitioning;
    * pinned in AnalyticsSpec). This is THE layout story for a 100 TB
    * fact table joined repeatedly on the same key: pay the
    * partitioning once at ingest, never shuffle the fact table again.
    * Staged once per dataset fingerprint via [[graft.Staging]]; the
    * bucketed layout is re-registered per Spark context from the
    * staged files (bucket ids live in the file names).
    */
  val q123_bucketed_join: Q = (spark, dir) => {
    import spark.implicits._
    val dirTag = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir))
    val fp = Tables.fingerprint(dir, "orders") + "_" +
      Tables.fingerprint(dir, "customer")
    val ot = s"graft_bkt_${dirTag}_orders_$fp"
    val ct = s"graft_bkt_${dirTag}_cust_$fp"
    val d = Staging.stage(s"q123_bucketed#$dir", fp) { d =>
      // a NEW fingerprint for this dir supersedes any older bucketed
      // tables registered for it (their staging dirs are gone)
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(s"graft_bkt_${dirTag}_"))
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
      Tables.load(spark, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$d/orders").saveAsTable(ot)
      Tables.load(spark, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$d/customer").saveAsTable(ct)
    }
    // the staging outlives a stopped-and-recreated SparkContext whose
    // in-memory catalog it was registered in — re-declare the bucket
    // spec over the staged files if this context has not seen it
    if (!spark.catalog.tableExists(ot))
      spark.sql(s"""CREATE TABLE `$ot` (o_orderkey BIGINT, o_custkey BIGINT,
        o_totalprice DOUBLE) USING parquet
        CLUSTERED BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS
        LOCATION '$d/orders'""")
    if (!spark.catalog.tableExists(ct))
      spark.sql(s"""CREATE TABLE `$ct` (c_custkey BIGINT, c_name STRING,
        c_acctbal DOUBLE) USING parquet
        CLUSTERED BY (c_custkey) SORTED BY (c_custkey) INTO 8 BUCKETS
        LOCATION '$d/customer'""")
    spark.table(ot).join(spark.table(ct), $"o_custkey" === $"c_custkey")
      .groupBy($"o_custkey", $"c_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double"), 2)
          .as("total_spend"))
      .orderBy($"o_custkey")
  }

  /** Skew-salted exact distinct: per-event_type distinct-user counts
    * where event_type has ~5 values — the classic low-cardinality
    * skew shape, where a naive per-type COUNT(DISTINCT) funnels every
    * distinct user of a type through ONE reducer. The salt is the
    * USER hash bucket (deterministic, 64-way): stage 1 counts
    * distinct users per (type, bucket) — users split disjointly
    * across buckets, so per-bucket distincts are exact and each
    * reducer holds 1/64th of a type's user set — and stage 2 SUMS the
    * per-bucket counts (a 5×64-row aggregate). Count and value sums
    * ride along salted for free. Bounded reducer state at any scale;
    * bit-identical to the unsalted aggregate (the oracle).
    */
  val q124_salted_distinct: Q = (spark, dir) => {
    import spark.implicits._
    val partial = Tables.load(spark, dir, "events")
      .select($"event_type", $"user_id", $"value")
      .groupBy($"event_type", pmod(hash($"user_id"), lit(64)).as("bkt"))
      .agg(countDistinct($"user_id").as("du"), count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 6))).as("sv"))
    partial.groupBy($"event_type")
      .agg(sum($"du").as("distinct_users"), sum($"n").as("n_events"),
        round(sum($"sv").cast("double"), 4).as("sum_value"))
      .orderBy($"event_type")
  }

  /** Incremental aggregate maintenance: the per-day order rollup is
    * kept as a mergeable STATE table (counts + decimal sums — every
    * algebraic aggregate decomposes this way); when the new batch
    * arrives (the q85/q113 steady-state split, o_orderkey % 10 == 0),
    * the pipeline aggregates ONLY the delta and merges it with the
    * staged state: union + one re-aggregate over day-sized rows.
    * At 100 TB the state table is ~days × groups rows while the
    * history is the full fact table — the rescan the merge avoids is
    * the entire point. Oracle: the from-scratch rollup over all
    * orders, which the merged state must match exactly (decimal sums
    * are associative, so base+delta == full).
    */
  val q125_incremental_agg: Q = (spark, dir) => {
    import spark.implicits._
    def rollup(o: DataFrame): DataFrame = o
      .groupBy($"o_orderdate")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).as("sum_price"))
    val ord = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    val stateDir = Staging.stage(s"q125_agg_state#$dir",
      Tables.fingerprint(dir, "orders")) { d =>
        rollup(ord.where($"o_orderkey" % 10 =!= 0)).write.parquet(s"$d/daily")
      }
    val state = spark.read.parquet(s"$stateDir/daily")
    val delta = rollup(ord.where($"o_orderkey" % 10 === 0))
    state.union(delta)
      .groupBy($"o_orderdate")
      .agg(sum($"n_orders").as("n_orders"),
        round(sum($"sum_price").cast("double"), 2).as("sum_price"))
      .orderBy($"o_orderdate")
  }

  /** Per-entity-type anomaly detection: z-score each event's value
    * against its type's mean/stddev, keep |z| > 3. Moments come from
    * ONE pass of exact decimal sums (n, Σx, Σx²) — the q110 recipe:
    * population variance n·Σx² − (Σx)² in exact decimal, converted to
    * double once — then the 5-row moment table broadcasts back onto
    * the stream, so scoring is map-only (at 100 TB: one aggregate
    * pass + one broadcast scan, no window, no self-join). The z
    * expression is written with the identical operation shape on both
    * engines, so the doubles agree bit-for-bit; rounded to 6 dp for
    * the same decimal→double edge q110 documents.
    */
  val q126_anomaly_zscore: Q = (spark, dir) => {
    import spark.implicits._
    def d6(c: Column) = c.cast(DecimalType(18, 6))
    val e = Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val m = e.groupBy($"event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(d6($"value")).cast("double").as("sx"),
        sum(d6($"value") * d6($"value")).cast("double").as("sxx"))
    val joined = e.join(broadcast(m), "event_type")
    val std = sqrt($"n" * $"sxx" - $"sx" * $"sx") / $"n"
    val z = ($"value" - $"sx" / $"n") / std
    joined.where(std > 0 && abs(z) > 3)
      .select($"event_id", $"event_type", $"value", round(z, 6).as("z"))
      .orderBy($"event_id")
  }

  /** Winsorization: clip each event's value to its type's empirical
    * [p05, p95] — the standard outlier-taming step before training on
    * heavy-tailed features. The bounds are DISCRETE order statistics
    * (the value at rank ⌈0.05·n⌉ under a deterministic total order),
    * not interpolated quantiles: rank selection is integer-exact on
    * both engines, while interpolation arithmetic is an
    * engine-specific float recipe. Clipping itself moves no bits
    * (GREATEST/LEAST of existing doubles), so the output hashes
    * exactly. The per-type sort is the exact-baseline path (one
    * window pass per type); at 100 TB the same clip runs off q61/q70
    * sketch quantiles — this is the verifiable twin that pins what
    * the sketch approximates.
    */
  val q127_winsorize: Q = (spark, dir) => {
    import spark.implicits._
    val e = Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val ranked = e
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"value", $"event_id")))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy($"event_type")))
    val bounds = ranked.groupBy($"event_type").agg(
      min(when($"rn" === expr("(n * 5 + 99) DIV 100"), $"value")).as("lo"),
      min(when($"rn" === expr("(n * 95 + 99) DIV 100"), $"value")).as("hi"))
    e.join(broadcast(bounds), "event_type")
      .select($"event_id", $"event_type",
        greatest($"lo", least($"hi", $"value")).as("value_w"))
      .orderBy($"event_id")
  }

  /** Mutual top-k neighbor graph + triangle census — the graph-quality
    * audit over a k-NN-style similarity graph (here: suppliers weighted
    * by co-served distinct customers; the same shape audits an
    * embedding k-NN graph before graph-based label propagation). Two
    * scale guarantees do all the work: (1) per-node top-8 truncation +
    * the mutuality filter bound every degree at 8, so the graph is
    * O(8n) edges no matter how dense the raw co-occurrence is (probed:
    * the raw supplier co-service graph is near-COMPLETE at every SF —
    * counting triangles on it would be Θ(n³)); (2) edges are oriented
    * lowest-(degree,id)-rank → highest before the wedge self-join, so
    * each wedge is enumerated exactly once from its lowest-rank vertex
    * and per-node wedge fan-out is C(8,2) — the degree-orientation
    * trick that makes triangle counting feasible on power-law graphs.
    * Output: one exact global census row (nodes, edges, oriented
    * wedges, triangles).
    */
  /** q137: integer-exact exponential decay smoothing (EWMA, α=1/2)
    * of each user's last 20 event values — the feature-store
    * "recency-weighted activity" signal. The weight of the k-th most
    * recent event is the exact power 2^(20-k) (a BIGINT shift), the
    * value rides as exact cents, and the reported smoothed value is
    * the single integer division num DIV den — no float pow, so the
    * oracle hash-matches bit-for-bit. Events beyond the 20th carry
    * weight < 2^0 of the newest and are truncated, which is what
    * bounds the state.
    *
    * Scale shape: one hash exchange on user_id (entity key — grows
    * with the data, never a low-cardinality attribute), one sort, one
    * row_number pass, then a per-user aggregate over at most 20 rows.
    * The streaming twin is [[graft.streaming.EventsStream.ewmaStream]]
    * — `mapGroupsWithState` keeping the same 20-deep ring per key,
    * spec-pinned equal to this query across multi-batch arrival.
    */
  val q137_ewma: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id",
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 20)
      .select($"user_id", $"cents", expr("shiftleft(CAST(1 AS BIGINT), 20 - rn)").as("wt"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("sum(cents * wt) DIV sum(wt)").as("ewma_cents"))
      .orderBy($"user_id")
  }

  /** q138: last-touch marketing attribution — every `purchase` is
    * credited to the user's most recent PRECEDING touch event
    * (`click` or `view`); purchases with no prior touch fall into the
    * `none` channel. The lookup is a conditional IGNORE NULLS
    * last_value over a `ROWS ... 1 PRECEDING` frame (the q112 LOCF
    * device scoped to an event-type predicate), so no self-join and
    * no as-of join against a filtered copy of the table — the
    * attribution and the revenue rollup happen in one pass.
    *
    * Scale shape: one hash exchange on user_id + one sorted window
    * pass, then a 3-row aggregate; value sums ride DECIMAL(18,6)
    * accumulators (float retraction is order-dependent; decimal is
    * exact cross-engine).
    */
  /** q176: CUPED variance-reduced A/B uplift (Deng et al. WSDM 2013 —
    * the standard pre-experiment covariate adjustment): each user's
    * PRE-period spend predicts their POST-period spend, so the
    * adjusted metric y′ = post − θ·pre with θ = slope(post ~ pre)
    * strips the variance the experiment didn't cause. Because the
    * mean-centering terms cancel across arms, the adjusted uplift
    * reduces to `uplift_post − θ·uplift_pre` — computed here exactly
    * that way so the oracle mirrors term by term.
    *
    * Plan: ONE user-keyed aggregate builds each user's (pre, post)
    * decimal-exact sums (the period boundary is the integer midpoint
    * of the ts range, a planning-time scalar); then one global moment
    * aggregate over the user-sized table (map-side partials, 1-row
    * output) carries every sum the θ slope and the per-arm means
    * need. Doubles enter once, expressions written identically in
    * both engines, round 6 (the q110/q166 device).
    */
  val q176_cuped: Q = (spark, dir) => {
    import spark.implicits._
    def d2(c: Column) = c.cast(DecimalType(18, 2))
    val ev = Tables.load(spark, dir, "events")
    val bounds = ev.agg(min($"ts"), max($"ts")).collect()(0)
    val (tmin, tmax) = (bounds.getLong(0), bounds.getLong(1))
    val mid = tmin + (tmax - tmin) / 2
    val users = ev
      .groupBy($"user_id")
      .agg(sum(when($"ts" < mid, d2($"value")).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("pre"),
        sum(when($"ts" >= mid, d2($"value")).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("post"))
      .withColumn("isA", $"user_id" % 2 === 0)
    val m = users.agg(
      count(lit(1)).cast("double").as("n"),
      sum($"pre").as("sx"), sum($"post").as("sy"),
      sum($"pre" * $"pre").as("sxx"), sum($"pre" * $"post").as("sxy"),
      sum(when($"isA", 1L).otherwise(0L)).cast("double").as("na"),
      sum(when($"isA", $"pre").otherwise(0.0)).as("sxa"),
      sum(when($"isA", $"post").otherwise(0.0)).as("sya"),
      sum(when($"isA", 0L).otherwise(1L)).cast("double").as("nb"),
      sum(when($"isA", 0.0).otherwise($"pre")).as("sxb"),
      sum(when($"isA", 0.0).otherwise($"post")).as("syb"))
    m.select(
      $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
      round(($"sya" / $"na" - $"syb" / $"nb"), 6).as("uplift_post"),
      round(($"sxa" / $"na" - $"sxb" / $"nb"), 6).as("uplift_pre"),
      round(($"n" * $"sxy" - $"sx" * $"sy") /
        ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("theta"),
      round(($"sya" / $"na" - $"syb" / $"nb") -
        (($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx")) *
        ($"sxa" / $"na" - $"sxb" / $"nb"), 6).as("uplift_cuped"))
  }

  /** q172: two-sample Kolmogorov–Smirnov statistic between the A/B
    * halves' `value` distributions — the distribution-level companion
    * to q171's categorical test (q171 asks "did the type mix move",
    * q172 asks "did the value distribution move"). D = max |ECDF_A −
    * ECDF_B|, integer-exact: cumulative counts cross-multiplied
    * (|ca·nb − cb·na|), ONE division at the end, ×10⁶.
    *
    * The global cumulative is built WITHOUT a single-partition sort —
    * the q150 two-level device keyed by deterministic fixed-width
    * VALUE bands (not sampled ranges, so equal values provably
    * co-bucket and the result is partitioning-invariant): per-band
    * conditional totals prefix-sum at band cardinality (driver-side,
    * ~30 rows), and each row adds its band base to a band-local
    * window cumsum. The window's default RANGE frame includes peers,
    * so every row of a tie group carries the group-end cumulative —
    * exactly ECDF at that value, no tie-boundary bookkeeping. At
    * 100 TB the bands would come from a q61-style quantile sketch
    * instead of fixed width; the shape is unchanged.
    */
  val q172_ks_test: Q = (spark, dir) => {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"value", ($"user_id" % 2 === 0).as("isA"),
        expr("CAST(value AS BIGINT) DIV 16").as("bucket"))
    val bTot = ev.groupBy($"bucket")
      .agg(sum(when($"isA", 1L).otherwise(0L)).as("ta"),
        sum(when($"isA", 0L).otherwise(1L)).as("tb"))
    var accA = 0L
    var accB = 0L
    val bases = bTot.orderBy($"bucket").collect().map { r =>
      val out = (r.getLong(0), accA, accB)
      accA += r.getLong(1); accB += r.getLong(2)
      out
    }
    val (na, nb) = (accA, accB)
    require(na > 0 && nb > 0, s"q172: a half is empty under $dir")
    val w = Window.partitionBy($"bucket").orderBy($"value")
    ev
      .withColumn("ca_loc", sum(when($"isA", 1L).otherwise(0L)).over(w))
      .withColumn("cb_loc", sum(when($"isA", 0L).otherwise(1L)).over(w))
      .join(broadcast(bases.toSeq.toDF("bucket", "base_a", "base_b")), "bucket")
      .select((($"base_a" + $"ca_loc") * nb - ($"base_b" + $"cb_loc") * na).as("diff"))
      .agg(max(abs($"diff")).as("mx"))
      .select(lit(na).as("na"), lit(nb).as("nb"),
        // mx can reach na*nb, so the *1e6 scale rides DECIMAL(38,0)
        // (HUGEINT in the oracle) — the q167/q171 headroom device;
        // plain BIGINT wraps once na*nb > ~9.2e12 (~3M events/arm)
        expr(s"CAST(CAST(mx AS DECIMAL(38,0)) * 1000000 DIV " +
          s"(CAST(${na}L AS DECIMAL(38,0)) * ${nb}L) AS BIGINT)").as("d_x1e6"))
  }

  /** q179: Mann–Whitney U (Wilcoxon rank-sum) test between the A/B
    * halves' `value` distributions — the rank-based companion to
    * q172's KS test (KS asks "did the distribution move anywhere",
    * Mann–Whitney asks "does one arm stochastically dominate", the
    * robust-to-outliers alternative to q176's mean uplift). The
    * statistic is pair-counting: U_A = Σ over (a∈A, b∈B) of
    * [a > b] + ½[a = b]. Everything rides 2U (so half-ties stay
    * integral): 2U_A = Σ over distinct values v of
    * ca(v) · (2·cb_less(v) + cb(v)) — integer-exact, no ranks
    * materialized, no floats.
    *
    * Scale shape: ONE corpus aggregate collapses events to per-
    * distinct-value (ca, cb) counts (value-cardinality-sized — the
    * q129 vocabulary stance); the "B below v" cumulative uses the
    * q172/q150 two-level device (deterministic fixed-width value
    * bands: per-band totals prefix-sum driver-side at band
    * cardinality, band-local window adds the base) — no global sort,
    * no single-partition window. Contributions sum in DECIMAL(38)
    * (2U can reach 2·na·nb, past BIGINT at ~3·10⁹ events/arm); the
    * U columns downcast to BIGINT for the driver (loudly overflowing
    * rather than wrapping past that bound) while the scale-proof
    * effect size is auc_a_x1e6 = U_A/(na·nb), bounded ≤ 10⁶ at any
    * corpus size. The distinct-value grouping handles ties exactly
    * (every tie pair contributes exactly 1 to 2U).
    */
  val q179_mann_whitney: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    // checkpointed: pv feeds the band-total collect AND the banded
    // cumulative scan — without it the events aggregate runs twice
    val pv = sc.ckpt(Tables.load(spark, dir, "events")
      .select($"value", ($"user_id" % 2 === 0).as("isA"),
        expr("CAST(value AS BIGINT) DIV 16").as("bucket"))
      .groupBy($"bucket", $"value")
      .agg(sum(when($"isA", 1L).otherwise(0L)).as("ca"),
        sum(when($"isA", 0L).otherwise(1L)).as("cb")))
    var accB = 0L
    var accA = 0L
    val bases = pv.groupBy($"bucket")
      .agg(sum($"ca").as("ta"), sum($"cb").as("tb"))
      .orderBy($"bucket").collect().map { r =>
        val out = (r.getLong(0), accB)
        accA += r.getLong(1); accB += r.getLong(2)
        out
      }
    val (na, nb) = (accA, accB)
    require(na > 0 && nb > 0, s"q179: a half is empty under $dir")
    // rows (not RANGE) frame is exact here: pv is grouped by value,
    // so rows within a band are distinct values — "1 preceding" is
    // precisely "all strictly-smaller values in this band"
    val w = Window.partitionBy($"bucket").orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, -1)
    pv
      .withColumn("cbl_loc", coalesce(sum($"cb").over(w), lit(0L)))
      .join(broadcast(bases.toSeq.toDF("bucket", "base_b")), "bucket")
      .select((($"ca").cast(DecimalType(38, 0)) *
        (lit(2) * ($"base_b" + $"cbl_loc") + $"cb")).as("contrib"))
      .agg(sum($"contrib").as("u2a"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        $"u2a".cast("bigint").as("u2_a"),
        (lit(2) * lit(na).cast(DecimalType(38, 0)) * lit(nb) - $"u2a")
          .cast("bigint").as("u2_b"),
        expr(s"CAST(u2a * 1000000 DIV " +
          s"(2 * CAST(${na}L AS DECIMAL(38,0)) * ${nb}L) AS BIGINT)")
          .as("auc_a_x1e6"))
  }

  /** q171: chi-square independence test on the event_type × A/B-half
    * contingency table — the A/B-testing primitive ("did the
    * experiment shift the behavior mix?"). Halves are the
    * deterministic user_id parity split.
    *
    * Integer-exact: each cell's contribution (o − e)²/e with
    * e = row·col/N is the cross-multiplied (o·N − row·col)² × 10⁶
    * DIV (N·row·col) — numerator ≲ 10²⁵ rides DECIMAL(38)/HUGEINT,
    * one truncating division per cell (the statistic is the sum of
    * per-cell truncated terms, within |cells| units of the real χ²).
    * Plan: ONE conditional aggregate builds both columns of the table
    * (no half self-join), checkpointed so the corpus is scanned once
    * (the q167 stance), totals broadcast from a 1-row aggregate.
    */
  val q171_chi_square: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val cells = sc.ckpt(Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("oa"),
        sum(when($"user_id" % 2 === 0, 0L).otherwise(1L)).as("ob")))
    val tot = cells.agg(sum($"oa").as("ca"), sum($"ob").as("cb"),
      sum($"oa" + $"ob").as("n"))
    def contrib(o: String, c: String) =
      s"""CAST((CAST($o AS DECIMAL(38,0)) * n - CAST(oa + ob AS DECIMAL(38,0)) * $c)
         |  * (CAST($o AS DECIMAL(38,0)) * n - CAST(oa + ob AS DECIMAL(38,0)) * $c)
         |  * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * (oa + ob) * $c)
         |  AS BIGINT)""".stripMargin
    cells.crossJoin(broadcast(tot))
      .select($"event_type", $"oa", $"ob",
        expr(contrib("oa", "ca")).as("contrib_a_x1e6"),
        expr(contrib("ob", "cb")).as("contrib_b_x1e6"))
      .orderBy($"event_type")
  }

  /** q170: MULTI-touch time-decay attribution — each purchase's value
    * splits across the user's preceding touch events (click/view) with
    * credit halving per step back (the standard time-decay model; q138
    * is the last-touch special case). Exact integer credit: the j-th
    * most recent of m ≤ 8 credited touches gets value·2^(m−1−j)
    * /(2^m − 1) — numerator and the denominator 2^m − 1 ≤ 255 are
    * exact BIGINTs, value converts to cents through one DECIMAL(18,2)
    * cast, one DIV per credit row.
    *
    * State-bounded by construction: the touch list is collected over a
    * FRAME-bounded window (last 50 events before the purchase), so
    * per-row window state is ≤ 50 entries regardless of how long a
    * whale user's history is — no user-keyed self-join (the docs²
    * trap), no unbounded collect. Purchases with no preceding touch
    * credit an `organic` bucket in full.
    */
  val q170_decay_attribution: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-50, -1)
    val base = Tables.load(spark, dir, "events")
      .withColumn("tl",
        collect_list(when($"event_type".isin("click", "view"), $"event_type")).over(w))
      .where($"event_type" === "purchase")
      .select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        least(size($"tl"), lit(8)).as("m"), $"tl")
    val touched = base.where($"m" > 0)
      .select($"cents", $"m",
        posexplode(expr("slice(tl, -m, m)")).as(Seq("p", "channel")))
      .select($"channel",
        expr("cents * shiftleft(1L, p) * 1000000 DIV (shiftleft(1L, m) - 1)")
          .as("credit"))
    val organic = base.where($"m" === 0)
      .select(lit("organic").as("channel"), ($"cents" * 1000000L).as("credit"))
    touched.unionByName(organic)
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_rows"), sum($"credit").as("credited_x1e6"))
      .orderBy($"channel")
  }

  val q138_attribution: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "events")
      .withColumn("channel",
        last(when($"event_type".isin("click", "view"), $"event_type"),
          ignoreNulls = true).over(w))
      .where($"event_type" === "purchase")
      .groupBy(coalesce($"channel", lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(dsum6($"value"), 4).as("attributed_value"))
      .orderBy($"channel")
  }

  /** q151: first-order Markov transition matrix over the event
    * stream — P(next event type | current event type) per user
    * session order, the behavioral model behind next-action
    * prediction and funnel anomaly detection. One hash exchange on
    * user_id feeds a sorted lead() window (the q138 attribution
    * shape), then the (type, next_type) counts collapse map-side to
    * at most |types|^2 rows; the per-type totals that normalize the
    * probabilities are derived FROM those counts (rows = |types|,
    * broadcast back), never from a second pass over the events.
    * Probability emitted as one raw long/long division — exact
    * cross-engine (no rounding on either side).
    */
  /** q169: frequent 3-step event paths — the higher-ORDER companion to
    * q151's first-order transition matrix (funnel/path mining: "which
    * three-step journeys dominate"). One per-user window pass (a
    * single user_id exchange shared by both lead() offsets), then a
    * map-side-combined count over at most |types|³ path keys and a
    * global deterministic top-10 (count desc, path asc — Spark plans
    * TakeOrderedAndProject, never a full sort). At 100 TB the only
    * data-sized stage is the per-user window; the path-count state is
    * alphabet-bounded.
    */
  val q169_path_trigrams: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .where($"t3".isNotNull)
      .select(concat_ws(">", $"event_type", $"t2", $"t3").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path").limit(10)
  }

  val q151_transitions: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .where($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type").agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy($"event_type").agg(sum($"n").as("tot"))
    pairs.join(broadcast(tot), "event_type")
      .select($"event_type", $"next_type", $"n", ($"n" / $"tot").as("prob"))
      .orderBy($"event_type", $"next_type")
  }

  /** q161: decile analysis — orders NTILE(10)-bucketed by spend
    * WITHIN their customer's market segment, rolled up to (segment,
    * decile) revenue contribution: the "what do the top 10% of
    * orders carry" cut that pricing/mix reviews start from. NTILE's
    * distribution rule (leading buckets absorb the remainder) is
    * ANSI-specified and implemented identically by Spark and DuckDB,
    * so with a TOTAL order (price desc, orderkey) the bucket
    * assignment — not just the aggregate — is oracle-exact.
    *
    * Scale shape: the segment comes from a broadcast dimension join
    * (customer is the small side by construction); one hash exchange
    * on segment feeds the per-segment sort; revenue sums ride
    * DECIMAL(18,2). Segments are few and balanced here — a skewed
    * partition key would call for the q124 salt + two-level ntile
    * refinement, which q157 exists to detect.
    */
  val q161_decile_analysis: Q = (spark, dir) => {
    import spark.implicits._
    val seg = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .join(broadcast(seg), $"o_custkey" === $"c_custkey")
      .withColumn("decile", ntile(10).over(w))
      .groupBy($"c_mktsegment", $"decile")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double")
          .as("revenue"),
        max($"o_totalprice").as("max_price"),
        min($"o_totalprice").as("min_price"))
      .orderBy($"c_mktsegment", $"decile")
  }

  /** q157: join-key skew profile — the diagnostic a planner (or an
    * engineer) reads before picking a strategy for a key: per-key
    * frequencies reduced to the top-10 heavy keys plus the global
    * skew indicators (distinct keys, max frequency, and Σcnt² — the
    * expected collision mass of a hash join on this key, i.e. the
    * quantity salting exists to bound; q124 is the remedy, this is
    * the detector). One map-side-combined count aggregate; the
    * summary derives from the per-key counts (key-cardinality input,
    * single row out) and broadcasts back over the top-10 cut, whose
    * rank window runs post-LIMIT on 10 rows. The base table is
    * scanned once; nothing downstream exceeds key cardinality.
    */
  val q157_skew_profile: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val counts = sc.persist(Tables.load(spark, dir, "lineitem")
      .groupBy($"l_suppkey").agg(count(lit(1)).as("cnt")))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"),
      max($"cnt").as("max_cnt"), sum($"cnt" * $"cnt").as("sum_sq"))
    val out = counts.orderBy($"cnt".desc, $"l_suppkey").limit(10)
      // unpartitioned window is BOUNDED: it runs over the 10-row
      // limit() result, never the key table
      .withColumn("rank", row_number()
        .over(Window.orderBy($"cnt".desc, $"l_suppkey")).cast("int"))
      .crossJoin(broadcast(stats))
      .select($"rank", $"l_suppkey".as("key"), $"cnt",
        $"n_keys", $"n_rows", $"max_cnt", $"sum_sq")
      .orderBy($"rank")
    sc.seal(out)
  }

  /** Unordered co-occurrence pairs of `s` values sharing a `c` key,
    * via the adaptive chunked self-join (see q133's inline note).
    * Returns one (s1 < s2) row per (customer, unordered pair).
    * Exposed `private[graft]` so the spec can pin equivalence against
    * the plain self-join on both the fixture and a whale fixture.
    */
  private[graft] def copurchasePairs(cs: DataFrame, chunkRows: Int): DataFrame = {
    val deg = cs.groupBy(col("c")).agg(count(lit(1)).as("d"))
    val csx = cs.join(deg, "c")
      .withColumn("nc", expr(s"CAST((d + ${chunkRows - 1}) DIV $chunkRows AS INT)"))
      .withColumn("ch", pmod(hash(col("s")), col("nc")))
    val left = csx.select(col("c"), col("s").as("sa"), col("ch").as("ca"),
      explode(expr("sequence(ch, nc - 1)")).as("cb"))
    val right = csx.select(col("c"), col("s").as("sb"),
      explode(expr("sequence(0, ch)")).as("ca"), col("ch").as("cb"))
    left.join(right, Seq("c", "ca", "cb"))
      .where(col("ca") < col("cb") || col("sa") < col("sb"))
      .select(least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"))
  }

  /** q133's stage streams — the ONE derivation site, exposed
    * `private[graft]` so StageProbe times each stage of the actual
    * query lineage (the q139 attribution discipline) instead of a
    * drifting copy. Returned frames are lazy; `e`/`o` are the
    * query-local persists the full query uses, registered in `sc`.
    */
  private[graft] def knnTriangleStages(sc: Scope, spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame, DataFrame) = {
    import spark.implicits._
    // The pair index is the fingerprint-staged graph artifact every
    // traversal query shares (ONE lineitem⋈orders + distinct per
    // dataset, built by whichever consumer runs first) — re-deriving
    // and re-distincting it here was pure duplicated work (round-10
    // verdict). The staged encoding (c·2, s·2+1) is exactly
    // invertible, and only decoded VALUES reach the tie-breaks, so
    // the output is hash-identical to the inline derivation. The
    // few-MB parquet scan yields O(1) splits, but every consumer
    // below (degree agg, chunk join) starts with a shuffle, so
    // parallelism recovers at session width immediately.
    val cs = BipartiteGraph.staged(spark, dir)._1
      .select(expr("c DIV 2").as("c"), expr("(s - 1) DIV 2").as("s"))
    // Co-occurrence pairs via the ADAPTIVE CHUNKED self-join (the q67
    // interval-join device): each customer's rows are hashed into
    // nc = ceil(degree / 256) chunks and the join keys on the
    // COMPOUND (c, chunk_a, chunk_b) — so a whale customer becomes
    // nc(nc+1)/2 independent key groups with per-task work bounded by
    // ~256² no matter its degree, while every normal customer has
    // nc = 1 and pays zero replication (the key degenerates to
    // (c, 0, 0) — exactly the plain join, which measures 2.7× faster
    // than the round-8 collect-set map-side expansion it replaces:
    // 2.2 s vs 5.9 s for the sf0.1 pair stage; the expansion's nested
    // array allocation was the cost). Each unordered pair meets
    // exactly once: cross-chunk at (ca < cb), same-chunk under
    // sa < sb. Equivalence vs the plain join is spec-pinned on the
    // fixture AND on a synthetic whale that actually engages nc > 1.
    val pw = Analytics.copurchasePairs(cs, 256)
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("w"))
    val dirs = pw.select($"s1".as("u"), $"s2".as("nbr"), $"w")
      .union(pw.select($"s2".as("u"), $"s1".as("nbr"), $"w"))
    val topk = dirs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"u").orderBy($"w".desc, $"nbr")))
      .where($"rn" <= 8).select($"u", $"nbr")
    // mutual edge: both directed picks exist -> canonical pair seen twice
    val e = sc.persist(topk
      .select(least($"u", $"nbr").as("a"), greatest($"u", $"nbr").as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("cnt"))
      .where($"cnt" === 2).select($"a", $"b"))
    val deg = e.select($"a".as("n")).union(e.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // total (degree, id) order packed into one BIGINT rank
    val o = sc.persist(e.join(deg.select($"n".as("a"), $"d".as("da")), "a")
      .join(deg.select($"n".as("b"), $"d".as("db")), "b")
      .selectExpr(
        "CASE WHEN da * 1000000000 + a < db * 1000000000 + b THEN a ELSE b END AS lo",
        "CASE WHEN da * 1000000000 + a < db * 1000000000 + b THEN b ELSE a END AS hi",
        """CASE WHEN da * 1000000000 + a < db * 1000000000 + b
          |     THEN db * 1000000000 + b ELSE da * 1000000000 + a END AS rhi"""
          .stripMargin))
    val wedge = o.as("x").join(o.as("y"),
        $"x.lo" === $"y.lo" && $"x.rhi" < $"y.rhi")
      .select($"x.hi".as("v"), $"y.hi".as("w"))
    val tri = wedge.join(o, $"v" === $"lo" && $"w" === $"hi")
    (pw, topk, e, o, deg, wedge, tri)
  }

  val q133_knn_triangles: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val (_, _, e, o, deg, wedge, _) = knnTriangleStages(sc, spark, dir)
    // one pass over the wedge stream counts wedges AND closures: the
    // triangle test is a LEFT join against the (unique-keyed) edge
    // set, so count(*) = wedges and count(matched) = triangles —
    // the previous two-aggregate readout ran the o⋈o wedge self-join
    // twice (StageProbe round-14: full 5.05 s vs 3.94 s cumulative
    // through the wedge stage; this folds the second pass away)
    val wt = wedge.join(o, $"v" === $"lo" && $"w" === $"hi", "left_outer")
      .agg(count(lit(1)).as("n_wedges"), count($"lo").as("n_triangles"))
    sc.seal(deg.agg(count(lit(1)).as("n_nodes")).crossJoin(
        e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wt)
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles"))
  }

  val queries: Map[String, Q] = Map(
    "q137_ewma" -> q137_ewma,
    "q138_attribution" -> q138_attribution,
    "q151_transitions" -> q151_transitions,
    "q169_path_trigrams" -> q169_path_trigrams,
    "q170_decay_attribution" -> q170_decay_attribution,
    "q171_chi_square" -> q171_chi_square,
    "q172_ks_test" -> q172_ks_test,
    "q179_mann_whitney" -> q179_mann_whitney,
    "q176_cuped" -> q176_cuped,
    "q157_skew_profile" -> q157_skew_profile,
    "q161_decile_analysis" -> q161_decile_analysis,
    "q133_knn_triangles" -> q133_knn_triangles,
    "q123_bucketed_join" -> q123_bucketed_join,
    "q124_salted_distinct" -> q124_salted_distinct,
    "q125_incremental_agg" -> q125_incremental_agg,
    "q126_anomaly_zscore" -> q126_anomaly_zscore,
    "q127_winsorize" -> q127_winsorize,
    "q121_drift" -> q121_drift,
    "q113_incremental_pagerank" -> q113_incremental_pagerank,
    "q112_forward_fill" -> q112_forward_fill,
    "q111_asof_sql" -> q111_asof_sql,
    "q110_correlation" -> q110_correlation,
    "q166_ols" -> q166_ols,
    "q109_curation_pipeline" -> q109_curation_pipeline,
    "q104_pagerank" -> q104_pagerank,
    "q105_schema_evolution" -> q105_schema_evolution,
    "q106_gap_fill" -> q106_gap_fill,
    "q107_funnel" -> q107_funnel,
    "q108_retention" -> q108_retention,
    "q98_rolling_features" -> q98_rolling_features,
    "q99_partition_prune" -> q99_partition_prune,
    "q100_reconcile_halves" -> q100_reconcile_halves,
    "q101_zorder_layout" -> q101_zorder_layout,
    "q102_weighted_mean" -> q102_weighted_mean,
    "q103_sliding_window" -> q103_sliding_window)

  /** Full-graph integer PageRank oracle, shared by q104 (from-scratch)
    * and q113 (incremental — merges to the identical graph): the 3
    * iterations unrolled (aggregation is not allowed in a recursive
    * CTE term); every integer division mirrors the Spark plan's DIV
    * order exactly; the final CAST undoes DuckDB's SUM(BIGINT) ->
    * HUGEINT widening, which the driver's type-sensitive hash sees.
    */
  private val pagerankOracle: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT c AS src, s AS dst FROM cs
      |      UNION ALL SELECT s AS src, c AS dst FROM cs),
      |d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src),
      |p AS (SELECT COUNT(*) AS n FROM d),
      |r0 AS (SELECT src AS node, 1000000000000 // (SELECT n FROM p) AS rank FROM d),
      |r1 AS (SELECT e.dst AS node,
      |         (SELECT 1000000000000 * 15 // 100 // n FROM p)
      |           + (85 * SUM(r0.rank // d.degree)) // 100 AS rank
      |       FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS node,
      |         (SELECT 1000000000000 * 15 // 100 // n FROM p)
      |           + (85 * SUM(r1.rank // d.degree)) // 100 AS rank
      |       FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS node,
      |         (SELECT 1000000000000 * 15 // 100 // n FROM p)
      |           + (85 * SUM(r2.rank // d.degree)) // 100 AS rank
      |       FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src
      |       GROUP BY e.dst)
      |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin

  val oracles: Map[String, String] = Map(
    "q137_ewma" ->
      // weights are exact BIGINT shifts; HUGEINT sums cast back down
      // before the integer division mirrors Spark's DIV
      """WITH r AS (
        |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(cents * (CAST(1 AS BIGINT) << (20 - rn))) AS BIGINT)
        |       // CAST(SUM(CAST(1 AS BIGINT) << (20 - rn)) AS BIGINT) AS BIGINT)
        |    AS ewma_cents
        |FROM r WHERE rn <= 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q161_decile_analysis" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
        |    NTILE(10) OVER (PARTITION BY c.c_mktsegment
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS decile
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT c_mktsegment, CAST(decile AS INTEGER) AS decile,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
        |FROM j GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin,
    "q157_skew_profile" ->
      """WITH c AS (
        |  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_cnt,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq
        |  FROM c),
        |t AS (
        |  SELECT l_suppkey, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey) AS rn
        |  FROM c)
        |SELECT CAST(t.rn AS INTEGER) AS rank, t.l_suppkey AS key, t.cnt,
        |  s.n_keys, s.n_rows, s.max_cnt, s.sum_sq
        |FROM t CROSS JOIN s WHERE t.rn <= 10 ORDER BY rank""".stripMargin,
    "q176_cuped" ->
      """WITH b AS (
        |  SELECT min(epoch_ns(ts)) AS tmin, max(epoch_ns(ts)) AS tmax
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN epoch_ns(ts) < tmin + (tmax - tmin) // 2
        |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
        |      AS DOUBLE) AS pre,
        |    CAST(SUM(CASE WHEN epoch_ns(ts) >= tmin + (tmax - tmin) // 2
        |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
        |      AS DOUBLE) AS post,
        |    (user_id % 2 = 0) AS isA
        |  FROM events, b GROUP BY user_id, tmin, tmax),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    SUM(pre) AS sx, SUM(post) AS sy,
        |    SUM(pre * pre) AS sxx, SUM(pre * post) AS sxy,
        |    CAST(SUM(CASE WHEN isA THEN 1 ELSE 0 END) AS DOUBLE) AS na,
        |    SUM(CASE WHEN isA THEN pre ELSE 0.0 END) AS sxa,
        |    SUM(CASE WHEN isA THEN post ELSE 0.0 END) AS sya,
        |    CAST(SUM(CASE WHEN isA THEN 0 ELSE 1 END) AS DOUBLE) AS nb,
        |    SUM(CASE WHEN isA THEN 0.0 ELSE pre END) AS sxb,
        |    SUM(CASE WHEN isA THEN 0.0 ELSE post END) AS syb
        |  FROM u)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  ROUND((sya / na - syb / nb), 6) AS uplift_post,
        |  ROUND((sxa / na - sxb / nb), 6) AS uplift_pre,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
        |  ROUND((sya / na - syb / nb) -
        |    ((n * sxy - sx * sy) / (n * sxx - sx * sx)) *
        |    (sxa / na - sxb / nb), 6) AS uplift_cuped
        |FROM m""".stripMargin,
    "q172_ks_test" ->
      // brute single-window formulation; the RANGE default frame
      // includes peers, so every tie-group row carries the group-end
      // cumulative = ECDF at that value (same frame semantics Spark
      // uses band-locally)
      """WITH e AS (
        |  SELECT value, (user_id % 2 = 0) AS isA FROM events),
        |t AS (
        |  SELECT SUM(CASE WHEN isA THEN 1 ELSE 0 END) AS na,
        |         SUM(CASE WHEN isA THEN 0 ELSE 1 END) AS nb
        |  FROM e),
        |r AS (
        |  SELECT
        |    SUM(CASE WHEN isA THEN 1 ELSE 0 END) OVER
        |      (ORDER BY value RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    SUM(CASE WHEN isA THEN 0 ELSE 1 END) OVER
        |      (ORDER BY value RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM e)
        |SELECT CAST(t.na AS BIGINT) AS na, CAST(t.nb AS BIGINT) AS nb,
        |  CAST(CAST(MAX(abs(ca * t.nb - cb * t.na)) AS HUGEINT) * 1000000
        |    // (CAST(t.na AS HUGEINT) * t.nb) AS BIGINT) AS d_x1e6
        |FROM r, t GROUP BY t.na, t.nb""".stripMargin,
    "q179_mann_whitney" ->
      // brute single-window formulation over per-distinct-value
      // counts; ROWS 1-preceding on the grouped table is exactly
      // "strictly smaller values" (same argument as the Spark side)
      """WITH pv AS (
        |  SELECT value,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
        |  FROM events GROUP BY value),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM pv),
        |r AS (
        |  SELECT ca, cb,
        |    COALESCE(SUM(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cbl
        |  FROM pv),
        |s AS (SELECT SUM(CAST(ca AS HUGEINT) * (2 * cbl + cb)) AS u2a FROM r)
        |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
        |  CAST(s.u2a AS BIGINT) AS u2_a,
        |  CAST(2 * CAST(t.na AS HUGEINT) * t.nb - s.u2a AS BIGINT) AS u2_b,
        |  CAST(s.u2a * 1000000 // (2 * CAST(t.na AS HUGEINT) * t.nb)
        |    AS BIGINT) AS auc_a_x1e6
        |FROM s, t""".stripMargin,
    "q171_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS oa,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS ob
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT SUM(oa) AS ca, SUM(ob) AS cb, SUM(oa + ob) AS n
        |        FROM cells)
        |SELECT event_type, CAST(oa AS BIGINT) AS oa, CAST(ob AS BIGINT) AS ob,
        |  CAST((CAST(oa AS HUGEINT) * n - CAST(oa + ob AS HUGEINT) * ca)
        |    * (CAST(oa AS HUGEINT) * n - CAST(oa + ob AS HUGEINT) * ca)
        |    * 1000000 // (CAST(n AS HUGEINT) * (oa + ob) * ca)
        |    AS BIGINT) AS contrib_a_x1e6,
        |  CAST((CAST(ob AS HUGEINT) * n - CAST(oa + ob AS HUGEINT) * cb)
        |    * (CAST(ob AS HUGEINT) * n - CAST(oa + ob AS HUGEINT) * cb)
        |    * 1000000 // (CAST(n AS HUGEINT) * (oa + ob) * cb)
        |    AS BIGINT) AS contrib_b_x1e6
        |FROM cells, tot ORDER BY event_type""".stripMargin,
    "q170_decay_attribution" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    -- COALESCE: DuckDB's list() over an EMPTY frame is NULL
        |    -- (Spark collect_list gives []), and LEAST(NULL, 8) = 8
        |    -- would then credit 8 phantom NULL channels
        |    COALESCE(list_filter(
        |      list(CASE WHEN event_type IN ('click','view') THEN event_type END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING),
        |      x -> x IS NOT NULL), []) AS tl
        |  FROM events),
        |p AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    LEAST(len(tl), 8) AS m, tl
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT tl[len(tl) - m + pos] AS channel,
        |    cents * (1::BIGINT << (pos - 1)) * 1000000
        |      // ((1::BIGINT << m) - 1) AS credit
        |  FROM p, UNNEST(range(1, m + 1)) AS r(pos)
        |  WHERE m > 0),
        |o AS (SELECT 'organic' AS channel, cents * 1000000 AS credit
        |      FROM p WHERE m = 0)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(credit) AS BIGINT) AS credited_x1e6
        |FROM (SELECT * FROM t UNION ALL SELECT * FROM o)
        |GROUP BY channel ORDER BY channel""".stripMargin,
    "q169_path_trigrams" ->
      """WITH p AS (
        |  SELECT event_type AS t1,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS t2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
        |FROM p WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "q151_transitions" ->
      """WITH p AS (
        |  SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT event_type, next_type, COUNT(*) AS n
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n, c.n / t.tot AS prob
        |FROM c JOIN t USING (event_type)
        |ORDER BY event_type, next_type""".stripMargin,
    "q138_attribution" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        |  FROM events)
        |SELECT COALESCE(channel, 'none') AS channel,
        |  COUNT(*) AS n_purchases,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
        |    AS attributed_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY COALESCE(channel, 'none') ORDER BY channel""".stripMargin,
    "q133_knn_triangles" ->
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |pw AS (
        |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS w
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2),
        |dirs AS (
        |  SELECT s1 AS u, s2 AS nbr, w FROM pw
        |  UNION ALL SELECT s2, s1, w FROM pw),
        |topk AS (
        |  SELECT u, nbr FROM (
        |    SELECT u, nbr, ROW_NUMBER() OVER (PARTITION BY u ORDER BY w DESC, nbr) AS rn
        |    FROM dirs) WHERE rn <= 8),
        |e AS (
        |  SELECT LEAST(u, nbr) AS a, GREATEST(u, nbr) AS b
        |  FROM topk GROUP BY 1, 2 HAVING COUNT(*) = 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        |o AS (
        |  SELECT CASE WHEN da.d * 1000000000 + e.a < db.d * 1000000000 + e.b
        |              THEN e.a ELSE e.b END AS lo,
        |         CASE WHEN da.d * 1000000000 + e.a < db.d * 1000000000 + e.b
        |              THEN e.b ELSE e.a END AS hi,
        |         CASE WHEN da.d * 1000000000 + e.a < db.d * 1000000000 + e.b
        |              THEN db.d * 1000000000 + e.b ELSE da.d * 1000000000 + e.a END AS rhi
        |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
        |wedge AS (
        |  SELECT x.hi AS v, y.hi AS w
        |  FROM o x JOIN o y ON x.lo = y.lo AND x.rhi < y.rhi),
        |tri AS (
        |  SELECT COUNT(*) AS t FROM wedge JOIN o
        |  ON wedge.v = o.lo AND wedge.w = o.hi)
        |SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
        |  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT COUNT(*) FROM wedge) AS BIGINT) AS n_wedges,
        |  CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles""".stripMargin,
    "q123_bucketed_join" ->
      // plain join+rollup: the bucketed layout changes the PLAN
      // (zero hash exchanges), never the result
      """SELECT o_custkey, c_name, COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_name
        |ORDER BY o_custkey""".stripMargin,
    "q124_salted_distinct" ->
      // the UNSALTED aggregate: the salt is a plan-shape device and
      // must be invisible in the result
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS distinct_users,
        |  COUNT(*) AS n_events,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q125_incremental_agg" ->
      // the from-scratch rollup: merged state must match exactly
      """SELECT o_orderdate, COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM orders GROUP BY o_orderdate ORDER BY o_orderdate""".stripMargin,
    "q126_anomaly_zscore" ->
      """WITH m AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
        |         AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  ROUND((e.value - m.sx / m.n) / (sqrt(m.n * m.sxx - m.sx * m.sx) / m.n), 6)
        |    AS z
        |FROM events e JOIN m USING (event_type)
        |WHERE sqrt(m.n * m.sxx - m.sx * m.sx) / m.n > 0
        |  AND ABS((e.value - m.sx / m.n)
        |          / (sqrt(m.n * m.sxx - m.sx * m.sx) / m.n)) > 3
        |ORDER BY e.event_id""".stripMargin,
    "q127_winsorize" ->
      """WITH r AS (
        |  SELECT event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = (n * 5 + 99) // 100 THEN value END) AS lo,
        |    MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS hi
        |  FROM r GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  GREATEST(b.lo, LEAST(b.hi, e.value)) AS value_w
        |FROM events e JOIN b USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    "q121_drift" ->
      """WITH c AS (
        |  SELECT epoch_us(ts) // 604800000000 AS week, event_type, COUNT(*) AS n
        |  FROM events GROUP BY week, event_type)
        |SELECT week, event_type, n,
        |  LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
        |  CAST(n AS DOUBLE) / LAG(n) OVER (PARTITION BY event_type ORDER BY week)
        |    AS wow_ratio
        |FROM c ORDER BY week, event_type""".stripMargin,
    "q112_forward_fill" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_type <> 'error' THEN value END AS reading,
        |  LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events ORDER BY event_id""".stripMargin,
    "q111_asof_sql" ->
      // same oracle as q41: DuckDB's native ASOF LEFT JOIN
      """SELECT p.event_id AS p_event, p.user_id, c.event_id AS c_event
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_event""".stripMargin,
    "q166_ols" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n_rows,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
        |           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n_rows, n, s1, s2, sy,
        |    (s11 - s1 * s1 / n) AS c11,
        |    (s12 - s1 * s2 / n) AS c12,
        |    (s22 - s2 * s2 / n) AS c22,
        |    (s1y - s1 * sy / n) AS c1y,
        |    (s2y - s2 * sy / n) AS c2y,
        |    (syy - sy * sy / n) AS cyy
        |  FROM m),
        |b AS (
        |  SELECT l_returnflag, n_rows, n, s1, s2, sy, c1y, c2y, cyy,
        |    ((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12)) AS b1,
        |    ((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)) AS b2
        |  FROM c)
        |SELECT l_returnflag, n_rows,
        |  ROUND((sy - b1 * s1 - b2 * s2) / n, 6) AS b0,
        |  ROUND(b1, 6) AS b1_qty,
        |  ROUND(b2, 6) AS b2_disc,
        |  ROUND((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
        |FROM b ORDER BY l_returnflag""".stripMargin,
    "q110_correlation" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ROUND((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q109_curation_pipeline" ->
      """WITH s1 AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
        |l0 AS (SELECT *,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|is|to)\b')) AS c_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS c_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS c_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS c_es
        |  FROM s1),
        |lang AS (SELECT doc_id, text FROM l0
        |  WHERE c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0),
        |q0 AS (SELECT doc_id, text, LENGTH(text) AS nc,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS nw,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|or|in)\b')) AS ns,
        |    len(regexp_extract_all(text, '[\.,;:!\?]')) AS np
        |  FROM lang),
        |qual AS (SELECT doc_id, text FROM q0
        |  WHERE (CASE WHEN nc >= 100 THEN 1 ELSE 0 END
        |       + CASE WHEN nw >= 20 THEN 1 ELSE 0 END
        |       + CASE WHEN ns >= 2 THEN 1 ELSE 0 END
        |       + CASE WHEN np * 10 <= nw THEN 1 ELSE 0 END) >= 3),
        |ded AS (SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM qual) t WHERE rn = 1),
        |hw AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id % 17 = 0),
        |held AS (SELECT DISTINCT
        |    unnest([array_to_string(w[x:x+4], ' ') for x in range(1, len(w)-3)]) AS gram
        |  FROM hw WHERE len(w) >= 5),
        |dw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM ded),
        |dg AS (SELECT doc_id,
        |    unnest([array_to_string(w[x:x+4], ' ') for x in range(1, len(w)-3)]) AS gram
        |  FROM dw WHERE len(w) >= 5),
        |cont AS (SELECT DISTINCT dg.doc_id FROM dg JOIN held USING (gram)),
        |clean AS (SELECT * FROM ded
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT CAST(1 AS INTEGER) AS stage_no, 'input' AS stage, COUNT(*) AS n_docs FROM documents
        |UNION ALL SELECT 2, 'holdout_split', COUNT(*) FROM s1
        |UNION ALL SELECT 3, 'lang_en', COUNT(*) FROM lang
        |UNION ALL SELECT 4, 'quality', COUNT(*) FROM qual
        |UNION ALL SELECT 5, 'dedup', COUNT(*) FROM ded
        |UNION ALL SELECT 6, 'decontaminated', COUNT(*) FROM clean
        |ORDER BY stage_no""".stripMargin,
    "q107_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS ts_signup,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS ts_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS ts_purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  CAST(CASE WHEN ts_signup IS NULL THEN 0
        |       WHEN ts_click IS NULL OR ts_click < ts_signup THEN 1
        |       WHEN ts_purchase IS NULL OR ts_purchase < ts_click THEN 2
        |       ELSE 3 END AS INTEGER) AS funnel_stage
        |FROM f ORDER BY user_id""".stripMargin,
    "q108_retention" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT c.cohort_day, CAST(d.day - c.cohort_day AS INTEGER) AS "offset",
        |  COUNT(DISTINCT d.user_id) AS n_users
        |FROM d JOIN c USING (user_id)
        |WHERE d.day - c.cohort_day <= 7
        |GROUP BY c.cohort_day, "offset"
        |ORDER BY c.cohort_day, "offset"""".stripMargin,
    "q105_schema_evolution" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |  CAST(NULL AS VARCHAR) AS c_mktsegment,
        |  CAST(NULL AS INTEGER) AS loyalty_tier
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  CAST(c_custkey % 3 AS INTEGER) AS loyalty_tier
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin,
    "q106_gap_fill" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour, COUNT(*) AS n
        |  FROM events GROUP BY user_id, hour),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(MIN(hour), MAX(hour))) AS hour
        |  FROM c GROUP BY user_id)
        |SELECT spine.user_id, spine.hour, COALESCE(c.n, 0) AS n
        |FROM spine LEFT JOIN c USING (user_id, hour)
        |ORDER BY user_id, hour""".stripMargin,
    "q104_pagerank" -> pagerankOracle,
    // identical full-graph oracle: the incremental path must reproduce
    // the from-scratch recompute bit-for-bit (base ∪ delta partitions
    // the orders, the anti-join restores pair distinctness)
    "q113_incremental_pagerank" -> pagerankOracle,
    "q98_rolling_features" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_24h,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 4) AS sum_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q99_partition_prune" ->
      // date derived in a CTE: DuckDB 1.0 mis-coerces
      // `CAST(ts_ns AS DATE) IN (DATE ...)` to zero rows
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS event_date, event_type, value FROM events)
        |SELECT event_date, event_type,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM t
        |WHERE event_date IN (DATE '2024-01-05', DATE '2024-01-12')
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
    "q101_zorder_layout" ->
      // the 8-bit Morton interleave, unrolled: bit i of x -> 2i,
      // bit i of y -> 2i+1
      """WITH g AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
        |z AS (SELECT x, y,
        |  (x & 1) | ((y & 1) << 1) | ((x & 2) << 1) | ((y & 2) << 2) |
        |  ((x & 4) << 2) | ((y & 4) << 3) | ((x & 8) << 3) | ((y & 8) << 4) |
        |  ((x & 16) << 4) | ((y & 16) << 5) | ((x & 32) << 5) | ((y & 32) << 6) |
        |  ((x & 64) << 6) | ((y & 64) << 7) | ((x & 128) << 7) | ((y & 128) << 8)
        |  AS zv FROM g)
        |SELECT zv // 4096 AS z_bucket, COUNT(*) AS n,
        |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
        |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,
    "q102_weighted_mean" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
        |           * CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    / SUM(CAST(l_quantity AS BIGINT)) / 100.0 AS w_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q103_sliding_window" ->
      // each event joins its 6 covering windows: starts at the event's
      // hour floor minus 0..5 hours (6h width, 1h slide)
      """WITH t AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        |w AS (SELECT (us // 3600000000) * 3600 - k * 3600 AS win_start, event_type
        |      FROM t CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k))
        |SELECT win_start, event_type, COUNT(*) AS n_events
        |FROM w GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,
    "q100_reconcile_halves" ->
      """WITH h1 AS (SELECT o_custkey, COUNT(*) AS n_h1 FROM orders
        |            WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |     h2 AS (SELECT o_custkey, COUNT(*) AS n_h2 FROM orders
        |            WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1)
        |SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS o_custkey,
        |  CASE WHEN n_h1 IS NULL THEN 'h2_only'
        |       WHEN n_h2 IS NULL THEN 'h1_only'
        |       ELSE 'both' END AS status,
        |  COALESCE(n_h1, 0) AS n_h1, COALESCE(n_h2, 0) AS n_h2
        |FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
        |ORDER BY o_custkey""".stripMargin)
}
