package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale

class ScaleSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  test("saltedJoin result equals the plain join (inner + left)") {
    import spark.implicits._
    val orders = Tables.load(spark, sf, "orders")
    val customer = Tables.load(spark, sf, "customer")
      .select($"c_custkey".as("ck"), $"c_name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"o_orderkey", $"c_name").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
        .sorted.toSeq
    val plain = orders.join(customer, $"o_custkey" === $"ck")
    val salted = Scale.saltedJoin(orders, customer, "o_custkey", "ck", salt = 7)
    assert(canon(salted) == canon(plain))
    val plainLeft = orders.join(customer, $"o_custkey" === $"ck", "left")
    val saltedLeft = Scale.saltedJoin(orders, customer, "o_custkey", "ck", 7, "left")
    assert(canon(saltedLeft) == canon(plainLeft))
  }

  test("bucketed tables join without an exchange") {
    import spark.implicits._
    // the suite may share a session whose warehouse dir isn't ours
    // (getOrCreate ignores configs on an existing session): drop any
    // prior tables AND their leftover locations before recreating
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
      val loc = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val stream = java.nio.file.Files.walk(loc)
        try stream.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
        finally stream.close()
      }
    }
    Scale.writeBucketed(
      Tables.load(spark, sf, "orders"), "orders_b", "o_custkey", 8)
    Scale.writeBucketed(
      Tables.load(spark, sf, "customer").select($"c_custkey".as("ck"), $"c_name"),
      "customer_b", "ck", 8)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), $"o_custkey" === $"ck")
    // force SMJ path so the bucketed partitioning matters, then assert
    // the executed plan needs NO shuffle on either side
    val smj = joined.hint("merge")
    smj.count()
    val plan = smj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("partitioned write prunes partitions at the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("events_part").toString
    Scale.writePartitioned(
      Tables.load(spark, sf, "events").select($"event_id", $"user_id", $"event_type"),
      dir, "event_type")
    val pruned = spark.read.parquet(dir).where($"event_type" === "click")
    pruned.count()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("isnotnull(event_type"), s"no partition pruning:\n$scan")
    // only the click directory is listed: row count matches the source
    val exp = Tables.load(spark, sf, "events").where($"event_type" === "click").count()
    assert(pruned.count() == exp)
  }

  test("AQE splits a skewed sort-merge join partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one hot key (~5 MB of padded rows) vs tiny thresholds: AQE's
    // OptimizeSkewedJoin must split the hot partition into sub-reads
    // of the same right side — the automatic complement to saltedJoin
    // (which handles the one case AQE can't: a single giant key-GROUP).
    // pad must be incompressible: skew detection reads the COMPRESSED
    // shuffle partition sizes, and a constant pad would lz4 away
    val left = spark.range(0, 30000)
      .select(when($"id" < 25000, 0L).otherwise($"id").as("k"),
        repeat(md5($"id".cast("string")), 8).as("pad"))
    val right = spark.range(0, 200).select($"id".as("rk"),
      lit("y").as("tag"))
    val knobs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      // keep pad in the output: column pruning would otherwise shrink
      // the hot partition below the skew threshold
      val joined = left.join(right.hint("merge"), $"k" === $"rk")
      // run THIS dataset's QueryExecution (count() would plan its own),
      // so the adaptive plan below is the one that actually executed
      val n = joined.collect().length
      assert(n == 25000) // the hot key 0 meets rk=0; tail keys miss
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"skew join did not trigger:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("persisted IVF index: bucketed by cell, probe reads only nprobe buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{best_cell, top_cells}
    val k = 16
    val cents = graft.operators.Similarity.centroids(spark, sf, k)
    spark.sql("DROP TABLE IF EXISTS ivf_idx")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = java.nio.file.Paths.get(wh, "ivf_idx")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(loc)
      try stream.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally stream.close()
    }
    // index build: one map-only pass assigns cells, write bucketed by
    // cell — the persisted form of q47's transient assignment, so every
    // later probe pays ZERO assignment/shuffle cost
    Scale.writeBucketed(
      Tables.load(spark, sf, "embeddings")
        .select($"vec_id", $"embedding",
          best_cell($"embedding", cents.flatten, k).as("cell")),
      "ivf_idx", "cell", k)
    // probe: nprobe=4 cells for one query vector -> the scan must list
    // only those buckets, not the whole index
    val probeCells = Tables.load(spark, sf, "embeddings")
      .where($"vec_id" === 0)
      .select(explode(top_cells($"embedding", cents.flatten, k, 4)))
      .collect().map(_.getInt(0)).toSeq
    assert(probeCells.size == 4)
    // a filter-only probe has no join/agg, so the planner's
    // auto-bucketed-scan heuristic would fall back to a plain scan;
    // pin the bucketed read so bucket pruning applies
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val savedAuto = spark.conf.getOption(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      val probed = spark.table("ivf_idx")
        .where($"cell".isin(probeCells: _*))
      val scan = probed.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 4 out of 16"),
        s"bucket pruning missing:\n$scan")
      // pruned read returns exactly the rows of those cells
      val expected = Tables.load(spark, sf, "embeddings")
        .select(best_cell($"embedding", cents.flatten, k).as("cell"))
        .where($"cell".isin(probeCells: _*)).count()
      assert(probed.count() == expected && expected > 0)
    } finally savedAuto match {
      case Some(v) => spark.conf.set(autoKey, v)
      case None => spark.conf.unset(autoKey)
    }
  }

  test("persisted minhash band index: band self-join needs no exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.min_hash_bands_words
    spark.sql("DROP TABLE IF EXISTS bands_idx")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = java.nio.file.Paths.get(wh, "bands_idx")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(loc)
      try stream.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally stream.close()
    }
    // index build: one pass computes band keys, persisted bucketed by
    // key — the incremental-dedup shape: matching NEW documents against
    // the indexed corpus re-shuffles neither side on re-runs
    val bands = Tables.load(spark, sf, "documents")
      .select($"doc_id",
        posexplode(min_hash_bands_words($"text", 3, 16, 4))
          .as(Seq("band", "key")))
    Scale.writeBucketed(bands, "bands_idx", "key", 8)
    // bucketing on `key` alone co-locates every (band, key) pair, but
    // since SPARK-35703 co-partitioning DEMANDS the full join-key set
    // unless requireAllClusterKeysForCoPartition is off — that conf is
    // precisely the subset-bucketed-index knob, so turn it off here
    val knobs = Seq(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val saved = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      val idx = spark.table("bands_idx")
      val a = idx.toDF("doc_a", "band", "key")
      val b = idx.toDF("doc_b", "band", "key")
      val joined = a.join(b.hint("merge"), Seq("band", "key"))
        .where($"doc_a" < $"doc_b")
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"band index still shuffles:\n$plan")
      // and the candidate pairs equal the unindexed formulation's
      val direct = bands.toDF("doc_a", "band", "key")
        .join(bands.toDF("doc_b", "band", "key"), Seq("band", "key"))
        .where($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b").distinct().count()
      val viaIndex = joined.select($"doc_a", $"doc_b").distinct().count()
      assert(viaIndex == direct && direct > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q67 chunking: a hot hour splits into bounded key groups; result is chunking-independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("hot_events").toString
    val hourUs = 3600L * 1000000L
    // hour 0 is globally hot: 120 users x 25 events at 2-min spacing
    // (one 48-min session each, all mutually overlapping) -> 3000
    // events, ~120 concurrent sessions in ONE bucket. Hour 48 is cold:
    // 10 users with one point-session each (no overlaps).
    val hot = spark.range(0, 120).select($"id".as("user_id"))
      .crossJoin(spark.range(0, 25).toDF("i"))
      .select(($"user_id" * 25 + $"i").as("event_id"),
        ($"i" * 120000000L + $"user_id" * 1000L).as("us"),
        $"user_id")
    val cold = spark.range(0, 10)
      .select(($"id" + 100000L).as("event_id"),
        (lit(48L) * hourUs + $"id" * 60000000L).as("us"),
        ($"id" + 1000L).as("user_id"))
    hot.unionByName(cold)
      .select($"event_id", ($"us" * 1000L).as("ts"), $"user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // chunkRows=256 -> hot bucket nc = ceil(3000/256) = 12, cold nc = 1
    val (a, b) = graft.operators.Extras.intervalJoinSides(Scope.Lazy, spark, dir, hourUs, 256L)
    val maxCb = a.agg(max($"cb")).collect()(0).getInt(0)
    assert(maxCb == 11, s"hot hour not segmented into 12 chunks (max cb = $maxCb)")
    // per-key-group input = one chunk's sessions, NOT the bucket's 120:
    // E[|chunk|] = 10; allow hash-variance slack but stay far under the
    // unsegmented ceiling — this is the bound that keeps one busy hour
    // from becoming one unsplittable task at 100 TB
    val maxA = a.groupBy($"bucket", $"ca", $"cb").count()
      .agg(max($"count")).collect()(0).getLong(0)
    val maxB = b.groupBy($"bucket", $"ca", $"cb").count()
      .agg(max($"count")).collect()(0).getLong(0)
    assert(maxA <= 40 && maxB <= 40,
      s"key-group input not bounded by the chunking: a=$maxA b=$maxB")
    // the pair set is independent of the chunking: chunked == unchunked
    // (huge chunkRows -> nc=1 everywhere, the pure bucket join), and
    // equals the closed form 120*119/2 (every hot pair overlaps; the
    // cold point-sessions never do)
    def rows(chunkRows: Long) =
      Scope(graft.operators.Extras.intervalJoinOn(spark, dir, hourUs, chunkRows, _))
        .collect().map(_.toSeq).toSeq
    val chunked = rows(256L)
    assert(chunked.size == 120 * 119 / 2, s"expected 7140 pairs, got ${chunked.size}")
    assert(chunked == rows(1000000L), "chunked result differs from unchunked")
  }

  test("q139: prefix filtering reproduces brute-force Jaccard>=0.9 exactly") {
    import spark.implicits._
    val got = SparkEntry.queries("q139_setsim_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    // driver-side brute force over the collected token sets — the
    // quadratic scan the prefix-join blocking must reproduce losslessly
    val sets = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "array_distinct(filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)) AS toks")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib
      inter = (sa intersect sb).size
      if 19 * inter >= 9 * (sa.size + sb.size)
    } yield (ia, ib, inter, (sa.size + sb.size - inter).toLong)).toSet
    assert(got == brute,
      s"blocked=${got.size} brute=${brute.size}; sample diff=${(brute diff got).take(3)}")
    // and the filter did real work: candidates carry only rare tokens,
    // so the pair list must be far below the all-pairs count
    assert(got.size < sets.length.toLong * (sets.length - 1) / 8)
  }

  test("q144: asymmetric prefix probe reproduces brute-force containment exactly") {
    import spark.implicits._
    val got = SparkEntry.queries("q144_containment_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    // driver-side brute force over the collected 3-gram shingle sets
    val sets = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0) AS ws")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.size >= 3)
      .map { case (id, ws) =>
        (id, ws.sliding(3).map(_.mkString(" ")).toSet)
      }
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia != ib
      inter = (sa intersect sb).size
      if 10 * inter >= 7 * sa.size
    } yield (ia, ib, inter, sa.size)).toSet
    assert(got == brute,
      s"blocked=${got.size} brute=${brute.size}; sample diff=${(brute diff got).take(3)}")
    // the probe join touched only rare-shingle postings — candidate
    // output must sit far below the ordered all-pairs count
    assert(got.size < sets.length.toLong * (sets.length - 1) / 8)
  }

  test("q173: incremental winnow pairs contain every delta-restricted q164 pair") {
    import spark.implicits._
    // containment argument: q164 caps on FULL-corpus df, q173 on
    // corpus-only df; full-df >= corpus-df, so q164's kept fingerprint
    // set is a subset of q173's and shared_164 <= shared_173 — every
    // delta x corpus pair q164 reports at >= 4 shared must appear in
    // q173. (The converse need not hold: a fingerprint pushed over
    // the cap only by delta occurrences still counts for q173.)
    val inc = SparkEntry.queries("q173_winnow_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.nonEmpty, "no incremental pairs on the fixture")
    val full = SparkEntry.queries("q164_winnowing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (a % 10 == 7 && b % 10 != 7) Some((a, b))
        else if (b % 10 == 7 && a % 10 != 7) Some((b, a))
        else None
      }.toSet
    assert(full.subsetOf(inc),
      s"missing delta pairs: ${(full diff inc).take(5)}")
  }

  test("q140: sorted-neighborhood pairs are a subset of the exact q139 join") {
    // same tokenization, same tau=0.9 integer test — every pair the
    // window finds must also be in the exhaustive prefix-filtered
    // join, and the window must find a nontrivial share of them
    // (recall here, NOT 100%: divergent 24-char prefixes are missed
    // by design)
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val exact = pairs("q139_setsim_join")
    val snm = pairs("q140_sorted_neighborhood")
    assert(snm.nonEmpty && snm.subsetOf(exact),
      s"window found ${(snm diff exact).size} pairs the exact join lacks")
    assert(snm.size * 100 >= exact.size,
      s"recall ${snm.size}/${exact.size} below 1% — sort key not discriminating")
  }

  test("q162: second SNM pass is sound and never loses recall vs one pass") {
    // multi-pass SNM (forward + reversed prefix keys): still a subset
    // of the exact prefix-filtered join (each pass runs the same
    // integer Jaccard verify), and a superset of the single forward
    // pass — the second key can only ADD verified pairs
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val exact = pairs("q139_setsim_join")
    val onePass = pairs("q140_sorted_neighborhood")
    val twoPass = pairs("q162_snm_multipass")
    assert(twoPass.subsetOf(exact),
      s"multipass found ${(twoPass diff exact).size} pairs the exact join lacks")
    assert(onePass.subsetOf(twoPass),
      s"pass-2 union lost ${(onePass diff twoPass).size} pass-1 pairs")
    info(s"recall vs exact: 1-pass ${onePass.size}/${exact.size}, " +
      s"2-pass ${twoPass.size}/${exact.size}")
  }

  test("runtime Bloom filter prunes the big side of a selective join") {
    import spark.implicits._
    // a selective dim filter should inject a bloom filter on the fact
    // side's join key at runtime — rows that can't join die at the
    // scan instead of riding the shuffle (Spark's runtime row-level
    // filtering; the 100 TB complement to static partition pruning)
    val knobs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      // test-SF data sits far below the 10GB production default
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      val orders = Tables.load(spark, sf, "orders")
        .where($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_totalprice")
      val lineitem = Tables.load(spark, sf, "lineitem")
        .select($"l_orderkey", $"l_quantity")
      val joined = lineitem.join(orders.hint("merge"),
        $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // and it doesn't change the answer
      val expected = Tables.load(spark, sf, "lineitem").as("l")
        .join(Tables.load(spark, sf, "orders")
          .where($"o_orderpriority" === "1-URGENT"), $"l_orderkey" === $"o_orderkey")
        .count()
      assert(joined.count() == expected && expected > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GraftExtensions: strategy + functions via withExtensions") {
    // GraftSession.local is the one recipe that installs them. It must
    // do so even when a stock session is the JVM's default and active
    // session, which getOrCreate() hands back with the extensions
    // silently dropped
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    val stock = TestSession.stock()
    SparkSession.setDefaultSession(stock)
    SparkSession.setActiveSession(stock)
    val s2 = try GraftSession.local(3) finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    assert(s2.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s2.conf.get("spark.sql.shuffle.partitions") == "3")
    // the planner strategy is installed session-wide
    assert(s2.sessionState.planner.strategies
      .contains(graft.plans.AsOfJoinStrategy))
    val r = s2.sql(
      "SELECT fuzz_ratio('abcd','abed') AS f, ascii_fold('Björk') AS a").collect()(0)
    assert(r.getDouble(0) == 75.0 && r.getString(1) == "Bjork")
    // the injected parser takes ASOF JOIN and the custom exec runs it
    val asof = s2.sql(
      """SELECT * FROM (SELECT 1L AS k, 10L AS t) l
        |ASOF JOIN (SELECT 1L AS rk, 5L AS rt) r
        |  ON k = rk AND asof_backward(t, rt)""".stripMargin)
    assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(asof.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 10L, 1L, 5L)))

    // the FULL kernel surface is SQL-exposed: q29's near-dup
    // pipeline (signature -> bands -> candidate join -> exact
    // verify) as pure SQL, equal to the DataFrame formulation
    s2.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    val sqlPairs = s2.sql(
      """WITH bands AS (
        |  SELECT doc_id, b.band, b.key
        |  FROM documents
        |  LATERAL VIEW posexplode(min_hash_bands_words(text, 3, 16, 4)) b AS band, key),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |grams AS (SELECT doc_id, gram_set(text, 3) AS grams FROM documents)
        |SELECT doc_a, doc_b, jaccard_sorted(ga.grams, gb.grams) AS jac
        |FROM cand
        |JOIN grams ga ON ga.doc_id = doc_a
        |JOIN grams gb ON gb.doc_id = doc_b
        |WHERE jaccard_sorted(ga.grams, gb.grams) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dfPairs = SparkEntry.queries("q29_dedup_minhash")(s2, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sqlPairs.nonEmpty && sqlPairs == dfPairs)

    // remaining kernels answer from SQL with literal tuning params
    val k = s2.sql(
      """SELECT min_hash('abcdef', 3)[0] AS mh,
        |       doc_fingerprint('abcdef', 4) AS fp,
        |       size(lsh_buckets(array(1.0F, 2.0F), 6, 12)) AS nt,
        |       sum(1) AS one
        |FROM range(1)""".stripMargin).collect()(0)
    assert(k.getInt(2) == 12)
    // top_k_by (aggregate) and ngrams (generator) via SQL
    val tk = s2.sql(
      """SELECT top_k_by(CAST(id AS DOUBLE), id, 2) AS top
        |FROM range(10)""".stripMargin).collect()(0)
    assert(tk.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(9L, 8L))
    val ng = s2.sql(
      "SELECT ngram FROM (SELECT 'abcd' AS s) LATERAL VIEW ngrams(s, 2) g AS ngram")
      .collect().map(_.getString(0)).toSeq
    assert(ng == Seq("ab", "bc", "cd"))
    // binary field readers: both endiannesses + the 16-bit LE field
    val bin = s2.sql(
      """SELECT be_int(X'12345678', 0) AS be, le_int(X'78563412', 0) AS le,
        |       le_short(X'3412', 0) AS ls, le_int(X'00', 0) AS oob
        |FROM range(1)""".stripMargin).collect()(0)
    assert(bin.getInt(0) == 0x12345678 && bin.getInt(1) == 0x12345678 &&
      bin.getInt(2) == 0x1234 && bin.getInt(3) == -1)
  }
}
