package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SegStore

/** The segment log's commit/read/compaction contract — the layer that
  * makes the three streaming gates' store maintenance delta-sized and
  * crash-safe (round-12 task 1). Crash points are simulated by what
  * they leave on disk: an uncommitted (torn) segment directory.
  */
class SegStoreSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def writeSeg(root: String, id: Long, base: Boolean,
      rows: Seq[(Long, Long)], commit: Boolean): Unit = {
    import spark.implicits._
    rows.toDF("k", "v").write.mode("overwrite")
      .parquet(s"${SegStore.segPath(root, id, base)}/kv")
    if (commit) SegStore.commit(spark, root, id, base)
  }

  test("uncommitted (torn) segments are invisible to readers") {
    val root = Files.createTempDirectory("segstore_torn").toString
    writeSeg(root, 0, base = false, Seq((1L, 10L)), commit = true)
    writeSeg(root, 1, base = false, Seq((2L, 20L)), commit = false) // crash before marker
    assert(SegStore.active(spark, root).map(_.id) == Seq(0L))
    assert(!SegStore.isApplied(spark, root, 1))
    val read = SegStore.read(spark, root, "kv").get.collect()
    assert(read.length == 1 && read(0).getLong(0) == 1L)
    // the replay overwrites the torn directory and commits — now visible
    writeSeg(root, 1, base = false, Seq((2L, 21L)), commit = true)
    assert(SegStore.isApplied(spark, root, 1))
    assert(SegStore.read(spark, root, "kv").get.count() == 2)
  }

  test("empty store reads as None; isApplied false") {
    val root = Files.createTempDirectory("segstore_empty").toString + "/sub"
    assert(SegStore.read(spark, root, "kv").isEmpty)
    assert(!SegStore.isApplied(spark, root, 0))
  }

  test("base segment subsumes earlier segments; later deltas stay visible; gc removes subsumed dirs") {
    val root = Files.createTempDirectory("segstore_base").toString
    writeSeg(root, 0, base = false, Seq((1L, 10L)), commit = true)
    writeSeg(root, 1, base = false, Seq((2L, 20L)), commit = true)
    // compaction at batch 2: the base holds the fold, and its commit
    // garbage-collects the segments it subsumes
    writeSeg(root, 2, base = true, Seq((1L, 10L), (2L, 20L), (3L, 30L)), commit = true)
    writeSeg(root, 3, base = false, Seq((4L, 40L)), commit = true)
    assert(SegStore.active(spark, root).map(s => (s.id, s.base)) ==
      Seq((2L, true), (3L, false)))
    assert(SegStore.read(spark, root, "kv").get.count() == 4)
    // gc ran on the base commit: the subsumed delta dirs are gone
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left == Set("base_2", "delta_3"), s"gc left: $left")
  }

  test("two bases (gc crash residue): only the newest base + later deltas are read") {
    val root = Files.createTempDirectory("segstore_twobase").toString
    // base_1 committed, then delta_2, then a second compaction at
    // batch 3 whose gc was interrupted by a crash AFTER the marker —
    // base_1 and delta_2 survive on disk but must be invisible
    writeSeg(root, 1, base = true, Seq((1L, 10L)), commit = true)
    writeSeg(root, 2, base = false, Seq((2L, 20L)), commit = true)
    // write base_3 and create its marker WITHOUT gc (simulate the
    // crash window by creating the marker by hand, not via commit)
        writeSeg(root, 3, base = true,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)), commit = false)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      SegStore.segPath(root, 3, base = true), "_GRAFT_COMMITTED"), true).close()
    writeSeg(root, 4, base = false, Seq((4L, 40L)), commit = true)
    assert(SegStore.active(spark, root).map(s => (s.id, s.base)) ==
      Seq((3L, true), (4L, false)),
      s"stale base/delta leaked into the view: ${SegStore.active(spark, root)}")
    assert(SegStore.read(spark, root, "kv").get.count() == 4)
    // the NEXT base commit garbage-collects the stale residue too
    writeSeg(root, 5, base = true,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)), commit = true)
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left == Set("base_5"), s"gc left: $left")
  }

  test("readTagged carries the segment id for latest-wins resolution") {
    val root = Files.createTempDirectory("segstore_tag").toString
    writeSeg(root, 0, base = false, Seq((1L, 10L), (2L, 20L)), commit = true)
    writeSeg(root, 1, base = false, Seq((2L, 99L)), commit = true)
    val t = SegStore.readTagged(spark, root, "kv").get
    import org.apache.spark.sql.functions._
    val latest = t.groupBy(col("k"))
      .agg(expr("max_by(v, _seg)").as("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == Map(1L -> 10L, 2L -> 99L))
  }

  test("ensureBucketed verifies the persisted physical spec: keys/schema drift fails, bucket count is store-owned") {
    val root = Files.createTempDirectory("segstore_spec").toString + "/s"
    SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 4)
    // same spec, formatting drift: no error (normalized comparison)
    SegStore.ensureBucketed(spark, root, "kv",
      "k  bigint,   v BIGINT", Seq("K"), 4)
    // the bucket count is STORE-owned (escalation can change it), so a
    // caller passing a different creation default is ignored — the
    // recorded count stays authoritative
    val name = SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 8)
    assert(org.apache.spark.sql.GraftBridge.numBuckets(spark, name)
      .contains(4), "caller's bucket count overrode the recorded spec")
    // different key cols: a physical mismatch — must throw
    val e = intercept[IllegalStateException] {
      SegStore.ensureBucketed(spark, root, "kv",
        "k BIGINT, v BIGINT", Seq("v"), 4)
    }
    assert(e.getMessage.contains("physical spec"))
    // different schema: also a mismatch
    intercept[IllegalStateException] {
      SegStore.ensureBucketed(spark, root, "kv",
        "k BIGINT, v BIGINT, w BIGINT", Seq("k"), 4)
    }
    // legacy store (no spec file): stamped with the live spec on the
    // next declare, so the check becomes effective going forward
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val specPath = new org.apache.hadoop.fs.Path(
      SegStore.bucketedLoc(root, "kv"), "_GRAFT_SPEC")
    fs.delete(specPath, false)
    SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 4)
    assert(fs.exists(specPath), "legacy store not stamped with live spec")
    intercept[IllegalStateException] {
      SegStore.ensureBucketed(spark, root, "kv",
        "k BIGINT, v BIGINT", Seq("other"), 4)
    }
  }

  test("bucket-count escalation: a base compaction re-buckets when bytes/bucket exceed the threshold, atomically with the base marker") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("segstore_escal").toString + "/s"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def specText(): String = {
      val p = new org.apache.hadoop.fs.Path(
        SegStore.bucketedLoc(root, "kv"), "_GRAFT_SPEC")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def declare(): String = SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 2)
    def buckets(): Int =
      org.apache.spark.sql.GraftBridge.numBuckets(spark, declare()).get
    val name = declare()
    val rows = (0L until 5000L).map(i => (i, i * 10)).toDF("k", "v")
    SegStore.writeBucketed(spark, root, "kv", rows, 0L)
    SegStore.commit(spark, root, 0L, base = false)
    locally {
      // tiny PER-STORE threshold (recorded in the spec via the
      // ensureBucketed policy param — no JVM-global knob): the base
      // fold at batch 1 must escalate 2 -> a power-of-2; just assert
      // it GREW and the store is intact
      SegStore.ensureBucketed(spark, root, "kv",
        "k BIGINT, v BIGINT", Seq("k"), 2,
        escalateBytesPerBucket = Some(8L << 10)) // 8 KB per bucket
      assert(specText().contains(";esc=8192"),
        s"per-store threshold not recorded: ${specText()}")
      val folded = spark.table(name).drop("_seg").localCheckpoint()
      SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded), 1L,
        base = true)
      // transition recorded but NOT yet effective: the base has not
      // committed — a fresh declare must still resolve the OLD count
      assert(specText().contains(";next="), s"no pending transition: ${specText()}")
      // (simulate the in-session replay-after-crash: the catalog
      // currently claims the escalated count; ensureBucketed must heal
      // it back to the still-effective old count)
      assert(buckets() == 2,
        "uncommitted transition leaked into the effective bucket count")
      // re-run the 'batch': escalate + insert again (replay semantics),
      // then commit — the flip rides the marker
      SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded), 1L,
        base = true)
      SegStore.commit(spark, root, 1L, base = true)
      val n = buckets()
      assert(n > 2, s"base compaction did not escalate (still $n buckets)")
      // the declare above also compacted the committed transition
      assert(!specText().contains(";next="),
        s"committed transition not folded into the spec: ${specText()}")
      assert(specText().startsWith(s"buckets=$n;"))
      // physical layout: the base partition's files carry > 2 distinct
      // bucket ids (real re-bucketing, not just a catalog claim)
      val segDir = new java.io.File(
        SegStore.bucketedPartPath(root, "kv", 1L))
      val ids = segDir.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
        .flatMap("_(\\d{5})".r.findFirstMatchIn(_).map(_.group(1).toInt))
        .toSet
      assert(ids.size > 2, s"base partition files carry bucket ids $ids")
      // content unchanged through the escalation
      val got = spark.table(name).drop("_seg")
      assert(got.count() == 5000L)
      assert(got.except(rows).isEmpty && rows.except(got).isEmpty,
        "store content changed across the escalation")
      // probes still correct over the re-bucketed store
      val pr = SegStore.prunedScan(spark, root, "kv", "k",
        Seq(7L, 4999L, 999999L).toDF("k"))
      assert(pr.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 4999L))
      // and key-grain folds stay exchange-free over the escalated scan
      val fold = spark.table(name).drop("_seg")
        .groupBy($"k").agg(sum($"v").as("v"))
      assert(!fold.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "escalated store lost its exchange-free fold")
      // a later delta lands at the escalated count and reads fold in
      SegStore.writeBucketed(spark, root, "kv",
        Seq((990000L, 1L)).toDF("k", "v"), 2L)
      SegStore.commit(spark, root, 2L, base = false)
      assert(spark.table(name).count() == 5001L)
    }
  }

  test("per-store escalation thresholds: two stores in one session tune independently") {
    import spark.implicits._
    // the round-16 nitpick: the old JVM-global threshold meant two
    // stores with different media in one session could not be tuned
    // separately; now the threshold lives in each store's spec
    val rootA = Files.createTempDirectory("segstore_esc_a").toString + "/s"
    val rootB = Files.createTempDirectory("segstore_esc_b").toString + "/s"
    val rows = (0L until 5000L).map(i => (i, i)).toDF("k", "v")
    for ((root, esc) <- Seq((rootA, Some(1L)), (rootB, Some(Long.MaxValue)))) {
      SegStore.ensureBucketed(spark, root, "kv",
        "k BIGINT, v BIGINT", Seq("k"), 2, escalateBytesPerBucket = esc)
      SegStore.writeBucketed(spark, root, "kv", rows, 0L)
      SegStore.commit(spark, root, 0L, base = false)
      val folded = spark.table(SegStore.bucketedName(root, "kv"))
        .drop("_seg").localCheckpoint()
      SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded), 1L,
        base = true)
      SegStore.commit(spark, root, 1L, base = true)
    }
    def bucketsOf(root: String): Int =
      org.apache.spark.sql.GraftBridge.numBuckets(spark,
        SegStore.ensureBucketed(spark, root, "kv",
          "k BIGINT, v BIGINT", Seq("k"), 2)).get
    assert(bucketsOf(rootA) > 2,
      "store A (1-byte threshold) did not escalate at its base")
    assert(bucketsOf(rootB) == 2,
      "store B (MaxValue threshold) escalated despite its own policy")
    // both store contents intact
    for (root <- Seq(rootA, rootB)) {
      val got = spark.table(SegStore.bucketedName(root, "kv")).drop("_seg")
      assert(got.count() == 5000L)
      assert(got.except(rows).isEmpty && rows.except(got).isEmpty)
    }
  }

  test("commit() folds a committed bucket transition even without an intervening ensureBucketed") {
    import spark.implicits._
    // round-16 ADVICE #2: a direct-driven store that commits two bases
    // without re-declaring in between must not have a later base's GC
    // drop the marker dir the pending transition's == rule consults —
    // commit() itself folds the transition the moment it activates
    val root = Files.createTempDirectory("segstore_esc_fold").toString + "/s"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def specText(): String = {
      val p = new org.apache.hadoop.fs.Path(
        SegStore.bucketedLoc(root, "kv"), "_GRAFT_SPEC")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 2, escalateBytesPerBucket = Some(1L))
    val rows = (0L until 5000L).map(i => (i, i)).toDF("k", "v")
    SegStore.writeBucketed(spark, root, "kv", rows, 0L)
    SegStore.commit(spark, root, 0L, base = false)
    val folded = spark.table(SegStore.bucketedName(root, "kv"))
      .drop("_seg").localCheckpoint()
    SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded), 1L,
      base = true)
    assert(specText().contains(";next="), "escalation did not record a transition")
    SegStore.commit(spark, root, 1L, base = true)
    // folded AT COMMIT — no ensureBucketed ran since the writeSpec
    assert(!specText().contains(";next="),
      s"commit did not fold the committed transition: ${specText()}")
    assert(specText().startsWith("buckets=4;"),
      s"folded spec carries the wrong count: ${specText()}")
    // a second base straight after (still no ensureBucketed) reads the
    // escalated count — the old hazard was reverting to 2 buckets here
    val folded2 = spark.table(SegStore.bucketedName(root, "kv"))
      .drop("_seg").localCheckpoint()
    SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded2), 2L,
      base = true)
    SegStore.commit(spark, root, 2L, base = true)
    assert(specText().startsWith("buckets=8;") && !specText().contains(";next="),
      s"second direct base lost the escalated count: ${specText()}")
    val got = spark.table(SegStore.bucketedName(root, "kv")).drop("_seg")
    assert(got.count() == 5000L)
    assert(got.except(rows).isEmpty && rows.except(got).isEmpty)
  }

  test("bucketed writes are pre-partitioned by the bucket function: <= buckets files per partition") {
    import spark.implicits._
    // without the alignment a bucketed INSERT emits one file per
    // (write task x bucket) — probe scans pay per-file open/footer
    // cost, so file counts are a first-order probe-latency term
    // (GateProbe escurve: 64 files 1.3 s -> 4096 files 9.1 s)
    val root = Files.createTempDirectory("segstore_align").toString + "/s"
    SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 4)
    val rows = (0L until 4000L).map(i => (i, i)).toDF("k", "v")
      .repartition(8) // more write tasks than buckets
    SegStore.writeBucketed(spark, root, "kv", rows, 0L)
    SegStore.commit(spark, root, 0L, base = false)
    val files = new java.io.File(SegStore.bucketedPartPath(root, "kv", 0L))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length <= 4,
      s"bucketed write not aligned: ${files.length} files for 4 buckets")
    // and every key still lands in exactly one file (bucket function
    // preserved across the repartition)
    val got = spark.table(SegStore.bucketedName(root, "kv")).drop("_seg")
    assert(got.count() == 4000L)
    assert(got.except(rows).isEmpty && rows.except(got).isEmpty)
  }

  test("crashed escalation attempt: spec rewritten but base never committed - replay heals the catalog and a later unrelated base never activates the stale transition") {
    import spark.implicits._
    val root = Files.createTempDirectory("segstore_escal_crash").toString + "/s"
    def declare(): String = SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 2)
    val name = declare()
    val rows = (0L until 2000L).map(i => (i, i)).toDF("k", "v")
    SegStore.writeBucketed(spark, root, "kv", rows, 0L)
    SegStore.commit(spark, root, 0L, base = false)
    locally {
      SegStore.setEscalateThreshold(spark, root, 1L << 10)
      val folded = spark.table(name).drop("_seg").localCheckpoint()
      // batch 1 escalates + inserts, then 'crashes' (no commit)
      SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded), 1L,
        base = true)
      // a later base (different id) commits WITHOUT escalating — the
      // stale next=N@1 must not flip on (it is bound to id 1 exactly)
      SegStore.setEscalateThreshold(spark, root, Long.MaxValue) // no new escalation
      assert(org.apache.spark.sql.GraftBridge.numBuckets(spark, declare())
        .contains(2), "stale transition activated before its base committed")
      SegStore.writeBucketedAll(spark, root, Seq("kv" -> folded), 3L,
        base = true)
      SegStore.commit(spark, root, 3L, base = true)
      assert(org.apache.spark.sql.GraftBridge.numBuckets(spark, declare())
        .contains(2),
        "an unrelated base activated a stale uncommitted transition")
      assert(spark.table(name).drop("_seg").count() == 2000L)
    }
  }

  test("legacy identity-less markers are stamped on first checked replay") {
    val root = Files.createTempDirectory("segstore_legacyid").toString
    // committed before run identities existed (empty runId)
    writeSeg(root, 0, base = false, Seq((1L, 10L)), commit = true)
    // first identity-carrying replay: no-op, and the marker adopts the
    // live identity (round-13 ADVICE #2 — protection effective forward)
    assert(SegStore.isApplied(spark, root, 0, "run-X"))
    // same identity still replays as a no-op…
    assert(SegStore.isApplied(spark, root, 0, "run-X"))
    // …but a DIFFERENT checkpoint now fails loudly instead of
    // silently swallowing the batch as the legacy marker used to
    intercept[IllegalStateException] {
      SegStore.isApplied(spark, root, 0, "run-Y")
    }
  }

  test("prunedScan: small key sets push IN filters; large sets broadcast without a driver collect") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("segstore_prune").toString + "/s"
    SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 4)
    val rows = (0L until 1000L).map(i => (i, i * 10)).toDF("k", "v")
    SegStore.writeBucketed(spark, root, "kv", rows, 0L)
    SegStore.commit(spark, root, 0L, base = false)
    // small set: pushed IN filter, correct rows
    val small = Seq(3L, 7L, 4242L).toDF("k")
    val got = SegStore.prunedScan(spark, root, "kv", "k", small)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(k,") ||
      plan.contains("PushedFilters: [IsNotNull(k), In(k,"),
      s"small key set not pushed:\n$plan")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 7L))
    // large set (> maxPushKeys distinct keys): broadcast semi-join —
    // the store scan keeps no giant IN literal and is never shuffled
    val big = spark.range(SegStore.maxPushKeys + 100L).toDF("k")
    val gotBig = SegStore.prunedScan(spark, root, "kv", "k", big)
    val planBig = gotBig.queryExecution.executedPlan.toString
    assert(planBig.contains("BroadcastHashJoin") && planBig.contains("LeftSemi"),
      s"large key set did not take the broadcast path:\n$planBig")
    assert(!planBig.contains("Exchange hashpartitioning"),
      s"large-set probe shuffles the store:\n$planBig")
    assert(gotBig.count() == 1000L)
  }

  test("prunedScan tolerates active segments missing a later-added sub-table's partition") {
    import spark.implicits._
    val root = Files.createTempDirectory("segstore_legacy_part").toString + "/s"
    // segment 0 predates sub-table `kv2`: only `kv` has a partition
    SegStore.ensureBucketed(spark, root, "kv",
      "k BIGINT, v BIGINT", Seq("k"), 4)
    SegStore.writeBucketed(spark, root, "kv",
      Seq((1L, 10L)).toDF("k", "v"), 0L)
    SegStore.commit(spark, root, 0L, base = false)
    SegStore.ensureBucketed(spark, root, "kv2",
      "k BIGINT, w BIGINT", Seq("k"), 4)
    SegStore.writeBucketed(spark, root, "kv",
      Seq((2L, 20L)).toDF("k", "v"), 1L)
    SegStore.writeBucketed(spark, root, "kv2",
      Seq((2L, 200L)).toDF("k", "w"), 1L)
    SegStore.commit(spark, root, 1L, base = false)
    // the raw probe read must list only the partitions that exist —
    // the catalog semantics (missing = zero rows), never
    // PATH_NOT_FOUND (round-14 ADVICE #1)
    val got = SegStore.prunedScan(spark, root, "kv2", "k",
      Seq(1L, 2L).toDF("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((2L, 200L)), s"unexpected rows: ${got.toSeq}")
    // and a sub-table with NO partition on any active segment reads
    // as empty, not as an error
    SegStore.ensureBucketed(spark, root, "kv3",
      "k BIGINT, z BIGINT", Seq("k"), 4)
    assert(SegStore.prunedScan(spark, root, "kv3", "k",
      Seq(1L).toDF("k")).count() == 0L)
  }

  test("quiesce bounds a wedged write: cancels its job group and returns instead of hanging") {
    // Round-15 ADVICE #4 / VERDICT #3: the error-path quiesce used to
    // Await Duration.Inf, so a wedged INSERT hung stop() forever and
    // masked the batch's primary failure. Wedge a write (tasks sleep
    // 10 min), shrink the bound, and assert quiesce returns quickly:
    // timeout -> job-group cancel (interruptOnCancel) -> the write
    // dies -> the NonFatal failure is swallowed.
    import org.apache.spark.sql.functions.{col, udf}
    val sc = spark.sparkContext
    val oldWait = SegStore.quiesceWait
    val oldGrace = SegStore.quiesceGrace
    SegStore.quiesceWait = scala.concurrent.duration.Duration(
      2, java.util.concurrent.TimeUnit.SECONDS)
    SegStore.quiesceGrace = scala.concurrent.duration.Duration(
      30, java.util.concurrent.TimeUnit.SECONDS)
    try {
      sc.setJobGroup("graft-quiesce-wedge", "wedged write",
        interruptOnCancel = true)
      val sleeper = udf((x: Long) => { Thread.sleep(600000L); x })
      // the aggregate CONSUMES the UDF column — under count() the
      // optimizer prunes the projection and the wedge never engages
      val join: () => Unit = () => {
        spark.range(4).select(sleeper(col("id")).as("s"))
          .agg(org.apache.spark.sql.functions.sum(col("s"))).collect()
        ()
      }
      val t0 = System.nanoTime()
      SegStore.quiesce(spark, join) // must NOT hang for the 10 minutes
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 25, f"quiesce not bounded: took $secs%.1f s")
      assert(secs >= 2, f"quiesce returned before the bound: $secs%.1f s" +
        " - the wedge never engaged")
    } finally {
      SegStore.quiesceWait = oldWait
      SegStore.quiesceGrace = oldGrace
      sc.clearJobGroup()
    }
  }

  test("gate compaction under bucket escalation: the fold re-buckets and the index is unchanged") {
    import org.apache.spark.sql.functions._
    import graft.streaming.WinnowStream
    val sf = "/root/testdata/sf0.001"
    val work = Files.createTempDirectory("graft_winnow_escal_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 60)
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    def runGate(): Unit = WinnowStream.nearDupGateStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt", compactEvery = 2,
      buckets = 2).awaitTermination()
    // batch 0 creates the store; then record a 1-byte PER-STORE
    // threshold: EVERY later base compaction escalates (one doubling
    // per base by policy). compactEvery=2 -> batch 2 folds and
    // re-buckets mid-stream; batch 2's delta must land at the
    // escalated count and the resulting index must equal the batch
    // fingerprint set exactly.
    shipFile(docs.where(col("doc_id") % 3 === 0), "0")
    runGate()
    SegStore.setEscalateThreshold(spark, s"$work/store", 1L)
    shipFile(docs.where(col("doc_id") % 3 === 1), "1")
    shipFile(docs.where(col("doc_id") % 3 === 2), "2")
    runGate()
    val name = SegStore.ensureBucketed(spark, s"$work/store", "fp",
      "doc_id BIGINT, h BIGINT", Seq("h"), 2)
    assert(org.apache.spark.sql.GraftBridge.numBuckets(spark, name)
      .exists(_ > 2), "base compaction under a 1-byte threshold did not escalate")
    val (fp, dfStore) = WinnowStream.readIndex(spark, s"$work/store")
    val full = graft.operators.Dedup.winnowFp(docs)
    assert(fp.except(full).isEmpty && full.except(fp).isEmpty,
      "escalated fp index != full fingerprint set")
    val dfDerived = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
    assert(dfStore.except(dfDerived).isEmpty && dfDerived.except(dfStore).isEmpty,
      "escalated df inconsistent with fp")
  }

  test("gate compaction: WinnowStream folds into a base segment and the index is unchanged") {
    import org.apache.spark.sql.functions._
    import graft.streaming.WinnowStream
    val sf = "/root/testdata/sf0.001"
    val work = Files.createTempDirectory("graft_winnow_compact_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 60)
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    shipFile(docs.where(col("doc_id") % 3 === 0), "0")
    shipFile(docs.where(col("doc_id") % 3 === 1), "1")
    shipFile(docs.where(col("doc_id") % 3 === 2), "2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    // compactEvery = 2: batch 2 sees 2 active deltas and must fold
    val q = WinnowStream.nearDupGateStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt", compactEvery = 2)
    q.awaitTermination()
    val segs = SegStore.active(spark, s"$work/store")
    assert(segs.map(s => (s.id, s.base)) == Seq((2L, true)),
      s"expected a single base segment after compaction, got $segs")
    val (fp, dfStore) = WinnowStream.readIndex(spark, s"$work/store")
    val full = graft.operators.Dedup.winnowFp(docs)
    assert(fp.except(full).isEmpty && full.except(fp).isEmpty,
      "compacted fp index != full fingerprint set")
    val dfDerived = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
    assert(dfStore.except(dfDerived).isEmpty && dfDerived.except(dfStore).isEmpty,
      "compacted df inconsistent with fp")
  }
}
