package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream

class StreamingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  /** Stage the events table as NDJSON so the file stream source can
    * replay it (the parquet fixture is a single file; the JSON stage
    * also exercises the declared-schema stream read).
    */
  private lazy val stagedDir: String = {
    val dir = Files.createTempDirectory("events_stream").toString
    Tables.load(spark, sf, "events").write.mode("overwrite").json(dir)
    dir
  }

  test("streaming hourly agg matches the batch computation (emitted windows)") {
    import spark.implicits._
    val streamed = EventsStream.runOnce(spark, stagedDir, "agg_spec")
      .select($"hour_start", $"event_type", $"n_events", $"sum_value")
    val batch = graft.operators.Relational.q17_hourly_window(spark, sf)
    // Append mode emits only windows the watermark has passed; every
    // emitted row must exactly match its batch counterpart.
    val b = batch.collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val s = streamed.collect()
    assert(s.nonEmpty, "no windows emitted")
    s.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      assert(b.contains(k), s"streamed window $k missing from batch")
      assert(b(k) == ((r.getLong(2), r.getDouble(3))), s"window $k differs")
    }
  }

  test("streaming sliding windows match the batch twin (emitted windows)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val q = EventsStream.slidingAgg(EventsStream.readEvents(spark, stagedDir))
      .writeStream.outputMode("append").format("memory").queryName("slide_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("slide_spec").collect()
    assert(streamed.nonEmpty, "no sliding windows emitted")
    val batch = graft.operators.Analytics.q103_sliding_window(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    streamed.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      assert(batch.get(k).contains(r.getLong(2)), s"window $k differs or missing")
    }
  }

  test("stream-static broadcast enrichment matches the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{broadcast, col, pmod}
    val dim = Tables.load(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val keyed = EventsStream.readEvents(spark, stagedDir)
      .withColumn("nk", pmod(col("user_id"), org.apache.spark.sql.functions.lit(25L)))
    val q = EventsStream.enrichStatic(keyed, dim, "nk", "n_nationkey")
      .select(col("event_id"), col("n_name"))
      .writeStream.outputMode("append").format("memory").queryName("enrich_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("enrich_spec").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = Tables.load(spark, sf, "events")
      .withColumn("nk", pmod(col("user_id"), org.apache.spark.sql.functions.lit(25L)))
      .join(broadcast(dim), col("nk") === col("n_nationkey"), "left")
      .select(col("event_id"), col("n_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("session_window aggregation matches the stateful sessionizer's emitted sessions") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = EventsStream.sessionWindowAgg(EventsStream.readEvents(spark, stagedDir))
      .writeStream.outputMode("append").format("memory").queryName("swin_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // (user_id, start_us, end_us, n_events) — q48 additionally carries
    // its per-user session ordinal, which the merging window has no
    // counterpart for
    val declarative = spark.table("swin_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(declarative.nonEmpty, "no sessions emitted")
    // batch truth: q48's sessionization over the same fixture
    val batch = graft.operators.Extras.q48_sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // append mode emits only watermark-closed sessions; each one must
    // match its batch twin exactly
    assert(declarative.subsetOf(batch),
      s"declarative session not in batch: ${(declarative diff batch).take(3)}")
  }

  test("streaming TV-drift monitor matches an exact batch replay per window") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // baseline = the global event-type distribution of the fixture
    // itself (a window that looks like the long-run mix scores low TV)
    val baseline = Tables.load(spark, sf, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val q = EventsStream.driftStream(EventsStream.readEvents(spark, stagedDir), baseline)
      .writeStream.outputMode("append").format("memory").queryName("drift_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("drift_spec").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty, "no drift windows emitted")
    // exact batch replay with BigInt arithmetic
    val baseTot = BigInt(baseline.values.sum)
    val evs = Tables.load(spark, sf, "events")
      .select(expr("ts DIV 1000").as("us"), $"event_type") // DIV: `/` on nanos loses precision
      .as[(Long, String)].collect()
    val winUs = 6L * 3600 * 1000000
    val batch = evs.groupBy(t => t._1 / winUs * winUs).map { case (start, xs) =>
      val n = BigInt(xs.length)
      val byType = xs.groupBy(_._2).map { case (t, ys) => t -> BigInt(ys.length) }
      val num = (baseline.keySet ++ byType.keySet).toSeq.map { t =>
        (byType.getOrElse(t, BigInt(0)) * baseTot -
          BigInt(baseline.getOrElse(t, 0L)) * n).abs
      }.sum
      start / 1000000 -> (xs.length.toLong, (num * 1000000 / (2 * n * baseTot)).toLong)
    }
    streamed.foreach { case (w, v) =>
      assert(batch.get(w).contains(v), s"window $w: streamed $v != batch ${batch.get(w)}")
    }
  }

  test("streaming heavy hitters: space-saving guarantee survives state-store merge") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cap = 64
    val q = EventsStream.heavyHittersStream(EventsStream.readEvents(spark, stagedDir), cap)
      .writeStream.outputMode("append").format("memory").queryName("hh_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("hh_spec").collect()
      .map(r => (r.getLong(0), r.getString(2)) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
      .toMap
    assert(streamed.nonEmpty, "no sketch rows emitted")
    // exact per-window user counts from a batch replay
    val winUs = 6L * 3600 * 1000000
    val exact = Tables.load(spark, sf, "events")
      .select(expr("ts DIV 1000").as("us"), $"user_id".cast("string").as("u"))
      .as[(Long, String)].collect()
      .groupBy(t => t._1 / winUs * winUs / 1000000)
      .map { case (w, xs) => w -> xs.groupBy(_._2).map { case (u, ys) => u -> ys.length.toLong } }
    streamed.keys.map(_._1).toSeq.distinct.foreach { w =>
      val counts = exact(w)
      val total = counts.values.sum
      // every user over the total/cap threshold MUST be in the sketch,
      // with bounds bracketing the true count
      counts.filter(_._2 * cap > total).foreach { case (u, n) =>
        val hit = streamed.get((w, u))
        assert(hit.isDefined, s"window $w: heavy user $u ($n of $total) missing")
        val (tot, lo, hi) = hit.get
        assert(tot == total && lo <= n && n <= hi,
          s"window $w user $u: exact $n outside [$lo, $hi] (total $tot vs $total)")
      }
    }
  }

  test("checkpoint recovery: restart processes only new data, exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("events_ckpt_src").toString
    val sink = Files.createTempDirectory("events_ckpt_sink").toString
    val ckpt = Files.createTempDirectory("events_ckpt_state").toString
    val ev = Tables.load(spark, sf, "events").select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    val half1 = ev.where(col("event_id") % 2 === 0)
    val half2 = ev.where(col("event_id") % 2 === 1)
    def runOnceTo(): Unit = {
      val q = EventsStream.readEvents(spark, src)
        .select(col("event_id"), col("user_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    half1.write.mode("append").json(src)
    runOnceTo()
    val afterFirst = spark.read.parquet(sink).count()
    assert(afterFirst == half1.count(), s"first run wrote $afterFirst")
    // restart with MORE data: the checkpoint must skip the old files
    // (no duplicates) and pick up exactly the new ones (no loss)
    half2.write.mode("append").json(src)
    runOnceTo()
    val ids = spark.read.parquet(sink).select(col("event_id"))
    assert(ids.count() == ev.count(), "loss or duplication across restart")
    assert(ids.distinct().count() == ev.count(), "duplicate events after recovery")
  }

  test("streaming dedup within watermark: replayed file drops duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("events_dup").toString
    val ev = Tables.load(spark, sf, "events")
    ev.write.mode("overwrite").json(dir)
    ev.write.mode("append").json(dir) // full duplicate replay
    val q = EventsStream.dedupStream(EventsStream.readEvents(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("dedup_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_spec").count()
    assert(got == ev.count(), s"expected ${ev.count()} deduped rows, got $got")
  }

  test("streaming incremental near-dup matches the q85 batch pairs") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    // new batch arrives as a stream; the corpus is the static side
    val dir = Files.createTempDirectory("docs_stream").toString
    docs.where($"doc_id" % 10 === 9).write.mode("overwrite").json(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val newStream = spark.readStream.schema(schema).json(dir)
    val corpus = docs.where($"doc_id" % 10 =!= 9)
    val q = EventsStream.nearDupAlerts(newStream, corpus)
      .writeStream.outputMode("append").format("memory").queryName("neardup_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // at-least-once multiplicity -> distinct = the batch pair set
    val streamed = spark.table("neardup_spec")
      .select($"new_doc", $"old_doc", $"jac").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = SparkEntry.queries("q85_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "q85 found no pairs at this SF")
    assert(streamed == batch,
      s"stream vs batch diverged: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("stream-stream interval join matches the batch interval join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val src = EventsStream.readEvents(spark, stagedDir)
    val joined = EventsStream.purchaseClicks(
      src.where($"event_type" === "purchase"),
      src.where($"event_type" === "click"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssjoin_spec").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // batch twin on the same staged files
    val ev = Tables.load(spark, sf, "events")
      .withColumn("tstamp", timestamp_micros(expr("ts DIV 1000")))
    val p = ev.where($"event_type" === "purchase")
      .select($"event_id".as("p_event"), $"user_id".as("p_user"), $"tstamp".as("p_time"))
    val c = ev.where($"event_type" === "click")
      .select($"event_id".as("c_event"), $"user_id".as("c_user"), $"tstamp".as("c_time"))
    val batch = p.join(c, expr(
      "p_user = c_user AND c_time BETWEEN p_time - INTERVAL 1 HOUR AND p_time"))
      .select($"p_event", $"c_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture produced no purchase-click pairs")
    // AvailableNow drains everything; inner interval join must be exact
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs != batch ${batch.size}")
  }

  test("streaming as-of enrichment matches the batch as-of join (q41)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val src = spark.readStream.schema(EventsStream.eventSchema).json(stagedDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventsStream.Event]
    val q = EventsStream.asOfEnrich(src)
      .writeStream.outputMode("append").format("memory").queryName("asof_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("asof_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // the custom batch operator is the ground truth on the same data
    val batch = SparkEntry.queries("q41_asof_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} enriched purchases != batch ${batch.size}")
  }

  test("streaming EWMA matches batch q137 exactly (multi-batch, bounded state)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // a 6-part stage + maxFilesPerTrigger=2 forces SEVERAL micro-
    // batches in arbitrary file order, so the cross-batch ring merge
    // (including late-data folding) is exercised, not just the
    // single-batch case
    val multiDir = Files.createTempDirectory("events_ewma_stream").toString
    Tables.load(spark, sf, "events").repartition(6)
      .write.mode("overwrite").json(multiDir)
    val src = spark.readStream.schema(EventsStream.eventSchema)
      .option("maxFilesPerTrigger", "2").json(multiDir)
    val q = EventsStream.ewmaStream(src)
      .writeStream.outputMode("update").format("memory").queryName("ewma_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val updates = spark.table("ewma_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(updates.map(_._4).max > 1, "expected more than one micro-batch per key")
    val streamedFinal = updates.groupBy(_._1).map { case (_, rows) =>
      val last = rows.maxBy(_._4)
      (last._1, last._2, last._3)
    }.toSet
    val batch = SparkEntry.queries("q137_ewma")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && streamedFinal == batch,
      s"streamed ${streamedFinal.size} final rows != batch ${batch.size}")
  }

  test("streaming CDC compaction matches batch q152 (multi-batch, tombstones retained)") {
    import org.apache.spark.sql.streaming.Trigger
    val multiDir = Files.createTempDirectory("events_cdc_stream").toString
    Tables.load(spark, sf, "events").repartition(6)
      .write.mode("overwrite").json(multiDir)
    val src = spark.readStream.schema(EventsStream.eventSchema)
      .option("maxFilesPerTrigger", "2").json(multiDir)
    val q = EventsStream.cdcCompactStream(src)
      .writeStream.outputMode("update").format("memory").queryName("cdc_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val updates = spark.table("cdc_spec").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(2), r.getLong(3)))
    assert(updates.map(_._4).max > 1, "expected more than one micro-batch per key")
    // final state per key = the row with the highest op count
    val finalState = updates.groupBy(_._1).map { case (_, rows) =>
      rows.maxBy(_._4)
    }
    val streamedLive = finalState.filterNot(_._2)
      .map(r => (r._1, r._3, r._4)).toSet
    val batch = SparkEntry.queries("q152_cdc_apply")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && streamedLive == batch,
      s"streamed ${streamedLive.size} live keys != batch ${batch.size}")
    // tombstoned keys exist in state (deleted=true), absent from batch
    val tombstoned = finalState.filter(_._2).map(_._1).toSet
    assert(tombstoned.nonEmpty, "fixture should contain tombstoned keys")
    assert(tombstoned.intersect(batch.map(_._1)).isEmpty)
  }

  test("CDC family end-to-end: log → compacted store → incremental agg, exactly-once across a kill/restart") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("cdc_e2e_src").toString
    val store = Files.createTempDirectory("cdc_e2e").toString + "/store"
    val agg = Files.createTempDirectory("cdc_e2e").toString + "/agg"
    val ckpt = Files.createTempDirectory("cdc_e2e_ckpt").toString
    val ev = Tables.load(spark, sf, "events").select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    def run(): Unit = {
      val q = EventsStream.cdcMaterialize(
        EventsStream.readEvents(spark, src), store, agg, ckpt)
      q.awaitTermination()
    }
    // phase 1: half the log (split by event id so most keys appear in
    // BOTH phases — the restart must continue their per-key fold, not
    // restart it)
    ev.where(col("event_id") % 2 === 0).write.mode("append").json(src)
    run()
    val opsAfter1 = graft.streaming.SegStore.readSnapshot(spark, agg).get
      .select(col("total_ops")).collect()(0).getLong(0)
    assert(opsAfter1 == ev.where(col("event_id") % 2 === 0).count(),
      "phase-1 ops must equal phase-1 events")
    // KILL (query terminated) + RESTART on the same checkpoint with
    // the rest of the log
    ev.where(col("event_id") % 2 === 1).write.mode("append").json(src)
    run()
    // final compacted store (live keys) == the single-shot batch q152
    // over the full log — despite two runs, multiple micro-batches,
    // and a restart in the middle
    val resolved = EventsStream.readCdcStore(spark, store)
    val live = resolved.filter(u => !u.deleted).collect()
      .map(u => (u.key, u.value, u.n_ops)).toSet
    val batch = SparkEntry.queries("q152_cdc_apply")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && live == batch,
      s"store live set ${live.size} != batch q152 ${batch.size}")
    // incremental aggregate == aggregate of the store (retraction
    // path never drifted), and total_ops == total events (each event
    // folded exactly once)
    val a = graft.streaming.SegStore.readSnapshot(spark, agg).get.collect()(0)
    val storeRows = resolved.collect().map(u => (u.deleted, u.value, u.n_ops))
    // DELTA-SIZED maintenance: each segment's kv table holds only that
    // batch's touched keys — the sum of segment rows can exceed the
    // resolved store (keys re-touched across batches) but no single
    // delta segment may hold the whole key space unless that batch
    // touched every key; here phase-1 and phase-2 keys overlap, so at
    // least 2 segments exist and none is base (compactEvery = 8)
    import graft.streaming.SegStore
    val segs = SegStore.active(spark, store)
    assert(segs.size >= 2 && segs.forall(!_.base), s"unexpected layout: $segs")
    assert(a.getAs[Long]("live_keys") == storeRows.count(!_._1))
    assert(a.getAs[Long]("tomb_keys") == storeRows.count(_._1))
    assert(math.abs(a.getAs[Double]("live_sum") -
      storeRows.filter(!_._1).map(_._2).sum) < 1e-6)
    assert(a.getAs[Long]("total_ops") == ev.count(),
      "ops != events: loss or double-fold across the restart")
  }

  test("CDC store under aggressive compaction (compactEvery=1): same result, base-only layout") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("cdc_compact_src").toString
    val store = Files.createTempDirectory("cdc_compact").toString + "/store"
    val agg = Files.createTempDirectory("cdc_compact").toString + "/agg"
    val ckpt = Files.createTempDirectory("cdc_compact_ckpt").toString
    val ev = Tables.load(spark, sf, "events").select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    // two runs = two micro-batches; every batch after the first folds
    // the store into a base segment, exercising the latest-wins kv
    // fold, the carried agg, and base-commit gc
    ev.where(col("event_id") % 2 === 0).write.mode("append").json(src)
    EventsStream.cdcMaterialize(EventsStream.readEvents(spark, src),
      store, agg, ckpt, compactEvery = 1).awaitTermination()
    ev.where(col("event_id") % 2 === 1).write.mode("append").json(src)
    EventsStream.cdcMaterialize(EventsStream.readEvents(spark, src),
      store, agg, ckpt, compactEvery = 1).awaitTermination()
    // layout: compaction at batch 1 leaves a single base segment
    // (batch 0's delta was subsumed and gc'd)
    import graft.streaming.SegStore
    val segs = SegStore.active(spark, store)
    assert(segs.map(_.base) == Seq(true), s"unexpected layout: $segs")
    // and the resolved store equals the single-shot batch q152 twin,
    // exactly as the uncompacted E2E pins
    val live = EventsStream.readCdcStore(spark, store)
      .filter(u => !u.deleted).collect()
      .map(u => (u.key, u.value, u.n_ops)).toSet
    val batch = SparkEntry.queries("q152_cdc_apply")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && live == batch,
      s"compacted store live set ${live.size} != batch q152 ${batch.size}")
    val a = graft.streaming.SegStore.readSnapshot(spark, agg).get.collect()(0)
    assert(a.getAs[Long]("total_ops") == ev.count(),
      "ops != events under compaction")
  }

  test("foreachBatch JDBC sink: stream lands in Derby exactly as staged") {
    import org.apache.spark.sql.functions._
    import graft.sources.JdbcSink
    System.setProperty("derby.system.home", Files.createTempDirectory("derby_stream").toString)
    val url = "jdbc:derby:memory:graft_stream;create=true"
    val cfg = JdbcSink.Config(url, "events_dedup", numPartitions = 2)
    val q = EventsStream.jdbcSink(
      EventsStream.dedupStream(EventsStream.readEvents(spark, stagedDir))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      cfg, Files.createTempDirectory("ckpt").toString)
    q.awaitTermination()
    val back = JdbcSink.read(spark, cfg)
    assert(back.count() == Tables.load(spark, sf, "events").count())
    assert(back.schema("event_id").dataType == org.apache.spark.sql.types.LongType)
  }

  test("sessionization: gap splits sessions, counts preserved") {
    import spark.implicits._
    // deterministic synthetic events: user 1 has two bursts separated
    // by 2 hours; user 2 one burst
    def us(minutes: Long) = minutes * 60 * 1000000000L // nanos
    val evs = Seq(
      EventsStream.Event(1, us(0), 1, "click", 1.0),
      EventsStream.Event(2, us(5), 1, "view", 1.0),
      EventsStream.Event(3, us(125), 1, "click", 1.0),
      EventsStream.Event(4, us(130), 1, "click", 1.0),
      EventsStream.Event(5, us(7), 2, "view", 1.0)).toDS()
    val sessions = EventsStream.sessionize(evs, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.start_us))
    // batch Dataset: only CLOSED sessions are returned (state holds the
    // open tail) — user 1's first burst closed when the second began.
    assert(sessions.length == 1)
    val s0 = sessions(0)
    assert(s0.user_id == 1 && s0.n_events == 2 &&
      s0.duration_us == 5L * 60 * 1000000)
  }

  test("streaming near-dup gate equals batch q173 after the delta batch") {
    import org.apache.spark.sql.functions._
    import graft.streaming.WinnowStream
    val work = Files.createTempDirectory("graft_winnow_stream_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // the q173 ingest split as two stream files; the delta file also
    // RE-DELIVERS a slice of corpus docs — the at-least-once condition
    // the gate's doc_id anti-join must absorb (they must neither flag
    // nor perturb the index)
    shipFile(docs.where(col("doc_id") % 10 =!= 7), "0_corpus")
    shipFile(docs.where(col("doc_id") % 10 === 7)
      .union(docs.where(col("doc_id") % 10 === 1)), "1_delta")
    // a third, TINY batch (3 new doc_ids re-using corpus texts) — the
    // per-batch store-write-volume probe for the delta-sized segment
    // log (round-12: round 11 rewrote the full store every batch)
    val tiny = docs.where(col("doc_id") < 3)
      .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
    shipFile(tiny, "2_tiny")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = WinnowStream.nearDupGateStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt")
    q.awaitTermination()
    val flagSchema = "new_doc LONG, old_doc LONG, shared LONG"
    // batch 0 probes an empty index: no flags
    assert(spark.read.schema(flagSchema)
      .parquet(s"$work/out/batch_0").count() == 0)
    // batch 1's flags are EXACTLY batch q173 (re-delivered corpus
    // docs contribute nothing)
    val flags = spark.read.schema(flagSchema)
      .parquet(s"$work/out/batch_1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q173_winnow_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(flags == batch,
      s"streamed flags != batch q173: ${(flags diff batch).take(3)} / ${(batch diff flags).take(3)}")
    // and the accumulated index is the full shipped set's fingerprints
    // with a consistent derived df table
    val (fp, dfStore) = WinnowStream.readIndex(spark, s"$work/store")
    val full = graft.operators.Dedup.winnowFp(docs.union(tiny))
    assert(fp.except(full).isEmpty && full.except(fp).isEmpty,
      "accumulated fp store != full-corpus fingerprints")
    val dfDerived = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
    assert(dfStore.except(dfDerived).isEmpty &&
      dfDerived.except(dfStore).isEmpty,
      "df store inconsistent with fp store")
    // DELTA-SIZED store maintenance: three committed delta segments,
    // batch 2's holding ONLY the tiny batch's fingerprints — per-batch
    // write volume (rows AND bytes) tracks the delta, not the corpus.
    // Segment data lives in the bucketed sub-tables' _seg partitions.
    import graft.streaming.SegStore
    val segs = SegStore.active(spark, s"$work/store")
    assert(segs.map(s => (s.id, s.base)) == Seq((0L, false), (1L, false), (2L, false)),
      s"unexpected segment layout: $segs")
    val seg2fp = spark.read
      .parquet(SegStore.bucketedPartPath(s"$work/store", "fp", 2)).count()
    val tinyFp = graft.operators.Dedup.winnowFp(tiny).count()
    assert(seg2fp == tinyFp && tinyFp > 0,
      s"batch-2 segment holds $seg2fp fp rows, expected the tiny delta's $tinyFp")
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else s"file://$p").getPath))
    }
    def segBytes(id: Long): Long =
      Seq("fp", "df", "docs")
        .map(sub => dirBytes(SegStore.bucketedPartPath(s"$work/store", sub, id)))
        .sum
    val (b0, b2) = (segBytes(0), segBytes(2))
    assert(b2 * 5 < b0,
      s"batch-2 store write ($b2 B) not delta-sized vs corpus segment ($b0 B)")
  }

  test("near-dup gate: a later AvailableNow query reuses the generated code of an earlier one") {
    // Every streaming query runs on a fresh clone of its session, and
    // with artifact isolation (Spark's default) each session compiles
    // generated code under its own class loader. A gate whose batch
    // body ran on the clone recompiled every class it uses in every
    // query; on the owning session the second query's delta batch
    // finds the first query's classes cached.
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions._
    import graft.streaming.WinnowStream
    val work = Files.createTempDirectory("graft_gate_codegen_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // a delta of fresh ids over shipped texts: every batch after the
    // corpus probes, flags and writes a segment
    def delta(shift: Long, m: Int) = docs.where(col("doc_id") % 10 === m)
      .select((col("doc_id") + shift).as("doc_id"), col("text"))
    def runGate(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = WinnowStream.nearDupGateStream(spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(src),
        s"$work/store", s"$work/out", s"$work/ckpt")
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    // query 1: the corpus batch, then a delta batch
    shipFile(docs.where(col("doc_id") % 10 =!= 7), "0_corpus")
    shipFile(delta(9000000L, 7), "1_delta")
    val first = runGate()
    // query 2: one more delta batch of the same shape
    shipFile(delta(9100000L, 3), "2_delta")
    val second = runGate()
    info(s"codegen compiles: query 1 (2 batches) $first, query 2 (1 delta batch) $second")
    assert(spark.read.schema("new_doc LONG, old_doc LONG, shared LONG")
      .parquet(s"$work/out/batch_2").count() > 0, "the delta batch flagged nothing")
    assert(second <= 25,
      s"the second query's delta batch compiled $second classes: its batch " +
        "body is not reusing the generated code of the first query")
  }

  test("forwardPush: strict batch path throws on empty seeds, lenient stream path yields the empty snapshot") {
    import spark.implicits._
    val cs = Seq.empty[(Long, Long)].toDF("c", "s")
    val deg = Seq.empty[(Long, Long)].toDF("src", "degree")
    // lenient (streaming-twin default): empty PPR snapshot, no failure
    assert(graft.operators.GraphOps
      .forwardPush(spark, cs, deg, earlyExit = true).count() == 0)
    // strict (the batch q163 path): staged-graph damage fails loudly
    // instead of benching a silently-fast empty snapshot
    intercept[IllegalStateException] {
      graft.operators.GraphOps
        .forwardPush(spark, cs, deg, earlyExit = true, strictSeeds = true)
    }
  }

  test("streaming decontamination gate matches batch q115 per-doc counts") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DecontamStream
    val work = Files.createTempDirectory("graft_decontam_stream_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // the q115 split: eval = doc_id % 17 == 0 (static), train streams
    // in as two micro-batches
    val evalGrams = graft.operators.TextOps
      .fiveGrams(docs.where(col("doc_id") % 17 === 0))
      .select(col("gram")).distinct()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val train = docs.where(col("doc_id") % 17 =!= 0)
    shipFile(train.where(col("doc_id") % 2 === 0), "0_a")
    shipFile(train.where(col("doc_id") % 2 === 1), "1_b")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = DecontamStream.gateStream(stream, evalGrams,
      s"$work/out", s"$work/ckpt")
    q.awaitTermination()
    // union of the per-batch reports == batch q115's per-doc counts
    val streamed = spark.read.parquet(s"$work/out/batch_0", s"$work/out/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q115_contamination_fraction")(spark, sf)
      .select(col("doc_id"), col("n_grams"), col("n_hit"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"streamed decontam reports != batch q115: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("composed ingest pipeline: near-dup + decontam + scrub gates on ONE stream, crash-killed once, equal their solo runs") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{DecontamStream, SegScrubStream, SegStore, WinnowStream}
    val work = Files.createTempDirectory("graft_composed_gates_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val copy = (id: Long) => docs.where(col("doc_id") === 0)
      .select(lit(id).as("doc_id"), col("source"), col("text"))
    // three batch files: planted copies make the scrub df cross 3 (and
    // the near-dup gate flag) in batch 1, file 2 re-delivers a slice —
    // the at-least-once condition, now under gate COMPOSITION
    val p0 = docs.where(col("doc_id") % 3 === 0).union(copy(900001L))
    val p1 = docs.where(col("doc_id") % 3 === 1)
      .union(copy(900002L)).union(copy(900003L))
    val p2 = docs.where(col("doc_id") % 3 === 2)
      .union(docs.where(col("doc_id") % 9 === 0))
    val evalGrams = graft.operators.TextOps
      .fiveGrams(docs.where(col("doc_id") % 17 === 0))
      .select(col("gram")).distinct().localCheckpoint()
    def stream3() = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    // one pass of ALL THREE gates, started CONCURRENTLY over the same
    // source — concurrent ensureBucketed/catalog/checkpoint-sibling
    // traffic in one JVM is exactly what this test exists to flush out
    def runAll(tag: String): Unit = {
      val qs = Seq(
        WinnowStream.nearDupGateStream(stream3().select(col("doc_id"), col("text")),
          s"$work/$tag/ndup/store", s"$work/$tag/ndup/out", s"$work/$tag/ndup/ckpt"),
        DecontamStream.gateStream(stream3().select(col("doc_id"), col("text")),
          evalGrams, s"$work/$tag/dec/out", s"$work/$tag/dec/ckpt"),
        SegScrubStream.scrubStream(stream3(),
          s"$work/$tag/scrub/store", s"$work/$tag/scrub/out", s"$work/$tag/scrub/ckpt"))
      qs.foreach(_.awaitTermination())
    }
    shipFile(p0, "0_a")
    runAll("co")
    // CRASH between the scrub gate's foreachBatch and its stream
    // commit: delete the newest commits file, so the restart re-runs
    // batch 0 through foreachBatch (isApplied absorbs it) before
    // taking batch 1
    val commits = new java.io.File(s"$work/co/scrub/ckpt/commits")
    val newest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(newest.delete(), "could not simulate the crash")
    // the local checksum FS writes a .crc sidecar the crashed process
    // would also never have flushed without its file
    new java.io.File(commits, s".${newest.getName}.crc").delete()
    shipFile(p1, "1_b")
    runAll("co")
    shipFile(p2, "2_c")
    runAll("co")
    assert(new java.io.File(s"$work/co/scrub/ckpt/commits/${newest.getName}").exists(),
      "crashed batch was never replayed")
    // solo runs: each gate alone over the same files, fresh dirs
    WinnowStream.nearDupGateStream(stream3().select(col("doc_id"), col("text")),
      s"$work/solo/ndup/store", s"$work/solo/ndup/out", s"$work/solo/ndup/ckpt")
      .awaitTermination()
    DecontamStream.gateStream(stream3().select(col("doc_id"), col("text")),
      evalGrams, s"$work/solo/dec/out", s"$work/solo/dec/ckpt")
      .awaitTermination()
    SegScrubStream.scrubStream(stream3(),
      s"$work/solo/scrub/store", s"$work/solo/scrub/out", s"$work/solo/scrub/ckpt")
      .awaitTermination()
    // near-dup: union of per-batch flags identical
    val flagSchema = "new_doc LONG, old_doc LONG, shared LONG"
    def flagsOf(tag: String) = spark.read.schema(flagSchema)
      .parquet((0 to 2).map(i => s"$work/$tag/ndup/out/batch_$i"): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val coFlags = flagsOf("co")
    assert(coFlags == flagsOf("solo"),
      "composed near-dup flags != solo-run flags")
    assert(coFlags.nonEmpty, "fixture degenerate: no near-dup flags fired")
    // decontam: union of per-batch reports identical
    def decOf(tag: String) = spark.read
      .parquet((0 to 2).map(i => s"$work/$tag/dec/out/batch_$i"): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(decOf("co") == decOf("solo"),
      "composed decontam reports != solo-run reports")
    // scrub: published snapshot row-equal despite the mid-run crash
    val coSnap = SegStore.readSnapshot(spark, s"$work/co/scrub/out").get
    val soloSnap = SegStore.readSnapshot(spark, s"$work/solo/scrub/out").get
    assert(coSnap.except(soloSnap).isEmpty && soloSnap.except(coSnap).isEmpty,
      "composed scrub snapshot != solo-run snapshot")
  }

  test("streaming segment scrub equals batch q191 at EVERY prefix (incremental readout, flips included)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.SegScrubStream
    val work = Files.createTempDirectory("graft_segscrub_stream_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // planted flip: copies of doc 0's text so its segments' df sits at
    // 2 (< 3) after batch 0 and CROSSES to >= 3 only in batch 1 — the
    // readout's flip path (pre-batch docs re-flagged) must fire, not
    // just the insert path
    val copy = (id: Long) => docs.where(col("doc_id") === 0)
      .select(lit(id).as("doc_id"), col("source"), col("text"))
    val p0 = docs.where(col("doc_id") % 2 === 0).union(copy(900001L))
    // batch 1 RE-DELIVERS a slice of batch 0's docs — the
    // at-least-once condition the doc_id anti-join must absorb
    val p1 = docs.where(col("doc_id") % 2 === 1)
      .union(docs.where(col("doc_id") % 4 === 0))
      .union(copy(900002L)).union(copy(900003L))
    shipFile(p0, "0_a")
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    def runOnce(): Unit = SegScrubStream.scrubStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    runOnce()
    // PREFIX pin: the snapshot after batch 0 is the q191 readout over
    // exactly the docs shipped so far
    def readout(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.crossSegReadout(graft.operators.Dedup.crossSegOcc(d))
    val snap0 = graft.streaming.SegStore.readSnapshot(spark, s"$work/out").get
    val want0 = readout(p0)
    assert(snap0.except(want0).isEmpty && want0.except(snap0).isEmpty,
      "prefix-0 snapshot != batch readout over batch-0 docs")
    // second run on the same checkpoint picks up the delta file
    shipFile(p1, "1_b")
    runOnce()
    // the planted copies really exercised the flip path: doc 900001
    // (pre-batch-1) holds segments whose df crossed 3 in batch 1
    val fullDocs = docs.union(Seq(900001L, 900002L, 900003L)
      .map(copy).reduce(_ union _))
    // the final snapshot is row-equal to batch q191 over everything
    // shipped: same occurrence rows, same df >= 3 rule
    val snap = graft.streaming.SegStore.readSnapshot(spark, s"$work/out").get
    val batch = readout(fullDocs)
    assert(snap.count() == batch.count() &&
      snap.except(batch).isEmpty && batch.except(snap).isEmpty,
      s"streamed scrub readout != batch q191 readout over shipped docs")
    // and without the planted docs the stream still matches the plain
    // q191 query over the unmodified table (regression vs the oracle
    // query itself, modulo the planted rows) — cheap sanity that the
    // planted rows actually changed something (flips fired)
    val plain = SparkEntry.queries("q191_cross_segment_scrub")(spark, sf)
    assert(snap.except(plain).count() > 0,
      "planted flip docs changed nothing - flip path not exercised")
    // delta-sized store: two delta segments whose row counts partition
    // the full occurrence table (the re-delivered docs added nothing)
    import graft.streaming.SegStore
    val segs = SegStore.active(spark, s"$work/store")
    assert(segs.map(_.base) == Seq(false, false), s"unexpected layout: $segs")
    val occAll = SegScrubStream.readOcc(spark, s"$work/store")
    val fullOcc = graft.operators.Dedup.crossSegOcc(fullDocs)
    assert(occAll.count() == fullOcc.count() &&
      occAll.except(fullOcc).isEmpty && fullOcc.except(occAll).isEmpty,
      "accumulated occurrence store != batch derivation")
  }

  test("scrub gate srcstat: legacy store backfills once, then stays incremental") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{SegScrubStream, SegStore}
    val work = Files.createTempDirectory("graft_segscrub_legacy_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val copy = (id: Long) => docs.where(col("doc_id") === 0)
      .select(lit(id).as("doc_id"), col("source"), col("text"))
    // planted copies so batch 1 fires the FLIP path (df crossing 3)
    // while the store is in its legacy state — the backfill must
    // reconstruct flag history it never saw incrementally
    val p0 = docs.where(col("doc_id") % 3 === 0).union(copy(900001L))
    val p1 = docs.where(col("doc_id") % 3 === 1)
      .union(copy(900002L)).union(copy(900003L))
    val p2 = docs.where(col("doc_id") % 3 === 2)
    shipFile(p0, "0_a")
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    def runOnce(): Unit = SegScrubStream.scrubStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    runOnce()
    // simulate a store written before srcstat existed: drop the
    // sub-table's catalog entry and its whole on-disk directory
    spark.sql(
      s"DROP TABLE IF EXISTS `${SegStore.bucketedName(s"$work/store", "srcstat")}`")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(SegStore.bucketedLoc(s"$work/store", "srcstat")))
    assert(!SegStore.partitionExists(spark, s"$work/store", "srcstat", 0L))
    // batch 1 against the legacy store: backfill fires (one docstat
    // fold) and the published snapshot still equals the batch readout
    shipFile(p1, "1_b")
    runOnce()
    def readout(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.crossSegReadout(graft.operators.Dedup.crossSegOcc(d))
    val docs01 = p0.union(p1)
    val snap1 = SegStore.readSnapshot(spark, s"$work/out").get
    val want1 = readout(docs01)
    assert(snap1.except(want1).isEmpty && want1.except(snap1).isEmpty,
      "post-backfill snapshot != batch readout over shipped docs")
    // the backfill stamped srcstat for batch 1, so batch 2 takes the
    // incremental path — and stays exact
    assert(SegStore.partitionExists(spark, s"$work/store", "srcstat", 1L),
      "backfill did not write the srcstat partition")
    shipFile(p2, "2_c")
    runOnce()
    assert(SegStore.partitionExists(spark, s"$work/store", "srcstat", 2L))
    val snap2 = SegStore.readSnapshot(spark, s"$work/out").get
    val want2 = readout(docs01.union(p2))
    assert(snap2.except(want2).isEmpty && want2.except(snap2).isEmpty,
      "post-legacy incremental snapshot != batch readout")
    // plan pin: the per-batch snapshot folds srcstat partials only —
    // a regression back to folding the corpus-sized docstat (the
    // round-14 corpus term) must fail loudly
    locally {
      import spark.implicits._
      val emptyDelta = Seq.empty[(String, Long, Long, Long, Long, Long, Long)]
        .toDF("source", "n_docs", "n_segs", "dup_segs", "dup_docs_g0",
          "dup_docs_any", "straddle_docs")
      val plan = SegScrubStream.snapshotFold(spark, s"$work/store", emptyDelta)
        .queryExecution.executedPlan.toString
      assert(plan.contains("srcstat"),
        s"snapshot fold does not read srcstat:\n$plan")
      assert(!plan.contains("docstat"),
        s"snapshot fold scans the corpus-sized docstat:\n$plan")
    }
  }

  test("winnow-scrub gate srcstat: legacy store backfills once, then stays incremental") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{SegStore, WinnowScrubStream}
    val work = Files.createTempDirectory("graft_winscrub_legacy_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // planted OFFSET copies so batch 1 fires the flip path (winnow df
    // crossing 3 at shifted alignment) while the store is legacy —
    // the backfill must reconstruct flag history it never saw
    val copy = (id: Long, pre: String) => docs.where(col("doc_id") === 0)
      .select(lit(id).as("doc_id"), col("source"),
        concat(lit(pre), col("text")).as("text"))
    val p0 = docs.where(col("doc_id") % 3 === 0).union(copy(900001L, ""))
    val p1 = docs.where(col("doc_id") % 3 === 1)
      .union(copy(900002L, "pad1 pad2 pad3 "))
      .union(copy(900003L, "padA padB padC padD "))
    val p2 = docs.where(col("doc_id") % 3 === 2)
    shipFile(p0, "0_a")
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    def runOnce(): Unit = WinnowScrubStream.winnowScrubStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    runOnce()
    // simulate a store written before srcstat existed
    spark.sql(
      s"DROP TABLE IF EXISTS `${SegStore.bucketedName(s"$work/store", "srcstat")}`")
    graft.tools.FsUtil.rm(SegStore.bucketedLoc(s"$work/store", "srcstat"))
    assert(!SegStore.partitionExists(spark, s"$work/store", "srcstat", 0L))
    shipFile(p1, "1_b")
    runOnce()
    def readout(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.winnowReadout(
        graft.operators.Dedup.winnowSel(d), Scope.Lazy)
    val docs01 = p0.union(p1)
    val snap1 = SegStore.readSnapshot(spark, s"$work/out").get
    val want1 = readout(docs01)
    assert(snap1.except(want1).isEmpty && want1.except(snap1).isEmpty,
      "post-backfill snapshot != batch readout over shipped docs")
    assert(SegStore.partitionExists(spark, s"$work/store", "srcstat", 1L),
      "backfill did not write the srcstat partition")
    shipFile(p2, "2_c")
    runOnce()
    assert(SegStore.partitionExists(spark, s"$work/store", "srcstat", 2L))
    val snap2 = SegStore.readSnapshot(spark, s"$work/out").get
    val want2 = readout(docs01.union(p2))
    assert(snap2.except(want2).isEmpty && want2.except(snap2).isEmpty,
      "post-legacy incremental snapshot != batch readout")
    // plan pin: the per-batch snapshot folds srcstat partials only
    locally {
      import spark.implicits._
      val emptyDelta = Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("source", "n_docs", "n_fps", "dup_fps", "dup_docs")
      val plan = WinnowScrubStream.snapshotFold(spark, s"$work/store", emptyDelta)
        .queryExecution.executedPlan.toString
      assert(plan.contains("srcstat"),
        s"snapshot fold does not read srcstat:\n$plan")
      assert(!plan.contains("docstat"),
        s"snapshot fold scans the corpus-sized docstat:\n$plan")
    }
  }

  test("streaming forward-push PPR equals batch q163 after the final delta batch") {
    import org.apache.spark.sql.functions._
    import graft.streaming.GraphStream
    val work = Files.createTempDirectory("graft_ppr_stream_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    // the q113 ingest split, delivered as two stream files: base
    // (90% of orders) then delta (the rest). Batches overlap in
    // PAIRS (a customer-supplier relationship can recur across the
    // split) — exactly the at-least-once condition the store's
    // anti-join merge must absorb.
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    shipFile(graft.operators.BipartiteGraph.pairs(spark, sf,
      Some(expr("o_orderkey % 10 != 0"))), "0_base")
    shipFile(graft.operators.BipartiteGraph.pairs(spark, sf,
      Some(expr("o_orderkey % 10 = 0"))), "1_delta")
    val stream = spark.readStream
      .schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1") // force 2 incremental batches
      .parquet(src)
    val q = GraphStream.pprPushStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt")
    q.awaitTermination()
    // the incrementally-maintained store must BE the full pair index
    val (store, degStore) = GraphStream.readGraph(spark, s"$work/store")
    val full = graft.operators.BipartiteGraph.pairs(spark, sf)
    assert(store.count() == full.count() &&
      store.except(full).isEmpty && full.except(store).isEmpty,
      "accumulated pair store != full distinct pair index")
    // degree folded across segments == degree derived from the pairs
    val degDerived = graft.operators.BipartiteGraph.degreesOf(store)
    assert(degStore.except(degDerived).isEmpty &&
      degDerived.except(degStore).isEmpty,
      "degree store inconsistent with pair store")
    // DELTA-SIZED maintenance: two delta segments; batch 1 wrote only
    // the never-seen pairs (strictly fewer than the accumulated store,
    // despite the delta file re-delivering overlapping pairs)
    import graft.streaming.SegStore
    val segs = SegStore.active(spark, s"$work/store")
    assert(segs.map(_.base) == Seq(false, false), s"unexpected layout: $segs")
    val seg1 = spark.read.parquet(
      SegStore.bucketedPartPath(s"$work/store", "pairs", segs.last.id)).count()
    val seg0 = spark.read.parquet(
      SegStore.bucketedPartPath(s"$work/store", "pairs", segs.head.id)).count()
    assert(seg0 + seg1 == full.count(),
      "segment pair counts must partition the distinct pair index")
    assert(seg1 < seg0, "batch-1 segment not delta-sized")
    // and the final snapshot is EXACTLY batch q163 over the full graph
    val snap = SegStore.readSnapshot(spark, s"$work/out").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q163_ppr_forward_push")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap == batch,
      s"streamed PPR snapshot != batch q163: ${(snap diff batch).take(3)} / ${(batch diff snap).take(3)}")
  }

  test("approximate PPR gate: delta-sized changed batches under the pinned error contract") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.{BipartiteGraph, GraphOps}
    import graft.streaming.{GraphStream, GraphStreamApprox, SegStore}
    import spark.implicits._
    val Eps = 1000000L
    // sf0.01: the sf0.001 graph has only 10 suppliers (degree ~144 of
    // 160 nodes), so ANY push covers the whole graph and no fixture
    // can demonstrate delta-sized state there
    val sfG = "/root/testdata/sf0.01"
    val work = Files.createTempDirectory("graft_ppr_approx_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    // batch 0 covers EVERY node (each node's first pair is never held
    // back), so later batches are edge-only — the delta-local path.
    // Batch 1: a bulk edge delta (corrections at many endpoints);
    // batch 2: ONE new edge (the strict delta-sized pin); batch 3:
    // re-delivers batch 1 verbatim (pure replay).
    // the fixture checkpoints die with the scope
    Scope { sc =>
      val full = sc.ckpt(BipartiteGraph.pairs(spark, sfG))
      val marked = full
        .withColumn("rc", row_number().over(Window.partitionBy($"c").orderBy($"s")))
        .withColumn("rs", row_number().over(Window.partitionBy($"s").orderBy($"c")))
        .withColumn("held", $"rc" > 1 && $"rs" > 1 &&
          pmod(hash($"c", $"s"), lit(10)) === 0)
      val held = sc.ckpt(marked.where($"held").select($"c", $"s"))
      val single = sc.ckpt(held.orderBy($"c", $"s").limit(1))
      val delta = sc.ckpt(held.join(single, Seq("c", "s"), "left_anti"))
      val base = marked.where(!$"held").select($"c", $"s")
      assert(delta.count() > 100, "fixture degenerate: no held-back edges")
      shipFile(base, "0_base")
      // the delta ALSO re-delivers some base pairs: a changed batch must
      // absorb replayed pairs pair-level, not just batch-level
      shipFile(delta.unionByName(base.limit(50)), "1_delta")
      shipFile(single, "2_single")
      shipFile(delta, "3_replay")
      val store = s"$work/store"
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema("c LONG, s LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(src)
        GraphStreamApprox.pprPushStreamApprox(stream, store, s"$work/ckpt")
          .awaitTermination()
      }
      runOnce()
      // layout: batch 0 full-pushed as a BASE (empty store), batches 1-3
      // are deltas (edge-only / single-edge / all-replay — never a full
      // push)
      val segs = SegStore.active(spark, store)
      assert(segs.map(s => (s.id, s.base)) ==
        Seq((0L, true), (1L, false), (2L, false), (3L, false)),
        s"unexpected segment layout: $segs")
      // the accumulated graph IS the full pair index
      val (stored, degStore) = GraphStream.readGraph(spark, store)
      assert(stored.except(full).isEmpty && full.except(stored).isEmpty,
        "accumulated pair store != full pair index")
      // DELTA-SIZED state maintenance: the single-edge batch wrote state
      // rows only for the two endpoints' pushed neighborhoods (a small
      // fraction of the graph); the all-replay batch wrote none
      val nNodes = degStore.count()
      // per-segment row counts via the catalog table (an all-replay
      // batch's partition holds zero files — a raw path read can't
      // infer a schema from it)
      def prRows(segId: Long): Long = spark
        .table(SegStore.bucketedName(store, "pr"))
        .where(col("_seg") === segId).count()
      val pr2 = prRows(2L)
      val pr3 = prRows(3L)
      assert(pr3 == 0, s"all-replay batch wrote $pr3 state rows")
      assert(pr2 > 0 && pr2 < nNodes / 4,
        s"single-edge batch wrote $pr2 state rows over $nNodes nodes - " +
          "not delta-sized")
      // CONTRACT (a): every node's residual is below the push threshold
      val state = GraphStreamApprox.readPprApprox(spark, store)
      val viol = state
        .join(degStore.select($"src".as("node"), $"degree"), Seq("node"))
        .where(abs($"res") > $"degree" * Eps)
      assert(viol.isEmpty,
        s"residuals above Eps*degree: ${viol.take(3).toSeq}")
      // CONTRACT (b): est within 3*Eps*(degree+1) of a fresh CONVERGED
      // push over the same final graph (2x the two runs' forward-push
      // bounds + integer-rounding slack)
      val conv = GraphOps.forwardPush(spark, full,
        BipartiteGraph.degreesOf(full), earlyExit = true, maxRounds = 64)
      val bad = state.select($"node", $"est".as("est_a"))
        .join(conv.select($"node", $"est".as("est_c")), Seq("node"), "full_outer")
        .na.fill(0L, Seq("est_a", "est_c"))
        .join(degStore.select($"src".as("node"), $"degree"), Seq("node"), "left_outer")
        .na.fill(0L, Seq("degree"))
        .where(abs($"est_a" - $"est_c") > lit(3L) * Eps * ($"degree" + 1))
      assert(bad.isEmpty,
        s"est outside the error contract: ${bad.take(3).toSeq}")
      // the documented fallback: a batch introducing a NEW seed-pattern
      // node changes the global seed mass — full converged re-push,
      // written as a base segment; the contract holds on the new graph
      val maxC = full.agg(max($"c")).as[Long].head()
      val newSeedNode = ((maxC / 20L) + 1L) * 20L
      val someS = full.agg(max($"s")).as[Long].head()
      shipFile(Seq((newSeedNode, someS)).toDF("c", "s"), "4_newseed")
      runOnce()
      val segs2 = SegStore.active(spark, store)
      assert(segs2.map(s => (s.id, s.base)) == Seq((4L, true)),
        s"new-seed batch did not full-push to a base: $segs2")
      val full2 = sc.ckpt(full.unionByName(Seq((newSeedNode, someS)).toDF("c", "s")))
      val deg2 = BipartiteGraph.degreesOf(full2)
      val state2 = GraphStreamApprox.readPprApprox(spark, store)
      val conv2 = GraphOps.forwardPush(spark, full2, deg2,
        earlyExit = true, maxRounds = 64)
      val bad2 = state2.select($"node", $"est".as("est_a"))
        .join(conv2.select($"node", $"est".as("est_c")), Seq("node"), "full_outer")
        .na.fill(0L, Seq("est_a", "est_c"))
        .join(deg2.select($"src".as("node"), $"degree"), Seq("node"), "left_outer")
        .na.fill(0L, Seq("degree"))
        .where(abs($"est_a" - $"est_c") > lit(3L) * Eps * ($"degree" + 1))
      assert(bad2.isEmpty,
        s"post-fallback est outside the contract: ${bad2.take(3).toSeq}")
    }
  }

  test("approximate PPR gate: drain bail-out falls back to a full push, then recovers the delta path") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.{BipartiteGraph, GraphOps}
    import graft.streaming.{GraphStreamApprox, SegStore}
    import spark.implicits._
    val Eps = 1000000L
    val sfG = "/root/testdata/sf0.01"
    val work = Files.createTempDirectory("graft_ppr_bailout_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    // the q-approx fixture's hold-back split: every held edge's
    // endpoints already carry a rank-1 (unheld) edge, so a held batch
    // never introduces a node — the new-seed full-push path cannot
    // mask the bail-out under test
    // the fixture checkpoints die with the scope
    Scope { sc =>
      val full = sc.ckpt(BipartiteGraph.pairs(spark, sfG))
      val marked = full
        .withColumn("rc", row_number().over(Window.partitionBy($"c").orderBy($"s")))
        .withColumn("rs", row_number().over(Window.partitionBy($"s").orderBy($"c")))
        .withColumn("held", $"rc" > 1 && $"rs" > 1 &&
          pmod(hash($"c", $"s"), lit(10)) === 0)
      val held = sc.ckpt(marked.where($"held").select($"c", $"s"))
      val single = sc.ckpt(held.orderBy($"c", $"s").limit(1))
      val bulk = sc.ckpt(held.join(single, Seq("c", "s"), "left_anti"))
      assert(bulk.count() > 100, "fixture degenerate: no held-back edges")
      shipFile(marked.where(!$"held").select($"c", $"s"), "0_base")
      shipFile(bulk, "1_bulk")
      val store = s"$work/store"
      def runOnce(maxNodes: Int): Unit = {
        val stream = spark.readStream
          .schema("c LONG, s LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(src)
        GraphStreamApprox.pprPushStreamApprox(stream, store, s"$work/ckpt",
          maxLocalNodes = maxNodes)
          .awaitTermination()
      }
      // caps cranked tiny: the bulk delta's distinct-endpoint seed set
      // (>100 edges, so far more than 10 nodes) outgrows maxLocalNodes
      // in incrementalRefresh's FIRST guard — localDrain returns None
      // and the gate must fall back to a full converged push mid-stream
      runOnce(maxNodes = 10)
      // the fallback batch wrote a BASE segment (base truncates the
      // active list — only the fallback's segment remains)
      val segs1 = SegStore.active(spark, store)
      assert(segs1.map(s => (s.id, s.base)) == Seq((1L, true)),
        s"bail-out batch did not full-push to a base segment: $segs1")
      // error contract after the fallback: (a) residuals under the push
      // threshold, (b) est within 3*Eps*(degree+1) of a fresh converged
      // push over the same graph
      val graph1 = sc.ckpt(full.join(single, Seq("c", "s"), "left_anti"))
      val deg1 = BipartiteGraph.degreesOf(graph1)
      val state1 = GraphStreamApprox.readPprApprox(spark, store)
      val viol = state1
        .join(deg1.select($"src".as("node"), $"degree"), Seq("node"))
        .where(abs($"res") > $"degree" * Eps)
      assert(viol.isEmpty,
        s"post-fallback residuals above Eps*degree: ${viol.take(3).toSeq}")
      val conv1 = GraphOps.forwardPush(spark, graph1, deg1,
        earlyExit = true, maxRounds = 64)
      val bad1 = state1.select($"node", $"est".as("est_a"))
        .join(conv1.select($"node", $"est".as("est_c")), Seq("node"), "full_outer")
        .na.fill(0L, Seq("est_a", "est_c"))
        .join(deg1.select($"src".as("node"), $"degree"), Seq("node"), "left_outer")
        .na.fill(0L, Seq("degree"))
        .where(abs($"est_a" - $"est_c") > lit(3L) * Eps * ($"degree" + 1))
      assert(bad1.isEmpty,
        s"post-fallback est outside the error contract: ${bad1.take(3).toSeq}")
      // subsequent small batch under the default caps: back on the
      // delta path (non-base segment on top of the fallback's base),
      // and the contract still holds over the final graph
      shipFile(single, "2_single")
      runOnce(maxNodes = 4000000)
      val segs2 = SegStore.active(spark, store)
      assert(segs2.map(s => (s.id, s.base)) == Seq((1L, true), (2L, false)),
        s"post-bail-out single-edge batch did not take the delta path: $segs2")
      val deg2 = BipartiteGraph.degreesOf(full)
      val state2 = GraphStreamApprox.readPprApprox(spark, store)
      val conv2 = GraphOps.forwardPush(spark, full, deg2,
        earlyExit = true, maxRounds = 64)
      val bad2 = state2.select($"node", $"est".as("est_a"))
        .join(conv2.select($"node", $"est".as("est_c")), Seq("node"), "full_outer")
        .na.fill(0L, Seq("est_a", "est_c"))
        .join(deg2.select($"src".as("node"), $"degree"), Seq("node"), "left_outer")
        .na.fill(0L, Seq("degree"))
        .where(abs($"est_a" - $"est_c") > lit(3L) * Eps * ($"degree" + 1))
      assert(bad2.isEmpty,
        s"post-recovery est outside the error contract: ${bad2.take(3).toSeq}")
    }
  }

  /** Seeded randomized batch-split fuzz for a scrub gate: the fixed
    * fixtures pin ONE trajectory through the srcstat difference-form
    * algebra (flags moving by greatest(prior, delta) − prior, the
    * straddle count's legitimate negative moves); random splits cover
    * df-crossing orders the fixtures can't. Per seed: a random batch
    * count, random-sized batches (random cumulative cut points over a
    * doc hash), three planted copies of doc 0 landing in random
    * batches (so the df >= 3 flip fires at a seed-dependent batch),
    * one random earlier batch RE-DELIVERED mid-run, and the published
    * snapshot checked row-equal to the batch readout at EVERY prefix.
    */
  private def scrubFuzz(gateName: String, seedVals: Seq[Int],
      runGate: (org.apache.spark.sql.DataFrame, String, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery,
      readout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).localCheckpoint()
    for (seed <- seedVals) {
      val rng = new scala.util.Random(seed)
      val nBatches = 3 + rng.nextInt(3) // 3..5
      // random-sized contiguous hash-space slices: cut points drawn
      // uniformly, each doc lands by pmod(hash(doc_id, seed), 1000)
      val cuts = (Seq.fill(nBatches - 1)(rng.nextInt(1000)).sorted :+ 1000)
      val slot = pmod(hash(col("doc_id"), lit(seed)), lit(1000))
      val copy = (id: Long) => docs.where(col("doc_id") === 0)
        .select(lit(id).as("doc_id"), col("source"), col("text"))
      val plantBatch = Seq.fill(3)(rng.nextInt(nBatches))
      val replayAfter = 1 + rng.nextInt(nBatches - 1) // re-deliver before this batch
      val replayOf = rng.nextInt(replayAfter)
      def batchDf(i: Int): org.apache.spark.sql.DataFrame = {
        val lo = if (i == 0) 0 else cuts(i - 1)
        val base = docs.where(slot >= lo && slot < cuts(i))
        plantBatch.zipWithIndex.collect { case (b, j) if b == i =>
          copy(900001L + j)
        }.foldLeft(base)(_ unionByName _)
      }
      val work = Files.createTempDirectory(s"graft_fuzz_${gateName}_$seed").toString
      val src = s"$work/in"
      new java.io.File(src).mkdirs()
      def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = s"$work/tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet"))
      }
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      var shipped: org.apache.spark.sql.DataFrame = null
      var step = 0
      def shipAndCheck(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        shipFile(df, f"$step%02d_$label")
        step += 1
        runGate(stream, s"$work/store", s"$work/out", s"$work/ckpt")
          .awaitTermination()
        shipped = if (shipped == null) df.localCheckpoint()
          else shipped.unionByName(df).dropDuplicates("doc_id").localCheckpoint()
        val snap = graft.streaming.SegStore.readSnapshot(spark, s"$work/out").get
        val want = readout(shipped)
        assert(snap.except(want).isEmpty && want.except(snap).isEmpty,
          s"$gateName fuzz seed=$seed nBatches=$nBatches cuts=$cuts " +
            s"plants=$plantBatch replay=$replayOf@$replayAfter: " +
            s"prefix-$step snapshot != batch readout")
      }
      for (i <- 0 until nBatches) {
        if (i == replayAfter) shipAndCheck(batchDf(replayOf), "replay")
        shipAndCheck(batchDf(i), "b")
      }
    }
  }

  test("scrub gate fuzz: random batch splits match the batch readout at every prefix") {
    scrubFuzz("scrub", Seq(1, 2, 3),
      (s, store, out, ckpt) =>
        graft.streaming.SegScrubStream.scrubStream(s, store, out, ckpt),
      d => graft.operators.Dedup.crossSegReadout(graft.operators.Dedup.crossSegOcc(d)))
  }

  test("winnow-scrub gate fuzz: random batch splits match the batch readout at every prefix") {
    scrubFuzz("wscrub", Seq(1, 2, 3),
      (s, store, out, ckpt) =>
        graft.streaming.WinnowScrubStream.winnowScrubStream(s, store, out, ckpt),
      d => graft.operators.Dedup.winnowReadout(
        graft.operators.Dedup.winnowSel(d), Scope.Lazy))
  }

  test("streaming winnow scrub (q192 twin) equals the batch readout at EVERY prefix") {
    import org.apache.spark.sql.functions._
    import graft.streaming.WinnowScrubStream
    val work = Files.createTempDirectory("graft_winscrub_stream_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // planted flip at an OFFSET alignment (the family's point): batch-1
    // copies re-embed doc 0's words shifted by a 3-word prefix, so the
    // grid family would miss them but winnowing must still cross df to
    // 3 and re-flag the pre-batch docs
    val copy = (id: Long, pre: String) => docs.where(col("doc_id") === 0)
      .select(lit(id).as("doc_id"), col("source"),
        concat(lit(pre), col("text")).as("text"))
    val p0 = docs.where(col("doc_id") % 2 === 0).union(copy(900001L, ""))
    val p1 = docs.where(col("doc_id") % 2 === 1)
      .union(docs.where(col("doc_id") % 4 === 0)) // re-delivered slice
      .union(copy(900002L, "pad1 pad2 pad3 "))
      .union(copy(900003L, "padA padB padC padD "))
    shipFile(p0, "0_a")
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    def runOnce(): Unit = WinnowScrubStream.winnowScrubStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    runOnce()
    def readout(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.winnowReadout(
        graft.operators.Dedup.winnowSel(d), Scope.Lazy)
    val snap0 = graft.streaming.SegStore.readSnapshot(spark, s"$work/out").get
    val want0 = readout(p0)
    assert(snap0.except(want0).isEmpty && want0.except(snap0).isEmpty,
      "prefix-0 snapshot != batch readout over batch-0 docs")
    shipFile(p1, "1_b")
    runOnce()
    val fullDocs = docs
      .union(copy(900001L, "")).union(copy(900002L, "pad1 pad2 pad3 "))
      .union(copy(900003L, "padA padB padC padD "))
    val snap = graft.streaming.SegStore.readSnapshot(spark, s"$work/out").get
    val batch = readout(fullDocs)
    assert(snap.count() == batch.count() &&
      snap.except(batch).isEmpty && batch.except(snap).isEmpty,
      "streamed winnow-scrub readout != batch q192 readout over shipped docs")
    // the planted offset copies really changed flags (flip path fired
    // against the alignment-shifted duplicates)
    val plain = SparkEntry.queries("q192_winnow_scrub")(spark, sf)
    assert(snap.except(plain).count() > 0,
      "planted offset copies changed nothing - flip path not exercised")
  }

  test("graph gate skips the push on a no-op batch: snapshot pointer and rows unchanged") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{GraphStream, SegStore}
    val work = Files.createTempDirectory("graft_ppr_noop_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val pairs = graft.operators.BipartiteGraph.pairs(spark, sf)
    shipFile(pairs, "0_full")
    val stream = spark.readStream.schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
    def runOnce(): Unit = GraphStream.pprPushStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    runOnce()
    def ptrIds = new java.io.File(s"$work/out").listFiles()
      .map(_.getName).filter(_.startsWith("_PTR_")).toSet
    val ptr0 = ptrIds
    assert(ptr0 == Set("_PTR_0"))
    val snap0 = SegStore.readSnapshot(spark, s"$work/out").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch 1 re-delivers ONLY already-stored pairs: the graph is
    // unchanged, so the gate must skip the push entirely — the
    // snapshot pointer stays at batch 0 and the rows stay exact
    shipFile(pairs.limit(500), "1_replay")
    runOnce()
    assert(ptrIds == ptr0, s"no-op batch republished the snapshot: $ptrIds")
    val snap1 = SegStore.readSnapshot(spark, s"$work/out").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q163_ppr_forward_push")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap1 == snap0 && snap1 == batch,
      "no-op batch perturbed the PPR snapshot")
  }

  test("gate store access is scan-only: exchange-free folds, pruned pushed-down probes") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{SegStore, WinnowStream}
    import spark.implicits._
    val store = Files.createTempDirectory("graft_store_plan_").toString + "/s"
    SegStore.ensureBucketed(spark, store, "fp",
      "doc_id BIGINT, h BIGINT", Seq("h"), 4)
    SegStore.ensureBucketed(spark, store, "df",
      "h BIGINT, df BIGINT", Seq("h"), 4)
    SegStore.ensureBucketed(spark, store, "docs",
      "doc_id BIGINT", Seq("doc_id"), 4)
    val fp0 = (0L until 5000L).map(i => (i / 8, i % 613)).toDF("doc_id", "h")
    SegStore.writeBucketed(spark, store, "fp", fp0, 0L)
    SegStore.writeBucketed(spark, store, "df",
      fp0.groupBy($"h").agg(count(lit(1)).as("df")), 0L)
    SegStore.writeBucketed(spark, store, "docs",
      fp0.select($"doc_id").distinct(), 0L)
    SegStore.commit(spark, store, 0L, base = false)
    SegStore.writeBucketed(spark, store, "fp",
      Seq((9001L, 7L), (9001L, 13L)).toDF("doc_id", "h"), 1L)
    SegStore.writeBucketed(spark, store, "df",
      Seq((7L, 1L), (13L, 1L)).toDF("h", "df"), 1L)
    SegStore.writeBucketed(spark, store, "docs", Seq(9001L).toDF("doc_id"), 1L)
    SegStore.commit(spark, store, 1L, base = false)
    // 1. the df fold (the compaction/readIndex fold) plans as a
    // HashAggregate directly over the bucketed multi-segment scan —
    // no Exchange anywhere (round-12 VERDICT "what's wrong" #1)
    val foldPlan = WinnowStream.readIndex(spark, store)._2
      .queryExecution.executedPlan.toString
    assert(foldPlan.contains("Bucketed: true"), s"fold not bucketed:\n$foldPlan")
    assert(!foldPlan.contains("Exchange"),
      s"store-side df fold shuffles:\n$foldPlan")
    // 2. the probe is scan-only: batch keys reach the parquet scans as
    // pushed IN filters; the corpus is never shuffled, sorted, or
    // sort-merge-joined — the only exchange is the delta-bounded
    // pair-grain groupBy
    val newFp = Seq((8888L, 7L), (8888L, 13L), (8888L, 14L), (8888L, 15L))
      .toDF("doc_id", "h").localCheckpoint()
    val flags = WinnowStream.probeFlags(spark, store, newFp)
    val probePlan = flags.queryExecution.executedPlan.toString
    assert(probePlan.contains("PushedFilters: [In(h,") ||
      probePlan.contains("PushedFilters: [IsNotNull(h), In(h,"),
      s"probe keys not pushed to the store scan:\n$probePlan")
    // the probe must scan the partition dirs RAW, never the catalog
    // table: planning an In/InSet on the bucket column of a bucketed
    // catalog table codegens an UnsafeProjection PER KEY VALUE
    // (FileSourceStrategy.genBucketSet) — measured at seconds of
    // driver time per probe at 12k keys (GateProbe, PLANS.md round-14)
    assert(!probePlan.contains("graft_seg_"),
      s"probe reads the bucketed catalog table (per-key bucket-pruning " +
        s"codegen):\n$probePlan")
    assert(!probePlan.contains("SortMergeJoin") &&
      !probePlan.contains("Exchange rangepartitioning"),
      s"probe shuffles/sorts the store:\n$probePlan")
    val nShuffles = "Exchange hashpartitioning".r
      .findAllIn(probePlan).size
    assert(nShuffles <= 1, s"probe has store-side shuffles:\n$probePlan")
    // and the probe is CORRECT: doc 9001 shares h=7 and h=13 (df-capped
    // corpus fingerprints) but only 2 < 4 shared — no flag; the dense
    // corpus h's (df > 16) must be capped out
    assert(flags.count() == 0)
    // 3. CDC latest-per-key resolution: exchange-free over the
    // key-bucketed kv log
    val cdcStore = Files.createTempDirectory("graft_store_plan_cdc_").toString + "/s"
    SegStore.ensureBucketed(spark, cdcStore, "kv",
      "key BIGINT, deleted BOOLEAN, value DOUBLE, n_ops BIGINT", Seq("key"), 4)
    SegStore.writeBucketed(spark, cdcStore, "kv",
      Seq((1L, false, 1.0, 1L), (2L, false, 2.0, 1L))
        .toDF("key", "deleted", "value", "n_ops"), 0L)
    SegStore.commit(spark, cdcStore, 0L, base = false)
    SegStore.writeBucketed(spark, cdcStore, "kv",
      Seq((2L, true, 0.0, 2L)).toDF("key", "deleted", "value", "n_ops"), 1L)
    SegStore.commit(spark, cdcStore, 1L, base = false)
    val resolved = EventsStream.readCdcStore(spark, cdcStore)
    val rPlan = resolved.queryExecution.executedPlan.toString
    assert(rPlan.contains("Bucketed: true") && !rPlan.contains("Exchange"),
      s"latest-per-key resolve shuffles the store:\n$rPlan")
    assert(resolved.collect().map(u => (u.key, u.deleted)).toSet ==
      Set((1L, false), (2L, true)))
  }

  test("SegStore run identity: a wiped checkpoint cannot silently swallow new batches") {
    import graft.streaming.SegStore
    val store = Files.createTempDirectory("graft_runid_").toString + "/s"
    import spark.implicits._
    Seq((1L, 1L)).toDF("k", "v").write.mode("overwrite")
      .parquet(s"${SegStore.segPath(store, 0L, base = false)}/kv")
    SegStore.commit(spark, store, 0L, base = false, runId = "run-A")
    // same run replays: no-op, no error
    assert(SegStore.isApplied(spark, store, 0L, "run-A"))
    // a DIFFERENT checkpoint identity re-issuing batchId 0 must fail
    // loudly, not silently skip (round-12 ADVICE #1: silent data loss)
    intercept[IllegalStateException] {
      SegStore.isApplied(spark, store, 0L, "run-B")
    }
    // unidentified callers (plain batch tooling) keep legacy behavior
    assert(SegStore.isApplied(spark, store, 0L))
  }

  test("snapshot publication is pointer-switched: readers always see a complete snapshot") {
    import graft.streaming.SegStore
    import spark.implicits._
    val out = Files.createTempDirectory("graft_snap_").toString + "/out"
    assert(SegStore.readSnapshot(spark, out).isEmpty)
    SegStore.writeSnapshot(spark, out, Seq((1L, "a")).toDF("k", "v"), 0L)
    assert(SegStore.readSnapshot(spark, out).get.count() == 1)
    SegStore.writeSnapshot(spark, out, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1L)
    assert(SegStore.readSnapshot(spark, out).get.count() == 2)
    // the N-1 generation survives the switch (round-13 ADVICE #3: a
    // reader that resolved _PTR_0 just before the publish must not
    // have its files deleted mid-read); two generations back is gc'd
    val left1 = new java.io.File(out).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // local-FS .crc sidecars
    assert(left1 == Set("snap_0", "_PTR_0", "snap_1", "_PTR_1"),
      s"unexpected snapshot layout after publish 1: $left1")
    SegStore.writeSnapshot(spark, out,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), 2L)
    assert(SegStore.readSnapshot(spark, out).get.count() == 3)
    val left = new java.io.File(out).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(left == Set("snap_1", "_PTR_1", "snap_2", "_PTR_2"),
      s"stale snapshots left: $left")
    // torn NEXT snapshot (crash before its pointer): readers still
    // resolve the last published one
    Seq((9L, "x")).toDF("k", "v").write.mode("overwrite").parquet(s"$out/snap_3")
    assert(SegStore.readSnapshot(spark, out).get.count() == 3)
    // a pointer whose directory vanished is skipped, not fatal
    new java.io.File(s"$out/_PTR_4").createNewFile()
    assert(SegStore.readSnapshot(spark, out).get.count() == 3)
  }

  test("snapshot overlays: latest-wins fold with tombstones, chain retention, full publish resets") {
    import graft.streaming.SegStore
    import spark.implicits._
    val out = Files.createTempDirectory("graft_snapd_").toString + "/out"
    def read(): Set[(Long, Long)] = SegStore.readSnapshot(spark, out).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def left(): Set[String] = new java.io.File(out).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    // an overlay without a base full snapshot must refuse loudly
    intercept[IllegalStateException] {
      SegStore.writeSnapshotDelta(spark, out,
        Seq((1L, 10L, true)).toDF("k", "v", "keep"), 0L, Seq("k"), "keep")
    }
    SegStore.writeSnapshot(spark, out,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), 0L)
    // overlay 1: update k=2, add k=3, TOMBSTONE k=1 (keep = false)
    SegStore.writeSnapshotDelta(spark, out,
      Seq((1L, 0L, false), (2L, 21L, true), (3L, 30L, true))
        .toDF("k", "v", "keep"), 1L, Seq("k"), "keep")
    val s1 = SegStore.readSnapshot(spark, out).get
    assert(s1.columns.toSeq == Seq("k", "v"),
      s"overlay fold changed the published schema: ${s1.columns.toSeq}")
    assert(read() == Set((2L, 21L), (3L, 30L)))
    // overlay 2: k=1 returns — latest publish wins over the tombstone
    SegStore.writeSnapshotDelta(spark, out,
      Seq((1L, 11L, true)).toDF("k", "v", "keep"), 2L, Seq("k"), "keep")
    assert(read() == Set((1L, 11L), (2L, 21L), (3L, 30L)))
    // the whole chain is load-bearing: nothing GC'd while overlays
    // extend the base
    assert(Set("snap_0", "_PTR_0", "snapd_1", "_PTRD_1", "snapd_2",
      "_PTRD_2").subsetOf(left()), s"chain member GC'd early: ${left()}")
    // a FULL publish resets the chain; the N-1 generation (the whole
    // prior chain) survives one more publish for in-flight readers
    SegStore.writeSnapshot(spark, out, Seq((9L, 90L)).toDF("k", "v"), 3L)
    assert(read() == Set((9L, 90L)))
    assert(Set("snap_0", "snapd_1", "snapd_2").subsetOf(left()),
      s"prior chain GC'd while still the N-1 generation: ${left()}")
    SegStore.writeSnapshot(spark, out, Seq((9L, 91L)).toDF("k", "v"), 4L)
    assert(read() == Set((9L, 91L)))
    assert(left() == Set("snap_3", "_PTR_3", "snap_4", "_PTR_4", "_SNAP_SPEC"),
      s"old chain not GC'd after two full publishes: ${left()}")
    // torn overlay (parquet without its pointer) and orphan pointer
    // (no data dir): both skipped, the last good publish still reads
    Seq((5L, 50L, true)).toDF("k", "v", "keep")
      .write.parquet(s"$out/snapd_5")
    new java.io.File(s"$out/_PTRD_6").createNewFile()
    assert(read() == Set((9L, 91L)))
    // a conflicting fold spec is rejected
    intercept[IllegalStateException] {
      SegStore.writeSnapshotDelta(spark, out,
        Seq((1L, 1L, true)).toDF("k", "v", "other"), 7L, Seq("k"), "other")
    }
  }

  test("scrub gates under aggressive compaction (compactEvery=1): readouts unchanged, base-only layout") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{SegScrubStream, SegStore, WinnowScrubStream}
    val work = Files.createTempDirectory("graft_scrub_compact_").toString
    def shipFile(src: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      new java.io.File(src).mkdirs()
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // three batches: batch 1 compacts batch 0's delta; batch 2
    // compacts again AND must fold the batch-1 base correctly —
    // docstat/sdf/occ(sel)/docs all go through their base-fold branch
    def ship3(src: String): Unit = {
      shipFile(src, docs.where(col("doc_id") % 3 === 0), "0_a")
      shipFile(src, docs.where(col("doc_id") % 3 === 1), "1_b")
      shipFile(src, docs.where(col("doc_id") % 3 === 2)
        .union(docs.where(col("doc_id") % 9 === 0)), "2_c") // + re-delivery
    }
    // --- SegScrubStream (q191 twin) ---
    locally {
      val src = s"$work/seg/in"
      ship3(src)
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(src)
      SegScrubStream.scrubStream(stream, s"$work/seg/store", s"$work/seg/out",
        s"$work/seg/ckpt", compactEvery = 1).awaitTermination()
      val segs = SegStore.active(spark, s"$work/seg/store")
      assert(segs.map(_.base) == Seq(true), s"seg layout: $segs")
      val snap = SegStore.readSnapshot(spark, s"$work/seg/out").get
      val want = graft.operators.Dedup.crossSegReadout(
        graft.operators.Dedup.crossSegOcc(docs))
      assert(snap.except(want).isEmpty && want.except(snap).isEmpty,
        "compacted scrub readout != batch readout")
    }
    // --- WinnowScrubStream (q192 twin) ---
    locally {
      val src = s"$work/win/in"
      ship3(src)
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(src)
      WinnowScrubStream.winnowScrubStream(stream, s"$work/win/store",
        s"$work/win/out", s"$work/win/ckpt", compactEvery = 1).awaitTermination()
      val segs = SegStore.active(spark, s"$work/win/store")
      assert(segs.map(_.base) == Seq(true), s"win layout: $segs")
      val snap = SegStore.readSnapshot(spark, s"$work/win/out").get
      val want = graft.operators.Dedup.winnowReadout(
        graft.operators.Dedup.winnowSel(docs), Scope.Lazy)
      assert(snap.except(want).isEmpty && want.except(snap).isEmpty,
        "compacted winnow-scrub readout != batch readout")
    }
  }

  test("graph store under aggressive compaction (compactEvery=1): snapshot unchanged, base-only layout") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{GraphStream, SegStore}
    val work = Files.createTempDirectory("graft_ppr_compact_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    shipFile(graft.operators.BipartiteGraph.pairs(spark, sf,
      Some(expr("o_orderkey % 10 != 0"))), "0_base")
    shipFile(graft.operators.BipartiteGraph.pairs(spark, sf,
      Some(expr("o_orderkey % 10 = 0"))), "1_delta")
    val stream = spark.readStream
      .schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    // every batch after the first folds pairs (union) and degree
    // (groupBy-sum) into a base segment — the GraphStream fold paths
    GraphStream.pprPushStream(stream, s"$work/store", s"$work/out",
      s"$work/ckpt", compactEvery = 1).awaitTermination()
    val segs = SegStore.active(spark, s"$work/store")
    assert(segs.map(_.base) == Seq(true), s"unexpected layout: $segs")
    val (store, degStore) = GraphStream.readGraph(spark, s"$work/store")
    val full = graft.operators.BipartiteGraph.pairs(spark, sf)
    assert(store.except(full).isEmpty && full.except(store).isEmpty,
      "compacted pair store != full distinct pair index")
    val degDerived = graft.operators.BipartiteGraph.degreesOf(store)
    assert(degStore.except(degDerived).isEmpty &&
      degDerived.except(degStore).isEmpty,
      "compacted degree inconsistent with pairs")
    val snap = SegStore.readSnapshot(spark, s"$work/out").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q163_ppr_forward_push")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap == batch, "compacted-store PPR snapshot != batch q163")
  }

  test("component-exact PPR refresh: no-new-seed deltas re-push only the touched components, merges and new seeds stay exact") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{GatePhase, GraphStream, SegStore}
    import spark.implicits._
    // Synthetic multi-component bipartite graph with controlled seeds:
    // customers are even nodes 2k (seed iff k % 10 == 0), suppliers odd.
    // Component i: customers k in {100i+10 (seed), 100i+11, 100i+12},
    // suppliers j in {100i+50, 100i+51} — disjoint ranges per i.
    def c(k: Long) = 2 * k
    def s_(j: Long) = 2 * j + 1
    def comp(i: Long): Seq[(Long, Long)] = Seq(
      (c(100 * i + 10), s_(100 * i + 50)),
      (c(100 * i + 11), s_(100 * i + 50)),
      (c(100 * i + 11), s_(100 * i + 51)),
      (c(100 * i + 12), s_(100 * i + 51)))
    val work = Files.createTempDirectory("graft_ppr_comp_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      rows.toDF("c", "s").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val stream = spark.readStream.schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    GatePhase.hook = (n, _) => phases.synchronized { phases += n; () }
    def runOnce(): Unit = GraphStream.pprPushStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    def pathsTaken(): Seq[String] = phases.synchronized {
      val v = phases.toVector.filter(_.startsWith("ppr-")); phases.clear(); v
    }
    def snapshot(): Set[(Long, Long, Long)] =
      SegStore.readSnapshot(spark, s"$work/out").get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def oracle(all: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
      val p = all.distinct.toDF("c", "s")
      graft.operators.GraphOps.forwardPush(spark, p,
        graft.operators.BipartiteGraph.degreesOf(p), earlyExit = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    def labels(): Map[Long, Long] = {
      val t = SegStore.readBucketedTagged(spark, s"$work/store", "cc").get
      t.groupBy($"node").agg(expr("max_by(comp, _seg)").as("comp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    try {
      // batch 0: four disjoint components — bootstrap takes the FULL path
      val base0 = (0L until 4L).flatMap(comp)
      shipFile(base0, "0_bootstrap")
      runOnce()
      assert(pathsTaken() == Seq("ppr-full"), "bootstrap did not run the full path")
      assert(snapshot() == oracle(base0), "bootstrap snapshot != batch push")
      // batch 1: NO new seed — a new pair between existing nodes of
      // component 0 plus a new non-seed customer attaching to it:
      // the COMPONENT path must run, touch only component 0, and the
      // result must still equal the full batch push
      val d1 = Seq((c(12), s_(50)), (c(13), s_(51)))
      shipFile(d1, "1_delta")
      runOnce()
      assert(pathsTaken() == Seq("ppr-component"),
        "no-new-seed delta did not take the component path")
      assert(snapshot() == oracle(base0 ++ d1),
        "component-refresh snapshot != batch push over the merged graph")
      // component-sized maintenance: the batch's prc partition holds
      // exactly component 0's member set (5 old + 1 new nodes), not
      // the 20-node corpus
      val prc1 = spark.read.parquet(
        SegStore.bucketedPartPath(s"$work/store", "prc", 1L))
      assert(prc1.count() == 6L,
        s"prc delta not component-sized: ${prc1.count()} rows")
      // batch 2: MERGE — an existing non-seed customer of component 1
      // pairs with a supplier of component 2; both components re-push
      // together and the labels fold to the min node id
      val d2 = Seq((c(111), s_(250)))
      shipFile(d2, "2_merge")
      runOnce()
      assert(pathsTaken() == Seq("ppr-component"),
        "merge delta did not take the component path")
      assert(snapshot() == oracle(base0 ++ d1 ++ d2),
        "merge-refresh snapshot != batch push over the merged graph")
      val lbl = labels()
      val mergedNodes = (comp(1) ++ comp(2) ++ d2).flatMap(p => Seq(p._1, p._2))
      val want = mergedNodes.min
      assert(mergedNodes.forall(n => lbl(n) == want),
        s"merged component not labeled by its min node id: " +
          mergedNodes.map(n => n -> lbl(n)).toMap.toString)
      // untouched components keep their labels
      assert(comp(0).flatMap(p => Seq(p._1, p._2)).forall(n =>
        lbl(n) == comp(0).flatMap(p => Seq(p._1, p._2)).min),
        "untouched component relabeled")
      // batch 3: a NEW SEED (customer k = 510, k % 10 == 0) attaches to
      // component 3 — Total/nS changes, the FULL path must run, and
      // every component's rows move exactly
      val d3 = Seq((c(510), s_(350)))
      shipFile(d3, "3_new_seed")
      runOnce()
      assert(pathsTaken() == Seq("ppr-full"),
        "new-seed delta did not fall back to the full path")
      assert(snapshot() == oracle(base0 ++ d1 ++ d2 ++ d3),
        "new-seed snapshot != batch push over the merged graph")
      // batch 4: all-replay — snapshot pointer untouched, no push at all
      val ptrBefore = new java.io.File(s"$work/out").listFiles()
        .map(_.getName).filter(_.startsWith("_PTR_")).toSet
      shipFile(d2, "4_replay")
      runOnce()
      assert(pathsTaken().isEmpty, "all-replay batch ran a push path")
      assert(new java.io.File(s"$work/out").listFiles()
        .map(_.getName).filter(_.startsWith("_PTR_")).toSet == ptrBefore,
        "all-replay batch republished the snapshot")
    } finally GatePhase.hook = (_, _) => ()
  }

  test("component-exact PPR refresh handles a chain-shaped delta (adversarial diameter) and a seedless new component") {
    import graft.streaming.{GatePhase, GraphStream, SegStore}
    import spark.implicits._
    def c(k: Long) = 2 * k
    def s_(j: Long) = 2 * j + 1
    val work = Files.createTempDirectory("graft_ppr_chain_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      rows.toDF("c", "s").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val stream = spark.readStream.schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    GatePhase.hook = (n, _) => phases.synchronized { phases += n; () }
    try {
      // batch 0: one small seeded component (customer k=10 is a seed)
      val base0 = Seq((c(10), s_(50)), (c(11), s_(50)))
      shipFile(base0, "0_bootstrap")
      GraphStream.pprPushStream(stream, s"$work/store", s"$work/out",
        s"$work/ckpt").awaitTermination()
      // batch 1: a 151-customer CHAIN of brand-new non-seed nodes
      // (k = 10i+3 is never a seed and never collides with the
      // bootstrap's k=10/11) — an isolated new component whose
      // CONTRACTED graph has diameter ~300; a diameter-bounded
      // hash-min merge would blow its round cap and crash-loop the
      // replay, the two-phase contraction converges in O(log n)
      val chain = (0 until 150).flatMap { i =>
        Seq((c(10L * i + 3), s_(1000L + i)), (c(10L * (i + 1) + 3), s_(1000L + i)))
      }
      shipFile(chain, "1_chain")
      GraphStream.pprPushStream(stream, s"$work/store", s"$work/out",
        s"$work/ckpt").awaitTermination()
      val taken = phases.synchronized(phases.toVector.filter(_.startsWith("ppr-")))
      assert(taken == Seq("ppr-full", "ppr-component"),
        s"unexpected paths: $taken")
      // the seedless chain component contributes NOTHING to the PPR
      // snapshot — the full-run equality must hold over the merged graph
      val all = (base0 ++ chain).distinct.toDF("c", "s")
      val batch = graft.operators.GraphOps.forwardPush(spark, all,
        graft.operators.BipartiteGraph.degreesOf(all), earlyExit = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val snap = SegStore.readSnapshot(spark, s"$work/out").get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(snap == batch, "chain-delta snapshot != batch push")
      // and the chain component is labeled by its min node id with a
      // prc filler row (touched = false) per member
      val lbl = SegStore.readBucketedTagged(spark, s"$work/store", "cc").get
        .groupBy($"node")
        .agg(org.apache.spark.sql.functions.expr("max_by(comp, _seg)").as("comp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val chainNodes = chain.flatMap(p => Seq(p._1, p._2)).distinct
      assert(chainNodes.forall(n => lbl(n) == chainNodes.min),
        "chain component not labeled by its min node id")
      val prc1 = spark.read.parquet(
        SegStore.bucketedPartPath(s"$work/store", "prc", 1L))
      assert(prc1.count() == chainNodes.size.toLong,
        s"prc delta rows ${prc1.count()} != chain members ${chainNodes.size}")
      assert(prc1.where("touched").count() == 0L,
        "seedless component produced touched PPR rows")
    } finally GatePhase.hook = (_, _) => ()
  }

  test("graph gate: self-pair-only nodes keep their push state in prc-derived snapshots") {
    import graft.streaming.{GatePhase, GraphStream, SegStore}
    import spark.implicits._
    // round-16 ADVICE #1: the a =!= b contraction never sees a node
    // whose ONLY pairs are self-pairs (c == s), so building cc from
    // edge endpoints alone left it without a label — and without a
    // `prc` row, every prc-derived snapshot (the component path's
    // fold, publishFallback) silently dropped its push state. The
    // ingest accepts arbitrary (c, s) longs; such a node must be its
    // own component, labeled by its own id.
    def c(k: Long) = 2 * k
    def s_(j: Long) = 2 * j + 1
    val work = Files.createTempDirectory("graft_ppr_selfpair_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      rows.toDF("c", "s").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val stream = spark.readStream.schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    GatePhase.hook = (n, _) => phases.synchronized { phases += n; () }
    def runOnce(): Unit = GraphStream.pprPushStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    def snapshot(): Set[(Long, Long, Long)] =
      SegStore.readSnapshot(spark, s"$work/out").get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def oracle(all: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
      val p = all.distinct.toDF("c", "s")
      graft.operators.GraphOps.forwardPush(spark, p,
        graft.operators.BipartiteGraph.degreesOf(p), earlyExit = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    try {
      // batch 0: one seeded component plus a SEED-pattern self-pair
      // node (c(20) = 40, 40 % 20 == 0) with no other edges — its push
      // state is non-empty, so dropping its prc row is observable
      val base0 = Seq((c(10), s_(50)), (c(11), s_(50)), (c(20), c(20)))
      shipFile(base0, "0_bootstrap")
      runOnce()
      assert(snapshot() == oracle(base0),
        "bootstrap snapshot != batch push over a graph with a self-pair node")
      // batch 1: a no-new-seed delta touching the normal component only
      // — the component path publishes a prc-DERIVED snapshot, which
      // must still carry the untouched self-pair node's rows
      val d1 = Seq((c(12), s_(50)))
      shipFile(d1, "1_delta")
      runOnce()
      val taken = phases.synchronized(phases.toVector.filter(_.startsWith("ppr-")))
      assert(taken == Seq("ppr-full", "ppr-component"),
        s"unexpected refresh paths: $taken")
      assert(snapshot() == oracle(base0 ++ d1),
        "prc-derived snapshot dropped the self-pair node's push state")
      // and the node is labeled in cc by its own id (its own component)
      val lbl = SegStore.readBucketedTagged(spark, s"$work/store", "cc").get
        .groupBy($"node")
        .agg(org.apache.spark.sql.functions.expr("max_by(comp, _seg)").as("comp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbl.get(c(20)).contains(c(20)),
        s"self-pair node not labeled by its own id: ${lbl.get(c(20))}")
    } finally GatePhase.hook = (_, _) => ()
  }

  test("graph gate: seeded random batch splits converge to the batch push (component/full paths interleaved)") {
    import graft.streaming.{GraphStream, SegStore}
    import spark.implicits._
    // The component-exact refresh must be order-independent: any split
    // of the same pair set into micro-batches — merges, new seeds and
    // replays landing in arbitrary order — must end at the exact batch
    // push over the full graph (the scrub gates' fuzz device, applied
    // to the graph gate's two refresh paths).
    def c(k: Long) = 2 * k
    def s_(j: Long) = 2 * j + 1
    // 6 seeded components + cross links that merge some of them,
    // delivered in random order; duplicates injected as replays
    val pairs: Seq[(Long, Long)] = (0L until 6L).flatMap { i =>
      Seq((c(100 * i + 10), s_(100 * i + 50)),
        (c(100 * i + 11), s_(100 * i + 50)),
        (c(100 * i + 11), s_(100 * i + 51)),
        (c(100 * i + 12), s_(100 * i + 51)))
    } ++ Seq(
      (c(111), s_(250)),  // merges components 1 and 2
      (c(412), s_(550)),  // merges components 4 and 5
      (c(13), s_(51)),    // new non-seed customer into component 0
      (c(311), s_(1000))) // new supplier into component 3
    val all = pairs.distinct.toDF("c", "s")
    val oracle = graft.operators.GraphOps.forwardPush(spark, all,
      graft.operators.BipartiteGraph.degreesOf(all), earlyExit = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (seed <- Seq(7, 23)) {
      val rng = new scala.util.Random(seed)
      val nBatches = 4
      // random assignment + injected re-deliveries (at-least-once)
      val batches = Array.fill(nBatches)(
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long)])
      pairs.foreach { p =>
        batches(rng.nextInt(nBatches)) += p
        if (rng.nextDouble() < 0.3) batches(rng.nextInt(nBatches)) += p
      }
      val work = Files.createTempDirectory(s"graft_ppr_fuzz_$seed").toString
      val src = s"$work/in"
      new java.io.File(src).mkdirs()
      batches.zipWithIndex.foreach { case (b, i) =>
        val rows = if (b.isEmpty) Seq((c(10), s_(50))) else b.toSeq
        val tmp = s"$work/tmp_$i"
        rows.toDF("c", "s").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$src/$i.parquet"))
      }
      GraphStream.pprPushStream(
        spark.readStream.schema("c LONG, s LONG")
          .option("maxFilesPerTrigger", "1").parquet(src),
        s"$work/store", s"$work/out", s"$work/ckpt", compactEvery = 3)
        .awaitTermination()
      val snap = SegStore.readSnapshot(spark, s"$work/out").get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(snap == oracle,
        s"seed $seed: fuzzed-split snapshot != batch push " +
          s"(missing ${(oracle diff snap).take(3)}, extra ${(snap diff oracle).take(3)})")
      val (p, d) = GraphStream.readGraph(spark, s"$work/store")
      assert(p.count() == all.count() &&
        p.except(all).isEmpty && all.except(p).isEmpty,
        s"seed $seed: fuzzed-split pair store != distinct pair set")
      val degDerived = graft.operators.BipartiteGraph.degreesOf(p)
      assert(d.except(degDerived).isEmpty && degDerived.except(d).isEmpty,
        s"seed $seed: degree store inconsistent with pairs")
    }
  }

  test("an all-replay base batch resets the snapshot overlay chain") {
    import graft.streaming.{GraphStream, SegStore}
    import spark.implicits._
    // review finding (round 17): the compactEvery bound on the overlay
    // chain relies on EVERY base batch publishing full — including an
    // all-replay base, which used to publish nothing and let the chain
    // grow across compaction cycles
    def c(k: Long) = 2 * k
    def s_(j: Long) = 2 * j + 1
    def comp(i: Long): Seq[(Long, Long)] = Seq(
      (c(100 * i + 10), s_(100 * i + 50)),
      (c(100 * i + 11), s_(100 * i + 50)),
      (c(100 * i + 12), s_(100 * i + 51)))
    val work = Files.createTempDirectory("graft_ppr_chainreset_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      rows.toDF("c", "s").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val stream = spark.readStream.schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
    def runOnce(): Unit = GraphStream.pprPushStream(stream,
      s"$work/store", s"$work/out", s"$work/ckpt", compactEvery = 2)
      .awaitTermination()
    def ptrs(): Set[String] = new java.io.File(s"$work/out").listFiles()
      .map(_.getName).filter(n => n.startsWith("_PTR_") || n.startsWith("_PTRD_"))
      .toSet
    def snapshot(): Set[(Long, Long, Long)] =
      SegStore.readSnapshot(spark, s"$work/out").get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def oracle(all: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
      val p = all.distinct.toDF("c", "s")
      graft.operators.GraphOps.forwardPush(spark, p,
        graft.operators.BipartiteGraph.degreesOf(p), earlyExit = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val base0 = (0L until 3L).flatMap(comp)
    shipFile(base0, "0_bootstrap")
    runOnce()
    val d1 = Seq((c(13), s_(51))) // no-new-seed: component path, overlay
    shipFile(d1, "1_delta")
    runOnce()
    assert(ptrs().contains("_PTRD_1"),
      s"component delta did not publish an overlay: ${ptrs()}")
    // batch 2 re-delivers d1 verbatim: all-replay AND a compaction
    // batch (two active deltas, compactEvery = 2) — the base must
    // publish a FULL snapshot, resetting the chain
    shipFile(d1, "2_replay_base")
    runOnce()
    assert(ptrs().contains("_PTR_2"),
      s"all-replay base did not reset the overlay chain: ${ptrs()}")
    assert(SegStore.active(spark, s"$work/store").map(_.base) == Seq(true),
      "compaction batch did not fold to a base-only layout")
    assert(snapshot() == oracle(base0 ++ d1),
      "post-reset snapshot != batch push")
    // overlays keep working over the new base
    val d3 = Seq((c(12), s_(50)))
    shipFile(d3, "3_delta")
    runOnce()
    assert(ptrs().contains("_PTRD_3"),
      s"post-reset component delta did not publish an overlay: ${ptrs()}")
    assert(snapshot() == oracle(base0 ++ d1 ++ d3),
      "post-reset overlay snapshot != batch push")
  }

  test("component-exact PPR refresh survives a crash-kill inside the delta batch") {
    import graft.streaming.{GraphStream, SegStore}
    import spark.implicits._
    def c(k: Long) = 2 * k
    def s_(j: Long) = 2 * j + 1
    def comp(i: Long): Seq[(Long, Long)] = Seq(
      (c(100 * i + 10), s_(100 * i + 50)),
      (c(100 * i + 11), s_(100 * i + 50)),
      (c(100 * i + 12), s_(100 * i + 51)))
    val work = Files.createTempDirectory("graft_ppr_comp_crash_").toString
    val src = s"$work/in"
    new java.io.File(src).mkdirs()
    def shipFile(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = s"$work/tmp_$name"
      rows.toDF("c", "s").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val stream = spark.readStream.schema("c LONG, s LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val base0 = (0L until 3L).flatMap(comp)
    shipFile(base0, "0_bootstrap")
    GraphStream.pprPushStream(stream, s"$work/store", s"$work/out",
      s"$work/ckpt").awaitTermination()
    // the merge delta (component path), crash-killed after the batch's
    // segment is WRITTEN but before it commits: wipe the marker of the
    // would-be segment by replaying from a copied checkpoint — here we
    // simulate the torn state directly by deleting the commit marker
    // after a successful run, then re-running the same batch
    val d1 = Seq((c(111), s_(250)), (c(13), s_(51)))
    shipFile(d1, "1_merge")
    GraphStream.pprPushStream(stream, s"$work/store", s"$work/out",
      s"$work/ckpt").awaitTermination()
    val snapGood = SegStore.readSnapshot(spark, s"$work/out").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // simulate the crash-before-marker: drop batch 1's marker and its
    // checkpoint commit record, then restart — Structured Streaming
    // replays batch 1 against the batch-0-only committed view and the
    // gate must overwrite the torn partitions and converge
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      SegStore.segPath(s"$work/store", 1L, base = false), "_GRAFT_COMMITTED"),
      false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/ckpt/commits/1"), false)
    GraphStream.pprPushStream(stream, s"$work/store", s"$work/out",
      s"$work/ckpt").awaitTermination()
    assert(SegStore.isApplied(spark, s"$work/store", 1L),
      "replayed batch did not commit")
    val snapReplay = SegStore.readSnapshot(spark, s"$work/out").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snapReplay == snapGood, "replayed snapshot diverged")
    val all = (base0 ++ d1).distinct.toDF("c", "s")
    val batch = graft.operators.GraphOps.forwardPush(spark, all,
      graft.operators.BipartiteGraph.degreesOf(all), earlyExit = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snapReplay == batch, "replayed snapshot != batch push")
    // the store itself converged too: pairs are the distinct union
    val (p, _) = GraphStream.readGraph(spark, s"$work/store")
    assert(p.count() == (base0 ++ d1).distinct.size.toLong,
      "replayed pair store diverged")
  }
}
