package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.streaming.{SegStore, WinnowStream}

/** `WinnowStream.nearDupGateStream` over a `SegStore`. A corpus of
  * generated documents (the catalog's `documents` generator at sf0.01)
  * is shipped as batch 0 during set-up; each unit is
  * one compaction cycle of seeded delta micro-batches (fresh docs, near
  * duplicates of shipped docs and exact replays), the last of which
  * folds the segment log into a new base.
  */
object GateIngest extends Workload {
  val name = "gate_ingest"
  val CorpusDocs = 500
  val CompactEvery = 2
  val BatchDocs = 40
  val Buckets = 8

  type Inputs = IndexedSeq[(Long, String)]
  /** `shipped` holds each distinct doc once, in shipping order. */
  final class St(val dirs: Map[String, Path], var nextId: Long) {
    val shipped = mutable.ArrayBuffer.empty[(Long, String)]
    val ids = mutable.HashSet.empty[Long]
    val batches = mutable.ArrayBuffer.empty[IndexedSeq[(Long, String)]]
  }
  type State = St

  def generate(ctx: Ctx): Inputs =
    Gen.documentTexts(CorpusDocs, Gen.CatalogSeed).zipWithIndex.map { case (t, i) => i.toLong -> t }

  def setup(ctx: Ctx, corpus: Inputs): St = {
    val dirs = Seq("in", "store", "out", "ckpt").map(d => d -> ctx.workDir(s"gate/$d")).toMap
    val st = new St(dirs, corpus.map(_._1).max + 1)
    ship(ctx, st, corpus)
    st
  }

  /** Writes the batch as one NDJSON file and runs the gate until it has
    * consumed it. Returns the file's size in bytes. */
  private def ship(ctx: Ctx, st: St, docs: IndexedSeq[(Long, String)]): Long = {
    val id = st.batches.size
    val file = Gen.writeNdjson(st.dirs("in").resolveSibling("staging"), f"$id%05d.json",
      docs.iterator.map { case (d, t) => s"""{"doc_id":$d,"text":"$t"}""" })
    val target = st.dirs("in").resolve(file.getFileName)
    Files.move(file, target)
    val stream = ctx.spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(st.dirs("in").toString)
      .select(col("doc_id"), col("text"))
    val q = WinnowStream.nearDupGateStream(stream, st.dirs("store").toString,
      st.dirs("out").toString, st.dirs("ckpt").toString, CompactEvery, Buckets)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    st.batches += docs
    docs.foreach(d => if (st.ids.add(d._1)) st.shipped += d)
    Files.size(target)
  }

  private def storeFiles(root: Path): Map[String, (Long, Long)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap finally s.close()
  }

  def run(ctx: Ctx, st: St): Result = {
    var written = 0L
    var input = 0L
    var compaction = 0.0
    val r = ctx.loop(minUnits = 2) { k =>
      (0 until CompactEvery).flatMap { b =>
        val docs = Gen.gateBatch(ctx.rnd, st.shipped.toIndexedSeq, st.nextId, BatchDocs)
        st.nextId = (docs.map(_._1) :+ (st.nextId - 1)).max + 1
        val before = storeFiles(st.dirs("store"))
        val segs = SegStore.active(ctx.spark, st.dirs("store").toString).size
        ctx.op(s"batch ${st.batches.size}")(ctx.span("stream.batch")(ship(ctx, st, docs))).map { case (bytes, ms) =>
          val after = storeFiles(st.dirs("store"))
          written += after.iterator.filter { case (f, v) => !before.get(f).contains(v) }.map(_._2._1).sum
          input += bytes
          if (segs >= CompactEvery && k == 0) compaction += ms / 1e3
          s"batch$b" -> ms
        }
      }
    }
    ctx.check(scala.util.Try(flagsMatchTwin(ctx, st)).getOrElse(false), "gate flags differ from the batch twin")
    r.layer ++= Seq(
      "gate_batch_s" -> Stats.median(r.warmOpMs) / 1e3,
      "store_bytes_per_input_byte" -> written.toDouble / input,
      "segstore.bytes_written" -> written.toDouble / r.unitWall.size,
      "segstore.segments_active" -> SegStore.active(ctx.spark, st.dirs("store").toString).size.toDouble,
      "segstore.compaction_s" -> compaction)
    r
  }

  /** The batch twin: replays every shipped batch against an in-memory
    * index and compares each batch's flags with what the gate
    * published. Fingerprints come from the `winnow_set` SQL kernel; the
    * index, the df cap (<= 16 pre-batch docs per fingerprint), replay
    * absorption and the pair threshold (>= 4 shared) are recomputed
    * here. */
  def flagsMatchTwin(ctx: Ctx, st: St): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    val all = st.batches.flatten.distinctBy(_._1)
    val fps: Map[Long, Set[Long]] = all.toSeq.toDF("doc_id", "text")
      .selectExpr("doc_id", "winnow_set(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 20, 8) AS hs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val index = mutable.Map.empty[Long, Set[Long]]            // doc -> fingerprints
    val df = mutable.Map.empty[Long, Int].withDefaultValue(0) // fingerprint -> docs
    st.batches.zipWithIndex.forall { case (batch, b) =>
      val fresh = batch.map(_._1).distinct.filterNot(index.contains)
      val capped = (h: Long) => df(h) > 0 && df(h) <= 16
      val olds = index.toSeq.flatMap { case (d, hs) => hs.iterator.filter(capped).map(_ -> d) }
        .groupMap(_._1)(_._2)
      val want = fresh.flatMap { n =>
        fps(n).toSeq.flatMap(h => olds.getOrElse(h, Nil)).groupMapReduce(identity)(_ => 1L)(_ + _)
          .collect { case (o, c) if c >= 4 => (n, o, c) }
      }.toSet
      val got = spark.read.schema("new_doc LONG, old_doc LONG, shared LONG")
        .parquet(st.dirs("out").resolve(s"batch_$b").toString).as[(Long, Long, Long)].collect().toSet
      fresh.foreach { n => index(n) = fps(n); fps(n).foreach(h => df(h) += 1) }
      if (got != want) System.err.println(s"[graftbench] gate batch $b: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
      got == want
    }
  }
}
