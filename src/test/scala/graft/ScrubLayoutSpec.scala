package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The on-disk layout of the two df >= 3 scrub gates' stores. Every
  * existing store was written with exactly these bucketed sub-tables
  * and recorded specs, and `SegStore.ensureBucketed` refuses a store
  * whose recorded spec differs from the gate's declaration — so a
  * drift in any name, key, column or column order here makes every
  * store already on disk unreadable. The literals are the format, not
  * a derivation of the code.
  */
class ScrubLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** `gate` over a one-file stream of four documents, run for one
    * batch; returns the store's sub-table name -> recorded spec text.
    */
  private def layoutAfterOneBatch(tag: String)(
      gate: (org.apache.spark.sql.DataFrame, String, String, String) => StreamingQuery)
      : Map[String, String] = {
    val work = Files.createTempDirectory(s"graft_${tag}_layout_").toString
    val words = (0 until 24).map(i => s"w$i").mkString(" ")
    spark.createDataFrame((1L to 4L).map(id => (id, s"src${id % 2}", s"$words x$id")))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$work/in")
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .parquet(s"$work/in")
    gate(stream, s"$work/store", s"$work/out", s"$work/ckpt").awaitTermination()
    new java.io.File(s"$work/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_tbl_"))
      .map { d =>
        val spec = new java.io.File(d, "_GRAFT_SPEC")
        val src = scala.io.Source.fromFile(spec, "UTF-8")
        try d.getName.stripPrefix("_tbl_") -> src.mkString.trim
        finally src.close()
      }.toMap
  }

  test("segment-scrub store: sub-tables, keys and column DDL are the recorded format") {
    val got = layoutAfterOneBatch("segscrub")(
      graft.streaming.SegScrubStream.scrubStream(_, _, _, _))
    assert(got == Map(
      "occ" -> ("buckets=8;keys=seg;cols=seg string, doc_id bigint, " +
        "source string, occ0 bigint, occ1 bigint"),
      "sdf" -> "buckets=8;keys=seg;cols=seg string, df bigint",
      "docs" -> "buckets=8;keys=doc_id;cols=doc_id bigint",
      "docstat" -> ("buckets=8;keys=doc_id;cols=doc_id bigint, " +
        "source string, segs bigint, dup_segs bigint, f0 bigint, f1 bigint"),
      "srcstat" -> ("buckets=8;keys=source;cols=source string, " +
        "n_docs bigint, n_segs bigint, dup_segs bigint, dup_docs_g0 bigint, " +
        "dup_docs_any bigint, straddle_docs bigint")))
  }

  test("winnow-scrub store: sub-tables, keys and column DDL are the recorded format") {
    val got = layoutAfterOneBatch("winscrub")(
      graft.streaming.WinnowScrubStream.winnowScrubStream(_, _, _, _))
    assert(got == Map(
      "sel" -> "buckets=8;keys=fp;cols=fp string, doc_id bigint, source string",
      "fdf" -> "buckets=8;keys=fp;cols=fp string, df bigint",
      "docs" -> "buckets=8;keys=doc_id;cols=doc_id bigint",
      "docstat" -> ("buckets=8;keys=doc_id;cols=doc_id bigint, " +
        "source string, fps bigint, dup_fps bigint, flag bigint"),
      "srcstat" -> ("buckets=8;keys=source;cols=source string, " +
        "n_docs bigint, n_fps bigint, dup_fps bigint, dup_docs bigint")))
  }
}
