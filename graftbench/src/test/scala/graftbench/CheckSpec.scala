package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite with SparkFixture {

  private def ctx(): Ctx = {
    val tmp = Files.createTempDirectory("graftbench-check")
    new Ctx(spark, Main.Args("catalog_light", 1, 0, trace = false, tmp, tmp, tmp.resolve("d"), None), None)
  }

  private val shape = Catalog.Shape("t", 1, (s, _) => s.range(0, 1000).selectExpr("id", "id * 0.5 AS half"))

  test("the digest ignores row order and partitioning") {
    val df = spark.range(0, 1000).selectExpr("id", "id * 0.5 AS half")
    assert(Digest.of(df.collect()) ==
      Digest.of(df.repartition(7).orderBy(org.apache.spark.sql.functions.rand(1)).collect()))
    assert(Digest.of(df.collect()) != Digest.of(df.where("id < 999").collect()))
  }

  test("a matching digest passes; an injected wrong digest counts as a failed op") {
    val good = Digest.of(shape.frame(spark, 0).collect())
    val c = ctx()
    assert(Catalog.execute(c, 0.1, shape, 0, Map((0.1, "t") -> good), "x").isDefined)
    assert(c.attempted == 1 && c.failed == 0)
    Catalog.execute(c, 0.1, shape, 0, Map((0.1, "t") -> ("9" + good)), "x")
    assert(c.attempted == 2 && c.failed == 1)
    Catalog.execute(c, 0.1, shape, 0, Map.empty, "x")
    assert(c.failed == 2, "a shape with no pinned digest fails too")
  }

  test("a throwing op counts as failed") {
    val c = ctx()
    assert(c.op("boom")(throw new IllegalStateException("boom")).isEmpty)
    assert(c.attempted == 1 && c.failed == 1)
  }

  test("media expected answers agree with the pipeline on generated rows") {
    val rows = Gen.media(200, 5)
    val dir = Files.createTempDirectory("graftbench-media")
    val path = Gen.writeNdjson(dir, "m.json", rows.iterator.map(_.json))
    val p = new graft.media.MediaPipeline(spark)
    p.registerViews(p.splitTables(p.load(path.toString)))
    val ps = MediaEtl.params(new scala.util.Random(1), rows)
    val qs = p.cannedQueries(ps.artists, ps.albums, ps.tracks, ps.genres2, ps.fileExt, ps.gainBelow, ps.joinGenre)
    qs.foreach { case (q, df) =>
      assert(MediaEtl.sameRows(df.collect(), MediaEtl.expected(q, ps, rows)), q)
    }
    // a wrong answer is caught
    assert(!MediaEtl.sameRows(qs("file_select").collect(), MediaEtl.expected("file_select", ps, rows).drop(1)))
    graft.tools.FsUtil.rm(dir.toString)
  }
}
