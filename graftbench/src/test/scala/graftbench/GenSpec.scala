package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with SparkFixture {

  test("media NDJSON: the same seed gives identical lines, another seed different ones") {
    val a = Gen.media(300, 7).map(_.json)
    assert(a == Gen.media(300, 7).map(_.json))
    assert(a != Gen.media(300, 8).map(_.json))
    assert(a.size == 300 && a.forall(_.split("\":").length == 31), "30 fields per record")
  }

  test("gate batches and corpus texts follow the seed") {
    val corpus = Gen.documentTexts(200, 1).zipWithIndex.map { case (t, i) => i.toLong -> t }
    def batch(seed: Long) = Gen.gateBatch(new scala.util.Random(seed), corpus, 200, 50)
    assert(batch(3) == batch(3))
    assert(batch(3) != batch(4))
    assert(batch(3).map(_._1).distinct.size == 50, "doc ids are unique within a batch")
    assert(Gen.documentTexts(200, 1) != Gen.documentTexts(200, 2))
  }

  private def parquetBytes(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f.getParent).toString -> Files.readAllBytes(f).toSeq)
      .toSeq.sortBy(_._1)
    finally s.close()
  }

  test("catalog tables: the same seed writes byte-identical parquet, another seed differs") {
    val root = Files.createTempDirectory("graftbench-gen")
    try {
      Seq("a" -> 42L, "b" -> 42L, "c" -> 43L).foreach { case (d, seed) =>
        Gen.writeCatalog(spark, root.resolve(d).toString, 0.001, seed)
      }
      val a = parquetBytes(root.resolve("a"))
      assert(a.map(_._1).size == 10)
      assert(a == parquetBytes(root.resolve("b")))
      assert(a != parquetBytes(root.resolve("c")))
    } finally graft.tools.FsUtil.rm(root.toString)
  }
}
