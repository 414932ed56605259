package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Config

class ConfigSpec extends AnyFunSuite {

  test("flat TOML subset: sections, strings, numbers, comments") {
    val s = Config.parse(
      """# top comment
        |[postgres]
        |host = "localhost"   # inline comment
        |port = 5432
        |timeout = 5
        |
        |[spotify]
        |api_timeout = 0.5
        |api_limit = 50
        |thold = 70.0
        |""".stripMargin)
    assert(s.str("postgres", "host") == "localhost")
    assert(s.int("postgres", "port") == 5432)
    assert(s.double("spotify", "api_timeout") == 0.5)
    assert(s.int("spotify", "api_limit") == 50)
    assert(s.double("spotify", "thold") == 70.0)
    intercept[NoSuchElementException] { s.str("postgres", "missing") }
  }

  test("load from file") {
    val f = Files.createTempFile("cfg", ".toml")
    Files.writeString(f, "[a]\nk = \"v\"\n")
    assert(Config.load(f.toString).str("a", "k") == "v")
  }

  test("debugDump writes dated pretty JSON (K4 contract)") {
    val spark = TestSession.spark
    val dir = Files.createTempDirectory("dump").toString
    val p = graft.sources.Ndjson.debugDump(
      Tables.load(spark, "/root/testdata/sf0.001", "region"), dir, "regions")
    val txt = Files.readString(p)
    assert(p.toString.matches(".*/\\d{4}-\\d{2}-\\d{2}/regions\\.json"))
    assert(txt.startsWith("[\n") && txt.contains("r_name"))
  }

  test("spark.graft.reliableCheckpoint routes Scope.seal through a reliable checkpoint") {
    // a child session: the conf switched on below stays out of the
    // shared session
    val spark = TestSession.spark.newSession()
    def sealRdds(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.logical.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
    // default: local checkpoint — no checkpoint file on disk
    val dfLocal = Scope(_.seal(spark.range(10).toDF("id")))
    assert(dfLocal.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    assert(sealRdds(dfLocal).nonEmpty &&
      sealRdds(dfLocal).forall(_.getCheckpointFile.isEmpty),
      "default seal must be a LOCAL checkpoint (no checkpoint dir needed)")
    // switch on: the seal is a reliable checkpoint against the
    // configured dir (the cluster deployment story the Scope.seal
    // scaladoc documents) — same rows, executor-loss-safe blocks
    val ckDir = Files.createTempDirectory("reliable-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    val df = Scope(_.seal(spark.range(10).toDF("id")))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    val rdds = sealRdds(df)
    assert(rdds.nonEmpty && rdds.forall(_.getCheckpointFile.isDefined),
      s"reliable seal must write to the checkpoint dir; got $rdds")
  }
}
