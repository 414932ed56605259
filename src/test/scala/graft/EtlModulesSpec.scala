package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Enrich, Validate, VerticalSplit}
import graft.query.Engine
import graft.sources.Ndjson

class EtlModulesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  test("VerticalSplit: wide frame fans out to column subsets, one scan") {
    val wide = Tables.load(spark, sf, "lineitem")
    val parts = VerticalSplit.split(wide, Map(
      "keys" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      "amounts" -> Seq("l_orderkey", "l_quantity", "l_extendedprice"),
      "flags" -> Seq("l_returnflag", "l_linestatus")))
    assert(parts("keys").columns.toSeq == Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
    assert(parts("amounts").count() == wide.count())
    val err = intercept[IllegalArgumentException] {
      VerticalSplit.split(wide, Map("bad" -> Seq("nope")))
    }
    assert(err.getMessage.contains("bad.nope"))
  }

  test("VerticalSplit: extract_date stamp + ordinal tag") {
    import spark.implicits._
    val df = VerticalSplit.stampExtractDate(Tables.load(spark, sf, "region"))
    assert(df.columns.contains("extract_date"))
    val tagged = VerticalSplit.withTag(
      Tables.load(spark, sf, "nation"),
      orderBy = Seq($"n_nationkey"),
      parts = Seq($"n_name"))
    val first = tagged.orderBy($"n_nationkey").select($"tag").head().getString(0)
    assert(first == "001 | NATION_0")
  }

  test("Enrich.offlineLookup: broadcast left join with not_found default") {
    import spark.implicits._
    val dict = Seq(("NATION_0", "id0"), ("NATION_1", "id1")).toDF("k", "v")
    val out = Enrich.offlineLookup(
      Tables.load(spark, sf, "nation"), $"n_name", dict, "ext_id")
    val m = out.select($"n_name", $"ext_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("NATION_0") == "id0" && m("NATION_1") == "id1")
    assert(m("NATION_5") == "not_found")
  }

  test("Enrich.fuzzyTopOne: argmax + threshold routing + accent fold") {
    import spark.implicits._
    val candidates = Seq(("nation_0", "id0"), ("nation_12", "id12"),
      ("zzz_qqq", "idz")).toDF("name", "id")
    val facts = Seq("nátíon_0", "nation_12", "completely_other")
      .toDF("dirty")
    val r = Enrich.fuzzyTopOne(facts, $"dirty", candidates, threshold = 70.0)
    val matched = r.matched.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(matched("nátíon_0") == "id0") // accent-folded exact match
    assert(matched("nation_12") == "id12")
    assert(!matched.contains("completely_other"))
    assert(r.rejected.select("key").as[String].collect().toSeq == Seq("completely_other"))
  }

  test("Engine: parameterized SQL, catalog, lenient contract") {
    val eng = new Engine(spark, sf)
    val n = eng.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice < :p",
      Map("p" -> 50000)).head().getLong(0)
    assert(n > 0)
    assert(eng.listTables().contains("orders"))
    assert(eng.tableColumns(exclude = Set("events"))
      .get("nation").exists(_.contains("n_name")))
    intercept[Exception] { eng.query("SELECT broken syntax FROM FROM") }
    val lenientEng = new Engine(spark, sf, lenient = true)
    assert(lenientEng.query("SELECT broken syntax FROM FROM").isEmpty)
  }

  test("Validate: constraint routing + decode maps") {
    import spark.implicits._
    final case class Ev(event_id: Long, value: Double, event_type: String)
    val df = Seq((1L, 5.0, "click"), (2L, -1.0, "click"), (3L, 2.0, "bogus"))
      .toDF("event_id", "value", "event_type")
    val v = Validate[(Long, Double, String)](df, Seq(
      "value_nonneg" -> ($"value" >= 0),
      "type_enum" -> $"event_type".isin("click", "view")))
    assert(v.valid.count() == 1)
    val rejects = v.rejected.select("event_id", "violation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rejects(2L) == "value_nonneg" && rejects(3L) == "type_enum")
    // pitch decode only applies to digit strings (models.py:156-161)
    val dec = Seq("0", "11", "-1", "C").toDF("k")
      .select(Validate.decode($"k", Validate.PitchClasses).as("d"))
      .as[String].collect().toSeq
    assert(dec == Seq("C", "B", "", "C"))
  }

  test("Ndjson: declared-schema round trip with provenance") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("ndjson_spec").toString
    val src = Tables.load(spark, sf, "supplier")
    Ndjson.write(src, dir, singleFile = true)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
    val back = Ndjson.readWithProvenance(spark, schema, dir)
    assert(back.count() == src.count())
    assert(back.columns.contains("source_file"))
    assert(Ndjson.nonEmpty(back, "s_name").count() == src.count())
  }

  test("JdbcSink: writer plumbing configures batched append") {
    val w = graft.sources.JdbcSink.writer(
      Tables.load(spark, sf, "region"),
      graft.sources.JdbcSink.Config(url = "jdbc:postgresql://nowhere/db", table = "region"))
    assert(w != null) // Postgres itself isn't in the container
  }

  test("JdbcSink: media split tables round-trip through embedded Derby") {
    import org.apache.spark.sql.types._
    import graft.media.MediaPipeline
    import graft.sources.JdbcSink
    // Embedded Derby ships on Spark's own classpath — a real JDBC URL,
    // real batched INSERTs, real read-back (reference postgres_media.py:
    // 262-275: column-projected append of the 5 split tables).
    System.setProperty("derby.system.home", Files.createTempDirectory("derby").toString)
    val url = "jdbc:derby:memory:graft_etl;create=true"
    val p = new MediaPipeline(spark)
    val tables = p.splitTables(p.load(MediaFixture.path + "/*.json"))
    assert(tables.keySet == Set("artist", "album", "track", "genre", "metadata"))
    tables.foreach { case (name, df) =>
      JdbcSink.write(df, JdbcSink.Config(url, name, numPartitions = 2))
    }
    // read back: row counts and representative types survive the hop
    val albumBack = JdbcSink.read(spark, JdbcSink.Config(url, "album"))
    assert(albumBack.count() == 12)
    // ShortType writes as SMALLINT; Spark's JDBC read widens it to int
    assert(albumBack.schema("year").dataType == IntegerType)
    assert(albumBack.schema("album_gain").dataType == DecimalType(5, 2))
    assert(albumBack.schema("extract_date").dataType == TimestampType)
    // values survive the hop, including the mixed-type album_gain quirk
    val gains = albumBack.select("album_id", "album_gain").collect()
      .map(r => r.getString(0) -> r.getDecimal(1).toPlainString).toMap
    assert(gains("alb_12") == "0.00" && gains("alb_1") == "-1.25")
    val trackBack = JdbcSink.read(spark, JdbcSink.Config(url, "track"))
    assert(trackBack.count() == 12)
    assert(trackBack.schema("track_number").dataType == IntegerType)
    tables.keys.foreach { name =>
      assert(JdbcSink.read(spark, JdbcSink.Config(url, name)).count() == 12, name)
    }
    // appending again doubles the rows — SaveMode.Append, not overwrite
    JdbcSink.write(tables("genre"), JdbcSink.Config(url, "genre", numPartitions = 2))
    assert(JdbcSink.read(spark, JdbcSink.Config(url, "genre")).count() == 24)
  }
}
