package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.{Enrich, Validate, VerticalSplit}
import graft.query.Engine
import graft.streaming.EventsStream

/** End-to-end usage demo of the library surface beyond the canned
  * queries: engine facade, vertical split, fuzzy enrichment, typed
  * validation, streaming. Run: runMain graft.tools.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local(8)
    import spark.implicits._

    println("== Engine: parameterized SQL over registered views")
    val eng = new Engine(spark, sfDir)
    eng.query(
      """SELECT n_name, count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > :minbal GROUP BY n_name ORDER BY n DESC LIMIT 5""".stripMargin,
      Map("minbal" -> 1000)).show(truncate = false)
    println(s"catalog tables: ${eng.listTables().mkString(", ")}")

    println("== Engine SQL surface with custom expressions")
    eng.query(
      "SELECT fuzz_ratio('spark', 'sprak') AS fuzz, ascii_fold('Björk') AS folded")
      .show()

    println("== VerticalSplit: orders fan-out + tag")
    val parts = VerticalSplit.split(Tables.load(spark, sfDir, "orders"), Map(
      "order_keys" -> Seq("o_orderkey", "o_custkey"),
      "order_facts" -> Seq("o_orderkey", "o_totalprice", "o_orderdate")))
    parts("order_facts").show(3)
    VerticalSplit.withTag(Tables.load(spark, sfDir, "region"),
      Seq($"r_regionkey"), Seq($"r_name")).show(truncate = false)

    println("== Enrich: fuzzy top-1 against dirty keys")
    val dirty = Tables.load(spark, sfDir, "nation")
      .select(regexp_replace(lower($"n_name"), "[aeiou]", "").as("dirty_name"))
    val cands = Tables.load(spark, sfDir, "nation")
      .select(lower($"n_name").as("name"), concat(lit("ID-"), $"n_nationkey").as("id"))
    val fz = Enrich.fuzzyTopOne(dirty, $"dirty_name", cands)
    fz.matched.orderBy($"key").show(5, truncate = false)
    println(s"rejected below threshold: ${fz.rejected.count()}")

    println("== Validate: constraint routing on events")
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"value", $"event_type")
    val v = Validate[(Long, Double, String)](ev, Seq(
      "value_nonneg" -> ($"value" >= 0),
      "type_enum" -> $"event_type".isin("click", "view", "signup", "purchase", "error")))
    println(s"valid=${v.valid.count()} rejected=${v.rejected.count()}")

    println("== Config source + debug dump")
    val cfgPath = java.nio.file.Files.createTempFile("demo", ".toml")
    java.nio.file.Files.writeString(cfgPath,
      "[spotify]\napi_limit = 50\nthold = 70.0\n")
    val cfg = graft.sources.Config.load(cfgPath.toString)
    println(s"api_limit=${cfg.int("spotify", "api_limit")} thold=${cfg.double("spotify", "thold")}")
    val dumpPath = graft.sources.Ndjson.debugDump(
      Tables.load(spark, sfDir, "region"), java.nio.file.Files.createTempDirectory("demo_api").toString, "regions")
    println(s"debug dump -> $dumpPath")

    println("== MediaPipeline: NDJSON -> typed split -> canned queries")
    val mediaDir = java.nio.file.Files.createTempDirectory("demo_media").toString
    val lines = (1 to 12).map { i =>
      s"""{"index":"${f"$i%03d"}","file_size":${1000000 * i},"readable_size":"${i}.0 MiB","file_ext":"${if (i % 3 == 0) ".flac" else ".mp3"}","artist_name":"band_${(i - 1) % 4}","album_title":"album_$i","track_title":"track_$i","track_number":"$i","track_length":"0:0$i:00","music_genre":"g${i % 2}","genre_in_dict":"GENRE_OK","album_art":"ALBUM_ART","year":"${2000 + i}","rating":${i % 5}.0,"encoder":"","composer":"band_${(i - 1) % 4}","conductor":"","comment":"","track_gain":"-${i}.5","album_gain":${if (i == 12) "0.0" else s""""-${i}.25""""},"bitrate":320000,"sampling_rate":44100,"file_name":"f$i.mp3","path_len":"${100 + i}","last_modified":"2020-01-0${i % 9 + 1} 10:00:00.000000","encoding":"ascii","hash":"H$i","artist_id":"art_${(i - 1) % 4}","album_id":"alb_$i","track_id":"trk_$i"}"""
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mediaDir, "local_media_demo.json"), lines.mkString("\n"))
    val media = new graft.media.MediaPipeline(spark)
    media.registerViews(media.splitTables(media.load(mediaDir + "/*.json")))
    val canned = media.cannedQueries(
      artists = Seq("band_0"), albums = Seq("album_3"), tracks = Seq("track_5"),
      genres2 = Seq("g0", "g1"), fileExt = ".flac",
      gainBelow = BigDecimal("-4.0"), joinGenre = Seq("g1"))
    canned("gain_select").show(5)
    canned("avg_size_select").show()

    println("== Streaming: hourly windowed agg over staged event files")
    val stage = java.nio.file.Files.createTempDirectory("demo_stream").toString
    Tables.load(spark, sfDir, "events").write.mode("overwrite").json(stage)
    val agg = EventsStream.runOnce(spark, stage, "demo_agg")
    println(s"emitted windows: ${agg.count()}")
    agg.orderBy($"hour_start", $"event_type").show(5)

    println("== Streaming dedup within watermark (replayed files)")
    Tables.load(spark, sfDir, "events").write.mode("append").json(stage) // duplicate replay
    val dq = EventsStream.dedupStream(EventsStream.readEvents(spark, stage))
      .writeStream.outputMode("append").format("memory").queryName("demo_dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    dq.awaitTermination()
    val n = spark.table("demo_dedup").count()
    val src = Tables.load(spark, sfDir, "events").count()
    println(s"staged 2x$src rows -> deduped $n")

    spark.stop()
  }
}
