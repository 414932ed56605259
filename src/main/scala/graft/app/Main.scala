package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.media.{MediaPipeline, PlaylistModels}
import graft.sources.{BatchedLookup, JdbcSink, Ndjson, SpotifyService}

/** CLI entry point mirroring the reference's two drivers:
  *
  *  - `trigger_etl` (default; run_pipeline.py:14-41): load wide media
  *    NDJSON -> vertical split -> load the 5 tables into a JDBC
  *    backend -> run the 8 canned queries with the reference's own
  *    parameters and print the results.
  *  - `playlist_etl` (run_playlist_etl.py:82-113): with
  *    `--query-spotify`, extract favorites + audio features from the
  *    configured [[SpotifyService]] and stage them as NDJSON; then the
  *    offline load — validate, stamp load_date, insert via JDBC.
  *
  * Flags (offline is the default, as in the reference):
  * {{{
  * runMain graft.app.Main [trigger_etl|playlist_etl]
  *   [--query-spotify]          # playlist_etl: hit the (fake) API first
  *   [--offline]                # explicit no-API run (the default)
  *   [--data <ndjson-glob>]     # wide media tags; default: generated demo
  *   [--jdbc-url <url>]         # default: in-memory Derby, so the
  *                              #   terminal load REALLY executes
  *   [--service <class>]        # SpotifyService impl (default FakeApi)
  *   [--out <dir>]              # staging dir for playlist NDJSON
  * }}}
  * The session is [[graft.GraftSession.local]] on `SPARK_GRAFT_CPUS`
  * cores (default 8), as for Bench and Verify.
  */
object Main {

  private def flagValue(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) if !v.startsWith("--") => v }

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val cmd = args.headOption.filterNot(_.startsWith("--")).getOrElse("trigger_etl")
    val querySpotify = args.contains("--query-spotify")
    val jdbcUrl = flagValue(args, "--jdbc-url")
      .getOrElse("jdbc:derby:memory:graft_cli;create=true")
    val service = flagValue(args, "--service").getOrElse("graft.sources.FakeApi")
    println(s"graft.app.Main started: cmd=$cmd query_spotify=$querySpotify")

    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft_derby").toString)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    cmd match {
      case "trigger_etl" => triggerEtl(spark, args, jdbcUrl)
      case "playlist_etl" => playlistEtl(spark, args, querySpotify, jdbcUrl, service)
      case other =>
        System.err.println(s"unknown command: $other (use trigger_etl | playlist_etl)")
        sys.exit(2)
    }
    println(f"graft.app.Main finished (${(System.nanoTime() - start) / 1e9}%.2f seconds)")
    spark.stop()
  }

  /** run_pipeline.py trigger_etl: connect -> recreate tables -> load ->
    * 8 canned queries with the reference's parameters (:33-40).
    */
  private def triggerEtl(spark: SparkSession, args: Array[String], jdbcUrl: String): Unit = {
    val userData = flagValue(args, "--data")
    val data = userData.getOrElse(DemoData.writeWideNdjson() + "/*.json")
    val p = new MediaPipeline(spark)
    val tables = p.splitTables(p.load(data))
    // the reference's terminal act: load the 5 split tables into the DB
    tables.foreach { case (name, df) =>
      JdbcSink.write(df, JdbcSink.Config(jdbcUrl, name, numPartitions = 2))
      println(s"loaded table $name: ${JdbcSink.read(spark, JdbcSink.Config(jdbcUrl, name)).count()} rows")
    }
    p.registerViews(tables)
    // the 8 canned queries — the reference's own parameters
    // (run_pipeline.py:33-40) against user data; fixture-matching
    // parameters against the demo so the output is non-empty
    val canned =
      if (userData.isDefined) p.cannedQueries()
      else p.cannedQueries(
        artists = Seq("alpha band"), albums = Seq("album_3"),
        tracks = Seq("track_5"), genres2 = Seq("genre_even", "genre_odd"),
        fileExt = ".flac", gainBelow = BigDecimal("-4.0"),
        joinGenre = Seq("genre_odd"))
    canned.foreach { case (name, df) =>
      println(s"== $name ==")
      df.show(20, truncate = false)
    }
  }

  /** run_playlist_etl.py trigger_etl: optional API extraction staged as
    * NDJSON, then the offline validate + stamp + JDBC load.
    */
  private def playlistEtl(spark: SparkSession, args: Array[String],
      querySpotify: Boolean, jdbcUrl: String, serviceClass: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val outDir = flagValue(args, "--out")
      .getOrElse(Files.createTempDirectory("graft_playlist").toString)

    if (querySpotify) {
      // favorites extraction via the paged connector, features via the
      // batched lookup — both through the service seam — staged as
      // NDJSON exactly like the reference's save-as-JSON step
      val favorites = spark.read.format("graft.sources.PagedSourceProvider")
        .option("total", flagValue(args, "--total").getOrElse("200"))
        .option("pageSize", 50)
        .option("service", serviceClass)
        .load()
      Ndjson.write(favorites, s"$outDir/liked_song_records", singleFile = true)
      val feats = BatchedLookup.features(
        favorites, "item_id", batchSize = 50, SpotifyService.resolve(serviceClass))
      Ndjson.write(feats, s"$outDir/audio_feature_records", singleFile = true)
      println(s"staged favorites + features under $outDir")
    }

    // offline load: stage -> validate-shape -> load_date stamp -> JDBC
    val stagedPath = s"$outDir/liked_song_records"
    if (Files.exists(Paths.get(stagedPath))) {
      val staged = spark.read.json(stagedPath)
        .withColumn("load_date",
          date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss"))
      JdbcSink.write(staged, JdbcSink.Config(jdbcUrl, "liked_song", numPartitions = 2))
      val feats = spark.read.json(s"$outDir/audio_feature_records")
      JdbcSink.write(feats, JdbcSink.Config(jdbcUrl, "audio_feature", numPartitions = 2))
      println(s"loaded liked_song: ${JdbcSink.read(spark, JdbcSink.Config(jdbcUrl, "liked_song")).count()} rows")
      println(s"loaded audio_feature: ${JdbcSink.read(spark, JdbcSink.Config(jdbcUrl, "audio_feature")).count()} rows")
    } else println(s"no staged records at $stagedPath (run with --query-spotify)")
    println(s"valid types: ${PlaylistModels.ValidTypes.mkString(", ")}")
  }
}

/** Deterministic 12-row wide media NDJSON demo fixture reproducing the
  * reference's serialization quirks (numeric fields as strings,
  * album_gain mixed string/number — SURVEY §1.3), so the CLI runs
  * end-to-end with zero external inputs. Shared with the test suite.
  */
object DemoData {
  def writeWideNdjson(): String = {
    val dir = Files.createTempDirectory("media_demo")
    val artists = Seq("alpha band", "beta trio", "gamma duo", "delta act")
    val lines = (1 to 12).map { i =>
      val artist = artists((i - 1) % 4)
      val gain = if (i == 12) "0.0" else s""""-${i}.25""""  // mixed type quirk
      s"""{"index":"${f"$i%03d"}","file_size":${1000000 * i},"readable_size":"${i}.0 MiB",""" +
        s""""file_ext":"${if (i % 3 == 0) ".flac" else ".mp3"}","artist_name":"$artist",""" +
        s""""album_title":"album_$i","track_title":"track_$i","track_number":"$i",""" +
        s""""track_length":"0:0$i:00","music_genre":"${if (i % 2 == 0) "genre_even" else "genre_odd"}",""" +
        s""""genre_in_dict":"GENRE_OK","album_art":"ALBUM_ART","year":"${2000 + i}","rating":${i % 5}.0,""" +
        s""""encoder":"","composer":"$artist","conductor":"","comment":"","track_gain":"-${i}.5",""" +
        s""""album_gain":$gain,"bitrate":320000,"sampling_rate":44100,"file_name":"f$i.mp3",""" +
        s""""path_len":"${100 + i}","last_modified":"2020-01-0${i % 9 + 1} 10:00:00.000000",""" +
        s""""encoding":"ascii","hash":"HASH$i","artist_id":"art_${(i - 1) % 4}","album_id":"alb_$i",""" +
        s""""track_id":"trk_$i"}"""
    }
    Files.writeString(Paths.get(dir.toString, "local_media_x.json"), lines.mkString("\n"))
    dir.toString
  }
}
