package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.media.{MediaPipeline, PlaylistModels}

/** End-to-end media-tag ETL over a synthetic 12-row wide fixture that
  * reproduces the reference's serialization quirks: numeric fields as
  * strings, album_gain MIXED (string in 11 rows, JSON number in 1 —
  * SURVEY §1.3), empty enrichment ids.
  */
class MediaPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private lazy val fixturePath: String = MediaFixture.path

  test("load: declared schema + typed casts survive the mixed-type quirk") {
    val wide = new MediaPipeline(spark).load(fixturePath + "/*.json")
    assert(wide.count() == 12)
    val sch = wide.schema
    assert(sch("year").dataType == ShortType)
    assert(sch("track_number").dataType == ShortType)
    assert(sch("album_gain").dataType == DecimalType(5, 2))
    assert(sch("last_modified").dataType == TimestampType)
    // row 12's numeric album_gain parses to 0.00, strings to their value
    val gains = wide.select("index", "album_gain").collect()
      .map(r => r.getString(0) -> r.getDecimal(1).toPlainString).toMap
    assert(gains("012") == "0.00" && gains("001") == "-1.25")
  }

  test("vertical split matches the reference DDL column sets") {
    val p = new MediaPipeline(spark)
    val tables = p.splitTables(p.load(fixturePath + "/*.json"))
    assert(tables.keySet == Set("artist", "album", "track", "genre", "metadata"))
    assert(tables("album").columns.toSeq ==
      Seq("album_id", "artist_id", "album_title", "year", "album_gain",
        "album_art", "extract_date"))
    tables.values.foreach(df => assert(df.count() == 12))
  }

  test("the 8 canned queries run and return reference-shaped results") {
    val p = new MediaPipeline(spark)
    p.registerViews(p.splitTables(p.load(fixturePath + "/*.json")))
    val q = p.cannedQueries(
      artists = Seq("alpha band"), albums = Seq("album_3"),
      tracks = Seq("track_5"), genres2 = Seq("genre_even", "genre_odd"),
      fileExt = ".flac", gainBelow = BigDecimal("-4.0"),
      joinGenre = Seq("genre_odd"))
    assert(q("artist_select").count() == 3)   // alpha band rows: 1,5,9
    assert(q("album_select").count() == 1)
    assert(q("track_select").count() == 1)
    assert(q("genre_select").count() == 12)
    assert(q("file_select").count() == 4)     // i % 3 == 0: 3,6,9,12
    // gain_select: album_gain < -4.0 -> rows 5..11 (strings), desc order;
    // joins fan out per artist_id as in the reference (star join on artist)
    val gains = q("gain_select").collect().map(_.getDecimal(0).doubleValue)
    assert(gains.nonEmpty && gains.sameElements(gains.sorted.reverse))
    assert(gains.forall(_ < -4.0))
    val avg = q("avg_size_select").head().getDouble(0)
    assert(avg > 0)
  }

  test("playlist models: validation + decode + staging round trip") {
    import spark.implicits._
    val songsRaw = Seq(
      PlaylistModels.LikedSong("t1", "track", " artist one ", "alb", "song1",
        1, "00:03:20", "2013-05-01", 55, "2024-01-01T00:00:00Z", "http://x",
        "2024-01-01 00:00:00", None),
      PlaylistModels.LikedSong("t2", "bogus_type", "artist two", "alb", "song2",
        2, "00:04:00", "2014", 120, "2024-01-02T00:00:00Z", "http://y",
        "2024-01-01 00:00:00", None)).toDS().toDF()
    val vs = PlaylistModels.likedSongs(spark, songsRaw)
    assert(vs.valid.count() == 1)
    assert(vs.valid.head().artist_name == "artist one") // trimmed
    val viol = vs.rejected.select("track_id", "violation").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viol("t2") == "type_enum") // first failed constraint wins
    val staged = PlaylistModels.stampLoadDate(vs.valid)
    assert(staged.columns.contains("load_date") &&
      staged.where("load_date IS NULL").count() == 0)

    val featsRaw = Seq(
      ("audio_features", "t1", "spotify:track:t1", BigDecimal("0.5"),
        BigDecimal("0.5"), 200158L, BigDecimal("0.5"), BigDecimal("0.5"),
        "0", "1", BigDecimal("0.1"), BigDecimal("-7.5"), BigDecimal("0.1"),
        BigDecimal("120.0"), 4, BigDecimal("0.9"), "href", "url",
        "2024-01-01 00:00:00")).toDF(
      "type", "id", "uri", "acousticness", "danceability", "duration_ms",
      "energy", "instrumentalness", "key", "mode", "liveness", "loudness",
      "speechiness", "tempo", "time_signature", "valence", "track_href",
      "analysis_url", "extract_date")
      .withColumn("load_date", org.apache.spark.sql.functions.lit(null: String))
    val vf = PlaylistModels.audioFeatures(spark, featsRaw)
    assert(vf.valid.count() == 1)
    val f = vf.valid.head()
    assert(f.key == "C" && f.mode == "Major") // pitch/mode decoded
  }
}
