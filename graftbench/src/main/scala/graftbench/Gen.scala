package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Nothing here reads outside data: the
  * catalog tables, the media NDJSON and the gate's delta batches are
  * all made from a seed, so the same seed gives byte-identical inputs.
  *
  * The catalog tables follow the shape the named queries expect (a
  * TPC-H-like star schema plus `events`, `documents` and `embeddings`,
  * see TESTDATA.md): the same columns, types, key ranges and value
  * domains, with uniform draws. Large tables are built with Spark
  * expressions keyed on the row id, so the result does not depend on
  * partitioning; the two small text/vector tables are drawn on the
  * driver.
  */
object Gen {

  /** The catalog is fixed (it does not follow the run seed), so the
    * named queries' digests can be pinned. */
  val CatalogSeed = 42L

  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(' ').toIndexedSeq

  final case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
      lineitem: Long, events: Long, documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).toLong, supplier = (10000 * sf).toLong,
    part = (200000 * sf).toLong, orders = (1500000 * sf).toLong,
    lineitem = (6000000 * sf).toLong, events = (1000000 * sf).toLong,
    documents = (50000 * sf).toInt, embeddings = (20000 * sf).toInt)

  /** Write the 10 catalog tables as `<dir>/<name>.parquet`. */
  def writeCatalog(spark: SparkSession, dir: String, sf: Double, seed: Long = CatalogSeed): Unit = {
    val n = sizes(sf)
    def u(salt: Int): String = s"((xxhash64(id, ${seed}L, $salt) & 9007199254740991) / 9007199254740992.0D)"
    def pick(salt: Int, xs: Seq[String]): String =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), cast(floor(${u(salt)} * ${xs.size}) as int) + 1)"
    def range(count: Long): DataFrame = spark.range(0, count, 1, 4).toDF()
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val day = 86400L

    save("region", spark.createDataFrame(
      java.util.Arrays.asList(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (r, i) => Row(i, r) }: _*),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    save("nation", range(25).selectExpr("cast(id as int) as n_nationkey",
      "concat('NATION_', id) as n_name", "cast(id % 5 as int) as n_regionkey"))
    save("customer", range(n.customer).selectExpr("id as c_custkey",
      "format_string('Customer#%09d', id) as c_name",
      s"cast(floor(${u(1)} * 25) as int) as c_nationkey",
      s"round(-999.99D + floor(${u(2)} * 1099980) / 100, 2) as c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} as c_mktsegment"))
    save("supplier", range(n.supplier).selectExpr("id as s_suppkey",
      "format_string('Supplier#%09d', id) as s_name",
      s"cast(floor(${u(1)} * 25) as int) as s_nationkey",
      s"round(-999.99D + floor(${u(2)} * 1099980) / 100, 2) as s_acctbal"))
    val adjs = Seq("large", "hot", "blue", "old", "cold", "small", "red", "shiny")
    val nouns = Seq("ring", "bolt", "plate", "gear", "nut", "spring", "valve", "pipe")
    save("part", range(n.part).selectExpr("id as p_partkey",
      s"concat(${pick(1, adjs)}, ' ', ${pick(2, nouns)}) as p_name",
      s"concat('Brand#', cast(floor(${u(3)} * 25) + 1 as int)) as p_brand",
      s"${pick(4, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"))} as p_type",
      s"cast(floor(${u(5)} * 50) + 1 as int) as p_size",
      "round(900.0D + (id % 1000) / 10.0D, 1) as p_retailprice"))
    // 1995-01-01 .. 2001-08-01, day granularity
    save("orders", range(n.orders).selectExpr("id as o_orderkey",
      s"cast(floor(${u(1)} * ${n.customer}) as bigint) as o_custkey",
      s"${pick(2, Seq("O", "P", "F"))} as o_orderstatus",
      s"round(1000.0D + floor(${u(3)} * 49900000) / 100, 2) as o_totalprice",
      s"timestamp_seconds(788918400L + cast(floor(${u(4)} * 2404) as bigint) * $day) as o_orderdate",
      s"${pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} as o_orderpriority"))
    save("lineitem", range(n.lineitem).selectExpr(
      s"cast(floor(${u(1)} * ${n.orders}) as bigint) as l_orderkey",
      s"cast(floor(${u(2)} * ${n.part}) as bigint) as l_partkey",
      s"cast(floor(${u(3)} * ${n.supplier}) as bigint) as l_suppkey",
      s"cast(floor(${u(4)} * 7) + 1 as int) as l_linenumber",
      s"floor(${u(5)} * 50) + 1.0D as l_quantity",
      s"round(900.0D + floor(${u(6)} * 10410000) / 100, 2) as l_extendedprice",
      s"floor(${u(7)} * 11) / 100.0D as l_discount",
      s"floor(${u(8)} * 9) / 100.0D as l_tax",
      s"${pick(9, Seq("R", "N", "A"))} as l_returnflag",
      s"${pick(10, Seq("O", "F"))} as l_linestatus",
      s"timestamp_seconds(789004800L + cast(floor(${u(11)} * 2498) as bigint) * $day) as l_shipdate"))
    // ts: epoch nanos over January 2024, increasing with event_id
    val span = 30L * day * 1000000000L
    save("events", range(n.events).selectExpr("id as event_id",
      s"1704067200000000000L + cast((id + ${u(1)}) * ${span / math.max(n.events, 1)} as bigint) as ts",
      s"cast(floor(${u(2)} * ${math.max(n.customer / 10, 1)}) as bigint) as user_id",
      s"${pick(3, Seq("view", "click", "purchase", "signup", "error"))} as event_type",
      s"round(-50.0D * ln(1.0D - ${u(4)}), 2) as value",
      s"concat('{\"k\": ', cast(floor(${u(5)} * 100) as int), '}') as props"))
    save("documents", documents(spark, n.documents, seed))
    save("embeddings", embeddings(spark, n.embeddings, seed))
  }

  /** Random word texts; 5% are an earlier doc's text plus " dup" (near
    * duplicates) and a few are exact copies of an earlier text. */
  def documentTexts(count: Int, seed: Long): IndexedSeq[String] = {
    val rnd = new Random(seed * 31 + 7)
    val texts = new Array[String](count)
    for (i <- 0 until count) {
      val r = rnd.nextDouble()
      texts(i) =
        if (i > 10 && r < 0.05) texts(rnd.nextInt(i)) + " dup"
        else if (i > 10 && r < 0.052) texts(rnd.nextInt(i))
        else randomText(rnd, 10 + rnd.nextInt(91))
    }
    texts.toIndexedSeq
  }

  def randomText(rnd: Random, words: Int): String =
    Iterator.fill(words)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")

  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  def documents(spark: SparkSession, count: Int, seed: Long): DataFrame = {
    val rnd = new Random(seed * 17 + 3)
    val rows = documentTexts(count, seed).zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  def embeddings(spark: SparkSession, count: Int, seed: Long): DataFrame = {
    val rnd = new Random(seed * 13 + 5)
    val centroids = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = (0 until count).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(_ + 1.5 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  // ---------------------------------------------------------------- media

  /** One wide media record, with the reference's quirks: numerics as
    * strings, and `album_gain` a string on most rows and a JSON number
    * on the rest. */
  final case class Media(index: Int, fileSize: Long, fileExt: String, artist: String,
      artistId: String, album: String, albumId: String, track: String, trackId: String,
      trackNumber: Int, trackLength: String, genre: String, year: Int, rating: Double,
      composer: String, trackGain: String, albumGain: String, gainIsNumber: Boolean,
      bitrate: Long, samplingRate: Long, fileName: String, pathLen: Int,
      lastModified: String, encoding: String, hash: String) {
    def json: String = {
      def s(k: String, v: String) = "\"" + k + "\":\"" + v + "\""
      def n(k: String, v: Any) = "\"" + k + "\":" + v
      Seq(s("index", f"$index%05d"), n("file_size", fileSize),
        s("readable_size", f"${fileSize / 1048576.0}%.1f MiB"), s("file_ext", fileExt),
        s("artist_name", artist), s("album_title", album), s("track_title", track),
        s("track_number", trackNumber.toString), s("track_length", trackLength),
        s("music_genre", genre), s("genre_in_dict", "GENRE_OK"), s("album_art", "ALBUM_ART"),
        s("year", year.toString), n("rating", rating), s("encoder", ""), s("composer", composer),
        s("conductor", ""), s("comment", ""), s("track_gain", trackGain),
        if (gainIsNumber) n("album_gain", albumGain) else s("album_gain", albumGain),
        n("bitrate", bitrate), n("sampling_rate", samplingRate), s("file_name", fileName),
        s("path_len", pathLen.toString), s("last_modified", lastModified),
        s("encoding", encoding), s("hash", hash), s("artist_id", artistId),
        s("album_id", albumId), s("track_id", trackId)).mkString("{", ",", "}")
    }
  }

  val Genres: IndexedSeq[String] = IndexedSeq("Trip-Hop", "Alternative", "Classical", "Jazz",
    "Ambient", "Rock", "Folk", "Electronic", "Blues", "Soul", "Metal", "Pop")
  val FileExts: IndexedSeq[String] = IndexedSeq(".flac", ".mp3", ".ogg", ".m4a")

  /** `rows` (even) wide records, balanced so that every seed does the
    * same amount of work: each artist has exactly 2 tracks (the canned
    * queries' artist_id joins fan out to 8 rows per artist), genres and
    * file extensions are spread evenly over artists and tracks, and the
    * album gains are a seeded permutation of one fixed ladder. */
  def media(rows: Int, seed: Long): IndexedSeq[Media] = {
    require(rows % 2 == 0, "two tracks per artist")
    val rnd = new Random(seed)
    val artists = rows / 2
    val genreOf = rnd.shuffle((0 until artists).toIndexedSeq).map(a => Genres(a % Genres.size))
    val extOf = rnd.shuffle((0 until rows).toIndexedSeq).map(i => FileExts(i % FileExts.size))
    val gainOf = rnd.shuffle((0 until rows).toIndexedSeq).map(i => -9.0 + (i * 1200 / rows) / 100.0)
    val names = (0 until artists).map(a => s"artist ${a}_${rnd.nextInt(1000)}")
    for (i <- 0 until rows) yield {
      val a = i / 2
      val t = i % 2
      val artist = names(a)
      Media(i, 1000000L + rnd.nextInt(50000000), extOf(i), artist,
        s"art_$a", s"album ${a}_$t", s"alb_${a}_$t", s"track ${i}_${rnd.nextInt(100)}", s"trk_$i",
        t + 1, f"0:0${1 + rnd.nextInt(9)}:${rnd.nextInt(60)}%02d", genreOf(a), 1960 + rnd.nextInt(64),
        rnd.nextInt(6).toDouble, artist, f"${-9.0 + rnd.nextInt(1200) / 100.0}%.2f",
        f"${gainOf(i)}%.2f", rnd.nextInt(12) == 0, 320000L, 44100L, s"f$i.mp3", 20 + rnd.nextInt(200),
        f"20${10 + rnd.nextInt(14)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)} 10:00:00.000000",
        "ascii", f"H${rnd.nextLong()}%x")
    }
  }

  def writeNdjson(dir: Path, name: String, lines: Iterator[String]): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    p
  }

  // ----------------------------------------------------------------- gate

  /** A delta micro-batch for the near-dup gate, in seeded order: 20%
    * exact replays (a shipped doc id and text), 40% near duplicates (a
    * shipped text with its last two words redrawn, under a new id) and
    * 40% fresh texts. Doc ids are unique within a batch; new ids start
    * at `nextId`. */
  def gateBatch(rnd: Random, shipped: IndexedSeq[(Long, String)], nextId: Long,
      size: Int): IndexedSeq[(Long, String)] = {
    val replays = rnd.shuffle(shipped.indices.toIndexedSeq).take(size / 5).map(shipped)
    val nears = (0 until size * 2 / 5).map { _ =>
      val base = shipped(rnd.nextInt(shipped.size))._2.split(' ')
      (base.dropRight(2) ++ Seq.fill(2)(Vocab(rnd.nextInt(Vocab.size)))).mkString(" ")
    }
    val fresh = (0 until size - replays.size - nears.size).map(_ => randomText(rnd, 10 + rnd.nextInt(91)))
    val news = (nears ++ fresh).zipWithIndex.map { case (t, i) => (nextId + i) -> t }
    rnd.shuffle(replays ++ news)
  }
}
