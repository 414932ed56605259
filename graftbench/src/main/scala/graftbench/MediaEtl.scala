package graftbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.media.MediaPipeline
import graft.sources.JdbcSink

/** The reference's own pipeline, one round per unit: seeded wide-media
  * NDJSON -> `MediaPipeline.load` -> `splitTables` -> `JdbcSink.write`
  * of the 5 tables into a fresh in-memory Derby database ->
  * `registerViews` -> the 8 canned queries under several seeded
  * parameter sets drawn from the round's rows.
  */
object MediaEtl extends Workload {
  val name = "media_etl"
  val Rows = 1500
  val ParamSets = 4
  val Tables: Seq[String] = Seq("artist", "album", "track", "genre", "metadata")

  type Inputs = Int => (java.nio.file.Path, IndexedSeq[Gen.Media])
  final case class St(round: Int => (java.nio.file.Path, IndexedSeq[Gen.Media]), p: MediaPipeline)
  type State = St

  /** Round k's rows come from (seed, k), made on demand outside the
    * timers; generating one round takes milliseconds. */
  def generate(ctx: Ctx): Inputs = {
    val dir = ctx.workDir("media")
    k => {
      val rows = Gen.media(Rows, ctx.args.seed * 1000003L + k)
      (Gen.writeNdjson(dir.resolve(s"round_$k"), "local_media.json", rows.iterator.map(_.json)), rows)
    }
  }

  def setup(ctx: Ctx, in: Inputs): St = {
    System.setProperty("derby.system.home", ctx.workDir("derby").toString)
    // boot the embedded engine once, as a user's first connection does
    DriverManager.getConnection("jdbc:derby:memory:graftbench_boot;create=true").close()
    St(in, new MediaPipeline(ctx.spark))
  }

  final case class Params(artists: Seq[String], albums: Seq[String], tracks: Seq[String],
      genres2: Seq[String], fileExt: String, gainBelow: BigDecimal, joinGenre: Seq[String])

  /** Values drawn from the round's rows; the gain threshold is a rank
    * (the 40th lowest album gain), so every draw selects 40 albums. */
  def params(rnd: scala.util.Random, rows: IndexedSeq[Gen.Media]): Params = {
    def some(f: Gen.Media => String, n: Int) = rnd.shuffle(rows.map(f).distinct).take(n)
    Params(some(_.artist, 2), some(_.album, 2), some(_.track, 3),
      rnd.shuffle(Gen.Genres).take(2), Gen.FileExts(rnd.nextInt(Gen.FileExts.size)),
      BigDecimal(rows.map(_.albumGain.toDouble).sorted.apply(40)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
      Seq(Gen.Genres(rnd.nextInt(Gen.Genres.size))))
  }

  def run(ctx: Ctx, st: St): Result = {
    val etlRate = mutable.ArrayBuffer.empty[Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    var splitCache, readback = 0.0
    val loaded = mutable.ArrayBuffer.empty[(Int, String)] // rounds whose JDBC load committed
    val r0 = 1 // the first round is cold: warm-up for the summaries
    val r = ctx.loop(minUnits = 2, warmFrom = r0) { k =>
      val (path, rows) = st.round(k)
      val url = s"jdbc:derby:memory:graftbench_r$k;create=true"
      ctx.trace.foreach(_.resetFirstScan())
      val etl = ctx.op("etl") {
        val tables = ctx.span("etl.split")(st.p.splitTables(ctx.span("media.load")(st.p.load(path.toString))))
        Tables.foreach { t =>
          ctx.span("sources.jdbc_write")(JdbcSink.write(tables(t), JdbcSink.Config(url, t, numPartitions = 2)))
        }
        tables
      }
      val ops = mutable.ArrayBuffer.empty[(String, Double)]
      etl.foreach { case (tables, ms) =>
        etlRate += Rows / (ms / 1e3)
        if (k == r0) ctx.trace.foreach(t => splitCache = t.firstScanStage.get / 1e9)
        st.p.registerViews(tables)
        for (_ <- 0 until ParamSets) {
          val ps = params(ctx.rnd, rows)
          ctx.op("canned_plan")(ctx.span("media.canned_plan")(st.p.cannedQueries(ps.artists, ps.albums,
            ps.tracks, ps.genres2, ps.fileExt, ps.gainBelow, ps.joinGenre))).foreach { case (qs, plan) =>
            planMs += plan / qs.size
            qs.toSeq.sortBy(_._1).foreach { case (q, df) =>
              ctx.op(q)(ctx.span("media.canned_exec")(df.collect())).foreach { case (got, ms) =>
                execMs += ms
                ops += q -> (plan / qs.size + ms)
                ctx.check(sameRows(got, expected(q, ps, rows)), s"canned $q differs from the generated rows")
              }
            }
          }
        }
        loaded += k -> url
        ctx.spark.catalog.clearCache()
      }
      ops.toSeq
    }
    // read-back checks, after the timed region
    loaded.foreach { case (k, url) =>
      val t0 = System.nanoTime()
      Tables.foreach { t =>
        val n = JdbcSink.read(ctx.spark, JdbcSink.Config(url, t)).count()
        ctx.check(n == Rows, s"jdbc $t read back $n rows, wrote $Rows")
      }
      if (k == r0) readback = (System.nanoTime() - t0) / 1e9
      drop(url)
    }
    r.layer ++= Seq(
      "etl_rows_per_s" -> Stats.median(etlRate.toSeq),
      "canned_p50_ms" -> Stats.percentile(r.warmOpMs, 0.5).getOrElse(0.0),
      "media.canned_plan_ms" -> Stats.median(planMs.toSeq),
      "media.canned_exec_ms" -> Stats.median(execMs.toSeq),
      "etl.split_cache_s" -> splitCache,
      "sources.jdbc_readback_s" -> readback,
      "sources.jdbc_rows" -> Rows.toDouble * Tables.size)
    r
  }

  private def drop(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true")).close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  // ------------------------------------------------ independent answers

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    case x => x.toString
  }

  def sameRows(got: Array[Row], want: Seq[Seq[Any]]): Boolean =
    got.map(_.toSeq.map(cell).mkString("|")).sorted.toSeq == want.map(_.map(cell).mkString("|")).sorted

  private def gain(m: Gen.Media): java.math.BigDecimal =
    BigDecimal(m.albumGain).setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal

  /** The canned query's answer computed from the generated rows alone. */
  def expected(q: String, p: Params, rows: IndexedSeq[Gen.Media]): Seq[Seq[Any]] = {
    lazy val byArtist = rows.groupBy(_.artistId)
    q match {
      case "artist_select" => rows.filter(m => p.artists.contains(m.artist)).map(m => Seq(m.artistId, m.artist, m.composer))
      case "album_select" => rows.filter(m => p.albums.contains(m.album)).map(m => Seq(m.albumId, m.album, m.year, gain(m)))
      case "track_select" => rows.filter(m => p.tracks.contains(m.track))
        .map(m => Seq(m.artistId, m.album, m.track, m.trackLength, m.rating.toString))
      case "genre_select" => rows.filter(m => p.genres2.contains(m.genre)).map(m => Seq(m.artist, m.genre))
      case "file_select" => rows.filter(_.fileExt == p.fileExt).map(m => Seq(m.fileName, m.encoding, m.fileExt))
      case "gain_select" => byArtist.values.toSeq.flatMap { g =>
        for (m <- g if BigDecimal(gain(m)) < p.gainBelow; _ <- g; t <- g) yield Seq(gain(m), m.artist, t.album)
      }
      case "join_select" => byArtist.values.toSeq.flatMap { g =>
        for (a <- g; gg <- g if p.joinGenre.contains(gg.genre); t <- g) yield Seq(a.artist, t.album)
      }
      case "avg_size_select" =>
        Seq(Seq(rows.map(_.fileSize).sum.toDouble / rows.size / (1024 * 1024)))
    }
  }
}
