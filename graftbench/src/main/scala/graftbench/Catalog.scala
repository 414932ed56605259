package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.query.Engine

/** The named-query workloads. A shape is one query: a named query from
  * `graft.SparkEntry.queries`, or a parameterized `Engine.query`
  * template with a fixed pool of parameter sets. Every execution's
  * output is checked against a digest pinned in the digests file.
  */
object Catalog {

  /** `frame(spark, i)` builds the shape with parameter set `i`. */
  final case class Shape(name: String, params: Int, frame: (SparkSession, Int) => DataFrame) {
    def key(i: Int): String = if (params == 1) name else s"$name#$i"
  }

  /** Parameterized ad-hoc SQL over lineitem/orders, run through
    * `graft.query.Engine`. Each template has [[PoolSize]] parameter
    * sets; the run seed picks which one each execution uses. */
  val PoolSize = 6

  val Templates: Seq[(String, String, Int => Map[String, Any])] = Seq(
    ("engine.revenue_window",
      """SELECT count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= :d0 AND l_shipdate < :d1
        |  AND l_discount BETWEEN :dlo AND :dhi AND l_quantity < :q""".stripMargin,
      i => Map("d0" -> day(i * 300), "d1" -> day(i * 300 + 365),
        "dlo" -> BigDecimal(0.02 + 0.01 * (i % 4)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
        "dhi" -> BigDecimal(0.04 + 0.01 * (i % 4)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
        "q" -> (20 + 3 * i))),
    ("engine.status_join",
      """SELECT o_orderstatus, count(*) AS n, sum(l_quantity) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_totalprice > :p AND l_returnflag = :f
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      i => Map("p" -> (100000 + 60000 * i), "f" -> Seq("R", "N", "A")(i % 3))),
    ("engine.top_customers",
      """SELECT o_custkey, sum(o_totalprice) AS spend, count(*) AS n
        |FROM orders WHERE o_orderpriority = :prio AND o_orderstatus = :st
        |GROUP BY o_custkey ORDER BY spend DESC, o_custkey LIMIT 20""".stripMargin,
      i => Map("prio" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(i % 5),
        "st" -> Seq("O", "F", "P")(i % 3))))

  private def day(offset: Int): LocalDate = LocalDate.of(1995, 1, 1).plusDays(offset)

  /** Builds the named shapes; `engine.*` names are Engine templates. */
  def shapes(names: Seq[String], dir: String, ctx: Ctx): Seq[Shape] = {
    val engine =
      if (names.exists(n => Templates.exists(_._1 == n))) new Engine(ctx.spark, dir) else null
    names.map { n =>
      Templates.find(_._1 == n) match {
        case Some((_, sql, params)) =>
          Shape(n, PoolSize, (_, i) => engine.query(sql, params(i)))
        case None =>
          val q = SparkEntry.queries(n)
          Shape(n, 1, (spark, _) => q(spark, dir))
      }
    }
  }

  /** Pinned digests, keyed by (scale factor, shape key). */
  def loadDigests(file: Path): Map[(Double, String), String] =
    Files.readAllLines(file).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(sf, k, d) = l.split('\t'); (sf.toDouble, k) -> d }.toMap

  /** One timed execution of a shape (build and collect); the digest is
    * computed and compared after the timer stops. Returns the latency
    * in ms (None on a throw). */
  def execute(ctx: Ctx, sf: Double, s: Shape, i: Int, pinned: Map[(Double, String), String],
      spanName: String): Option[Double] = {
    val r = ctx.op(s.key(i))(ctx.span(spanName)(s.frame(ctx.spark, i).collect()))
    r.foreach { case (rows, _) =>
      val d = Digest.of(rows)
      val want = pinned.get(sf -> s.key(i))
      ctx.check(want.contains(d), s"${s.key(i)} at sf$sf: digest $d, pinned ${want.getOrElse("none")}")
    }
    r.map(_._2)
  }
}

/** Eight sub-second shapes at sf0.1, where planning, codegen and job
  * launch dominate: a cold pass (the first execution of each shape in
  * the JVM), then at least 2 warm passes in a seeded order. */
object CatalogLight extends Workload {
  val name = "catalog_light"
  val Sf = 0.1
  val Named: Seq[String] = Seq(
    "q02_select_in", "q41_asof_join", "q137_ewma", "q142_k_anonymity", "q54_word_freq")
  val Names: Seq[String] = Named ++ Catalog.Templates.map(_._1)

  final case class St(shapes: Seq[Catalog.Shape], pinned: Map[(Double, String), String])
  type Inputs = String
  type State = St

  def generate(ctx: Ctx): String = ctx.catalog(Sf)

  def setup(ctx: Ctx, dir: String): St =
    St(Catalog.shapes(Names, dir, ctx), Catalog.loadDigests(ctx.args.digests))

  def run(ctx: Ctx, st: St): Result = {
    def pass(): Seq[(Catalog.Shape, Double)] = ctx.rnd.shuffle(st.shapes).flatMap { s =>
      val i = ctx.rnd.nextInt(s.params)
      val span = if (s.name.startsWith("engine.")) "query.engine" else "operators.named"
      Catalog.execute(ctx, Sf, s, i, st.pinned, span).map(s -> _)
    }
    val cold = pass()
    val engineMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val r = ctx.loop(minUnits = 2) { _ =>
      val p = pass()
      engineMs ++= p.collect { case (s, ms) if s.name.startsWith("engine.") => ms }
      p.map { case (s, ms) => s.name -> ms }
    }
    r.layer ++= Seq(
      "light_median_ms" -> Stats.median(r.ops.map(_.ms)),
      "light_cold_ms" -> Stats.median(cold.map(_._2)),
      "query.engine_ms" -> Stats.median(engineMs.toSeq))
    r
  }
}
