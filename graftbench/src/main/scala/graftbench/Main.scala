package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --data <dir> --digests <file> [--trace-out <file>]
  * Main --gen --data <dir> --work <dir>                     # write the catalogs
  * Main --pin <sf> <shape,...> --data <dir> --work <dir>   # print digests
  * }}}
  * `--work` is a per-run scratch dir (Spark local dir, stores, NDJSON);
  * `--data` holds the seed-independent catalog tables. `--gen` writes
  * them in a JVM of its own, so every measured JVM starts from the same
  * state whether or not the checkout had them yet.
  * The last stdout line is the result JSON; logs go to stderr.
  */
object Main {

  val Workloads: Map[String, Workload] =
    Seq(MediaEtl, CatalogLight, GateIngest).map(w => w.name -> w).toMap

  /** The catalog scales the workloads read. */
  val CatalogScales: Seq[Double] = Seq(CatalogLight.Sf)

  def catalogDir(data: Path, sf: Double): Path = data.resolve(s"catalog-sf$sf-g${Gen.CatalogSeed}")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path, digests: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("data")), Paths.get(need("digests")),
      m.get("trace-out").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val mainAt = System.nanoTime()
    val jvmToMain = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (args.headOption.contains("--gen")) return gen(args.drop(1))
    if (args.headOption.contains("--pin")) return pin(args)
    val a = parse(args)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val spark = Session.build(a.work.toString)
    val sessionS = (System.nanoTime() - mainAt) / 1e9
    val trace = if (a.trace) Some(new Trace(spark, s"${w.name}-${a.seed}")) else None
    val ctx = new Ctx(spark, a, trace)
    try {
      val g0 = System.nanoTime()
      val inputs = w.generate(ctx)
      val generateS = (System.nanoTime() - g0) / 1e9
      val s0 = System.nanoTime()
      val state = w.setup(ctx, inputs)
      val setupS = jvmToMain + sessionS + (System.nanoTime() - s0) / 1e9
      System.err.println(f"[graftbench] jvm start to main $jvmToMain%.2f s, session $sessionS%.2f s, " +
        f"inputs $generateS%.2f s, set-up ${setupS - jvmToMain - sessionS}%.2f s")
      val r = w.run(ctx, state)
      System.err.println(f"[graftbench] ${r.unitWall.size} units: ${r.unitWall.map(x => f"$x%.2f").mkString(" ")} s; " +
        "best ms per op shape: " + r.warmOps.groupMapReduce(_.shape)(_.ms)(_ min _)
          .toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.0f" }.mkString(" "))
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(
          ("setup_s", setupS, "s"),
          ("op_ms", r.bestOpMs, "ms"),
          ("live_heap_mb", liveHeapMb(), "MB"))
        else {
          val t = trace.get
          a.traceOut.foreach(t.writeSpans)
          val overhead = r.window.overheadNanos / 1e9 / (r.window.at / 1e9)
          Layers.metrics(r, ctx) ++ Seq(
            ("bench.generate_s", generateS, "s"),
            ("bench.trace_overhead_frac", overhead, "ratio"),
            ("bench.failed_ops_frac", ctx.failed.toDouble / ctx.attempted.max(1), "ratio"))
        }
      emit(ctx, metrics)
    } finally {
      trace.foreach(_.close())
      spark.stop()
    }
  }

  /** Used heap after forced GCs. Spark's cleaner releases unreachable
    * shuffles and broadcasts only after a GC has found them, so GC runs
    * until the used size stops falling. */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var next = { Thread.sleep(200); used() }
    var n = 0
    while (next < last * 0.99 && n < 8) { last = next; Thread.sleep(200); next = used(); n += 1 }
    next / 1048576.0
  }

  def emit(ctx: Ctx, metrics: Seq[(String, Double, String)]): Unit = {
    val body = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted.max(1)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  private def toolArgs(rest: Array[String]): Args =
    parse(Array("--workload", "x", "--seed", "0", "--seconds", "0", "--trace", "0",
      "--digests", "-") ++ rest)

  /** Writes every catalog in [[CatalogScales]] that the data dir lacks. */
  private def gen(args: Array[String]): Unit = {
    val a = toolArgs(args)
    val spark = Session.build(a.work.toString)
    try CatalogScales.foreach { sf =>
      val dir = catalogDir(a.data, sf)
      if (!Files.isDirectory(dir)) Gen.writeCatalog(spark, dir.toString, sf)
    } finally spark.stop()
  }

  /** Prints the digest of each named shape at one catalog scale, for
    * pinning into the digests file. */
  private def pin(args: Array[String]): Unit = {
    val sf = args(1).toDouble
    val a = toolArgs(args.drop(3))
    val spark = Session.build(a.work.toString)
    val ctx = new Ctx(spark, a, None)
    val dir = ctx.catalog(sf)
    for (s <- Catalog.shapes(args(2).split(',').toSeq, dir, ctx); i <- 0 until s.params) {
      val t0 = System.nanoTime()
      println(s"$sf\t${s.key(i)}\t${Digest.of(s.frame(spark, i).collect())}")
      System.err.println(f"[graftbench] ${s.key(i)} ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    spark.stop()
  }
}

/** Per-run state shared by the workloads: the op counters, the seeded
  * random source and the catalog dirs. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val trace: Option[Trace]) {
  val rnd = new scala.util.Random(args.seed)
  var attempted = 0L
  var failed = 0L

  /** Runs one timed operation. Returns its result and wall time in ms,
    * or None (counted as failed) when it throws. */
  def op[T](what: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      Some(r -> (System.nanoTime() - t0) / 1e6)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[graftbench] $what threw: $e")
        None
    }
  }

  /** Counts a wrong output (outside any timed region). */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; System.err.println(s"[graftbench] check failed: $what") }

  def span[T](name: String)(f: => T): T = trace match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  def snapshot(): Option[Trace.Snapshot] = trace.map(_.snapshot())

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def workDir(name: String): Path = Files.createDirectories(args.work.resolve(name))

  /** The catalog tables at scale `sf`, written beforehand by `--gen`
    * (they do not depend on the run seed). */
  def catalog(sf: Double): String = {
    val dir = Main.catalogDir(args.data, sf)
    if (!Files.isDirectory(dir))
      throw new IllegalStateException(s"catalog $dir missing: run graftbench.Main --gen first")
    dir.toString
  }

  /** Runs units until `seconds` have passed and at least `minUnits`
    * ran. Each unit returns its ops' (shape, latency in ms); units
    * before `warmFrom` count as warm-up in [[Result]]'s summaries. */
  def loop(minUnits: Int, warmFrom: Int = 0)(unit: Int => Seq[(String, Double)]): Result = {
    val ops = mutable.ArrayBuffer.empty[Result.Op]
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    var window: Option[Trace.Snapshot] = None
    var from, to = 0L
    val start = System.nanoTime()
    var k = 0
    while (k < minUnits || (System.nanoTime() - start) / 1e9 < args.seconds) {
      val before = snapshot()
      if (k == warmFrom) from = System.nanoTime()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      ops ++= unit(k).map { case (shape, ms) => Result.Op(k, shape, ms) }
      walls += (System.nanoTime() - t0) / 1e9
      cpus += (cpuNanos() - c0) / 1e9
      if (k == warmFrom) {
        to = System.nanoTime()
        window = for (b <- before; a <- snapshot()) yield a - b
      }
      k += 1
    }
    Result(ops.toSeq, walls.toSeq, cpus.toSeq, warmFrom, window.orNull, from, to, mutable.Map.empty)
  }
}

/** What a workload's timed region produced. `window` is the counter
  * difference over the first warm unit (traced runs only): a fixed
  * amount of work, so its counts repeat for a given seed. */
final case class Result(ops: Seq[Result.Op], unitWall: Seq[Double], unitCpu: Seq[Double],
    warmFrom: Int, window: Trace.Snapshot, windowFrom: Long, windowTo: Long,
    layer: mutable.Map[String, Double]) {
  def warmOps: Seq[Result.Op] = ops.filter(_.unit >= warmFrom)
  def warmOpMs: Seq[Double] = warmOps.map(_.ms)
  def warmUnitWall: Seq[Double] = unitWall.drop(warmFrom)
  def warmUnitCpu: Seq[Double] = unitCpu.drop(warmFrom)

  /** Each op shape's fastest warm execution, then the geometric mean
    * over shapes: best-of-N per shape keeps a burst of host noise out
    * of the figure, as graft.Bench's min-of-N does, and the geometric
    * mean lets every shape count alike, so one shape's noise moves the
    * figure by only its share. */
  def bestOpMs: Double =
    Stats.geomean(warmOps.groupMapReduce(_.shape)(_.ms)(_ min _).values.toSeq)
}

object Result {
  final case class Op(unit: Int, shape: String, ms: Double)
}

trait Workload {
  type Inputs
  type State
  def name: String
  def generate(ctx: Ctx): Inputs
  def setup(ctx: Ctx, in: Inputs): State
  def run(ctx: Ctx, st: State): Result
}
