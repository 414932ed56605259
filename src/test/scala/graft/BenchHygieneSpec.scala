package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's session hygiene (rounds 8-10 found the
  * in-session bench overstating heavy queries up to 3.7x vs isolated
  * runs purely through cross-query debris). Two properties:
  *
  *  1. [[GraftSession.reset]] actually restores a pre-query state:
  *     zero persistent RDDs (including localCheckpoint blocks, which
  *     `clearCache` alone never releases) and an empty SQL cache,
  *     even after a query that persists AND checkpoints.
  *  2. [[Bench.minStable]] resets BETWEEN runs (so the reported
  *     minimum never times a run executed under a previous run's
  *     debris) and fires its third run exactly when the first two
  *     disagree by >25% on a >=0.8 s query.
  */
class BenchHygieneSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  test("resetSession releases SQL-cached plans AND checkpoint blocks") {
    val sc = spark.sparkContext
    GraftSession.reset(spark)
    // one SQL-cache entry + one localCheckpoint (the block family
    // Dataset.unpersist misses) + a query that does both internally
    val cached = Tables.load(spark, sf, "nation").persist()
    cached.count()
    val ckpt = Tables.load(spark, sf, "region").localCheckpoint()
    ckpt.count()
    SparkEntry.queries("q139_setsim_join")(spark, sf).count()
    assert(sc.getPersistentRDDs.nonEmpty) // the fixture is live
    GraftSession.reset(spark)
    assert(sc.getPersistentRDDs.isEmpty,
      s"blocks survived reset: ${sc.getPersistentRDDs.keySet}")
    assert(spark.sharedState.cacheManager.isEmpty, "SQL cache not empty")
  }

  test("minStable resets between runs and samples heavies harder") {
    // fast query: 2 runs, 2 resets, min reported
    var resets = 0
    var i = 0
    val stable = Bench.minStable(
      () => { i += 1; Seq(0.10, 0.12)(i - 1) }, () => resets += 1)
    assert(stable == 0.10 && i == 2 && resets == 2)
    // the reset must fall BETWEEN the runs, not after both: assert
    // run 2 observes run 1's reset
    var order = List.empty[String]
    Bench.minStable(
      () => { order :+= "run"; 0.1 }, () => order :+= "reset")
    assert(order.take(3) == List("run", "reset", "run"))
    // >=0.8s query whose 2 inline draws disagree >25%: adaptive 3rd
    var j = 0
    val heavy = Bench.minStable(
      () => { j += 1; Seq(1.40, 0.90, 0.85)(j - 1) }, () => ())
    assert(heavy == 0.85 && j == 3)
    // 25% spread below the 0.8s floor: quantization noise, no re-run
    var k = 0
    val tiny = Bench.minStable(
      () => { k += 1; Seq(0.2, 0.4)(k - 1) }, () => ())
    assert(tiny == 0.2 && k == 2)
  }

  test("deferred pass re-draws exactly the >=0.8s queries and min-merges") {
    // the time-decorrelated second pass: a steal burst that blanketed
    // q_b's whole inline slot is corrected minutes later; q_a (fast)
    // is not re-run; a rerun that throws keeps the inline number
    var reruns = List.empty[String]
    var resets = 0
    val out = Bench.withDeferredPass(
      Seq("q_a" -> 0.3, "q_b" -> 11.6, "q_c" -> 2.0, "q_d" -> 1.5),
      rerun = {
        case "q_b" => reruns :+= "q_b"; 6.5  // burst over, honest wall
        case "q_c" => reruns :+= "q_c"; 2.4  // slower re-draw ignored
        case "q_d" => reruns :+= "q_d"; throw new RuntimeException("boom")
        case other => fail(s"unexpected rerun of $other")
      },
      reset = () => resets += 1)
    assert(out == Seq("q_a" -> 0.3, "q_b" -> 6.5, "q_c" -> 2.0, "q_d" -> 1.5))
    assert(reruns == List("q_b", "q_c", "q_d")) // suite order, no q_a
    assert(resets == 3) // reset after every re-draw, throwing included
  }

  test("subset runs at two scale factors write two artifacts") {
    val a = Bench.artifactName("/root/testdata/sf0.001", subset = true, sameSf = true)
    val b = Bench.artifactName("/root/testdata/sf0.01", subset = true, sameSf = true)
    assert(a != b, s"two sf dirs share the subset artifact $a")
    assert(a.startsWith("BENCH_FULL_subset_sf0.001_") && a.endsWith(".json"), a)
    // the same dir spelled differently is the same artifact
    assert(Bench.artifactName("/root/testdata/./sf0.001/", subset = true,
      sameSf = false) == a)
    // neither collides with the full-run names
    val full = Bench.artifactName("/root/testdata/sf0.001", subset = false, sameSf = true)
    val divert = Bench.artifactName("/root/testdata/sf0.001", subset = false, sameSf = false)
    assert(full == "BENCH_FULL.json" && Set(a, b, full, divert).size == 4)
  }

  test("BENCH_FULL.json is keyed on (sf, cpus): another core count diverts") {
    val sf01 = "/data/sf0.1"
    def artifact(sf: String, cpus: Option[Int]) =
      s"""{"metric":"total","value":9.0,"unit":"sec","queries":{"q01_x":1.5,"q02_y":-1.0},""" +
        s""""min_with_prior":{"q01_x":1.0},"min_total":1.0,"sf":"$sf"""" +
        cpus.map(c => s""","cpus":$c""").getOrElse("") + "}"
    // same canonical sf and cpus: the top-level walls are the merge window
    assert(Bench.priorOf(artifact(sf01, Some(8)), "/data/./sf0.1/", 8) ==
      Some(Map("q01_x" -> 1.5, "q02_y" -> -1.0)))
    // same sf, other core count: no merge, and the run diverts
    assert(Bench.priorOf(artifact(sf01, Some(8)), sf01, 32).isEmpty)
    // other sf: diverts whatever the core count
    assert(Bench.priorOf(artifact("/data/sf0.01", Some(8)), sf01, 8).isEmpty)
    // an artifact from before the key had cpus: refreshed, nothing merged
    assert(Bench.priorOf(artifact(sf01, None), sf01, 8) == Some(Map.empty))
    // diverted full runs at two core counts write two files, neither
    // of them the canonical artifact
    val c8 = Bench.artifactName(sf01, subset = false, sameSf = false, cpus = 8)
    val c32 = Bench.artifactName(sf01, subset = false, sameSf = false, cpus = 32)
    assert(c8 != c32 && !Set(c8, c32).contains("BENCH_FULL.json"), s"$c8 / $c32")
    assert(c32.startsWith("BENCH_FULL_sf0.1_c32_"), c32)
    assert(Bench.artifactName(sf01, subset = false, sameSf = true, cpus = 32) ==
      "BENCH_FULL.json")
  }
}
