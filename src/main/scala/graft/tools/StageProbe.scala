package graft.tools

import org.apache.spark.sql.DataFrame

/** Stage-level wall attribution for q139, q133 and q178, plus the
  * full q31. Each stage is timed cumulatively from a cold cache (stage
  * N's action runs the full lineage up to N), so stage cost =
  * t(N) - t(N-1) modulo the persisted reuse the query itself gets.
  * The stages start from the operator's own stage functions
  * (`Dedup.setsimStreams`, `Analytics.knnTriangleStages`,
  * `Analytics.curationStages`; q178's curated and card stages add
  * `Curation.gopherKept` and `Curation.cardOf` on top), so the tool
  * times the plan the query runs — a stage rebuilt by hand from a
  * query's code drifts from it.
  *
  * Usage: runMain graft.tools.StageProbe [sfDir]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(32)

    def reset(): Unit = graft.GraftSession.reset(spark)
    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    // warm: file listing, codegen of the shared kernels
    graft.SparkEntry.queries("q139_setsim_join")(spark, dir).count()
    reset()

    // stage walls, each from a clean session (cumulative lineage)
    def probe(name: String)(f: => Long): Unit = {
      val (t, n) = time(f)
      println(f"[stage] $name%-12s t=$t%6.2f s rows=$n")
      reset()
    }
    // each stage probe runs in its own scope: the streams' persist and
    // checkpoint are released once the count returns
    def q139Streams[A](f: ((DataFrame, DataFrame, DataFrame, DataFrame)) => A): A =
      graft.Scope(sc => f(graft.operators.Dedup.setsimStreams(sc, spark, dir)))
    probe("toks") {
      q139Streams { case (toks, _, _, _) => toks.count() }
    }
    probe("ranked") {
      q139Streams { case (_, ranked, _, _) => ranked.count() }
    }
    probe("prefix") {
      q139Streams { case (_, _, _, prefix) => prefix.count() }
    }
    probe("full") {
      graft.SparkEntry.queries("q139_setsim_join")(spark, dir).count()
    }

    // ---- q133 (round-13 verdict task #4: the slowest unattributed
    // line, 5.2 s judge-isolated at sf0.1). Stages cumulative from a
    // cold cache via the query's own stage streams.
    println("[stage] ==== q133_knn_triangles ====")
    graft.SparkEntry.queries("q133_knn_triangles")(spark, dir).count() // warm
    reset()
    def q133Stages[A](f: ((DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame, DataFrame)) => A): A =
      graft.Scope(sc => f(graft.operators.Analytics.knnTriangleStages(sc, spark, dir)))
    probe("pw") { q133Stages { case (pw, _, _, _, _, _, _) => pw.count() } }
    probe("topk") { q133Stages { case (_, topk, _, _, _, _, _) => topk.count() } }
    probe("edges") { q133Stages { case (_, _, e, _, _, _, _) => e.count() } }
    probe("wedges") { q133Stages { case (_, _, _, _, _, wedge, _) => wedge.count() } }
    probe("triangles") { q133Stages { case (_, _, _, _, _, _, tri) => tri.count() } }
    probe("full133") {
      graft.SparkEntry.queries("q133_knn_triangles")(spark, dir).count()
    }

    // ---- q178 (round-14: the slowest unattributed min-merged bench
    // line after the closed output-bound q139/q133 — 4.5 s min at
    // sf0.1). Stage walls cumulative from a cold cache: the curation
    // funnel, the gopher semi-join on its survivors, and each card
    // (the exact per-source window percentiles) separately.
    println("[stage] ==== q178_curate_card_diff ====")
    graft.SparkEntry.queries("q178_curate_card_diff")(spark, dir).count() // warm
    reset()
    def clean[A](f: DataFrame => A): A = graft.Scope(sc =>
      f(graft.operators.Analytics.curationStages(sc, spark, dir).last._2))
    probe("funnel") { clean(_.count()) }
    probe("curated") {
      clean(c => graft.operators.Curation.gopherKept(c).count())
    }
    probe("card_before") {
      graft.operators.Curation.cardOf(
        graft.Tables.load(spark, dir, "documents"), exact = true).count()
    }
    probe("card_after") {
      clean(c => graft.operators.Curation.cardOf(
        graft.operators.Curation.gopherKept(c), exact = true).count())
    }
    probe("full178") {
      graft.SparkEntry.queries("q178_curate_card_diff")(spark, dir).count()
    }

    // ---- q31: the full query only (its stage split is recorded in
    // OPTIMIZATION_r18.md and PLANS.md)
    println("[stage] ==== q31_dedup_ngram ====")
    probe("full31") {
      graft.SparkEntry.queries("q31_dedup_ngram")(spark, dir).count()
    }
    spark.stop()
  }
}
