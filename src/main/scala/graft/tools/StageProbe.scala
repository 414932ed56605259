package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-level wall attribution for q139 (round-13 verdict task #5):
  * q139 is the slowest honest query (5.7 s judge-isolated at sf0.1)
  * with candidate filters and verify both already optimal on paper —
  * before touching anything, MEASURE where the 5.7 s goes. Each stage
  * is timed cumulatively from a cold cache (stage N's action runs the
  * full lineage up to N), so stage cost = t(N) - t(N-1) modulo the
  * persisted toks reuse the query itself gets.
  *
  * Usage: runMain graft.tools.StageProbe [sfDir]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

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
    probe("arrs") {
      q139Streams { case (_, _, dt, _) => dt.groupBy($"doc_id")
        .agg(sort_array(collect_list($"trank")).as("toks"), count(lit(1)).as("n"))
        .count()
      }
    }
    probe("cands") {
      q139Streams { case (_, _, _, prefix) => prefix.as("a").join(prefix.as("b"),
          $"a.trank" === $"b.trank" && $"a.doc_id" < $"b.doc_id" &&
            least($"a.t", $"b.t") * 10 >= greatest($"a.t", $"b.t") * 9 &&
            (lit(1) + least($"a.t" - $"a.rn", $"b.t" - $"b.rn")) * 19 >=
              ($"a.t" + $"b.t") * 9)
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct().count()
      }
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
      clean { c =>
        c.join(
          graft.operators.TextOps.gopherRules(c)
            .where($"keep" === 1).select($"doc_id"),
          Seq("doc_id"), "left_semi").count()
      }
    }
    probe("card_before") {
      graft.operators.Curation.cardOf(
        graft.Tables.load(spark, dir, "documents"), exact = true).count()
    }
    probe("card_after") {
      clean { c =>
        val curated = c.join(
          graft.operators.TextOps.gopherRules(c)
            .where($"keep" === 1).select($"doc_id"),
          Seq("doc_id"), "left_semi")
        graft.operators.Curation.cardOf(curated, exact = true).count()
      }
    }
    probe("full178") {
      graft.SparkEntry.queries("q178_curate_card_diff")(spark, dir).count()
    }

    // ---- q31 (round-17): split the wall between the gram_set scan,
    // the block-join candidate volume (pre-kernel — count() prunes the
    // later select, so the verify kernel does not run here), and the
    // full query. Stages rebuilt line-for-line from Dedup.q31_dedup_ngram.
    println("[stage] ==== q31_dedup_ngram ====")
    import graft.functions.GraftFunctions.gram_set
    val docs31 = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", gram_set($"text", 3).as("grams"), $"source",
        $"n_chars", floor(log2(greatest($"n_chars", lit(1)))).as("bkt"))
      .persist()
    probe("docs31") { docs31.count() }
    val a31 = docs31.select($"doc_id".as("id_a"), $"grams".as("grams_a"),
      $"source", $"n_chars".as("len_a"), $"bkt".as("bkt_a"))
    val b31 = docs31.select($"doc_id".as("id_b"), $"grams".as("grams_b"),
      $"source", $"n_chars".as("len_b"), $"bkt".as("bkt_b"))
      .withColumn("bkt_a", explode(array($"bkt_b", $"bkt_b" + 1)))
    probe("cands31") {
      a31.join(b31, Seq("source", "bkt_a"))
        .where(($"bkt_a" === $"bkt_b" && $"id_a" < $"id_b") ||
          $"bkt_a" === $"bkt_b" + 1)
        .where(greatest($"len_a", $"len_b") <= least($"len_a", $"len_b") * 2)
        .count()
    }
    probe("kernel31") {
      // candidate stream + verify kernel + threshold filter, NO
      // presentation sort: count() prunes the jac projection, so this
      // times ONE kernel pass over the candidates — the gap to full31
      // is the orderBy's range-sampling re-execution of this lineage
      // plus any expression duplication
      a31.join(b31, Seq("source", "bkt_a"))
        .where(($"bkt_a" === $"bkt_b" && $"id_a" < $"id_b") ||
          $"bkt_a" === $"bkt_b" + 1)
        .where(greatest($"len_a", $"len_b") <= least($"len_a", $"len_b") * 2)
        .select(least($"id_a", $"id_b").as("doc_a"),
          greatest($"id_a", $"id_b").as("doc_b"),
          graft.functions.GraftFunctions.sorted_inter_atleast(
            $"grams_a", $"grams_b",
            expr("CAST(GREATEST((3 * (size(grams_a) + size(grams_b)) + 12) DIV 13, 1) AS INT)"))
            .as("inter"),
          size($"grams_a").as("na"), size($"grams_b").as("nb"))
        .where($"inter" >= 0)
        .count()
    }
    docs31.unpersist(blocking = true)
    probe("full31") {
      graft.SparkEntry.queries("q31_dedup_ngram")(spark, dir).count()
    }
    spark.stop()
  }
}
