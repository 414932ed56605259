package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility: dump `explain("formatted")` for the LAZY plan of
  * queries whose declared entry seals its output behind an eager
  * `localCheckpoint` (so `Explain` on the returned frame shows only a
  * checkpoint scan). Queries written against a [[graft.Scope]] are
  * built under [[graft.Scope.Lazy]], which materializes nothing and
  * so returns the plain plan; for the others this rebuilds the exact sub-frame the
  * optimization touched, line-for-line from the operator source (the
  * build site is cited next to each), so the dumped plan is the real
  * pre/post-change operator shape.
  *
  * Usage: runMain graft.tools.PlanDump <name> [sfDir] [mode]
  * For the kernelized sub-frames, mode `hof` rebuilds them with the
  * ORIGINAL higher-order-function expressions (the round-17 "before"
  * plan) and `kern` (default) with the codegen kernels — both from
  * one tree, so the before/after pair differs only in the expression
  * under audit.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "kern"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = name match {
      case "q139_setsim_join" =>
        graft.operators.Dedup.setsimJoin(spark, sfDir, graft.Scope.Lazy)
      case "q144_containment_join" =>
        graft.operators.Dedup.containmentJoin(spark, sfDir, graft.Scope.Lazy)
      case "q148_semdedup_pairs" =>
        // the q148 candidate-pair scoring sub-frame as built at
        // operators/Similarity.scala (q148_semdedup): cluster-blocked
        // self-join + quantized-dot duplicate test. The full query
        // seals behind kmSeeds collects; the pair join is the part
        // the round-17 kernel change touched.
        def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          if (mode == "hof")
            aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, d) => acc + d)
          else graft.functions.GraftFunctions.dot_i64(x, y)
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
          .selectExpr("vec_id",
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q")
          .withColumn("cl", pmod(hash($"vec_id"), lit(16)))
          .withColumn("n2", dot($"q", $"q"))
        val a = emb.select($"cl", $"vec_id".as("va"), $"q".as("qa"), $"n2".as("na2"))
        val b = emb.select($"cl", $"vec_id".as("vb"), $"q".as("qb"), $"n2".as("nb2"))
        a.join(b, Seq("cl")).where($"va" < $"vb")
          .withColumn("dot", dot($"qa", $"qb"))
          .where($"dot" > 0 && expr(
            """400 * CAST(dot AS DECIMAL(20,0)) * CAST(dot AS DECIMAL(20,0)) >=
              |81 * CAST(na2 AS DECIMAL(20,0)) * CAST(nb2 AS DECIMAL(20,0))""".stripMargin
              .replace("\n", " ")))
          .select($"cl", $"vb".as("vec_id"))
      case "q31_verify" =>
        // the q31 verify tail as built at operators/Dedup.scala
        // (q31_dedup_ngram): mode `hof` (misnomer here — "before")
        // shows the round-16 shape, Sort DIRECTLY over the kernel
        // projection (whose range sampling re-executes the kernel
        // pass); `kern` ("after") shows the round-17 shape, the
        // verify materialized and the Sort sampling a checkpoint scan.
        import graft.functions.GraftFunctions.{gram_set, sorted_inter_atleast}
        val docs = graft.Tables.load(spark, sfDir, "documents")
          .select($"doc_id", gram_set($"text", 3).as("grams"), $"source",
            $"n_chars", floor(log2(greatest($"n_chars", lit(1)))).as("bkt"))
        val a = docs.select($"doc_id".as("id_a"), $"grams".as("grams_a"),
          $"source", $"n_chars".as("len_a"), $"bkt".as("bkt_a"))
        val b = docs.select($"doc_id".as("id_b"), $"grams".as("grams_b"),
          $"source", $"n_chars".as("len_b"), $"bkt".as("bkt_b"))
          .withColumn("bkt_a", explode(array($"bkt_b", $"bkt_b" + 1)))
        val verified = a.join(b, Seq("source", "bkt_a"))
          .where(($"bkt_a" === $"bkt_b" && $"id_a" < $"id_b") ||
            $"bkt_a" === $"bkt_b" + 1)
          .where(greatest($"len_a", $"len_b") <= least($"len_a", $"len_b") * 2)
          .select(least($"id_a", $"id_b").as("doc_a"),
            greatest($"id_a", $"id_b").as("doc_b"),
            sorted_inter_atleast($"grams_a", $"grams_b",
              expr("CAST(GREATEST((3 * (size(grams_a) + size(grams_b)) + 12) DIV 13, 1) AS INT)"))
              .as("inter"),
            size($"grams_a").as("na"), size($"grams_b").as("nb"))
        val base = if (mode == "hof") verified else verified.localCheckpoint()
        base.where($"inter" >= 0)
          .select($"doc_a", $"doc_b",
            ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jac"))
          .orderBy($"doc_a", $"doc_b")
      case "q187_feats" =>
        // the q187 feature stream as built at operators/Training.scala
        // (q187_dsir_weights) BEFORE its localCheckpoint: scan ->
        // bigram explode -> bucket hash. This is the sub-frame the
        // round-17 kernel change touched.
        graft.Tables.load(spark, sfDir, "documents")
          .select($"doc_id", $"source", $"lang",
            expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
              .as("ws"))
          .where(size($"ws") >= 2)
          .select($"doc_id", $"source", $"lang",
            explode(expr("transform(sequence(1, size(ws) - 1), i ->" +
              " concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("f"))
          .select($"doc_id", $"source", $"lang",
            (if (mode == "hof")
              expr("aggregate(sequence(1, length(f)), 0L," +
                " (h, i) -> (h * 31 + ascii(substring(f, i, 1))) % 1000003) % 256")
            else graft.functions.GraftFunctions.poly31_bucket($"f", 1000003L, 256))
              .as("bkt"))
      case other =>
        graft.SparkEntry.queries(other)(spark, sfDir)
    }
    df.explain("formatted")
    spark.stop()
  }
}
