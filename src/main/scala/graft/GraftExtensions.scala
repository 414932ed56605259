package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.plans.AsOfJoinStrategy

/** Production registration path: install the engine's planner strategy
  * and SQL functions at session build time. [[GraftSession.local]] is
  * the one recipe that does it —
  *
  * {{{
  * val spark = graft.GraftSession.local(cores = 8)
  * }}}
  *
  * — and an application building its own session passes
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` to its builder.
  *
  * (`AsOf.join` also self-injects via experimental.extraStrategies for
  * sessions built without extensions; `GraftFunctions.register` is the
  * equivalent runtime path for functions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // ASOF JOIN SQL dialect: keyword sugar in the parser, semantics in
    // the asof_* ON-clause markers, conversion in the post-hoc rule
    // (graft.plans.AsOfSql)
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    e.injectPostHocResolutionRule(_ => graft.plans.AsOfSqlRule)
    e.injectOptimizerRule(_ => graft.plans.AsOfFilterPushdown)
    e.injectOptimizerRule(_ => graft.plans.AsOfColumnPruning)
    GraftExtensions.functionSpecs.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.package", name), builder))
    }
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.IntegerType

  /** Tuning parameters (k, bands, ...) are INT LITERALS in SQL — they
    * parameterize the kernel, they are not per-row data. Optional with
    * the same defaults as the Scala column API.
    */
  private def intArg(xs: Seq[Expression], i: Int, default: Int, fn: String): Int =
    if (xs.length <= i) default
    else xs(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INT literal, got $other")
    }

  /** The complete SQL surface — every kernel the Scala column API
    * exposes (q29's whole dedup pipeline runs as pure SQL; see
    * ScaleSpec). `best_cell`/`top_cells`/`nearest_cell` are
    * deliberately absent: their centroid/codebook matrix is an index
    * artifact bound at plan-build time, not a SQL-expressible literal.
    */
  private[graft] val functionSpecs: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "fuzz_ratio" -> (xs => FuzzRatioExpr(xs.head, xs(1))),
    "ascii_fold" -> (xs => AsciiFoldExpr(xs.head)),
    "sim_hash" -> (xs => SimHashExpr(xs.head)),
    "doc_fingerprint" -> (xs =>
      DocFingerprintExpr(xs.head, intArg(xs, 1, 8, "doc_fingerprint"))),
    "min_hash" -> (xs => MinHashExpr(xs.head, intArg(xs, 1, 3, "min_hash"))),
    "min_hash_bands" -> (xs => MinHashBandsExpr(xs.head,
      intArg(xs, 1, 3, "min_hash_bands"),
      intArg(xs, 2, 16, "min_hash_bands"),
      intArg(xs, 3, 4, "min_hash_bands"))),
    "min_hash_bands_words" -> (xs => MinHashBandsWordsExpr(xs.head,
      intArg(xs, 1, 3, "min_hash_bands_words"),
      intArg(xs, 2, 16, "min_hash_bands_words"),
      intArg(xs, 3, 4, "min_hash_bands_words"))),
    "gram_set" -> (xs => GramSetExpr(xs.head, intArg(xs, 1, 3, "gram_set"))),
    "jaccard_sorted" -> (xs => JaccardSortedExpr(xs.head, xs(1))),
    "sorted_inter_atleast" -> (xs => SortedInterAtLeastExpr(xs.head, xs(1), xs(2))),
    "jaccard_grams" -> (xs =>
      JaccardGramsExpr(xs.head, xs(1), intArg(xs, 2, 3, "jaccard_grams"))),
    "cosine_sim" -> (xs => CosineSimExpr(xs.head, xs(1))),
    "dot_i64" -> (xs => DotI64Expr(xs.head, xs(1))),
    "poly31_bucket" -> (xs => Poly31BucketExpr(xs.head,
      intArg(xs, 1, 1000003, "poly31_bucket").toLong,
      intArg(xs, 2, 256, "poly31_bucket"))),
    "srp_code_i64" -> (xs => SrpCodeExpr(xs.head,
      intArg(xs, 1, 16, "srp_code_i64"))),
    "maxsim_i64" -> (xs => MaxSimExpr(xs.head, xs(1))),
    "lsh_buckets" -> (xs => LshBucketsExpr(xs.head,
      intArg(xs, 1, 6, "lsh_buckets"), intArg(xs, 2, 12, "lsh_buckets"))),
    "cdc_chunks" -> (xs => CdcChunksExpr(xs.head,
      intArg(xs, 1, 8, "cdc_chunks"), intArg(xs, 2, 16, "cdc_chunks"))),
    "winnow_set" -> (xs => WinnowSetExpr(xs.head,
      intArg(xs, 1, 20, "winnow_set"), intArg(xs, 2, 8, "winnow_set"))),
    "top_k_by" -> (xs => TopKByAgg(xs.head, xs(1),
      intArg(xs, 2, 3, "top_k_by")).toAggregateExpression()),
    "ngrams" -> (xs => NGramsGenerate(xs.head, intArg(xs, 1, 3, "ngrams"))),
    "be_int" -> (xs => BeIntExpr(xs.head, intArg(xs, 1, 0, "be_int"))),
    "le_int" -> (xs => LeIntExpr(xs.head, intArg(xs, 1, 0, "le_int"))),
    "le_short" -> (xs => LeShortExpr(xs.head, intArg(xs, 1, 0, "le_short"))),
    "pcm_samples" -> (xs => PcmSamplesExpr(xs.head, intArg(xs, 1, 44, "pcm_samples"))),
    "heavy_hitters" -> (xs => HeavyHittersAgg(xs.head,
      intArg(xs, 1, 64, "heavy_hitters")).toAggregateExpression()),
    "asof_backward" -> graft.plans.AsOfMatch.builder("backward") _,
    "asof_forward" -> graft.plans.AsOfMatch.builder("forward") _,
    "asof_nearest" -> graft.plans.AsOfMatch.builder("nearest") _)
}
