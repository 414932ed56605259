package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (with whole-stage codegen via static
  * kernel calls into [[TextKernels]]) for semantics Spark lacks:
  *
  *  - `fuzz_ratio`   — InDel similarity (rapidfuzz fuzz.ratio semantics;
  *                     Spark's `levenshtein` allows substitutions, so it
  *                     computes a different metric).
  *  - `ascii_fold`   — NFD-decompose + strip combining marks.
  *  - `sim_hash`     — 64-bit SimHash over whitespace tokens.
  *  - `min_hash`     — 64-long MinHash signature over char k-grams.
  *  - `jaccard_grams`— exact char-k-gram Jaccard of two strings.
  *  - `doc_fingerprint` — winnowing-style min-of-rolling-hash fingerprint.
  *  - `cosine_sim`   — deterministic (sequential double) cosine similarity
  *                     over float vectors.
  *
  * All are NullIntolerant-shaped: any null input yields null (the default
  * Unary/Binary eval path already short-circuits on null children).
  */
case class FuzzRatioExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fuzz_ratio"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.indelRatio(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.indelRatio($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class AsciiFoldExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "ascii_fold"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.asciiFold(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.asciiFold($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHashExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sim_hash"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.simHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class DocFingerprintExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "doc_fingerprint"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.docFingerprint(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.docFingerprint($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_hash"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minHash(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.minHash($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashBandsExpr(child: Expression, k: Int, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands * rowsPerBand <= 64, "bands*rowsPerBand must fit the 64-perm signature")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_hash_bands"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minHashBands(v.asInstanceOf[UTF8String], k, bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.minHashBands($c, $k, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashBandsWordsExpr(child: Expression, w: Int, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands * rowsPerBand <= 64, "bands*rowsPerBand must fit the 64-perm signature")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_hash_bands_words"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minHashBandsWords(v.asInstanceOf[UTF8String], w, bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.minHashBandsWords($c, $w, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class GramSetExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_set"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.gramSet(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.gramSet($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Set-similarity verify kernel: intersection size of two sorted
  * distinct arrays IF it reaches `need` (a per-row expression — the
  * PPJoin overlap threshold depends on the pair's sizes), else -1.
  * Element-type dispatch at plan time: long arrays (q139's token
  * ranks) or string arrays in `sort_array` binary order (q144's
  * 3-gram texts). Codegen-friendly ternary — stays inside
  * whole-stage codegen via a static kernel call.
  */
case class SortedInterAtLeastExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_inter_atleast"
  private lazy val kernel = first.dataType match {
    case ArrayType(LongType, _) => "sortedInterAtLeastLong"
    case ArrayType(StringType, _) => "sortedInterAtLeastStr"
    case other => throw new IllegalArgumentException(
      s"sorted_inter_atleast: expected array<long> or array<string>, got $other")
  }
  override protected def nullSafeEval(a: Any, b: Any, n: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val need = n.asInstanceOf[Int]
    if (kernel == "sortedInterAtLeastLong")
      TextKernels.sortedInterAtLeastLong(ad, bd, need)
    else TextKernels.sortedInterAtLeastStr(ad, bd, need)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, n) => s"graft.functions.TextKernels.$kernel($a, $b, $n)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.jaccardSorted(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class JaccardGramsExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_grams"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.jaccardGrams(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.jaccardGrams($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class LshBucketsExpr(child: Expression, nBits: Int, nTables: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.lshBuckets(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nBits, nTables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.lshBuckets($c, $nBits, $nTables)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Big-endian int32 field reader over a binary column (fixed-layout
  * header parsing — PNG IHDR dims, ISOBMFF box sizes — without any
  * codec dependency). -1 on out-of-range offsets (total function).
  */
case class BeIntExpr(child: Expression, offset: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "be_int"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.beInt(v.asInstanceOf[Array[Byte]], offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.beInt($c, $offset)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Little-endian int32 twin of [[BeIntExpr]] (RIFF/WAV, BMP — the
  * other half of real multimodal header layouts).
  */
case class LeIntExpr(child: Expression, offset: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "le_int"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.leInt(v.asInstanceOf[Array[Byte]], offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.leInt($c, $offset)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Little-endian uint16 field reader (the WAV `fmt ` chunk's format /
  * channels / block-align / bits-per-sample fields).
  */
case class LeShortExpr(child: Expression, offset: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "le_short"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.leShort(v.asInstanceOf[Array[Byte]], offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.leShort($c, $offset)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Little-endian signed-int16 PCM sample decode: the whole sample
  * stream after `offset` as array<int>, so frame/energy analysis runs
  * in Catalyst higher-order functions over ONE codegen'd kernel call
  * (vs. a per-sample le_short plan, which would need a non-foldable
  * offset inside the lambda).
  */
case class PcmSamplesExpr(child: Expression, offset: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pcm_samples"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.pcmSamples(v.asInstanceOf[Array[Byte]], offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.pcmSamples($c, $offset)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** IVF coarse-quantizer cell assignment as a map-only kernel: the
  * centroid matrix (flattened [k x dim]) rides inside the expression
  * and ships with the serialized plan to every executor — a broadcast
  * in all but name, sized k*dim doubles (8 KiB at 16x64). Replaces an
  * explode(k) + window-argmax plan that shuffled the whole corpus.
  */
case class BestCellExpr(child: Expression, cents: Array[Double], k: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "best_cell"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.bestCell(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cents, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.bestCell($c, $ref, $k)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Nearest codeword by squared L2 over a flattened [k x dim] codebook —
  * the PQ assignment kernel. Differs from [[BestCellExpr]] twice over:
  * the metric is min-distance (correct for quantization; max-dot would
  * favor large-norm codewords) and the input is an array<double>
  * (normalized subvectors), read via getDouble. Ties keep the lowest
  * codeword id.
  */
case class NearestCellExpr(child: Expression, cents: Array[Double], k: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.nearestCell(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cents, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nearestCell($c, $ref, $k)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ decode to the reconstructed float vector — codebook carried as a
  * reference object like [[BestCellExpr]]'s centroids (a 3-level nested
  * array LITERAL of the same data planned ~1s per query build; a
  * reference object is free).
  */
case class PqReconstructExpr(child: Expression, books: Array[Double],
    m: Int, sub: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "pq_reconstruct"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.pqReconstruct(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], books, m, sub, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.pqReconstruct($c, $ref, $m, $sub, $k)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Query-side IVF probe ranking: the nprobe nearest cells per vector,
  * same matrix-in-expression shape as [[BestCellExpr]].
  */
case class TopCellsExpr(child: Expression, cents: Array[Double], k: Int, nprobe: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_cells"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.topCells(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cents, k, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.topCells($c, $ref, $k, $nprobe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.cosineSim(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.cosineSim($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact BIGINT array dot product (see TextKernels.dotLong) — the
  * codegen twin of `aggregate(zip_with(a, b, x*y), 0L, acc+d)`.
  */
case class DotI64Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.dotLong(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.dotLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact BIGINT squared L2 distance against a constant centroid (see
  * TextKernels.l2sqLong) — the codegen twin of the per-centroid
  * `aggregate(zip_with(q, array(...), (x-y)*(x-y)), ...)` HOF fold.
  */
case class L2SqI64Expr(child: Expression, cent: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "l2sq_i64"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.l2sqLong(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cent)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cent", cent, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.l2sqLong($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The DSIR poly-31 feature-bucket hash (see TextKernels.poly31Bucket)
  * — the codegen twin of the per-character SQL aggregate fold.
  */
case class Poly31BucketExpr(child: Expression, mod: Long, buckets: Int)
    extends UnaryExpression {
  require(mod > 0 && buckets > 0, "poly31_bucket: mod and buckets must be positive")
  override def dataType: DataType = LongType
  override def prettyName: String = "poly31_bucket"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.poly31Bucket(v.asInstanceOf[UTF8String], mod, buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.poly31Bucket($c, ${mod}L, $buckets)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Content-defined chunk splitter (see TextKernels.cdcChunks): one
  * O(n) rolling-hash pass per document, boundaries wherever the
  * trailing w-char window hash hits the divisor — shift-invariant, so
  * embedded duplicate passages chunk identically at any offset.
  */
case class WinnowSetExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0, "winnow_set: gram size and window must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_set"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.winnowSet(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.winnowSet($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CdcChunksExpr(child: Expression, w: Int, div: Int)
    extends UnaryExpression {
  require(w > 0 && div > 0, "cdc_chunks: window and divisor must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.cdcChunks(v.asInstanceOf[UTF8String], w, div)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.cdcChunks($c, $w, $div)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The q136 SRP sketch code (see TextKernels.srpCode) — the codegen
  * twin of the 16 interpreted per-bit `aggregate(sequence(...))` HOF
  * folds (one evaluation per row replaces 16 folds + 16 sequence
  * arrays).
  */
case class SrpCodeExpr(child: Expression, nbits: Int)
    extends UnaryExpression {
  require(nbits > 0 && nbits < 63, "srp_code_i64: nbits must be in [1, 62]")
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_code_i64"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.srpCode(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nbits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.srpCode($c, $nbits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The q143 MaxSim late-interaction score (see TextKernels.maxsimLong)
  * — the codegen twin of the triple-nested
  * `aggregate(... array_max(transform(... aggregate(...))))` HOF fold
  * (512 interpreted multiplies and ~9 array allocations per pair).
  * NULL when either array holds fewer than 64 elements, and where the
  * fold is NULL on null elements.
  */
case class MaxSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "maxsim_i64"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.maxsimLong(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("maxsim")
      s"""java.lang.Long $r = graft.functions.TextKernels.maxsimLong($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level entry points + SQL registration. */
object GraftFunctions {
  private def c(e: Expression): Column = GraftBridge.column(e)
  private def e(col: Column): Expression = GraftBridge.expression(col)

  def fuzz_ratio(a: Column, b: Column): Column = c(FuzzRatioExpr(e(a), e(b)))
  def ascii_fold(a: Column): Column = c(AsciiFoldExpr(e(a)))
  def sim_hash(a: Column): Column = c(SimHashExpr(e(a)))
  def doc_fingerprint(a: Column, k: Int = 8): Column = c(DocFingerprintExpr(e(a), k))
  def min_hash(a: Column, k: Int = 3): Column = c(MinHashExpr(e(a), k))
  def min_hash_bands(a: Column, k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): Column =
    c(MinHashBandsExpr(e(a), k, bands, rowsPerBand))
  def min_hash_bands_words(a: Column, w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): Column =
    c(MinHashBandsWordsExpr(e(a), w, bands, rowsPerBand))
  def gram_set(a: Column, k: Int = 3): Column = c(GramSetExpr(e(a), k))
  def jaccard_sorted(a: Column, b: Column): Column = c(JaccardSortedExpr(e(a), e(b)))
  def sorted_inter_atleast(a: Column, b: Column, need: Column): Column =
    c(SortedInterAtLeastExpr(e(a), e(b), e(need)))
  def jaccard_grams(a: Column, b: Column, k: Int = 3): Column =
    c(JaccardGramsExpr(e(a), e(b), k))
  def cosine_sim(a: Column, b: Column): Column = c(CosineSimExpr(e(a), e(b)))
  def dot_i64(a: Column, b: Column): Column = c(DotI64Expr(e(a), e(b)))
  def l2sq_i64(a: Column, cent: Array[Long]): Column = c(L2SqI64Expr(e(a), cent))
  def poly31_bucket(a: Column, mod: Long, buckets: Int): Column =
    c(Poly31BucketExpr(e(a), mod, buckets))
  def srp_code_i64(a: Column, nbits: Int = 16): Column =
    c(SrpCodeExpr(e(a), nbits))
  def maxsim_i64(a: Column, b: Column): Column = c(MaxSimExpr(e(a), e(b)))
  def lsh_buckets(a: Column, nBits: Int = 6, nTables: Int = 12): Column =
    c(LshBucketsExpr(e(a), nBits, nTables))
  def cdc_chunks(a: Column, w: Int = 8, div: Int = 16): Column =
    c(CdcChunksExpr(e(a), w, div))
  def winnow_set(a: Column, k: Int = 20, w: Int = 8): Column =
    c(WinnowSetExpr(e(a), k, w))
  def be_int(a: Column, offset: Int): Column = c(BeIntExpr(e(a), offset))
  def le_int(a: Column, offset: Int): Column = c(LeIntExpr(e(a), offset))
  def le_short(a: Column, offset: Int): Column = c(LeShortExpr(e(a), offset))
  def pcm_samples(a: Column, offset: Int): Column = c(PcmSamplesExpr(e(a), offset))
  def best_cell(a: Column, cents: Array[Double], k: Int): Column =
    c(BestCellExpr(e(a), cents, k))
  def nearest_cell(a: Column, cents: Array[Double], k: Int): Column =
    c(NearestCellExpr(e(a), cents, k))
  def pq_reconstruct(a: Column, books: Array[Double], m: Int, sub: Int, k: Int): Column =
    c(PqReconstructExpr(e(a), books, m, sub, k))
  def top_cells(a: Column, cents: Array[Double], k: Int, nprobe: Int): Column =
    c(TopCellsExpr(e(a), cents, k, nprobe))

  /** Idempotent SQL-surface registration (`SELECT fuzz_ratio(a, b)`).
    * The name -> builder list lives in GraftExtensions.functionSpecs —
    * ONE source of truth shared with the session-extensions install
    * path, so both registration routes always expose the same surface.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functionSpecs.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
