package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization pins: the codegen kernels that replaced
  * interpreted HOF chains in query hot paths (guide §4) must be
  * BIT-IDENTICAL to the SQL expressions they replaced — these tests
  * evaluate both side by side in one Spark session over adversarial
  * inputs (negative values, Long-overflow magnitudes, multi-byte
  * UTF-8) so a semantic drift in either the kernel or a future Spark
  * upgrade of the SQL builtins fails loudly.
  */
class KernelEqualitySpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  test("dot_i64 equals the aggregate(zip_with(...)) HOF fold it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // q148-contract magnitudes only (|x| <= 1e6 quantized, 64 dims —
    // the overflow-freedom bound documented at Similarity.quantized
    // and pinned in SimilaritySpec): under Spark 4's default ANSI
    // mode the HOF's Long multiply THROWS on overflow while the
    // kernel wraps, so out-of-contract magnitudes are not an
    // equivalence domain — inputs violating the bound fail loudly in
    // SimilaritySpec before either path runs
    def vec(scale: Long) = Array.fill(64)(
      (rnd.nextLong() % scale) * (if (rnd.nextBoolean()) 1 else -1))
    val rows = (1 to 200).map(_ => (vec(1000000L), vec(1000000L)))
    val df = rows.toDF("a", "b")
      .withColumn("hof", expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, d) -> acc + d)"))
      .withColumn("kern", graft.functions.GraftFunctions.dot_i64($"a", $"b"))
    assert(df.where($"hof" =!= $"kern").isEmpty,
      df.where($"hof" =!= $"kern").collect().take(3).mkString("\n"))
  }

  test("l2sq_i64 equals the per-centroid aggregate(zip_with(...)) fold it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(
      (rnd.nextLong() % 1000000L) * (if (rnd.nextBoolean()) 1 else -1))
    val cent = vec()
    val df = (1 to 200).map(_ => Tuple1(vec())).toDF("q")
      .withColumn("hof", expr(
        s"aggregate(zip_with(q, array(${cent.mkString("L,")}L), " +
          "(x, y) -> (x - y) * (x - y)), 0L, (acc, d) -> acc + d)"))
      .withColumn("kern", graft.functions.GraftFunctions.l2sq_i64($"q", cent))
    assert(df.where($"hof" =!= $"kern").isEmpty,
      df.where($"hof" =!= $"kern").collect().take(3).mkString("\n"))
  }

  test("srp_code_i64 equals the 16 per-bit aggregate(sequence(...)) folds it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // q136-contract magnitudes (ROUND(x * 1e6) over |x| <= ~1 embedding
    // components, 64 dims): projections stay far from Long overflow
    def vec(n: Int) = Array.fill(n)(
      (rnd.nextLong() % 1000000L) * (if (rnd.nextBoolean()) 1 else -1))
    // varied lengths: the fold runs sequence(1, size(sv)) — the kernel
    // must track the actual array length, not assume 64
    val rows = (1 to 150).map(i => Tuple1(vec(1 + (i % 80)))) :+
      Tuple1(Array(0L)) :+ Tuple1(Array(1000000L)) :+ Tuple1(Array(-1L, 1L))
    val projs = (0 until 16).map { b =>
      s"""aggregate(sequence(1, size(sv)), CAST(0 AS BIGINT),
         |(acc, i) -> acc + sv[i - 1] *
         |  (CASE WHEN (($b * 2654435761 + i * 40503) % 97) % 2 = 0
         |        THEN 1 ELSE -1 END))""".stripMargin.replace("\n", " ")
    }
    val codeExpr = projs.zipWithIndex
      .map { case (p, b) => s"(CASE WHEN ($p) > 0 THEN ${1L << b} ELSE 0 END)" }
      .mkString(" + ")
    // null elements: every per-bit fold turns NULL, so the SQL code
    // is 0 — compared null-safely, as a NULL on either side must match
    val withNulls = Seq(Seq(Some(5L), None, Some(-3L)), Seq(None),
      Seq(Some(1000000L), Some(-7L), None)).map(Tuple1(_)).toDF("sv")
    val df = rows.toDF("sv").union(withNulls)
      .withColumn("sql", expr(s"CAST($codeExpr AS BIGINT)"))
      .withColumn("kern", graft.functions.GraftFunctions.srp_code_i64($"sv", 16))
    assert(df.where(!($"sql" <=> $"kern")).isEmpty,
      df.where(!($"sql" <=> $"kern")).select("sv", "sql", "kern")
        .collect().take(3).mkString("\n"))
  }

  test("maxsim_i64 equals the nested aggregate/array_max/transform fold it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    // q143-contract: 64-element arrays (8 sub-vectors x 8 dims) at the
    // FLOOR(x * 1e6) quantized scale; ties between sub-vector dots
    // exercise array_max vs running-max agreement
    def vec() = Array.fill(64)(
      (rnd.nextLong() % 1000000L) * (if (rnd.nextBoolean()) 1 else -1))
    val tied = Array.fill(64)(7L) // every sub-dot equal — max of ties
    val rows = (1 to 150).map(_ => (vec(), vec())) :+
      ((tied, tied)) :+ ((vec(), Array.fill(64)(0L)))
    val maxsim =
      """aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, i) -> acc +
        |  array_max(transform(sequence(0, 7), j ->
        |    aggregate(sequence(0, 7), CAST(0 AS BIGINT),
        |      (a, t) -> a + qq[i * 8 + t] * dq[j * 8 + t]))))""".stripMargin
        .replace("\n", " ")
    // null elements: a null in a query sub-vector nulls the total; a
    // null in a doc sub-vector drops that sub-vector from array_max;
    // nulls in every doc sub-vector null the total
    def holes(v: Array[Long], at: Int*) =
      v.toSeq.zipWithIndex.map { case (x, k) => if (at.contains(k)) None else Some(x) }
    val withNulls = Seq(
      (holes(vec(), 13), holes(vec())),
      (holes(vec()), holes(vec(), 17)),
      (holes(vec()), holes(vec(), 3, 60)),
      (holes(vec()), holes(vec(), (0 until 8).map(_ * 8 + 5): _*)),
      (holes(vec(), 0, 63), holes(vec(), 8))).toDF("qq", "dq")
    val df = rows.toDF("qq", "dq").union(withNulls)
      .withColumn("sql", expr(s"CAST(($maxsim) AS BIGINT)"))
      .withColumn("kern", graft.functions.GraftFunctions.maxsim_i64($"qq", $"dq"))
    assert(df.where(!($"sql" <=> $"kern")).isEmpty,
      df.where(!($"sql" <=> $"kern")).select("sql", "kern")
        .collect().take(3).mkString("\n"))
    // fewer than 64 elements on either side: NULL, never a read past
    // the end (the fold itself fails there under ANSI)
    val short = Seq((vec().take(63), vec()), (vec(), vec().take(8)),
      (Array.empty[Long], Array.empty[Long])).toDF("qq", "dq")
      .select(graft.functions.GraftFunctions.maxsim_i64($"qq", $"dq").as("kern"))
    assert(short.where($"kern".isNotNull).isEmpty,
      short.collect().mkString("\n"))
  }

  test("poly31_bucket equals the per-character SQL fold it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ascii = (1 to 150).map(_ =>
      (1 to (1 + rnd.nextInt(30))).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    // multi-byte UTF-8: ascii('é') reads the lead byte — the kernel
    // must agree on 2-, 3- and 4-byte code points too
    val uni = Seq("héllo wörld", "naïve café", "日本語 テスト", "emoji 🙂 pair",
      "mixed ascii ünd 中文", "ß", "𝔘𝔫𝔦", "a", " ")
    val df = (ascii ++ uni).toDF("f")
      .withColumn("sql", expr(
        "aggregate(sequence(1, length(f)), 0L," +
          " (h, i) -> (h * 31 + ascii(substring(f, i, 1))) % 1000003) % 256"))
      .withColumn("kern",
        graft.functions.GraftFunctions.poly31_bucket($"f", 1000003L, 256))
    assert(df.where($"sql" =!= $"kern").isEmpty,
      df.where($"sql" =!= $"kern").select("f", "sql", "kern")
        .collect().take(5).mkString("\n"))
  }
}
