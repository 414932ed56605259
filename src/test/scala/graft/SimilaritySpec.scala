package graft

import org.scalatest.funsuite.AnyFunSuite

/** Recall of the approximate ANN variants against the exact baseline.
  * All three run on the same deterministic data, so recall is a fixed
  * number — the assertions pin a floor, not a flaky estimate.
  */
class SimilaritySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ANN variants recover most exact neighbors (recall@3)") {
    val exact = pairs("q32_knn_exact")
    assert(exact.size == 24)
    val lsh = pairs("q33_knn_lsh")
    val ivf = pairs("q47_knn_ivf")
    val lshRecall = (exact intersect lsh).size.toDouble / exact.size
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    info(s"recall@3: lsh=$lshRecall ivf=$ivfRecall")
    // EQUALITY pins, not floors (round-14 VERDICT task #6): the data
    // and every knob are deterministic, so recall is an exact number —
    // lsh = 1.0 (Hamming-1 multiprobe; 0.458 without), ivf = 21/24 at
    // nprobe=6. A floor would let a fixed-seed regression inside it
    // pass silently; any drift in either direction now fails loudly.
    assert(ivfRecall == 21.0 / 24, s"IVF recall drifted: $ivfRecall (pinned 0.875)")
    assert(lshRecall == 1.0, s"LSH recall drifted: $lshRecall (pinned 1.0)")
    // every reported neighbor pair must still be a valid (rank<=3) set
    Seq(lsh, ivf).foreach(s => assert(s.size <= 24))
  }

  test("PQ ANN: recall@3 vs exact, and full result shape") {
    val exact = pairs("q32_knn_exact")
    val pq = pairs("q95_knn_pq")
    assert(pq.size == 24) // 8 queries x top-3, always full
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(s"recall@3: pq=$recall")
    // EQUALITY pin: 18/24 on this corpus (weakly clustered — the hard
    // case for quantization: top-3 cosine ~0.3 vs PQ reconstruction
    // noise); deterministic, so drift in either direction fails loudly
    assert(recall == 18.0 / 24, s"PQ recall drifted: $recall (pinned 0.75)")
  }

  test("embedding near-dup: IVF-blocked pairs vs the exact baseline (q58/q59)") {
    def pairSet(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("q58_dedup_embedding")
    val blocked = pairSet("q59_dedup_embedding_ivf")
    assert(exact.nonEmpty)
    // the blocked variant reports only true pairs (exact rescoring)...
    assert(blocked.subsetOf(exact))
    // ...and multi-probe blocking keeps recall useful on this weakly
    // clustered corpus (measured, deterministic)
    val recall = blocked.size.toDouble / exact.size
    info(s"embedding near-dup recall: $recall (${blocked.size}/${exact.size})")
    // EQUALITY pin: 6/7 at nprobe=3 multi-probe blocking, deterministic
    assert(recall == 6.0 / 7, s"IVF-blocked near-dup recall drifted: $recall (pinned 6/7)")
  }

  test("exhaustive twins: every approximate path cranked to exhaustive EQUALS its exact baseline row-for-row") {
    // round-13 VERDICT task #5: recall floors tolerate silent
    // degradation inside the floor; these pins do not. With the
    // approximation knob at exhaustive, the candidate set provably
    // covers everything, so blocking/dedup/rescoring plumbing bugs
    // become loud row mismatches instead of eaten recall.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val exact = rows(SparkEntry.queries("q32_knn_exact")(spark, sf))
    // LSH probing all 2^6 buckets of every table == brute force
    val lshAll = rows(graft.operators.Similarity.knnLsh(spark, sf, probeAll = true))
    assert(lshAll == exact, "exhaustive LSH != exact q32")
    // IVF probing all 16 cells == brute force
    val ivfAll = rows(graft.operators.Similarity.knnIvf(spark, sf, nprobe = 16))
    assert(ivfAll == exact, "exhaustive IVF != exact q32")
    // PQ with a corpus-sized rerank shortlist == brute force (the ADC
    // stage only orders the shortlist; the exact rerank decides)
    val pqAll = rows(graft.operators.Similarity.knnPq(spark, sf,
      shortlistK = Int.MaxValue))
    assert(pqAll == exact, "exhaustive-shortlist PQ != exact q32")
    // IVF-blocked near-dup probing all cells == exact q58 (pairs AND
    // cosines: compare the full row set)
    val dedupExact = SparkEntry.queries("q58_dedup_embedding")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dedupAll = graft.operators.Dedup.dedupEmbeddingIvf(spark, sf, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(dedupAll == dedupExact, "exhaustive IVF dedup != exact q58")
  }

  test("q117: retained fraction in (0,1]; renormed component consistent") {
    val rows = SparkEntry.queries("q117_matryoshka")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n16, n64, ret, r0) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(n16 > 0 && n64 >= n16, s"norm ordering violated: $n16 vs $n64")
      assert(ret > 0 && ret <= 1.0, s"retained out of range: $ret")
      // the renormed first component is unit-bounded by construction
      assert(math.abs(r0) <= 1.0 + 1e-12, s"renormed component |$r0| > 1")
    }
  }

  test("q148: SemDeDup drops are sound (subset of exact pairs) with pinned recall") {
    // soundness: every dropped vector is the HIGHER member of some
    // exact cos>=0.45 pair (q58's global quadratic baseline at the
    // same threshold) — within-cluster blocking may MISS pairs but
    // can never invent one
    val drops = SparkEntry.queries("q148_semdedup")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(drops.map(_._2).sum == 500, "members must partition the corpus")
    val exact = SparkEntry.queries("q58_dedup_embedding")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactHi = exact.map(_._2)
    val nDropped = drops.map(_._3).sum
    // recall floor: the planted dups are tight at sf0.001, so the
    // clustered pass must drop at least one when exact pairs exist
    // (cross-cluster pairs are the designed miss)
    if (exact.nonEmpty) assert(nDropped >= 1,
      s"exact baseline has ${exact.size} pairs but SemDeDup dropped none")
    assert(nDropped <= exactHi.size,
      "more drops than exact higher-members — blocking invented a pair")
  }

  test("embedding magnitude bound |x| <= 1 (q132/q148 overflow-freedom contract)") {
    // The quantized-integer arithmetic in Similarity.quantized()
    // (BIGINT dots, DECIMAL(38,0) products) is overflow-free only
    // while components stay within |x| <= 1 — see the scaladoc there.
    // This guard makes a larger-magnitude data vintage fail LOUDLY
    // here instead of via null-on-overflow row drops inside q148.
    import org.apache.spark.sql.functions.{expr, max}
    val mx = Tables.load(spark, sf, "embeddings")
      .select(max(
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("m"))
      .first().getDouble(0)
    assert(mx <= 1.0,
      s"embedding components reach |x|=$mx > 1: the quantized-integer " +
        "dedup arithmetic (Similarity.quantized) loses its overflow guarantee")
  }

  test("q136: pigeonhole blocking reproduces brute-force Hamming<=2 exactly") {
    import spark.implicits._
    val got = SparkEntry.queries("q136_srp_sketch")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // independent driver-side reimplementation: same scaled ints, same
    // LCG hyperplane signs, then the QUADRATIC pair scan the blocking
    // must reproduce losslessly
    val embs = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def srpCode(v: Array[Float]): Long = {
      (0 until 16).foldLeft(0L) { (code, b) =>
        var acc = 0L
        var i = 1
        while (i <= v.length) {
          val sv = BigDecimal(v(i - 1).toDouble * 1000000.0)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
          val sgn = if (((b * 2654435761L + i * 40503L) % 97) % 2 == 0) 1L else -1L
          acc += sv * sgn
          i += 1
        }
        if (acc > 0) code | (1L << b) else code
      }
    }
    val codes = embs.map { case (id, v) => (id, srpCode(v)) }
    val brute = (for {
      (ia, ca) <- codes; (ib, cb) <- codes
      if ia < ib
      h = java.lang.Long.bitCount(ca ^ cb)
      if h <= 2
    } yield (ia, ib, h)).toSet
    assert(got == brute,
      s"blocked=${got.size} brute=${brute.size}; diff=${(got diff brute).take(3)} ${(brute diff got).take(3)}")
  }
}
