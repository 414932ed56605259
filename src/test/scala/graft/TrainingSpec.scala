package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Training}

/** Training-pipeline operator invariants (q77-q85) that the DuckDB
  * hash-match cannot express: graph-algorithm correctness on synthetic
  * shapes, Bloom no-false-negative guarantees, quantization bounds.
  */
class TrainingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  test("connectedComponents: chain + separate clique + bridge ordering") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter > 1 exercises multi-round propagation),
    // pair 10-11, and a triangle 20-21-22 reached via a bridge from 23
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (21L, 20L), (21L, 22L), (20L, 22L), (22L, 23L)).toDF("a", "b")
    val got = Training.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("two-phase CC equals hash-min on a random multi-component graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: 120 nodes, edges from an LCG
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(90)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val hm = Training.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tp = Training.connectedComponentsTwoPhase(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tp == hm)
  }

  test("two-phase CC converges on a deep path where hash-min hits its cap") {
    import spark.implicits._
    // path 0-1-2-...-30: diameter 30 needs ~30 hash-min rounds, so a
    // 10-round cap must fail LOUDLY (the round-4 advice fix) while the
    // two-phase contraction converges in O(log n) alternations
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Training.connectedComponents(path, maxRounds = 10).collect()
    }
    val tp = Training.connectedComponentsTwoPhase(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tp == (0L to 30L).map(_ -> 0L).toMap)
  }

  test("q77: every q29 pair lands in one component; labels are minima") {
    import spark.implicits._
    val comp = SparkEntry.queries("q77_dedup_clusters")(spark, sf)
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.nonEmpty)
    assert(m.forall { case (id, c) => c <= id }, "component id is a min")
    assert(m.values.toSet.forall(c => m(c) == c), "each component contains its label")
    val pairs = Dedup.q29_dedup_minhash(spark, sf)
      .select("doc_a", "doc_b").collect()
    pairs.foreach { r =>
      assert(m(r.getLong(0)) == m(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} split across components")
    }
  }

  test("CC loops release prior-iteration localCheckpoints (bounded residue)") {
    import spark.implicits._
    // a 17-node path needs 16 hash-min rounds (one hop per round) and
    // several two-phase alternations — enough iterations that a leak
    // of one checkpoint RDD per round would be visible
    val chain = (0L until 16L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.size
    Training.connectedComponents(chain).count()
    val afterHm = spark.sparkContext.getPersistentRDDs.size
    assert(afterHm - before <= 1,
      s"hash-min left ${afterHm - before} persistent RDDs (want only final labels)")
    Training.connectedComponentsTwoPhase(chain).count()
    val afterTp = spark.sparkContext.getPersistentRDDs.size
    assert(afterTp - afterHm <= 2,
      s"two-phase left ${afterTp - afterHm} persistent RDDs (want nodes + final edges)")
  }

  test("bloom: zero false negatives; false positives stay rare") {
    import spark.implicits._
    val grams = (0 until 2000).map(i => s"held out gram number $i").toDF("gram")
    val bm = typedLit(Training.buildBloom(grams))
    val hits = grams
      .where(Training.bloomHit(bm, $"gram", 0) &&
        Training.bloomHit(bm, $"gram", 1) && Training.bloomHit(bm, $"gram", 2))
      .count()
    assert(hits == 2000, "a held-out gram must always pass its own filter")
    val others = (0 until 20000).map(i => s"novel probe string $i").toDF("gram")
    val fp = others
      .where(Training.bloomHit(bm, $"gram", 0) &&
        Training.bloomHit(bm, $"gram", 1) && Training.bloomHit(bm, $"gram", 2))
      .count()
    // k=3, n=2000, m=2^20: expected fp rate ~ (3n/m)^3 ~ 2e-7
    assert(fp <= 2, s"false-positive count $fp out of 20000 is not rare")
  }

  test("q81: quantized range is [-127, 127] and the max element saturates") {
    import spark.implicits._
    val rows = SparkEntry.queries("q81_embedding_quantize")(spark, sf)
      .select($"n_dims", $"max_q", $"min_q").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == 64)
      val (mx, mn) = (r.getInt(1), r.getInt(2))
      assert(mx <= 127 && mn >= -127, s"range violated: $mn..$mx")
      assert(mx == 127 || mn == -127, "the largest-|v| element must saturate")
    }
  }

  test("q78: coverage bounded by doc length; full coverage pins md5('')") {
    import spark.implicits._
    val rows = SparkEntry.queries("q78_span_dedup")(spark, sf)
      .select($"n_words", $"n_covered", $"kept_md5").collect()
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0))
      if (r.getLong(1) == r.getLong(0))
        assert(r.getString(2) == "d41d8cd98f00b204e9800998ecf8427e",
          "fully-covered doc must reduce to the empty string")
    }
    assert(rows.exists(r => r.getLong(1) > 0), "planted dups must cover spans")
  }

  test("q84: deterministic mask count = #{p in [1, n] : p % 7 == 3}") {
    import spark.implicits._
    SparkEntry.queries("q84_mask_spans")(spark, sf)
      .select($"n_words", $"n_masked").collect().foreach { r =>
        val n = r.getLong(0)
        val expected = if (n >= 3) (n - 3) / 7 + 1 else 0
        assert(r.getLong(1) == expected, s"n=$n masked=${r.getLong(1)}")
      }
  }

  test("q128: rare term dominates ranking; scores strictly ordered") {
    import spark.implicits._
    val rows = SparkEntry.queries("q128_keyword_search")(spark, sf).collect()
    assert(rows.length == 10)
    // (rank, doc_id, n_terms, score): ranks contiguous, scores
    // non-increasing with doc_id tiebreak, every hit matched >= 1 term
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i + 1)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 2)
      assert(r.getLong(3) > 0, "a ranked doc must have positive score")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) > b.getLong(3) ||
        (a.getLong(3) == b.getLong(3) && a.getLong(1) < b.getLong(1)))
    }
    // the rare term's idf (N*1000 DIV df ~ 20000) dwarfs the common
    // term's (~1250): the top hit must contain 'dup'
    val top = rows.head.getLong(1)
    val txt = Tables.load(spark, sf, "documents")
      .where($"doc_id" === top).select($"text").collect().head.getString(0)
    assert(txt.split("\\s+").contains("dup"),
      s"top-ranked doc $top does not contain the rare query term")
  }

  test("q85: batch side and corpus side never mix") {
    import spark.implicits._
    val rows = SparkEntry.queries("q85_incremental_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 9, "new_doc must be in the new batch")
      assert(r.getLong(1) % 10 != 9, "old_doc must be in the corpus")
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("q182: RRF fusion equals the replay from its two component lists") {
    import spark.implicits._
    val got = Training.q182_hybrid_rrf(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]), r.getLong(4)))
    assert(got.length == 10 && got.map(_._1).toSeq == (1 to 10))
    // replay: rebuild both lists independently and fuse driver-side
    val kw = Training.q128_keyword_search(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val emb = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val q = emb.find(_._1 == 0).get._2.map(_.toDouble)
    def cos(v: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < v.length) {
        d += q(i) * v(i); na += q(i) * q(i); nb += v(i).toDouble * v(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val sem = emb.filter(_._1 != 0).map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val fusedRef = (kw.keySet ++ sem.keySet).toSeq.map { id =>
      val s = kw.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        sem.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    got.zip(fusedRef).foreach { case ((_, id, kwR, semR, s), (refId, refS)) =>
      assert(id == refId && s == refS, s"fusion mismatch at doc $id")
      assert(kwR == kw.get(id) && semR == sem.get(id))
    }
  }

  test("q180: soft-dedup masses equal an exact replay from the q77 clusters") {
    import spark.implicits._
    val got = Training.q180_soft_dedup(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // independent replay over the already-oracle-pinned q77 labeling
    val csize = Training.q77_dedup_clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("nt"))
      .as[(Long, String, Long)].collect()
    val ref = docs.groupBy(_._2).map { case (src, rows) =>
      val cs = rows.map { case (id, _, nt) => (nt, csize.getOrElse(id, 1L)) }
      val effDocs = cs.map { case (_, c) => 1000000L / c }.sum
      val effTok = cs.map { case (nt, c) => BigInt(nt) * 1000000 / c }.sum
      val totTok = cs.map(_._1).sum
      src -> (rows.size.toLong, cs.count(_._2 > 1).toLong, totTok,
        effDocs, effTok, effTok / totTok)
    }
    assert(got.keySet == ref.keySet)
    ref.foreach { case (src, (nd, nc, nt, ed, et, kr)) =>
      val g = got(src)
      assert(g == ((nd, nc, nt, ed, et.toLong, kr.toLong)), s"$src: $g")
    }
    // weighted doc mass is exactly Σ_members (1e6 DIV csize): each
    // size-c cluster contributes c·(1e6 DIV c) ≈ 1e6, singletons 1e6
    val totalEff = got.values.map(_._4).sum
    val expectEff = csize.values.map(1000000L / _).sum +
      (docs.length - csize.size) * 1000000L
    assert(totalEff == expectEff, s"doc mass $totalEff != $expectEff")
    assert(got.values.forall { case (ndocs, nclu, _, ed, _, _) =>
      ed == ndocs * 1000000L || nclu > 0 })
  }
}
