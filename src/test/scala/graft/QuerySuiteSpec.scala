package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end checks of every SparkEntry query at sf0.001, plus golden
  * assertions on a few — the DuckDB hash-compare runs driver-side
  * (tools/local_verify.py locally); these specs pin structure and
  * selected values so `sbt test` alone catches regressions.
  */
class QuerySuiteSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  test("every declared query has rows and a deterministic first row") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val rows = df.limit(5).collect()
      // q12/q13 can legitimately be empty (anti-join / except at tiny SF)
      if (!Set("q12_anti_join", "q13_except").contains(name)) {
        assert(rows.nonEmpty, s"$name returned no rows")
      }
      val again = fn(spark, sf).limit(5).collect()
      assert(rows.sameElements(again), s"$name is nondeterministic")
    }
  }

  test("every oracle key has a matching query (driver contract)") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql without queries: $dangling")
  }

  test("query registry is complete (no silent key collisions)") {
    import graft.operators._
    val expected = Relational.queries.size + TextOps.queries.size +
      Dedup.queries.size + Similarity.queries.size +
      Pipelines.queries.size + Extras.queries.size + Training.queries.size +
      Curation.queries.size + Analytics.queries.size + GraphOps.queries.size
    assert(SparkEntry.queries.size == expected,
      s"map-merge lost keys: ${SparkEntry.queries.size} != $expected")
    assert(SparkEntry.queries.size == 199)
    assert(SparkEntry.oracleSql.size == 193) // 6 rows-only by design (all approximate/recall-pinned)
  }

  test("entry() flagship smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q06 global avg returns one row, positive") {
    val r = SparkEntry.queries("q06_global_avg")(spark, sf).collect()
    assert(r.length == 1 && r(0).getDouble(0) > 0)
  }

  test("q07 topk is 10 rows strictly descending") {
    val prices = SparkEntry.queries("q07_topk")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("q61 sketches stay within error bounds of the exact answers") {
    import org.apache.spark.sql.functions._
    val sk = SparkEntry.queries("q61_sketch_stats")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ex = Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("nd"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(sk.keySet == ex.keySet && sk.nonEmpty)
    ex.foreach { case (k, (nd, p50)) =>
      val (and, ap50) = sk(k)
      // HLL++ default rsd is 5%; quantile summary accuracy 1/1000
      assert(math.abs(and - nd).toDouble / nd <= 0.15, s"$k distinct: $and vs $nd")
      assert(math.abs(ap50 - p50) / p50 <= 0.05, s"$k p50: $ap50 vs $p50")
    }
    // EXACT-value pins (round-15 VERDICT #5, the ANN-recall-equality
    // pattern): HLL++ register merge is commutative and the quantile
    // summary is a deterministic function of the data, so at this
    // fixture the estimates are exact numbers — an estimator
    // regression inside the error bounds now fails loudly too.
    val pinned = Map(
      "1-URGENT" -> (133L, 237264.23),
      "2-HIGH" -> (123L, 227353.48),
      "3-MEDIUM" -> (130L, 274940.06),
      "4-NOT SPECIFIED" -> (126L, 248648.08),
      "5-LOW" -> (137L, 276574.31))
    assert(sk == pinned, s"q61 sketch values drifted: $sk (pinned $pinned)")
  }

  test("q146 sketch-mode card tracks the exact card (the 100 TB percentile path)") {
    // exact = false swaps the card's only corpus-sized sort (the
    // per-source percentile window) for the GK quantile summary —
    // everything else is the same plan. Pin: non-percentile columns
    // bit-equal, percentile columns within 2% (rank error n/10000 is
    // sub-1-rank at this SF, but the pin stays relative so a bigger
    // fixture doesn't flake).
    def card(exact: Boolean): Map[String, Seq[Any]] =
      graft.operators.Curation.datasetCard(spark, sf, exact).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val (ex, sk) = (card(true), card(false))
    assert(ex.keySet == sk.keySet && ex.nonEmpty)
    ex.foreach { case (src, exRow) =>
      val skRow = sk(src)
      // columns: n_docs, n_tokens, dup_docs, gini_x1000, p50, p90
      assert(exRow.take(4) == skRow.take(4), s"$src non-percentile drift")
      Seq(4, 5).foreach { i =>
        val (e, s) = (exRow(i).toString.toDouble, skRow(i).toString.toDouble)
        assert(math.abs(s - e) / e <= 0.02, s"$src col $i: sketch $s vs exact $e")
      }
    }
  }

  test("q183: l-diversity criteria equal a driver-side replay of the cells") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q183_l_diversity")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val cells = Tables.load(spark, sf, "customer")
      .select(col("c_nationkey"), floor(col("c_acctbal") / 5000).cast("long"),
        col("c_mktsegment"))
      .collect().map(r => ((r.getAs[Number](0).longValue, r.getLong(1)), r.getString(2)))
    val ref = cells.groupBy(_._1).map { case (qi, rows) =>
      val bySeg = rows.groupBy(_._2).map(_._2.size.toLong)
      val (k, l, m1) = (bySeg.sum, bySeg.size.toLong, bySeg.max)
      qi -> (k, l, m1 * 1000 / k, l >= 3 && m1 < 2 * (k - m1))
    }
    assert(got.keySet == ref.keySet && got.nonEmpty)
    ref.foreach { case (qi, r) => assert(got(qi) == r, s"QI $qi: ${got(qi)} vs $r") }
  }

  test("q184: MI replay in quantized BigDecimal; 0 <= MI <= H(lang), U in [0,1]") {
    import org.apache.spark.sql.functions._
    val Seq(row) = SparkEntry.queries("q184_mutual_info")(spark, sf)
      .collect().toSeq
    val (n, mi, hl, u) = (row.getLong(0), row.getDouble(3), row.getDouble(4),
      row.getDouble(5))
    val cells = Tables.load(spark, sf, "documents")
      .groupBy(col("source"), col("lang")).count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import java.math.{BigDecimal => JBD, MathContext, RoundingMode}
    def lnq(x: Long): JBD =
      new JBD(math.log(x.toDouble), MathContext.DECIMAL128)
        .setScale(6, RoundingMode.HALF_UP)
    val cs = cells.groupBy(_._1).map { case (s, r) => s -> r.map(_._3).sum }
    val cl = cells.groupBy(_._2).map { case (l, r) => l -> r.map(_._3).sum }
    val nRef = cells.map(_._3).sum
    assert(n == nRef)
    var miSum = JBD.ZERO
    cells.foreach { case (s, l, c) =>
      val t = lnq(c).add(lnq(nRef)).subtract(lnq(cs(s))).subtract(lnq(cl(l)))
      miSum = miSum.add(new JBD(c).multiply(t))
    }
    var hlSum = JBD.ZERO
    cl.values.foreach(c => hlSum = hlSum.add(new JBD(c).multiply(lnq(c))))
    val miRef = miSum.doubleValue / n
    val hRef = lnq(nRef).doubleValue - hlSum.doubleValue / n
    assert(math.abs(mi - miRef) < 5e-7, s"MI $mi vs $miRef")
    assert(math.abs(hl - hRef) < 5e-7, s"H $hl vs $hRef")
    assert(math.abs(u - miRef / hRef) < 5e-7)
    // 6-dp quantization slack on the information inequalities
    assert(mi >= -1e-4 && mi <= hl + 1e-4, s"MI $mi outside [0, H=$hl]")
    assert(u >= -1e-4 && u <= 1 + 1e-4)
  }

  test("q185: segment scrub equals a driver-side replay; fixture has boilerplate") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q185_segment_scrub")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val segRows = docs.flatMap { case (id, src, text) =>
      val ws = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      ws.grouped(10).map(g => (id, src, g.mkString(" "), g.length.toLong)).toSeq
    }
    val dfBySeg = segRows.groupBy(_._3)
      .map { case (s, rs) => s -> rs.map(_._1).distinct.size }
    val ref = segRows.groupBy(_._2).map { case (src, rs) =>
      val tot = rs.map(_._4).sum
      val kept = rs.filter(r => dfBySeg(r._3) < 3).map(_._4).sum
      src -> (rs.map(_._1).distinct.size.toLong, rs.size.toLong,
        rs.count(r => dfBySeg(r._3) >= 3).toLong, tot, kept, kept * 1000 / tot)
    }
    assert(got == ref && got.nonEmpty)
    assert(got.values.map(_._3).sum > 0, "fixture should contain boilerplate segments")
  }

  test("q191: cross-segment scrub equals a driver-side double-grid replay") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q191_cross_segment_scrub")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // (doc, source, seg, grid): grid 0 = grouped(10); grid 1 = the
    // same grouping after dropping the first 5 words (starts 6, 16, …)
    val segRows = docs.flatMap { case (id, src, text) =>
      val ws = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val g0 = ws.grouped(10).map(g => (id, src, g.mkString(" "), 0)).toSeq
      val g1 = if (ws.length >= 6)
        ws.drop(5).grouped(10).map(g => (id, src, g.mkString(" "), 1)).toSeq
      else Seq.empty
      g0 ++ g1
    }
    val dfBySeg = segRows.groupBy(_._3)
      .map { case (s, rs) => s -> rs.map(_._1).distinct.size }
    val ref = segRows.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((id, src), rs) =>
        val dup = rs.filter(r => dfBySeg(r._3) >= 3)
        (src, rs.size.toLong, dup.size.toLong,
          if (dup.exists(_._4 == 0)) 1L else 0L,
          if (dup.nonEmpty) 1L else 0L)
      }
      .groupBy(_._1).map { case (src, ds) =>
        src -> (ds.size.toLong, ds.map(_._2).sum, ds.map(_._3).sum,
          ds.map(_._4).sum, ds.map(_._5).sum,
          ds.count(d => d._5 == 1L && d._4 == 0L).toLong)
      }
    assert(got == ref && got.nonEmpty)
    // per-source identity: any = g0-caught + straddle-only
    got.values.foreach { case (_, _, _, g0, any, straddle) =>
      assert(any == g0 + straddle)
    }
    assert(got.values.map(_._3).sum > 0, "fixture should contain boilerplate")
  }

  test("q191 catches a boundary-straddling duplicated span that q185 misses") {
    import spark.implicits._
    // a 15-word span duplicated across 3 docs at word positions 2-16:
    // neither grid-0 block overlapping it (1-10 and 11-20) is pure —
    // each mixes per-doc filler — but grid-1's 6-15 block sits wholly
    // inside the span and is identical in all three docs. (A grid-0
    // start b in {1, 11, 21, …} is inside [s, s+5] only when s mod 10
    // is in {6, …, 10, 1}; s = 2 avoids that while keeping grid-1's
    // b = 6 in range.)
    val span = (1 to 15).map(i => s"dup$i")
    val mk = (id: Long) =>
      (id, "t", (Seq(s"u$id") ++ span ++
        (1 to 9).map(i => s"v${id}w$i")).mkString(" "))
    val docs = Seq(mk(1L), mk(2L), mk(3L)).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_q191_").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q191_cross_segment_scrub")(spark, dir)
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getLong(6))).head
    assert(out == ((0L, 3L, 3L)),
      s"expected all 3 docs caught only by the offset grid, got $out")
  }

  test("q197 exact truth validates the q192 winnowing guarantee: every exact >= 15-word x >= 3-doc run is winnow-flagged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // exact ground truth, recomputed at the q192 threshold (df >= 3
    // distinct docs per duplicated 15-gram — q197 itself censuses at
    // df >= 2): docs carrying a word-15-gram shared with >= 2 others
    val grams = Tables.load(spark, sf, "documents")
      .select($"doc_id",
        expr("filter(split(lower(trim(text)), '\\s+'), x -> length(x) > 0)")
          .as("ws"))
      .where(size($"ws") >= 15)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(ws) - 14)," +
          " i -> concat_ws(' ', slice(ws, i, 15)))")).as("g"))
    val dup3 = grams.groupBy($"g")
      .agg(countDistinct($"doc_id").as("df")).where($"df" >= 3)
    val exactDocs = grams.join(dup3, "g").select($"doc_id").distinct()
      .as[Long].collect().toSet
    assert(exactDocs.nonEmpty, "fixture has no >= 3-doc duplicated runs")
    // q192's doc-grain flags (the selection + df >= 3 rule the scrub
    // aggregates per source)
    val sel = graft.operators.Dedup.winnowSel(
      Tables.load(spark, sf, "documents"))
    val fdf = sel.groupBy($"fp").agg(count(lit(1)).as("df"))
    val flagged = sel.join(fdf.where($"df" >= 3), "fp")
      .select($"doc_id").distinct().as[Long].collect().toSet
    // the SIGMOD'03 guarantee (K = k + w - 1 = 15, arbitrary
    // alignment): every doc in the exact truth must be flagged
    val missed = exactDocs.diff(flagged)
    assert(missed.isEmpty,
      s"winnowing guarantee violated for docs ${missed.take(5)}")
  }

  test("q186/q187: LM-quality and DSIR feature counts agree; buckets disjoint") {
    import org.apache.spark.sql.functions._
    val lm = SparkEntry.queries("q186_lm_quality")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toMap
    val ds = SparkEntry.queries("q187_dsir_weights")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(lm.keySet == ds.keySet && lm.nonEmpty)
    // both walk the same bigram stream: per-source feature counts equal
    lm.foreach { case (src, (nDocs, nBi, nll, head, tail)) =>
      val (dDocs, dFeats, dSel) = ds(src)
      assert(dDocs == nDocs && dFeats == nBi, s"$src stream drift")
      assert(head + tail <= nDocs, s"$src head/tail overlap")
      assert(dSel <= nDocs)
      assert(nll > 0 && nll < 20, s"$src nll $nll out of range")
    }
    // the en-trained LM must score the corpus better than uniform over V
    val v = Tables.load(spark, sf, "documents").where(col("lang") === "en")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .where(length(col("w")) > 0).agg(countDistinct(col("w"))).head.getLong(0)
    val wNll = lm.values.map { case (_, nb, nll, _, _) => nb * nll }.sum /
      lm.values.map(_._2).sum
    assert(wNll < math.log(v.toDouble + 1), s"mean NLL $wNll vs uniform ${math.log(v + 1.0)}")
  }

  test("q188: t-closeness equals an exact BigInt driver replay") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q188_t_closeness")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val ocnt = Tables.load(spark, sf, "orders").groupBy(col("o_custkey"))
      .count().collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") / 5000).cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getAs[Number](1).longValue, r.getLong(2),
        r.getString(3), ocnt.getOrElse(r.getAs[Number](0).longValue, 0L)))
    val n = BigInt(base.length)
    val values = base.map(_._4).distinct.sorted
    val m = BigInt(values.length)
    val gCum = values.map(v => v -> BigInt(base.count(_._4 <= v))).toMap
    val gSeg = base.groupBy(_._3).map { case (s, r) => s -> BigInt(r.size) }
    val ref = base.groupBy(b => (b._1, b._2)).map { case (qi, rows) =>
      val ng = BigInt(rows.size)
      val emdNum = values.map(v =>
        (BigInt(rows.count(_._4 <= v)) * n - gCum(v) * ng).abs).sum
      val present = rows.groupBy(_._3).map { case (s, r) => s -> BigInt(r.size) }
      val catNum = present.map { case (s, cg) => (cg * n - gSeg(s) * ng).abs }.sum +
        (n - present.keysIterator.map(gSeg).sum) * ng
      val tOrd = emdNum * 1000000 / ((m - 1) * ng * n)
      val tCat = catNum * 1000000 / (2 * ng * n)
      qi -> (ng.toLong, tOrd.toLong, tCat.toLong,
        tOrd <= 150000 && tCat <= 200000)
    }
    assert(got.keySet == ref.keySet && got.size == ref.size && got.nonEmpty)
    ref.foreach { case (qi, r) => assert(got(qi) == r, s"QI $qi: ${got(qi)} vs $r") }
    // fixture exercises both outcomes of the flag
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  test("q189: Hamilton quotas sum to K exactly and sit within 1 of proportional") {
    val rows = SparkEntry.queries("q189_quota_alloc")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val k = 1000L
    val tt = rows.map(_._2).sum
    assert(rows.map(_._3).sum == k, "quotas must sum to the budget exactly")
    rows.foreach { case (src, toks, quota) =>
      val base = k * toks / tt
      assert(quota == base || quota == base + 1, s"$src quota $quota vs floor $base")
    }
  }

  test("q190: Good-Turing/Chao1 equals a driver replay; estimates are sane") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q190_vocab_coverage")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val grams = Tables.load(spark, sf, "documents")
      .select(col("source"), col("text")).collect().flatMap { r =>
        val ws = r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        ws.sliding(2).filter(_.length == 2).map(g => (r.getString(0), g.mkString(" ")))
      }
    val ref = grams.groupBy(_._1).map { case (src, gs) =>
      val counts = gs.groupBy(_._2).map(_._2.size.toLong)
      val (n, v) = (counts.sum, counts.size.toLong)
      val n1 = counts.count(_ == 1L).toLong
      val n2 = counts.count(_ == 2L).toLong
      src -> (n, v, n1, n2, n1 * 1000000L / n, v + n1 * (n1 - 1) / (2 * (n2 + 1)))
    }
    assert(got == ref && got.nonEmpty)
    got.values.foreach { case (n, v, n1, n2, unseen, chao1) =>
      assert(n1 + 2 * n2 <= n && chao1 >= v && unseen <= 1000000L)
    }
  }

  test("q70 merged daily sketches equal the direct sketch and track exact") {
    import org.apache.spark.sql.functions._
    val merged = SparkEntry.queries("q70_sketch_merge")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // HLL union is lossless at the sketch level: merging per-day
    // sketches must give EXACTLY the estimate of sketching directly
    val direct = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == direct.keySet && merged.nonEmpty)
    merged.foreach { case (k, v) => assert(v == direct(k), s"$k: $v != ${direct(k)}") }
    // and the estimate tracks the exact distinct count
    val exact = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, nd) =>
      assert(math.abs(merged(k) - nd).toDouble / nd <= 0.05,
        s"$k: sketch ${merged(k)} vs exact $nd")
    }
    // EXACT-value pin (round-15 VERDICT #5): the DataSketches HLL
    // estimate is deterministic — on this fixture every type's 15
    // distinct users resolve exactly (sparse mode is exact at this
    // cardinality). Estimator drift now fails loudly, not just a
    // >5% excursion.
    val pinnedUsers = Map("click" -> 15L, "error" -> 15L,
      "purchase" -> 15L, "signup" -> 15L, "view" -> 15L)
    assert(merged == pinnedUsers,
      s"q70 merged estimates drifted: $merged (pinned $pinnedUsers)")
  }

  test("q23 fuzzy matches recover every corrupted nation name") {
    val rows = SparkEntry.queries("q23_fuzzy_topk")(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val kw = r.getString(0); val matched = r.getString(1)
      assert(matched.replaceAll("[aeiou]", "") == kw,
        s"'$kw' matched wrong candidate '$matched'")
      assert(r.getDouble(2) >= 70.0)
    }
  }

  test("q29 minhash-LSH pairs all have jaccard >= 0.8") {
    val rows = SparkEntry.queries("q29_dedup_minhash")(spark, sf).collect()
    assert(rows.nonEmpty) // planted near-dups exist at every SF
    rows.foreach(r => assert(r.getDouble(2) >= 0.8))
  }

  test("q32 exact knn: 3 neighbors per query, ranks 1..3") {
    val rows = SparkEntry.queries("q32_knn_exact")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.values.foreach(g => assert(g.map(_.getInt(2)).sorted.sameElements(Array(1, 2, 3))))
  }

  test("q34 real PNG decode agrees with the byte-level header parse on every row") {
    val df = SparkEntry.queries("q34_multimodal_meta")(spark, sf)
    assert(df.schema.fieldNames.sameElements(Array(
      "doc_id", "width", "height", "gray", "header_width", "header_height", "format")))
    // the javax.imageio decode and the be_int IHDR parse must agree
    assert(df.where("width <> header_width OR height <> header_height").count() == 0)
    assert(df.where("width < 1 OR height < 1 OR gray < 0 OR gray > 255").count() == 0)
    assert(df.where("format <> 'png'").count() == 0)
  }

  test("SQL surface: registered custom functions work in spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT fuzz_ratio('abcd','abed') AS f, ascii_fold('Björk') AS a").collect()(0)
    assert(r.getDouble(0) == 75.0 && r.getString(1) == "Bjork")
  }
}
