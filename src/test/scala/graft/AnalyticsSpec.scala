package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

/** q98–q100 plan + semantics invariants. Value-level correctness is
  * covered by the DuckDB oracle gate; these tests pin the SHAPES the
  * scaladocs promise.
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) plan text + hash-exchange count. AQE's toString
    * appends the initial plan too — count only the final section.
    */
  private def finalPlan(df: DataFrame): (String, Int) = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    (s, "Exchange hashpartitioning".r.findAllIn(s).length)
  }

  test("q98: one hash exchange; RANGE frame sees time-tied rows symmetrically") {
    import spark.implicits._
    val df = Analytics.q98_rolling_features(spark, sf)
    val (plan, hashExchanges) = finalPlan(df)
    // exactly the user_id exchange feeding the window sort; the only
    // other exchange is the final orderBy's range partitioning
    assert(hashExchanges == 1, plan)
    assert(plan.contains("RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW")
      || plan.contains("specifiedwindowframe(RangeFrame"), plan)
    // frame invariants: every event counts at least itself, and no
    // trailing count can exceed the user's total event count
    import org.apache.spark.sql.functions.{count => fcount, lit => flit, max => fmax}
    assert(df.where($"n_24h" < 1).count() == 0)
    val perUser = df.groupBy($"user_id")
      .agg(fmax($"n_24h").as("mx"), fcount(flit(1)).as("n"))
    assert(perUser.where($"mx" > $"n").count() == 0,
      "a 24h frame reported more events than the user has")
  }

  test("layout: maxRecordsPerFile bounds every file in the partitioned write") {
    import spark.implicits._
    val stage = java.nio.file.Files
      .createTempDirectory("graft_layout_files_").toString
    val byDate = Tables.load(spark, sf, "events")
      .select($"event_id",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000"))).as("event_date"))
      .repartition($"event_date") // one task per date -> exact file math
    byDate.write.mode("overwrite").partitionBy("event_date")
      .option("maxRecordsPerFile", 100).parquet(stage)
    val dirs = new java.io.File(stage).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dirs.nonEmpty)
    val counts = byDate.groupBy($"event_date").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    dirs.foreach { d =>
      val nFiles = d.listFiles().count(_.getName.endsWith(".parquet"))
      val rows = counts(d.getName.stripPrefix("event_date="))
      val expected = ((rows + 99) / 100).toInt
      // the writer rolls to a new file every 100 records
      assert(nFiles == expected, s"${d.getName}: $nFiles files for $rows rows")
    }
  }

  test("q99: the date filter prunes to exactly the 2 selected day-partitions") {
    val df = Analytics.q99_partition_prune(spark, sf)
    df.collect()
    // QueryStageExec nodes are leaves — recurse into their plans explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case s: FileSourceScanExec => Seq(s)
      }.flatten
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.metadata.get("PartitionFilters").exists(_.contains("event_date")))
      .getOrElse(fail("no partition-filtered scan in plan:\n" +
        df.queryExecution.executedPlan))
    assert(scan.relation.partitionSchema.fieldNames.contains("event_date"))
    val selected = scan.selectedPartitions.partitionCount
    assert(selected == 2, s"expected 2 pruned partitions, scanned $selected")
  }

  test("q100: full-outer SMJ reuses the aggregates' partitioning — 2 hash exchanges total") {
    import spark.implicits._
    val df = Analytics.q100_reconcile_halves(spark, sf)
    val (plan, hashExchanges) = finalPlan(df)
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"), plan)
    // one exchange per aggregate side and NONE added by the join
    assert(hashExchanges == 2, plan)
    val statuses = df.select($"status").distinct().as[String].collect().toSet
    assert(statuses.contains("both"), statuses.toString)
  }

  test("q101: every leading-z-bit bucket is a 64x64 tile on BOTH dimensions") {
    import spark.implicits._
    val rows = Analytics.q101_zorder_layout(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minX, maxX) = (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"))
      val (minY, maxY) = (r.getAs[Long]("min_y"), r.getAs[Long]("max_y"))
      // a linear sort on x would leave y spanning the full 0..255 range
      // in every bucket; z-order bounds BOTH sides by the 64-tile
      assert(maxX - minX < 64, s"x range ${maxX - minX} in bucket $r")
      assert(maxY - minY < 64, s"y range ${maxY - minY} in bucket $r")
      assert(minX / 64 == maxX / 64 && minY / 64 == maxY / 64,
        s"bucket straddles tiles: $r")
    }
  }

  test("q104: integer PageRank conserves mass up to floor loss; hubs outrank leaves") {
    import spark.implicits._
    val rows = Analytics.q104_pagerank(spark, sf)
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_._2).sum
    // each contribution floor loses < degree(node) units per node per
    // iteration (total < |E| + 2n per iteration) — conservation holds
    // to well under 0.1% of the 1e12 mass
    assert(total <= 1000000000000L && total >= 999000000000L,
      s"mass $total outside [1e12 * 0.999, 1e12] (n=$n)")
    // suppliers (odd ids) are the bipartite hubs: best supplier rank
    // must exceed best customer rank
    val bestSupp = rows.filter(_._1 % 2 == 1).map(_._2).max
    val bestCust = rows.filter(_._1 % 2 == 0).map(_._2).max
    assert(bestSupp > bestCust)
  }

  test("q109: stage counts come free from observe metrics in ONE pass") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val observations = scala.collection.mutable.LinkedHashMap[String, Observation]()
    // materialize the LINEAR prefix once: the dedup stage's single
    // collect fires every upstream observation (the decontamination
    // stage consumes its input twice, so at scale that input is
    // persisted before fan-out — see the scaladoc)
    val linear = Scope { sc =>
      val stages = Analytics.curationStages(sc, spark, sf, (name, df) => {
        val o = Observation(s"curation_$name")
        observations(name) = o
        df.observe(o, count(lit(1)).as("n"))
      })
      val linear = stages.take(5)
      linear.last._2.collect()
      linear
    }
    val funnel = Analytics.q109_curation_pipeline(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    linear.foreach { case (name, _) =>
      val observed = observations(name).get("n").asInstanceOf[Long]
      assert(observed == funnel(name), s"$name: observed $observed != ${funnel(name)}")
    }
  }

  test("q110: decimal-moment correlation tracks Spark's built-in corr") {
    import spark.implicits._
    import org.apache.spark.sql.functions.corr
    val ours = Analytics.q110_correlation(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val builtin = Tables.load(spark, sf, "lineitem")
      .groupBy($"l_returnflag")
      .agg(corr($"l_quantity", $"l_extendedprice").as("c")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ours.keySet == builtin.keySet && ours.nonEmpty)
    ours.foreach { case (k, v) =>
      assert(math.abs(v - builtin(k)) < 1e-5, s"$k: $v vs ${builtin(k)}") // 6-dp output
      assert(v >= -1.0 && v <= 1.0)
    }
  }

  test("q113: incremental PageRank reproduces the full recompute bit-for-bit") {
    val full = Analytics.q104_pagerank(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = Analytics.q113_incremental_pagerank(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr.nonEmpty && incr == full,
      s"incremental merge diverged: ${incr.size} vs ${full.size} nodes, " +
        s"first diff ${(incr.toSet -- full.toSet).take(3)}")
  }

  test("q123: bucketed join + per-key aggregate run with zero hash exchanges") {
    import spark.implicits._
    val df = Analytics.q123_bucketed_join(spark, sf)
    val (plan, hashExchanges) = finalPlan(df)
    // both sides read pre-bucketed on the join key, the SMJ reuses the
    // bucket partitioning, and the groupBy(o_custkey, c_name) rides the
    // same clustering — the only exchange left is the presentation
    // sort's range partitioning
    assert(hashExchanges == 0, plan)
    assert(df.where($"n_orders" < 1).count() == 0)
  }

  test("q124: salted distinct equals the unsalted aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{countDistinct => fcd, count => fc, lit => fl}
    val salted = Analytics.q124_salted_distinct(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val plain = Tables.load(spark, sf, "events")
      .groupBy($"event_type")
      .agg(fcd($"user_id").as("du"), fc(fl(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // user-hash buckets partition each type's user set disjointly, so
    // summed per-bucket distincts are exact, not approximate
    assert(salted.nonEmpty && salted == plain)
  }

  test("q127: winsorized values clamp to per-type bounds, ~5% per tail") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{max, min}
    val e = Tables.load(spark, sf, "events").select($"event_id", $"value")
    val w = Analytics.q127_winsorize(spark, sf)
    val joined = w.join(e, "event_id")
      .select($"event_type", $"value", $"value_w")
    val n = joined.count()
    assert(n == e.count(), "winsorize must keep every row")
    // rows strictly inside the bounds pass through unchanged; the
    // clipped fraction is ~5% per tail (rank ceil is conservative)
    val changed = joined.where($"value" =!= $"value_w").count()
    assert(changed > 0 && changed <= (n * 12) / 100,
      s"$changed of $n rows clipped")
    // clamp is idempotent: re-winsorizing the output changes nothing
    val perType = joined.groupBy($"event_type")
      .agg(min($"value_w").as("lo"), max($"value_w").as("hi"),
        min($"value").as("rawLo"), max($"value").as("rawHi"))
    perType.collect().foreach { r =>
      val (lo, hi, rawLo, rawHi) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo >= rawLo, "clipped min must not undercut raw min")
      assert(hi <= rawHi, "clipped max must not exceed raw max")
      assert(lo < hi, "bounds must leave a nonempty interval")
    }
  }

  test("q134: BFS histogram equals a driver-side reference BFS") {
    import spark.implicits._
    val res = graft.operators.GraphOps.q134_bfs_hops(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // reference BFS over the collected pair index
    val cs = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
      .join(Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
    cs.foreach { case (c, s) => adj(c) = s :: adj(c); adj(s) = c :: adj(s) }
    val nodes = adj.keySet.toSet
    var dist = nodes.filter(n => n <= 20 && n % 2 == 0).map(_ -> 0).toMap
    var frontier = dist.keySet
    for (h <- 1 to 4) {
      val next = frontier.flatMap(adj).filterNot(dist.contains)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    val unreached = nodes.filterNot(dist.contains)
    val expect = (dist.groupBy(_._2).map { case (h, m) =>
        (h, m.size.toLong, m.keys.sum)
      }.toSeq ++
      (if (unreached.nonEmpty) Seq((-1, unreached.size.toLong, unreached.sum))
       else Nil)).sortBy(_._1)
    assert(res == expect, s"got $res, expected $expect")
  }

  test("q145: PPR mass conserves approximately and concentrates on seeds") {
    import spark.implicits._
    val Total = 1000000000000L
    val rows = graft.operators.GraphOps.q145_ppr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // integer truncation only ever LOSES mass: total rank <= Total,
    // and within 1% of it on a connected graph (3 damped iterations)
    val mass = rows.map(_._2).sum
    assert(mass <= Total && mass >= Total * 90 / 100,
      s"rank mass $mass vs $Total — restart/damping arithmetic broken")
    // personalization: the average seed rank must exceed the average
    // non-seed rank (the restart mass returns only to seeds)
    val (seedR, otherR) = rows.partition { case (n, _) => n % 2 == 0 && (n / 2) % 10 == 0 }
    assert(seedR.nonEmpty && otherR.nonEmpty)
    val seedAvg = seedR.map(_._2).sum / seedR.length
    val otherAvg = otherR.map(_._2).sum / otherR.length
    assert(seedAvg > otherAvg,
      s"seed avg $seedAvg <= non-seed avg $otherAvg — not personalized")
  }

  test("q163: forward-push is a pointwise underestimate of converged PPR") {
    import spark.implicits._
    val Total = 1000000000000L
    val rows = graft.operators.GraphOps.q163_ppr_forward_push(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // est + res together account for the seed walk mass minus
    // truncation dust (integer division only ever loses mass)
    val mass = rows.map(r => r._2 + r._3).sum
    assert(mass <= Total && mass >= Total * 99 / 100,
      s"est+res mass $mass vs $Total — push arithmetic leaks")
    // converged double-precision PPR over the same graph, driver-side
    val cs = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
      .join(Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
    cs.foreach { case (c, s) => adj(c) = s :: adj(c); adj(s) = c :: adj(s) }
    val seeds = adj.keySet.filter(n => n % 2 == 0 && (n / 2) % 10 == 0)
    assert(seeds.nonEmpty)
    val exact = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
    var x: Map[Long, Double] = seeds.map(_ -> 1.0 / seeds.size).toMap
    for (_ <- 0 until 200) {
      val next = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      x.foreach { case (u, m) =>
        exact(u) += 0.15 * m
        val nb = adj(u)
        val share = 0.85 * m / nb.size
        nb.foreach(v => next(v) += share)
      }
      x = next.toMap
    }
    // ACL'06: the unpushed residual is exactly the not-yet-distributed
    // mass, so the estimate never exceeds the true PPR (truncation
    // only widens the gap); 1e-6 covers the 0.85^200 iteration tail
    rows.foreach { case (n, est, _) =>
      assert(est.toDouble / Total <= exact(n) + 1e-6,
        s"node $n: push est ${est.toDouble / Total} > converged ${exact(n)}")
    }
    // and the estimate's head is the true head (local ranking works)
    val topPush = rows.sortBy(-_._2).take(10).map(_._1).toSet
    val topExact = exact.toSeq.sortBy(-_._2).take(10).map(_._1).toSet
    assert((topPush intersect topExact).size >= 6,
      s"top-10 overlap ${(topPush intersect topExact).size}: $topPush vs $topExact")
  }

  test("iterative early-exit == fixed-rounds (q134/q156/q163/q174)") {
    // empty-frontier / fixed-point rounds are provable no-ops, so the
    // early-exit path must be RESULT-IDENTICAL to running the full
    // round count — pinned here on the fixture for all four loops
    val pairs = Seq[(String, Boolean => org.apache.spark.sql.DataFrame)](
      ("q134", ee => operators.GraphOps.bfsHops(spark, sf, ee)),
      ("q156", ee => operators.GraphOps.labelPropagation(spark, sf, ee)),
      ("q163", ee => operators.GraphOps.pprForwardPush(spark, sf, ee)),
      ("q174", ee => operators.GraphOps.kcore(spark, sf, ee)))
    pairs.foreach { case (name, run) =>
      val fast = run(true).collect().toSeq
      val full = run(false).collect().toSeq
      assert(fast == full, s"$name: early-exit diverged from fixed-rounds")
    }
  }

  test("q137: one exchange; EWMA is a weighted mean of <= 20 recency rows") {
    import spark.implicits._
    val df = Analytics.q137_ewma(spark, sf)
    val (plan, hashExchanges) = finalPlan(df)
    // the user_id window exchange; the groupBy(user_id) reuses it
    assert(hashExchanges == 1, plan)
    val rows = df.as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 <= 20),
      "EWMA state must truncate at 20 events")
    // weighted-mean bounds: ewma lies within the user's cents range
    val bounds = Tables.load(spark, sf, "events")
      .groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.expr(
        "min(CAST(ROUND(value * 100) AS BIGINT))").as("lo"),
        org.apache.spark.sql.functions.expr(
          "max(CAST(ROUND(value * 100) AS BIGINT))").as("hi"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (u, _, ewma) =>
      val (lo, hi) = bounds(u)
      assert(ewma >= lo - 1 && ewma <= hi,
        s"user $u ewma $ewma outside [$lo, $hi]")
    }
  }

  test("q138: every purchase is attributed exactly once") {
    import spark.implicits._
    val rows = Analytics.q138_attribution(spark, sf)
      .select($"channel", $"n_purchases").as[(String, Long)].collect()
    assert(rows.map(_._1).toSet.subsetOf(Set("click", "view", "none")))
    val purchases = Tables.load(spark, sf, "events")
      .where($"event_type" === "purchase").count()
    assert(rows.map(_._2).sum == purchases,
      "attribution must partition the purchase set")
  }

  test("q102: typed Aggregator partial-aggregates map-side") {
    val df = Analytics.q102_weighted_mean(spark, sf)
    val (plan, _) = finalPlan(df)
    // partial buffers combine before the exchange — the same contract
    // as built-in aggregates (exact marker: a regressed plan that
    // shuffles raw rows has no partial_weightedmeanagg node)
    assert(plan.contains("partial_weightedmeanagg"), plan)
    assert(df.collect().length >= 2)
  }

  test("q149: skyline survivors are undominated; every drop has a dominator") {
    import spark.implicits._
    val survivors = operators.Curation.q149_skyline(spark, sf)
      .select($"n_words".cast("long"), $"n_stopwords".cast("long"))
      .as[(Long, Long)].collect().toSet
    val all = Tables.load(spark, sf, "documents")
      .select(
        size(split(trim($"text"), "\\s+")).cast("long"),
        size(regexp_extract_all($"text",
          lit("\\b(the|a|of|and|or|in)\\b"), lit(0))).cast("long"))
      .as[(Long, Long)].collect()
    def dominates(a: (Long, Long), b: (Long, Long)) =
      a._1 >= b._1 && a._2 >= b._2 && (a._1 > b._1 || a._2 > b._2)
    for (s <- survivors; p <- all)
      assert(!dominates(p, s), s"survivor $s dominated by $p")
    for (p <- all if !survivors.contains(p))
      assert(all.exists(q => dominates(q, p)), s"dropped $p has no dominator")
  }

  test("q150: offsets are the exact prefix sum in doc_id order, from 0") {
    import spark.implicits._
    val rows = operators.Training.q150_global_offsets(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.head._3 == 0L, "first document must start at offset 0")
    rows.sliding(2).foreach { case Array((_, n, off), (id2, _, off2)) =>
      assert(off2 == off + n, s"offset gap at doc $id2")
    }
  }

  test("q152: tombstoned keys are absent; survivors carry the last value") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val lastOps = Tables.load(spark, sf, "events")
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"event_type", $"value").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toMap
    val out = operators.Curation.q152_cdc_apply(spark, sf)
      .select($"key", $"value").as[(Long, Double)].collect().toMap
    lastOps.foreach { case (k, (ev, v)) =>
      if (ev == "error") assert(!out.contains(k), s"tombstoned key $k survived")
      else assert(out(k) == v, s"key $k lost last-writer value")
    }
    assert(out.keySet == lastOps.filter(_._2._1 != "error").keySet)
  }

  test("q155: distributed BPE merges equal a driver-side reference trainer") {
    import spark.implicits._
    val got = operators.TextOps.q155_bpe_merges(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq
    // reference: classic single-machine BPE over the same vocabulary
    var vocab = Tables.load(spark, sf, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .where(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
      .map { case (w, f) => (w.map(_.toString).toVector, f) }.toSeq
    val expected = (1 to 8).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; Seq(a, b) <- syms.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      val ((l, r), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
      (step, l, r, cnt)
    }
    assert(got == expected)
  }

  test("q165: BPE encode conserves totals — chars never grow, tokens <= chars, zero merges = chars") {
    import spark.implicits._
    val got = operators.TextOps.q165_bpe_encode(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // corpus-wide invariants: every word contributes >= 1 token and
    // <= its char count of tokens (merges only ever shrink)
    for ((src, nWords, nChars, nToks, ratio) <- got) {
      assert(nToks <= nChars, s"$src: tokens grew past chars")
      assert(nToks >= nWords, s"$src: a word encoded to < 1 token")
      assert(ratio == nChars * 1000 / nToks)
    }
    // totals must equal the raw corpus word/char counts (the encode
    // join may not drop or duplicate any word occurrence)
    val (rawWords, rawChars) = Tables.load(spark, sf, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .where(length($"word") > 0)
      .agg(count(lit(1)), sum(length($"word")).cast("long"))
      .as[(Long, Long)].collect().head
    assert(got.map(_._2).sum == rawWords)
    assert(got.map(_._3).sum == rawChars)
    // 8 merges on this corpus must actually compress (tokens < chars)
    assert(got.map(_._4).sum < rawChars)
  }

  test("q168: HITS equals an exact integer replay; L1 mass conserved per side") {
    import spark.implicits._
    val S = 1000000000L
    val got = operators.GraphOps.q168_hits(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    val cs = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
      .join(Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect().toSeq
    var hub = cs.map(_._1).distinct.map(_ -> S).toMap
    var auth = Map.empty[Long, Long]
    def l1(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = BigInt(raw.values.sum)
      raw.map { case (k, v) => k -> (BigInt(v) * S / tot).toLong }
    }
    for (_ <- 1 to 2) {
      auth = l1(cs.groupBy(_._2).map { case (s, es) =>
        s -> es.map(e => hub(e._1)).sum })
      hub = l1(cs.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum })
    }
    val expected = hub.toSeq.map { case (n, v) => ("hub", n, v) } ++
      auth.toSeq.map { case (n, v) => ("auth", n, v) }
    assert(got.sorted == expected.sorted)
    // L1 mass: each side sums to S minus at most one unit of floor
    // truncation per node
    for (side <- Seq("hub", "auth")) {
      val scores = got.filter(_._1 == side).map(_._3)
      assert(scores.forall(_ >= 0))
      assert(scores.sum <= S && scores.sum >= S - scores.length)
    }
  }

  test("q175: assortativity equals a driver replay and is strongly negative") {
    import spark.implicits._
    val Seq((nEdges, r)) = operators.GraphOps.q175_assortativity(spark, sf)
      .as[(Long, Double)].collect().toSeq
    val cs = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
      .join(Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect()
    val edges = cs.map(t => (t._1, t._2)) ++ cs.map(t => (t._2, t._1))
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    assert(nEdges == edges.length)
    val xs = edges.map(e => (deg(e._1).toDouble, deg(e._2).toDouble))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val num = n * xs.map(t => t._1 * t._2).sum - sx * sy
    val den = math.sqrt(n * xs.map(t => t._1 * t._1).sum - sx * sx) *
      math.sqrt(n * xs.map(t => t._2 * t._2).sum - sy * sy)
    assert(math.abs(r - num / den) < 1e-5)
    // customers attach to far-higher-degree suppliers: a bipartite
    // star shape must be strongly DISassortative
    assert(r < -0.5, s"expected strong disassortativity, got $r")
  }

  test("q174: k-core peeling equals a driver replay; rounds shrink monotonically") {
    import spark.implicits._
    val got = operators.GraphOps.q174_kcore(spark, sf)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1, 2, 3, 4))
    var es = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
      .join(Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect().toSet
    val k = math.max(es.size / es.map(_._1).size / 2, 1)
    val expected = (1 to 4).map { r =>
      val kc = es.groupBy(_._1).filter(_._2.size >= k).keySet
      val ks = es.groupBy(_._2).filter(_._2.size >= k).keySet
      es = es.filter(e => kc(e._1) && ks(e._2))
      (r, (es.map(_._1) ++ es.map(_._2)).size.toLong, es.size.toLong)
    }
    assert(got == expected)
    // peeling is monotone: each round's survivors contain the next's
    assert(got.sliding(2).forall { case Seq(a, b) => b._2 <= a._2 && b._3 <= a._3 })
  }

  test("q171: integer chi-square tracks the double-precision statistic") {
    import spark.implicits._
    val got = operators.Analytics.q171_chi_square(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 5)
    val n = got.map(t => t._2 + t._3).sum.toDouble
    val (ca, cb) = (got.map(_._2).sum.toDouble, got.map(_._3).sum.toDouble)
    val chiRef = got.map { case (_, oa, ob, _, _) =>
      val r = (oa + ob).toDouble
      val (ea, eb) = (r * ca / n, r * cb / n)
      (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    }.sum
    val chiGot = got.map(t => t._4 + t._5).sum / 1e6
    // each of the 10 cells truncates < 1e-6; allow double noise on top
    assert(math.abs(chiGot - chiRef) < 1e-5 + 1e-9 * chiRef,
      s"integer chi2 $chiGot vs double $chiRef")
  }

  test("q176: CUPED theta minimizes variance; adjusted uplift equals the replay") {
    import spark.implicits._
    val Seq((na, nb, upPost, upPre, theta, upCuped)) =
      operators.Analytics.q176_cuped(spark, sf)
        .as[(Long, Long, Double, Double, Double, Double)].collect().toSeq
    val ev = Tables.load(spark, sf, "events")
      .select($"user_id", $"ts", $"value").as[(Long, Long, Double)].collect()
    val (tmin, tmax) = (ev.map(_._2).min, ev.map(_._2).max)
    val mid = tmin + (tmax - tmin) / 2
    def cents(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val users = ev.groupBy(_._1).map { case (u, es) =>
      (u, es.filter(_._2 < mid).map(e => cents(e._3)).sum.toDouble,
        es.filter(_._2 >= mid).map(e => cents(e._3)).sum.toDouble)
    }.toSeq
    assert(na + nb == users.size)
    val n = users.size.toDouble
    val (sx, sy) = (users.map(_._2).sum, users.map(_._3).sum)
    val thetaRef = (n * users.map(u => u._2 * u._3).sum - sx * sy) /
      (n * users.map(u => u._2 * u._2).sum - sx * sx)
    assert(math.abs(theta - thetaRef) < 1e-5)
    assert(math.abs(upCuped - (upPost - thetaRef * upPre)) < 1e-4)
    // the point of CUPED: the adjusted metric has no more variance
    // than the raw one (theta is the variance-minimizing coefficient)
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val rawVar = variance(users.map(_._3))
    val adjVar = variance(users.map(u => u._3 - thetaRef * u._2))
    assert(adjVar <= rawVar + 1e-9, s"CUPED increased variance: $adjVar > $rawVar")
  }

  test("q172: banded KS statistic equals a sorted-merge driver replay") {
    import spark.implicits._
    val Seq((na, nb, d)) = operators.Analytics.q172_ks_test(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val vals = Tables.load(spark, sf, "events")
      .select($"value", ($"user_id" % 2 === 0).as("isA"))
      .as[(Double, Boolean)].collect().sortBy(_._1)
    assert(na == vals.count(_._2) && nb == vals.count(!_._2))
    // exact replay: walk the sorted stream, evaluating the ECDF gap
    // after each tie group
    var (ca, cb) = (0L, 0L)
    var mx = BigInt(0)
    var i = 0
    while (i < vals.length) {
      val v = vals(i)._1
      while (i < vals.length && vals(i)._1 == v) {
        if (vals(i)._2) ca += 1 else cb += 1
        i += 1
      }
      mx = mx.max((BigInt(ca) * nb - BigInt(cb) * na).abs)
    }
    assert(BigInt(d) == mx * 1000000 / (BigInt(na) * nb), s"D mismatch: $d")
    assert(d >= 0 && d <= 1000000)
  }

  test("q179: banded 2U statistic equals the brute pair-count replay") {
    import spark.implicits._
    val Seq((na, nb, u2a, u2b, auc)) =
      operators.Analytics.q179_mann_whitney(spark, sf)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val vals = Tables.load(spark, sf, "events")
      .select($"value", ($"user_id" % 2 === 0).as("isA"))
      .as[(Double, Boolean)].collect()
    val a = vals.filter(_._2).map(_._1)
    val b = vals.filterNot(_._2).map(_._1)
    assert(na == a.length && nb == b.length)
    // brute O(na*nb) definition: 2U_A = sum over pairs of 2[a>b]+[a=b]
    var brute = BigInt(0)
    for (x <- a; y <- b)
      brute += (if (x > y) 2 else if (x == y) 1 else 0)
    assert(BigInt(u2a) == brute, s"2U_A mismatch: $u2a vs $brute")
    assert(BigInt(u2a) + u2b == BigInt(2) * na * nb)
    assert(BigInt(auc) == brute * 1000000 / (BigInt(2) * na * nb))
  }

  test("q181: zipf fit equals a quantized-BigDecimal replay; slope negative") {
    import spark.implicits._
    val Seq((nw, slope, intercept, r2)) =
      operators.TextOps.q181_zipf_fit(spark, sf)
        .as[(Long, Double, Double, Double)].collect().toSeq
    val vocab = Tables.load(spark, sf, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .where(length($"t") > 0)
      .groupBy($"t").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
      .filter(_._2 >= 5)
      .sortBy { case (t, n) => (-n, t) }
    assert(nw == vocab.length)
    // replay the exact device: ln quantized to 6dp (HALF_UP, Spark's
    // decimal cast mode), exact decimal sums, double downstream
    import java.math.{BigDecimal => JBD, MathContext, RoundingMode}
    def q6(d: Double): JBD =
      new JBD(d, MathContext.DECIMAL128).setScale(6, RoundingMode.HALF_UP)
    var (sx, sy, sxx, sxy, syy) =
      (JBD.ZERO, JBD.ZERO, JBD.ZERO, JBD.ZERO, JBD.ZERO)
    vocab.zipWithIndex.foreach { case ((_, n), i) =>
      val x = q6(math.log((i + 1).toDouble))
      val y = q6(math.log(n.toDouble))
      sx = sx.add(x); sy = sy.add(y)
      sxx = sxx.add(x.multiply(x)); sxy = sxy.add(x.multiply(y))
      syy = syy.add(y.multiply(y))
    }
    val (nwD, sxD, syD, sxxD, sxyD, syyD) = (nw.toDouble,
      sx.doubleValue, sy.doubleValue, sxx.doubleValue, sxy.doubleValue,
      syy.doubleValue)
    val slopeRef = (nwD * sxyD - sxD * syD) / (nwD * sxxD - sxD * sxD)
    val interceptRef = (syD - slopeRef * sxD) / nwD
    val r2Ref = (nwD * sxyD - sxD * syD) * (nwD * sxyD - sxD * syD) /
      ((nwD * sxxD - sxD * sxD) * (nwD * syyD - syD * syD))
    assert(math.abs(slope - slopeRef) < 5e-7, s"slope $slope vs $slopeRef")
    assert(math.abs(intercept - interceptRef) < 5e-7)
    assert(math.abs(r2 - r2Ref) < 5e-7)
    assert(slope < 0, s"rank-frequency slope must be negative: $slope")
    assert(r2 > 0 && r2 <= 1)
  }

  test("q170: decay attribution conserves purchase value up to per-row DIV truncation") {
    import spark.implicits._
    val got = operators.Analytics.q170_decay_attribution(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty && got.map(_._1).contains("organic"))
    val totalCredited = got.map(_._3).sum
    val creditRows = got.map(_._2).sum
    val purchases = Tables.load(spark, sf, "events")
      .where($"event_type" === "purchase")
      .select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .as[Long].collect()
    val totalValue = purchases.sum * 1000000L
    // each credit row loses < 1 unit to DIV truncation; organic rows
    // lose nothing — so the credited total must sit within creditRows
    // units below the full purchase mass and never exceed it
    assert(totalCredited <= totalValue)
    assert(totalValue - totalCredited < creditRows,
      s"lost ${totalValue - totalCredited} over $creditRows rows")
  }

  test("q177: distinctive-term lift equals a BigInt replay; top terms are overrepresented") {
    import spark.implicits._
    val got = operators.TextOps.q177_source_terms(spark, sf)
      .as[(String, Int, String, Long, Long)].collect()
    assert(got.nonEmpty && got.groupBy(_._1).values.forall(_.length == 5))
    val words = Tables.load(spark, sf, "documents")
      .select($"source", explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .where(length($"w") > 0)
      .as[(String, String)].collect()
    val bySrcWord = words.groupBy(identity).map { case (k, v) => k -> BigInt(v.length) }
    val byWord = words.groupBy(_._2).map { case (w, v) => w -> BigInt(v.length) }
    val bySrc = words.groupBy(_._1).map { case (s, v) => s -> BigInt(v.length) }
    val total = BigInt(words.length)
    for ((src, _, word, a, lift) <- got) {
      val (aa, wt, at) = (bySrcWord((src, word)), byWord(word), bySrc(src))
      assert(BigInt(a) == aa)
      assert(BigInt(lift) == aa * (total - at) - (wt - aa) * at,
        s"$src/$word lift mismatch")
      // positive lift = genuinely overrepresented (rate in source
      // exceeds rate in the rest)
      assert(lift > 0, s"$src top term $word not overrepresented")
    }
  }

  test("q167: TV distance equals an exact BigInt replay; zero iff halves agree") {
    import spark.implicits._
    val got = operators.TextOps.q167_corpus_shift(spark, sf)
      .as[(String, Long, Long, Long)].collect()
      .map { case (l, u, c, tv) => l -> (u, c, tv) }.toMap
    val words = Tables.load(spark, sf, "documents")
      .select($"lang", $"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .where(length($"w") > 0)
      .as[(String, Long, String)].collect()
    for ((lang, (u, c, tv)) <- got) {
      val grp = words.filter(_._1 == lang)
      val a = grp.filter(_._2 % 2 == 0).groupBy(_._3).map { case (w, xs) => w -> BigInt(xs.length) }
      val b = grp.filter(_._2 % 2 != 0).groupBy(_._3).map { case (w, xs) => w -> BigInt(xs.length) }
      val union = a.keySet ++ b.keySet
      val (ta, tb) = (a.values.sum, b.values.sum)
      val num = union.toSeq.map(w =>
        (a.getOrElse(w, BigInt(0)) * tb - b.getOrElse(w, BigInt(0)) * ta).abs).sum
      assert(u == union.size && c == (a.keySet & b.keySet).size)
      assert(BigInt(tv) == num * 1000000 / (2 * ta * tb), s"$lang: TV mismatch")
      assert(tv >= 0 && tv <= 1000000)
    }
  }

  test("q166: OLS residuals are orthogonal to intercept and both features") {
    import spark.implicits._
    val fits = operators.Analytics.q166_ols(spark, sf)
      .as[(String, Long, Double, Double, Double, Double)].collect()
      .map { case (g, n, b0, b1, b2, r2) => g -> (n, b0, b1, b2, r2) }.toMap
    assert(fits.size == 3)
    val rows = Tables.load(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_quantity", $"l_discount", $"l_extendedprice")
      .as[(String, Double, Double, Double)].collect()
    for ((g, (n, b0, b1, b2, r2)) <- fits) {
      val grp = rows.filter(_._1 == g)
      assert(grp.length == n)
      val res = grp.map { case (_, x1, x2, y) => (x1, x2, y - b0 - b1 * x1 - b2 * x2) }
      // normal equations: X'r = 0 (tolerance absorbs the 6-dp beta
      // rounding: err <= 5e-7 * sum|x| per equation)
      val sy = grp.map(_._4).sum
      assert(math.abs(res.map(_._3).sum) <= 1e-5 * sy, s"$g: sum(r) != 0")
      assert(math.abs(res.map(t => t._1 * t._3).sum) <= 1e-5 * grp.map(t => t._2 * t._4).sum,
        s"$g: r not orthogonal to quantity")
      assert(math.abs(res.map(t => t._2 * t._3).sum) <= 1e-5 * sy,
        s"$g: r not orthogonal to discount")
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
  }

  test("q133: chunked pair join ≡ the plain self-join, fixture and whale") {
    import spark.implicits._
    // q133 builds supplier co-occurrence pairs by the adaptive
    // chunked self-join (q67 device). Pins bit-identical (s1, s2, w)
    // against the plain customer-keyed self-join — on the fixture
    // (where every nc = 1, the zero-replication fast path) AND on a
    // synthetic whale customer that actually engages nc > 1.
    def norm(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getLong(2))).toSet
    def plainJoin(cs: DataFrame): DataFrame =
      cs.as("x").join(cs.as("y"), $"x.c" === $"y.c" && $"x.s" < $"y.s")
        .groupBy($"x.s".as("s1"), $"y.s".as("s2")).agg(count(lit(1)).as("w"))
    def chunked(cs: DataFrame, L: Int): DataFrame =
      operators.Analytics.copurchasePairs(cs, L)
        .groupBy($"s1", $"s2").agg(count(lit(1)).as("w"))
    val cs = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
      .join(Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s"))
      .distinct()
    val fixture = norm(chunked(cs, 256))
    assert(fixture.nonEmpty && fixture == norm(plainJoin(cs)))
    // whale: one customer linked to 300 suppliers, chunkRows = 16
    // forces nc = 19 — every chunk-pair branch (same-chunk and
    // cross-chunk) exercises; plus a normal customer for the nc = 1
    // path in the same frame
    val whale = ((1L to 300L).map(s => (1L, s)) ++ Seq((2L, 5L), (2L, 9L)))
      .toDF("c", "s")
    val w = norm(chunked(whale, 16))
    assert(w == norm(plainJoin(whale)))
    // (5, 9) co-occurs under BOTH customers and merges at w = 2, so
    // the distinct-pair count is exactly the whale's all-pairs
    assert(w.size == 300 * 299 / 2)
    assert(w.contains((5L, 9L, 2L)))
  }

  test("q153: orders pick the SCD2 version valid at their order date") {
    import spark.implicits._
    val joined = operators.Extras.q153_temporal_join(spark, sf)
    // Holds by construction (not by fixture coincidence): the base
    // version's valid_from is derived as min(o_orderdate), so no fact
    // can predate every dimension version regardless of data vintage.
    assert(joined.where($"bal".isNull).count() == 0,
      "every fact must match a dimension version")
    val base = Tables.load(spark, sf, "customer")
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)].collect().toMap
    val sample = joined
      .join(Tables.load(spark, sf, "orders")
        .select($"o_orderkey", $"o_orderdate"), "o_orderkey")
      .where($"o_custkey" % 7 === 3)
      .select($"o_custkey", $"valid_from", $"bal",
        ($"o_orderdate" >= lit("1998-01-01").cast("timestamp")).as("late"))
      .collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val expected =
        if (r.getBoolean(3)) base(r.getLong(0)) + 100.0 else base(r.getLong(0))
      assert(r.getDouble(2) == expected,
        s"custkey ${r.getLong(0)} got wrong version (${r.getString(1)})")
    }
  }
}
