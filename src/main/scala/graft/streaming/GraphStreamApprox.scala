package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Scope
import graft.operators.{BipartiteGraph, GraphOps}

/** Streaming PPR maintenance with per-changed-batch cost tracking the
  * DELTA, not the graph — the scale-safe companion to
  * [[GraphStream.pprPushStream]] (round-13 VERDICT "what's missing"
  * #1). The exact gate re-pushes the FULL accumulated graph whenever
  * one genuinely-new edge arrives, because its contract is bit-equal
  * row equality to batch q163 (schedule-dependent — see PLANS.md
  * round-13 for why a residual-carryover shortcut cannot keep that
  * contract). This gate keeps a WEAKER, still-useful contract — the
  * forward-push approximation invariant — and in exchange makes a
  * changed-graph batch cost O(delta + drained residual mass), the
  * dynamic-push trade (Zhang/Lofgren/Goel, KDD'16).
  *
  * == Contract (what the spec pins) ==
  *
  * The gate maintains per-node (est, res) state such that after every
  * batch, for every node v: `|res(v)| <= Eps * degree(v)` — the same
  * terminal condition a CONVERGED batch push reaches. By the forward-
  * push invariant this bounds the estimate error:
  * `|est(v) − π(v)| <= Eps * degree(v)` up to integer-rounding slack
  * (π = the true PPR at the gate's Total scale; the bound uses the
  * undirected-graph reversibility `π_u(v)·d_u = π_v(u)·d_v`). The
  * spec checks both: residuals below threshold after every batch, and
  * est within `3·Eps·(degree+1)` of a fresh converged push over the
  * final graph (2× for the two runs' own bounds, the rest rounding
  * slack — integer DIV discards sub-unit mass on every push and
  * correction).
  *
  * == How a changed batch stays delta-sized ==
  *
  * State (est, res) rides a [[SegStore]] latest-wins sub-table keyed
  * by node. A batch of genuinely-new edges restores the invariant
  * LOCALLY and then drains only what it disturbed:
  *
  *  1. '''Invariant-restoring correction''' at the delta endpoints
  *     only. Forward-push validity over graph W is exactly
  *     `r = σ − (1/α)·p + ((1−α)/α)·p·W` (σ = seed mass vector, p =
  *     est row-vector, W = random-walk matrix). Inserting k edges at
  *     node u (old degree d, new partners x) changes only row u of W;
  *     choosing `p'(u) = p(u)·(d+k)/d` keeps every old-neighbor entry
  *     of `p·W` unchanged, so the residual correction is confined to
  *     the endpoints themselves:
  *     {{{
  *     p'(u) = p(u) + (p(u)·k) / d
  *     r'(u) = r(u) − k·(p(u)/(α·d)) + Σ_x ((1−α)/α)·p(x)/d_x
  *     }}}
  *     (terms vanish when d = 0 — a new node has no pushes to
  *     correct). The per-edge term `p(u)/(α·d)` uses the node's
  *     degree BEFORE the batch and is constant across the batch's k
  *     insertions because p scales with degree — the correction is
  *     order-independent and applies as one aggregate.
  *  2. '''Local drain''': residuals now exceeding `Eps·deg` (positive
  *     OR negative — corrections can push mass both ways) are pushed
  *     with the same integer kernel as batch q163 (`est += (15·res)
  *     DIV 100`, neighbors get `(85·res) DIV (100·deg)`), the
  *     frontier growing only along edges of pushed nodes (pruned
  *     scans of the edge store — scan-only, never a corpus shuffle).
  *     Untouched nodes already satisfied the bound after the previous
  *     batch and their degree did not change, so the frontier is the
  *     ONLY place the bound can be violated — the loop provably needs
  *     no full-graph pass.
  *  3. Only the touched/reached rows land as the batch's pr delta
  *     (latest-wins by `_seg`): store write volume is delta-sized.
  *
  * == The fallback this contract cannot avoid ==
  *
  * A batch whose new NODES include a seed-pattern node changes the
  * global seed mass `Total/nS` — every seed's injected residual
  * changes, which no local correction absorbs (the same global
  * coupling that blocks exact incremental refresh, PLANS.md
  * round-13). Such batches re-push the full graph CONVERGED
  * (maxRounds raised past q163's 6-round cap) and write a full BASE
  * segment — O(graph), loud in the code, and rare in a steady-state
  * graph (a fixed-population graph never triggers it; a growing one
  * triggers it on ~1/20 of new-node arrivals at this seed pattern).
  * Batches that only add edges between known nodes — the common case
  * a trust/co-occurrence graph feeds — stay delta-sized, which is
  * what ScaleAudit measures (changed-batch wall flat across 1× vs 8×
  * accumulated graph).
  *
  * Crash/replay: replay absorption by pair-level anti-join against the
  * committed store, the deltas are one segment under
  * [[GateBatch.store]]'s protocol, and compaction folds into a base
  * every `compactEvery` batches. The readout is [[readPprApprox]]
  * (exchange-free latest-wins fold over the node-bucketed scan); there
  * is no per-batch full-state snapshot BY DESIGN — materializing one
  * would reintroduce the O(graph) per-batch cost this gate exists to
  * avoid.
  */
object GraphStreamApprox {

  private val Eps = GraphOps.PprEps

  /** `pairs`: a streaming DataFrame of (c: Long, s: Long) rows.
    * Store: a [[SegStore]] log at `storeDir` with bucketed sub-tables
    * `pairs` (c, s — replay dedup), `edges` (src, dst — symmetric,
    * push fan-out), `degree` (src, degree — additive partials) and
    * `pr` (node, est, res — latest-wins state).
    */
  def pprPushStreamApprox(pairs: DataFrame, storeDir: String,
      ckptDir: String, compactEvery: Int = 8, buckets: Int = 8,
      maxPushRounds: Int = 64, maxLocalNodes: Int = 4000000,
      maxLocalEdges: Long = 16000000L): StreamingQuery =
    pairs.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch(GateBatch.store(pairs.sparkSession, storeDir, ckptDir,
          compactEvery) { b =>
          import b.{ss, scope => ck}
          import ss.implicits._
          SegStore.ensureBucketed(ss, storeDir, "pairs",
            "c BIGINT, s BIGINT", Seq("c"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "edges",
            "src BIGINT, dst BIGINT", Seq("src"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "degree",
            "src BIGINT, degree BIGINT", Seq("src"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "pr",
            "node BIGINT, est BIGINT, res BIGINT", Seq("node"), buckets)
          val up = ck.ckpt(b.frame.select($"c", $"s").distinct())
          val bCs = up.select($"c").distinct()
          val present = SegStore.prunedScan(ss, storeDir, "pairs", "c", bCs)
            .join(broadcast(up), Seq("c", "s"), "left_semi")
          val newPairs = ck.ckpt(up.join(broadcast(present), Seq("c", "s"), "left_anti"))
          if (newPairs.isEmpty) {
            // all-replay: graph and state unchanged — record the batch
            b.write(Seq(
              "pairs" -> newPairs,
              "edges" -> newPairs.select($"c".as("src"), $"s".as("dst")),
              "degree" -> newPairs.select($"c".as("src"), lit(0L).as("degree")),
              "pr" -> newPairs.select($"c".as("node"), lit(0L).as("est"),
                lit(0L).as("res"))))
            false
          } else {
            val newEdges = ck.ckpt(BipartiteGraph.edgesOf(newPairs))
            val newDeg = ck.ckpt(BipartiteGraph.degreesOf(newPairs))
            val touched = newDeg.select($"src")
            val degPrior = SegStore.prunedScan(ss, storeDir, "degree", "src", touched)
              .groupBy($"src").agg(sum($"degree").as("d_old"))
            // a never-seen node matching the seed pattern changes the
            // global seed mass Total/nS: full converged re-push
            val newSeed = !newDeg.join(degPrior, Seq("src"), "left_anti")
              .where(BipartiteGraph.isPprSeed($"src")).isEmpty
            // full converged re-push over the post-batch graph,
            // written as a BASE segment so latest-wins can never
            // resolve a stale row past it
            def fullPush(): Boolean = {
              val (p0, d0) = GraphStream.readGraph(ss, storeDir)
              val pairsAll = ck.ckpt(p0.union(newPairs))
              val degAll = ck.ckpt(d0.union(newDeg)
                .groupBy($"src").agg(sum($"degree").as("degree")))
              // forwardPush returns its sealed output: adopt it
              // (ck.ckpt() would re-checkpoint and orphan the inner blocks)
              val state = ck.adopt(GraphOps.forwardPush(ss, pairsAll, degAll,
                earlyExit = true, maxRounds = maxPushRounds))
              b.write(Seq(
                "pairs" -> pairsAll,
                "edges" -> BipartiteGraph.edgesOf(pairsAll),
                "degree" -> degAll, "pr" -> state), base = true)
              true
            }
            if (b.active.isEmpty || newSeed) fullPush()
            else {
              // the three drain-independent segment INSERTs overlap the
              // driver drain. Delta layout only: a compaction batch
              // writes a base instead, and the bail-out's full push
              // OVERWRITES these same partitions, so it awaits them first
              val preJoin =
                if (b.compactDue) None
                else Some(b.write(Seq("pairs" -> newPairs, "edges" -> newEdges,
                  "degree" -> newDeg)))
              incrementalRefresh(ss, storeDir, newPairs, newEdges,
                newDeg, degPrior, maxLocalNodes, maxLocalEdges) match {
                case None =>
                  // the delta disturbed more state than the local caps
                  // allow — the full push is genuinely the cheaper tool
                  System.err.println(
                    "WARN graft.GraphStreamApprox: drain working set " +
                      s"exceeded maxLocalNodes=$maxLocalNodes/" +
                      s"maxLocalEdges=$maxLocalEdges - falling back to a " +
                      "full converged push for this batch")
                  preJoin.foreach(_())
                  fullPush()
                case Some(prDelta0) =>
                  val prDelta = ck.ckpt(prDelta0)
                  if (b.compactDue) {
                    val (p0, d0) = GraphStream.readGraph(ss, storeDir)
                    val pairsAll = ck.ckpt(p0.union(newPairs))
                    val degAll = ck.ckpt(d0.union(newDeg)
                      .groupBy($"src").agg(sum($"degree").as("degree")))
                    val prAll = ck.ckpt(foldPr(ss, storeDir, prDelta))
                    b.write(Seq(
                      "pairs" -> pairsAll,
                      "edges" -> BipartiteGraph.edgesOf(pairsAll),
                      "degree" -> degAll, "pr" -> prAll), base = true)
                    true
                  } else {
                    b.write(Seq("pr" -> prDelta))
                    false
                  }
              }
            }
          }
      })
      .trigger(Trigger.AvailableNow())
      .start()

  /** The delta-local refresh: endpoint corrections (DataFrame pruned
    * scans) + an IN-MEMORY drain on the driver. Returns the
    * (node, est, res) rows of every node the batch touched or reached
    * — the batch's pr delta — or None when the working set outgrew
    * `maxLocalNodes`/`maxLocalEdges` (the caller falls back to a full
    * converged push).
    *
    * Why driver-local: forward-push drain is an inherently LOCAL
    * sequential algorithm — its working set is bounded by drained
    * mass / Eps (the KDD'16 amortized-O(1) argument), NOT by graph
    * size, and each distributed round would pay multiple driver-
    * coordinated jobs to move a few thousand residuals. Measured on
    * the spec fixture, a round-synchronous DataFrame drain took
    * ~60 rounds × ~8 jobs — minutes of scheduling for milliseconds of
    * arithmetic. The store is still only ever touched by batched
    * pruned SCANS (adjacency and prior state fetched one frontier
    * wave at a time), and the arithmetic is bit-identical to the
    * distributed kernel (Long division truncates toward zero exactly
    * like SQL DIV). The loud bail-out keeps the driver bounded: a
    * delta that disturbs more than the caps is a batch where the full
    * push is genuinely the cheaper tool.
    */
  private def incrementalRefresh(ss: SparkSession, storeDir: String,
      newPairs: DataFrame, newEdges: DataFrame, newDeg: DataFrame,
      degPrior: DataFrame, maxLocalNodes: Int, maxLocalEdges: Long): Option[DataFrame] = {
    import ss.implicits._
    // prior state of a key set (latest-wins among the pruned rows)
    def stateOf(nodes: DataFrame): DataFrame =
      latestPr(ss, SegStore.prunedScanTagged(ss, storeDir, "pr", "node", nodes))
    // endp feeds partnerSum AND the corrected rows; released once the
    // seed rows are on the driver
    val seedRows = Scope { sc =>
      val endp = sc.ckpt(newDeg.select($"src".as("node"), $"degree".as("k"))
        .join(degPrior.select($"src".as("node"), $"d_old"), Seq("node"), "left_outer")
        .na.fill(0L, Seq("d_old"))
        .join(stateOf(newDeg.select($"src".as("node"))), Seq("node"), "left_outer")
        .na.fill(0L, Seq("est", "res"))
        // p(u)/(α·d) and ((1−α)/α)·p(u)/d at the OLD degree (α = 15/100);
        // both vanish for a new node (d_old = 0: nothing was ever pushed
        // with the wrong degree)
        .withColumn("per_edge",
          when($"d_old" > 0, expr("(est * 100) DIV (15 * d_old)")).otherwise(lit(0L)))
        .withColumn("to_partner",
          when($"d_old" > 0, expr("(est * 85) DIV (15 * d_old)")).otherwise(lit(0L))))
      // Σ over the node's new partners x of ((1−α)/α)·p(x)/d_x — every
      // partner is itself an endpoint, so the broadcast side is delta-sized
      val partnerSum = newEdges
        .join(broadcast(endp.select($"node".as("dst"), $"to_partner")), "dst")
        .groupBy($"src").agg(sum($"to_partner").as("partner_sum"))
      val corrected = endp
        .join(partnerSum.select($"src".as("node"), $"partner_sum"),
          Seq("node"), "left_outer")
        .na.fill(0L, Seq("partner_sum"))
        .select($"node",
          // p'(u) = p(u)·(d+k)/d, computed as p + (p·k) DIV d to keep the
          // intermediate within Long for high-degree nodes
          when($"d_old" > 0, $"est" + expr("(est * k) DIV d_old"))
            .otherwise($"est").as("est"),
          ($"res" - $"k" * $"per_edge" + $"partner_sum").as("res"),
          ($"d_old" + $"k").as("deg"))
      corrected.limit(maxLocalNodes + 1).as[(Long, Long, Long, Long)].collect()
    }
    if (seedRows.length > maxLocalNodes) return None
    // in-memory working state; adjacency fetched in frontier waves
    val est = new java.util.HashMap[Long, Long]()
    val res = new java.util.HashMap[Long, Long]()
    val deg = new java.util.HashMap[Long, Long]()
    val adj = new java.util.HashMap[Long, Array[Long]]()
    var adjEdges = 0L
    seedRows.foreach { case (n, e, r, d) =>
      est.put(n, e); res.put(n, r); deg.put(n, d)
    }
    // this batch's own edges are not in the store yet: index them
    // locally and merge into every adjacency fetch
    val batchAdj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    newEdges.as[(Long, Long)].collect().foreach { case (u, x) =>
      batchAdj.computeIfAbsent(u, _ => scala.collection.mutable.ArrayBuffer.empty) += x
    }
    def over(n: Long): Boolean = {
      val d = deg.getOrDefault(n, 0L)
      d > 0 && math.abs(res.getOrDefault(n, 0L)) > d * Eps
    }
    var frontier = seedRows.iterator.map(_._1).filter(over).toArray.sorted
    while (frontier.nonEmpty) {
      // WAVE FETCH 1: adjacency of frontier nodes not yet loaded
      val needAdj = frontier.filterNot(adj.containsKey(_))
      if (needAdj.nonEmpty) {
        val fetched = SegStore
          .prunedScan(ss, storeDir, "edges", "src", needAdj.toSeq.toDF("src"))
          .as[(Long, Long)].collect()
        adjEdges += fetched.length
        if (adjEdges > maxLocalEdges) return None
        val grouped = fetched.groupBy(_._1)
        needAdj.foreach { n =>
          val stored = grouped.getOrElse(n, Array.empty).map(_._2)
          val fresh = Option(batchAdj.get(n)).map(_.toArray).getOrElse(Array.empty)
          adj.put(n, stored ++ fresh)
        }
      }
      // sequential push sweep (deterministic node order); mass
      // reaching unknown nodes accumulates in `pending` until their
      // state/degree arrive in the next wave fetch
      val pending = scala.collection.mutable.LongMap.empty[Long]
      frontier.foreach { v =>
        val m = res.get(v)
        if (math.abs(m) > deg.get(v) * Eps) { // may have changed in-sweep
          res.put(v, 0L)
          est.put(v, est.get(v) + (15L * m) / 100L)
          val share = (85L * m) / (100L * deg.get(v))
          if (share != 0L) adj.get(v).foreach { w =>
            if (res.containsKey(w)) res.put(w, res.get(w) + share)
            else pending(w) = pending.getOrElse(w, 0L) + share
          }
        }
      }
      // WAVE FETCH 2: prior state + degree of newly-reached nodes (a
      // reached node is always in the degree store — it was found via
      // an edge)
      if (pending.nonEmpty) {
        if (est.size() + pending.size > maxLocalNodes) return None
        val keys = pending.keys.toSeq.toDF("node")
        stateOf(keys).as[(Long, Long, Long)].collect().foreach { case (n, e, r) =>
          est.put(n, e); res.put(n, r)
        }
        SegStore.prunedScan(ss, storeDir, "degree", "src",
          keys.select($"node".as("src")))
          .groupBy($"src").agg(sum($"degree").as("degree"))
          .as[(Long, Long)].collect()
          .foreach { case (n, d) => deg.put(n, d) }
        pending.foreach { case (n, dres) =>
          if (!est.containsKey(n)) { est.put(n, 0L); res.put(n, 0L) }
          res.put(n, res.getOrDefault(n, 0L) + dres)
        }
      }
      frontier = {
        val it = res.keySet().iterator()
        val b = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) { val n = it.next(); if (over(n)) b += n }
        b.toArray.sorted
      }
    }
    val rows = {
      val it = est.entrySet().iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      while (it.hasNext) {
        val en = it.next()
        b += ((en.getKey, en.getValue, res.getOrDefault(en.getKey, 0L)))
      }
      b.toSeq
    }
    Some(rows.toDF("node", "est", "res"))
  }

  /** Compaction fold: store state latest-wins, outer-merged with the
    * live batch's delta (delta wins).
    */
  private def foldPr(ss: SparkSession, storeDir: String,
      prDelta: DataFrame): DataFrame =
    readPprApprox(ss, storeDir).join(prDelta.select("node"), Seq("node"), "left_anti")
      .unionByName(prDelta)

  /** The gate's readout: per-node (est, res), resolved latest-wins
    * over the node-bucketed store scan (exchange-free). Empty frame
    * when nothing has committed yet.
    */
  def readPprApprox(ss: SparkSession, storeDir: String): DataFrame =
    latestPr(ss, SegStore.readBucketedTagged(ss, storeDir, "pr"))

  /** The `pr` rows of a `_seg`-tagged scan resolved latest-wins per
    * node; empty when the scan found nothing.
    */
  private def latestPr(ss: SparkSession, tagged: Option[DataFrame]): DataFrame = {
    import ss.implicits._
    tagged.map(_.groupBy($"node").agg(
      expr("max_by(est, _seg)").as("est"),
      expr("max_by(res, _seg)").as("res")))
      .getOrElse(Seq.empty[(Long, Long, Long)].toDF("node", "est", "res"))
  }
}
