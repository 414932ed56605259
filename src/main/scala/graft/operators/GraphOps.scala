package graft.operators

import org.apache.spark.sql.functions._

import graft.{Fixpoint, Scope, Tables}

/** Graph-traversal shapes over the derived customer–supplier graph
  * (the q104/q113 bipartite node encoding: customers at `2k`,
  * suppliers at `2k+1` — see `Analytics.q104_pagerank`): the curation
  * use-case is "distance to a trusted seed set" (seed-expansion /
  * trust-propagation over a citation or co-occurrence graph), the
  * graph twin of q66's held-out-overlap decontamination.
  *
  * Reference scope: the reference engine delegates all query work to
  * Postgres (reference `postgres_media.py:81`'s canned-query
  * pattern); graph reachability generalizes its relational surface
  * the same way q104 does, so the same oracle discipline applies —
  * integer-only arithmetic, a recursive-CTE DuckDB twin.
  */
/** THE single derivation site for the derived customer–supplier
  * bipartite graph (customers at `2k`, suppliers at `2k+1`): the pair
  * index is the distinct (c, s) projection of lineitem⋈orders, the
  * degree table its endpoint counts, the edge list its symmetric
  * union. Three consumers, one formula:
  *
  *  - `derived` — q104's full recompute: derives
  *    inline, paying the lineitem×orders join + distinct every time.
  *    That cost IS the point: q104 is the baseline q113's
  *    incremental path is measured against, so the baseline/derived
  *    relationship is structural (same formula, different source), not
  *    copy-discipline across three hand-maintained copies.
  *  - `staged` — the fingerprint-staged parquet
  *    artifact ([[graft.Staging]], the q99/q113 economics) that every
  *    traversal query (q134 BFS, q145 PPR, q156 LP) starts from: a
  *    steady-state pipeline holds the pair index next to the data
  *    instead of re-paying the derivation per traversal.
  *  - `pairs(ordersFilter = ...)` — q113's base/delta split: the same
  *    formula over a filtered order set.
  */
object BipartiteGraph {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** Distinct (c, s) pair index, optionally over a filtered order set. */
  def pairs(spark: SparkSession, dir: String,
      ordersFilter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val ord0 = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val ord = ordersFilter.map(ord0.where).getOrElse(ord0)
    Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
  }

  /** The PPR seed pattern (customers with custkey % 10 == 0) — ONE
    * site shared by the batch push (q163), the exact streaming gate,
    * and the approximate gate's new-seed detection (a node entering
    * the graph that matches this pattern changes the global seed mass
    * Total/nS, which no local residual correction can absorb).
    */
  def isPprSeed(node: Column): Column =
    // node even AND (node DIV 2) % 10 == 0 ⟺ node % 20 == 0 for the
    // non-negative node encoding (customers at 2k)
    node % 20 === 0

  /** Endpoint-count degree table of a pair index. */
  def degreesOf(cs: DataFrame): DataFrame =
    cs.select(col("c").as("src")).union(cs.select(col("s").as("src")))
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))

  /** Symmetric (src, dst) edge list of a pair index. */
  def edgesOf(cs: DataFrame): DataFrame =
    cs.select(col("c").as("src"), col("s").as("dst"))
      .union(cs.select(col("s").as("src"), col("c").as("dst")))

  /** Fan a small-on-disk edge list back out to the session's shuffle
    * width before persisting it as a loop's big side. The staged pair
    * artifact is a few MB, so a parquet scan yields O(1) splits (and
    * AQE coalesces a distinct's output the same way) — every
    * traversal round's map-side work (join probe + partial aggregate
    * over the edge-sized contribution stream) would otherwise run on
    * 1–2 tasks regardless of cluster width. The width is passed
    * EXPLICITLY because AQE is free to coalesce a bare
    * `repartition(col)` right back down; hash-on-src keeps any
    * src-keyed shuffle reusable. Costs one edge-sized exchange at
    * build time, amortized over every round that reads the cache
    * (measured at sf0.1: q163 rounds 1.0 s → ~0.35 s each).
    */
  def fanOut(spark: SparkSession, edges: DataFrame,
      key: String = "src"): DataFrame =
    edges.repartition(spark.sessionState.conf.numShufflePartitions, col(key))

  /** (pairs, degree) derived inline, both persisted in `sc` — the q104
    * baseline; the caches are the full-recompute economics q104
    * documents.
    */
  def derived(sc: Scope, spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val cs = sc.persist(pairs(spark, dir))
    (cs, sc.persist(degreesOf(cs)))
  }

  /** (pairs, degree) read from the fingerprint-staged artifact — every
    * traversal query.
    */
  def staged(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fp = Tables.fingerprint(dir, "lineitem") + "|" +
      Tables.fingerprint(dir, "orders")
    val d = graft.Staging.stage(s"graph_full#$dir", fp) { d =>
      Scope { sc =>
        val cs = sc.persist(pairs(spark, dir))
        cs.write.parquet(s"$d/pairs")
        degreesOf(cs).write.parquet(s"$d/degree")
      }
    }
    (spark.read.parquet(s"$d/pairs"), spark.read.parquet(s"$d/degree"))
  }
}

object GraphOps {
  import Relational.Q

  /** q134: multi-source BFS hop histogram, 4 relaxation rounds.
    *
    * Seeds are the graph nodes with `node <= 20 AND node % 2 = 0`
    * (customers 1–10 that actually placed orders). Each round joins
    * the edge list with the current label frontier and keeps the
    * minimum hop per node; nodes never reached within 4 hops report
    * as `hops = -1`. Output is the hop histogram with a `sum_node`
    * checksum so the oracle pins membership, not just counts.
    *
    * Scale shape: label relaxation is the textbook distributed BFS —
    * per round ONE shuffle of the (edge ⋈ labels) contribution plus a
    * node-sized min-aggregate; no adjacency matrix, no driver-side
    * frontier. The rounds run through [[graft.Fixpoint]], so the
    * 4-round loop keeps a flat plan instead of a 2^rounds
    * self-referencing DAG. At 100 TB the edge list is the big side
    * and it shuffles once per round on `src` — bucketing the edge table on `src`
    * makes every round's join zero-exchange, the q123 layout
    * economics applied to traversal.
    */
  val q134_bfs_hops: Q = (spark, dir) => bfsHops(spark, dir, earlyExit = true)

  /** `earlyExit = false` runs all 4 rounds unconditionally — the spec
    * pins it result-identical to the early-exit path (empty-frontier
    * rounds are provable no-ops).
    */
  private[graft] def bfsHops(spark: org.apache.spark.sql.SparkSession,
      dir: String, earlyExit: Boolean): org.apache.spark.sql.DataFrame = Scope { sc =>
    import spark.implicits._
    val (cs, deg) = BipartiteGraph.staged(spark, dir)
    // no fanOut: BFS rounds are frontier-join + distinct over a
    // shrinking frontier — task-scheduling overhead outweighs map
    // parallelism at any scale where the frontier fits a broadcast
    val edges = sc.persist(BipartiteGraph.edgesOf(cs))
    val nodes = deg.select($"src".as("node"))
    val seeds = nodes.where($"node" <= 20 && $"node" % 2 === 0)
    // labels only grow, and each round adds exactly its new frontier
    // (the anti-join keeps it disjoint from the settled labels), so an
    // unchanged label count means an empty frontier; round 0's count is
    // the seed count
    val size = count(lit(1)).as("n")
    val init = Fixpoint.ckpt(sc, seeds.select($"node", lit(0).as("hop")))(size)
    require(init.witness.getLong(0) > 0, s"q134: no seed nodes under $dir")
    // frontier BFS: each round joins edges against only the nodes
    // REACHED LAST ROUND (not the full label set), and the anti-join
    // against settled labels keeps the frontier shrinking — on a
    // dense graph the later rounds are near-free because the
    // frontier empties once everything is reached. An EMPTY frontier
    // makes every remaining round a no-op (the edge join produces
    // nothing), so the loop exits there — identical labels to running
    // all 4 rounds, pinned in AnalyticsSpec.
    val frontiers = scala.collection.mutable.ArrayBuffer(init.state)
    val labels = Fixpoint.iterate(sc, init, maxRounds = 4) { labels =>
      val reached = edges
        .join(frontiers.last.select($"node".as("src")), "src")
        .select($"dst".as("node")).distinct()
      // persist (lazy), not localCheckpoint: the labels checkpoint
      // materializes it in the same job, and the next round's edge
      // join reads it from cache — no extra eager job per round
      frontiers += sc.persist(reached.join(labels, Seq("node"), "left_anti")
        .select($"node", lit(frontiers.size).as("hop")))
      labels.union(frontiers.last)
    }(size)((prev, cur) => earlyExit && prev == cur).state
    // everything downstream reads only the checkpointed labels (and a
    // fresh deg scan) — the edge cache and final frontier are dead
    sc.release(frontiers.last, edges)
    val hist = labels.groupBy($"hop")
      .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_node"))
    val unreached = nodes.join(labels, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_node"))
      .select(lit(-1).as("hop"), $"n_nodes", $"sum_node")
      .where($"n_nodes" > 0)
    val out = hist.unionByName(unreached)
      .select($"hop".as("hops"), $"n_nodes", $"sum_node")
      .orderBy($"hops")
    // seal: the hop histogram is tiny; the node-sized labels
    // checkpoint must not be what the caller inherits
    sc.seal(out)
  }

  /** q145: personalized PageRank (PPR) — the seeded variant of q104:
    * the 15% restart mass returns to a SEED SET (customers with
    * custkey % 10 = 0) instead of spreading uniformly, so rank
    * concentrates around the seeds and answers "how close is this
    * node to the trusted set" — the trust-propagation/seed-expansion
    * primitive of web-spam and data-curation pipelines (TrustRank,
    * Gyöngyi et al., VLDB'04). Same scaled-integer arithmetic as
    * q104 (Total = 1e12, contributions `rank DIV degree`, damping
    * `(85·cs) DIV 100`) so DuckDB reproduces every division exactly.
    *
    * Unlike q104, the rank vector is SPARSE: only nodes reachable
    * from the seeds appear (absent node = rank 0). Work per
    * iteration is proportional to the FRONTIER's out-edges, not the
    * graph — at 100 TB a 3-hop PPR from a small seed set touches a
    * tiny graph fraction, and the per-iteration shape (one keyed
    * join + one aggregation shuffle, seed base re-added by a
    * node-keyed union-aggregate) preserves that sparsity; no
    * full-node-set scan anywhere after seed selection.
    */
  val q145_ppr: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val Total = 1000000000000L
    val (cs, deg) = BipartiteGraph.staged(spark, dir)
    val edges = BipartiteGraph.fanOut(spark, BipartiteGraph.edgesOf(cs))
    val edgesDeg = sc.persist(edges.join(deg, "src"))
    val seeds = sc.persist(deg.select($"src".as("node"))
      .where($"node" % 2 === 0 && expr("(node DIV 2) % 10 = 0")))
    val nS = seeds.count()
    require(nS > 0, s"q145: no seed customers under $dir")
    val sbase = Total * 15 / 100 / nS
    val init = seeds.select($"node", lit(Total / nS).as("rank"))
    val ranked = (1 to 3).foldLeft(init) { (r, _) =>
      edgesDeg
        .join(r.withColumnRenamed("node", "src"), "src")
        .select($"dst", expr("rank DIV degree").as("contrib"))
        .groupBy($"dst").agg(sum($"contrib").as("cs2"))
        .select($"dst".as("node"), expr("(85 * cs2) DIV 100").as("v"))
        .unionByName(seeds.select($"node", lit(sbase).as("v")))
        .groupBy($"node").agg(sum($"v").as("rank"))
    }
    // seal the final sparse rank vector (node-count rows, tiny
    // relative to the edge list) so the edge caches die with the scope
    sc.seal(ranked).orderBy($"node")
  }

  /** q163: LOCAL PPR by synchronous forward-push (Andersen, Chung &
    * Lang, FOCS'06) — the 100 TB twin q145's scaladoc calls for. q145
    * is 3 rounds of damped power iteration: every round touches every
    * edge incident to ANY ranked node, so its per-round cost grows
    * with the reached set whether or not the new mass there matters.
    * Forward-push instead keeps an (estimate, residual) pair per node
    * and each round pushes ONLY nodes whose residual exceeds
    * `degree x EPS`: alpha of the pushed residual settles into the
    * estimate, the rest spreads to neighbors, and the loop's total
    * work is bounded by 1/(alpha x eps) PUSHED MASS, independent of
    * graph size (ACL'06 Lemma 2) — the right primitive when the graph
    * is 100 TB and the answer is a local neighborhood of a small seed
    * set. The estimate is a pointwise UNDERestimate of the true PPR
    * (unpushed residual is exactly the mass not yet distributed), so
    * downstream trust-propagation thresholds are conservative —
    * pinned against a converged double-precision PPR in AnalyticsSpec.
    *
    * Same integer discipline as q145 (Total = 1e12, alpha = 15%,
    * per-edge spread `(85 x res) DIV (100 x degree)`, truncation only
    * ever loses mass), and the push/hold split is a deterministic
    * integer comparison — so the 6 synchronous rounds unroll into an
    * exact DuckDB oracle (the q156 device) and the gate is
    * hash-green, not rows-only. Output carries both `est` and the
    * undistributed `res` so the caller sees the approximation bound
    * it is accepting (est + res column sums bracket the seed mass).
    *
    * Scale shape: per round ONE edge⋈frontier join keyed on src plus
    * ONE node-sized aggregate of (res, est); the frontier is the
    * pushed set only. The rounds run through [[graft.Fixpoint]]: the
    * estimate rides the round state beside the residual, so a round's
    * checkpoint (node, res, est, degree, pushes) is all the next round
    * and the output read, and the previous round is released as soon
    * as the next is materialized — a push holds at most two rounds,
    * and the output is one projection of the last. Every estimate is a
    * BIGINT sum of integer DIV terms, so the order in which the rounds
    * fold it changes no bit. Rounds whose push set is
    * EMPTY leave the state unchanged (no spread, no estimate
    * contribution, and every row re-aggregates to its own values), so
    * the loop exits early at that fixed point — identical output to
    * running all 6 rounds, which is what the unrolled 6-round oracle
    * computes. ONE driver-synchronous action per round: the `npush`
    * witness counts the rows the next round pushes DURING the round's
    * own checkpoint job, so the fixed-point probe costs no job of its
    * own, and round 0 is a lazy projection of the seeds cache, so a
    * push that stops after k pushing rounds runs k checkpoint jobs;
    * query-local caches dropped before return.
    */
  /** The integer walk-mass scale and push threshold shared by the
    * batch push, both streaming gates, and the approximate gate's
    * published error contract (|est − π| <= [[PprEps]]·degree).
    */
  private[graft] val PprTotal = 1000000000000L
  private[graft] val PprEps = 1000000L

  val q163_ppr_forward_push: Q = (spark, dir) =>
    pprForwardPush(spark, dir, earlyExit = true)

  private[graft] def pprForwardPush(spark: org.apache.spark.sql.SparkSession,
      dir: String, earlyExit: Boolean): org.apache.spark.sql.DataFrame = {
    val (cs, deg) = BipartiteGraph.staged(spark, dir)
    // strict: in the BATCH path an empty seed set can only mean the
    // staged graph is damaged — fail loudly rather than bench an
    // empty snapshot (round-11 ADVICE follow-through; the streaming
    // twin keeps the lenient path, where early batches legitimately
    // hold no seed-pattern nodes yet)
    forwardPush(spark, cs, deg, earlyExit, strictSeeds = true)
  }

  /** The forward-push core over an explicit (pair index, degree
    * table) — shared by q163 (staged graph) and the streaming twin
    * ([[graft.streaming.GraphStream]]), which maintains the pair and
    * degree stores incrementally and refreshes this snapshot per
    * micro-batch.
    */
  /** `nSOverride`: run the push over a SUBGRAPH (a union of connected
    * components) while keeping the GLOBAL seed count's initial mass
    * Total/nS — the component-exact refresh device
    * ([[graft.streaming.GraphStream]]): components exchange no mass and
    * the push/hold threshold is node-local, so the subgraph run's state
    * after round k equals the full run's restriction to it, and a
    * subgraph whose push set empties is frozen in the full run too
    * (q163's fixed-point note) — bit-identical output, including
    * under earlyExit. An empty LOCAL seed set under an override is a
    * legitimate seedless component (empty output, no warning), not the
    * damaged-graph condition the nS == 0 branch guards.
    */
  private[graft] def forwardPush(spark: org.apache.spark.sql.SparkSession,
      cs: org.apache.spark.sql.DataFrame, deg: org.apache.spark.sql.DataFrame,
      earlyExit: Boolean, strictSeeds: Boolean = false,
      maxRounds: Int = 6,
      nSOverride: Option[Long] = None): org.apache.spark.sql.DataFrame = Scope { sc =>
    import spark.implicits._
    val Total = PprTotal
    val Eps = PprEps // a row pushes when res > degree x 1e6, i.e. 1e-6 of the walk mass
    // the pushing node's degree rides ON the frontier row (node-sized),
    // so the big edge list needs no degree join at all — round 8
    // persisted edges⋈deg and paid that join's materialization
    val edges = sc.persist(BipartiteGraph
      .fanOut(spark, BipartiteGraph.edgesOf(cs)))
    val degN = deg.select($"src".as("node"), $"degree")
    val seeds = sc.persist(degN.where(BipartiteGraph.isPprSeed($"node")))
    val nS = nSOverride.getOrElse(seeds.count())
    if (nS == 0) {
      // Batch q163 passes strictSeeds = true: there an empty seed set
      // means staged-graph data damage, and a silently-fast empty
      // bench line would mask it — fail the query.
      if (strictSeeds)
        throw new IllegalStateException(
          "graft.GraphOps.forwardPush(strictSeeds): empty seed set - " +
            "the staged graph holds no seed-pattern nodes; refusing to " +
            "return an empty PPR snapshot from the batch path")
      // No seed-pattern nodes yet — legitimate in the streaming twin's
      // early micro-batches, where the accumulated degree store may
      // hold only odd customer keys. An empty snapshot (all walk mass
      // undefined) is the correct PPR of an empty seed set; throwing
      // here would kill the whole streaming query from inside
      // foreachBatch (round-9 ADVICE #3).
      System.err.println(
        "WARN graft.GraphOps.forwardPush: empty seed set - returning an " +
          "empty PPR snapshot (legitimate only for an early streaming batch)")
      spark.range(0)
        .select($"id".as("node"), $"id".as("est"), $"id".as("res"))
    } else {
      def withPushes(s: org.apache.spark.sql.DataFrame) =
        s.withColumn("pushes", $"res" > $"degree" * Eps)
      // round 0: the seeds' uniform mass, a lazy projection of the
      // seeds cache that round 1's checkpoint job reads
      val init = Fixpoint.Round(withPushes(seeds.select($"node",
        lit(Total / nS).as("res"), lit(0L).as("est"), $"degree")))
      // a pushing row settles 15% of its residual into its estimate and
      // spreads the rest along its edges; every other row holds. The
      // witness counts the rows the NEXT round pushes.
      val last = Fixpoint.iterate(sc, init, maxRounds) { prev =>
        val spread = edges
          .join(prev.where($"pushes").select($"node".as("src"), $"res", $"degree"), "src")
          .select($"dst".as("node"),
            expr("(85 * res) DIV (100 * degree)").as("res"), lit(0L).as("est"))
        withPushes(prev
          .select($"node", when($"pushes", lit(0L)).otherwise($"res").as("res"),
            when($"pushes", expr("est + (15 * res) DIV 100")).otherwise($"est").as("est"))
          .unionByName(spread)
          .groupBy($"node").agg(sum($"res").as("res"), sum($"est").as("est"))
          .join(degN, "node"))
      }(count(when($"pushes", lit(1))).as("npush"))(
        (_, w) => earlyExit && w.getLong(0) == 0L).state
      sc.seal(last.select($"node", $"est", $"res")).orderBy($"node")
    }
  }

  /** q156: synchronous label propagation community detection
    * (Raghavan et al. 2007) — 4 rounds, every node adopts the most
    * frequent label among its NEIGHBORS with ties to the smallest
    * label (the deterministic variant; the async/random classic is
    * not reproducible cross-engine). Output is the community
    * histogram with a membership checksum. Complements q77/q91:
    * connected components finds "linked at all", LP finds densely
    * linked regions WITHIN a component.
    *
    * Scale shape: per round, one edge⋈labels join, one (node, label)
    * count aggregate with map-side combine, one max_by argmax per
    * node — no window sort. The rounds run through [[graft.Fixpoint]].
    * At 100 TB: the edge list shuffles once per round on src;
    * bucketing it on src makes every round zero-exchange on that side
    * (q123 economics).
    */
  val q156_label_propagation: Q = (spark, dir) =>
    labelPropagation(spark, dir, earlyExit = true)

  private[graft] def labelPropagation(spark: org.apache.spark.sql.SparkSession,
      dir: String, earlyExit: Boolean): org.apache.spark.sql.DataFrame = Scope { sc =>
    import spark.implicits._
    val (cs, deg) = BipartiteGraph.staged(spark, dir)
    val edges = sc.persist(BipartiteGraph
      .fanOut(spark, BipartiteGraph.edgesOf(cs)))
    val init = Fixpoint.Round(sc.ckpt(deg.select($"src".as("node"), $"src".as("lbl"))))
    // the adopted labels are exactly the full join's non-null `lbl`
    // rows (max_by over non-null neighbor labels is never null, so no
    // adopted row is lost; prev-only rows are the vanished ones)
    def adopted(round: org.apache.spark.sql.DataFrame) =
      round.where($"lbl".isNotNull).select($"node", $"lbl")
    // labels are a deterministic function of the previous round's
    // labels, so an UNCHANGED label table is a fixed point and every
    // remaining round is a no-op — exit there (pinned equal to the
    // always-run loop in AnalyticsSpec). The previous round's label
    // rides the new label table as a `prev` column (a full join of two
    // node-sized tables), so the witness counts the changed, appeared
    // and vanished labels.
    val labels = adopted(Fixpoint.iterate(sc, init, maxRounds = 4) { round =>
      val labels = adopted(round)
      edges
        .join(labels.withColumnRenamed("node", "src")
          .withColumnRenamed("lbl", "slbl"), "src")
        .groupBy($"dst", $"slbl").agg(count(lit(1)).as("c"))
        .groupBy($"dst")
        .agg(max_by($"slbl", struct($"c", -$"slbl")).as("lbl"))
        .select($"dst".as("node"), $"lbl")
        .join(labels.withColumnRenamed("lbl", "prev"), Seq("node"), "full")
    }(count(when($"lbl".isNull || $"prev".isNull || $"lbl" =!= $"prev",
      lit(1))).as("nchanged"))((_, cur) => earlyExit && cur.getLong(0) == 0L).state)
    // the per-round eager checkpoints mean the final labels no longer
    // reference the edge cache — drop it before returning
    sc.release(edges)
    val out = labels.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"), sum($"node").as("sum_node"))
      .orderBy($"community")
    // seal: community histogram is tiny vs the node-sized label table
    sc.seal(out)
  }

  private val lpOracle: String = {
    val head =
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM cs
        |      UNION ALL SELECT s AS src, c AS dst FROM cs),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)""".stripMargin
    val steps = (1 to 4).map { i =>
      s"""l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT e.dst AS node, l.lbl, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.lbl) AS rn
         |    FROM e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.lbl) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$steps
       |SELECT lbl AS community, COUNT(*) AS n_members,
       |  CAST(SUM(node) AS BIGINT) AS sum_node
       |FROM l4 GROUP BY lbl ORDER BY community""".stripMargin
  }

  private val pprOracle: String = {
    val head =
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM cs
        |      UNION ALL SELECT s AS src, c AS dst FROM cs),
        |deg AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, d.degree FROM e JOIN deg d ON e.src = d.src),
        |seeds AS (SELECT src AS node FROM deg
        |          WHERE src % 2 = 0 AND (src // 2) % 10 = 0),
        |p AS (SELECT COUNT(*) AS ns FROM seeds),
        |r0 AS (SELECT node,
        |         (SELECT 1000000000000 // ns FROM p) AS rank FROM seeds)""".stripMargin
    val steps = (1 to 3).map { i =>
      s"""r$i AS (
         |  SELECT node, CAST(SUM(v) AS BIGINT) AS rank FROM (
         |    SELECT ed.dst AS node,
         |      (85 * SUM(r.rank // ed.degree)) // 100 AS v
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.node GROUP BY ed.dst
         |    UNION ALL
         |    SELECT node,
         |      (SELECT (1000000000000 * 15 // 100) // ns FROM p) FROM seeds) t
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$steps
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin
  }

  private val pushOracle: String = {
    val head =
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM cs
        |      UNION ALL SELECT s AS src, c AS dst FROM cs),
        |deg AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, d.degree FROM e JOIN deg d ON e.src = d.src),
        |seeds AS (SELECT src AS node FROM deg
        |          WHERE src % 2 = 0 AND (src // 2) % 10 = 0),
        |ns AS (SELECT COUNT(*) AS n FROM seeds),
        |p0 AS (SELECT CAST(NULL AS BIGINT) AS node, CAST(NULL AS BIGINT) AS est
        |       WHERE FALSE),
        |r0 AS (SELECT node,
        |         (SELECT 1000000000000 // n FROM ns) AS res FROM seeds)""".stripMargin
    val steps = (1 to 6).map { i =>
      s"""push$i AS (
         |  SELECT r.node, r.res FROM r${i - 1} r JOIN deg d ON r.node = d.src
         |  WHERE r.res > d.degree * 1000000),
         |hold$i AS (
         |  SELECT r.node, r.res FROM r${i - 1} r JOIN deg d ON r.node = d.src
         |  WHERE r.res <= d.degree * 1000000),
         |p$i AS (
         |  SELECT node, CAST(SUM(est) AS BIGINT) AS est FROM (
         |    SELECT node, est FROM p${i - 1}
         |    UNION ALL SELECT node, (15 * res) // 100 FROM push$i) t
         |  GROUP BY node),
         |r$i AS (
         |  SELECT node, CAST(SUM(res) AS BIGINT) AS res FROM (
         |    SELECT node, res FROM hold$i
         |    UNION ALL
         |    SELECT ed.dst AS node, (85 * pu.res) // (100 * ed.degree) AS res
         |    FROM ed JOIN push$i pu ON ed.src = pu.node) t
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$steps
       |SELECT node, CAST(SUM(est) AS BIGINT) AS est,
       |  CAST(SUM(res) AS BIGINT) AS res
       |FROM (SELECT node, est, 0 AS res FROM p6
       |      UNION ALL SELECT node, 0 AS est, res FROM r6) t
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** q168: HITS hubs & authorities (Kleinberg, JACM 1999) on the
    * DIRECTED bipartite customer→supplier graph — customers score as
    * hubs (they point at good suppliers), suppliers as authorities.
    * Two mutual-reinforcement rounds, L1-normalized.
    *
    * Integer-exact discipline (the q104/q145 stance, which is what
    * makes the unrolled SQL oracle hash-exact): scores live as
    * parts-per-1e9 longs; each half-round is ONE equi-join on the
    * staged pair index + one map-side-combined aggregate, then the L1
    * normalization divides by the total, collected to the driver in
    * the same job that materializes the half-round's cache (never a
    * second shuffle). L2 — the paper's normalization — needs a square
    * root, so the L1 variant is the deterministic fixture; the
    * ranking it induces per side is identical at every round because
    * normalization is a positive scalar either way.
    *
    * At 100 TB: per round 2 joins keyed by the pair index's own keys,
    * partial aggregation before each exchange, a driver-collected
    * 1-row total — the same shape as one PageRank iteration, and the
    * staged-parquet graph is shared with every other traversal query.
    */
  val q168_hits: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val S = 1000000000L
    // the pair index is referenced 4x (2 rounds x 2 sides) as a cheap
    // staged-parquet scan; at cluster scale persist it fanned-out —
    // at bench scale the re-scan is cheaper than a 32-wide cache
    val (cs, _) = BipartiteGraph.staged(spark, dir)
    // Each half-step's raw sums are cached and their L1 total is
    // collected in the SAME job that materializes the cache; the total
    // then enters the normalization as a LITERAL — identical DECIMAL
    // arithmetic to the round-17 crossJoin(broadcast(agg)) shape (the
    // sum is the same BIGINT either way) at half the driver actions:
    // no per-step broadcast-exchange job, no per-step checkpoint job,
    // and the normalized side stays a lazy projection over the cache
    // (it is consumed exactly once, by the next half-step). persist
    // (not localCheckpoint + observe, which was measured SLOWER here:
    // the tiny aggregate checkpoints at 1 post-AQE partition and the
    // next half-step's join serializes on that scan, while the cache
    // keeps the aggregate's full width).
    def l1norm(rawDf: org.apache.spark.sql.DataFrame, key: String) = {
      val raw = sc.persist(rawDf)
      val totRow = raw.agg(sum($"raw")).head()
      // empty input ⇒ null sum ⇒ zero rows to normalize: the literal's
      // value is never evaluated, any placeholder avoids the ANSI
      // division-by-null difference
      val tot = if (totRow.isNullAt(0)) 1L else totRow.getLong(0)
      raw.select(col(key).as("node"),
        expr(s"CAST(CAST(raw AS DECIMAL(38,0)) * $S DIV CAST($tot AS DECIMAL(38,0)) AS BIGINT)")
          .as("score"))
    }
    var hub = cs.select($"c").distinct()
      .select($"c".as("node"), lit(S).as("score"))
    var auth = spark.emptyDataFrame
    for (_ <- 1 to 2) {
      auth = l1norm(
        cs.join(hub.withColumnRenamed("node", "c"), "c")
          .groupBy($"s").agg(sum($"score").as("raw")), "s")
      hub = l1norm(
        cs.join(auth.withColumnRenamed("node", "s"), "s")
          .groupBy($"c").agg(sum($"score").as("raw")), "c")
    }
    val out = hub.select(lit("hub").as("side"), $"node", $"score")
      .union(auth.select(lit("auth").as("side"), $"node", $"score"))
      .orderBy($"side", $"node")
    // seal the (2 x nodes)-row result; the per-step raw caches die
    // with the scope
    sc.seal(out)
  }

  /** q174: k-core peeling (Seidman 1983; the standard graph-curation
    * primitive — link-spam and low-engagement filtering keep only the
    * subgraph where every node retains ≥ K partners AFTER its weak
    * neighbors are gone, which single-pass degree filtering cannot
    * decide). Four synchronous peeling rounds on the staged
    * customer–supplier pair index: per round, both sides' degrees are
    * ONE map-side-combined aggregate each, and the edge set shrinks
    * via two semi-join-shaped filters; the shrinking edge set is
    * checkpointed per round by [[graft.Fixpoint]] (flat plans,
    * monotone work). Reports (nodes, edges) per round —
    * the fixed-point diagnostic a curation pipeline actually reads.
    * At 100 TB each round is two degree aggregates + two joins keyed
    * by the edge list's own columns; rounds-to-converge is bounded by
    * the peeling depth, not graph size.
    */
  val q174_kcore: Q = (spark, dir) => kcore(spark, dir, earlyExit = true)

  private[graft] def kcore(spark: org.apache.spark.sql.SparkSession,
      dir: String, earlyExit: Boolean): org.apache.spark.sql.DataFrame = Scope { sc =>
    import spark.implicits._
    val rounds = 4
    val (cs, _) = BipartiteGraph.staged(spark, dir)
    // k = half the mean customer degree (floor-of-floor, mirrored by
    // the oracle's subquery): a FIXED k either prunes nothing or
    // everything as the scale factor moves the degree distribution —
    // the threshold has to come from the graph itself
    val base = cs.agg(count(lit(1)).as("ne"),
      countDistinct($"c").as("nc")).collect()(0)
    val k = math.max(base.getLong(0) / base.getLong(1) / 2, 1L)
    val init = cs.select($"c", $"s")
    // distinct counts cannot be observation metrics, so the node count
    // is one more job per round, over the just-checkpointed blocks
    def nodeCount(edges: org.apache.spark.sql.DataFrame) =
      edges.select($"c".as("n")).union(edges.select($"s".as("n"))).distinct().count()
    val nodeCounts = Seq.newBuilder[Long]
    // the edge set only ever SHRINKS, so an unchanged edge COUNT means
    // the keep-filters pruned nothing and every remaining round is the
    // identical fixed point — fill those rows without running the
    // joins (pinned round-for-round equal to the always-run loop in
    // AnalyticsSpec; the oracle unrolls all 4 rounds either way)
    val peel = Fixpoint.iterate(sc, Fixpoint.Round(init), rounds) { edges =>
      // count the previous round's nodes before its checkpoint is
      // released; round 1 reads the lazy staged scan, not a round
      if (edges ne init) nodeCounts += nodeCount(edges)
      val keepC = edges.groupBy($"c").agg(count(lit(1)).as("dc"))
        .where($"dc" >= k).select($"c")
      val keepS = edges.groupBy($"s").agg(count(lit(1)).as("ds"))
        .where($"ds" >= k).select($"s")
      edges.join(keepC, "c").join(keepS, "s")
    }(count(lit(1)).as("ne"))((prev, cur) => earlyExit && prev == cur)
    nodeCounts += nodeCount(peel.state)
    // fixed point: replicate the settled counts for the rest
    val perRound = nodeCounts.result().zip(peel.witnesses.tail.map(_.getLong(0)))
    (perRound ++ Seq.fill(rounds - perRound.size)(perRound.last)).zipWithIndex
      .map { case ((nn, ne), i) => (i + 1, nn, ne) }
      .toDF("round", "n_nodes", "n_edges").orderBy($"round")
  }

  /** q175: degree assortativity (Newman 2002) — the Pearson
    * correlation of endpoint degrees over the symmetric edge list,
    * THE one-number summary of whether hubs attach to hubs (r > 0,
    * social-graph shape) or to leaves (r < 0, bipartite/star shape —
    * this customer–supplier graph should be strongly negative).
    * Plan: degree table joined onto both edge endpoints (degree table
    * is node-sized), then ONE moment aggregate — all sums exact
    * BIGINTs (degrees are integers), one double conversion, round 6
    * (the q110 parity device).
    */
  val q175_assortativity: Q = (spark, dir) => {
    import spark.implicits._
    val (cs, deg) = BipartiteGraph.staged(spark, dir)
    val edges = cs.select($"c".as("src"), $"s".as("dst"))
      .union(cs.select($"s".as("src"), $"c".as("dst")))
    val m = edges
      .join(deg.select($"src", $"degree".as("x")), "src")
      .join(deg.select($"src".as("dst"), $"degree".as("y")), "dst")
      .agg(count(lit(1)).as("n_edges"),
        count(lit(1)).cast("double").as("n"),
        sum($"x").cast("double").as("sx"),
        sum($"y").cast("double").as("sy"),
        sum($"x" * $"y").cast("double").as("sxy"),
        sum($"x" * $"x").cast("double").as("sxx"),
        sum($"y" * $"y").cast("double").as("syy"))
    m.select($"n_edges",
      round(($"n" * $"sxy" - $"sx" * $"sy") /
        (sqrt($"n" * $"sxx" - $"sx" * $"sx") *
         sqrt($"n" * $"syy" - $"sy" * $"sy")), 6).as("assortativity"))
  }

  private val assortOracle: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT c AS src, s AS dst FROM cs
      |      UNION ALL SELECT s AS src, c AS dst FROM cs),
      |d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src),
      |m AS (
      |  SELECT COUNT(*) AS n_edges,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(dx.degree) AS DOUBLE) AS sx,
      |    CAST(SUM(dy.degree) AS DOUBLE) AS sy,
      |    CAST(SUM(dx.degree * dy.degree) AS DOUBLE) AS sxy,
      |    CAST(SUM(dx.degree * dx.degree) AS DOUBLE) AS sxx,
      |    CAST(SUM(dy.degree * dy.degree) AS DOUBLE) AS syy
      |  FROM e JOIN d dx ON e.src = dx.src JOIN d dy ON e.dst = dy.src)
      |SELECT CAST(n_edges AS BIGINT) AS n_edges,
      |  ROUND((n * sxy - sx * sy) /
      |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      |    AS assortativity
      |FROM m""".stripMargin

  /** q174's oracle: the four peeling rounds unrolled as MATERIALIZED
    * CTEs (each e{r} is the prior edge set filtered to both sides'
    * surviving-degree nodes).
    */
  private val kcoreOracle: String = {
    val rounds = 4
    val steps = (1 to rounds).map { r =>
      s"""kc$r AS MATERIALIZED (
         |  SELECT c FROM e${r - 1} GROUP BY c
         |  HAVING COUNT(*) >= (SELECT k FROM kk)),
         |ks$r AS MATERIALIZED (
         |  SELECT s FROM e${r - 1} GROUP BY s
         |  HAVING COUNT(*) >= (SELECT k FROM kk)),
         |e$r AS MATERIALIZED (
         |  SELECT e.c, e.s FROM e${r - 1} e
         |  JOIN kc$r USING (c) JOIN ks$r USING (s))""".stripMargin
    }
    val sel = (1 to rounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT COUNT(*) FROM (
         |     SELECT c AS n FROM e$r UNION SELECT s AS n FROM e$r)) AS n_nodes,
         |  (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |kk AS MATERIALIZED (
       |  SELECT GREATEST(COUNT(*) // COUNT(DISTINCT c) // 2, 1) AS k
       |  FROM e0),
       |""".stripMargin + steps.mkString(",\n") + "\n" + sel + "\nORDER BY round"
  }

  /** q168's oracle: the two rounds unrolled; HUGEINT (not DECIMAL)
    * arithmetic because DuckDB's `//` on DECIMAL operands rounds the
    * intermediate division before flooring, while Spark's DIV
    * truncates the exact quotient.
    */
  private val hitsOracle: String = {
    val S = 1000000000L
    def norm(src: String, key: String) =
      s"""SELECT $key AS node,
         |  CAST(CAST(raw AS HUGEINT) * $S //
         |    (SELECT CAST(SUM(raw) AS HUGEINT) FROM $src) AS BIGINT) AS score
         |FROM $src""".stripMargin
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT DISTINCT c AS node, $S AS score FROM cs),
       |a1r AS MATERIALIZED (
       |  SELECT s, SUM(score) AS raw FROM cs JOIN h0 ON cs.c = h0.node GROUP BY s),
       |a1 AS MATERIALIZED (${norm("a1r", "s")}),
       |h1r AS MATERIALIZED (
       |  SELECT c, SUM(score) AS raw FROM cs JOIN a1 ON cs.s = a1.node GROUP BY c),
       |h1 AS MATERIALIZED (${norm("h1r", "c")}),
       |a2r AS MATERIALIZED (
       |  SELECT s, SUM(score) AS raw FROM cs JOIN h1 ON cs.c = h1.node GROUP BY s),
       |a2 AS MATERIALIZED (${norm("a2r", "s")}),
       |h2r AS MATERIALIZED (
       |  SELECT c, SUM(score) AS raw FROM cs JOIN a2 ON cs.s = a2.node GROUP BY c),
       |h2 AS MATERIALIZED (${norm("h2r", "c")})
       |SELECT 'hub' AS side, node, score FROM h2
       |UNION ALL
       |SELECT 'auth' AS side, node, score FROM a2
       |ORDER BY side, node""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q134_bfs_hops" -> q134_bfs_hops,
    "q145_ppr" -> q145_ppr,
    "q156_label_propagation" -> q156_label_propagation,
    "q163_ppr_forward_push" -> q163_ppr_forward_push,
    "q168_hits" -> q168_hits,
    "q174_kcore" -> q174_kcore,
    "q175_assortativity" -> q175_assortativity)

  val oracles: Map[String, String] = Map(
    "q145_ppr" -> pprOracle,
    "q168_hits" -> hitsOracle,
    "q174_kcore" -> kcoreOracle,
    "q175_assortativity" -> assortOracle,
    "q163_ppr_forward_push" -> pushOracle,
    "q156_label_propagation" -> lpOracle,
    "q134_bfs_hops" ->
      // recursive-CTE BFS: UNION (not UNION ALL) dedups (node, hop)
      // pairs so the frontier is bounded by nodes x 5 hops; MIN(hop)
      // then collapses to the BFS level. The -1 row only exists when
      // some node is unreachable (HAVING guard, mirrored by the
      // Spark side's n_nodes > 0 filter).
      """WITH RECURSIVE cs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM cs
        |      UNION ALL SELECT s AS src, c AS dst FROM cs),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |bfs(node, hop) AS (
        |  SELECT node, 0 FROM nodes WHERE node <= 20 AND node % 2 = 0
        |  UNION
        |  SELECT e.dst, b.hop + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.hop < 4),
        |lab AS (SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node),
        |hist AS (
        |  SELECT hop AS hops, COUNT(*) AS n_nodes, SUM(node) AS sum_node
        |  FROM lab GROUP BY hop
        |  UNION ALL
        |  SELECT -1, COUNT(*), SUM(node) FROM nodes
        |  WHERE node NOT IN (SELECT node FROM lab) HAVING COUNT(*) > 0)
        |SELECT CAST(hops AS INTEGER) AS hops, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(sum_node AS BIGINT) AS sum_node
        |FROM hist ORDER BY hops""".stripMargin)
}
