package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the PHYSICAL PLAN shapes that make key queries scale — the
  * properties PLANS.md documents, as executable assertions. Correctness
  * gates catch wrong answers; these catch a future edit silently
  * trading a map-only kernel or a pushed filter for a full shuffle,
  * which stays invisible at test SF and catastrophic at 100 TB.
  *
  * Assertions run on the compiled plan string (no execution needed:
  * pushdown, broadcast choice, and partial aggregation are decided at
  * planning time; AQE only refines exchanges afterwards).
  */
class PlanInvariantsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q01: aggregation is partial (map-side combine) before its one shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), s"no map-side partial agg:\n$p")
    // one hash shuffle for the agg + one range shuffle for the
    // presentation sort, no more (broadcast/reused exchanges excluded:
    // they are not shuffles)
    assert(countOf(p, "Exchange hashpartitioning") <= 1 &&
      countOf(p, "Exchange rangepartitioning") <= 1, s"extra shuffles:\n$p")
  }

  test("q04: theta filter reaches the parquet scan; both dims broadcast") {
    val p = plan("q04_theta_join")
    assert(p.contains("PushedFilters") && p.contains("LessThan"),
      s"theta predicate not pushed to scan:\n$p")
    assert(countOf(p, "BroadcastHashJoin") == 2,
      s"dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side shuffled for a dim join:\n$p")
  }

  test("q07: top-k is TakeOrderedAndProject, not sort-then-limit") {
    val p = plan("q07_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for a top-k:\n$p")
  }

  test("q47: IVF corpus assignment is map-only (kernel, no row inflation)") {
    val p = plan("q47_knn_ivf")
    assert(p.contains("best_cell"), s"assignment kernel missing:\n$p")
    // corpus path: scan -> project(best_cell) -> broadcast-join probes.
    // Shuffles allowed only for the per-query top-k ranking + sort.
    assert(countOf(p, "Exchange hashpartitioning") <= 1,
      s"corpus-side shuffle crept into IVF assignment:\n$p")
  }

  test("q53/q63: heap aggregate runs partial before the exchange") {
    Seq("q53_topk_agg", "q63_bottomk_sample").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_top_k_by"),
        s"$q: k-heap not combining map-side:\n$p")
    }
  }

  test("q66: corpus gram stream feeds a broadcast semi join, never a shuffle") {
    val p = plan("q66_decontaminate")
    assert("""BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], LeftSemi""".r
      .findFirstIn(p).isDefined, s"semi join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"gram stream shuffled:\n$p")
  }

  test("q29: LSH band join moves only (doc_id, band, key) tuples") {
    val p = plan("q29_dedup_minhash")
    // the text column must be pruned off the band-join inputs: grams are
    // re-derived only for the verified candidate pairs
    assert(p.contains("min_hash_bands"), s"band kernel missing:\n$p")
  }

  test("q67: interval join is a binned equi-join on chunk-pair keys, not a nested loop") {
    // lazy scope: the shipped query seals its output behind a
    // checkpoint (Scope.seal), which would hide the join shape
    val p = graft.operators.Extras.intervalJoinOn(spark, sf,
      3600L * 1000000L, 1024L, Scope.Lazy)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval predicate planned as a cross product:\n$p")
    // the self-join must key on the COMPOUND (bucket, ca, cb) — keying
    // on the bucket alone makes one globally busy hour one unsplittable
    // key group (ScaleSpec proves the per-group bound on a hot fixture)
    assert("""Join \[bucket#\d+L?, ca#\d+, cb#\d+\]""".r.findFirstIn(p).isDefined,
      s"chunk-pair keys missing from the self-join:\n$p")
  }

  test("q75: vocabulary is the broadcast side; the word stream is never sort-merge joined") {
    val p = plan("q75_unigram_quality")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus word stream shuffled for the scoring join:\n$p")
  }

  test("q76: sketch candidates feed a broadcast semi join; no full-vocab shuffle before it") {
    val p = plan("q76_heavy_hitters")
    assert(p.contains("heavy_hitters"), s"MG aggregate missing:\n$p")
    assert("""BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], LeftSemi""".r
      .findFirstIn(p).isDefined, s"candidate set not broadcast-semi joined:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream shuffled for a join:\n$p")
  }

  test("q136: SRP pairs meet in a chunk equi-join, never a cross product") {
    val p = plan("q136_srp_sketch")
    // code derivation is codegen'd integer math on the scan side; the
    // only pairing mechanism allowed is the (chunk_idx, chunk_value)
    // equi-join — a regression to all-pairs would show up as a
    // cartesian/nested-loop node
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    // At test SF the pairing side broadcasts (fine: the derivation is
    // a map-only scan). At cluster scale the join is sort-merge and
    // both sides shuffle the SAME code-derivation subplan on
    // (ci, cv) — pin that the planner then reuses one exchange, so
    // the 16-dot derivation runs once with no persist to leak. AQE
    // reuses stages only at runtime, so snapshot the static plan.
    val conf = spark.conf
    val (bt, aqe) = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
      conf.get("spark.sql.adaptive.enabled"))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val pBig = plan("q136_srp_sketch")
      assert(pBig.contains("ReusedExchange"),
        s"SMJ self-join does not reuse the code-derivation exchange:\n$pBig")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", bt)
      conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("q139: candidates meet in the prefix-token equi-join, never a cross product") {
    val p = graft.operators.Dedup.setsimJoin(spark, sf, Scope.Lazy)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    // the global rare-first token rank comes from range-sort +
    // zipWithIndex, never a vocabulary-wide single-partition window —
    // the engine's last single-task stage, removed in round 8
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition stage (vocabulary rank window?) in plan:\n$p")
  }

  test("q144: containment candidates meet in the probe-gram equi-join, never a cross product") {
    val p = graft.operators.Dedup.containmentJoin(spark, sf, Scope.Lazy)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
  }

  test("q192: winnow selection is a per-doc window; no cross product anywhere") {
    val p = graft.operators.Dedup.winnowScrub(spark, sf, Scope.Lazy)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    // the window-min selection must partition by doc_id — a global
    // (empty-partition) window would be a single-task whale
    assert(p.contains("Window"), s"no window-min selection in plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition stage (global window?) in plan:\n$p")
  }

  test("q193: source pairs expand map-side from the per-fp source array, never a fp self-join") {
    val p = graft.operators.Dedup.sourceContamination(spark, sf, Scope.Lazy)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    // the pair expansion is a Generate over the collected source set —
    // the q160 device; a join keyed on the fingerprint would re-admit
    // the (docs-sharing-a-fp)² blow-up the aggregation exists to avoid
    assert(p.contains("Generate explode"), s"no map-side pair expansion:\n$p")
  }

  test("q196: split pairs expand map-side from the per-fp split set; no doc-pair join") {
    val p = graft.operators.Curation.winnowSplitLeakage(spark, sf, Scope.Lazy)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    // the (split_lo, split_hi) expansion is a Generate over the
    // collected per-fp split set (<= 3 choose 2) — the q193/q160
    // device; a fp self-join would re-admit the quadratic blow-up
    assert(p.contains("Generate explode"), s"no map-side pair expansion:\n$p")
    // the winnow selection stays a per-doc window, never single-task
    assert(!p.contains("Exchange SinglePartition"), s"single-task stage:\n$p")
  }

  test("q166: OLS is one partial-agg shuffle; the solve is projection-only") {
    val p = plan("q166_ols")
    assert(p.contains("partial_sum"), s"no map-side moment partials:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1, s"extra shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"solve left the projection:\n$p")
  }

  test("q167: TV distance scans the corpus once; downstream is vocab-sized") {
    val p = plan("q167_corpus_shift")
    // the word-count table is checkpointed, so the final plan reads NO
    // parquet at all — the corpus crossed the wire exactly once
    assert(countOf(p, "Scan parquet") == 0, s"corpus re-scanned downstream:\n$p")
    // totals agg + per-lang re-agg over the checkpointed vocab table
    assert(countOf(p, "Exchange hashpartitioning") <= 2, s"extra shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"totals join not broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"single-task stage:\n$p")
  }

  test("q169: top-10 paths plan as TakeOrdered, never a full sort") {
    val p = plan("q169_path_trigrams")
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-10:\n$p")
    // one user-window exchange + one path-count exchange
    assert(countOf(p, "Exchange hashpartitioning") <= 2, s"extra shuffles:\n$p")
  }

  test("q172: KS cumulative is band-local — no single-partition sort") {
    val p = plan("q172_ks_test")
    // the only SinglePartition allowed is the final 1-row max
    // reduction, which must be preceded by a map-side partial_max so
    // it moves one row per partition, never the data
    assert(countOf(p, "Exchange SinglePartition") <= 1 && p.contains("partial_max"),
      s"data-sized single-partition stage:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global range sort:\n$p")
    assert(p.contains("Window"), s"band-local cumulative window missing:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"more than the one band exchange:\n$p")
  }

  test("q179: U cumulative is band-local — no global sort, broadcast bases") {
    val p = plan("q179_mann_whitney")
    // same contract as q172: the only SinglePartition is the 1-row
    // contribution fold, fed by a map-side partial_sum
    assert(countOf(p, "Exchange SinglePartition") <= 1 && p.contains("partial_sum"),
      s"data-sized single-partition stage:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global range sort:\n$p")
    assert(p.contains("Window"), s"band-local cumulative window missing:\n$p")
    // the per-distinct-value table is checkpointed upstream; the only
    // visible hash exchange re-clusters it by band for the window
    assert(countOf(p, "Exchange hashpartitioning") <= 1,
      s"more than the band exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"band bases not broadcast:\n$p")
  }

  test("q180: corpus joins the cluster labeling by broadcast, never a shuffle") {
    val p = plan("q180_soft_dedup")
    // the (doc_id -> csize) labeling is pair-graph-sized and must
    // broadcast into the corpus scan; a shuffled left join here would
    // move the whole corpus on doc_id at 100 TB
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftOuter".r
      .findFirstIn(p).isDefined,
      s"labeling not broadcast into the corpus scan:\n$p")
    // the CORPUS join must never be a shuffle join; the pair-graph-
    // sized comp x sizes inner join may compile as SMJ (AQE converts
    // it to broadcast at runtime — both sides are label-table-sized)
    assert("SortMergeJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftOuter".r
      .findFirstIn(p).isEmpty,
      s"corpus shuffled to meet the labeling:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine on the source agg:\n$p")
  }

  test("q184: everything downstream of the cell checkpoint is broadcast-only") {
    val p = plan("q184_mutual_info")
    assert(!p.contains("SortMergeJoin"), s"domain-sized table shuffled to join:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"unexpected sort:\n$p")
  }

  test("q170: attribution is window + explode, never a user-keyed self-join") {
    val p = plan("q170_decay_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"), s"self-join crept in:\n$p")
    assert(p.contains("Generate"), s"credit explode missing:\n$p")
  }

  test("q164: winnowing pairs meet in the fingerprint equi-join; selection is map-only") {
    val p = plan("q164_winnowing")
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    // fingerprint selection happens inside the winnow_set kernel, not
    // via a per-position explode + doc-partitioned window
    assert(!p.contains("Window"), s"window-based selection leaked into the plan:\n$p")
  }

  test("q141: every quality rule evaluates in the one scan, no shuffle") {
    val p = plan("q141_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      s"rule evaluation introduced a shuffle:\n$p")
    assert(!p.contains("Generate"), s"token array exploded:\n$p")
  }

  test("q142: QI audit is one partial-agg shuffle, output bounded by QI domain") {
    val p = plan("q142_k_anonymity")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine before the QI shuffle:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1, s"extra shuffles:\n$p")
  }

  test("q143: corpus never shuffles for MaxSim — queries broadcast, scoring map-only") {
    val p = plan("q143_maxsim")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query batch not broadcast against the corpus scan:\n$p")
    // the only hash exchange allowed is the per-query top-k window on
    // the already-scored rows (q_id has 4 values)
    assert(countOf(p, "Exchange hashpartitioning") <= 1,
      s"corpus-side shuffle crept in:\n$p")
  }

  test("scan-family queries stay map-only (presentation sort aside)") {
    // the per-document text/chunk analyses advertise linear scaling —
    // hold them to it: no hash shuffle anywhere in the plan
    Seq("q24_token_count", "q25_quality_score", "q26_lang_id",
      "q27_fingerprint", "q64_chunking", "q65_data_mix").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q gained a shuffle:\n$p")
    }
  }

  test("q117: matryoshka audit is a pure scan (no shuffle but the sort)") {
    val p = plan("q117_matryoshka")
    assert(!p.contains("Exchange hashpartitioning"), s"q117 gained a shuffle:\n$p")
  }

  test("q115: corpus gram stream probes a broadcast outer join, never a shuffle") {
    val p = plan("q115_contamination_fraction")
    assert(p.contains("BroadcastHashJoin"), s"held-out side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"gram stream shuffled:\n$p")
  }

  test("q116: factor table broadcasts; the doc stream never shuffles") {
    val p = plan("q116_epoch_upsample")
    assert(p.contains("BroadcastHashJoin"), s"factor table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"doc stream shuffled for the factor join:\n$p")
    // shuffles exist only under the factor table's own aggregates —
    // never between the documents scan and the explode
    assert(p.contains("Generate explode"), s"sequence explode missing:\n$p")
  }

  test("q118/q119: one source-keyed window shuffle each, nothing more") {
    Seq("q118_length_trim", "q119_token_budget").foreach { q =>
      val p = plan(q)
      assert(countOf(p, "Exchange hashpartitioning") == 1,
        s"$q should shuffle exactly once (the source window):\n$p")
    }
  }

  test("q02: IN-list predicate is pushed to the scan") {
    val p = plan("q02_select_in")
    assert(p.contains("PushedFilters") && p.contains("In("),
      s"IN-list not pushed:\n$p")
  }

  test("q88: upsert target probes a broadcast anti join, never a shuffle merge") {
    val p = plan("q88_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"batch keys not broadcast into an anti probe:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 100 TB target side shuffled for the merge:\n$p")
  }

  test("q89: packing windows are sharded, never a single global partition") {
    val p = plan("q89_sequence_pack")
    assert(!p.contains("Exchange SinglePartition"),
      s"sequence packing degenerated to one task:\n$p")
  }

  test("q90: posting lists ride the bounded heap with map-side partials") {
    val p = plan("q90_inverted_index")
    assert(p.contains("partial_top_k_by") || p.contains("partial_"),
      s"no partial aggregation before the word shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-terms cut is not TakeOrderedAndProject:\n$p")
  }

  test("q92: quota table broadcasts; the doc stream keeps one (source,id) shuffle") {
    val p = plan("q92_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), s"quotas not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"doc stream sort-merge joined against the tiny quota table:\n$p")
  }

  test("q95: PQ encodes map-only; shuffles exist only for per-query windows") {
    val p = plan("q95_knn_pq")
    // encoding + reconstruction are map-only kernels...
    assert(p.contains("pq_reconstruct") && p.contains("nearest_cell"),
      s"PQ kernels missing from the plan:\n$p")
    // ...so every hash exchange must key on q_id (the shortlist/final
    // windows) — the corpus is never reshuffled on any other key...
    val exchangeKeys = "Exchange hashpartitioning\\(([A-Za-z_]+)"
      .r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty && exchangeKeys.forall(_ == "q_id"),
      s"corpus shuffled on a non-window key ($exchangeKeys):\n$p")
    // ...and the partial WindowGroupLimit bounds what crosses it to
    // 24 rows per query per partition
    assert(p.contains("row_number(), 24, Partial"),
      s"shortlist shuffle not bounded by a partial group limit:\n$p")
  }
}
