package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling audit for the three blocked quadratic operators
  * (q29 minhash bands, q31 length-bucketed n-gram Jaccard, q67 chunked
  * interval join): build a `mult`x fixture DERIVED from a driver
  * tables dir, run each operator at 1x and at `mult`x, and print
  * wall times plus the size drivers (candidate/pair counts, bucket
  * populations) so PLANS.md can cite measured points instead of
  * asymptotic claims.
  *
  * Fixture derivation (deliberately models the growth regime each
  * blocking targets):
  *  - documents: `mult` copies; every word gets a per-copy suffix and
  *    the source is renamed per copy — growth adds NEW domains/content
  *    (the 100 TB regime: more crawl, not the same page over and
  *    over), so copies share no shingles/grams and block COUNT grows
  *    while block SIZE stays put. Near-dup pairs should scale ~
  *    linearly; a quadratic blow-up would falsify the blocking.
  *  - events: `mult` copies with disjoint user ranges and UNCHANGED
  *    timestamps — the same wall-clock hours get `mult`x busier (the
  *    hot-hour regime q67's chunking exists for), so events-per-bucket
  *    grows and the adaptive chunk count must engage.
  *
  * Usage: runMain graft.tools.ScaleAudit [baseDir] [mult] [workDir]
  */
object ScaleAudit {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 8
    val work = if (args.length > 2) args(2) else "/tmp/graft_scale_audit"
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    // ---- derive the mult-x fixture ------------------------------------
    val docs = graft.Tables.load(spark, base, "documents")
    val copies = (0 until mult).map { c =>
      docs.select(
        ($"doc_id" + lit(c.toLong * 10000000L)).as("doc_id"),
        concat_ws(" ",
          transform(split($"text", " "), w => concat(w, lit(s"_$c")))).as("text"),
        $"lang",
        concat($"source", lit(s"_$c")).as("source"),
        $"n_chars")
    }
    copies.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    // funnel fixture (q109): same mult-x disjoint-content growth, but
    // the language-marker / quality-stopword vocabulary is kept INTACT
    // (suffixing "the" -> "the_3" kills the \b-bounded marker regexes
    // and collapses the funnel at the lang stage — a fixture artifact,
    // not a scaling result). Content words still get per-copy suffixes,
    // so the dedup/decontamination stages see genuinely new text.
    // 'dup' and 'spark' (the q128 query terms) are preserved alongside
    // the language/quality markers so the funnel fixture also measures
    // keyword search at mult-x MATCH volume, not just mult-x scan
    val keepVocab = "the|and|of|is|to|der|die|das|und|ist|le|la|les|et|est|el|los|las|es|y|a|or|in|dup|spark"
    val funnelCopies = (0 until mult).map { c =>
      docs.select(
        ($"doc_id" + lit(c.toLong * 10000000L)).as("doc_id"),
        concat_ws(" ",
          transform(split($"text", " "), w =>
            when(lower(w).rlike(s"^($keepVocab)$$"), w)
              .otherwise(concat(w, lit(s"_$c"))))).as("text"),
        $"lang",
        concat($"source", lit(s"_$c")).as("source"),
        $"n_chars")
    }
    funnelCopies.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/funnel/documents.parquet")

    val ev = graft.Tables.load(spark, base, "events")
    (0 until mult).map { c =>
      ev.select(
        ($"event_id" + lit(c.toLong * 100000000L)).as("event_id"),
        $"ts",
        ($"user_id" + lit(c.toLong * 100000000L)).as("user_id"),
        $"event_type", $"value")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    // embeddings: each copy ROTATES the vector by c dimensions — exact
    // intra-copy geometry (norms, pairwise cosines, planted near-dups
    // all preserved), decorrelated across copies, so near-dup pairs
    // grow ~linearly while cells/centroids see a mult-x corpus
    val emb = graft.Tables.load(spark, base, "embeddings")
    (0 until mult).map { c =>
      val dim = 64
      val rot = if (c == 0) $"embedding"
        else concat(slice($"embedding", c + 1, dim - c), slice($"embedding", 1, c))
      emb.select(($"vec_id" + lit(c.toLong * 10000000L)).as("vec_id"),
        rot.as("embedding"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")

    // orders/lineitem: key-shifted copies -> mult disjoint graph
    // components for q104 (PageRank is per-component, so the derived
    // fixture is mult independent copies of the base graph; work per
    // iteration must scale linearly with the edge count). Dates and
    // totalprice ride along unchanged so the incremental-agg (q125)
    // and bucketed-join (q123) audits see mult-x rows per day / per
    // customer-set.
    val ord = graft.Tables.load(spark, base, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
    (0 until mult).map { c =>
      ord.select(($"o_orderkey" + lit(c.toLong * 100000000L)).as("o_orderkey"),
        ($"o_custkey" + lit(c.toLong * 10000000L)).as("o_custkey"),
        $"o_orderdate", $"o_totalprice")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    // customer: key-shifted copies matching the orders shift, so the
    // q123 bucketed join sees a mult-x dimension with mult-x facts
    // nationkey/mktsegment ride along UNCHANGED per copy: the q183 QI
    // domain (nation x bal band x segment) stays constant while the
    // customer count grows mult-x — the domain-bounded-output claim
    val cust = graft.Tables.load(spark, base, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_nationkey",
        $"c_mktsegment")
    (0 until mult).map { c =>
      cust.select(($"c_custkey" + lit(c.toLong * 10000000L)).as("c_custkey"),
        concat($"c_name", lit(s"_$c")).as("c_name"), $"c_acctbal",
        $"c_nationkey", $"c_mktsegment")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/customer.parquet")
    val line = graft.Tables.load(spark, base, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    (0 until mult).map { c =>
      line.select(($"l_orderkey" + lit(c.toLong * 100000000L)).as("l_orderkey"),
        ($"l_suppkey" + lit(c.toLong * 1000000L)).as("l_suppkey"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/lineitem.parquet")

    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    // steady-state: run twice, report the second — then clean up ALL
    // spark-side caches/persisted RDDs so no measurement free-rides
    // (or suffers GC pressure from) an earlier query's state. Round-7
    // lesson: without this, the 8x q104 measured 42 s in-audit vs
    // 3.5 s in a fresh JVM — pure accumulated-block-manager artifact,
    // the same class as round 5's bench pollution. Driver-side memo
    // artifacts (centroids, Blooms, Staging dirs) are deliberately
    // kept: those are the index economics being measured.
    // optional args(3): comma-separated name substrings — bench only
    // matching queries (iteration aid: re-measure one family without
    // paying for the full ~50-query x 2-dir audit)
    val only =
      if (args.length > 3) args(3).split(",").filter(_.nonEmpty).toSet
      else Set.empty[String]
    // the diagnostic/skew `locally` blocks are gated like bench():
    // they are corpus-sized scans, and an `only`-filtered big-mult run
    // (e.g. mult=64 for one linear family) must not pay for them
    def want(tag: String): Boolean =
      only.isEmpty || only.exists(tag.contains)
    def bench(name: String, dir: String, q: (SparkSession, String) => DataFrame): Unit = {
      if (only.nonEmpty && !only.exists(name.contains)) return
      time(q(spark, dir).count())
      val (t, n) = time(q(spark, dir).count())
      println(f"[audit] $name dir=$dir rows=$n time=$t%.2f s")
      graft.GraftSession.reset(spark)
    }

    for (dir <- Seq(base, work)) {
      println(s"[audit] ==== $dir ====")
      val d = graft.Tables.load(spark, dir, "documents")
      println(s"[audit] documents=${d.count()} sources=${d.select($"source").distinct().count()}")
      if (want("q67_interval_join")) {
        val buckets = graft.Tables.load(spark, dir, "events")
          .select(expr("(ts DIV 1000) DIV 3600000000").as("b"))
          .groupBy($"b").count()
        val mx = buckets.agg(max($"count")).collect()(0).getLong(0)
        println(s"[audit] event buckets=${buckets.count()} max_events_per_bucket=$mx " +
          s"-> q67 max chunk count nc=${(mx + 1023) / 1024}")
      }
      if (want("q59_dedup_embedding_ivf")) {
        val loads = graft.operators.Similarity.cellLoads(spark, dir)
        println(s"[audit] ivf cells=${loads.size} max_load=${loads.values.max} " +
          s"-> q59 max chunk count nc=${(loads.values.max + 511) / 512}")
      }
      bench("q104_pagerank", dir, graft.SparkEntry.queries("q104_pagerank"))
      // bench() clears caches after every query, so q113 never
      // free-rides q104's persisted edges (and vice versa)
      bench("q113_incremental_pagerank", dir,
        graft.SparkEntry.queries("q113_incremental_pagerank"))
      bench("q95_knn_pq", dir, graft.SparkEntry.queries("q95_knn_pq"))
      bench("q29_dedup_minhash", dir, graft.SparkEntry.queries("q29_dedup_minhash"))
      bench("q31_dedup_ngram", dir, graft.SparkEntry.queries("q31_dedup_ngram"))
      bench("q59_dedup_embedding_ivf", dir, graft.SparkEntry.queries("q59_dedup_embedding_ivf"))
      bench("q67_interval_join", dir, graft.SparkEntry.queries("q67_interval_join"))
      // round-7 additions: staged-layout joins/aggregates and the
      // corpus-scan retrieval/scoring paths. q123/q125 pay their
      // one-time staging in the warmup run; the reported steady state
      // is the layout's point (no fact-table shuffle / no history
      // rescan). q128's query terms match only copy-0 docs in the
      // derived fixture (content words are suffixed per copy), which
      // is the regime that matters: corpus grows mult-x while the
      // match set stays fixed, so the measured cost is the scan side.
      bench("q123_bucketed_join", dir, graft.SparkEntry.queries("q123_bucketed_join"))
      bench("q125_incremental_agg", dir, graft.SparkEntry.queries("q125_incremental_agg"))
      bench("q124_salted_distinct", dir, graft.SparkEntry.queries("q124_salted_distinct"))
      bench("q126_anomaly_zscore", dir, graft.SparkEntry.queries("q126_anomaly_zscore"))
      bench("q127_winsorize", dir, graft.SparkEntry.queries("q127_winsorize"))
      // NOTE: the derived fixture suffixes every content word, so the
      // q128 query terms match NOTHING at mult-x — the measured cost
      // there is purely the corpus-side scans (per-doc lengths +
      // term-filtered tf), which is the scaling term that matters;
      // the full path at mult-x match volume runs against the funnel
      // fixture below, whose keepVocab preserves the query terms.
      bench("q128_keyword_search", dir, graft.SparkEntry.queries("q128_keyword_search"))
      // round-7 graph/text/sketch additions. q134: seeds live in copy
      // 0 only, so the reached set stays copy-0-sized while the
      // per-round edge-relaxation join scans mult-x edges — wall
      // should track the edge count (the frontier term is constant by
      // construction). q135: per-copy word suffixes make bigram
      // vocabularies disjoint, so the C2/C1 stat tables AND the
      // bigram stream grow mult-x together — the all-shuffle-join
      // path must stay linear. q136: rotated copies decorrelate
      // codes; chunk-bucket occupancy grows mult-x, so candidates
      // grow ~mult^2/buckets — the audit makes the code-width
      // tradeoff visible (16-bit codes are sized to the test corpus;
      // production sizes bits ~ log2(n) to hold bucket occupancy
      // flat, exactly like IVF cell counts).
      bench("q134_bfs_hops", dir, graft.SparkEntry.queries("q134_bfs_hops"))
      bench("q135_bigram_coherence", dir, graft.SparkEntry.queries("q135_bigram_coherence"))
      bench("q136_srp_sketch", dir, graft.SparkEntry.queries("q136_srp_sketch"))
      bench("q137_ewma", dir, graft.SparkEntry.queries("q137_ewma"))
      // q139–q153 additions. q139/q144: token-set joins whose prefix
      // blocks grow in COUNT (disjoint per-copy vocabularies), so
      // pairs should stay ~linear like q31. q145: seeds are spread
      // across all copies (node-id % 20 pattern repeats under the
      // key shift), so restart mass and edges both grow mult-x —
      // per-iteration cost must track edges. q148: rotated copies
      // decorrelate embeddings, cluster count grows with the corpus,
      // intra-cluster pair work stays bounded by cluster size.
      // q150: pure hierarchical prefix — wall should track the scan.
      // q152/q151: one aggregate / one window pass over mult-x
      // events. q153: mult-x facts against a mult-x dimension through
      // the as-of merge — one exchange+sort per side.
      bench("q139_setsim_join", dir, graft.SparkEntry.queries("q139_setsim_join"))
      bench("q144_containment_join", dir, graft.SparkEntry.queries("q144_containment_join"))
      // The q157 skew profile pointed at the PPJoin candidate join
      // keys — measures (not asserts) the "rare-first prefixes never
      // form stopword buckets" claim: per candidate-join key, bucket
      // occupancy and Σcnt² collision mass at 1x and mult-x. For
      // q139 the key is the prefix token rank; for q144 the work is
      // asymmetric (probe prefix × full postings), so the profiled
      // quantity is Σ probe·post over PROBED grams plus the largest
      // probed posting bucket.
      if (want("skew")) graft.Scope { sc =>
        val (_, _, _, prefix139) = graft.operators.Dedup.setsimStreams(sc, spark, dir)
        val p = prefix139.groupBy($"trank").agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n_keys"), max($"cnt").as("max_bucket"),
            sum($"cnt" * $"cnt").as("sum_sq")).collect()(0)
        println(s"[audit] q139 prefix-key skew @ $dir: " +
          s"n_keys=${p.getLong(0)} max_bucket=${p.getLong(1)} sum_sq=${p.getLong(2)}")
        val (_, probeA, fullB) = graft.operators.Dedup.containmentStreams(sc, spark, dir)
        val probes = probeA.groupBy($"g").agg(count(lit(1)).as("probe_cnt"))
        val posts = fullB.groupBy($"g").agg(count(lit(1)).as("post_cnt"))
        val q = probes.join(posts, "g")
          .agg(count(lit(1)).as("n_probed_keys"),
            max($"post_cnt").as("max_probed_posting"),
            sum($"probe_cnt" * $"post_cnt").as("join_work")).collect()(0)
        println(s"[audit] q144 probed-bucket skew @ $dir: " +
          s"n_probed_keys=${q.getLong(0)} max_probed_posting=${q.getLong(1)} " +
          s"join_work=${q.getLong(2)}")
        graft.GraftSession.reset(spark)
      }
      bench("q145_ppr", dir, graft.SparkEntry.queries("q145_ppr"))
      // the traversal family at the key-shifted graph (round-14
      // VERDICT task #5: pin the 64x exponents the 8x grid
      // extrapolates). q163: seeds repeat per copy (node % 20 under
      // the key shift), push mass and edges grow mult-x together.
      // q168: per-component HITS, mult disjoint copies — per-round
      // matvec must track the edge count. q134 above: copy-0 seeds,
      // constant frontier over mult-x edges.
      bench("q163_ppr_forward_push", dir,
        graft.SparkEntry.queries("q163_ppr_forward_push"))
      bench("q168_hits", dir, graft.SparkEntry.queries("q168_hits"))
      bench("q148_semdedup", dir, graft.SparkEntry.queries("q148_semdedup"))
      // The q157 skew probe pointed at the IVF chunk-pair candidate
      // key (cell, ca, cb) that q59 joins on — the adaptive chunking
      // claims every bucket's rescore work is bounded by chunkRows²
      // regardless of cell whales; this MEASURES the per-key side
      // populations and Σ na·nb join work at 1x and mult-x. q148's
      // cluster-blocked shape shares the cell pattern unchunked, so
      // its occupancy (max cluster, Σ members²) prints off the query's
      // own per-cluster output; a whale cluster there is the signal to
      // switch it to the q59 chunk-pair segmentation.
      if (want("skew")) locally {
        val (ca59, cb59) = graft.operators.Dedup.ivfChunkStreams(spark, dir)
        val ac = ca59.groupBy($"cell", $"ca", $"cb").agg(count(lit(1)).as("na"))
        val bc = cb59.groupBy($"cell", $"ca", $"cb").agg(count(lit(1)).as("nb"))
        val m = ac.join(bc, Seq("cell", "ca", "cb"))
          .agg(count(lit(1)).as("n_keys"),
            max(greatest($"na", $"nb")).as("max_side"),
            sum($"na" * $"nb").as("join_work")).collect()(0)
        println(s"[audit] q59 chunk-pair skew @ $dir: " +
          s"n_keys=${m.getLong(0)} max_side=${m.getLong(1)} " +
          s"join_work=${m.getLong(2)}")
        val c148 = graft.SparkEntry.queries("q148_semdedup")(spark, dir)
          .agg(count(lit(1)).as("n_clusters"),
            max($"n_members").as("max_cluster"),
            sum($"n_members" * $"n_members").as("sum_sq")).collect()(0)
        println(s"[audit] q148 cluster skew @ $dir: " +
          s"n_clusters=${c148.getLong(0)} max_cluster=${c148.getLong(1)} " +
          s"pair_work=${c148.getLong(2)}")
        graft.GraftSession.reset(spark)
      }
      bench("q150_global_offsets", dir, graft.SparkEntry.queries("q150_global_offsets"))
      bench("q151_transitions", dir, graft.SparkEntry.queries("q151_transitions"))
      bench("q152_cdc_apply", dir, graft.SparkEntry.queries("q152_cdc_apply"))
      bench("q153_temporal_join", dir, graft.SparkEntry.queries("q153_temporal_join"))
      // q154: gram stream 8x, two aggregates, no join back — wall
      // should track grams. q155: the vocabulary (and so every merge
      // iteration) is UNION of 8 disjoint suffixed copies — 8x vocab
      // is the worst case for BPE (real corpora share vocabulary);
      // wall must stay iteration-bound, not corpus-bound. q156: 8
      // disjoint graph copies, per-round work tracks edges. q157:
      // one aggregate over 8x rows, key cardinality 8x.
      bench("q154_novelty", dir, graft.SparkEntry.queries("q154_novelty"))
      bench("q155_bpe_merges", dir, graft.SparkEntry.queries("q155_bpe_merges"))
      bench("q156_label_propagation", dir,
        graft.SparkEntry.queries("q156_label_propagation"))
      bench("q157_skew_profile", dir, graft.SparkEntry.queries("q157_skew_profile"))
      // q67 chunked vs unchunked: identical pair sets, bounded tasks.
      // Warm each variant once (bench() cleaned all caches), then time.
      if (want("q67_interval_join")) {
        def timedPairs(chunk: Long) = {
          def pairs() = graft.Scope(graft.operators.Extras
            .intervalJoinOn(spark, dir, 3600L * 1000000L, chunk, _))
          pairs().count()
          time(pairs().count())
        }
        val (tc, nc) = timedPairs(1024L)
        val (tu, nu) = timedPairs(Long.MaxValue / 4)
        println(f"[audit] q67 chunked=$tc%.2f s ($nc pairs) unchunked=$tu%.2f s ($nu pairs)")
        graft.GraftSession.reset(spark)
      }
      // q164: per-copy suffixes make char-20-grams disjoint across
      // copies, so fingerprint BLOCKS grow in count while the df<=16
      // cap bounds every block — pairs should grow ~linearly and the
      // max post-cap bucket must stay <= 16 BY CONSTRUCTION (printed,
      // not assumed). q167: vocabulary 8x, one conditional aggregate.
      // q168: 8 disjoint graph copies, per-half-round join tracks
      // edges.
      bench("q164_winnowing", dir, graft.SparkEntry.queries("q164_winnowing"))
      if (want("skew")) locally {
        import graft.functions.GraftFunctions.winnow_set
        val fp = graft.Tables.load(spark, dir, "documents")
          .select($"doc_id",
            explode(winnow_set(
              trim(regexp_replace(lower($"text"), "\\s+", " ")), 20, 8)).as("h"))
        val dfq = fp.groupBy($"h").agg(count(lit(1)).as("df"))
        val kept = dfq.where($"df" <= 16)
          .agg(count(lit(1)).as("n_keys"), max($"df").as("max_bucket"),
            sum($"df" * $"df").as("sum_sq")).collect()(0)
        val dropped = dfq.where($"df" > 16).count()
        val pairs = graft.SparkEntry.queries("q164_winnowing")(spark, dir).count()
        println(s"[audit] q164 fingerprint skew @ $dir: " +
          s"n_keys=${kept.getLong(0)} max_bucket=${kept.getLong(1)} " +
          s"sum_sq=${kept.getLong(2)} dropped_keys=$dropped pairs=$pairs")
        graft.GraftSession.reset(spark)
      }
      bench("q167_corpus_shift", dir, graft.SparkEntry.queries("q167_corpus_shift"))
      bench("q168_hits", dir, graft.SparkEntry.queries("q168_hits"))
      // q169/q170: 8x events through one user-window pass each (the
      // same hours get 8x busier; per-user partitions stay user-sized).
      // q171/q176: contingency/moment aggregates — wall should track
      // the scan. q172: value bands are FIXED-width, so 8x events
      // means 8x rows per band — the band-local windows grow linearly
      // together, never one global partition. q174/q175: 8 disjoint
      // graph copies; peeling degrees and assortativity moments track
      // edges.
      bench("q169_path_trigrams", dir, graft.SparkEntry.queries("q169_path_trigrams"))
      bench("q170_decay_attribution", dir, graft.SparkEntry.queries("q170_decay_attribution"))
      bench("q171_chi_square", dir, graft.SparkEntry.queries("q171_chi_square"))
      bench("q172_ks_test", dir, graft.SparkEntry.queries("q172_ks_test"))
      bench("q174_kcore", dir, graft.SparkEntry.queries("q174_kcore"))
      bench("q175_assortativity", dir, graft.SparkEntry.queries("q175_assortativity"))
      bench("q176_cuped", dir, graft.SparkEntry.queries("q176_cuped"))
      // q177: the (source, word) count table is the same vocab-sized
      // claim as q167 — 8 disjoint suffixed vocabularies mean both key
      // count AND source count grow 8x while rows-per-key stay put;
      // everything downstream of the one corpus scan is bounded by
      // n_keys (printed), and the per-source top-5 window runs over
      // per-source vocab partitions (max printed), never one global
      // sort.
      bench("q177_source_terms", dir, graft.SparkEntry.queries("q177_source_terms"))
      if (want("skew")) locally {
        val cnt = graft.Tables.load(spark, dir, "documents")
          .select($"source",
            explode(split(lower(trim($"text")), "\\s+")).as("word"))
          .where(length($"word") > 0)
          .groupBy($"source", $"word").agg(count(lit(1)).as("a"))
        val perSrc = cnt.groupBy($"source").agg(count(lit(1)).as("vocab"))
        val m = cnt.agg(count(lit(1)).as("n_keys"), max($"a").as("max_count"))
          .crossJoin(perSrc.agg(max($"vocab").as("max_source_vocab"),
            count(lit(1)).as("n_sources"))).collect()(0)
        println(s"[audit] q177 count-table @ $dir: " +
          s"n_keys=${m.getLong(0)} max_count=${m.getLong(1)} " +
          s"max_source_vocab=${m.getLong(2)} n_sources=${m.getLong(3)}")
        graft.GraftSession.reset(spark)
      }
      // q179: the q172 claim exactly — fixed-width value bands, so 8x
      // events is 8x rows per band growing together (band-local
      // windows over the per-distinct-value table, never one global
      // sort); the distinct-value table itself is value-cardinality-
      // sized. q180: 8 disjoint suffixed corpora -> the q29 pair graph
      // grows ~8x intra-copy (no cross-copy token overlap), CC round
      // count unchanged (same component shapes), then ONE corpus scan
      // against the broadcast labeling. q181: 8 disjoint vocabularies
      // -> vocab-sized rank+moment fold grows 8x while the corpus
      // sees exactly one word-count shuffle (vocab size printed).
      bench("q179_mann_whitney", dir, graft.SparkEntry.queries("q179_mann_whitney"))
      bench("q180_soft_dedup", dir, graft.SparkEntry.queries("q180_soft_dedup"))
      bench("q181_zipf_fit", dir, graft.SparkEntry.queries("q181_zipf_fit"))
      // q182: corpus-side cost is its two retrievers' (q128 audited on
      // the funnel fixture, q32's broadcast-query scan); the fusion
      // joins two 10-row lists, so 8x should track the BM25 scan
      bench("q182_hybrid_rrf", dir, graft.SparkEntry.queries("q182_hybrid_rrf"))
      // q183: both aggregates are domain-bounded (QI x segment); 8x
      // customers is 8x rows into the same map-side combine. q184:
      // one (source, lang) aggregate; 8x docs with 8x sources grows
      // the cell table 8x but it stays domain-sized; margins/terms
      // broadcast.
      bench("q183_l_diversity", dir, graft.SparkEntry.queries("q183_l_diversity"))
      bench("q184_mutual_info", dir, graft.SparkEntry.queries("q184_mutual_info"))
      // q185: segment stream 8x through one segment-keyed shuffle; the
      // derived fixture suffixes words per copy, so segment df stays
      // intra-copy (no cross-copy dup inflation) — max segment df
      // printed to show the join-back key skew bound. q186/q187: the
      // bigram stream 8x; q186's LM/bucket tables grow with the
      // suffixed vocab (bigram types printed) while q187's histogram
      // is FIXED at 256 rows by construction — the DSIR scale claim.
      // q188: both cell tables domain-bounded; 8x customers is 8x
      // rows into the same two map-side-combined aggregates.
      bench("q185_segment_scrub", dir, graft.SparkEntry.queries("q185_segment_scrub"))
      // q191: q185's shape with a 2x segment stream (both grids built
      // in one lambda off the same scan) — should track ~2x q185's
      // segment-shuffle cost at both 1x and 8x, same max-df skew bound
      bench("q191_cross_segment_scrub", dir,
        graft.SparkEntry.queries("q191_cross_segment_scrub"))
      // q192: the gram stream is ~10x q185's segment stream (every
      // word position, not every 10th) but the corpus-wide shuffle
      // sees only the SELECTED ~2/(w+1) fraction; the per-doc
      // window-min is doc-partitioned. The derived fixture's suffixed
      // vocab keeps selected-fp df intra-copy — max df printed to
      // show the join-back skew bound, like q185's
      bench("q192_winnow_scrub", dir, graft.SparkEntry.queries("q192_winnow_scrub"))
      // Streaming near-dup gate (round-12 task 1 evidence): steady-
      // state ingest cost at 1x vs mult-x CORPUS with a FIXED-size
      // delta batch. Two numbers per scale: the delta batch's wall
      // (probe = delta x index join — reads the corpus index, the
      // unavoidable term) and the delta batch's STORE WRITE bytes,
      // which under the SegStore segment log must stay flat across
      // scales (round 11 rewrote the whole store: corpus-sized bytes).
      if (only.isEmpty || only.exists("winnow_gate".contains)) locally {
        import graft.streaming.{SegStore, WinnowStream}
        val gw = s"$work/winnow_gate_${math.abs(dir.hashCode)}"
        // hermetic: a leftover store/ckpt from a prior audit run would
        // absorb the delta as a replay and measure an empty segment
        FsUtil.rm(gw)
        val gdocs = graft.Tables.load(spark, dir, "documents")
          .select($"doc_id", $"text")
        gdocs.write.mode("overwrite").parquet(s"$gw/in")
        // the delta is ALWAYS 200 base-corpus docs under fresh ids —
        // identical content at 1x and mult-x, so any wall/bytes delta
        // between scales is the corpus term, not the batch's
        val delta = graft.Tables.load(spark, base, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id").limit(200)
          .select(($"doc_id" + lit(900000000L)).as("doc_id"), $"text")
        def runGate(compactEvery: Int = 8): Double = time {
          val q = WinnowStream.nearDupGateStream(
            spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$gw/in"),
            s"$gw/store", s"$gw/out", s"$gw/ckpt", compactEvery = compactEvery)
          q.awaitTermination()
        }._1
        val tCorpus = runGate()
        delta.write.mode("append").parquet(s"$gw/in")
        val tDelta = runGate()
        def segBytes(id: Long): Long = Seq("fp", "df", "docs")
          .map(sub => FsUtil.dirBytes(SegStore.bucketedPartPath(s"$gw/store", sub, id)))
          .sum
        val segs = SegStore.active(spark, s"$gw/store")
        println(f"[audit] winnow_gate @ $dir: corpus_batch=$tCorpus%.2f s " +
          f"delta_batch=$tDelta%.2f s " +
          s"corpus_seg_bytes=${segBytes(segs.head.id)} " +
          s"delta_seg_bytes=${segBytes(segs.last.id)}")
        // compaction cost (the LSM trade as a number): one more
        // identical tiny delta, but compactEvery=2 forces this batch
        // to fold the whole store into a base segment — the wall gap
        // vs the plain delta batch above IS the amortized O(store)
        // fold, and the base partition's bytes are the store size
        val delta2 = delta.select(($"doc_id" + lit(1000000L)).as("doc_id"), $"text")
        delta2.write.mode("append").parquet(s"$gw/in")
        val tCompact = runGate(compactEvery = 2)
        val segs2 = SegStore.active(spark, s"$gw/store")
        println(f"[audit] winnow_gate_compact @ $dir: compact_batch=$tCompact%.2f s " +
          s"base_seg_bytes=${segBytes(segs2.last.id)} " +
          s"layout=${segs2.map(x => (x.id, x.base))}")
        graft.GraftSession.reset(spark)
      }
      // Delta-DIMENSION row (round-13 VERDICT task #3): the corpus row
      // above holds the delta fixed and scales the store; this holds
      // the store fixed and scales the DELTA (200 / 2,000 / 20,000
      // docs), so per-batch wall is bracketed from both sides — the
      // flat ~8-11 s floor is the per-batch constant (driver-
      // coordinated jobs, streaming machinery, catalog inserts), and
      // the growth above it is the delta term. Runs against the 1x
      // corpus only (the corpus row already pinned store-scale
      // independence).
      if (dir == base && (only.isEmpty || only.exists("winnow_delta".contains))) locally {
        import graft.streaming.{SegStore, WinnowStream}
        val gw = s"$work/winnow_delta"
        FsUtil.rm(gw)
        graft.Tables.load(spark, dir, "documents")
          .select($"doc_id", $"text")
          .write.mode("overwrite").parquet(s"$gw/in")
        def runGate(): Double = time {
          WinnowStream.nearDupGateStream(
            spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$gw/in"),
            s"$gw/store", s"$gw/out", s"$gw/ckpt", compactEvery = 100)
            .awaitTermination()
        }._1
        val tCorpus = runGate()
        var sliceStart = 0
        val walls = Seq(200, 2000, 20000).map { n =>
          // deltas are DISJOINT slices of the 8x fixture under fresh
          // ids: genuinely new content, never replay-absorbed, no
          // cross-batch content dups inflating the flag volume
          val d = graft.Tables.load(spark, work, "documents")
            .select($"doc_id", $"text").orderBy($"doc_id")
            .offset(sliceStart).limit(n)
            .select(($"doc_id" + lit(800000000L)).as("doc_id"), $"text")
          sliceStart += n
          d.write.mode("append").parquet(s"$gw/in")
          val t = runGate()
          val segs = SegStore.active(spark, s"$gw/store")
          val bytes = Seq("fp", "df", "docs").map(sub => FsUtil.dirBytes(
            SegStore.bucketedPartPath(s"$gw/store", sub, segs.last.id))).sum
          f"n=$n wall=$t%.2f s seg_bytes=$bytes"
        }
        println(s"[audit] winnow_gate_delta @ $dir: corpus_batch=" +
          f"$tCorpus%.2f s; ${walls.mkString("; ")}")
        graft.GraftSession.reset(spark)
      }
      // Compaction GROWTH row (round-13 VERDICT task #6): the
      // compactEvery=2 row above measures the fold at a one-corpus
      // store, where the per-batch constant dominates. This measures
      // the base fold's LINEAR term: the same tiny-delta fold against
      // an 8x store vs a 64x store (disjoint-vocabulary copies — the
      // crawl-growth regime), wall + base partition bytes at both
      // sizes, plus a plain delta batch at each size so the fold
      // overhead is the difference at the SAME store. The decision
      // this buys: whether a leveled (multi-tier) compaction is worth
      // building, or the single-tier fold stays amortized-fine at
      // real store sizes.
      if (dir == base && (only.isEmpty || only.exists("compact_growth".contains))) locally {
        import graft.streaming.{SegStore, WinnowStream}
        for (m <- Seq(8, 64)) {
          val gw = s"$work/compact_growth_$m"
          FsUtil.rm(gw)
          // m disjoint suffixed copies of the base corpus — same
          // derivation as the m=8 fixture, inlined so m=64 does not
          // need a second fixture dir on disk
          (0 until m).map { c =>
            docs.select(
              ($"doc_id" + lit(c.toLong * 10000000L)).as("doc_id"),
              concat_ws(" ",
                transform(split($"text", " "), w => concat(w, lit(s"_$c"))))
                .as("text"))
          }.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$gw/in")
          def runGate(compactEvery: Int): Double = time {
            WinnowStream.nearDupGateStream(
              spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$gw/in"),
              s"$gw/store", s"$gw/out", s"$gw/ckpt", compactEvery = compactEvery)
              .awaitTermination()
          }._1
          runGate(100) // batch 0: the m-x corpus as one delta segment
          val delta = graft.Tables.load(spark, base, "documents")
            .select($"doc_id", $"text").orderBy($"doc_id").limit(200)
          delta.select(($"doc_id" + lit(900000000L)).as("doc_id"),
            concat($"text", lit(" zq")).as("text"))
            .write.mode("append").parquet(s"$gw/in")
          val tDelta = runGate(100) // plain delta batch (no fold)
          delta.select(($"doc_id" + lit(910000000L)).as("doc_id"),
            concat($"text", lit(" zr")).as("text"))
            .write.mode("append").parquet(s"$gw/in")
          val tFold = runGate(2) // 2 active segments -> this batch folds
          val segs = SegStore.active(spark, s"$gw/store")
          val baseBytes = Seq("fp", "df", "docs")
            .map(sub => FsUtil.dirBytes(SegStore.bucketedPartPath(s"$gw/store", sub, segs.last.id)))
            .sum
          println(f"[audit] compact_growth m=$m @ $dir: delta_batch=$tDelta%.2f s " +
            f"fold_batch=$tFold%.2f s fold_overhead=${tFold - tDelta}%.2f s " +
            s"base_bytes=$baseBytes layout=${segs.map(x => (x.id, x.base))}")
          graft.GraftSession.reset(spark)
        }
      }
      // Approx-PPR gate row (round-13 VERDICT task #2 evidence): the
      // SAME 200-edge changed batch (new edges between EXISTING copy-0
      // nodes — no new seeds, so the delta-local path runs) against a
      // 1x vs mult-x accumulated graph. The exact gate re-pushes
      // O(graph) here; this gate's wall must NOT track the graph.
      if (only.isEmpty || only.exists("ppr_approx".contains)) graft.Scope { sc =>
        import graft.streaming.{GraphStreamApprox, SegStore}
        val gw = s"$work/ppr_approx_${math.abs(dir.hashCode)}"
        FsUtil.rm(gw)
        val g = sc.ckpt(graft.operators.BipartiteGraph.pairs(spark, dir))
        g.write.mode("overwrite").parquet(s"$gw/in")
        // 200 genuinely-new edges among copy-0 endpoints: recombine
        // existing customers with existing suppliers, drop anything
        // already an edge — identical delta content at both scales
        val base0 = graft.operators.BipartiteGraph.pairs(spark, base)
        val cS = base0.select($"c").distinct().orderBy($"c").limit(100)
        val sS = base0.select($"s").distinct().orderBy($"s".desc).limit(100)
        val pool = sc.ckpt(cS.crossJoin(sS)
          .join(base0, Seq("c", "s"), "left_anti")
          .orderBy($"c", $"s"))
        val delta = sc.ckpt(pool.limit(200))
        def runGate(): Double = time {
          GraphStreamApprox.pprPushStreamApprox(
            spark.readStream.schema("c LONG, s LONG").parquet(s"$gw/in"),
            s"$gw/store", s"$gw/ckpt", compactEvery = 100)
            .awaitTermination()
        }._1
        val tFull = runGate() // batch 0: empty store -> full push (O(graph))
        delta.write.mode("append").parquet(s"$gw/in")
        val tDelta = runGate() // changed batch: delta-local path
        val segs = SegStore.active(spark, s"$gw/store")
        val prRows = spark.read.parquet(
          SegStore.bucketedPartPath(s"$gw/store", "pr", segs.last.id)).count()
        val nNodes = graft.operators.BipartiteGraph.degreesOf(g).count()
        println(f"[audit] ppr_approx @ $dir: full_push_batch=$tFull%.2f s " +
          f"changed_batch=$tDelta%.2f s touched_state_rows=$prRows " +
          s"graph_nodes=$nNodes edges_added=200 " +
          s"layout=${segs.map(x => (x.id, x.base))}")
        // delta-DIMENSION sweep (the winnow delta-row protocol applied
        // to the graph gate): 20- and 2,000-edge batches against the
        // same accumulated graph, disjoint pool slices — per-batch
        // wall and touched state rows should track the DELTA
        if (dir == base) {
          val walls = Seq((20, 200), (2000, 220)).map { case (n, off) =>
            pool.offset(off).limit(n).write.mode("append").parquet(s"$gw/in")
            val t = runGate()
            val segs2 = SegStore.active(spark, s"$gw/store")
            val rows = spark.read.parquet(
              SegStore.bucketedPartPath(s"$gw/store", "pr", segs2.last.id)).count()
            f"n=$n wall=$t%.2f s touched_rows=$rows"
          }
          println(s"[audit] ppr_approx_delta @ $dir: ${walls.mkString("; ")}")
        }
        graft.GraftSession.reset(spark)
      }
      // Scrub-gate corpus-flatness row: same protocol as winnow_gate
      // (fixed 200-doc delta against a 1x vs mult-x accumulated store)
      // for the SEGMENT scrub gate — the gate family's other
      // heavyweight (4 sub-tables, incremental docstat readout). Its
      // exchange-free probe plan is spec-pinned; this MEASURES the
      // wall and per-batch segment bytes at both store scales.
      if (want("scrub_gate")) locally {
        import graft.streaming.{SegStore, SegScrubStream}
        val gw = s"$work/scrub_gate_${math.abs(dir.hashCode)}"
        FsUtil.rm(gw)
        graft.Tables.load(spark, dir, "documents")
          .select($"doc_id", $"source", $"text")
          .write.mode("overwrite").parquet(s"$gw/in")
        val delta = graft.Tables.load(spark, base, "documents")
          .select($"doc_id", $"source", $"text").orderBy($"doc_id").limit(200)
          .select(($"doc_id" + lit(900000000L)).as("doc_id"), $"source", $"text")
        val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        graft.streaming.GatePhase.hook =
          (n, t) => phases.synchronized { phases += ((n, t)); () }
        def runGate(label: String): Double = {
          phases.synchronized(phases.clear())
          val t = time {
            SegScrubStream.scrubStream(
              spark.readStream.schema("doc_id LONG, source STRING, text STRING")
                .parquet(s"$gw/in"),
              s"$gw/store", s"$gw/out", s"$gw/ckpt", compactEvery = 100)
              .awaitTermination()
          }._1
          val ph = phases.synchronized(phases.toVector)
          println(f"[audit] scrub_gate/$label @ $dir: " +
            ph.map { case (n, v) => f"$n=$v%.2f" }.mkString(" "))
          t
        }
        val (tCorpus, tDelta) =
          try {
            val c = runGate("corpus")
            delta.write.mode("append").parquet(s"$gw/in")
            (c, runGate("delta"))
          } finally { // never leave the phase hook installed on failure
            graft.streaming.GatePhase.hook = (_, _) => ()
          }
        def segBytes(id: Long): Long = Seq("occ", "sdf", "docs", "docstat", "srcstat")
          .map(sub => FsUtil.dirBytes(
            SegStore.bucketedPartPath(s"$gw/store", sub, id))).sum
        val segs = SegStore.active(spark, s"$gw/store")
        println(f"[audit] scrub_gate @ $dir: corpus_batch=$tCorpus%.2f s " +
          f"delta_batch=$tDelta%.2f s " +
          s"corpus_seg_bytes=${segBytes(segs.head.id)} " +
          s"delta_seg_bytes=${segBytes(segs.last.id)}")
        graft.GraftSession.reset(spark)
      }
      bench("q186_lm_quality", dir, graft.SparkEntry.queries("q186_lm_quality"))
      bench("q187_dsir_weights", dir, graft.SparkEntry.queries("q187_dsir_weights"))
      bench("q188_t_closeness", dir, graft.SparkEntry.queries("q188_t_closeness"))
      // q189: one corpus aggregate, then source-domain-sized windows.
      // q190: one (source, bigram) count shuffle, vocab-sized re-agg
      // (the suffixed fixture grows the bigram vocabulary ~8x —
      // printed above with q186's types).
      bench("q189_quota_alloc", dir, graft.SparkEntry.queries("q189_quota_alloc"))
      bench("q190_vocab_coverage", dir, graft.SparkEntry.queries("q190_vocab_coverage"))
      // q178 both ways: the oracle-gated exact path (per-source
      // window sort for the percentiles) vs the 100 TB twin (both
      // cards through the GK sketch — no corpus-sized sort). The gap
      // between the two at 8x IS the cost of the exact sort the twin
      // exists to remove.
      bench("q178_curate_card_diff", dir,
        graft.SparkEntry.queries("q178_curate_card_diff"))
      bench("q178_sketch_twin", dir,
        (s, d) => graft.operators.Curation.curateCardDiff(s, d, exact = false))
      if (want("skew")) locally {
        val ws = graft.Tables.load(spark, dir, "documents")
          .select($"doc_id", expr(
            "filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
            .as("ws"))
        val segDf = ws.where(size($"ws") > 0)
          .select($"doc_id",
            explode(expr("sequence(0, (size(ws) - 1) DIV 10)")).as("i"),
            $"ws")
          .select($"doc_id",
            expr("concat_ws(' ', slice(ws, i * 10 + 1, 10))").as("seg"))
          .groupBy($"seg", $"doc_id").count()
          .groupBy($"seg").agg(count(lit(1)).as("df"))
          .agg(count(lit(1)).as("n_segs"), max($"df").as("max_df")).collect()(0)
        val biTypes = ws.where(size($"ws") >= 2)
          .select(explode(expr("transform(sequence(1, size(ws) - 1)," +
            " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
            .as("b"))
          .distinct().count()
        println(s"[audit] q185 segments @ $dir: n_distinct=${segDf.getLong(0)} " +
          s"max_df=${segDf.getLong(1)}; q186 bigram types=$biTypes (q187 buckets=256)")
        // q192's join-back key skew: df of the winnow-SELECTED word
        // 8-grams (distinct docs per selected fingerprint)
        locally {
          import org.apache.spark.sql.expressions.Window
          val g = ws.where(size($"ws") >= 15)
            .select($"doc_id", explode(expr(
              "transform(sequence(1, size(ws) - 7)," +
                " i -> named_struct('i', i, 'g', concat_ws(' ', slice(ws, i, 8))))"))
              .as("p"))
            .select($"doc_id", $"p.i".as("i"), $"p.g".as("g"))
          val win = Window.partitionBy($"doc_id").orderBy($"i").rowsBetween(0, 7)
          val selStats = g.withColumn("fp", min($"g").over(win))
            .withColumn("cnt", count(lit(1)).over(win))
            .where($"cnt" === 8)
            .select($"doc_id", $"fp").distinct()
            .groupBy($"fp").agg(count(lit(1)).as("df"))
            .agg(count(lit(1)).as("n_fps"), max($"df").as("max_df")).collect()(0)
          println(s"[audit] q192 selected fps @ $dir: " +
            s"n_distinct=${selStats.getLong(0)} max_df=${selStats.getLong(1)}")
        }
        graft.GraftSession.reset(spark)
      }
      if (want("skew")) locally {
        val v = graft.Tables.load(spark, dir, "documents")
          .select(explode(split(lower(trim($"text")), "\\s+")).as("t"))
          .where(length($"t") > 0)
          .groupBy($"t").agg(count(lit(1)).as("n")).where($"n" >= 5)
        val dv = graft.Tables.load(spark, dir, "events")
          .select($"value").distinct().count()
        println(s"[audit] q181 vocab @ $dir: n_words=${v.count()}; " +
          s"q179 distinct values=$dv")
        graft.GraftSession.reset(spark)
      }
    }

    // q109 runs against the marker-preserving funnel fixture — the
    // plain fixture suffixes every word and collapses the funnel at
    // the lang stage. Stage counts printed so non-collapse is visible.
    for (dir <- Seq(base, s"$work/funnel")) {
      println(s"[audit] ==== q109 funnel @ $dir ====")
      if (want("q109_curation_pipeline")) {
        val stages = graft.SparkEntry.queries("q109_curation_pipeline")(spark, dir)
          .collect().map(r => s"${r.getString(1)}=${r.getLong(2)}").mkString(" ")
        println(s"[audit] q109 stages: $stages")
      }
      bench("q109_curation_pipeline", dir, graft.SparkEntry.queries("q109_curation_pipeline"))
      bench("q128_keyword_search", dir, graft.SparkEntry.queries("q128_keyword_search"))
    }
    spark.stop()
  }
}
