package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Scope, Tables}
import graft.functions.GraftFunctions._

/** Training-data pipeline operators beyond the per-document scans in
  * [[TextOps]] and the pair generators in [[Dedup]]: the CLUSTER and
  * CORPUS-LEVEL stages a 100 TB pretraining pipeline runs after (or
  * instead of) pairwise similarity —
  *
  *  - q77 connected components over the near-dup pair graph (pairs
  *    alone don't dedup anything: A~B and B~C must collapse to ONE
  *    canonical doc, which needs the transitive closure),
  *  - q78 exact substring (span) dedup — remove word-5-gram spans that
  *    appear in more than one document (the Lee et al. 2022
  *    "Deduplicating Training Data" family: near-dup removal keeps
  *    whole docs, span dedup cuts the boilerplate INSIDE kept docs),
  *  - q79 Bloom-prefiltered decontamination (q66 at benchmark scale:
  *    the held-out gram SET is too big to broadcast, a fixed-size bit
  *    array is not),
  *  - q80 model-based quality filtering (fastText-style linear
  *    classifier inference: weights as a broadcast table, map-only
  *    sparse dot product),
  *  - q81 int8 embedding quantization (the storage/bandwidth knob for
  *    corpus-scale embedding tables),
  *  - q82 CSV source round-trip (declared schema, header),
  *  - q83 TF-IDF top terms per document,
  *  - q84 deterministic span masking (T5-style corruption, pinned by
  *    position so the oracle can replay it),
  *  - q85 incremental near-dup check of a NEW batch against the
  *    existing corpus (the steady-state form of q29: new data arrives,
  *    the old band index is already built).
  *
  * All oracles are integer/md5-exact (no float-rounding hazards) except
  * the Jaccard values q85 shares with q29's verified formulation.
  */
object Training {
  import Relational.Q

  /** Both CC kernels below run their rounds through [[graft.Fixpoint]]
    * (one checkpoint job per round, the witness observed in it). A
    * persist()-based variant was measured and REJECTED: SQL-cache
    * materialization runs without AQE by default
    * (`canChangeCachedPlanOutputPartitioning=false`), losing runtime
    * broadcast conversion and partition coalescing inside every round
    * (q134 2.5 → 6.9 s, q91 1.7 → 9.4 s).
    */

  /** Connected components over the MinHash-verified near-duplicate pair
    * graph (q29), by hash-min label propagation: every doc starts
    * labeled with its own id, and each round every node takes the min
    * label among itself and its neighbors. Converges in
    * graph-diameter rounds; near-dup components are shallow (they are
    * similarity cliques plus a few bridges), so the loop is short in
    * practice. Each round is ONE shuffle keyed on the same `id`, so
    * all rounds reuse one co-partitioning; the per-round checkpoint
    * truncates the plan per round (the iterative-algorithm must-do on
    * Spark — an unbounded plan tree re-executes every prior round; see
    * the loop-discipline note above). For
    * adversarially deep graphs the two-phase large-star/small-star
    * contraction (Kiveris et al.) drops rounds to O(log n); the hash-min
    * kernel below is its inner step.
    *
    * Output: one row per clustered doc with its component id (= min
    * doc_id in the component — the canonical representative a dedup
    * pass would keep) and the component size.
    */
  /** Hash-min connected components over an undirected pair list (first
    * two columns = the two endpoint ids). Returns (id, component) with
    * component = the minimum id reachable from `id`. See
    * [[q77_dedup_clusters]] for the scale notes.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 64): DataFrame = Scope { sc =>
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(ca, cb) = pairs.columns.take(2)
    // p persists through the edges fill: the union's two branches would
    // otherwise evaluate the whole upstream pair-generation pipeline
    // twice (the shared-subtree lesson — q104/q67/q31)
    val p = sc.persist(pairs.select(col(ca).as("a"), col(cb).as("b")))
    val edges = sc.persist(p.select($"a".as("src"), $"b".as("dst"))
      .union(p.select($"b".as("src"), $"a".as("dst"))))
    // Labels only ever DECREASE under min-propagation, so the label
    // sum is a convergence witness: unchanged sum <=> no label moved.
    // (decimal(38,0): id sums can exceed long range at corpus scale;
    // coalesce: an empty graph sums to zero, not null.)
    val witness = coalesce(sum($"lbl".cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO)).as("lblsum")
    val init = Fixpoint.ckpt(sc, edges.select($"src".as("id")).distinct()
      .select($"id", $"id".as("lbl")))(witness)
    sc.release(p) // edges is materialized by the eager checkpoint above
    val run = Fixpoint.iterate(sc, init, maxRounds) { labels =>
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select($"dst".as("id"), $"lbl")
      labels.union(prop).groupBy($"id").agg(min($"lbl").as("lbl"))
    }(witness)(_ == _)
    sc.release(edges)
    // Hash-min needs graph-diameter rounds; a capped run is NOT the
    // transitive closure. (Near-dup graphs are shallow cliques, so
    // hitting the cap means the input is not the expected pair graph;
    // the two-phase contraction in [[connectedComponentsTwoPhase]]
    // converges in O(log n) rounds for adversarially deep graphs.)
    val labels = run.convergedState("connectedComponents")
    // seal: hand the caller ONE node-sized block set; the final
    // rolling checkpoint dies with the scope
    sc.seal(labels.select($"id", $"lbl".as("component")))
  }

  /** SemDeDup-style keep-policy over the near-dup components: pair
    * lists say what is SIMILAR, the transitive closure says what is
    * THE SAME cluster (q77), and this query decides what a dedup pass
    * actually KEEPS — one canonical document per component, chosen by
    * q25's quality score with doc_id as the deterministic tiebreak
    * (Abbas et al. 2023 "SemDeDup" keeps the cluster member with the
    * best proxy score; keeping the lowest id is the degenerate policy
    * q77's `component = min id` already encodes). Every clustered doc
    * reports its cluster's kept doc, so the downstream filter is one
    * broadcast semi-join on `is_kept`.
    *
    * Scale shape: components (clustered docs only — a tiny fraction of
    * the corpus) broadcast into the quality scan; the per-component
    * argmax is a window over component keys, whose cardinality is the
    * pair-graph's, not the corpus's.
    */
  val q114_dedup_keep_policy: Q = (spark, dir) => {
    import spark.implicits._
    val comp = connectedComponents(
      Dedup.q29_dedup_minhash(spark, dir).select($"doc_a", $"doc_b"))
      .select($"id".as("doc_id"), $"component")
    val quality = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        TextOps.qualityLadder($"text").cast("int").as("quality_score"))
    val w = Window.partitionBy($"component")
      .orderBy($"quality_score".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    quality.join(broadcast(comp), "doc_id")
      .withColumn("keep_doc", first($"doc_id").over(w))
      .select($"doc_id", $"component", $"quality_score", $"keep_doc",
        ($"doc_id" === $"keep_doc").as("is_kept"))
      .orderBy($"doc_id")
  }

  /** (doc_id, component, n_members) report over a component labeling —
    * shared tail of q77 (hash-min kernel) and q91 (two-phase kernel).
    */
  private def clusterReport(comp: DataFrame): DataFrame = {
    val spark = comp.sparkSession
    import spark.implicits._
    val sizes = comp.groupBy($"component").agg(count(lit(1)).as("n_members"))
    comp.join(sizes, "component")
      .select($"id".as("doc_id"), $"component", $"n_members")
      .orderBy($"doc_id")
  }

  val q77_dedup_clusters: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val pairs = Dedup.q29_dedup_minhash(spark, dir).select($"doc_a", $"doc_b")
    sc.seal(clusterReport(sc.adopt(connectedComponents(pairs))))
  }

  /** q180: duplication-aware SOFT dedup — instead of dropping all but
    * one doc per near-dup cluster (q114's keep policy), every member
    * of a size-c cluster gets sampling weight 1/c, so each cluster
    * contributes exactly one doc's worth of mass to the training mix
    * (the reweight-don't-remove alternative debated in RefinedWeb /
    * DataComp-LM-style curation: identical corpus-level counts, no
    * hard document loss). Reports the per-source effect: raw vs
    * effective (weighted) document and token mass, integer-exact —
    * w = 10⁶ DIV c per doc, eff tokens = Σ tokens·10⁶ DIV c.
    *
    * Scale shape: the cluster labeling reuses q77's hash-min CC over
    * the q29 MinHash-LSH pair graph (pair-graph-sized — a tiny
    * fraction of the corpus) and BROADCASTS into one corpus scan;
    * unclustered docs default to c = 1 via the left join, so the
    * corpus never shuffles on anything but the final source key. The
    * per-source sums ride DECIMAL(38) internally (token·10⁶ mass
    * passes BIGINT at ~9·10¹² tokens/source) and downcast loudly;
    * keep_ratio_x1e6 ≤ 10⁶ is the scale-proof statistic.
    */
  val q180_soft_dedup: Q = (spark, dir) => {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val comp = connectedComponents(
      Dedup.q29_dedup_minhash(spark, dir).select($"doc_a", $"doc_b"))
    val sizes = comp.groupBy($"component").agg(count(lit(1)).as("csize"))
    val cl = comp.join(sizes, "component").select($"id".as("doc_id"), $"csize")
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
    docs.join(broadcast(cl), Seq("doc_id"), "left")
      .withColumn("csize", coalesce($"csize", lit(1L)))
      .select($"source", $"n_tokens", $"csize",
        expr("1000000 DIV csize").as("w"),
        expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV csize").as("eff_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"csize" > 1, 1L).otherwise(0L)).as("n_clustered"),
        sum($"n_tokens").as("n_tokens"),
        sum($"w".cast(DecimalType(38, 0))).as("ed"),
        sum($"eff_tok".cast(DecimalType(38, 0))).as("et"))
      .select($"source", $"n_docs", $"n_clustered", $"n_tokens",
        $"ed".cast("bigint").as("eff_docs_x1e6"),
        $"et".cast("bigint").as("eff_tokens_x1e6"),
        expr("et DIV n_tokens").cast("bigint").as("keep_ratio_x1e6"))
      .orderBy($"source")
  }

  /** Two-phase connected components by alternating large-star /
    * small-star edge contraction (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): converges in O(log n)
    * alternations REGARDLESS of graph diameter — the scale path the
    * diameter-bound hash-min kernel above cannot offer (a 100 TB web
    * graph's link chains are arbitrarily deep; near-dup graphs are
    * shallow, which is why q77 can afford the simpler kernel).
    *
    *  - large-star: every node attaches its strictly-LARGER neighbors
    *    to the minimum of its closed neighborhood;
    *  - small-star: every node (edges oriented toward the larger
    *    endpoint) attaches its smaller neighbors and itself to its
    *    minimum neighbor.
    *
    * Both steps are one groupBy + one self-join on the same key — two
    * shuffles per alternation, map-side-combinable min. The edge set
    * only shrinks toward the star fixpoint (per-step monotone
    * potential, the paper's Lemma 4/5), so convergence is detected by
    * an (edge count, edge-set hash sum) signature: one cheap aggregate
    * per alternation, no join-based diffing. At the fixpoint the
    * graph is a union of stars centered at component minima, and the
    * labeling reads off each node's minimum final neighbor.
    */
  def connectedComponentsTwoPhase(pairs: DataFrame, maxIters: Int = 50): DataFrame = Scope { sc =>
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(ca, cb) = pairs.columns.take(2)

    // (edge count, edge-set hash sum) signature: one map-side-
    // combinable aggregate per alternation detects the star fixpoint
    val sig = Seq(count(lit(1)).as("ne"),
      coalesce(sum(xxhash64($"a", $"b").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("hs"))
    val init = Fixpoint.ckpt(sc, pairs
      .select(least(col(ca), col(cb)).as("a"), greatest(col(ca), col(cb)).as("b"))
      .where($"a" =!= $"b").distinct())(sig: _*)

    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select($"a".as("u"), $"b".as("v"))
        .union(edges.select($"b".as("u"), $"a".as("v")))
      val m = sym.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      // m <= u < v, so (m, v) is already canonical and never a loop
      sym.join(m, "u").where($"v" > $"u")
        .select($"m".as("a"), $"v".as("b")).distinct()
    }

    def smallStar(edges: DataFrame): DataFrame = {
      // canonical a < b, so orienting toward the larger endpoint is a rename
      val dir = edges.select($"b".as("u"), $"a".as("v"))
      val m = dir.groupBy($"u").agg(min($"v").as("m"))
      val leaves = dir.join(m, "u").where($"v" =!= $"m")
        .select($"m".as("a"), $"v".as("b")) // m < v by minimality
      val centers = m.select($"m".as("a"), $"u".as("b")) // m < u always
      leaves.union(centers).distinct()
    }

    // nodes reads the initial edge checkpoint; it is consumed only by
    // the final labeling join, after the loop has released the initial
    // edges — checkpoint it so the final join never re-derives the
    // whole upstream pair pipeline
    val nodes = sc.ckpt(init.state.select($"a".as("id"))
      .union(init.state.select($"b".as("id"))).distinct())
    // an empty edge set is already the fixpoint
    val e = Fixpoint.iterate(sc, init, maxIters)(e => smallStar(largeStar(e)))(sig: _*)(
      (prev, cur) => cur.getLong(0) == 0L || prev == cur)
      .convergedState("connectedComponentsTwoPhase")
    val symF = e.select($"a".as("id"), $"b".as("nb"))
      .union(e.select($"b".as("id"), $"a".as("nb")))
    val lbl = symF.groupBy($"id").agg(min($"nb").as("mn"))
      .select($"id", least($"mn", $"id").as("component"))
    val out = nodes.join(lbl, Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("component"))
    // seal the node-sized labeling; the final star-contraction edge
    // checkpoint and the node table die with the scope
    sc.seal(out)
  }

  /** q77's cluster report computed with the two-phase kernel — same
    * output, same oracle; registered separately so the O(log n)
    * algorithm is exercised by the correctness gate, not only by its
    * equality spec.
    */
  val q91_cc_twophase: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val pairs = Dedup.q29_dedup_minhash(spark, dir).select($"doc_a", $"doc_b")
    sc.seal(clusterReport(sc.adopt(connectedComponentsTwoPhase(pairs))))
  }

  private def docWords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", split(trim($"text"), "\\s+").as("w"))
  }

  /** Word 5-grams with their 1-based start position. */
  private def posGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docWords(spark, dir)
      .where(size($"w") >= 5)
      .select($"doc_id", explode(transform(sequence(lit(1), size($"w") - 4),
        i => struct(i.as("start"),
          concat_ws(" ", slice($"w", i, lit(5))).as("gram")))).as("g"))
      .select($"doc_id", $"g.start".as("start"), $"g.gram".as("gram"))
  }

  /** Exact substring (span) dedup: every word position covered by a
    * word-5-gram that occurs in >= 2 DISTINCT documents is removed;
    * the output pins the surviving text by md5. Near-dup doc removal
    * (q77) keeps one copy per cluster; this pass instead cuts repeated
    * boilerplate spans inside otherwise-unique documents — both are
    * standard, complementary passes over a pretraining corpus.
    *
    * Scale shape: gram emission is a map-only explode; the duplicated-
    * gram set comes from one map-side-combinable aggregate; coverage
    * expansion (start -> start..start+4) is another map-only explode.
    * The only wide ops are the gram count and the per-doc reassembly
    * (one shuffle each). The reassembly keys on doc_id — bounded by
    * document length, no skew hazard.
    */
  val q78_span_dedup: Q = (spark, dir) => {
    import spark.implicits._
    val grams = posGrams(spark, dir)
    val dup = grams.groupBy($"gram")
      .agg(countDistinct($"doc_id").as("nd"))
      .where($"nd" >= 2).select($"gram")
    val covered = grams.join(dup, "gram")
      .select($"doc_id", explode(sequence($"start", $"start" + 4)).as("pos"))
      .distinct()
      .withColumn("c", lit(1))
    docWords(spark, dir)
      .select($"doc_id", size($"w").cast("long").as("n_words"),
        posexplode($"w").as(Seq("p0", "word")))
      .withColumn("pos", $"p0" + 1)
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy($"doc_id")
      .agg(first($"n_words").as("n_words"),
        count($"c").as("n_covered"),
        sort_array(collect_list(when($"c".isNull, struct($"pos", $"word"))))
          .as("kept"))
      .select($"doc_id", $"n_words", $"n_covered",
        md5(concat_ws(" ", transform($"kept", x => x.getField("word"))))
          .as("kept_md5"))
      .orderBy($"doc_id")
  }

  /** Benchmark-decontamination bitmap: the held-out word-5-gram set
    * folded into a 2^20-bit Bloom filter (k = 3 via seeded xxhash64).
    * Built once per dataset like the IVF centroids — an index
    * artifact — and memoized; 16 K longs = 128 KB however large the
    * held-out set grows.
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val BloomBits = 1 << 20

  /** Cache key for [[heldoutBloom]]: dir plus a file-stat fingerprint
    * of the documents table, so rewriting the data under a dir within
    * one JVM invalidates the bitmap (a stale bitmap would yield Bloom
    * false NEGATIVES — silently dropping truly contaminated docs,
    * which the exact-verify join cannot repair; it only removes false
    * positives).
    */
  private def bloomKey(dir: String): String =
    dir + "#" + graft.Tables.fingerprint(dir, "documents")

  /** Fold a one-string-column DataFrame into the k=3 Bloom bitmap.
    * Map-side combinable: each partition contributes its OR'd words,
    * the driver receives at most bits/64 rows however large the input.
    */
  private[graft] def buildBloom(grams: DataFrame): Array[Long] = {
    val spark = grams.sparkSession
    import spark.implicits._
    val gcol = grams.columns.head
    val words = new Array[Long](BloomBits / 64)
    grams.select(col(gcol).as("gram"))
      .select(explode(array((0 until 3).map(i =>
        pmod(xxhash64(lit(i), $"gram"), lit(BloomBits.toLong))): _*)).as("pos"))
      .select(shiftrightunsigned($"pos", 6).cast("int").as("word"),
        call_function("shiftleft", lit(1L), ($"pos" % 64).cast("int")).as("mask"))
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership test for hash i of `gram` against a bitmap literal. */
  private[graft] def bloomHit(bm: org.apache.spark.sql.Column,
      gram: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column = {
    val pos = pmod(xxhash64(lit(i), gram), lit(BloomBits.toLong))
    element_at(bm, shiftrightunsigned(pos, 6).cast("int") + 1)
      .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0
  }

  private def heldoutBloom(spark: SparkSession, dir: String): Array[Long] =
    bloomCache.computeIfAbsent(bloomKey(dir), { _ =>
      import spark.implicits._
      buildBloom(posGrams(spark, dir).where($"doc_id" % 17 === 0)
        .select($"gram").distinct())
    })

  /** Decontamination against a held-out set too large to broadcast as
    * a SET (q66's shape stops working when the benchmark suite is
    * 100 M grams): broadcast a FIXED-SIZE Bloom bitmap instead, prune
    * the corpus gram stream map-side (no false negatives — every
    * held-out gram's bits are set by construction), then exact-verify
    * only the rare survivors with a shuffle join, which removes the
    * Bloom's false positives. The output is therefore EXACT and
    * deterministic — the Bloom parameters affect only how much work
    * the verify join sees — so a plain SQL oracle hash-matches.
    *
    * Output: the contaminated training docs themselves (id + source),
    * the actionable artifact (q66 reports per-source counts).
    */
  val q79_bloom_decontaminate: Q = (spark, dir) => {
    import spark.implicits._
    val bm = typedLit(heldoutBloom(spark, dir))
    def hit(i: Int) = bloomHit(bm, $"gram", i)
    val grams = posGrams(spark, dir)
    val heldout = grams.where($"doc_id" % 17 === 0).select($"gram").distinct()
    val contaminated = grams.where($"doc_id" % 17 =!= 0)
      .where(hit(0) && hit(1) && hit(2))
      .join(heldout, Seq("gram"), "left_semi")
      .select($"doc_id").distinct()
    docWords(spark, dir).where($"doc_id" % 17 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** Model-based quality filtering: a linear text classifier scored
    * map-only (the fastText-inference shape used for CommonCrawl
    * quality filters). The "model" is a (word -> integer milli-weight)
    * table — here derived deterministically from corpus statistics so
    * the oracle can rebuild it; in production it is a trained
    * artifact loaded like any dimension table. Weights BROADCAST, the
    * corpus-side word stream joins map-only, out-of-vocabulary words
    * get a fixed penalty via coalesce, and the per-doc score is one
    * map-side-combinable aggregate. Label thresholds on score
    * relative to doc length (score > 81 * n_words), all integer.
    */
  val q80_quality_classifier: Q = (spark, dir) => {
    import spark.implicits._
    val words = docWords(spark, dir)
      .select($"doc_id", explode($"w").as("word"))
      .where(length($"word") > 0)
    val vocab = words.groupBy($"word").agg(count(lit(1)).as("n"))
      .where($"n" >= 5)
      .select($"word",
        ((length(bin($"n")) - 1) * 11 - length($"word") * 7 + 13)
          .cast("long").as("wt"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        (lit(40L) + sum(coalesce($"wt", lit(-25L)))).cast("long").as("score"))
      .withColumn("label", ($"score" > $"n_words" * 81).cast("int"))
      .orderBy($"doc_id")
  }

  /** q186: bigram-LM perplexity quality scoring — the CCNet device
    * (Wenzek et al. LREC'20: score CommonCrawl against a KenLM trained
    * on Wikipedia; here the `lang = 'en'` slice stands in for the
    * reference corpus) at bigram order with add-one smoothing. Each
    * doc's negative log-likelihood per bigram ranks it head / middle /
    * tail — the quality gate CCNet cuts its corpus with, and the
    * LM-based sibling of q80's weighted-vocab heuristic.
    *
    * Exactness: every bigram's NLL term is ln(c1+V) − ln(c2+1) with
    * BOTH logs quantized to DECIMAL(18,6) of an integer argument (the
    * q181/q184 device — bit-identical double input each engine, exact
    * decimal sums in any order), per-doc sums stay DECIMAL, the
    * head/tail threshold compare is cross-multiplied decimal×integer
    * (no division), and the single cast-to-double division happens
    * once per source with an identical downstream expression.
    *
    * Plan shape for 100 TB: the bigram stream localCheckpoints (feeds
    * train AND score — one corpus explode, the q167 stance); the LM
    * tables aggregate map-side (c2 bigram-type-bounded, c1 vocab-
    * bounded, V one row); scoring is a (w1,w2) equi-join the optimizer
    * broadcasts while the LM fits (it does here; CCNet's real 4 GB
    * KenLM is the broadcast ceiling) and AQE falls back to a shuffle
    * join keyed on the bigram beyond it — deliberately unhinted.
    * Per-doc then per-source folds are map-side-combinable groupBys.
    */
  val q186_lm_quality: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val w = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
          .as("ws"))
    val bi = sc.ckpt(w.where(size($"ws") >= 2)
      .select($"doc_id", $"source", $"lang",
        explode(expr("transform(sequence(1, size(ws) - 1), i ->" +
          " struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
          .as("b"))
      .select($"doc_id", $"source", $"lang", $"b.w1", $"b.w2"))
    // feeds c1 and the scoring join
    val c2 = sc.ckpt(bi.where($"lang" === "en")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c2n")))
    val c1 = c2.groupBy($"w1").agg(sum($"c2n").as("c1n"))
    // V from the bigram-TYPE table (w1 ∪ w2), NOT a second corpus
    // scan: every train word reaches the vocab through some bigram
    // (docs enter with ≥ 2 words), and c2 is vocabulary²-bounded
    // where re-exploding the corpus is another full 100 TB pass
    val v = c2.select($"w1".as("word")).union(c2.select($"w2".as("word")))
      .agg(countDistinct($"word").as("v"))
    def lnq(c: String) = s"CAST(ln(CAST($c AS DOUBLE)) AS DECIMAL(18,6))"
    val d = bi.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select($"doc_id", $"source",
        expr(s"${lnq("coalesce(c1n, 0L) + v")} - ${lnq("coalesce(c2n, 0L) + 1")}")
          .as("t"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"t").as("dn"), count(lit(1)).as("nb"))
    val out = d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nb").as("n_bigrams"),
        round(sum($"dn").cast("double") / sum($"nb").cast("double"), 6).as("nll"),
        sum(when($"dn" * 100 < $"nb" * 335, 1L).otherwise(0L)).as("n_head"),
        sum(when($"dn" * 100 > $"nb" * 347, 1L).otherwise(0L)).as("n_tail"))
      .orderBy($"source")
    // seal the per-source rows; the bigram-stream and LM ckpts die
    // with the scope
    sc.seal(out)
  }

  /** q187: DSIR hashed-n-gram importance weights (Xie et al.
    * NeurIPS'23, "Data Selection for Language Models via Importance
    * Resampling") — the domain-targeting sibling of q186's perplexity
    * gate: instead of scoring fluency under a reference LM, weigh each
    * raw doc by how target-like its hashed bigram FEATURE distribution
    * is, log w(doc) = Σ_f ln(p_target(f) / p_raw(f)), and resample by
    * the weight. Target = the `lang = 'en'` slice (the q186 stance);
    * raw = the full corpus; features = word bigrams poly-31-hashed
    * into B = 256 buckets — DSIR's whole point is that the bucketed
    * feature table stays FIXED-SIZE (B rows) no matter the corpus.
    *
    * Exactness: the bucket hash is an integer char fold (the q147
    * rolling-hash family — `h·31 + ord(c) mod 1000003`, then mod 256 —
    * Spark `aggregate`, DuckDB `list_reduce`, same recurrence); both
    * smoothed log terms ride the q181/q184 quantized-ln device
    * (DECIMAL(18,6) of integer arguments), per-doc log-weights are
    * exact decimal sums so the `log w > 0` selection compare is
    * engine-exact, and the one division per source casts to double
    * once with an identical downstream expression.
    *
    * Plan shape for 100 TB: ONE corpus scan emits the (doc, bucket)
    * feature stream map-side and localCheckpoints (feeds the bucket
    * histogram AND the scoring join — the q167 stance); target/raw
    * bucket counts build in ONE conditional aggregate (256 rows,
    * map-side combined); scoring joins the broadcast 256-row table —
    * no corpus-sized side ever shuffles on a skewable key; doc and
    * source folds are map-side-combinable groupBys.
    */
  val q187_dsir_weights: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val b = 256
    val feats = sc.ckpt(Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
          .as("ws"))
      .where(size($"ws") >= 2)
      .select($"doc_id", $"source", $"lang",
        explode(expr("transform(sequence(1, size(ws) - 1), i ->" +
          " concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("f"))
      .select($"doc_id", $"source", $"lang",
        // poly31_bucket: the codegen kernel twin of the SQL fold
        // `aggregate(sequence(1, length(f)), 0L,
        //    (h, i) -> (h * 31 + ascii(substring(f, i, 1))) % 1000003) % b`
        // (bit-equality property-pinned in TextKernelsSpec). The fold
        // was the query's hottest interpreted path — a CodegenFallback
        // chain materializing a sequence array and a substring per
        // CHARACTER per feature row (guide §4); the oracle's
        // list_reduce twin is unchanged because the kernel reproduces
        // the same recurrence bit-for-bit.
        graft.functions.GraftFunctions.poly31_bucket($"f", 1000003L, b)
          .as("bkt")))
    val hist = feats.groupBy($"bkt")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    def lnq(c: String) = s"CAST(ln(CAST($c AS DOUBLE)) AS DECIMAL(18,6))"
    val tot = hist.agg(sum($"ct").as("t"), sum($"cr").as("r"))
    val d = feats.join(broadcast(hist), "bkt")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"source",
        expr(s"${lnq("ct + 1")} - ${lnq(s"t + $b")}" +
          s" - ${lnq("cr + 1")} + ${lnq(s"r + $b")}").as("lw"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"lw").as("lw"), count(lit(1)).as("nf"))
    d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nf").as("n_feats"),
        round(sum($"lw").cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_logw"),
        sum(when($"lw" > 0, 1L).otherwise(0L)).as("n_selected"))
      .orderBy($"source")
  }

  /** Symmetric int8 quantization of the embedding column — the
    * compression step a 100 TB embedding store runs before ANN
    * serving (4x over float32; IVF lists of int8 codes). Entirely
    * higher-order array functions over the vector — zero shuffle,
    * zero explode — so it scales as a pure scan. Quantized values are
    * floor(v / max|v| * 127 + 0.5): exact IEEE double ops in the same
    * order in Spark and DuckDB, so the integer outputs hash-match.
    */
  val q81_embedding_quantize: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("ma", array_max(transform($"v", x => abs(x))))
      .withColumn("q",
        when($"ma" === 0, transform($"v", _ => lit(0)))
          .otherwise(transform($"v",
            x => floor(x / $"ma" * 127 + lit(0.5)).cast("int"))))
      .select($"vec_id", size($"q").cast("long").as("n_dims"),
        aggregate($"q", lit(0L), (acc, x) => acc + x).as("sum_q"),
        aggregate($"q", lit(0L), (acc, x) => acc + abs(x)).as("l1_q"),
        array_max($"q").as("max_q"), array_min($"q").as("min_q"))
      .orderBy($"vec_id")
  }

  /** CSV source round-trip with declared schema + header (the third
    * staging format next to parquet and NDJSON/q35): write the
    * customer dimension to CSV, read it back with an explicit DDL
    * schema (never inferred — a 2-pass inference over 100 TB is a
    * non-starter, same rule as [[graft.sources.Ndjson]]), and return
    * the rows. Doubles survive exactly: Spark writes
    * shortest-round-trip decimal strings.
    */
  val q82_csv_roundtrip: Q = (spark, dir) => {
    import spark.implicits._
    // Unique per-invocation staging dir: a shared path keyed only by
    // the dataset dir can race overwrite-while-reading under
    // concurrent invocations (parallel tests/bench) and return
    // truncated or mixed rows.
    val stage = java.nio.file.Files
      .createTempDirectory("graft_customer_csv_").toString
    Tables.load(spark, dir, "customer")
      .write.mode("overwrite").option("header", "true").csv(stage)
    spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .option("header", "true").csv(stage)
      .orderBy($"c_custkey")
  }

  /** TF-IDF top-3 terms per document with an integer-exact IDF:
    * idf_bits = floor(log2(N / df)) computed as length(bin(N div df))-1
    * (the q75 trick — no float log crosses the engine boundary).
    * The document-frequency table is the BROADCAST side of the scoring
    * join; the rank is a per-doc window (bounded by vocabulary-per-doc,
    * no skew), pruned to top-3 by WindowGroupLimit before any sort.
    */
  val q83_tfidf: Q = (spark, dir) => {
    import spark.implicits._
    val words = docWords(spark, dir)
      .select($"doc_id", explode($"w").as("word"))
      .where(length($"word") > 0)
    val nDocs = words.agg(countDistinct($"doc_id").as("n_docs"))
    val dfreq = words.groupBy($"word").agg(countDistinct($"doc_id").as("df"))
    val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        ($"tf" * (length(bin(expr("n_docs DIV df"))) - 1)).cast("long"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")))
      .where($"rnk" <= 3)
      .select($"doc_id", $"rnk", $"word", $"tf", $"score")
      .orderBy($"doc_id", $"rnk")
  }

  /** BM25-flavored keyword search: rank documents for a fixed
    * two-term query (one rare term, one common) with the classic
    * saturated-tf × idf score, computed ENTIRELY in scaled integer
    * arithmetic so the oracle matches bit-for-bit — BM25's
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with k1=1.2, b=0.75 becomes
    * (tf·220·W·1000) DIV (100·W·tf + 3000·W + 9000·dl·N) after
    * multiplying through by 100·W (W = corpus words, N = docs, so
    * avgdl = W/N never materializes as a float), and idf is the
    * scaled ratio (N·1000) DIV df. Retrieval completes the q90
    * inverted-index / q83 TF-IDF story: per-QUERY top documents
    * rather than per-document top terms.
    *
    * Scale shape: the only corpus-sized passes are the word scan that
    * derives per-doc lengths and the term-filtered tf aggregate; df
    * and the two corpus totals broadcast, the candidate set (docs
    * containing ≥1 query term) flows through one doc_id shuffle, and
    * the top-10 is a TakeOrdered, never a global sort. (At 100 TB
    * avgdl would be folded to a precomputed scalar rather than
    * carrying W through the integer numerator — here the symbolic
    * form is what keeps the arithmetic exact cross-engine.)
    */
  val q128_keyword_search: Q = (spark, dir) => {
    import spark.implicits._
    val terms = Seq("dup", "spark")
    val words = docWords(spark, dir)
      .select($"doc_id", explode($"w").as("word"))
      .where(length($"word") > 0)
    val dl = words.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("w_total"))
    val tf = words.where($"word".isin(terms: _*))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("part",
        expr("((n_docs * 1000) DIV df) * ((tf * 220 * w_total * 1000) DIV " +
          "(100 * w_total * tf + 3000 * w_total + 9000 * dl * n_docs))"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"part").as("score"))
    scored.orderBy($"score".desc, $"doc_id").limit(10)
      // unpartitioned window is BOUNDED: runs over the 10-row limit()
      .withColumn("rank", row_number().over(
        Window.orderBy($"score".desc, $"doc_id")))
      .select($"rank", $"doc_id", $"n_terms", $"score")
      .orderBy($"rank")
  }

  /** q182: HYBRID retrieval via reciprocal-rank fusion (Cormack et al.
    * SIGIR'09) — the fusion step every hybrid search stack runs over
    * its lexical and vector retrievers: fused(d) = Σ_lists
    * 1/(60 + rank_list(d)). List A is q128's scaled-integer BM25
    * top-10; list B is the exact-cosine top-10 around doc 0's
    * embedding (vec_id aligns with doc_id in the corpus). The fusion
    * itself is integer-exact — 10⁶ DIV (60 + rank) per list, summed —
    * so the oracle matches bit-for-bit given the two lists (BM25 is
    * already all-integer; the cosine list rides the q32 ordering
    * device).
    *
    * Scale shape: each retriever's corpus-side cost is its own,
    * already-audited shape (q128: term-filtered tf aggregate +
    * TakeOrdered; q32: broadcast query row, corpus never shuffles);
    * the fusion then joins two K-ROW lists — bounded work regardless
    * of corpus size, windows only over k rows. The 100 TB form swaps
    * list B's brute scan for the q47 IVF probe; the fusion is
    * unchanged.
    */
  val q182_hybrid_rrf: Q = (spark, dir) => {
    import spark.implicits._
    val kw = q128_keyword_search(spark, dir)
      .select($"doc_id", $"rank".as("kw_rank"))
    val emb = Tables.load(spark, dir, "embeddings")
    val qv = emb.where($"vec_id" === 0).select($"embedding".as("q_emb"))
    val sem = emb.where($"vec_id" =!= 0).crossJoin(broadcast(qv))
      .withColumn("cos", cosine_sim($"q_emb", $"embedding"))
      .orderBy($"cos".desc, $"vec_id").limit(10)
      // unpartitioned window is BOUNDED: runs over the 10-row limit()
      .withColumn("sem_rank",
        row_number().over(Window.orderBy($"cos".desc, $"vec_id")))
      .select($"vec_id".as("doc_id"), $"sem_rank")
    kw.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_x1e6",
        coalesce(expr("1000000 DIV (60 + kw_rank)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + sem_rank)"), lit(0L)))
      .orderBy($"rrf_x1e6".desc, $"doc_id").limit(10)
      // unpartitioned window is BOUNDED: runs over the 10-row limit()
      // of the <=20-row fused list
      .withColumn("rank",
        row_number().over(Window.orderBy($"rrf_x1e6".desc, $"doc_id")))
      .select($"rank", $"doc_id", $"kw_rank", $"sem_rank", $"rrf_x1e6")
      .orderBy($"rank")
  }

  /** Deterministic span masking (T5-style corruption, training prep):
    * every word at 1-based position p with p % 7 == 3 becomes the
    * sentinel token. Pinning the mask by position (not RNG) is what
    * makes the step replayable — and lets the oracle recompute it.
    * Pure per-row array transform: no shuffle, scales as a scan.
    */
  val q84_mask_spans: Q = (spark, dir) => {
    import spark.implicits._
    docWords(spark, dir)
      .withColumn("m", transform($"w",
        (x, i) => when(pmod(i + 1, lit(7)) === 3, lit("<extra_id>")).otherwise(x)))
      .select($"doc_id", size($"m").cast("long").as("n_words"),
        size(filter($"m", x => x === "<extra_id>")).cast("long").as("n_masked"),
        md5(concat_ws(" ", $"m")).as("masked_md5"))
      .orderBy($"doc_id")
  }

  /** Incremental near-duplicate check: a NEW batch (doc_id % 10 == 9
    * stands in for today's crawl) against the EXISTING corpus — the
    * steady-state dedup shape, where the old side's band index is a
    * persisted artifact (built once; ScaleSpec demonstrates the
    * zero-exchange incremental band join against a bucketed index)
    * and per-batch cost is proportional to the BATCH, not the corpus.
    * Same MinHash banding + exact-Jaccard verification as q29, so the
    * brute-force SQL oracle hash-matches for the same reason q29's
    * does (word shingles separate near-dups >= 0.9 from background
    * <= 0.07; band recall at 0.9 is 1 - 4e-8).
    */
  val q85_incremental_dedup: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    def bands(d: DataFrame, idName: String) = d
      .select($"doc_id",
        posexplode(min_hash_bands_words($"text", 3, 16, 4)).as(Seq("band", "key")))
      .select($"doc_id".as(idName), $"band", $"key")
    val cand = bands(docs.where($"doc_id" % 10 === 9), "new_doc")
      .join(bands(docs.where($"doc_id" % 10 =!= 9), "old_doc"), Seq("band", "key"))
      .select($"new_doc", $"old_doc").distinct()
    val grams = docs.select($"doc_id", gram_set($"text", 3).as("g"))
    cand
      .join(grams.toDF("new_doc", "g_n"), "new_doc")
      .join(grams.toDF("old_doc", "g_o"), "old_doc")
      .withColumn("jac", jaccard_sorted($"g_n", $"g_o"))
      .where($"jac" >= 0.8)
      .select($"new_doc", $"old_doc", $"jac")
      .orderBy($"new_doc", $"old_doc")
  }

  /** q154: corpus novelty attribution — every distinct word-5-gram is
    * credited to the EARLIEST document carrying it (min doc_id =
    * arrival order), and a document's novelty is the fraction of its
    * grams it was first to contribute. The curation metric behind
    * "how much new content does this crawl batch actually add": near
    * 1.0 = fresh content, near 0 = restatement of the existing
    * corpus. Complements q78 (which REMOVES repeated spans) by
    * MEASURING each document's marginal contribution instead.
    *
    * Scale shape: the gram stream is aggregated twice and never
    * joined back to the corpus — (gram → min doc_id) with map-side
    * combine, then (first_doc → count); per-doc totals come off the
    * same persisted distinct stream. The one corpus-sized exchange is
    * the (doc_id, gram) distinct; everything after is
    * count-aggregate-sized. No pairwise anything: novelty is a
    * first-occurrence property, so the work is linear in grams where
    * the similarity family (q31/q139) pays candidate pairs.
    */
  val q154_novelty: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val g = sc.persist(posGrams(spark, dir).select($"doc_id", $"gram")
      .distinct())
    val tot = g.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val nn = g.groupBy($"gram").agg(min($"doc_id").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_new"))
    val out = tot.join(nn, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams", coalesce($"n_new", lit(0L)).as("n_new"))
      .withColumn("novelty", $"n_new" / $"n_grams")
      .orderBy($"doc_id")
    sc.seal(out)
  }

  /** q150: global token start-offset per document — the index build
    * that turns a tokenized corpus into a randomly-addressable
    * training dataset (the offset column of a `.idx` sidecar).
    * Semantically one prefix sum over the doc_id order; the naive
    * Spark form is an unpartitioned window, which moves the whole
    * corpus through a single task. Computed instead as a
    * three-level hierarchical prefix sum:
    *
    *   1. bucket totals — one map-side-combined groupBy on
    *      `doc_id DIV B` (corpus/B rows);
    *   2. prefix WITHIN each super-bucket of S buckets — parallel
    *      windows partitioned on `bucket DIV S`, each touching S rows;
    *   3. super-bucket bases — a corpus/(B*S)-row cumsum on the
    *      driver, re-broadcast as a join table.
    *
    * The per-document pass is then a bucket-partitioned window (B
    * rows per task) plus two broadcast joins — every stage is
    * parallel and bounded, and the driver holds only corpus/(B*S)
    * entries (25B docs at B=S=4096 → ~1.5k rows). The parallel-prefix
    * recursion of Blelloch's scan, laid onto DataFrame windows.
    */
  val q150_global_offsets: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val B = 32L
    val S = 16L
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"),
        expr(s"doc_id DIV $B").as("bucket"))
    val bTot = sc.persist(docs.groupBy($"bucket").agg(sum($"n_tokens").as("tot"))
      .withColumn("sb", expr(s"bucket DIV $S")))
    var acc = 0L
    val bases = bTot.groupBy($"sb").agg(sum($"tot").as("stot"))
      .orderBy($"sb").collect()
      .map { r => val out = (r.getLong(0), acc); acc += r.getLong(1); out }
    val wB = Window.partitionBy($"sb").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketBase = bTot
      .withColumn("pre_in_sb", coalesce(sum($"tot").over(wB), lit(0L)))
      .join(broadcast(bases.toSeq.toDF("sb", "sb_base")), "sb")
      .select($"bucket", ($"sb_base" + $"pre_in_sb").as("bucket_base"))
    val wD = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = docs
      .withColumn("pre_in_bucket", coalesce(sum($"n_tokens").over(wD), lit(0L)))
      .join(broadcast(bucketBase), "bucket")
      .select($"doc_id", $"n_tokens",
        ($"bucket_base" + $"pre_in_bucket").as("start_offset"))
      .orderBy($"doc_id")
    sc.seal(out)
  }

  private val pairsCte =
    """WITH g AS (
      |  SELECT doc_id, list_distinct([substr(text, x, 3) for x in range(1, length(text)-1)]) AS grams
      |  FROM documents)""".stripMargin

  private val wordGramsCte =
    """w AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id, x AS start, array_to_string(w[x:x+4], ' ') AS gram
      |  FROM w, unnest(range(1, len(w)-3)) AS t(x) WHERE len(w) >= 5)""".stripMargin

  /** Shared by q77 and q91: both kernels compute the same transitive
    * closure, pinned against DuckDB's recursive CTE.
    */
  /** Recursive-CTE transitive closure up to the (doc_id, component)
    * labeling — shared head of the q77/q91 and q114 oracles.
    */
  private val ccCompCte =
    ("WITH RECURSIVE " + pairsCte.stripPrefix("WITH ") +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM g a JOIN g b ON a.doc_id < b.doc_id
          |  WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
          |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8),
          |edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM pairs
          |  UNION ALL SELECT doc_b, doc_a FROM pairs),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |reach(id, lbl) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
          |comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id)""".stripMargin)

  private val ccOracleSql =
    (ccCompCte +
        """
          |SELECT c.doc_id, c.component, s.n_members
          |FROM comp c JOIN (
          |  SELECT component, COUNT(*) AS n_members FROM comp GROUP BY 1) s
          |  USING (component)
          |ORDER BY doc_id""".stripMargin)

  private val keepPolicyOracle =
    (ccCompCte +
        s""",
          |q AS (
          |  SELECT doc_id, CAST(${TextOps.qualityLadderSql} AS INTEGER) AS quality_score
          |  FROM documents),
          |j AS (
          |  SELECT c.doc_id, c.component, q.quality_score,
          |    FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.component
          |      ORDER BY q.quality_score DESC, c.doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_doc
          |  FROM comp c JOIN q USING (doc_id))
          |SELECT doc_id, component, quality_score, keep_doc,
          |  doc_id = keep_doc AS is_kept
          |FROM j ORDER BY doc_id""".stripMargin)

  val oracles: Map[String, String] = Map(
    "q187_dsir_weights" ->
      """WITH w AS (
        |  SELECT doc_id, source, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source, lang,
        |    list_reduce([ord(substr(s, i, 1)) for i in range(1, length(s) + 1)],
        |      (h, c) -> (h * 31 + c) % 1000003) % 256 AS bkt
        |  FROM (SELECT doc_id, source, lang, ws[i] || ' ' || ws[i + 1] AS s
        |        FROM w, UNNEST(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2)),
        |hist AS (
        |  SELECT bkt,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
        |    COUNT(*) AS cr
        |  FROM f GROUP BY 1),
        |tot AS (SELECT SUM(ct) AS t, SUM(cr) AS r FROM hist),
        |d AS (
        |  SELECT doc_id, source,
        |    SUM(CAST(ln(CAST(ct + 1 AS DOUBLE)) AS DECIMAL(18,6))
        |      - CAST(ln(CAST(t + 256 AS DOUBLE)) AS DECIMAL(18,6))
        |      - CAST(ln(CAST(cr + 1 AS DOUBLE)) AS DECIMAL(18,6))
        |      + CAST(ln(CAST(r + 256 AS DOUBLE)) AS DECIMAL(18,6))) AS lw,
        |    COUNT(*) AS nf
        |  FROM f JOIN hist USING (bkt), tot GROUP BY 1, 2)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nf) AS BIGINT) AS n_feats,
        |  round(CAST(SUM(lw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_logw,
        |  CAST(SUM(CASE WHEN lw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q186_lm_quality" ->
      """WITH w AS (
        |  SELECT doc_id, source, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, source, lang, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM w, UNNEST(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2n FROM bi
        |       WHERE lang = 'en' GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2n) AS c1n FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT word) AS v FROM
        |       (SELECT w1 AS word FROM c2 UNION ALL SELECT w2 FROM c2)),
        |t AS (
        |  SELECT b.doc_id, b.source,
        |    CAST(ln(CAST(COALESCE(c1.c1n, 0) + v AS DOUBLE)) AS DECIMAL(18,6))
        |    - CAST(ln(CAST(COALESCE(c2.c2n, 0) + 1 AS DOUBLE)) AS DECIMAL(18,6))
        |      AS t
        |  FROM bi b LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1), v),
        |d AS (SELECT doc_id, source, SUM(t) AS dn, COUNT(*) AS nb
        |      FROM t GROUP BY 1, 2)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(dn) AS DOUBLE) / CAST(SUM(nb) AS DOUBLE), 6) AS nll,
        |  CAST(SUM(CASE WHEN dn * 100 < nb * 335 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_head,
        |  CAST(SUM(CASE WHEN dn * 100 > nb * 347 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tail
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q154_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[x:x+4], ' ') AS gram
        |  FROM w, unnest(range(1, len(w)-3)) AS t(x) WHERE len(w) >= 5),
        |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
        |nn AS (SELECT doc_id, COUNT(*) AS n_new FROM (
        |  SELECT gram, MIN(doc_id) AS doc_id FROM g GROUP BY 1) GROUP BY 1)
        |SELECT t.doc_id, t.n_grams, COALESCE(nn.n_new, 0) AS n_new,
        |  COALESCE(nn.n_new, 0) / t.n_grams AS novelty
        |FROM tot t LEFT JOIN nn USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q150_global_offsets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        |FROM t ORDER BY doc_id""".stripMargin,
    "q77_dedup_clusters" -> ccOracleSql,
    "q91_cc_twophase" -> ccOracleSql,
    "q180_soft_dedup" ->
      (ccCompCte +
        """,
          |cs AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY 1),
          |cl AS (SELECT c.doc_id, s.csize FROM comp c JOIN cs s USING (component)),
          |d AS (
          |  SELECT doc_id, source,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens
          |  FROM documents),
          |j AS (
          |  SELECT d.source, d.n_tokens, COALESCE(cl.csize, 1) AS csize,
          |    1000000 // COALESCE(cl.csize, 1) AS w,
          |    CAST(d.n_tokens AS HUGEINT) * 1000000 // COALESCE(cl.csize, 1)
          |      AS eff_tok
          |  FROM d LEFT JOIN cl USING (doc_id))
          |SELECT source, COUNT(*) AS n_docs,
          |  CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_clustered,
          |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          |  CAST(SUM(w) AS BIGINT) AS eff_docs_x1e6,
          |  CAST(SUM(eff_tok) AS BIGINT) AS eff_tokens_x1e6,
          |  CAST(SUM(eff_tok) // SUM(n_tokens) AS BIGINT) AS keep_ratio_x1e6
          |FROM j GROUP BY source ORDER BY source""".stripMargin),
    "q114_dedup_keep_policy" -> keepPolicyOracle,
    "q78_span_dedup" ->
      ("WITH " + wordGramsCte +
        """,
          |dup AS (
          |  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
          |covered AS (
          |  SELECT DISTINCT g.doc_id, p AS pos
          |  FROM grams g JOIN dup d USING (gram), unnest(range(g.start, g.start + 5)) AS t(p)),
          |words AS (
          |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, unnest(w) AS word,
          |         unnest(range(1, len(w) + 1)) AS pos
          |  FROM w)
          |SELECT wo.doc_id, ANY_VALUE(wo.n_words) AS n_words,
          |  COUNT(c.pos) AS n_covered,
          |  md5(COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN wo.word END, ' ' ORDER BY wo.pos), ''))
          |    AS kept_md5
          |FROM words wo LEFT JOIN covered c ON wo.doc_id = c.doc_id AND wo.pos = c.pos
          |GROUP BY wo.doc_id ORDER BY wo.doc_id""".stripMargin),
    "q79_bloom_decontaminate" ->
      ("WITH " + wordGramsCte +
        """,
          |test AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0),
          |cont AS (
          |  SELECT DISTINCT g.doc_id FROM grams g JOIN test t USING (gram)
          |  WHERE g.doc_id % 17 <> 0)
          |SELECT w.doc_id, w.source
          |FROM w JOIN cont c USING (doc_id)
          |WHERE w.doc_id % 17 <> 0
          |ORDER BY w.doc_id""".stripMargin),
    "q80_quality_classifier" ->
      """WITH words AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE LENGTH(word) > 0),
        |vocab AS (
        |  SELECT word, (LENGTH(bin(COUNT(*))) - 1) * 11 - LENGTH(word) * 7 + 13 AS wt
        |  FROM words GROUP BY word HAVING COUNT(*) >= 5)
        |SELECT w.doc_id, COUNT(*) AS n_words,
        |  CAST(40 + SUM(COALESCE(v.wt, -25)) AS BIGINT) AS score,
        |  CAST(CASE WHEN 40 + SUM(COALESCE(v.wt, -25)) > COUNT(*) * 81
        |       THEN 1 ELSE 0 END AS INTEGER) AS label
        |FROM words w LEFT JOIN vocab v USING (word)
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    "q81_embedding_quantize" ->
      // The all-zero-vector guard (ma = 0 -> zero codes) mirrors the
      // engine exactly; without it DuckDB's v / 0.0 yields NULL and a
      // zero embedding would diverge engine vs oracle.
      """WITH e AS (
        |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings),
        |m AS (SELECT vec_id, MAX(abs(v)) AS ma FROM e GROUP BY vec_id),
        |q AS (
        |  SELECT e.vec_id,
        |    CASE WHEN ma = 0 THEN 0
        |         ELSE CAST(floor(v / ma * 127 + 0.5) AS INTEGER) END AS qv
        |  FROM e JOIN m USING (vec_id))
        |SELECT vec_id, COUNT(*) AS n_dims,
        |  CAST(SUM(qv) AS BIGINT) AS sum_q,
        |  CAST(SUM(abs(qv)) AS BIGINT) AS l1_q,
        |  MAX(qv) AS max_q, MIN(qv) AS min_q
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q82_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q83_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE LENGTH(word) > 0),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM words),
        |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word),
        |ranked AS (
        |  SELECT t.doc_id, t.word, t.tf,
        |    CAST(t.tf * (LENGTH(bin((SELECT n_docs FROM n) // d.df)) - 1) AS BIGINT) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
        |      ORDER BY t.tf * (LENGTH(bin((SELECT n_docs FROM n) // d.df)) - 1) DESC, t.word) AS rnk
        |  FROM tf t JOIN df d USING (word))
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, word, tf, score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q128_keyword_search" ->
      // the same scaled-integer BM25; w_total cast back to BIGINT up
      // front (DuckDB SUM widens to HUGEINT) and score cast at the end
      """WITH words AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE LENGTH(word) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        |tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS w_total
        |        FROM dl),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words
        |       WHERE word IN ('dup', 'spark') GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |scored AS (
        |  SELECT t.doc_id, COUNT(*) AS n_terms,
        |    CAST(SUM(
        |      ((tot.n_docs * 1000) // d.df) *
        |      ((t.tf * 220 * tot.w_total * 1000) //
        |       (100 * tot.w_total * t.tf + 3000 * tot.w_total
        |        + 9000 * l.dl * tot.n_docs))) AS BIGINT) AS score
        |  FROM tf t JOIN df d USING (word) JOIN dl l USING (doc_id)
        |       CROSS JOIN tot
        |  GROUP BY t.doc_id)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
        |    AS rank,
        |  doc_id, n_terms, score
        |FROM scored ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "q182_hybrid_rrf" ->
      // q128's BM25 chain verbatim as list A; the q32 cosine device
      // as list B; integer RRF fusion over the two 10-row lists
      """WITH words AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE LENGTH(word) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        |tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS w_total
        |        FROM dl),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words
        |       WHERE word IN ('dup', 'spark') GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |scored AS (
        |  SELECT t.doc_id, COUNT(*) AS n_terms,
        |    CAST(SUM(
        |      ((tot.n_docs * 1000) // d.df) *
        |      ((t.tf * 220 * tot.w_total * 1000) //
        |       (100 * tot.w_total * t.tf + 3000 * tot.w_total
        |        + 9000 * l.dl * tot.n_docs))) AS BIGINT) AS score
        |  FROM tf t JOIN df d USING (word) JOIN dl l USING (doc_id)
        |       CROSS JOIN tot
        |  GROUP BY t.doc_id),
        |kw AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
        |      AS kw_rank
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 10),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |       WHERE vec_id = 0),
        |s AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_dot_product(qv.qe, CAST(e.embedding AS DOUBLE[])) /
        |      (sqrt(list_dot_product(qv.qe, qv.qe)) *
        |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[])))) AS cos
        |  FROM embeddings e, qv WHERE e.vec_id <> 0),
        |sem AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
        |      AS sem_rank
        |  FROM s ORDER BY cos DESC, doc_id LIMIT 10),
        |f AS (
        |  SELECT COALESCE(kw.doc_id, sem.doc_id) AS doc_id,
        |    kw.kw_rank, sem.sem_rank,
        |    COALESCE(1000000 // (60 + kw.kw_rank), 0)
        |      + COALESCE(1000000 // (60 + sem.sem_rank), 0) AS rrf_x1e6
        |  FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id)
        |SELECT
        |  CAST(ROW_NUMBER() OVER (ORDER BY rrf_x1e6 DESC, doc_id) AS INTEGER)
        |    AS rank,
        |  doc_id, kw_rank, sem_rank, CAST(rrf_x1e6 AS BIGINT) AS rrf_x1e6
        |FROM f ORDER BY rrf_x1e6 DESC, doc_id LIMIT 10""".stripMargin,
    "q84_mask_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    (x, i) -> CASE WHEN i % 7 = 3 THEN '<extra_id>' ELSE x END) AS m
        |  FROM documents)
        |SELECT doc_id, CAST(len(m) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(m, x -> x = '<extra_id>')) AS BIGINT) AS n_masked,
        |  md5(array_to_string(m, ' ')) AS masked_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "q85_incremental_dedup" ->
      (pairsCte +
        """
          |SELECT n.doc_id AS new_doc, o.doc_id AS old_doc,
          |  len(list_intersect(n.grams, o.grams)) * 1.0 /
          |    (len(n.grams) + len(o.grams) - len(list_intersect(n.grams, o.grams))) AS jac
          |FROM g n JOIN g o ON n.doc_id % 10 = 9 AND o.doc_id % 10 <> 9
          |WHERE len(list_intersect(n.grams, o.grams)) * 1.0 /
          |    (len(n.grams) + len(o.grams) - len(list_intersect(n.grams, o.grams))) >= 0.8
          |ORDER BY new_doc, old_doc""".stripMargin))

  val queries: Map[String, Q] = Map(
    "q77_dedup_clusters" -> q77_dedup_clusters,
    "q180_soft_dedup" -> q180_soft_dedup,
    "q78_span_dedup" -> q78_span_dedup,
    "q79_bloom_decontaminate" -> q79_bloom_decontaminate,
    "q80_quality_classifier" -> q80_quality_classifier,
    "q186_lm_quality" -> q186_lm_quality,
    "q187_dsir_weights" -> q187_dsir_weights,
    "q81_embedding_quantize" -> q81_embedding_quantize,
    "q82_csv_roundtrip" -> q82_csv_roundtrip,
    "q83_tfidf" -> q83_tfidf,
    "q84_mask_spans" -> q84_mask_spans,
    "q85_incremental_dedup" -> q85_incremental_dedup,
    "q91_cc_twophase" -> q91_cc_twophase,
    "q114_dedup_keep_policy" -> q114_dedup_keep_policy,
    "q128_keyword_search" -> q128_keyword_search,
    "q182_hybrid_rrf" -> q182_hybrid_rrf,
    "q150_global_offsets" -> q150_global_offsets,
    "q154_novelty" -> q154_novelty)
}
