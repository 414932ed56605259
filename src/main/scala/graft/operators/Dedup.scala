package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}
import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines, each built for
  * the 100 TB shape of the problem:
  *
  *  - exact:   hash-groupBy on normalized text (one shuffle on the
  *             normalized key; map-side partial agg).
  *  - MinHash: shingle → 64-perm MinHash signature → 16 bands × 4 rows
  *             LSH → candidate pairs via an equi-join on (band, key) —
  *             never all-pairs — then exact-Jaccard verification.
  *  - SimHash: 64-bit SimHash → 4 × 16-bit bands. Pigeonhole: any pair
  *             at Hamming distance <= 3 shares at least one exact band,
  *             so the band join is a lossless blocking for d <= 3.
  *  - n-gram:  exact char-3-gram Jaccard within (source, log2-length
  *             bucket) blocks — the ratio prune is in the join key;
  *             quadratic only inside a (source, bucket) block.
  *  - embedding-cosine: exact broadcast all-pairs baseline (q58) and
  *             the SemDeDup-style IVF-cell-blocked scale path (q59,
  *             multi-probe blocking + exact rescoring).
  */
object Dedup {
  import Relational.Q

  /** Exact duplicate groups by normalized content (lower, collapse
    * whitespace, trim) — the `dropDuplicates` generalization with an
    * explicit canonical representative (min doc_id).
    */
  val q28_dedup_exact: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .withColumn("norm", lower(trim(regexp_replace($"text", "\\s+", " "))))
      .groupBy($"norm")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("dup_count"))
      .select($"canonical_id", $"dup_count")
      .orderBy($"canonical_id")
  }

  /** MinHash + LSH near-duplicate pairs, verified by exact 3-gram
    * Jaccard >= 0.8.
    *
    * Recall: with 16 bands x 4 rows, P(candidate | j) = 1-(1-j^4)^16;
    * at j = 0.85 that is > 0.9999, and the data's pair-similarity
    * histogram is empty in (0.75, 0.85), so LSH + exact verification
    * equals the brute-force oracle. At 100 TB the band join shuffles
    * only (doc_id, band_key) tuples, never text x text.
    *
    * Skew note: a band key's group size equals its near-dup cluster
    * size, so a corpus with a million identical documents would put
    * one million-row key group on one task. The standard pipeline
    * ordering is the cure: run EXACT dedup (q28, one hash shuffle)
    * first — it collapses identical copies, and the residual near-dup
    * clusters are small; q59 shows the chunk-pair segmentation to
    * apply here too if residual clusters were ever measured hot.
    */
  val q29_dedup_minhash: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    // One min_hash_bands evaluation per doc (the expression emits all 16
    // band keys; posexplode never re-evaluates it, unlike 16 projected
    // band columns which CollapseProject would expand into 16 signature
    // computations). Candidate generation hashes 3-WORD shingles: char
    // trigram background similarity is ~0.5 on small-vocabulary corpora
    // (candidate set would go quadratic), while word shingles separate
    // near-dups (>=0.9) from background (<=0.07) — measured on this
    // corpus — so candidates stay ~linear and recall at the 0.8
    // verification threshold is 1 - (1-0.9^4)^16 ~ 1 - 4e-8.
    val bands = docs
      .select($"doc_id",
        posexplode(min_hash_bands_words($"text", 3, 16, 4)).as(Seq("band", "key")))
    val cand = bands.as("a")
      .join(bands.as("b"), Seq("band", "key"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    // Exact verification on precomputed sorted gram-hash arrays: O(n)
    // merge per pair instead of rebuilding hash sets per pair.
    val grams = docs.select($"doc_id", gram_set($"text", 3).as("grams"))
    cand
      .join(grams.toDF("doc_a", "grams_a"), "doc_a")
      .join(grams.toDF("doc_b", "grams_b"), "doc_b")
      .withColumn("jac", jaccard_sorted($"grams_a", $"grams_b"))
      .where($"jac" >= 0.8)
      .select($"doc_a", $"doc_b", $"jac")
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash near-duplicate pairs at Hamming distance <= 3 (lossless
    * 4-band blocking; see object doc). Oracle-gated since round 9 via
    * the [[HashOracleSql]] HUGEINT unroll of the simhash kernel.
    * Band-key skew: same family and same cure as q29's note
    * (exact-dedup first; chunk-pair keys à la q59/q67 if residual
    * clusters measure hot).
    */
  val q30_dedup_simhash: Q = (spark, dir) => {
    import spark.implicits._
    val sigs = Tables.load(spark, dir, "documents")
      .select($"doc_id", sim_hash($"text").as("sig"))
    val bandCols: Seq[Column] = (0 until 4).map { i =>
      struct(lit(i).as("band"),
        shiftrightunsigned($"sig", 16 * i).bitwiseAND(lit(0xFFFFL)).as("key")).as(s"b$i")
    }
    val bands = sigs
      .select($"doc_id", $"sig", explode(array(bandCols: _*)).as("b"))
      .select($"doc_id", $"sig", $"b.band", $"b.key")
    bands.as("a")
      .join(bands.as("b"), Seq("band", "key"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.sig".bitwiseXOR($"b.sig")).as("hamming"))
      .distinct()
      .where($"hamming" <= 3)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Exact n-gram Jaccard similarity pairs within (same source,
    * length-ratio <= 2) blocks at threshold 0.3. The length filter is
    * a standard Jaccard upper-bound prune: j(A,B) <= min/max sizes.
    *
    * The ratio prune lives IN the join key, not after the join: each
    * doc gets a coarse length bucket `floor(log2(n_chars))` and the
    * pair join is an equi-join on (source, bucket). Ratio <= 2
    * implies the buckets differ by at most 1 (floor(x)-floor(y) <=
    * x-y+1 < 2 for |x-y| <= 1), so the blocking is lossless. A join
    * keyed on source alone materializes O(|source-block|^2) pairs
    * before any prune; with a handful of sources at 100 TB each block
    * is the corpus. The exact (symmetric) ratio `where` stays as the
    * in-bucket refinement.
    *
    * Pair orientation: each unordered pair meets EXACTLY once —
    * at the HIGHER doc's bucket (the b side emits {bkt, bkt+1};
    * bucket-distance-1 pairs match only with the higher-bucket doc in
    * the a role), with an id tie-break inside equal buckets. That
    * keeps the b-side emission at 2x (not 3x neighbor emission +
    * pair-distinct), and ids are canonicalized to (least, greatest)
    * on output. Unlike q29 (where a doc's candidate multiplicity is
    * unbounded, forcing grams to join back by id), each doc rides the
    * shuffle at most 1x + 2x, so the gram arrays travel WITH the join
    * sides — bounded payload, no pair-keyed join-backs (those lose
    * broadcast eligibility once the gram table passes 10 MB).
    * Measured at sf0.1 (20 uniform sources, lengths within ~4
    * octaves — the WORST case for this blocking): buckets prune only
    * ~22% of pairs, so wall time is comparable to the source-only
    * join; the regime that matters is few sources x millions of docs,
    * where source-only blocking is O(corpus^2) and this stays
    * O(sum of block^2).
    */
  val q31_dedup_ngram: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    // persisted: both join sides derive from docs, and the gram_set
    // evaluation (hash + sort per doc) would otherwise run twice in
    // the one DAG (the q104/q67 shared-subtree lesson)
    val docs = sc.persist(Tables.load(spark, dir, "documents")
      .select($"doc_id", gram_set($"text", 3).as("grams"), $"source",
        $"n_chars", floor(log2(greatest($"n_chars", lit(1)))).as("bkt")))
    val a = docs.select($"doc_id".as("id_a"), $"grams".as("grams_a"),
      $"source", $"n_chars".as("len_a"), $"bkt".as("bkt_a"))
    val b = docs.select($"doc_id".as("id_b"), $"grams".as("grams_b"),
      $"source", $"n_chars".as("len_b"), $"bkt".as("bkt_b"))
      .withColumn("bkt_a", explode(array($"bkt_b", $"bkt_b" + 1)))
    // verify with the thresholded merge walk: jac >= 0.3 <=>
    // 13*inter >= 3*(na+nb), so the kernel bails the moment the
    // remaining elements can't reach ceil(3(na+nb)/13) — most
    // in-block pairs fail, and they fail early. GREATEST(..., 1)
    // keeps the two-empty-gram-sets pair excluded (need 0 would admit
    // it with a NaN jaccard; jaccard_sorted defined it as 0.0).
    // The surviving pairs' division is the same two exact ints the
    // old kernel divided — bit-identical jac.
    // Round-17 (optimization): the verify kernel is MATERIALIZED
    // before the presentation sort. A global orderBy's range
    // partitioner SAMPLES its child by executing it, so with the
    // kernel fused in the sort's input stage the whole candidate +
    // merge-walk pass ran twice per query (and the `inter >= 0`
    // filter pushed below the projection duplicated the kernel
    // expression besides) — StageProbe: one kernel pass 2.2 s vs
    // 5.5 s full. The checkpoint holds one small row per candidate
    // (ids + three ints, the gram arrays are projected away), the
    // kernel evaluates exactly ONCE per candidate (no filter below
    // the projection), and the sort samples the materialized rows.
    val verified = sc.ckpt(a.join(b, Seq("source", "bkt_a"))
      .where(($"bkt_a" === $"bkt_b" && $"id_a" < $"id_b") ||
        $"bkt_a" === $"bkt_b" + 1)
      .where(greatest($"len_a", $"len_b") <= least($"len_a", $"len_b") * 2)
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"),
        graft.functions.GraftFunctions.sorted_inter_atleast(
          $"grams_a", $"grams_b",
          expr("CAST(GREATEST((3 * (size(grams_a) + size(grams_b)) + 12) DIV 13, 1) AS INT)"))
          .as("inter"),
        size($"grams_a").as("na"), size($"grams_b").as("nb")))
    sc.seal(verified
      .where($"inter" >= 0)
      .select($"doc_a", $"doc_b",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jac"))
      .orderBy($"doc_a", $"doc_b"))
  }

  /** q139: exact set-similarity self-join (token-set Jaccard >= 0.9)
    * via PREFIX FILTERING — the AllPairs/PPJoin candidate-generation
    * strategy (Bayardo et al., WWW'07; Xiao et al., WWW'08), the
    * third blocking family next to q29's LSH bands and q31's
    * (source, length-bucket) blocks. Tokens get a global RARE-FIRST
    * order (df asc, token asc); a doc's prefix is its `t - ceil(0.9t)
    * + 1` rarest tokens (~t/10); two docs can reach Jaccard >= 0.9
    * only if their prefixes share a token (inter >= ceil(0.9 t_a), so
    * the earliest common token sits at position <= t_a - inter + 1 <=
    * p_a in a's rare-first order, and symmetrically for b), so the
    * prefix equi-join plus the 10*min >= 9*max length filter is a
    * LOSSLESS candidate generator and the exact array-intersect
    * verify only runs inside candidates. The Jaccard test is the
    * integer cross-multiplication `19*inter >= 9*(t_a + t_b)` — no
    * floats anywhere, so the all-pairs DuckDB oracle hash-matches.
    * (The 0.9 threshold is also what the CORPUS demands: the
    * synthetic docs draw from one shared vocabulary, so 73% of ALL
    * pairs clear tau=0.5 — at that tau the join is semantically
    * degenerate and every blocking is moot.)
    *
    * Scale shape: the decisive property vs a plain token join is WHAT
    * joins — prefixes hold each doc's RAREST tokens, so stopword-
    * sized join buckets never form (the "the"-bucket that makes a
    * naive token self-join quadratic is excluded by construction
    * unless a doc is more than half stopwords). The df table and the
    * global rank are vocabulary-sized (the q129 stance); candidates
    * shuffle on the token-rank key; the verify joins the candidate
    * pair list against the per-doc sorted-token arrays (doc-keyed
    * shuffles) and finishes map-side.
    */
  /** q139's streams — `toks` the persisted token explode, `ranked`
    * the checkpointed vocab rank table (both registered in `sc`), `dt` the
    * per-doc token-rank pairs, `prefix` each doc's rare-first prefix
    * rows (doc_id, trank, t, rn). Exposed `private[graft]` so
    * ScaleAudit can profile the candidate join-key (trank) bucket
    * occupancy over the SAME derivation the query joins on, instead
    * of a drifting copy.
    */
  private[graft] def setsimStreams(sc: Scope, spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val toks = sc.persist(Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(array_distinct(
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)"))).as("tok")))
    // Global rare-first order WITHOUT a single-partition window: the
    // (df, tok) range-sort stays distributed and `zipWithIndex`
    // assigns the global ordinal per partition (the q140/F12 device).
    // Only the ORDER of trank matters downstream (prefix selection,
    // candidate equi-join, sorted-array intersect) — the values never
    // reach the output — so the 1-based dense ordinal is equivalent
    // to the old vocabulary-wide row_number and this path keeps zero
    // single-task stages.
    val sortedV = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
      .sort($"df", $"tok").select($"tok")
    val vSchema = sortedV.schema.add("trank", LongType, nullable = false)
    // localCheckpoint: the RDD-backed frame has NO size stats, so the
    // rank join below would plan as a sort-merge join shuffling the
    // whole token stream on a string key; checkpointing the
    // vocab-sized table gives AQE its real size and the join
    // broadcasts (measured 16.4 s -> 7.6 s for the query at sf0.1)
    val ranked = sc.ckpt(spark.createDataFrame(
      sortedV.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
      vSchema))
    val dt = toks.join(ranked, "tok").select($"doc_id", $"trank")
    val sizes = dt.groupBy($"doc_id").agg(count(lit(1)).as("t"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"trank")
    val prefix = dt.join(sizes, "doc_id")
      .withColumn("rn", row_number().over(wDoc))
      .where($"rn" <= expr("t - (9 * t + 9) DIV 10 + 1"))
      .select($"doc_id", $"trank", $"t", $"rn")
    (toks, ranked, dt, prefix)
  }

  val q139_setsim_join: Q = (spark, dir) => Scope(setsimJoin(spark, dir, _))

  /** Under [[Scope.Lazy]] this returns the plain plan, so
    * PlanInvariantsSpec can pin the join shape.
    */
  private[graft] def setsimJoin(spark: org.apache.spark.sql.SparkSession,
      dir: String, sc: Scope): DataFrame = {
    import spark.implicits._
    val (_, _, dt, prefix) = setsimStreams(sc, spark, dir)
    // PPJoin position filter: at a pair's EARLIEST common token the
    // remaining overlap is at most 1 + min(t_a - rn_a, t_b - rn_b)
    // (everything common sits at or after that token in both rare-
    // first orders), so a row where even that bound misses the
    // required overlap ceil(9/19*(t_a+t_b)) cannot be a true pair's
    // earliest match — and every true pair's earliest match passes,
    // so the pruned join + distinct is still lossless (spec-pinned
    // against the brute force).
    // Round-17 (optimization): the candidate self-join is keyed on the
    // prefix token alone, and the prefix-bucket histogram is SKEWED —
    // at sf0.1 the top bucket holds 3,816 prefix rows (ScaleAudit,
    // unchanged at 8x), so one join task owns that bucket's ~7M row
    // pairs while the other keys spread over only ~17 hot tokens:
    // StageProbe put the cands stage at 4.4 s of the query's 5.8 s
    // with the suite's cores mostly idle. A single enormous key is
    // exactly what AQE skew-join cannot split (guide §2.5), so the
    // cure is the q67/q133 ADAPTIVE CHUNKED SELF-JOIN: rows of a
    // bucket with d prefix rows are hashed into nc = ceil(d/256)
    // chunks and the join keys on the COMPOUND (trank, chunk_a,
    // chunk_b) — per-task work is bounded by ~256² whatever the
    // bucket size, normal buckets keep nc = 1 (the key degenerates to
    // (trank, 0, 0) — the plain join, zero replication). Every
    // unordered pair meets exactly once: cross-chunk at its unique
    // (ca < cb) key, same-chunk under da < db; all pair filters are
    // SYMMETRIC in (t, rn), so losing the original a/b orientation
    // changes nothing, and the output canonicalizes to
    // (least, greatest) — the candidate SET is identical (the
    // brute-force equivalence pin in the spec covers it). The bucket
    // size rides a count-over-window ON the prefix stream (one trank
    // exchange, no second aggregate-and-join pass), and px PERSISTS:
    // the original self-join computed the window lineage once via
    // ReuseExchange (identical subplans), which the asymmetric
    // chunk explodes would otherwise break — without the cache the
    // prefix lineage ran once per side and the chunking LOST ground
    // (measured 6.0 -> 8.1 s before this cache; 6.0 -> 5.5 s with it,
    // the residual wall being the genuine 3.3M-row candidate distinct
    // + verify volume).
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy($"trank")
    val px = sc.persist(prefix
      .withColumn("d", count(lit(1)).over(wTok))
      .withColumn("nc", expr("CAST((d + 255) DIV 256 AS INT)"))
      .withColumn("ch", pmod(hash($"doc_id"), $"nc")))
    val aSide = px.select($"trank", $"doc_id".as("da"), $"t".as("ta"),
      $"rn".as("ra"), $"ch".as("ca"), explode(expr("sequence(ch, nc - 1)")).as("cb"))
    val bSide = px.select($"trank", $"doc_id".as("db"), $"t".as("tb"),
      $"rn".as("rb"), explode(expr("sequence(0, ch)")).as("ca"), $"ch".as("cb"))
    val cands = aSide.join(bSide, Seq("trank", "ca", "cb"))
      .where(($"ca" < $"cb" || $"da" < $"db") &&
        least($"ta", $"tb") * 10 >= greatest($"ta", $"tb") * 9 &&
        (lit(1) + least($"ta" - $"ra", $"tb" - $"rb")) * 19 >=
          ($"ta" + $"tb") * 9)
      .select(least($"da", $"db").as("doc_a"),
        greatest($"da", $"db").as("doc_b")).distinct()
    val arrs = dt.groupBy($"doc_id")
      .agg(sort_array(collect_list($"trank")).as("toks"), count(lit(1)).as("n"))
    // verify via ONE merge walk per candidate over the sorted rank
    // arrays (codegen kernel) instead of array_intersect's per-pair
    // hash-set build; `inter >= ceil(9(na+nb)/19)` <=> the old
    // `19*inter >= 9*(na+nb)` test, and the kernel bails the moment
    // the remaining elements can't reach that bound — failing
    // candidates exit early in the rare-first order (Xiao WWW'08 §4)
    val scored = cands
      .join(arrs.select($"doc_id".as("doc_a"), $"toks".as("ta"), $"n".as("na")), "doc_a")
      .join(arrs.select($"doc_id".as("doc_b"), $"toks".as("tb"), $"n".as("nb")), "doc_b")
      .withColumn("inter", graft.functions.GraftFunctions.sorted_inter_atleast(
        $"ta", $"tb", expr("CAST((9 * (na + nb) + 18) DIV 19 AS INT)")))
      .select($"doc_a", $"doc_b", $"inter", $"na", $"nb")
    // Round-17 (optimization): materialize the verify pass before
    // the presentation sort — the global orderBy's range partitioner
    // SAMPLES its child by executing it, so the candidate
    // distinct + verify kernel ran twice per query (the q31
    // finding; StageProbe measured the resample as ~60% of q31's
    // wall). One small row per candidate (arrays projected away),
    // kernel evaluated exactly once (no filter below the
    // projection); the lazy scope keeps the full plan so the spec's
    // join-shape pin still sees the candidate join.
    sc.seal(sc.ckpt(scored)
      .where($"inter" >= 0)
      .select($"doc_a", $"doc_b", $"inter",
        ($"na" + $"nb" - $"inter").as("uni"),
        expr("(CAST(inter AS BIGINT) * 1000) DIV (na + nb - inter)").as("jac_x1000"))
      .orderBy($"doc_a", $"doc_b"))
  }

  /** q140: sorted-neighborhood dedup (Hernandez & Stolfo, SIGMOD'95)
    * — the fourth classic blocking family (after q29 LSH bands, q31
    * length buckets, q139 prefix filtering): sort the corpus by a
    * discriminating key (first 24 chars of the normalized text,
    * doc_id tiebreak for a total order), then compare only records
    * within a fixed window of W=8 positions in that order; survivors
    * are exact-verified with the q139 integer Jaccard test. The
    * method trades recall for a HARD O(n*W) candidate bound — near-
    * dups whose first 24 chars diverge are missed by design (that is
    * the recall knob: more passes with different keys, not a bigger
    * window), which is why it is the cheap first pass of a multi-pass
    * pipeline rather than a replacement for q139.
    *
    * Scale shape: the global ordinal comes from a range-sort +
    * `zipWithIndex` (two lightweight jobs, zero single-task windows —
    * the F12 stance), and the W-neighborhood pairs meet in a BANDED
    * equi-join on `idx DIV W` (each right row explodes to its own and
    * previous block, so every in-window pair meets exactly once, no
    * distinct needed). Work is n*W candidate rows however large the
    * corpus — no skew possible, every block has exactly W rows.
    */
  /** One sorted-neighborhood pass under an arbitrary sort key derived
    * from the normalized text — the parameterized kernel behind q140
    * (forward 24-char prefix) and q162's second pass (reversed-text
    * prefix). Returns the verified pair set WITHOUT the presentation
    * sort so passes compose with a union.
    */
  private def snmPass(spark: org.apache.spark.sql.SparkSession, dir: String,
      key: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val W = 8
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        expr("array_distinct(filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0))")
          .as("toks"),
        key(lower(trim($"text"))).as("k"))
    val sorted = docs.sort($"k", $"doc_id").select($"doc_id", $"toks")
    val schema = sorted.schema.add("idx", LongType, nullable = false)
    val indexed = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
    val withBlk = indexed.selectExpr("doc_id", "toks", "idx", s"idx DIV $W AS blk")
    val left = withBlk
      .select($"doc_id".as("id_a"), $"toks".as("ta"), $"idx".as("ia"), $"blk")
    val right = withBlk
      .select($"doc_id".as("id_b"), $"toks".as("tb"), $"idx".as("ib"),
        $"blk".as("blk_b"))
      .withColumn("blk", explode(array($"blk_b" - 1, $"blk_b")))
    left.join(right, Seq("blk"))
      .where($"ib" > $"ia" && $"ib" - $"ia" <= W)
      .withColumn("inter", size(array_intersect($"ta", $"tb")))
      .withColumn("na", size($"ta"))
      .withColumn("nb", size($"tb"))
      .where(expr("19 * inter >= 9 * (na + nb)"))
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"), $"inter",
        ($"na" + $"nb" - $"inter").cast("long").as("uni"),
        expr("(CAST(inter AS BIGINT) * 1000) DIV (na + nb - inter)").as("jac_x1000"))
  }

  val q140_sorted_neighborhood: Q = (spark, dir) => {
    import spark.implicits._
    snmPass(spark, dir, norm => substring(norm, 1, 24))
      .orderBy($"doc_a", $"doc_b")
  }

  /** q162: MULTI-PASS sorted-neighborhood — the recall knob q140's
    * scaladoc names ("more passes with different keys, not a bigger
    * window"), shipped: pass 1 sorts by the forward 24-char prefix
    * (exactly q140), pass 2 by the REVERSED-text 24-char prefix, so
    * near-dups that diverge in their opening words but share their
    * tails (changed titles, prepended boilerplate — the suffix-stable
    * edit class) are invisible to pass 1 and caught by pass 2.
    * Union of verified pairs (UNION is set-semantics: a pair found by
    * both passes carries identical metric columns, so it collapses).
    * Each pass keeps the hard O(n·W) candidate bound — P passes cost
    * P linear sweeps, never a quadratic term (Hernandez & Stolfo
    * SIGMOD'95 §4, the multi-pass recipe). Recall of 1 vs 2 passes
    * against the exact q139 join is pinned in ScaleSpec.
    */
  val q162_snm_multipass: Q = (spark, dir) => {
    import spark.implicits._
    snmPass(spark, dir, n => substring(n, 1, 24))
      .unionByName(snmPass(spark, dir, n => substring(reverse(n), 1, 24)))
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Embedding-cosine near-duplicate pairs, EXACT: every pair with
    * cosine >= 0.45 (the corpus is weakly clustered — max pair cosine
    * ~0.5 — so the threshold sits just under the top of the real
    * distribution and the output is small and meaningful).
    *
    * Plan shape: broadcast the (id, embedding) pairs once and score
    * all-pairs map-side — zero shuffle, fully parallel, right for a
    * corpus that fits a broadcast (2k x 64 floats here). This is the
    * verification BASELINE: all-pairs work is quadratic however it is
    * partitioned, so at 100 TB you run q59 (IVF-cell-blocked, linear
    * in sum-of-cell^2) and audit its recall against this on samples.
    */
  val q58_dedup_embedding: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val b = emb.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    // materialized before the presentation sort (the q31/q139
    // range-sampling finding): the all-pairs cosine pass is the
    // query's whole cost and the orderBy's sampling job re-ran it
    val scored = sc.ckpt(emb.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"))
      .crossJoin(broadcast(b))
      .where($"vec_a" < $"vec_b")
      .withColumn("cos", cosine_sim($"emb_a", $"emb_b"))
      .where($"cos" >= 0.45)
      .select($"vec_a", $"vec_b", $"cos"))
    sc.seal(scored.orderBy($"vec_a", $"vec_b"))
  }

  /** Embedding-cosine near-duplicate pairs at scale (SemDeDup shape):
    * each vector is assigned to its nprobe=3 nearest IVF cells by the
    * map-only `top_cells` kernel, candidate pairs meet in an equi-join
    * on the cell id, and exact cosine rescoring keeps pairs >= 0.45.
    * Work is sum-of-cell-pairs^2 instead of corpus^2; multi-probe
    * (3 cells/vector) recovers pairs that straddle a cell boundary —
    * the recall/emission knob (measured here: nprobe 2 -> 0.71,
    * 3 -> 0.857 vs the exact q58 baseline).
    *
    * The cell self-join has the same unsplittable-key-group hazard the
    * interval join had (one DENSE embedding cluster — the very thing
    * SemDeDup exists to find — is one cell, and AQE skew-split cannot
    * divide a self-join key group), so it uses the same cure: each
    * (vector, cell) row gets a chunk in [0, nc) with nc adaptive per
    * cell (ceil(cell population / chunkRows), from a map-side-combined
    * count broadcast back), and the join keys on `(cell, ca, cb)` with
    * ca <= cb. Cold cells keep nc = 1 (zero replication); a dense cell
    * becomes nc(nc+1)/2 key groups with per-task rescoring bounded by
    * chunkRows². The pair set is chunking-independent (for ca < cb the
    * chunk orientation fixes which side a vector lands on, so ids are
    * canonicalized to ascending afterwards; ca == cb dedups on
    * vec_a < vec_b as before).
    *
    * Approximate -> rows-only check; recall vs the exact q58 baseline
    * is pinned in SimilaritySpec.
    */
  /** The q59 chunk-pair candidate streams (a-side, b-side), keyed by
    * `(cell, ca, cb)` — the derivation the query joins on, exposed so
    * ScaleAudit's skew probe measures the ACTUAL candidate-join keys
    * (the q139/q144 discipline): per-key occupancy bounds the
    * per-task rescore work at chunkRows² by construction.
    */
  private[graft] def ivfChunkStreams(spark: org.apache.spark.sql.SparkSession,
      dir: String, nprobe: Int = 3): (DataFrame, DataFrame) = {
    import spark.implicits._
    val chunkRows = 512L // per-task rescore bound = chunkRows² comparisons
    val cents = Similarity.centroids(spark, dir)
    val cells = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding",
        explode(top_cells($"embedding", cents.flatten, cents.length, nprobe)).as("cell"))
    // chunk counts come from the memoized per-cell loads (an index
    // artifact, like the centroids themselves) as a LITERAL map — the
    // per-query plan stays map-only, no counting join
    val nc = Similarity.cellLoads(spark, dir, cents.length, nprobe)
      .map { case (c, n) => c -> ((n + chunkRows - 1) / chunkRows).toInt }
    val seg = cells
      .withColumn("nc", coalesce(
        element_at(typedLit(nc), $"cell"), lit(1)))
      .withColumn("chunk", pmod(hash($"vec_id"), $"nc"))
    val a = seg.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"), $"cell",
      $"chunk".as("ca"), explode(sequence($"chunk", $"nc" - 1)).as("cb"))
    val b = seg.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"), $"cell",
      explode(sequence(lit(0), $"chunk")).as("ca"), $"chunk".as("cb"))
    (a, b)
  }

  val q59_dedup_embedding_ivf: Q = (spark, dir) =>
    dedupEmbeddingIvf(spark, dir, nprobe = 3)

  /** q59's body with nprobe as a knob. `nprobe = 16` (all cells) puts
    * every pair in a shared cell, so the blocked join degenerates to
    * all-pairs and the result must EQUAL exact q58 row for row
    * (SimilaritySpec's exhaustive-twin pin).
    */
  private[graft] def dedupEmbeddingIvf(spark: org.apache.spark.sql.SparkSession,
      dir: String, nprobe: Int): DataFrame = {
    import spark.implicits._
    val (a, b) = ivfChunkStreams(spark, dir, nprobe)
    a.join(b, Seq("cell", "ca", "cb"))
      .where(($"ca" < $"cb" || $"vec_a" < $"vec_b") && $"vec_a" =!= $"vec_b")
      .select(least($"vec_a", $"vec_b").as("va"),
        greatest($"vec_a", $"vec_b").as("vb"),
        cosine_sim($"emb_a", $"emb_b").as("cos"))
      .where($"cos" >= 0.45)
      .dropDuplicates("va", "vb") // a pair can share several probed cells
      .select($"va".as("vec_a"), $"vb".as("vec_b"), $"cos")
      .orderBy($"vec_a", $"vec_b")
  }

  /** q144: asymmetric CONTAINMENT self-join — emit the ordered pair
    * (a, b) when |A∩B| >= ceil(0.7·|A|) over distinct word-3-gram
    * shingle sets: "most of document a's content appears inside
    * document b", the sub-document-duplication question Jaccard
    * (q31/q139) cannot ask because its symmetric denominator lets a
    * big container dilute the score. Shingles, not tokens: the corpus
    * shares one vocabulary, so token-set containment is degenerate
    * (89k of 250k ordered pairs at sf0.001) while 3-gram containment
    * isolates the ~50 genuinely duplicated passages.
    *
    * Candidate generation adapts q139's prefix filter to asymmetric
    * semantics (Chaudhuri et al., ICDE'06): only the PROBE side (a)
    * takes a prefix — its `t - ceil(0.7t) + 1` rarest shingles in the
    * global (df, gram) order — while the INDEXED side (b) posts ALL
    * its shingles, because no length bound on b can prune a
    * containment candidate. Lossless: a true pair shares >=
    * ceil(0.7·ta) grams, a's non-shared grams number <= prefixLen-1,
    * so some prefix gram of a is in b's postings. The position filter
    * reuses the q139 argument — both sides sort by the SAME global
    * order, so at the pair's earliest common gram, inter <= 1 +
    * min(ta-ra, tb-rb). Survivors are exact-verified by
    * array_intersect with the integer test 10·inter >= 7·ta.
    *
    * Scale shape: the join keys are a's RAREST shingles (df-ascending
    * prefix), so the b-postings buckets they touch are small by
    * construction — the stopword-shingle postings exist but are never
    * probed. Shuffles: gram df count, per-doc position window, the
    * probe join, and the verify joins — all keyed, no cross product
    * (spec-pinned). Shingle vocabulary is corpus-sized, so no global
    * rank table is materialized (unlike q139's vocabulary-sized one):
    * the prefix choice needs only (df, gram) ORDER, carried by the
    * per-doc window.
    */
  /** q144's (shingles, probeA, fullB) streams — exposed `private[graft]`
    * so ScaleAudit profiles the probed-bucket occupancy (the join work
    * is Σ probe_cnt·post_cnt per gram, over PROBED grams only) on the
    * same derivation the query joins, not a drifting copy.
    */
  private[graft] def containmentStreams(sc: Scope, spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val (tn, td) = (7, 10) // tau = 0.7
    val sh = sc.persist(Tables.load(spark, dir, "documents")
      .select($"doc_id",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)").as("ws"))
      .where(size($"ws") >= 3)
      .select($"doc_id", expr(
        // sort_array: the verify stage merge-walks the gram arrays in
        // UTF8 binary order (sortedInterAtLeastStr); set semantics
        // everywhere else, so the order is free to choose here
        """sort_array(array_distinct(transform(sequence(0, size(ws) - 3),
          |  i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))))""".stripMargin
          .replace("\n", " ")).as("grams")))
    val dg = sh.select($"doc_id", explode($"grams").as("g"))
    val dfs = dg.groupBy($"g").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"df", $"g")
    val posed = dg.join(dfs, "g")
      .join(sh.select($"doc_id", size($"grams").as("t")), "doc_id")
      .withColumn("rn", row_number().over(wDoc))
    val probeA = posed
      .where($"rn" <= expr(s"t - ($tn * t + $td - 1) DIV $td + 1"))
      .select($"g", $"doc_id".as("doc_a"), $"t".as("ta"), $"rn".as("ra"))
    val fullB = posed
      .select($"g", $"doc_id".as("doc_b"), $"t".as("tb"), $"rn".as("rb"))
    (sh, probeA, fullB)
  }

  val q144_containment_join: Q = (spark, dir) =>
    Scope(containmentJoin(spark, dir, _))

  /** Under [[Scope.Lazy]]: the plain plan for the spec's shape pin. */
  private[graft] def containmentJoin(spark: org.apache.spark.sql.SparkSession,
      dir: String, sc: Scope): DataFrame = {
    import spark.implicits._
    val (tn, td) = (7, 10) // tau = 0.7
    val (sh, probeA, fullB) = containmentStreams(sc, spark, dir)
    val cands = probeA.join(fullB, "g")
      .where($"doc_a" =!= $"doc_b" &&
        $"tb" * td >= $"ta" * tn &&
        (lit(1) + least($"ta" - $"ra", $"tb" - $"rb")) * td >= $"ta" * tn)
      .select($"doc_a", $"doc_b").distinct()
    // exact-verify with ONE merge walk per candidate over the sorted
    // gram-text arrays (sortedInterAtLeastStr — no per-pair hash-set
    // build, early exit when the containment bound is unreachable);
    // `inter >= ceil(tn*ta/td)` <=> the old `inter*td >= ta*tn`
    val scored = cands
      .join(sh.select($"doc_id".as("doc_a"), $"grams".as("ga")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"grams".as("gb")), "doc_b")
      .select($"doc_a", $"doc_b",
        graft.functions.GraftFunctions.sorted_inter_atleast($"ga", $"gb",
          expr(s"CAST(($tn * size(ga) + ${td - 1}) DIV $td AS INT)")).as("inter"),
        size($"ga").as("ta"))
    // materialize the verify pass before the presentation sort (the
    // q31/q139 range-sampling finding) — kernel once per candidate,
    // sort samples the checkpointed rows; the lazy scope keeps the plan
    sc.seal(sc.ckpt(scored)
      .where($"inter" >= 0)
      .withColumn("cont_x1000",
        expr("(CAST(inter AS BIGINT) * 1000) DIV ta"))
      .orderBy($"doc_a", $"doc_b"))
  }

  /** q185: duplicated-segment scrub — exact substring dedup at fixed
    * segment granularity (Lee et al. ACL'22, "Deduplicating Training
    * Data Makes Language Models Better"; the CCNet paragraph-dedup
    * shape, Wenzek et al. LREC'20, with 10-word segments standing in
    * for paragraphs — the fixture's texts carry no newlines). Every
    * doc is cut into non-overlapping 10-word segments; a segment whose
    * exact text occurs in ≥ 3 DISTINCT documents is boilerplate and is
    * scrubbed. Unlike the pairwise dedup family (q28–q31, q139, q164),
    * this removes SUB-document duplication while keeping the doc — the
    * readout is the per-source retention summary (docs touched,
    * segments and words kept) a curation run reads before committing.
    *
    * Plan shape for 100 TB:
    *  - ONE corpus scan explodes ~n_words/10 segment rows per doc; the
    *    per-(segment, doc) occurrence table is a map-side-combinable
    *    groupBy (the only corpus-wide shuffle, keyed on segment text)
    *    and localCheckpoints — it feeds df AND the final fold (q167
    *    stance: without it the explode re-runs per consumer).
    *  - df re-aggregates FROM that table (map-side combinable; rows
    *    already distinct per (segment, doc), so count(*) = distinct-doc
    *    frequency — no countDistinct shuffle).
    *  - the scrub is a segment-keyed equi-join back. Deliberately
    *    groupBy+join, NOT a count-over-window: a boilerplate segment
    *    hitting millions of docs is a splittable AQE skew-join key
    *    here, where a window partition would be a single-task whale.
    * All-integer output; one DIV at the end (same denominator both
    * engines).
    */
  val q185_segment_scrub: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val occ = sc.ckpt(Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        expr("filter(split(lower(trim(text)), '\\\\s+'), w -> length(w) > 0)")
          .as("ws"))
      .where(size($"ws") > 0)
      .select($"doc_id", $"source", $"ws",
        explode(expr("sequence(0, (size(ws) - 1) DIV 10)")).as("i"))
      .select($"doc_id", $"source",
        expr("concat_ws(' ', slice(ws, i * 10 + 1, 10))").as("seg"),
        expr("CAST(size(slice(ws, i * 10 + 1, 10)) AS BIGINT)").as("w"))
      .groupBy($"seg", $"doc_id", $"source")
      .agg(count(lit(1)).as("occ"), sum($"w").as("wsum")))
    val dfq = occ.groupBy($"seg").agg(count(lit(1)).as("df"))
    occ.join(dfq, "seg")
      .groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_docs"),
        sum($"occ").as("n_segs"),
        sum(when($"df" >= 3, $"occ").otherwise(0L)).as("dup_segs"),
        sum($"wsum").as("total_words"),
        sum(when($"df" < 3, $"wsum").otherwise(0L)).as("kept_words"),
        expr("CAST(sum(CASE WHEN df < 3 THEN wsum ELSE 0 END) * 1000" +
          " DIV sum(wsum) AS BIGINT)").as("kept_x1000"))
      .orderBy($"source")
  }

  /** q191: cross-segment scrub — q185's fixed-grid segment dedup plus
    * a SECOND grid offset by half a segment (words 6-15, 16-25, …),
    * closing q185's boundary blind spot: a duplicated span that
    * straddles a 10-word boundary matches no offset-0 segment, but any
    * duplicated run of ≥ 15 words fully contains a complete block of
    * ONE of the two grids (block starts every 5 words, and a 15-word
    * window always covers some [b, b+10) with b in [s, s+5]).
    *
    * SCOPE OF THE GUARANTEE (round-11 ADVICE): a block's TEXT depends
    * on where the grid lands inside the span, i.e. on the copy's word
    * offset mod 5 — so the ≥ 15-word catch holds for ALIGNMENT-
    * PRESERVING duplication (copies whose start offsets agree mod 5:
    * whole-document copies, boilerplate templates stamped at fixed
    * positions — the df ≥ 3 population this query targets). Copies of
    * the same span at offsets differing by ≠ 0 mod 5 cut different
    * blocks and evade BOTH grids regardless of span length; catching
    * those needs the suffix-array generality of Lee et al. ACL'22
    * §3.1, which this fixed-grid trade deliberately forgoes. The
    * double-pass is the shingled variant of that exact-substring pass,
    * kept in the q185 groupBy+join shape. Segment df
    * is counted over DISTINCT docs across BOTH grids (identical
    * 10-word text is the key — which grid surfaced it is irrelevant to
    * "is this boilerplate"). The readout adds the straddle catch: docs
    * flagged ONLY by the offset grid — exactly the spans q185 misses.
    *
    * Plan shape for 100 TB: identical to q185 with 2x the segment
    * stream — one corpus scan, one lambda building both grids' (grid,
    * start) pairs per doc (no second scan, no union re-read), one
    * segment-keyed map-side-combinable groupBy that localCheckpoints
    * (feeds df and the fold), df re-aggregated from it (rows already
    * per-(seg, doc) distinct), a segment-keyed equi-join back
    * (AQE-splittable boilerplate keys, never a window), then doc- and
    * source-grain folds. All-integer output.
    */
  val q191_cross_segment_scrub: Q = (spark, dir) =>
    Scope(crossSegFamily.batch(Tables.load(spark, dir, "documents"), _))

  /** q191's per-(segment, doc) occurrence table over both grids — ONE
    * corpus scan, one lambda building both grids' (grid, start) pairs
    * per doc. Factored out so the streaming twin
    * ([[graft.streaming.SegScrubStream]]) derives its delta rows from
    * the SAME lambda the batch query uses (the winnowFp discipline —
    * one derivation site, no drifting copy). Occurrence rows are
    * append-only facts: a doc's segments never change, so the
    * streaming store accumulates exactly these rows.
    */
  private[graft] def crossSegOcc(docs: org.apache.spark.sql.DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"source",
        expr("filter(split(lower(trim(text)), '\\\\s+'), w -> length(w) > 0)")
          .as("ws"))
      .where(size($"ws") > 0)
      .select($"doc_id", $"source", $"ws", explode(expr(
        // grid 0: starts 1, 11, 21, …; grid 1: starts 6, 16, … (needs
        // >= 6 words); partial tail blocks kept in both grids (the
        // q185 convention)
        "concat(" +
          "transform(sequence(0, (size(ws) - 1) DIV 10)," +
          "  i -> named_struct('g', 0, 'st', i * 10 + 1))," +
          "if(size(ws) >= 6," +
          "  transform(sequence(0, (size(ws) - 6) DIV 10)," +
          "    i -> named_struct('g', 1, 'st', i * 10 + 6))," +
          "  array()))")).as("b"))
      .select($"doc_id", $"source", $"b.g".as("g"),
        expr("concat_ws(' ', slice(ws, b.st, 10))").as("seg"))
      .groupBy($"seg", $"doc_id", $"source")
      .agg(sum(when($"g" === 0, 1L).otherwise(0L)).as("occ0"),
        sum(when($"g" === 1, 1L).otherwise(0L)).as("occ1"))
  }

  /** The q191 scrub family: both grids' (segment, doc) occurrence
    * counts weigh a segment row, and a doc is flagged per grid —
    * counted as flagged by the offset-0 grid, by any grid, and by the
    * offset grid ALONE (the straddle catch).
    */
  private[graft] val crossSegFamily: Scrub = Scrub(crossSegOcc, key = "seg",
    unitsSub = "occ", dfSub = "sdf", weightCols = Seq("occ0", "occ1"),
    grids = Seq(("f0", col("occ0")), ("f1", col("occ1"))), units = "segs",
    indicators = Seq(
      ("dup_docs_g0", f => f("f0")),
      ("dup_docs_any", f => greatest(f("f0"), f("f1"))),
      ("straddle_docs", f => when(f("f1") === 1 && f("f0") === 0, 1L).otherwise(0L))),
    readoutCols = Nil)

  /** q191's readout over an occurrence table (the batch fold). */
  private[graft] def crossSegReadout(occ: DataFrame): DataFrame =
    crossSegFamily.fold(occ)

  /** q192: ALIGNMENT-INDEPENDENT boilerplate scrub — the suffix-array
    * blind spot of the fixed-grid family (q185/q191) closed with
    * word-level winnowing (Schleimer-Wilkerson-Aiken SIGMOD'03, the
    * q164 selection at word granularity). q191's >= 15-word catch
    * guarantee holds only for copies whose word offsets agree mod 5;
    * here every doc's word-8-gram stream is window-min-selected
    * (w = 8), and the selected gram TEXTS depend only on the text
    * itself — so ANY duplicated run of >= k + w - 1 = 15 words shares
    * a selected fingerprint AT ARBITRARY ALIGNMENT: the run contains
    * >= w consecutive grams in both copies, every window fully inside
    * the run picks the same minimum gram text in both, and the df >= 3
    * rule then flags it exactly as the grid family would. Same K = 15
    * as q191, guarantee strictly stronger.
    *
    * The window minimum is taken in the gram text's BINARY order, not
    * a hash order: classical winnowing hashes for uniform selection
    * density, but the catch guarantee is order-independent, and the
    * text order keeps the query exactly SQL-expressible (hash-free
    * DuckDB oracle — the q185/q191 discipline). The cost is skewed
    * density (lexicographically small grams over-selected), a
    * space/uniformity trade, not a recall one.
    *
    * Plan shape for 100 TB:
    *  - ONE corpus scan explodes the gram stream (~n_words rows); the
    *    window-min selection is a PER-DOC window (doc-sized
    *    partitions by construction — never a global sort) and the
    *    distinct keeps ~2/(w+1) of positions, so only the SELECTED
    *    stream reaches any corpus-wide shuffle.
    *  - df re-aggregates from the selected (fp, doc) table (rows
    *    per-pair distinct, count(*) = distinct-doc frequency); the
    *    join back is fingerprint-keyed (AQE-splittable boilerplate
    *    keys), then doc- and source-grain folds. All-integer output.
    */
  val q192_winnow_scrub: Q = (spark, dir) => Scope(winnowScrub(spark, dir, _))

  /** Under [[Scope.Lazy]]: the plain plan for the spec's shape pin. */
  private[graft] def winnowScrub(spark: org.apache.spark.sql.SparkSession,
      dir: String, sc: Scope): DataFrame =
    winnowFamily.batch(Tables.load(spark, dir, "documents"), sc)

  /** q192's readout over a selected-rows table (the batch fold). */
  private[graft] def winnowReadout(selLazy: DataFrame, sc: Scope): DataFrame =
    sc.seal(winnowFamily.fold(sc.ckpt(selLazy)))

  /** q192's word-level winnowing selection — the distinct selected
    * (doc_id, source, fp) rows (k = w = 8: any duplicated run of
    * >= 15 words shares a selected gram text at arbitrary alignment;
    * see [[q192_winnow_scrub]]). Factored so the streaming twin
    * ([[graft.streaming.WinnowScrubStream]]) derives its delta rows
    * from the SAME lambda the batch query uses (the winnowFp/
    * crossSegOcc discipline — one derivation site, no drifting copy).
    * Selected rows are append-only facts: a doc's selection never
    * changes, so the streaming store accumulates exactly these rows.
    */
  private[graft] def winnowSel(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val (k, w) = (8, 8) // K = k + w - 1 = 15-word guarantee
    val grams = docs
      .select($"doc_id", $"source",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
          .as("ws"))
      .where(size($"ws") >= k + w - 1) // at least one full window
      .select($"doc_id", $"source", explode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1})," +
          s" i -> named_struct('i', i, 'g', concat_ws(' ', slice(ws, i, $k))))"))
        .as("p"))
      .select($"doc_id", $"source", $"p.i".as("i"), $"p.g".as("g"))
    // per-doc window (partitions are doc-sized by construction)
    val win = Window.partitionBy($"doc_id").orderBy($"i").rowsBetween(0, w - 1)
    grams
      .withColumn("fp", min($"g").over(win))
      .withColumn("cnt", count(lit(1)).over(win))
      .where($"cnt" === w)
      .select($"doc_id", $"source", $"fp").distinct()
  }

  /** The q192 scrub family: every selected (fingerprint, doc) row
    * weighs 1, one flag per doc, and the readout adds the boilerplate
    * share of selected fingerprints (sum-level integer DIV).
    */
  private[graft] val winnowFamily: Scrub = Scrub(winnowSel, key = "fp",
    unitsSub = "sel", dfSub = "fdf", weightCols = Nil,
    grids = Seq(("flag", lit(1L))), units = "fps",
    indicators = Seq(("dup_docs", f => f("flag"))),
    readoutCols = Seq(expr("CAST(dup_fps * 1000 DIV n_fps AS BIGINT)").as("dup_x1000")))

  /** q197: EXACT duplicated-run extents — the Lee et al. ACL'22 §3.1
    * exact-substring ground truth (at word granularity, K = 15) that
    * the whole sampled/gridded scrub family (q185/q191/q192)
    * approximates. Every word-15-gram of every document is emitted
    * (no grid, no selection), a gram is DUPLICATED when held by >= 2
    * distinct docs, and each doc's duplicated gram POSITIONS are
    * coalesced into maximal word intervals (two duplicated grams'
    * 15-word covers overlap iff their starts differ by <= 14, so a
    * gaps-and-islands pass with tolerance 14 yields the exact union
    * of covered words — no double counting). Output: per source, docs
    * carrying any >= 15-word cross-doc duplicated run, the exact word
    * count those runs cover, and coverage x1000.
    *
    * This is the reference scale trade in reverse: the gram stream is
    * the FULL ~n_words rows (q192 shuffles only the selected ~2/(w+1)
    * fraction), so this query costs ~4-5x q192 and is the audit you
    * run on a sample or a suspect slice, not the per-ingest gate —
    * while its answer is exact, not a guarantee bound. At 100 TB the
    * gram text would be hashed before the shuffle (collision-checked,
    * q28's device); the text key is kept here so the DuckDB oracle
    * stays hash-free (the q185/q191/q192 discipline). Plan: one scan
    * explodes grams (map-only), one gram-keyed fold for df (map-side
    * combinable), the duplicated gram set joins back gram-keyed
    * (AQE-splittable), the island pass is a PER-DOC window
    * (doc-sized partitions), then doc- and source-grain folds.
    *
    * DedupSpec cross-validates the family guarantee against this
    * exact truth: every doc q197 finds sharing a >= 15-word run with
    * >= 2 other docs must be flagged by q192's winnowing scrub.
    */
  val q197_exact_dup_runs: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = 15
    // checkpointed: feeds df AND the join-back
    val grams = sc.ckpt(Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
          .as("ws"))
      .select($"doc_id", $"source", size($"ws").as("nw"), explode(expr(
        s"if(size(ws) >= $k, transform(sequence(1, size(ws) - ${k - 1})," +
          s" i -> named_struct('i', i, 'g', concat_ws(' ', slice(ws, i, $k))))," +
          " array())")).as("p"))
      .select($"doc_id", $"source", $"nw", $"p.i".as("i"), $"p.g".as("g")))
    val dup = grams.groupBy($"g")
      .agg(countDistinct($"doc_id").as("df")).where($"df" >= 2)
    val pos = grams.join(dup, "g").select($"doc_id", $"source", $"nw", $"i")
    // gaps-and-islands, tolerance k-1: starts <= 14 apart cover
    // overlapping words, so they merge into one exact interval
    val wD = Window.partitionBy($"doc_id").orderBy($"i")
    val runs = pos
      .withColumn("brk",
        when(coalesce($"i" - lag($"i", 1).over(wD), lit(Long.MaxValue)) > k - 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum($"brk").over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"source", $"nw", $"island")
      .agg((max($"i") - min($"i") + k).as("covered"))
    val docs = runs.groupBy($"doc_id", $"source", $"nw")
      .agg(sum($"covered").as("covered"), count(lit(1)).as("n_runs"))
    val out = docs.groupBy($"source")
      .agg(count(lit(1)).as("dup_docs"),
        sum($"n_runs").as("n_runs"),
        sum($"covered").as("covered_words"),
        sum($"nw").as("their_words"),
        expr("CAST(sum(covered) * 1000 DIV sum(nw) AS BIGINT)")
          .as("covered_x1000"))
      .orderBy($"source")
    sc.seal(out)
  }

  /** q164: winnowing fingerprint overlap join (Schleimer-Wilkerson-Aiken
    * SIGMOD'03 — the MOSS algorithm). The fifth blocking family next to
    * LSH bands (q29), SimHash pigeonholes (q30), prefix filters (q139),
    * and sort keys (q140) — and the only one whose candidate keys are
    * POSITIONS-free local substring evidence: any shared run of
    * ≥ w + k − 1 = 27 chars is guaranteed to surface at least one shared
    * fingerprint regardless of where it sits in either document.
    *
    * Plan shape for 100 TB:
    *  - fingerprinting is MAP-ONLY: one O(n) codegen kernel call per doc
    *    ([[graft.functions.TextKernels.winnowSet]]) emitting the
    *    ~2/(w+1)-density distinct fingerprint set — no per-position
    *    explode, no doc-partitioned window shuffle.
    *  - the cross-doc stage is an inverted-index equi-join on the
    *    fingerprint hash. Skew is bounded BY CONSTRUCTION: a document-
    *    frequency cap (df ≤ 16, the MOSS "ignore overly common
    *    fingerprints" rule) drops boilerplate fingerprints on BOTH
    *    engines before the join, so no join key can fan out past 16² —
    *    unlike q29's band keys, whose group size tracks the near-dup
    *    cluster size (see that query's skew note).
    *  - df and per-doc sizes are vocabulary-/corpus-bounded aggregates
    *    with map-side partials.
    *
    * Tuning on this corpus (measured at sf0.01 against the word-3-gram
    * Jaccard ≥ 0.5 ground truth): k=20, w=8, cap=16, shared ≥ 4 gives
    * recall 25/25 with zero false positives; char grams much shorter
    * than 20 drown in the small-vocabulary background (8-gram max df is
    * 387 — the corpus repeats 1-2-word runs constantly).
    *
    * `sim_x1000 = shared·1000 ÷ min(|fpa|, |fpb|)` — containment-style
    * overlap over POST-cap fingerprint sets (both engines use the same
    * denominator, so the integer division is engine-exact).
    */
  val q164_winnowing: Q = (spark, dir) => {
    import spark.implicits._
    val (minShared, dfCap) = (4, 16)
    val fp = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        explode(winnow_set(
          trim(regexp_replace(lower($"text"), "\\s+", " ")), 20, 8)).as("h"))
    val dfq = fp.groupBy($"h").agg(count(lit(1)).as("df"))
    val keep = fp.join(dfq.where($"df" <= dfCap), "h")
      .select($"doc_id", $"h")
    val sz = keep.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    keep.as("a").join(keep.as("b"), Seq("h"))
      .where($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .where($"shared" >= minShared)
      .join(sz.select($"doc_id".as("doc_a"), $"nf".as("na")), "doc_a")
      .join(sz.select($"doc_id".as("doc_b"), $"nf".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b", $"shared",
        expr("(shared * 1000) DIV least(na, nb)").as("sim_x1000"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** q164's oracle: the same fingerprints computed the brute-force way —
    * per-position gram hashes (the k=20 polynomial unrolled as 20
    * chained `(h·31 + ord) mod p` steps, matching the kernel's rolling
    * recurrence exactly), then the window-min selection as a plain
    * window function over `h·M + (M−1−i)` (min-h / rightmost-pos in
    * one BIGINT key; M is MAX(length)+2 computed from the corpus, so
    * the encoding is sound for any document length — the kernel needs
    * no such device).
    */
  /** q173: INCREMENTAL winnowing — the q85/q113 steady-state ingest
    * pattern applied to the q164 fingerprint family: the corpus
    * fingerprint index (winnowed hashes of every non-delta doc, with
    * boilerplate already dropped by the df ≤ 16 cap) is STAGED to
    * parquet per dataset fingerprint via [[graft.Staging]], and a new
    * batch (doc_id % 10 == 7 stands in for the arriving ingest) pays
    * only delta-sized work: winnow the new docs map-side, equi-join
    * the staged index, count shared fingerprints. The corpus is never
    * re-fingerprinted per batch — the exact economics that make
    * near-dup screening affordable as a continuous ingest gate.
    *
    * The df cap is computed from the CORPUS index only: a delta batch
    * must not retroactively reclassify corpus fingerprints as
    * boilerplate (and the staged artifact could not reflect it
    * anyway). Mirrored in the oracle.
    */
  /** The q164/q173 winnowed fingerprint stream over a documents frame
    * — (doc_id, h) rows, one per selected window-min 20-gram hash.
    * Shared by q173's staged index and the streaming ingest gate
    * ([[graft.streaming.WinnowStream]]), so the stream and its batch
    * twin fingerprint through the SAME derivation.
    */
  private[graft] def winnowFp(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.select($"doc_id",
      explode(winnow_set(
        trim(regexp_replace(lower($"text"), "\\s+", " ")), 20, 8)).as("h"))
  }

  val q173_winnow_incremental: Q = (spark, dir) => {
    import spark.implicits._
    def winnowed(d: DataFrame) = winnowFp(d)
    val staged = graft.Staging.stage(
      s"winnow_fp#$dir", Tables.fingerprint(dir, "documents")) { out =>
      val fp = winnowed(Tables.load(spark, dir, "documents")
        .where($"doc_id" % 10 =!= 7))
      val dfq = fp.groupBy($"h").agg(count(lit(1)).as("df"))
      fp.join(dfq.where($"df" <= 16), "h").select($"doc_id", $"h")
        .write.parquet(s"$out/fp")
    }
    val corpusIdx = spark.read.parquet(s"$staged/fp")
    winnowed(Tables.load(spark, dir, "documents").where($"doc_id" % 10 === 7))
      .join(corpusIdx.select($"doc_id".as("old_doc"), $"h"), "h")
      .groupBy($"doc_id".as("new_doc"), $"old_doc")
      .agg(count(lit(1)).as("shared"))
      .where($"shared" >= 4)
      .orderBy($"new_doc", $"old_doc")
  }

  /** q193: cross-source CONTAMINATION matrix — for every source pair,
    * the count of shared winnowed content fingerprints (the q164
    * selection, [[winnowFp]]) and the containment share vs the
    * smaller side. The dataset-level mixing diagnostic q160's
    * vocabulary-overlap matrix cannot give: two crawls can share 90%
    * of their WORDS and none of their CONTENT — fingerprints are
    * 27-char substring evidence, so a high `contain_x1000` means one
    * source literally re-serves the other's text (a re-crawl, a
    * mirror, a scraped aggregator), the pair a curator collapses
    * before computing mixing weights (q92/q189 read this first).
    *
    * Scale shape (the q160 device on the fingerprint stream): the
    * corpus collapses to the distinct (source, fp) stream ONCE
    * (doc-grain dropped before any cross anything); per fingerprint
    * the sorted source set is one collect_set and the ordered source
    * PAIRS expand MAP-SIDE from that array — bounded by |sources|²
    * per fp, never (docs)² — then one (sa, sb)-keyed count. Totals
    * join back by broadcast; output is <= |sources|² rows. Pairs
    * sharing ZERO fingerprints are absent (the matrix is sparse by
    * construction); no df cap — a fingerprint in many sources IS the
    * signal here, and the per-fp cost is already domain-bounded.
    */
  val q193_source_contamination: Q = (spark, dir) =>
    Scope(sourceContamination(spark, dir, _))

  /** Under [[Scope.Lazy]]: the plain plan for the spec's shape pin. */
  private[graft] def sourceContamination(spark: org.apache.spark.sql.SparkSession,
      dir: String, sc: Scope): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
    val sfp = sc.persist(winnowFp(d)
      .join(d.select($"doc_id", $"source"), "doc_id")
      .select($"source", $"h").distinct())
    val sizes = sfp.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = sfp.groupBy($"h").agg(sort_array(collect_set($"source")).as("ss"))
      .where(size($"ss") >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)), b ->
          |    struct(a AS sa, b AS sb))))""".stripMargin)).as("p"))
      .groupBy($"p.sa".as("sa"), $"p.sb".as("sb"))
      .agg(count(lit(1)).as("shared"))
    // |sources|² rows — seal, then the fp stream dies with the scope
    sc.seal(pairs
      .join(broadcast(sizes.toDF("sa", "na")), "sa")
      .join(broadcast(sizes.toDF("sb", "nb")), "sb")
      .select($"sa", $"sb", $"shared", $"na", $"nb",
        expr("CAST(shared * 1000 DIV LEAST(na, nb) AS BIGINT)")
          .as("contain_x1000"))
      .orderBy($"sa", $"sb"))
  }

  /** Shared CTE prefix computing every doc's winnowed fingerprint set
    * (`sel`) the brute-force way — used by q164's pair tail and
    * q173's incremental tail.
    */
  private val winnowSelCtes: String = {
    val (k, w) = (20, 8)
    var h = "0"
    for (j <- 0 until k)
      h = s"(($h)*31 + ord(substring(t, i+$j, 1))) % 1048573"
    // the combined window-min key packs (hash, rightmost-pos tiebreak)
    // into one BIGINT as `h·M + (M−1−i)`; M is derived from the
    // corpus's ACTUAL max doc length (any M > max position is sound,
    // and h·M ≤ 1048573·M stays far inside BIGINT for any realistic
    // string), so longer future documents can never silently corrupt
    // the tie-break — the round-8 version hard-coded M = 8192
    s"""WITH n AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |mxl AS (SELECT CAST(MAX(length(t)) + 2 AS BIGINT) AS m FROM n),
       |pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i, CAST($h AS BIGINT) AS h
       |  FROM n, UNNEST(range(1, length(t) - ${k - 2})) AS u(i)),
       |win AS (
       |  SELECT doc_id, m,
       |    min(h * m + (m - 1 - i)) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS key,
       |    count(*) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS cnt
       |  FROM pos, mxl),
       |sel AS (SELECT DISTINCT doc_id, key // m AS h FROM win WHERE cnt = $w)""".stripMargin
  }

  private val winnowOracle: String =
    winnowSelCtes +
      """,
        |dfq AS (SELECT h, COUNT(*) AS df FROM sel GROUP BY h),
        |keep AS (SELECT s.doc_id, s.h FROM sel s JOIN dfq USING (h) WHERE df <= 16),
        |sz AS (SELECT doc_id, COUNT(*) AS nf FROM keep GROUP BY 1),
        |px AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
        |  CAST(shared * 1000 // LEAST(x.nf, y.nf) AS BIGINT) AS sim_x1000
        |FROM px JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        |WHERE shared >= 4
        |ORDER BY doc_a, doc_b""".stripMargin

  /** q173's oracle: the same fingerprints, split corpus-vs-delta; the
    * df cap comes from the CORPUS index only (the staged artifact
    * carries its own df — a delta batch must not retroactively change
    * which corpus fingerprints count as boilerplate).
    */
  private val winnowIncrementalOracle: String =
    winnowSelCtes +
      """,
        |old AS (SELECT * FROM sel WHERE doc_id % 10 != 7),
        |nw  AS (SELECT * FROM sel WHERE doc_id % 10 = 7),
        |dfq AS (SELECT h, COUNT(*) AS df FROM old GROUP BY h),
        |keep AS (SELECT o.doc_id, o.h FROM old o JOIN dfq USING (h) WHERE df <= 16)
        |SELECT n.doc_id AS new_doc, k.doc_id AS old_doc,
        |  CAST(COUNT(*) AS BIGINT) AS shared
        |FROM nw n JOIN keep k ON n.h = k.h
        |GROUP BY 1, 2 HAVING COUNT(*) >= 4
        |ORDER BY new_doc, old_doc""".stripMargin

  private val gramsCte =
    """WITH g AS (
      |  SELECT doc_id, text, source, n_chars,
      |    list_distinct([substr(text, x, 3) for x in range(1, length(text)-1)]) AS grams
      |  FROM documents)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q185_segment_scrub" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, source,
        |    array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS seg,
        |    CAST(len(ws[i * 10 + 1 : i * 10 + 10]) AS BIGINT) AS w
        |  FROM w, UNNEST(range(0, (len(ws) - 1) // 10 + 1)) AS u(i)
        |  WHERE len(ws) > 0),
        |occ AS (
        |  SELECT seg, doc_id, source, COUNT(*) AS occ, SUM(w) AS wsum
        |  FROM segs GROUP BY 1, 2, 3),
        |dfq AS (SELECT seg, COUNT(*) AS df FROM occ GROUP BY 1)
        |SELECT source,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(occ) AS BIGINT) AS n_segs,
        |  CAST(SUM(CASE WHEN df >= 3 THEN occ ELSE 0 END) AS BIGINT) AS dup_segs,
        |  CAST(SUM(wsum) AS BIGINT) AS total_words,
        |  CAST(SUM(CASE WHEN df < 3 THEN wsum ELSE 0 END) AS BIGINT) AS kept_words,
        |  CAST(SUM(CASE WHEN df < 3 THEN wsum ELSE 0 END) * 1000 // SUM(wsum)
        |    AS BIGINT) AS kept_x1000
        |FROM occ JOIN dfq USING (seg)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q191_cross_segment_scrub" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, source, 0 AS g,
        |    array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS seg
        |  FROM w, UNNEST(range(0, (len(ws) - 1) // 10 + 1)) AS u(i)
        |  WHERE len(ws) > 0
        |  UNION ALL
        |  SELECT doc_id, source, 1 AS g,
        |    array_to_string(ws[i * 10 + 6 : i * 10 + 15], ' ') AS seg
        |  FROM w, UNNEST(range(0, (len(ws) - 6) // 10 + 1)) AS u(i)
        |  WHERE len(ws) >= 6),
        |occ AS (
        |  SELECT seg, doc_id, source,
        |    SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS occ0,
        |    SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS occ1
        |  FROM segs GROUP BY 1, 2, 3),
        |dfq AS (SELECT seg, COUNT(*) AS df FROM occ GROUP BY 1),
        |d AS (
        |  SELECT doc_id, source,
        |    SUM(occ0 + occ1) AS segs,
        |    SUM(CASE WHEN df >= 3 THEN occ0 + occ1 ELSE 0 END) AS dup_segs,
        |    MAX(CASE WHEN df >= 3 AND occ0 > 0 THEN 1 ELSE 0 END) AS f0,
        |    MAX(CASE WHEN df >= 3 AND occ1 > 0 THEN 1 ELSE 0 END) AS f1
        |  FROM occ JOIN dfq USING (seg) GROUP BY 1, 2)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(segs) AS BIGINT) AS n_segs,
        |  CAST(SUM(dup_segs) AS BIGINT) AS dup_segs,
        |  CAST(SUM(f0) AS BIGINT) AS dup_docs_g0,
        |  CAST(SUM(GREATEST(f0, f1)) AS BIGINT) AS dup_docs_any,
        |  CAST(SUM(CASE WHEN f1 = 1 AND f0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS straddle_docs
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q192_winnow_scrub" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, source, i, array_to_string(ws[i : i + 7], ' ') AS g
        |  FROM w, UNNEST(range(1, len(ws) - 6)) AS u(i)
        |  WHERE len(ws) >= 15),
        |win AS (
        |  SELECT doc_id, source,
        |    min(g) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS cnt
        |  FROM pos),
        |sel AS (SELECT DISTINCT doc_id, source, fp FROM win WHERE cnt = 8),
        |dfq AS (SELECT fp, COUNT(*) AS df FROM sel GROUP BY 1),
        |d AS (
        |  SELECT doc_id, source, COUNT(*) AS fps,
        |    SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS dup_fps,
        |    MAX(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS flag
        |  FROM sel JOIN dfq USING (fp) GROUP BY 1, 2)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(fps) AS BIGINT) AS n_fps,
        |  CAST(SUM(dup_fps) AS BIGINT) AS dup_fps,
        |  CAST(SUM(flag) AS BIGINT) AS dup_docs,
        |  CAST(SUM(dup_fps) * 1000 // SUM(fps) AS BIGINT) AS dup_x1000
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q197_exact_dup_runs" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, source, len(ws) AS nw, i,
        |    array_to_string(ws[i : i + 14], ' ') AS g
        |  FROM w, UNNEST(range(1, len(ws) - 13)) AS u(i)
        |  WHERE len(ws) >= 15),
        |dup AS (
        |  SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM gr GROUP BY 1)
        |  WHERE df >= 2),
        |pos AS (SELECT doc_id, source, nw, i FROM gr JOIN dup USING (g)),
        |brk AS (
        |  SELECT doc_id, source, nw, i,
        |    CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) <= 14
        |         THEN 0 ELSE 1 END AS brk
        |  FROM pos),
        |isl AS (
        |  SELECT doc_id, source, nw, i,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk),
        |runs AS (
        |  SELECT doc_id, source, nw, island, MAX(i) - MIN(i) + 15 AS covered
        |  FROM isl GROUP BY 1, 2, 3, 4),
        |d AS (
        |  SELECT doc_id, source, nw, SUM(covered) AS covered,
        |    COUNT(*) AS n_runs
        |  FROM runs GROUP BY 1, 2, 3)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS dup_docs,
        |  CAST(SUM(n_runs) AS BIGINT) AS n_runs,
        |  CAST(SUM(covered) AS BIGINT) AS covered_words,
        |  CAST(SUM(nw) AS BIGINT) AS their_words,
        |  CAST(SUM(covered) * 1000 // SUM(nw) AS BIGINT) AS covered_x1000
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q193_source_contamination" -> (winnowSelCtes +
      """,
        |sfp AS (
        |  SELECT DISTINCT d.source, s.h
        |  FROM sel s JOIN documents d USING (doc_id)),
        |sz AS (SELECT source, COUNT(*) AS n FROM sfp GROUP BY 1),
        |px AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
        |  FROM sfp a JOIN sfp b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, CAST(shared AS BIGINT) AS shared,
        |  CAST(x.n AS BIGINT) AS na, CAST(y.n AS BIGINT) AS nb,
        |  CAST(shared * 1000 // LEAST(x.n, y.n) AS BIGINT) AS contain_x1000
        |FROM px JOIN sz x ON sa = x.source JOIN sz y ON sb = y.source
        |ORDER BY sa, sb""".stripMargin),
    "q30_dedup_simhash" -> HashOracleSql.q30Oracle,
    "q164_winnowing" -> winnowOracle,
    "q173_winnow_incremental" -> winnowIncrementalOracle,
    "q144_containment_join" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |    for i in range(1, len(ws) - 1)]) AS grams
        |  FROM w WHERE len(ws) >= 3),
        |e AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(grams) AS t FROM sh)
        |SELECT p.doc_a, p.doc_b, CAST(p.inter AS INTEGER) AS inter,
        |  CAST(sa.t AS INTEGER) AS ta,
        |  CAST((p.inter * 1000) // sa.t AS BIGINT) AS cont_x1000
        |FROM pairs p JOIN sz sa ON p.doc_a = sa.doc_id
        |WHERE p.inter * 10 >= sa.t * 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q28_dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |      FROM documents) t
        |GROUP BY norm ORDER BY canonical_id""".stripMargin,
    "q29_dedup_minhash" ->
      (gramsCte +
        """
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  len(list_intersect(a.grams, b.grams)) * 1.0 /
          |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jac
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
          |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q31_dedup_ngram" ->
      (gramsCte +
        """
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  len(list_intersect(a.grams, b.grams)) * 1.0 /
          |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jac
          |FROM g a JOIN g b
          |  ON a.source = b.source AND a.doc_id < b.doc_id
          | AND b.n_chars * 2 >= a.n_chars AND b.n_chars <= a.n_chars * 2
          |WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
          |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.3
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q139_setsim_join" ->
      // brute-force token self-join (no prefix filter) — exactly the
      // quadratic path the blocking must reproduce losslessly; all
      // arithmetic is the same integer cross-multiplication
      """WITH w AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM w),
        |s AS (SELECT doc_id, len(toks) AS n FROM w),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(COUNT(*) AS INTEGER) AS inter
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |  CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
        |  CAST((CAST(inter AS BIGINT) * 1000) // (sa.n + sb.n - inter) AS BIGINT)
        |    AS jac_x1000
        |FROM pair
        |JOIN s sa ON pair.doc_a = sa.doc_id
        |JOIN s sb ON pair.doc_b = sb.doc_id
        |WHERE 19 * inter >= 9 * (sa.n + sb.n)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q140_sorted_neighborhood" ->
      // same total order (binary string compare + doc_id tiebreak),
      // window expressed as a range join on the row_number ordinal
      """WITH w AS (
        |  SELECT doc_id, lower(trim(text)) AS norm,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0)) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, toks,
        |    ROW_NUMBER() OVER (ORDER BY substr(norm, 1, 24), doc_id) - 1 AS idx
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER) AS inter,
        |    CAST(len(a.toks) AS INTEGER) AS na, CAST(len(b.toks) AS INTEGER) AS nb
        |  FROM r a JOIN r b ON b.idx > a.idx AND b.idx - a.idx <= 8)
        |SELECT LEAST(id_a, id_b) AS doc_a, GREATEST(id_a, id_b) AS doc_b, inter,
        |  CAST(na + nb - inter AS BIGINT) AS uni,
        |  CAST((CAST(inter AS BIGINT) * 1000) // (na + nb - inter) AS BIGINT)
        |    AS jac_x1000
        |FROM p WHERE 19 * inter >= 9 * (na + nb)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q162_snm_multipass" ->
      // two independent total orders (forward and reversed 24-char
      // prefix), each windowed exactly like q140, pair set unioned
      // after LEAST/GREATEST canonicalization (pass orientation of a
      // pair can differ between the two sort orders)
      """WITH w AS (
        |  SELECT doc_id, lower(trim(text)) AS norm,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0)) AS toks
        |  FROM documents),
        |r1 AS (
        |  SELECT doc_id, toks,
        |    ROW_NUMBER() OVER (ORDER BY substr(norm, 1, 24), doc_id) - 1 AS idx
        |  FROM w),
        |r2 AS (
        |  SELECT doc_id, toks,
        |    ROW_NUMBER() OVER (ORDER BY substr(reverse(norm), 1, 24), doc_id) - 1
        |      AS idx
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER) AS inter,
        |    CAST(len(a.toks) AS INTEGER) AS na, CAST(len(b.toks) AS INTEGER) AS nb
        |  FROM r1 a JOIN r1 b ON b.idx > a.idx AND b.idx - a.idx <= 8
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER),
        |    CAST(len(a.toks) AS INTEGER), CAST(len(b.toks) AS INTEGER)
        |  FROM r2 a JOIN r2 b ON b.idx > a.idx AND b.idx - a.idx <= 8)
        |SELECT DISTINCT
        |  LEAST(id_a, id_b) AS doc_a, GREATEST(id_a, id_b) AS doc_b, inter,
        |  CAST(na + nb - inter AS BIGINT) AS uni,
        |  CAST((CAST(inter AS BIGINT) * 1000) // (na + nb - inter) AS BIGINT)
        |    AS jac_x1000
        |FROM p WHERE 19 * inter >= 9 * (na + nb)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q58_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin)

  val queries: Map[String, Q] = Map(
    "q28_dedup_exact" -> q28_dedup_exact,
    "q29_dedup_minhash" -> q29_dedup_minhash,
    "q30_dedup_simhash" -> q30_dedup_simhash,
    "q31_dedup_ngram" -> q31_dedup_ngram,
    "q58_dedup_embedding" -> q58_dedup_embedding,
    "q59_dedup_embedding_ivf" -> q59_dedup_embedding_ivf,
    "q139_setsim_join" -> q139_setsim_join,
    "q140_sorted_neighborhood" -> q140_sorted_neighborhood,
    "q162_snm_multipass" -> q162_snm_multipass,
    "q164_winnowing" -> q164_winnowing,
    "q173_winnow_incremental" -> q173_winnow_incremental,
    "q144_containment_join" -> q144_containment_join,
    "q185_segment_scrub" -> q185_segment_scrub,
    "q191_cross_segment_scrub" -> q191_cross_segment_scrub,
    "q192_winnow_scrub" -> q192_winnow_scrub,
    "q193_source_contamination" -> q193_source_contamination,
    "q197_exact_dup_runs" -> q197_exact_dup_runs)
}
