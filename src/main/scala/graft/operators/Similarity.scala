package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}
import graft.functions.GraftFunctions._

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  *  - q32: brute-force cosine top-k — the exactness baseline. Query set
  *    broadcast; one linear scan of the corpus per batch of queries
  *    (NOT per query); ranking via per-query top-k window. At 100 TB
  *    this is the right plan when the query batch is small: zero
  *    shuffle of the corpus, map-side scoring, TakeOrdered-style
  *    reduction per query.
  *  - q33: random-hyperplane LSH bucketed ANN — the scale path when the
  *    query set itself is large: both sides hash to sign-pattern
  *    buckets, candidates meet in an equi-join on the bucket key
  *    (corpus shuffled by bucket once, reusable), then exact rescoring
  *    within buckets. Approximate → rows-only check (no oracle).
  */
object Similarity {
  import Relational.Q

  /** Shared exact-kNN scaffold: corpus scan × broadcast 8-query set,
    * self-pairs removed, cosine scored, then `candFilter` applied
    * BEFORE the per-query (cos desc, vec_id) top-k window. q32
    * consumes it unfiltered (the exactness baseline); q120 applies
    * the hard-negative band — one definition of the tiebreak and
    * query-set predicate for both.
    */
  private def knnCosine(spark: SparkSession, dir: String, k: Int,
      candFilter: Column): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.where($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    emb.crossJoin(broadcast(queries))
      .where($"vec_id" =!= $"q_id")
      .withColumn("cos", cosine_sim($"q_emb", $"embedding"))
      .where(candFilter)
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
  }

  val q32_knn_exact: Q = (spark, dir) => {
    import spark.implicits._
    knnCosine(spark, dir, 3, lit(true))
      .select($"q_id", $"vec_id".as("neighbor_id"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** Multi-table random-hyperplane LSH + exact cosine rescoring.
    *
    * L=12 tables x 6 sign bits each: a pair at angle θ collides in one
    * table with p = (1-θ/π)^6, across any of 12 with 1-(1-p)^12.
    * Measured on this corpus (top-3 neighbor cosine ~0.3 — weakly
    * clustered, the hard case for sign-LSH): single-table 8-bit ~4%
    * recall@3; this multi-table config alone ~46%. Query-side
    * Hamming-1 multiprobe (each query also probes the 6 single-bit-
    * flip buckets per table) lifts measured recall@3 to 1.0 WITHOUT
    * widening the corpus side's emission — the multiprobe rows live
    * on the tiny broadcast side, the standard way to buy LSH recall
    * at scale (vs fewer bits/more tables, which inflate the big
    * side toward a full scan). Candidate pairs are dedup'd BEFORE
    * rescoring (a pair can collide in several tables).
    */
  val q33_knn_lsh: Q = (spark, dir) => knnLsh(spark, dir, probeAll = false)

  /** q33's body with the probe set as a knob. `probeAll = true` probes
    * every bucket of every table — the candidate set degenerates to
    * the full corpus and the result must EQUAL brute-force q32 row
    * for row (same tie-break), which is what SimilaritySpec's
    * exhaustive-twin pin asserts: any regression in the bucketing /
    * dedup / rescoring plumbing turns a silent recall loss into a
    * loud row mismatch.
    */
  private[graft] def knnLsh(spark: SparkSession, dir: String,
      probeAll: Boolean): DataFrame = {
    import spark.implicits._
    // per-table bucket ids from the lsh_buckets kernel expression: one
    // call per row instead of nTables x nBits x dim literal nodes
    // (that formulation spent ~2s in planning + codegen alone)
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb
      .select($"vec_id", $"embedding",
        posexplode(lsh_buckets($"embedding", 6, 12)).as(Seq("table", "bucket")))
    // multiprobe on the QUERY side only: each query also probes the 6
    // Hamming-1 buckets (single hyperplane-bit flips). The query side is
    // 8 rows and broadcast, so 7x its buckets is free — the corpus
    // side (the 100 TB side) still emits exactly one row per table.
    // This is how LSH recall is bought at scale: never widen the big
    // side's emission, widen the probe set.
    val probeSet =
      if (probeAll) explode(expr("sequence(0L, 63L)")) // all 2^6 buckets
      else explode(array($"bucket0" +:
        (0 until 6).map(i => $"bucket0".bitwiseXOR(lit(1L << i))): _*))
    val queries = emb.where($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        posexplode(lsh_buckets($"embedding", 6, 12)).as(Seq("table", "bucket0")))
      .select($"q_id", $"q_emb", $"table", probeSet.as("bucket"))
    val cand = corpus.join(broadcast(queries), Seq("table", "bucket"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"q_emb", $"vec_id", $"embedding")
      .dropDuplicates("q_id", "vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    cand
      .withColumn("cos", cosine_sim($"q_emb", $"embedding"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .select($"q_id", $"vec_id".as("neighbor_id"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** IVF coarse-quantizer centroids are an index artifact: built once
    * per dataset and reused by every query batch (at scale this is a
    * persisted table, not a per-query job) — memoized per data dir.
    * Keyed on dir plus a file-stat fingerprint of the embeddings
    * table ([[graft.Tables.fingerprint]]), the in-JVM stand-in for a
    * dataset snapshot id, so rewriting the data under a dir never
    * serves stale centroids.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** The k-cell coarse quantizer for a data dir (built once, memoized
    * per (dir, k); see [[centroidCache]]): deterministic hashed-id seeds
    * + one Lloyd refinement computed as per-dimension `avg` aggregates
    * in a single corpus pass. A seed cell that captures no vectors in
    * the refinement keeps its seed centroid, so the result ALWAYS has
    * exactly k rows — callers pass `refined.flatten` into
    * `best_cell`/`top_cells` with the same k, and a short matrix would
    * read out of bounds inside the kernel. Shared by q47 (ANN probe)
    * and q59 (SemDeDup-style embedding near-dup blocking).
    */
  private[graft] def centroids(spark: SparkSession, dir: String, k: Int = 16): Array[Array[Double]] =
    centroidCache.computeIfAbsent(
      s"$dir#${Tables.fingerprint(dir, "embeddings")}#$k", _ => {
      import spark.implicits._
      val emb = Tables.load(spark, dir, "embeddings")
      // deterministic seeds: the k lowest hashed-vec_id vectors
      val seeds = emb
        .select($"vec_id", $"embedding",
          graft.functions.GraftFunctions.doc_fingerprint(concat(lit("seed"), $"vec_id"), 4).as("h"))
        .orderBy($"h").limit(k)
        .collect()
        .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
      val dim = seeds.head.length
      // one Lloyd refinement: mean of assigned vectors per cell, one
      // aggregate per dimension (single corpus pass, map-side partials)
      val means = (0 until dim).map(d => avg($"embedding".getItem(d)).as(s"m$d"))
      val refined = emb.select($"vec_id", $"embedding",
          best_cell($"embedding", seeds.flatten, k).as("cell"))
        .groupBy($"cell").agg(means.head, means.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> Array.tabulate(dim)(d => r.getDouble(d + 1)))
        .toMap
      // empty cells (possible on small/skewed corpora) keep their seed
      Array.tabulate(k)(c => refined.getOrElse(c, seeds(c)))
    })

  /** Per-cell assignment loads under nprobe multi-probe — like the
    * centroids, an INDEX ARTIFACT (one counting pass per dataset,
    * memoized) rather than per-query work: q59 sizes its chunk-pair
    * segmentation from these, and at scale they'd be persisted next to
    * the bucketed cell index.
    */
  private val cellLoadCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

  private[graft] def cellLoads(spark: SparkSession, dir: String,
      k: Int = 16, nprobe: Int = 3): Map[Int, Long] =
    cellLoadCache.computeIfAbsent(
      s"$dir#${Tables.fingerprint(dir, "embeddings")}#$k#$nprobe", _ => {
      import spark.implicits._
      val cents = centroids(spark, dir, k)
      Tables.load(spark, dir, "embeddings")
        .select(explode(top_cells($"embedding", cents.flatten, k, nprobe)).as("cell"))
        .groupBy($"cell").count()
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1))
        .toMap
    })

  /** IVF (inverted-file) ANN: one Lloyd refinement over deterministic
    * seed centroids builds a 16-cell coarse quantizer; each query probes
    * its `nprobe`=6 nearest cells and rescores exactly within them
    * (probes are on the tiny broadcast side, so nprobe is a nearly
    * free recall knob: 4 -> 0.625, 6 -> 0.875 measured recall@3).
    *
    * The centroid table is tiny (k x dim), driver-materialized, and
    * rides INSIDE the `best_cell`/`top_cells` kernel expressions, so
    * cell assignment is a map-only scan — zero shuffle, no row
    * inflation (the previous explode(k) + window-argmax formulation
    * shuffled the entire corpus on vec_id, twice). Likewise the Lloyd
    * mean is 64 per-dim `avg` aggregates over one pass of the assigned
    * scan (partial-agg: k x (dim+1) values per partition cross the
    * wire) instead of a posexplode that inflated rows dim-fold. At
    * 100 TB the assignment becomes a one-off bucketed write
    * (`Scale.writeBucketed` on cell) that every subsequent query batch
    * reuses without a shuffle. Approximate -> rows-only check (recall
    * measured in SimilaritySpec).
    */
  val q47_knn_ivf: Q = (spark, dir) => knnIvf(spark, dir, nprobe = 6)

  /** q47's body with nprobe as a knob. `nprobe = 16` (all cells)
    * degenerates to brute force — must EQUAL q32 exactly
    * (SimilaritySpec's exhaustive-twin pin).
    */
  private[graft] def knnIvf(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val k = 16
    val emb = Tables.load(spark, dir, "embeddings")

    val refined = centroids(spark, dir, k)
    val corpus = emb.select($"vec_id", $"embedding",
      best_cell($"embedding", refined.flatten, k).as("cell"))
    // probe nprobe cells per query: a map-only kernel, no window
    val probes = emb.where($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        explode(top_cells($"embedding", refined.flatten, k, nprobe)).as("cell"))
    val wr = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    corpus.join(broadcast(probes), "cell")
      .where($"vec_id" =!= $"q_id")
      .withColumn("cos", cosine_sim($"q_emb", $"embedding"))
      .withColumn("rank", row_number().over(wr))
      .where($"rank" <= 3)
      .select($"q_id", $"vec_id".as("neighbor_id"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** PQ codebooks are an index artifact like [[centroidCache]]: built
    * once per dataset fingerprint, memoized per JVM. Layout:
    * codebooks(m)(c) = the 8-dim codeword c of subspace m.
    */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private val PqM = 16   // subspaces
  private val PqSub = 4  // dims per subspace (16 x 4 = 64-dim vectors)
  private val PqK = 16   // codewords per subspace

  /** The L2-normalized embedding (doubles). PQ for COSINE search
    * quantizes directions, not magnitudes — encoding the raw vector
    * would spend codewords on norm variation the metric ignores.
    */
  private def l2norm(v: Column): Column = {
    val d = transform(v, x => x.cast("double"))
    val n = sqrt(aggregate(zip_with(d, d, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x))
    transform(d, x => x / n)
  }

  /** Per-subspace codebooks over the NORMALIZED vectors: the 16
    * lowest-hashed-id vectors seed every subspace (their m-th
    * subvector is subspace m's seed codeword), then four Lloyd
    * iterations per subspace — assignment is the map-only `best_cell`
    * kernel on the SLICED subvector, all 16 subspaces assigned in a
    * single corpus pass per iteration, and the mean is per-dim `avg`
    * aggregates (partial-agg'd). Empty cells keep their previous
    * codeword (same rule as the IVF quantizer), so every codebook
    * always has exactly PqK rows.
    */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqCache.computeIfAbsent(
      s"$dir#${Tables.fingerprint(dir, "embeddings")}", _ => Scope { sc =>
        import spark.implicits._
        val emb = sc.persist(Tables.load(spark, dir, "embeddings")
          .select($"vec_id", l2norm($"embedding").as("nv")))
        val seeds = emb
          .select($"vec_id", $"nv",
            graft.functions.GraftFunctions
              .doc_fingerprint(concat(lit("pqseed"), $"vec_id"), 4).as("h"))
          .orderBy($"h").limit(PqK)
          .collect()
          .map(r => r.getSeq[Double](1).toArray)
        var books = Array.tabulate(PqM)(m =>
          seeds.map(_.slice(m * PqSub, (m + 1) * PqSub)))
        (1 to 4).foreach { _ =>
          val assigned = sc.persist(emb.select($"nv" +:
            (0 until PqM).map(m => nearest_cell(
              slice($"nv", m * PqSub + 1, PqSub),
              books(m).flatten, PqK).as(s"c$m")): _*))
          books = Array.tabulate(PqM) { m =>
            val means = (0 until PqSub).map(d =>
              avg($"nv".getItem(m * PqSub + d)).as(s"m$d"))
            val refined = assigned.groupBy(col(s"c$m")).agg(means.head, means.tail: _*)
              .collect()
              .map(r => r.getInt(0) ->
                Array.tabulate(PqSub)(d => r.getDouble(d + 1)))
              .toMap
            Array.tabulate(PqK)(c => refined.getOrElse(c, books(m)(c)))
          }
          sc.release(assigned)
        }
        books
      })

  /** Product-quantization ANN (the FAISS IVF-less `PQ16x4` shape with
    * refinement): every corpus vector is encoded map-only into 16
    * codebook codes — the scan side then moves 16 SMALL INTS per
    * vector instead of 64 floats, a big cut in the memory traffic
    * that dominates brute-force scoring at corpus scale (compose with
    * q47's IVF lists for the full IVFPQ). Stage 1 scores
    * asymmetrically — the uncompressed query against the
    * RECONSTRUCTED codeword vector, assembled per row with
    * higher-order array functions from the broadcast codebook literal,
    * no shuffle before the shortlist top-k. Stage 2 re-ranks only the
    * 24-per-query (8x final k) shortlist with exact cosine on the true vectors
    * (one join that moves shortlist-sized data) — the standard
    * shortlist-then-refine serving stack, where full vectors are read
    * for a FIXED number of candidates per query however large the
    * corpus. Approximate -> rows-only check (recall vs exact q32
    * pinned in SimilaritySpec).
    */
  val q95_knn_pq: Q = (spark, dir) => knnPq(spark, dir, shortlistK = 24)

  /** q95's body with the ADC shortlist size as a knob. A shortlist
    * covering the whole corpus makes the exact-cosine rerank a brute
    * force — must EQUAL q32 exactly (SimilaritySpec's exhaustive-twin
    * pin), regardless of how lossy the PQ codes are.
    */
  private[graft] def knnPq(spark: SparkSession, dir: String,
      shortlistK: Int): DataFrame = {
    import spark.implicits._
    val cb = pqCodebooks(spark, dir)
    val emb = Tables.load(spark, dir, "embeddings")
    val codes = emb
      .select($"vec_id", l2norm($"embedding").as("nv"))
      .select($"vec_id", array(
        (0 until PqM).map(m => nearest_cell(
          slice($"nv", m * PqSub + 1, PqSub),
          cb(m).flatten, PqK)): _*).as("codes"))
    // The reconstructed vector is a per-CORPUS-VECTOR quantity: built
    // once per vector ABOVE the query cross join (never per pair) by
    // the pq_reconstruct codegen kernel (codebook as a reference
    // object — the nested-literal formulation spent ~1s/plan), floats
    // out so pair scoring runs through the codegen'd cosine_sim
    // kernel (the higher-order zip_with/aggregate dot allocates per
    // row in the hot pair loop).
    val queries = emb.where($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wShort = Window.partitionBy($"q_id").orderBy($"approx".desc, $"vec_id")
    val shortlist = codes
      .withColumn("recon_f",
        pq_reconstruct($"codes", cb.flatten.flatten, PqM, PqSub, PqK))
      .crossJoin(broadcast(queries))
      .where($"vec_id" =!= $"q_id")
      .withColumn("approx", cosine_sim($"q_emb", $"recon_f"))
      .withColumn("adc_rank", row_number().over(wShort))
      .where($"adc_rank" <= shortlistK)
      .select($"q_id", $"q_emb", $"vec_id")
    val wFinal = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    shortlist.join(emb, "vec_id")
      .withColumn("cos", cosine_sim($"q_emb", $"embedding"))
      .withColumn("rank", row_number().over(wFinal))
      .where($"rank" <= 3)
      .select($"q_id", $"vec_id".as("neighbor_id"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022: nested
    * prefix-subspace embeddings let retrieval run on the first d'
    * dims at 1/4 the memory): per vector, the L2 norm of the 16-dim
    * prefix vs the full 64 dims, the retained-norm fraction (the
    * quality proxy that decides whether a corpus can ship truncated),
    * and the first RE-NORMALIZED component — pinning the renorm math
    * the truncated index would apply. Map-only scan; sums fold
    * sequentially in index order on both engines (`aggregate` here,
    * `list_dot_product` in DuckDB — the q32/q58-proven pairing), so
    * the doubles hash-match exactly. Zero norms emit SQL NULL via
    * nullif, not NaN/Inf (determinism rules).
    */
  val q117_matryoshka: Q = (spark, dir) => {
    import spark.implicits._
    def ss(c: Column) = aggregate(c, lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding",
        sqrt(ss(slice($"embedding", 1, 16))).as("norm16"),
        sqrt(ss($"embedding")).as("norm64"))
      .withColumn("retained", expr("norm16 / nullif(norm64, 0.0d)"))
      .withColumn("r0",
        element_at($"embedding", 1).cast("double") / expr("nullif(norm16, 0.0d)"))
      .select($"vec_id", $"norm16", $"norm64", $"retained", $"r0")
      .orderBy($"vec_id")
  }

  /** Hard-negative mining (DPR/ANCE-style retrieval training prep):
    * for each query vector, the top-3 most-similar corpus vectors
    * BELOW the near-duplicate band (cos < 0.45, q58's threshold) —
    * similar enough that a contrastive loss learns from them, not so
    * similar they are actually positives mislabeled as negatives (the
    * false-negative poisoning in-batch sampling suffers from). Exact
    * formulation over the q32 machinery; at corpus scale candidate
    * generation is the IVF/PQ path (q47/q95) with the dup-band filter
    * applied at the exact re-rank, so the filter costs nothing extra.
    */
  val q120_hard_negatives: Q = (spark, dir) => {
    import spark.implicits._
    // lower bound 0: a zero-norm corpus vector scores cos = 0.0 in the
    // Spark kernel but NULL/NaN in the oracle's unguarded division —
    // `cos > 0` drops that divergence on BOTH engines (and cos <= 0
    // candidates aren't "hard" negatives anyway)
    knnCosine(spark, dir, 3, $"cos" > 0.0 && $"cos" < 0.45)
      .select($"q_id", $"vec_id".as("neg_id"), $"rank", $"cos")
      .orderBy($"q_id", $"rank")
  }

  /** K-means over the embedding corpus — 2 unrolled Lloyd iterations,
    * k=4, then a final assignment/inertia pass: the coarse clustering a
    * SemDeDup-style curation run does before per-cluster dedup (and the
    * same computation that seeds the q47/q59 IVF index, here under the
    * value-exact oracle gate instead of a recall floor). All arithmetic
    * is on floor-quantized 1e-6 integer embeddings, so assignment,
    * centroid update (truncating integer mean) and inertia are
    * bit-identical cross-engine — no float accumulation order anywhere.
    *
    * Distributed shape per iteration: centroids collect to the driver
    * (k×dim longs) and ride back as a literal in a map-only argmin —
    * the broadcast-centroids pattern of every distributed Lloyd
    * implementation; the update is one map-side-combined shuffle keyed
    * by (cluster, dim) — k·dim = 256 keys regardless of corpus size.
    * At 100 TB nothing in the loop scales with anything but the corpus
    * scan. Empty clusters keep their previous centroid (deterministic
    * by construction on both engines).
    */
  /** Shared Lloyd machinery (q132 exact k-means, q148 SemDeDup):
    * floor-quantized 1e-6 integer embeddings, assignment via a
    * broadcast-centroid map-only argmin, centroid update via one
    * map-side-combined (cluster, dim) shuffle (k·64 keys regardless
    * of corpus size), truncating integer means, empty clusters keep
    * their previous centroid.
    */
  private def kmScored(v: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    // l2sq_i64: codegen kernel, bit-identical to the per-centroid
    // aggregate(zip_with(...)) HOF fold it replaced (KernelEqualitySpec)
    // — the fold was interpreted (CodegenFallback) and materialized the
    // centroid as a 64-literal array per row per centroid (guide §4);
    // this is the k·n hot loop of the q132/q148 Lloyd assignment.
    val dists = array(cents.map { c =>
      graft.functions.GraftFunctions.l2sq_i64(col("q"), c)
    }: _*)
    v.select(col("vec_id"), col("q"), dists.as("dists"))
      .selectExpr("vec_id", "q",
        "CAST(array_position(dists, array_min(dists)) - 1 AS INT) AS cluster",
        "array_min(dists) AS dist")
  }

  private def kmUpdate(v: DataFrame, cents: Array[Array[Long]], k: Int): Array[Array[Long]] = {
    val got = kmScored(v, cents)
      .select(col("cluster"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("cluster"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .selectExpr("cluster", "d", "sx DIV n AS c")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    Array.tabulate(k, 64)((c, d) => got.getOrElse((c, d), cents(c)(d)))
  }

  /** 1e-6 floor-quantized integer embeddings — the exact-arithmetic
    * substrate for q132/q148.
    *
    * MAGNITUDE ASSUMPTION (load-bearing for overflow-freedom): every
    * downstream bound assumes components stay within |x| <= 1 (the
    * fixture's embeddings are unit-scale; SimilaritySpec pins
    * max(abs(x)) <= 1 so a vintage violating this fails loudly there,
    * not via null-on-overflow row drops here). Under that bound, for
    * 64 dims: a quantized dot |Σ qa·qb| <= 64·(1e6)² = 6.4e13 (BIGINT
    * holds up to 9.2e18 — components up to |x|≈3.8 before overflow),
    * and the q148 duplicate test's 400·dot² <= ~1.6e30 and
    * 81·na²·nb² <= ~1.4e31 both fit the DECIMAL(38,0) result type
    * that Spark/DuckDB assign to the DECIMAL(20,0)·DECIMAL(20,0)
    * products (precision capped at 38).
    */
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q")

  private def kmSeeds(v: DataFrame, k: Int): Array[Array[Long]] =
    v.orderBy(col("vec_id")).limit(k)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)

  val q132_kmeans: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val k = 4
    val v = sc.persist(quantized(spark, dir))
    val seeds = kmSeeds(v, k)
    require(seeds.length == k, s"q132: corpus under $dir has < $k vectors")
    def scored(cents: Array[Array[Long]]): DataFrame = kmScored(v, cents)
    def update(cents: Array[Array[Long]]): Array[Array[Long]] = kmUpdate(v, cents, k)
    val c2 = update(update(seeds))
    val norm1 = c2.map(_.map(math.abs).sum)
    // k rows — sealed so v's cache can drop
    sc.seal(scored(c2)
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n"), sum($"dist").as("inertia"))
      .withColumn("c_norm1",
        element_at(array(norm1.map(lit(_)): _*), $"cluster" + 1))
      .orderBy($"cluster"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding corpus coarsely (k=16, one exact-integer Lloyd update
    * over the q132 machinery), then remove near-duplicates ONLY
    * within clusters — the clustering turns the quadratic all-pairs
    * problem into k independent (n/k)² blocks, which is the entire
    * scalability argument of the paper. Within a cluster, a pair
    * duplicates when cos >= 0.45 (q58's threshold), tested in exact
    * integer arithmetic: dot > 0 AND 400·dot² >= 81·na²·nb² on the
    * 1e-6-quantized vectors, computed in DECIMAL(38,0) so neither
    * engine overflows or rounds. Greedy keep-lowest-id per pair (the
    * q114 keep-policy device); pairs split across clusters are missed
    * by design — that recall trade is the method, measured in
    * SimilaritySpec against q58's exact global pair list.
    *
    * Scale shape: assignment is the broadcast-centroid map-only
    * argmin; the pair join is blocked on the cluster key (k buckets,
    * each (n/k)²); everything downstream is cluster-keyed aggregates.
    * At 100 TB one raises k with corpus size (the q136 audit's
    * log2(n) lesson) — blocks stay constant-sized and the join never
    * degenerates.
    */
  val q148_semdedup: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val k = 16
    val v = sc.persist(quantized(spark, dir))
    val seeds = kmSeeds(v, k)
    require(seeds.length == k, s"q148: corpus under $dir has < $k vectors")
    val c1 = kmUpdate(v, seeds, k)
    // dot_i64: the codegen dot kernel (bit-identical to the
    // aggregate(zip_with(...)) HOF pair it replaces, which is a
    // CodegenFallback allocating a zipped array per evaluation —
    // guide §4). Here it runs once per vector; in `dups` below once
    // per CANDIDATE PAIR, the (n/k)² term that is the query's hot
    // loop at any scale.
    val assigned = sc.persist(kmScored(v, c1)
      .select($"vec_id", $"cluster".as("cl"), $"q",
        graft.functions.GraftFunctions.dot_i64($"q", $"q").as("n2")))
    val a = assigned
      .select($"cl", $"vec_id".as("va"), $"q".as("qa"), $"n2".as("na2"))
    val b = assigned
      .select($"cl", $"vec_id".as("vb"), $"q".as("qb"), $"n2".as("nb2"))
    // DECIMAL(20,0)·DECIMAL(20,0) products land in DECIMAL(38,0)
    // (precision capped at 38) — overflow-free under the |x| <= 1
    // magnitude bound documented at quantized() and pinned in
    // SimilaritySpec
    val dups = a.join(b, Seq("cl")).where($"va" < $"vb")
      .withColumn("dot", graft.functions.GraftFunctions.dot_i64($"qa", $"qb"))
      .where($"dot" > 0 && expr(
        """400 * CAST(dot AS DECIMAL(20,0)) * CAST(dot AS DECIMAL(20,0)) >=
          |81 * CAST(na2 AS DECIMAL(20,0)) * CAST(nb2 AS DECIMAL(20,0))""".stripMargin
          .replace("\n", " ")))
      .select($"cl", $"vb".as("vec_id"), lit(1).as("dr"))
      .distinct()
    // k rows — sealed so the corpus-sized caches can drop
    sc.seal(assigned.select($"cl", $"vec_id")
      .join(dups, Seq("cl", "vec_id"), "left")
      .groupBy($"cl")
      .agg(count(lit(1)).as("n_members"),
        count($"dr").as("n_dropped"),
        sum(when($"dr".isNull, $"vec_id")).as("survivor_sum"))
      .orderBy($"cl"))
  }

  /** q136: signed-random-projection (SRP) sketch + Hamming near-dup —
    * the ORACLE-GATED integer twin of the hash-based LSH family (q33
    * cosine-LSH ANN, q30 text SimHash, both rows-only by nature).
    * Embeddings are scaled to exact BIGINTs, each of 16 hyperplane
    * signs comes from a shared LCG formula (`((b*2654435761 +
    * i*40503) % 97) % 2`) that both engines evaluate in BIGINT
    * arithmetic, so the 16-bit code — and therefore every Hamming
    * pair — is bit-identical to the DuckDB oracle.
    *
    * Scale shape: code derivation is map-only whole-stage-codegen (16
    * integer dot products per row, no shuffle, no UDF). Pair
    * generation is the q30 pigeonhole applied to SRP codes: a
    * Hamming<=2 pair must agree on one of three code chunks (6/5/5
    * bits), so candidates meet in an equi-join on (chunk_idx, chunk
    * value) — never an all-pairs product — and the exact
    * `bit_count(xor)` filter runs only inside buckets. The oracle
    * does the all-pairs quadratic check, which is exactly the
    * brute-force the blocking must reproduce losslessly.
    */
  val q136_srp_sketch: Q = (spark, dir) => {
    import spark.implicits._
    val sv = Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv")
    // No persist: both self-join sides shuffle the SAME subplan on
    // (ci, cv), so Spark plans one exchange and a ReusedExchange for
    // the other side — the 16-dot code derivation runs exactly once
    // with no cache to leak (pinned in PlanInvariantsSpec).
    // srp_code_i64 is the codegen kernel for the 16 per-bit
    // `aggregate(sequence(...))` HOF folds this derivation shipped
    // through round 17 — interpreted CodegenFallbacks allocating a
    // sequence array per bit per row (guide §4); bit-equality against
    // the SQL folds is pinned in KernelEqualitySpec.
    val coded = sv.select($"vec_id",
      graft.functions.GraftFunctions.srp_code_i64($"sv", 16).as("code"))
    val chunks = coded.select($"vec_id", $"code", explode(expr(
        """array(struct(0 AS ci, code % 64 AS cv),
          |      struct(1 AS ci, (code DIV 64) % 32 AS cv),
          |      struct(2 AS ci, (code DIV 2048) % 32 AS cv))""".stripMargin)).as("ch"))
      .select($"vec_id", $"code", $"ch.ci".as("ci"), $"ch.cv".as("cv"))
    chunks.as("a").join(chunks.as("b"),
        $"a.ci" === $"b.ci" && $"a.cv" === $"b.cv" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        expr("CAST(bit_count(a.code ^ b.code) AS INT)").as("hamming"))
      .distinct()
      .where($"hamming" <= 2)
      .orderBy($"vec_a", $"vec_b")
  }

  /** Multi-vector late-interaction scoring (MaxSim, Khattab &
    * Zaharia 2020 — ColBERT): treat each 64-dim embedding as 8
    * sub-vectors of 8 dims; score(q, d) = Σ_i max_j <q_i, d_j>. The
    * retrieval model where a query sub-vector matches its best doc
    * sub-vector independently — the third search modality next to
    * single-vector cosine (q32) and token-set overlap (q128/q139).
    * All arithmetic on floor-quantized 1e-6 integer embeddings —
    * bit-identical to the DuckDB oracle.
    *
    * Scale shape: identical to q32's exact-kNN scaffold — the 4-query
    * batch broadcasts, the corpus never shuffles, and the 512
    * integer multiplies per pair run inside whole-stage codegen
    * (nested higher-order functions, no UDF). Per-query top-3 via
    * the (score desc, vec_id) window on the tiny post-filter set. At
    * 100 TB: one corpus scan per query batch, map-only. A production
    * deployment quantizes sub-vectors to PQ codes first (q95) — this
    * is the exact variant that gates that approximation.
    */
  val q143_maxsim: Q = (spark, dir) => {
    import spark.implicits._
    val quant = "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.where($"vec_id" < 4)
      .selectExpr("vec_id AS q_id", s"$quant AS qq")
    val w = Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id")
    // maxsim_i64 is the codegen kernel for the triple-nested
    // `aggregate(... array_max(transform(... aggregate(...))))` HOF
    // fold this scoring shipped through round 17 — an interpreted
    // CodegenFallback evaluating 512 multiplies and allocating ~9
    // arrays per (query, doc) pair (guide §4); bit-equality against
    // the SQL fold is pinned in KernelEqualitySpec.
    emb.selectExpr("vec_id", s"$quant AS dq")
      .crossJoin(broadcast(queries))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        graft.functions.GraftFunctions.maxsim_i64($"qq", $"dq").as("score"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where($"rank" <= 3)
      .select($"q_id", $"vec_id".as("neighbor_id"), $"rank", $"score")
      .orderBy($"q_id", $"rank")
  }

  private val semdedupOracle: String =
    """WITH v AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
      |  FROM embeddings),
      |c0 AS (
      |  SELECT CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, d, q
      |  FROM v WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
      |a1 AS (
      |  SELECT vec_id, cl FROM (
      |    SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |    FROM (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
      |          FROM v JOIN c0 c ON v.d = c.d GROUP BY 1, 2)) WHERE rn = 1),
      |c1 AS (
      |  SELECT c0.cl, c0.d, COALESCE(u.nq, c0.q) AS q FROM c0 LEFT JOIN
      |    (SELECT a.cl, v.d, SUM(v.q) // COUNT(*) AS nq
      |     FROM a1 a JOIN v ON a.vec_id = v.vec_id GROUP BY 1, 2) u
      |  ON c0.cl = u.cl AND c0.d = u.d),
      |a2 AS (
      |  SELECT vec_id, cl FROM (
      |    SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      |    FROM (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
      |          FROM v JOIN c1 c ON v.d = c.d GROUP BY 1, 2)) WHERE rn = 1),
      |qv AS (
      |  SELECT a2.vec_id, a2.cl,
      |    [CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in e.embedding] AS qq
      |  FROM a2 JOIN embeddings e ON a2.vec_id = e.vec_id),
      |pairs AS (
      |  SELECT a.cl, a.vec_id AS va, b.vec_id AS vb,
      |    CAST(list_sum([a.qq[i] * b.qq[i] for i in range(1, 65)]) AS HUGEINT) AS dot,
      |    CAST(list_sum([a.qq[i] * a.qq[i] for i in range(1, 65)]) AS HUGEINT) AS na2,
      |    CAST(list_sum([b.qq[i] * b.qq[i] for i in range(1, 65)]) AS HUGEINT) AS nb2
      |  FROM qv a JOIN qv b ON a.cl = b.cl AND a.vec_id < b.vec_id),
      |dups AS (
      |  SELECT DISTINCT cl, vb FROM pairs
      |  WHERE dot > 0 AND 400 * dot * dot >= 81 * na2 * nb2)
      |SELECT q.cl, COUNT(*) AS n_members,
      |  COUNT(*) FILTER (d.vb IS NOT NULL) AS n_dropped,
      |  CAST(SUM(q.vec_id) FILTER (d.vb IS NULL) AS BIGINT) AS survivor_sum
      |FROM qv q LEFT JOIN dups d ON q.cl = d.cl AND q.vec_id = d.vb
      |GROUP BY q.cl ORDER BY q.cl""".stripMargin

  private val maxsimOracle: String = {
    val chunkMax = (0 until 8).map { i =>
      val dots = (0 until 8).map { j =>
        s"list_sum([qq[${i * 8} + t] * dq[${j * 8} + t] for t in range(1, 9)])"
      }
      s"GREATEST(${dots.mkString(", ")})"
    }.mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id AS q_id,
       |    [CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS qq
       |  FROM embeddings WHERE vec_id < 4),
       |d AS (
       |  SELECT vec_id,
       |    [CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS dq
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.q_id, d.vec_id, CAST($chunkMax AS BIGINT) AS score
       |  FROM q CROSS JOIN d WHERE d.vec_id != q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id AS neighbor_id, rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  private val srpOracle: String = {
    val projs = (0 until 16).map { b =>
      s"CAST(list_sum([sv[i] * (CASE WHEN (($b * 2654435761 + i * 40503) % 97) % 2 = 0" +
        " THEN 1 ELSE -1 END) for i in range(1, len(sv) + 1)]) AS BIGINT)"
    }
    val code = projs.zipWithIndex
      .map { case (p, b) => s"(CASE WHEN $p > 0 THEN ${1L << b} ELSE 0 END)" }
      .mkString(" + ")
    s"""WITH sv AS (
       |  SELECT vec_id,
       |    [CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS sv
       |  FROM embeddings),
       |coded AS (SELECT vec_id, CAST($code AS BIGINT) AS code FROM sv)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS hamming
       |FROM coded a JOIN coded b ON a.vec_id < b.vec_id
       |WHERE bit_count(xor(a.code, b.code)) <= 2
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** q159: embedding-space drift between corpus halves (vec_id
    * parity stands in for before/after a re-crawl or encoder
    * upgrade): per-dimension mean shift on the 1e-6-quantized
    * integer embeddings. Complements q121 (count-distribution drift)
    * with representation drift — the check that catches a silently
    * swapped encoder before a retrieval index is rebuilt against
    * mixed geometry. The drift statistic is the CROSS-MULTIPLIED
    * |sum_a·n_b − sum_b·n_a| — integer-exact, and deliberately
    * division-free: Spark's `DIV` truncates toward zero while
    * DuckDB's `//` floors, so signed mean division is exactly where
    * the engines would quietly disagree. At 100 TB the sums ride
    * DECIMAL accumulators; at test scale BIGINT has 6 orders of
    * headroom.
    *
    * Scale shape: ONE map-side-combined aggregate over the
    * posexploded (dim, q) stream; 64 output rows; no joins.
    */
  val q159_embedding_drift: Q = (spark, dir) => {
    import spark.implicits._
    quantized(spark, dir)
      .select($"vec_id", posexplode($"q").as(Seq("d", "qv")))
      .groupBy($"d")
      .agg(
        count(when($"vec_id" % 2 === 0, 1)).as("n_a"),
        count(when($"vec_id" % 2 =!= 0, 1)).as("n_b"),
        sum(when($"vec_id" % 2 === 0, $"qv").otherwise(0L)).as("sum_a"),
        sum(when($"vec_id" % 2 =!= 0, $"qv").otherwise(0L)).as("sum_b"))
      .select($"d", $"n_a", $"n_b", $"sum_a", $"sum_b",
        abs($"sum_a" * $"n_b" - $"sum_b" * $"n_a").as("drift_x"))
      .orderBy($"d")
  }

  val oracles: Map[String, String] = Map(
    "q159_embedding_drift" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS d,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT d,
        |  COUNT(*) FILTER (WHERE vec_id % 2 = 0) AS n_a,
        |  COUNT(*) FILTER (WHERE vec_id % 2 <> 0) AS n_b,
        |  CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN q ELSE 0 END) AS BIGINT) AS sum_a,
        |  CAST(SUM(CASE WHEN vec_id % 2 <> 0 THEN q ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(ABS(SUM(CASE WHEN vec_id % 2 = 0 THEN q ELSE 0 END)
        |           * COUNT(*) FILTER (WHERE vec_id % 2 <> 0)
        |         - SUM(CASE WHEN vec_id % 2 <> 0 THEN q ELSE 0 END)
        |           * COUNT(*) FILTER (WHERE vec_id % 2 = 0)) AS BIGINT) AS drift_x
        |FROM v GROUP BY d ORDER BY d""".stripMargin,
    "q136_srp_sketch" -> srpOracle,
    "q143_maxsim" -> maxsimOracle,
    "q148_semdedup" -> semdedupOracle,
    "q132_kmeans" ->
      """WITH v AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, d, q
        |  FROM v WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        |a1 AS (
        |  SELECT vec_id, cl, dist FROM (
        |    SELECT vec_id, cl, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
        |    FROM (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |          FROM v JOIN c0 c ON v.d = c.d GROUP BY 1, 2)) WHERE rn = 1),
        |c1 AS (
        |  SELECT c0.cl, c0.d, COALESCE(u.nq, c0.q) AS q FROM c0 LEFT JOIN
        |    (SELECT a.cl, v.d, SUM(v.q) // COUNT(*) AS nq
        |     FROM a1 a JOIN v ON a.vec_id = v.vec_id GROUP BY 1, 2) u
        |  ON c0.cl = u.cl AND c0.d = u.d),
        |a2 AS (
        |  SELECT vec_id, cl, dist FROM (
        |    SELECT vec_id, cl, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
        |    FROM (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |          FROM v JOIN c1 c ON v.d = c.d GROUP BY 1, 2)) WHERE rn = 1),
        |c2 AS (
        |  SELECT c1.cl, c1.d, COALESCE(u.nq, c1.q) AS q FROM c1 LEFT JOIN
        |    (SELECT a.cl, v.d, SUM(v.q) // COUNT(*) AS nq
        |     FROM a2 a JOIN v ON a.vec_id = v.vec_id GROUP BY 1, 2) u
        |  ON c1.cl = u.cl AND c1.d = u.d),
        |a3 AS (
        |  SELECT vec_id, cl, dist FROM (
        |    SELECT vec_id, cl, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
        |    FROM (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |          FROM v JOIN c2 c ON v.d = c.d GROUP BY 1, 2)) WHERE rn = 1)
        |SELECT a3.cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(a3.dist) AS BIGINT) AS inertia,
        |  (SELECT CAST(SUM(ABS(q)) AS BIGINT) FROM c2 WHERE c2.cl = a3.cl) AS c_norm1
        |FROM a3 GROUP BY a3.cl ORDER BY a3.cl""".stripMargin,
    "q120_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_dot_product(q.qe, CAST(e.embedding AS DOUBLE[])) /
        |      (sqrt(list_dot_product(q.qe, q.qe)) *
        |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[])))) AS cos
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id AS neg_id, CAST(rank AS INTEGER) AS rank, cos
        |FROM (SELECT q_id, vec_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |      FROM s WHERE cos > 0 AND cos < 0.45) t
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q117_matryoshka" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |         CAST(embedding[1:16] AS DOUBLE[]) AS p
        |  FROM embeddings)
        |SELECT vec_id,
        |  sqrt(list_dot_product(p, p)) AS norm16,
        |  sqrt(list_dot_product(e, e)) AS norm64,
        |  sqrt(list_dot_product(p, p)) / NULLIF(sqrt(list_dot_product(e, e)), 0.0) AS retained,
        |  e[1] / NULLIF(sqrt(list_dot_product(p, p)), 0.0) AS r0
        |FROM v ORDER BY vec_id""".stripMargin,
    "q32_knn_exact" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_dot_product(q.qe, CAST(e.embedding AS DOUBLE[])) /
        |      (sqrt(list_dot_product(q.qe, q.qe)) *
        |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(e.embedding AS DOUBLE[])))) AS cos
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id AS neighbor_id, CAST(rank AS INTEGER) AS rank
        |FROM (SELECT q_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        |      FROM s) t
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)

  val queries: Map[String, Q] = Map(
    "q32_knn_exact" -> q32_knn_exact,
    "q33_knn_lsh" -> q33_knn_lsh,
    "q47_knn_ivf" -> q47_knn_ivf,
    "q95_knn_pq" -> q95_knn_pq,
    "q117_matryoshka" -> q117_matryoshka,
    "q120_hard_negatives" -> q120_hard_negatives,
    "q132_kmeans" -> q132_kmeans,
    "q136_srp_sketch" -> q136_srp_sketch,
    "q143_maxsim" -> q143_maxsim,
    "q148_semdedup" -> q148_semdedup,
    "q159_embedding_drift" -> q159_embedding_drift)
}
