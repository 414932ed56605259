package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Scope, Tables}
import graft.functions.GraftFunctions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, quality scoring, language ID,
  * content fingerprinting. All are embarrassingly parallel scans
  * (no shuffle except the final presentation sort), so they scale
  * linearly with executors at 100 TB.
  */
object TextOps {
  import Relational.Q

  /** Token counting — whitespace tokens and a BPE-ish regex token count
    * (letter runs / digit runs / single non-space symbols).
    */
  val q24_token_count: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
          .as("re_tokens"))
      .orderBy($"doc_id")
  }

  /** THE quality ladder (0-4 composite) as one Column over `text` —
    * the single Scala definition of the q25 regexes/thresholds.
    * Consumed by q109's quality stage, q114's keep-policy, and q119's
    * budget ordering; q25 itself computes the identical ladder from
    * its exposed component columns. The SQL twin is
    * [[qualityLadderSql]] below (interpolated into the q114/q119
    * oracles); q25's oracle keeps its component-column form — change
    * ladder semantics in BOTH Scala and [[qualityLadderSql]] plus
    * q25's oracle, or the DuckDB gate fires.
    */
  private[operators] def qualityLadder(text: Column): Column = {
    val words = size(split(trim(text), "\\s+"))
    (when(length(text) >= 100, 1).otherwise(0)
      + when(words >= 20, 1).otherwise(0)
      + when(size(regexp_extract_all(text,
          lit("\\b(the|a|of|and|or|in)\\b"), lit(0))) >= 2, 1).otherwise(0)
      + when(size(regexp_extract_all(text,
          lit("[\\.,;:!\\?]"), lit(0))) * 10 <= words, 1).otherwise(0))
  }

  /** The DuckDB-SQL twin of [[qualityLadder]] (one expression over a
    * `text` column) — shared by every oracle that needs the ladder so
    * the SQL copies can't drift independently.
    */
  private[operators] val qualityLadderSql: String =
    """(CASE WHEN LENGTH(text) >= 100 THEN 1 ELSE 0 END
      | + CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 20 THEN 1 ELSE 0 END
      | + CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|and|or|in)\b')) >= 2 THEN 1 ELSE 0 END
      | + CASE WHEN len(regexp_extract_all(text, '[\.,;:!\?]')) * 10
      |        <= len(regexp_split_to_array(trim(text), '\s+')) THEN 1 ELSE 0 END)""".stripMargin

  /** Quality scoring: integer signal counts + a 0-4 composite score.
    * Integer outputs only — exactly reproducible in any engine (no
    * float-ratio rounding hazards).
    */
  val q25_quality_score: Q = (spark, dir) => {
    import spark.implicits._
    val len = length($"text")
    val words = size(split(trim($"text"), "\\s+"))
    val stops = size(regexp_extract_all($"text", lit("\\b(the|a|of|and|or|in)\\b"), lit(0)))
    val puncts = size(regexp_extract_all($"text", lit("[\\.,;:!\\?]"), lit(0)))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", len.as("n_chars"), words.as("n_words"),
        stops.as("n_stopwords"), puncts.as("n_punct"))
      .withColumn("quality_score",
        (when($"n_chars" >= 100, 1).otherwise(0)
          + when($"n_words" >= 20, 1).otherwise(0)
          + when($"n_stopwords" >= 2, 1).otherwise(0)
          + when($"n_punct" * 10 <= $"n_words", 1).otherwise(0)))
      .orderBy($"doc_id")
  }

  /** q195: quality-threshold TRADEOFF table — for every cutoff of
    * q25's integer quality score (0..4), the docs and words that
    * survive `score >= threshold` plus their shares x1000. The curve a
    * curator reads BEFORE fixing a filter bar: quality filters trade
    * data volume for data quality, and the volume side of that trade
    * is this table (the C4 -> Gopher -> FineWeb ablation literature
    * always reports it as "tokens surviving each filter").
    *
    * Scale shape: ONE corpus scan through q25's per-doc scoring
    * (map-only), one 5-row groupBy(score) with map-side combine; the
    * threshold expansion is a DOMAIN-bounded theta-join (5 thresholds
    * x 5 score rows — broadcast, never corpus-sized) and the totals
    * ride a broadcast crossJoin of one aggregate row. All-integer
    * output.
    */
  val q195_quality_tradeoff: Q = (spark, dir) => {
    import spark.implicits._
    val d = q25_quality_score(spark, dir)
      .select($"quality_score".as("q"), $"n_words")
    val byScore = d.groupBy($"q")
      .agg(count(lit(1)).as("docs"), sum($"n_words").as("words"))
    val th = spark.range(0, 5).select($"id".cast("int").as("threshold"))
    th.join(byScore, $"q" >= $"threshold")
      .groupBy($"threshold")
      .agg(sum($"docs").as("n_docs"), sum($"words").as("n_words"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("tot_docs"),
        sum($"n_words").as("tot_words"))))
      .select($"threshold", $"n_docs", $"n_words",
        expr("CAST(n_docs * 1000 DIV tot_docs AS BIGINT)").as("docs_x1000"),
        expr("CAST(n_words * 1000 DIV tot_words AS BIGINT)").as("words_x1000"))
      .orderBy($"threshold")
  }

  /** Language ID by stopword-marker counting with a deterministic
    * priority argmax (n-gram-heuristic family). The marker lists are
    * standard high-frequency function words per language.
    */
  val q26_lang_id: Q = (spark, dir) => {
    import spark.implicits._
    def markers(pat: String) =
      size(regexp_extract_all(lower($"text"), lit(pat), lit(0)))
    val cEn = markers("\\b(the|and|of|is|to)\\b")
    val cDe = markers("\\b(der|die|das|und|ist)\\b")
    val cFr = markers("\\b(le|la|les|et|est)\\b")
    val cEs = markers("\\b(el|los|las|es|y)\\b")
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang".as("labeled_lang"),
        cEn.as("c_en"), cDe.as("c_de"), cFr.as("c_fr"), cEs.as("c_es"))
      .withColumn("pred_lang",
        when($"c_en" >= $"c_de" && $"c_en" >= $"c_fr" && $"c_en" >= $"c_es" && $"c_en" > 0, "en")
          .when($"c_de" >= $"c_fr" && $"c_de" >= $"c_es" && $"c_de" > 0, "de")
          .when($"c_fr" >= $"c_es" && $"c_fr" > 0, "fr")
          .when($"c_es" > 0, "es")
          .otherwise("und"))
      .select($"doc_id", $"labeled_lang", $"pred_lang")
      .orderBy($"doc_id")
  }

  /** Winnowing-style rolling-hash document fingerprint (custom
    * doc_fingerprint expression) + SimHash. Content-identical docs get
    * identical fingerprints; near-identical docs get nearby SimHashes.
    * Oracle-gated since round 9: the mix64/poly-31 kernels unroll into
    * HUGEINT limb arithmetic ([[HashOracleSql]]) — wrapping 64-bit
    * multiply via 32-bit limbs, signed MIN via the 2^63 fold.
    */
  val q27_fingerprint: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        doc_fingerprint($"text", 8).as("fingerprint"),
        sim_hash($"text").as("simhash"))
      .orderBy($"doc_id")
  }

  /** Corpus token-frequency top-k (explode -> hash aggregate with
    * map-side combine -> TakeOrderedAndProject). The classic corpus
    * statistic; at 100 TB the combine keeps the shuffle at one row per
    * distinct token per partition.
    */
  val q54_word_freq: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("token"))
      .where(length($"token") > 0)
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  /** Top char-trigram frequencies via the custom NGramsGenerate UDTF
    * (one row per n-gram OCCURRENCE) + map-side-combined count.
    */
  val q55_ngram_freq: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(graft.functions.NGramsGenerate.ngrams($"text", 3).as("ngram"))
      .groupBy($"ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"ngram")
      .limit(20)
  }

  /** Tokenizer vocabulary build: corpus word frequencies + document
    * frequencies, min-count filtered, with dense contiguous token ids
    * assigned by (count desc, token) — ids 0–3 reserved for the
    * special tokens (pad/unk/bos/eos) every tokenizer ships. The id
    * assignment is a global row_number over the VOCABULARY (already
    * aggregated: orders of magnitude smaller than the corpus — the
    * single-partition window is over vocab-sized data, the corpus
    * itself sees only the one word-count shuffle with map-side
    * combine).
    */
  val q129_vocab_build: Q = (spark, dir) => {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("token"))
      .where(length($"token") > 0)
      .groupBy($"token")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("df"))
      .where($"n" >= 5)
      // unpartitioned window is BOUNDED: input is the n>=5 vocabulary
      // (Heaps-law-sized), not the corpus token stream
      .withColumn("token_id",
        (row_number().over(Window.orderBy($"n".desc, $"token")) + 3).cast("int"))
      .select($"token_id", $"token", $"n", $"df")
      .orderBy($"token_id")
  }

  /** q181: Zipf's-law fit of the corpus rank–frequency curve — OLS of
    * ln(freq) on ln(rank) over the q129 vocabulary (freq ∝ rank^slope;
    * natural text sits near slope ≈ −1, so the fitted slope + r² is a
    * one-row corpus health check: template/boilerplate floods flatten
    * the tail, spam skews the head — the corpus-level companion to
    * q25's per-doc quality score).
    *
    * Cross-engine exactness device (stronger than the q110/q166
    * raw-double sums): each log coordinate is QUANTIZED to
    * DECIMAL(18,6) — deterministic per value, engine-portable (a
    * last-ulp ln() difference only matters within 2⁻⁵² of a 0.5e-6
    * grid midpoint) — so the moment sums are exact decimal arithmetic
    * in ANY summation order; ONE cast to double per sum, and the
    * downstream slope/intercept/r² expression is written identically
    * in both engines (IEEE-deterministic on identical inputs), then
    * round(…,6). The fit is BY DEFINITION over 6-dp log coordinates.
    *
    * Scale shape: the corpus sees exactly one word-count shuffle
    * (map-side combined); ranking and the moment fold are over the
    * VOCABULARY (Heaps-bounded — the q129 single-partition-window
    * stance), and the output is one row.
    */
  val q181_zipf_fit: Q = (spark, dir) => {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("token"))
      .where(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .where($"n" >= 5)
      // unpartitioned window is BOUNDED: vocab-sized input (the q129
      // single-partition-window stance)
      .withColumn("rank",
        row_number().over(Window.orderBy($"n".desc, $"token")).cast("long"))
    val p = v.selectExpr(
      "CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,6)) AS x",
      "CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS y")
    val m = p.agg(count(lit(1)).cast("double").as("nw"),
      sum($"x").cast("double").as("sx"), sum($"y").cast("double").as("sy"),
      sum($"x" * $"x").cast("double").as("sxx"),
      sum($"x" * $"y").cast("double").as("sxy"),
      sum($"y" * $"y").cast("double").as("syy"))
    m.select($"nw".cast("long").as("n_words"),
      round(($"nw" * $"sxy" - $"sx" * $"sy") /
        ($"nw" * $"sxx" - $"sx" * $"sx"), 6).as("slope"),
      round(($"sy" - (($"nw" * $"sxy" - $"sx" * $"sy") /
        ($"nw" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"nw", 6).as("intercept"),
      round(($"nw" * $"sxy" - $"sx" * $"sy") * ($"nw" * $"sxy" - $"sx" * $"sy") /
        (($"nw" * $"sxx" - $"sx" * $"sx") *
          ($"nw" * $"syy" - $"sy" * $"sy")), 6).as("r2"))
  }

  /** Word co-occurrence counts within a ±2 token window (the GloVe /
    * word2vec statistics pass), formed MAP-SIDE from each document's
    * own token array — a shifted-pair transform per distance, no
    * positional self-join (which at 100 TB would shuffle every token
    * twice and pair through a skewed doc_id key). The only shuffle is
    * the final pair-count aggregate (map-side combined, vocab²-bounded
    * keys); top-20 is a TakeOrdered with a total (n desc, w1, w2)
    * order.
    */
  val q130_cooccurrence: Q = (spark, dir) => {
    import spark.implicits._
    val pairs = Tables.load(spark, dir, "documents")
      .where(length(trim($"text")) > 0)
      .select(split(lower(trim($"text")), "\\s+").as("w"))
      .select(explode(expr(
        """concat(
          |  CASE WHEN size(w) >= 2
          |       THEN transform(sequence(1, size(w) - 1),
          |                      i -> struct(w[i-1] AS w1, w[i] AS w2))
          |       ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END,
          |  CASE WHEN size(w) >= 3
          |       THEN transform(sequence(1, size(w) - 2),
          |                      i -> struct(w[i-1] AS w1, w[i+1] AS w2))
          |       ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END)"""
          .stripMargin)).as("p"))
    pairs.select($"p.w1", $"p.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w1", $"w2")
      .limit(20)
  }

  /** q135: bigram-LM coherence scoring — the bigram upgrade of q75's
    * unigram quality signal. The corpus bigram table C2(w1,w2) and its
    * first-word rollup C1(w1) define an integer conditional-
    * probability proxy `(C2 * 1e6) DIV C1` per adjacent word pair; a
    * document's coherence is the integer mean of its bigram scores,
    * and the query reports the per-source mean — low-coherence
    * sources are where word salad / boilerplate concentrates.
    *
    * All-integer arithmetic (counts, DIV) so the DuckDB oracle
    * hash-matches exactly — no float log-prob anywhere.
    *
    * Scale shape: bigram extraction is a map-only transform (the q130
    * kernel); C1 is a re-aggregate of C2, never a second corpus scan.
    * The per-bigram score join shuffles on the composite (w1, w2) key
    * — naturally salted, every stopword pair lands on its own
    * partition. The C1 join keys on w1 alone and is therefore the
    * skew point ("the" dominates); AQE skew-join splits it at scale,
    * and C1 is vocabulary-sized so it broadcasts outright below
    * ~10 GB vocabularies.
    */
  val q135_bigram_coherence: Q = (spark, dir) => {
    import spark.implicits._
    val bi = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)").as("w"))
      .where(size($"w") >= 2)
      .select($"doc_id", $"source", explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select($"doc_id", $"source", $"b.w1", $"b.w2")
    val c2 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
    val scored = bi
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select($"doc_id", $"source", expr("(c2 * 1000000) DIV c1").as("part"))
    scored.groupBy($"doc_id", $"source")
      .agg(expr("sum(part) DIV count(1)").as("coh"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), expr("sum(coh) DIV count(1)").as("avg_coherence"))
      .orderBy($"source")
  }

  /** Fixed-window document chunking with overlap (stride 120, window
    * 160) — the RAG/training prep step that turns documents into
    * model-sized pieces. Pure per-row explode: no shuffle, scales
    * linearly. Chunks are emitted as (offset, length, md5) so the
    * result stays narrow no matter the corpus size; the md5 pins the
    * exact chunk bytes against the oracle.
    */
  val q64_chunking: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text",
        explode(sequence(lit(1), greatest(length($"text"), lit(1)), lit(120)))
          .as("start"))
      .select($"doc_id", $"start".cast("long").as("start"),
        expr("substring(text, start, 160)").as("chunk"))
      .select($"doc_id", $"start",
        length($"chunk").cast("int").as("chunk_chars"),
        md5($"chunk").as("chunk_md5"))
      .orderBy($"doc_id", $"start")
  }

  /** Weighted source mixing — the "data mixture" step: each source
    * contributes at its own rate, rows are picked by deterministic key
    * hash (reproducible across runs/engines, like q62), and `mix_key`
    * is a reproducible pseudo-shuffle order (hash injective under a
    * prime modulus) so downstream training reads an interleaved, not
    * source-clumped, stream. At scale, repartitionByRange(mix_key)
    * shards the interleave without a global sort.
    *
    * Both hashes reduce doc_id mod p=1e9+7 BEFORE multiplying (same
    * rule as q62/q63/q73): identity for ids < p, and the product stays
    * < 2^62 for ANY id, so a corpus-scale id (>= ~3.5e9) can't wrap a
    * signed long into an always-sampled negative remainder, and
    * mix_key stays injective per residue class.
    */
  val q65_data_mix: Q = (spark, dir) => {
    import spark.implicits._
    val pct = when($"source".isin("src0", "src1", "src2", "src3", "src4"), 40)
      .when($"source".startsWith("src1"), 10)
      .otherwise(20)
    Tables.load(spark, dir, "documents")
      .where((($"doc_id" % 1000000007L) * 2654435761L) % 100 < pct)
      .select($"doc_id", $"source",
        ((($"doc_id" % 1000000007L) * 48271L) % 1000000007L).as("mix_key"))
      .orderBy($"mix_key")
  }

  /** Train/eval decontamination by word 5-gram overlap (the method
    * used for LLM benchmark decontamination): a training doc is
    * contaminated if it shares ANY word 5-gram with the held-out set
    * (doc_id % 17 == 0 stands in for the benchmark). Exact-hash
    * matching misses near-duplicates; n-gram overlap catches them.
    * Scale shape: held-out grams are the SMALL side (benchmarks are
    * tiny vs the corpus) and broadcast, so the train-side gram stream
    * is map-only; the only shuffle is the distinct over contaminated
    * doc ids.
    */
  /** Benchmark-overlap (contamination) REPORT: q66 decides which docs
    * to DROP; this measures HOW contaminated each training doc is —
    * the fraction of its word-5-grams that appear anywhere in the
    * held-out split (`doc_id % 17 == 0`, the q109 funnel's holdout).
    * The per-doc overlap fraction is the GPT-3-appendix-C-style
    * dirtiness metric teams inspect BEFORE committing to a drop
    * threshold. Counts are integer-exact; the ratio is one raw double
    * division (determinism rules).
    *
    * Scale shape: identical to q66 — the corpus gram stream never
    * shuffles (broadcast held-out set, left join), one aggregate by
    * doc_id; docs under 5 words have no grams and are absent, same as
    * the oracle.
    */
  /** The decontamination family's word-5-gram stream — (doc_id, gram)
    * rows; docs under 5 words have no grams and are absent. ONE
    * derivation site shared by q66/q115 and the streaming ingest gate
    * ([[graft.streaming.DecontamStream]]), so the stream probes the
    * exact grams its batch twins count.
    */
  private[graft] def fiveGrams(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", split(trim($"text"), "\\s+").as("w"))
      .where(size($"w") >= 5)
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"w") - 4),
          i => concat_ws(" ", slice($"w", i, lit(5))))).as("gram"))
  }

  val q115_contamination_fraction: Q = (spark, dir) => {
    import spark.implicits._
    val grams = fiveGrams(Tables.load(spark, dir, "documents"))
    val testGrams = grams.where($"doc_id" % 17 === 0).select($"gram").distinct()
    grams.where($"doc_id" % 17 =!= 0)
      .join(broadcast(testGrams.withColumn("hit", lit(1))), Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), count($"hit").as("n_hit"))
      .withColumn("contamination", $"n_hit".cast("double") / $"n_grams")
      .orderBy($"doc_id")
  }

  val q66_decontaminate: Q = (spark, dir) => {
    import spark.implicits._
    val raw = Tables.load(spark, dir, "documents")
    val docs = raw.select($"doc_id", $"source", split(trim($"text"), "\\s+").as("w"))
    val grams = fiveGrams(raw)
    val testGrams = grams.where($"doc_id" % 17 === 0).select($"gram").distinct()
    val contaminated = grams.where($"doc_id" % 17 =!= 0)
      .join(broadcast(testGrams), Seq("gram"), "left_semi")
      .select($"doc_id").distinct()
    docs.where($"doc_id" % 17 =!= 0)
      .join(broadcast(contaminated.withColumn("hit", lit(1))), Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_train"), count($"hit").as("n_contaminated"))
      .orderBy($"source")
  }

  /** Repetition scoring (the Gopher-family quality rules): per doc, the
    * top single-word share and the duplicate word-3-gram share, plus an
    * integer repetitive flag (top word >= 20% of words, or >= 50% of
    * grams duplicated). Two-level aggregation — (doc, word) then doc —
    * keeps both phases map-side combinable; all outputs integral so the
    * oracle compare is exact.
    */
  val q71_repetition: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", split(trim($"text"), "\\s+").as("w"))
    val top = docs
      .select($"doc_id", size($"w").as("n_words"), explode($"w").as("word"))
      .groupBy($"doc_id", $"n_words", $"word").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n_words").agg(max($"c").as("top_word_n"))
    val dup = docs.where(size($"w") >= 3)
      .select($"doc_id", explode(transform(sequence(lit(1), size($"w") - 2),
        i => concat_ws(" ", slice($"w", i, lit(3))))).as("gram"))
      .groupBy($"doc_id").agg(count(lit(1)).as("total_grams"),
        countDistinct($"gram").as("distinct_grams"))
    top.join(dup, Seq("doc_id"), "left")
      .select($"doc_id", $"n_words", $"top_word_n",
        coalesce($"total_grams", lit(0L)).as("total_grams"),
        (coalesce($"total_grams", lit(0L)) - coalesce($"distinct_grams", lit(0L)))
          .as("dup_grams"))
      .withColumn("is_repetitive",
        ($"top_word_n" * 5 >= $"n_words" ||
          ($"total_grams" > 0 && $"dup_grams" * 2 >= $"total_grams")).cast("int"))
      .orderBy($"doc_id")
  }

  /** Unigram-LM quality scoring (the CCNet-style language-model
    * filter family): score each document by how common its words are
    * in the corpus itself. Per word, the "commonness bits" are
    * floor(log2(corpus count)) — computed EXACTLY in integer space as
    * `length(bin(n)) - 1`, so the cross-engine compare never touches
    * a float log. Per doc: word count, total and minimum bits (a doc
    * full of rare words scores low — the wrong-language/gibberish
    * signal the reference family thresholds on).
    *
    * Scale shape: the vocabulary aggregate is map-side combinable and
    * its result is the BROADCAST side of the scoring join (at 100 TB:
    * broadcast the top-K vocabulary and default out-of-vocab words to
    * 0 bits — rare-word handling is then a coalesce, not a shuffle),
    * so the corpus-side word stream joins map-only; the only wide
    * operations are the two aggregates, both partial-combined.
    */
  val q75_unigram_quality: Q = (spark, dir) => {
    import spark.implicits._
    val words = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("word"))
      .where(length($"word") > 0)
    val vocabBits = words.groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .select($"word", (length(bin($"n")) - 1).cast("long").as("b"))
    words.join(broadcast(vocabBits), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"b").as("sum_common_bits"),
        min($"b").as("min_common_bits"))
      .orderBy($"doc_id")
  }

  /** Exact heavy hitters at 100 TB scale: the two-pass sketch-then-
    * verify pattern. Pass 1 runs the Misra-Gries summary (constant
    * memory, mergeable map-side — [[graft.functions.HeavyHittersAgg]])
    * to produce a <= capacity candidate superset that PROVABLY
    * contains every token above the support threshold (no false
    * negatives above the accumulated error). Pass 2 exact-counts only
    * those candidates via a broadcast semi join and applies the true
    * threshold (count * capacity > corpus size, integer-exact). The
    * output is therefore EXACT and deterministic — the sketch's
    * merge-order wobble is confined to the candidate set, which the
    * second pass corrects — so a plain GROUP BY/HAVING oracle
    * hash-matches, while the full vocabulary is never materialized
    * (q54 builds it; this query must not).
    */
  val q76_heavy_hitters: Q = (spark, dir) => {
    import spark.implicits._
    val words = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("token"))
      .where(length($"token") > 0)
    val sketch = words
      .agg(graft.functions.HeavyHittersAgg.heavy_hitters($"token", 64).as("s"))
      .select($"s.total".as("total"), explode($"s.items").as("h"))
      .select($"total", $"h.item".as("token"))
    words.join(broadcast(sketch.select($"token")), Seq("token"), "left_semi")
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sketch.select($"total").limit(1)))
      .where($"n" * 64 > $"total")
      .select($"token", $"n")
      .orderBy($"n".desc, $"token")
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1.1;
    * the reference's validation layer checks per-field rules the same
    * way, `validate_dataframes.py`): each document gets one boolean
    * column PER RULE plus the final keep decision, so a curation run
    * can report per-rule rejection rates, not just a survivor list.
    * Differs from q25 (composite 0-4 score) by emitting the full rule
    * vector — the shape every production filter cascade logs.
    *
    * Rules (all integer cross-multiplied — no float ratios to drift
    * cross-engine): word count in [20,90]; mean word length in [4,10]
    * (4·n <= chars <= 10·n); >=80% alphabetic words (10·alpha >= 8·n);
    * >=2 stopword hits; no word above 20% dominance (5·max_freq <= n).
    *
    * Scale shape: one map-only scan — every rule is a higher-order
    * function over the per-row token array (no explode, no shuffle,
    * no UDF). The dominance rule is O(distinct·n) per row on a
    * bounded-length document, still whole-stage-codegen. At 100 TB
    * this is scan-bound and embarrassingly parallel.
    */
  val q141_gopher_rules: Q = (spark, dir) =>
    gopherRules(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** The q141 rule table over an arbitrary (doc_id, text) frame —
    * shared with the composed q178 curate() pipeline, which applies
    * `keep = 1` as its final stage.
    */
  private[graft] def gopherRules(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id",
        split(trim($"text"), "\\s+").as("words"),
        length(regexp_replace($"text", "\\s", "")).as("wchars"),
        size(regexp_extract_all($"text",
          lit("\\b(the|a|of|and|or|in)\\b"), lit(0))).as("stops"))
      .select($"doc_id",
        size($"words").cast("long").as("n_words"), $"wchars", $"stops",
        expr("size(filter(words, x -> x RLIKE '[a-z]'))").as("alpha_words"),
        expr("array_max(transform(array_distinct(words)," +
          " w -> size(filter(words, x -> x = w))))").as("max_freq"))
      .select($"doc_id", $"n_words",
        when($"n_words".between(20, 90), 1).otherwise(0).as("r_wordcount"),
        when(lit(4) * $"n_words" <= $"wchars" &&
          $"wchars" <= lit(10) * $"n_words", 1).otherwise(0).as("r_meanlen"),
        when(lit(10) * $"alpha_words" >= lit(8) * $"n_words", 1)
          .otherwise(0).as("r_alpha"),
        when($"stops" >= 2, 1).otherwise(0).as("r_stopword"),
        when(lit(5) * $"max_freq" <= $"n_words", 1)
          .otherwise(0).as("r_dominance"))
      .withColumn("keep",
        $"r_wordcount" * $"r_meanlen" * $"r_alpha" *
          $"r_stopword" * $"r_dominance")
  }

  /** Content-defined chunking dedup stats (Rabin-style CDC — the
    * storage-dedup device of LBFS/Venti applied to corpus curation):
    * split every document at rolling-hash boundaries (`cdc_chunks`
    * kernel, O(n) single pass, window 8 / divisor 16 ≈ 16-char
    * expected chunks) and measure per-source chunk-level redundancy.
    * Because boundaries depend only on local window content, a
    * passage duplicated at a DIFFERENT offset in another document
    * yields identical interior chunks — chunk-hash dedup therefore
    * catches moved/embedded duplication that whole-document hashing
    * (q28) misses and pairwise similarity (q31/q139) only finds
    * quadratically. Chunking the 100 TB corpus is one map-only scan;
    * the stats are a (source, chunk) two-level aggregate with
    * map-side combine.
    */
  val q147_cdc_chunks: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"source",
        explode(graft.functions.GraftFunctions.cdc_chunks($"text", 8, 16))
          .as("chunk"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct($"chunk").as("n_distinct"),
        (count(lit(1)) - countDistinct($"chunk")).as("dup_chunks"),
        expr("CAST((1000 * (COUNT(1) - COUNT(DISTINCT chunk))) DIV COUNT(1) AS BIGINT)")
          .as("dup_x1000"),
        expr("CAST(SUM(LENGTH(chunk)) DIV COUNT(1) AS BIGINT)").as("avg_len"))
      .orderBy($"source")
  }

  private val cdcOracle: String = {
    val w31 = (0 to 7).map(j => math.pow(31, 7 - j).toLong)
      .mkString("[", ", ", "]")
    s"""WITH b AS (
       |  SELECT doc_id, source, text, length(text) AS n,
       |    [i for i in range(8, length(text))
       |       if (list_sum([ascii(substr(text, i - 7 + j, 1)) * ($w31)[j + 1]
       |                     for j in range(0, 8)]) % 1000003) % 16 = 0] AS bs
       |  FROM documents),
       |cuts AS (
       |  SELECT doc_id, source, text,
       |    list_prepend(0, list_append(bs, n)) AS cs
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, source,
       |    unnest([substr(text, cs[k] + 1, cs[k + 1] - cs[k])
       |            for k in range(1, len(cs))]) AS chunk
       |  FROM cuts)
       |SELECT source, COUNT(*) AS n_chunks,
       |  COUNT(DISTINCT chunk) AS n_distinct,
       |  COUNT(*) - COUNT(DISTINCT chunk) AS dup_chunks,
       |  CAST((1000 * (COUNT(*) - COUNT(DISTINCT chunk))) // COUNT(*) AS BIGINT) AS dup_x1000,
       |  CAST(SUM(length(chunk)) // COUNT(*) AS BIGINT) AS avg_len
       |FROM chunks GROUP BY source ORDER BY source""".stripMargin
  }

  /** q155's oracle: the k merge steps UNROLLED as chained CTEs —
    * `b{s}` picks step s's argmax pair, `v{s}` applies the merge.
    * Two DuckDB-side devices make this exact:
    *  - every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and a
    *    k-deep chain of inlined self-references re-evaluates the
    *    whole prefix per step — exponential work. Materialization
    *    makes each step run once (the iterative-query cost model
    *    Spark gets from per-step localCheckpoint).
    *  - the greedy left-to-right merge is a string `replace` over a
    *    `|s1||s2||s3|`-encoded symbol string: each symbol is wrapped
    *    in its OWN pair of '|'s, so a replace of `|l||r|` with
    *    `|lr|` (a) can never match across a symbol boundary ('|'
    *    never occurs inside a symbol — words are whitespace-split)
    *    and (b) consumes no characters shared with the next
    *    occurrence, so leftmost-nonoverlap replace is exactly the
    *    greedy fold Spark runs (adjacent `l r l r` merges twice,
    *    `x x x` merges once — both verified in TextSpec's driver
    *    replay and by the hash gate).
    */
  /** q167: corpus-shift monitor — exact total-variation distance
    * between two corpus vintages' unigram distributions, per language.
    * The text-side twin of q159's embedding drift: a training pipeline
    * re-ingests a source and wants to know how far the word
    * distribution moved before mixing the new vintage in. The halves
    * here are the deterministic even/odd doc_id split (standing in for
    * old/new snapshots of the same feed).
    *
    * TV = ½ Σ_w |a_w/A − b_w/B| is computed WITHOUT floating point:
    * the numerator Σ|a_w·B − b_w·A| is exact integer cross-
    * multiplication (the q135/q139 stance — no log, no double sums),
    * and the single division happens once at the end, scaled ×10⁶.
    * |a_w·B − b_w·A| ≤ a_w·B + b_w·A sums to ≤ 2AB, so the DECIMAL(38)
    * cast gives overflow headroom far past 100 TB word counts.
    *
    * Plan: ONE aggregate builds both halves' per-(lang, word) counts
    * (conditional sums — no self-join of the halves), one vocab-sized
    * re-aggregate per lang, and a broadcast of the 5-row totals. The
    * corpus is read once and never shuffled wider than the vocabulary.
    */
  val q167_corpus_shift: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    // checkpointed: `cnt` feeds both the totals and the final
    // aggregate — without it the corpus word explode re-executes once
    // per consumer (2 scans of the 100 TB side for a vocab-sized
    // table). Plan pinned scan-free downstream in PlanInvariantsSpec.
    val cnt = sc.ckpt(Tables.load(spark, dir, "documents")
      .select($"lang", ($"doc_id" % 2 === 0).as("old_half"),
        explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .where(length($"word") > 0)
      .groupBy($"lang", $"word")
      .agg(sum(when($"old_half", 1L).otherwise(0L)).as("a"),
        sum(when($"old_half", 0L).otherwise(1L)).as("b")))
    val tot = cnt.groupBy($"lang")
      .agg(sum($"a").as("ta"), sum($"b").as("tb"))
    cnt.join(broadcast(tot), "lang")
      .groupBy($"lang")
      .agg(count(lit(1)).as("vocab_union"),
        sum(when($"a" > 0 && $"b" > 0, 1L).otherwise(0L)).as("vocab_common"),
        expr("""CAST(sum(abs(CAST(a AS DECIMAL(38,0)) * tb -
               |         CAST(b AS DECIMAL(38,0)) * ta)) * 1000000
               |  DIV (2 * CAST(first(ta) AS DECIMAL(38,0)) * first(tb))
               |  AS BIGINT)""".stripMargin).as("tv_x1e6"))
      .orderBy($"lang")
  }

  /** q190: vocabulary-coverage projection per source — Good–Turing
    * unseen mass (Good, Biometrika 1953: the probability the NEXT
    * token is a new type ≈ N₁/N, singletons over tokens) and the
    * bias-corrected Chao1 richness estimate (Chao 1984/Chiu 2014:
    * V + N₁(N₁−1)/(2(N₂+1)), defined even when doubletons are zero)
    * over word BIGRAM types. The curation readout behind "have we
    * seen this source's vocabulary yet": a high unseen mass says more
    * crawling will keep finding new n-grams (matters for dedup index
    * sizing and tokenizer training); Chao1 projects the total type
    * count the source would converge to.
    *
    * Exactness: pure integer arithmetic — counts, conditional counts,
    * one scaled DIV each for the unseen mass and the Chao1 correction
    * (DECIMAL(38) on the Spark side, HUGEINT under DuckDB — N₁² needs
    * headroom past BIGINT once a source holds ≳3·10⁹ singleton
    * types).
    *
    * Scale shape: ONE (source, bigram) count shuffle (map-side
    * combined), then a vocabulary-sized re-aggregate per source —
    * the corpus is scanned once and never shuffled wider than the
    * bigram vocabulary (the q129/q181 stance).
    */
  val q190_vocab_coverage: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"source",
        expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")
          .as("ws"))
      .where(size($"ws") >= 2)
      .select($"source", explode(expr("transform(sequence(1, size(ws) - 1)," +
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("g"))
      .groupBy($"source", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"c" === 2, 1L).otherwise(0L)).as("n2"))
      .select($"source", $"n_tokens", $"vocab", $"n1", $"n2",
        expr("CAST(CAST(n1 AS DECIMAL(38,0)) * 1000000 DIV n_tokens" +
          " AS BIGINT)").as("unseen_x1e6"),
        expr("CAST(vocab + CAST(n1 AS DECIMAL(38,0)) * (n1 - 1)" +
          " DIV (2 * (n2 + 1)) AS BIGINT)").as("chao1"))
      .orderBy($"source")
  }

  /** q177: distinctive terms per source — for each source, the top-5
    * words most OVERrepresented vs the rest of the corpus ("what
    * characterizes this domain"), the curation readout behind
    * domain-mix decisions (q83 scores terms per DOCUMENT; this ranks
    * them per SOURCE against everything else). The lift statistic is
    * the cross-multiplied `a·B − b·A` (a = in-source count, b =
    * rest-of-corpus count, A/B the respective totals) — positive iff
    * the word's in-source rate exceeds its rest rate, exact in BIGINT
    * (DECIMAL(38) headroom at 100 TB), no division anywhere.
    *
    * One corpus scan (the (source, word) count table localCheckpoints
    * and feeds totals + scoring — the q167 stance), then everything
    * downstream is vocabulary-sized: global per-word counts re-
    * aggregate from the count table, totals broadcast, and the top-5
    * window runs per source over scored vocab rows (WindowGroupLimit
    * prunes map-side).
    */
  val q177_source_terms: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cnt = sc.ckpt(Tables.load(spark, dir, "documents")
      .select($"source", explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .where(length($"word") > 0)
      .groupBy($"source", $"word").agg(count(lit(1)).as("a")))
    val wordTot = cnt.groupBy($"word").agg(sum($"a").as("wt"))
    val srcTot = cnt.groupBy($"source").agg(sum($"a").as("at"))
    val all = cnt.agg(sum($"a").as("tt"))
    val scored = cnt
      .join(wordTot, "word")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(all))
      .select($"source", $"word", $"a",
        // count × count cross-multiply rides DECIMAL(38,0) (HUGEINT in
        // the oracle) — a·(tt−at) wraps plain BIGINT once corpus token
        // totals pass ~3e9, far below 100 TB. The published column is
        // BIGINT (lift < a·tt; a re-port to a trillion-token corpus
        // would publish the DECIMAL instead — the headroom lives in
        // the arithmetic, only the output cast assumes today's range)
        expr("""CAST(CAST(a AS DECIMAL(38,0)) * (tt - at)
               |  - (CAST(wt AS DECIMAL(38,0)) - a) * at AS BIGINT)""".stripMargin)
          .as("lift"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"lift".desc, $"word")))
      .where($"rn" <= 5)
      .select($"source", $"rn", $"word", $"a", $"lift")
      .orderBy($"source", $"rn")
  }

  /** The shared CTE chain: `words` (vocabulary), `v0` (symbol split),
    * then per step `b{s}` (argmax pair) and `v{s}` (merge applied).
    * `word` rides through every `v{s}` so q165's encode tail can join
    * token counts back onto the corpus; q155's merge-table tail reads
    * only the `b{s}` CTEs and is unaffected by the extra column.
    */
  private def bpeCtes(k: Int): String = {
    val head = Seq(
      """words AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents) WHERE length(word) > 0 GROUP BY word)""".stripMargin,
      """v0 AS MATERIALIZED (
        |  SELECT word, list_transform(range(1, length(word) + 1),
        |           i -> substring(word, i, 1)) AS syms, freq
        |  FROM words)""".stripMargin)
    val steps = (1 to k).flatMap { s =>
      val best =
        s"""b$s AS MATERIALIZED (
           |  SELECT l, r, cnt FROM (
           |    SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt
           |    FROM v${s - 1}, UNNEST(range(1, len(syms))) AS t(i)
           |    GROUP BY 1, 2)
           |  ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
      val merged =
        s"""v$s AS MATERIALIZED (
           |  SELECT word, string_split_regex(
           |    trim(
           |      replace('|' || array_to_string(syms, '||') || '|',
           |              (SELECT '|' || l || '||' || r || '|' FROM b$s),
           |              (SELECT '|' || l || r || '|' FROM b$s)),
           |      '|'),
           |    '\\|\\|') AS syms, freq
           |  FROM v${s - 1})""".stripMargin
      Seq(best, merged)
    }
    "WITH " + (head ++ steps).mkString(",\n")
  }

  private val bpeOracle: String = {
    val k = 8
    val sel = (1 to k).map(s =>
      s"""SELECT $s AS step, l AS "left", r AS "right", CAST(cnt AS BIGINT) AS pair_count FROM b$s""")
      .mkString("\nUNION ALL\n")
    bpeCtes(k) + "\n" + sel + "\nORDER BY step"
  }

  /** q165's oracle: the merge chain through v8, then encode = join the
    * corpus word stream against the final per-word symbol counts.
    */
  private val bpeEncodeOracle: String = {
    val k = 8
    bpeCtes(k) +
      s""",
         |enc AS (SELECT word, len(syms) AS n_toks FROM v$k),
         |tok AS (
         |  SELECT source, word FROM (
         |    SELECT source,
         |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |    FROM documents) WHERE length(word) > 0)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(length(word)) * 1000 // SUM(n_toks) AS BIGINT)
         |    AS chars_per_tok_x1000
         |FROM tok JOIN enc USING (word)
         |GROUP BY source ORDER BY source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q27_fingerprint" -> HashOracleSql.q27Oracle,
    "q155_bpe_merges" -> bpeOracle,
    "q165_bpe_encode" -> bpeEncodeOracle,
    "q177_source_terms" ->
      """WITH w AS (
        |  SELECT source, word FROM (
        |    SELECT source,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents) WHERE length(word) > 0),
        |cnt AS (SELECT source, word, COUNT(*) AS a FROM w GROUP BY 1, 2),
        |wt AS (SELECT word, SUM(a) AS wt FROM cnt GROUP BY 1),
        |st AS (SELECT source, SUM(a) AS at FROM cnt GROUP BY 1),
        |tt AS (SELECT SUM(a) AS tt FROM cnt),
        |scored AS (
        |  SELECT c.source, c.word, CAST(c.a AS BIGINT) AS a,
        |    CAST(CAST(c.a AS HUGEINT) * (tt.tt - st.at)
        |      - (CAST(wt.wt AS HUGEINT) - c.a) * st.at AS BIGINT) AS lift
        |  FROM cnt c JOIN wt USING (word) JOIN st USING (source), tt),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY lift DESC, word) AS rn
        |  FROM scored)
        |SELECT source, CAST(rn AS INT) AS rn, word, a, lift
        |FROM ranked WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin,
    "q190_vocab_coverage" ->
      """WITH w AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0) AS ws
        |  FROM documents),
        |bi AS (SELECT source, ws[i] || ' ' || ws[i + 1] AS g
        |       FROM w, UNNEST(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2),
        |c AS (SELECT source, g, COUNT(*) AS c FROM bi GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |    * 1000000 // SUM(c) AS BIGINT) AS unseen_x1e6,
        |  CAST(COUNT(*) + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT)
        |    * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
        |    // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)) AS BIGINT)
        |    AS chao1
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q167_corpus_shift" ->
      """WITH w AS (
        |  SELECT lang, (doc_id % 2 = 0) AS old_half, word FROM (
        |    SELECT lang, doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents) WHERE length(word) > 0),
        |cnt AS (
        |  SELECT lang, word,
        |    SUM(CASE WHEN old_half THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN old_half THEN 0 ELSE 1 END) AS b
        |  FROM w GROUP BY lang, word),
        |tot AS (SELECT lang, SUM(a) AS ta, SUM(b) AS tb FROM cnt GROUP BY lang)
        |SELECT c.lang,
        |  CAST(COUNT(*) AS BIGINT) AS vocab_union,
        |  CAST(SUM(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_common,
        |  -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL operands
        |  -- rounds the intermediate decimal division before flooring
        |  -- (101470.99.. -> 101471), while HUGEINT // is exact
        |  CAST(SUM(abs(CAST(a AS HUGEINT) * tb -
        |               CAST(b AS HUGEINT) * ta)) * 1000000
        |    // (2 * CAST(ANY_VALUE(ta) AS HUGEINT) * ANY_VALUE(tb))
        |    AS BIGINT) AS tv_x1e6
        |FROM cnt c JOIN tot USING (lang)
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin,
    "q160_source_overlap" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents)
        |  WHERE LENGTH(w) > 0),
        |sizes AS (SELECT source, COUNT(*) AS n FROM sv GROUP BY 1),
        |ix AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS inter
        |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.sa, i.sb, i.inter, x.n AS na, y.n AS nb,
        |  i.inter / (x.n + y.n - i.inter) AS jaccard
        |FROM ix i JOIN sizes x ON i.sa = x.source
        |          JOIN sizes y ON i.sb = y.source
        |ORDER BY sa, sb""".stripMargin,
    "q147_cdc_chunks" -> cdcOracle,
    "q141_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS words,
        |    length(regexp_replace(text, '\s', '', 'g')) AS wchars,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|or|in)\b')) AS stops
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, len(words) AS n_words, wchars, stops,
        |    len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
        |    list_max([len(list_filter(words, x -> x = w))
        |              for w in list_distinct(words)]) AS max_freq
        |  FROM w)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(CASE WHEN n_words BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS INTEGER) AS r_wordcount,
        |  CAST(CASE WHEN 4 * n_words <= wchars AND wchars <= 10 * n_words THEN 1 ELSE 0 END AS INTEGER) AS r_meanlen,
        |  CAST(CASE WHEN 10 * alpha_words >= 8 * n_words THEN 1 ELSE 0 END AS INTEGER) AS r_alpha,
        |  CAST(CASE WHEN stops >= 2 THEN 1 ELSE 0 END AS INTEGER) AS r_stopword,
        |  CAST(CASE WHEN 5 * max_freq <= n_words THEN 1 ELSE 0 END AS INTEGER) AS r_dominance,
        |  CAST(CASE WHEN n_words BETWEEN 20 AND 90 THEN 1 ELSE 0 END
        |     * CASE WHEN 4 * n_words <= wchars AND wchars <= 10 * n_words THEN 1 ELSE 0 END
        |     * CASE WHEN 10 * alpha_words >= 8 * n_words THEN 1 ELSE 0 END
        |     * CASE WHEN stops >= 2 THEN 1 ELSE 0 END
        |     * CASE WHEN 5 * max_freq <= n_words THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q76_heavy_hitters" ->
      """WITH w AS (
        |  SELECT token
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |        FROM documents)
        |  WHERE LENGTH(token) > 0)
        |SELECT token, COUNT(*) AS n FROM w GROUP BY token
        |HAVING COUNT(*) * 64 > (SELECT COUNT(*) FROM w)
        |ORDER BY n DESC, token""".stripMargin,
    "q75_unigram_quality" ->
      """WITH words AS (
        |  SELECT doc_id, word
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM documents)
        |  WHERE LENGTH(word) > 0),
        |v AS (
        |  SELECT word, LENGTH(bin(COUNT(*))) - 1 AS b
        |  FROM words GROUP BY word)
        |SELECT w.doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(v.b) AS BIGINT) AS sum_common_bits,
        |  CAST(MIN(v.b) AS BIGINT) AS min_common_bits
        |FROM words w JOIN v ON w.word = v.word
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    "q71_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |words AS (
        |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words, unnest(w) AS word FROM w),
        |top AS (
        |  SELECT doc_id, n_words, MAX(c) AS top_word_n FROM (
        |    SELECT doc_id, n_words, word, COUNT(*) AS c FROM words GROUP BY 1, 2, 3) t
        |  GROUP BY 1, 2),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(w[x:x+2], ' ') for x in range(1, len(w)-1)]) AS gram
        |  FROM w WHERE len(w) >= 3),
        |dup AS (
        |  SELECT doc_id, COUNT(*) AS total_grams, COUNT(DISTINCT gram) AS distinct_grams
        |  FROM grams GROUP BY 1)
        |SELECT t.doc_id, t.n_words, t.top_word_n,
        |  COALESCE(d.total_grams, 0) AS total_grams,
        |  COALESCE(d.total_grams, 0) - COALESCE(d.distinct_grams, 0) AS dup_grams,
        |  CAST(CASE WHEN t.top_word_n * 5 >= t.n_words
        |         OR (COALESCE(d.total_grams, 0) > 0
        |             AND (COALESCE(d.total_grams, 0) - COALESCE(d.distinct_grams, 0)) * 2 >= d.total_grams)
        |       THEN 1 ELSE 0 END AS INTEGER) AS is_repetitive
        |FROM top t LEFT JOIN dup d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q64_chunking" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(generate_series(1, greatest(length(text), 1), 120)) AS start, text
        |  FROM documents)
        |SELECT doc_id, start,
        |  CAST(length(substr(text, CAST(start AS INTEGER), 160)) AS INTEGER) AS chunk_chars,
        |  md5(substr(text, CAST(start AS INTEGER), 160)) AS chunk_md5
        |FROM c ORDER BY doc_id, start""".stripMargin,
    "q65_data_mix" ->
      """SELECT doc_id, source, ((doc_id % 1000000007) * 48271) % 1000000007 AS mix_key
        |FROM documents
        |WHERE ((doc_id % 1000000007) * 2654435761) % 100 <
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 40
        |       WHEN source LIKE 'src1%' THEN 10 ELSE 20 END
        |ORDER BY mix_key""".stripMargin,
    "q115_contamination_fraction" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(w[x:x+4], ' ') for x in range(1, len(w)-3)]) AS gram
        |  FROM words WHERE len(w) >= 5),
        |test AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(t.gram) AS n_hit,
        |  CAST(COUNT(t.gram) AS DOUBLE) / COUNT(*) AS contamination
        |FROM grams g LEFT JOIN test t ON g.gram = t.gram
        |WHERE g.doc_id % 17 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q66_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(w[x:x+4], ' ') for x in range(1, len(w)-3)]) AS gram
        |  FROM words WHERE len(w) >= 5),
        |test AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0),
        |cont AS (
        |  SELECT DISTINCT g.doc_id FROM grams g JOIN test t ON g.gram = t.gram
        |  WHERE g.doc_id % 17 <> 0)
        |SELECT w.source, COUNT(*) AS n_train, COUNT(c.doc_id) AS n_contaminated
        |FROM words w LEFT JOIN cont c ON w.doc_id = c.doc_id
        |WHERE w.doc_id % 17 <> 0
        |GROUP BY w.source ORDER BY w.source""".stripMargin,
    "q55_ngram_freq" ->
      """SELECT ngram, COUNT(*) AS n FROM (
        |  SELECT unnest([substr(text, x, 3) for x in range(1, length(text) - 1)]) AS ngram
        |  FROM documents) t
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,
    "q129_vocab_build" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |    AS token
        |  FROM documents),
        |v AS (
        |  SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
        |  FROM words WHERE LENGTH(token) > 0
        |  GROUP BY token HAVING COUNT(*) >= 5)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) + 3 AS INTEGER)
        |    AS token_id,
        |  token, n, df
        |FROM v ORDER BY token_id""".stripMargin,
    "q181_zipf_fit" ->
      // identical quantize-then-sum device: 6-dp DECIMAL log
      // coordinates, exact decimal moment sums, one cast to double,
      // identical downstream double expression, round 6
      """WITH words AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |    AS token
        |  FROM documents),
        |v AS (
        |  SELECT token, COUNT(*) AS n FROM words WHERE LENGTH(token) > 0
        |  GROUP BY token HAVING COUNT(*) >= 5),
        |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
        |      FROM v),
        |p AS (
        |  SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,6)) AS x,
        |         CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS y
        |  FROM r),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS nw,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(x*y) AS DOUBLE) AS sxy,
        |    CAST(SUM(y*y) AS DOUBLE) AS syy
        |  FROM p)
        |SELECT CAST(nw AS BIGINT) AS n_words,
        |  ROUND((nw*sxy - sx*sy) / (nw*sxx - sx*sx), 6) AS slope,
        |  ROUND((sy - ((nw*sxy - sx*sy) / (nw*sxx - sx*sx)) * sx) / nw, 6)
        |    AS intercept,
        |  ROUND((nw*sxy - sx*sy) * (nw*sxy - sx*sy) /
        |    ((nw*sxx - sx*sx) * (nw*syy - sy*sy)), 6) AS r2
        |FROM m""".stripMargin,
    "q130_cooccurrence" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE LENGTH(trim(text)) > 0),
        |idx AS (SELECT w, unnest(generate_series(1, len(w))) AS i FROM t),
        |p AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2 FROM idx WHERE i + 1 <= len(w)
        |  UNION ALL
        |  SELECT w[i] AS w1, w[i + 2] AS w2 FROM idx WHERE i + 2 <= len(w))
        |SELECT w1, w2, COUNT(*) AS n FROM p
        |GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin,
    "q54_word_freq" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents) t
        |WHERE LENGTH(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q24_token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, LENGTH(text) AS n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|or|in)\b')) AS n_stopwords,
        |    len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words, n_stopwords, n_punct,
        |  (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
        |   + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
        |   + CASE WHEN n_stopwords >= 2 THEN 1 ELSE 0 END
        |   + CASE WHEN n_punct * 10 <= n_words THEN 1 ELSE 0 END) AS quality_score
        |FROM t ORDER BY doc_id""".stripMargin,
    "q195_quality_tradeoff" ->
      """WITH t AS (
        |  SELECT LENGTH(text) AS n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|or|in)\b')) AS n_stopwords,
        |    len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct
        |  FROM documents),
        |s AS (
        |  SELECT n_words,
        |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
        |     + CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
        |     + CASE WHEN n_stopwords >= 2 THEN 1 ELSE 0 END
        |     + CASE WHEN n_punct * 10 <= n_words THEN 1 ELSE 0 END) AS q
        |  FROM t),
        |tot AS (SELECT COUNT(*) AS tot_docs, SUM(n_words) AS tot_words FROM s),
        |th AS (SELECT CAST(unnest(range(0, 5)) AS INT) AS threshold)
        |SELECT threshold,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(s.n_words) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) * 1000 // tot_docs AS BIGINT) AS docs_x1000,
        |  CAST(SUM(s.n_words) * 1000 // tot_words AS BIGINT) AS words_x1000
        |FROM th JOIN s ON s.q >= th.threshold, tot
        |GROUP BY threshold, tot_docs, tot_words
        |ORDER BY threshold""".stripMargin,
    "q26_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|is|to)\b')) AS c_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS c_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS c_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS c_es
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        |  CASE
        |    WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0 THEN 'en'
        |    WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0 THEN 'de'
        |    WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
        |    WHEN c_es > 0 THEN 'es'
        |    ELSE 'und' END AS pred_lang
        |FROM t ORDER BY doc_id""".stripMargin,
    "q135_bigram_coherence" ->
      // parallel unnest zips the two comprehension lists; // mirrors
      // Spark's DIV at every step, with HUGEINT sums cast back down
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                x -> length(x) > 0) AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, source,
        |    unnest([w[x] for x in range(1, len(w))]) AS w1,
        |    unnest([w[x + 1] for x in range(1, len(w))]) AS w2
        |  FROM w WHERE len(w) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
        |scored AS (
        |  SELECT doc_id, source, (c2.c2 * 1000000) // c1.c1 AS part
        |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
        |coh AS (
        |  SELECT doc_id, source, CAST(SUM(part) // COUNT(*) AS BIGINT) AS coh
        |  FROM scored GROUP BY doc_id, source)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(coh) // COUNT(*) AS BIGINT) AS avg_coherence
        |FROM coh GROUP BY source ORDER BY source""".stripMargin)

  /** q155: BPE merge-table training (Sennrich et al. 2016, the GPT-2
    * tokenizer recipe) — the first k=8 pair merges learned from the
    * corpus, each output row the pair chosen at that step with its
    * frequency-weighted count. The decisive scale property: after ONE
    * corpus pass builds the (word, freq) vocabulary, every merge
    * iteration runs over the VOCABULARY weighted by freq — bounded by
    * Heaps' law while the corpus grows without bound — which is why
    * tokenizer training is feasible at 100 TB at all.
    *
    * Per iteration: adjacent-pair emission is a map-only transform
    * over each word's symbol array; the pair count is one
    * map-side-combined aggregate (vocab²-bounded keys); the argmax
    * (count desc, then pair asc — deterministic ties) is a ONE-ROW
    * driver collect; the merge applies map-side as a greedy
    * left-to-right fold (`functions.aggregate`, all built-in
    * expressions), and the vocab is checkpointed per step by
    * [[graft.Fixpoint]] so the plan stays flat instead of nesting k
    * fold expressions. The SQL oracle
    * unrolls the k merge steps as MATERIALIZED chained CTEs (see
    * [[bpeCtes]]); the spec additionally replays a driver-side
    * reference BPE on the collected vocabulary and pins exact
    * equality.
    */
  val q155_bpe_merges: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    // the merge table is driver-side rows — the final vocabulary
    // checkpoint has no consumer here (q165 is the one that encodes)
    // and dies with the scope
    val (_, merges) = bpeTrain(sc, spark, dir, 8)
    merges.toDF("step", "left", "right", "pair_count")
      .orderBy($"step")
  }

  /** Shared BPE trainer for q155 (merge table) and q165 (corpus
    * encode): one corpus pass builds the (word, freq) vocabulary, then
    * k merge iterations run over the vocabulary only. Returns the
    * final vocabulary — each word type with its post-merge symbol
    * array, checkpointed in `sc` — and the merge table. The `word`
    * column rides along so q165 can join the encoded lengths back onto
    * the corpus.
    */
  private def bpeTrain(sc: Scope, spark: SparkSession, dir: String, k: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    import spark.implicits._
    val init = sc.ckpt(Tables.load(spark, dir, "documents")
      .select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .where(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select($"word", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"), $"freq"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    val vocab = Fixpoint.iterate(sc, Fixpoint.Round(init), k) { vocab =>
      val best = vocab
        // guard single-symbol words: sequence(1, 0) is DESCENDING
        // [1, 0] in Spark, not empty
        .select($"freq", explode(expr(
          """if(size(syms) < 2, array(),
            |  transform(sequence(1, size(syms) - 1),
            |    i -> struct(element_at(syms, i) AS l,
            |                element_at(syms, i + 1) AS r)))""".stripMargin))
          .as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r").limit(1).collect()(0)
      val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((merges.size + 1, l, r, cnt))
      // greedy left-to-right non-overlap: the merged token (l+r)
      // differs from l, so a fresh occurrence of the pair never
      // re-consumes the symbol just produced
      vocab.select(
        $"word",
        aggregate($"syms", array().cast("array<string>"),
          (acc, s) => when(size(acc) > 0 &&
              element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s)))).as("syms"),
        $"freq")
    }()((_, _) => false).state
    (vocab, merges.toSeq)
  }

  /** q165: apply the trained BPE merge table to ENCODE the corpus —
    * per-source token counts and the chars-per-token compression the
    * k=8 merges buy. The tokenizer-application half of q155: training
    * iterates over the vocabulary; encoding never touches the
    * iterative machinery at all. Every word TYPE is encoded once
    * (the merge fold already ran over the vocabulary during training),
    * and the corpus stream just joins its words against that
    * vocabulary-sized `(word → n_toks)` table — broadcast, since
    * Heaps' law keeps the vocabulary sublinear in corpus size — then
    * one map-side-combined aggregate per source. At 100 TB the corpus
    * pass is a single map + broadcast-join + aggregate: no shuffle of
    * the text at all.
    *
    * Oracle: the same 8 unrolled merge CTEs as q155 ([[bpeCtes]],
    * which carries `word` through every step for exactly this join),
    * then the encode tail. `chars_per_tok_x1000` is integer division
    * of exact BIGINT sums — engine-exact.
    */
  val q165_bpe_encode: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val (vocab, _) = bpeTrain(sc, spark, dir, 8)
    val enc = vocab.select($"word", size($"syms").cast("long").as("n_toks"))
    val out = Tables.load(spark, dir, "documents")
      .select($"source", explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .where(length($"word") > 0)
      .join(broadcast(enc), "word")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"word")).cast("long").as("n_chars"),
        sum($"n_toks").as("n_tokens"))
      .withColumn("chars_per_tok_x1000", expr("(n_chars * 1000) DIV n_tokens"))
      .orderBy($"source")
    // seal the per-source rows; the final vocabulary ckpt dies with
    // the scope
    sc.seal(out)
  }

  /** q160: cross-source vocabulary-overlap matrix — pairwise Jaccard
    * between every two sources' distinct word vocabularies, the
    * diagnostic behind data-mixing decisions (two "different" crawls
    * with 0.9 vocabulary overlap are one domain for mixing purposes)
    * and the source-level cousin of the doc-level dedup family.
    *
    * Scale shape: the corpus collapses to the distinct (source, word)
    * stream once; per word the SORTED source set is one
    * collect_set aggregate and the ordered source PAIRS are expanded
    * MAP-SIDE from that array (bounded by |sources|² per word) — no
    * word-keyed self-join, so a stopword present in every source
    * costs |sources|² rows, not (docs-containing-it)². Totals join
    * back by broadcast; the output is |sources|² rows.
    */
  val q160_source_overlap: Q = (spark, dir) => Scope { sc =>
    import spark.implicits._
    val sv = sc.persist(Tables.load(spark, dir, "documents")
      .select($"source", explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .where(length($"w") > 0)
      .distinct())
    val sizes = sv.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = sv.groupBy($"w").agg(sort_array(collect_set($"source")).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)), b ->
          |    struct(a AS sa, b AS sb))))""".stripMargin)).as("p"))
      .groupBy($"p.sa".as("sa"), $"p.sb".as("sb"))
      .agg(count(lit(1)).as("inter"))
    // |sources|² rows — sealed so the vocab cache can drop
    sc.seal(pairs
      .join(broadcast(sizes.toDF("sa", "na")), "sa")
      .join(broadcast(sizes.toDF("sb", "nb")), "sb")
      .select($"sa", $"sb", $"inter", $"na", $"nb",
        ($"inter" / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .orderBy($"sa", $"sb"))
  }

  val queries: Map[String, Q] = Map(
    "q160_source_overlap" -> q160_source_overlap,
    "q155_bpe_merges" -> q155_bpe_merges,
    "q165_bpe_encode" -> q165_bpe_encode,
    "q167_corpus_shift" -> q167_corpus_shift,
    "q190_vocab_coverage" -> q190_vocab_coverage,
    "q177_source_terms" -> q177_source_terms,
    "q24_token_count" -> q24_token_count,
    "q195_quality_tradeoff" -> q195_quality_tradeoff,
    "q25_quality_score" -> q25_quality_score,
    "q26_lang_id" -> q26_lang_id,
    "q27_fingerprint" -> q27_fingerprint,
    "q54_word_freq" -> q54_word_freq,
    "q55_ngram_freq" -> q55_ngram_freq,
    "q64_chunking" -> q64_chunking,
    "q65_data_mix" -> q65_data_mix,
    "q66_decontaminate" -> q66_decontaminate,
    "q115_contamination_fraction" -> q115_contamination_fraction,
    "q71_repetition" -> q71_repetition,
    "q75_unigram_quality" -> q75_unigram_quality,
    "q76_heavy_hitters" -> q76_heavy_hitters,
    "q129_vocab_build" -> q129_vocab_build,
    "q181_zipf_fit" -> q181_zipf_fit,
    "q130_cooccurrence" -> q130_cooccurrence,
    "q135_bigram_coherence" -> q135_bigram_coherence,
    "q141_gopher_rules" -> q141_gopher_rules,
    "q147_cdc_chunks" -> q147_cdc_chunks)
}
