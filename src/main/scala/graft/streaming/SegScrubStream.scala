package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming boilerplate-segment scrub: q191's cross-grid segment
  * dedup AS A STREAM — what the fingerprint family got with
  * [[WinnowStream]], for the segment-scrub family. Each micro-batch
  * of arriving documents is cut into the two 10-word grids ONCE
  * ([[graft.operators.Dedup.crossSegOcc]], the exact lambda batch
  * q191 runs — one derivation site, no drifting copy) and the
  * per-(segment, doc) occurrence rows join the accumulated store; the
  * per-source retention readout published to `outDir` is row-equal to
  * batch q191 over everything shipped, at EVERY batch prefix
  * (StreamingSpec pins this).
  *
  * Unlike WinnowStream's corpus-only df cap (q173's rule: a delta
  * must not retroactively reclassify corpus fingerprints), the
  * boilerplate rule here is df >= 3 over EVERYTHING SEEN SO FAR
  * including the current batch — a batch that delivers the 3rd copy
  * of a segment makes all three docs' segments boilerplate, exactly
  * as batch q191 would; that is what keeps the snapshot equal to the
  * batch query at every prefix of the stream.
  *
  * == Incremental readout (round-12 VERDICT "what's missing" #2) ==
  *
  * Round 12 REFOLDED the whole occurrence store per batch to refresh
  * the snapshot — O(store) rows through two shuffles per trigger.
  * The df >= 3 rule makes the readout incrementalizable because a
  * segment's boilerplate flag only ever flips ONCE (df grows
  * monotonically; the <3 → >=3 crossing is one-way), so per-doc
  * contributions are expressible as fold-once partials:
  *
  *  - `sdf` (seg, df): per-batch document-frequency partials — the
  *    batch's segs' PRIOR df comes from a pruned scan + fold, never a
  *    corpus-wide df fold;
  *  - `docstat` (doc_id, source, segs, dup_segs, f0, f1): additive /
  *    max-foldable per-doc partials. A batch appends (a) one INSERT
  *    row per new doc, its dup counts evaluated against the POST-batch
  *    df of its own segments, and (b) one FLIP row per (pre-batch doc,
  *    newly-crossed segment) — the docs holding a flipped segment come
  *    from a pruned scan of `occ` keyed on the (few) crossed segments.
  *    Insert-time counting + flip-time deltas never double-count: a
  *    segment either was already >= 3 when the doc arrived (counted at
  *    insert, never flips again) or crosses later (counted at its one
  *    flip).
  *
  * The snapshot then folds `docstat` — doc-grain rows, bucketed on
  * doc_id, so the fold plans with NO store-side Exchange — merges the
  * batch's delta by a doc-keyed outer join (delta-sized shuffle only),
  * and aggregates to the source grain (map-side partials; the final
  * shuffle moves #sources rows per partition). Per-batch probe work is
  * driven by the batch and its flips; the only O(store) pass left is
  * the docstat scan itself — doc-grain, not occurrence-grain, and
  * exchange-free.
  *
  * Store economics: occurrence rows are append-only facts (a doc's
  * segments never change), so the [[SegStore]] log appends ONLY the
  * batch's new-doc rows per trigger (bucketed sub-tables: `occ`/`sdf`
  * keyed on seg, `docs`/`docstat` keyed on doc_id), and folds into a
  * base segment every `compactEvery` batches. Re-delivered docs
  * (at-least-once sources) are absorbed by the doc-id probe, so a
  * replayed doc changes nothing; the readout and the deltas are one
  * segment under [[GateBatch.store]]'s protocol. The published
  * snapshot itself is pointer-switched atomically
  * ([[SegStore.writeSnapshot]]) — never an in-place overwrite.
  */
object SegScrubStream {

  /** `docs`: a streaming DataFrame of (doc_id: Long, source: String,
    * text: String). Store: a [[SegStore]] log at `storeDir`; the
    * q191-shaped readout is published atomically under `outDir`
    * (read it back with [[SegStore.readSnapshot]]).
    */
  def scrubStream(docs: DataFrame, storeDir: String, outDir: String,
      ckptDir: String, compactEvery: Int = 8, buckets: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch(GateBatch.store(docs.sparkSession, storeDir, ckptDir,
          compactEvery) { b =>
          import b.{ss, scope => ck}
          import ss.implicits._
          import GatePhase.phased
          phased("declare") {
            SegStore.ensureBucketed(ss, storeDir, "occ",
              "seg STRING, doc_id BIGINT, source STRING, occ0 BIGINT, occ1 BIGINT",
              Seq("seg"), buckets)
            SegStore.ensureBucketed(ss, storeDir, "sdf",
              "seg STRING, df BIGINT", Seq("seg"), buckets)
            SegStore.ensureBucketed(ss, storeDir, "docs",
              "doc_id BIGINT", Seq("doc_id"), buckets)
            SegStore.ensureBucketed(ss, storeDir, "docstat",
              "doc_id BIGINT, source STRING, segs BIGINT, dup_segs BIGINT, " +
                "f0 BIGINT, f1 BIGINT", Seq("doc_id"), buckets)
            SegStore.ensureBucketed(ss, storeDir, "srcstat",
              "source STRING, n_docs BIGINT, n_segs BIGINT, dup_segs BIGINT, " +
                "dup_docs_g0 BIGINT, dup_docs_any BIGINT, straddle_docs BIGINT",
              Seq("source"), buckets)
          }
          // replay absorption: seen doc ids from a pruned scan,
          // survivors anti-join the <= batch-sized hit set broadcast
          val bOcc = phased("segment") {
            ck.ckpt(graft.operators.Dedup
              .crossSegOcc(b.frame.dropDuplicates("doc_id")))
          }
          // PRIOR per-seg df, probed by the PRE-absorb segment set (a
          // superset of the post-absorb one whose extras the newDf
          // join drops) so the store scan runs CONCURRENT with the
          // absorb probe — same device as the winnow gate's probeOlds
          val fPrior = b.probe {
            phased("dfprior") {
              ck.ckpt(SegStore.prunedScan(ss, storeDir, "sdf", "seg",
                  bOcc.select($"seg").distinct())
                .groupBy($"seg").agg(sum($"df").as("df_prior")))
            }
          }
          val newOcc = phased("absorb") {
            val bDocs = bOcc.select($"doc_id").distinct()
            val seen = SegStore.prunedScan(ss, storeDir, "docs", "doc_id", bDocs)
            ck.ckpt(bOcc.join(broadcast(seen), Seq("doc_id"), "left_anti")
              .select($"seg", $"doc_id", $"source", $"occ0", $"occ1"))
          }
          val newDocs = newOcc.select($"doc_id").distinct()
          // per-seg df: delta partials + the PRIOR partials (folded
          // after the prune, awaited from the concurrent probe)
          val newDf = newOcc.groupBy($"seg").agg(count(lit(1)).as("df"))
          val post = phased("dfpost") {
            val prior = fPrior()
            try ck.ckpt(newDf.join(prior, Seq("seg"), "left_outer")
              .select($"seg", $"df".as("df_delta"),
                coalesce($"df_prior", lit(0L)).as("df_prior"))
              .withColumn("df_post", $"df_prior" + $"df_delta"))
              // batch-seg-sized; feeds inserts AND flips
            finally ck.release(prior)
          }
          // (a) INSERT rows: batch docs against the POST-batch df of
          // their own segments
          val inserts = newOcc
            .join(broadcast(post.select($"seg", $"df_post")), "seg")
            .groupBy($"doc_id", $"source")
            .agg(sum($"occ0" + $"occ1").as("segs"),
              sum(when($"df_post" >= 3, $"occ0" + $"occ1").otherwise(0L))
                .as("dup_segs"),
              max(when($"df_post" >= 3 && $"occ0" > 0, 1L).otherwise(0L)).as("f0"),
              max(when($"df_post" >= 3 && $"occ1" > 0, 1L).otherwise(0L)).as("f1"))
          // (b) FLIP rows: pre-batch docs holding a segment that
          // crossed <3 → >=3 this batch (the pruned occ scan reads the
          // committed store only, so batch docs are not re-counted)
          val flipped = post.where($"df_prior" < 3 && $"df_post" >= 3)
            .select($"seg")
          val flipRows = SegStore.prunedScan(ss, storeDir, "occ", "seg", flipped)
            .select($"doc_id", $"source", lit(0L).as("segs"),
              ($"occ0" + $"occ1").as("dup_segs"),
              when($"occ0" > 0, 1L).otherwise(0L).as("f0"),
              when($"occ1" > 0, 1L).otherwise(0L).as("f1"))
          val statDelta = phased("statdelta") {
            ck.ckpt(inserts.unionByName(flipRows))
          }
          // The per-source readout state is maintained INCREMENTALLY
          // (sub-table `srcstat`, additive partials keyed on source):
          // publishing the full q191 snapshot used to fold the
          // corpus-sized docstat every trigger — the gate family's
          // last per-batch corpus term (ScaleAudit scrub_gate measured
          // the same 200-doc delta at 3.5 s @ 1x vs 7.6-11.6 s @ 8x
          // store). The source-grain columns are all integer sums of
          // doc-grain state, so the batch's contribution is computable
          // from statDelta plus the PRIOR flags of exactly the touched
          // docs (a delta-sized pruned scan): a flag column moves by
          // greatest(prior, delta) - prior, and the straddle count by
          // the same difference form (it can legitimately go negative
          // when f0 catches up on a straddle doc). A LEGACY store
          // (committed segments but no srcstat partition on the newest
          // one) backfills once: full grain of the merged docstat
          // minus whatever srcstat partials exist, delta-sized forever
          // after.
          val base = b.compactDue
          val legacy = b.active.nonEmpty &&
            !SegStore.partitionExists(ss, storeDir, "srcstat", b.active.last.id)
          // computed only on DELTA batches: a compaction batch already
          // materializes the full merged docstat, and
          // srcGrainPartial(merged) IS the total source-grain state —
          // deriving srcDelta there would redundantly re-probe prior
          // flags (review finding, round 14)
          def srcDelta() = phased("srcdelta") {
            (if (legacy) {
              val full = srcGrainPartial(mergedDocstat(ss, storeDir, statDelta))
              val committed = committedSrcstat(ss, storeDir)
              full.unionByName(committed.select($"source",
                (-$"n_docs").as("n_docs"), (-$"n_segs").as("n_segs"),
                (-$"dup_segs").as("dup_segs"),
                (-$"dup_docs_g0").as("dup_docs_g0"),
                (-$"dup_docs_any").as("dup_docs_any"),
                (-$"straddle_docs").as("straddle_docs")))
                .groupBy($"source").agg(sum($"n_docs").as("n_docs"),
                  sum($"n_segs").as("n_segs"), sum($"dup_segs").as("dup_segs"),
                  sum($"dup_docs_g0").as("dup_docs_g0"),
                  sum($"dup_docs_any").as("dup_docs_any"),
                  sum($"straddle_docs").as("straddle_docs"))
            } else {
              val dd = docGrain(statDelta)
              val pr = docGrain(SegStore.prunedScan(ss, storeDir, "docstat",
                "doc_id", dd.select($"doc_id")))
                .select($"doc_id", $"f0".as("p0"), $"f1".as("p1"),
                  lit(1L).as("ex"))
              def straddleOf(f0: Column, f1: Column): Column =
                when(f1 === 1L && f0 === 0L, 1L).otherwise(0L)
              dd.join(pr, Seq("doc_id"), "left_outer")
                .select($"source", $"segs", $"dup_segs",
                  coalesce($"ex", lit(0L)).as("ex"),
                  coalesce($"p0", lit(0L)).as("p0"),
                  coalesce($"p1", lit(0L)).as("p1"), $"f0", $"f1")
                .groupBy($"source")
                .agg(sum(lit(1L) - $"ex").as("n_docs"),
                  sum($"segs").as("n_segs"),
                  sum($"dup_segs").as("dup_segs"),
                  sum(greatest($"p0", $"f0") - $"p0").as("dup_docs_g0"),
                  sum(greatest($"p0", $"p1", $"f0", $"f1") -
                    greatest($"p0", $"p1")).as("dup_docs_any"),
                  sum(straddleOf(greatest($"p0", $"f0"), greatest($"p1", $"f1"))
                    - $"ex" * straddleOf($"p0", $"p1")).as("straddle_docs"))
            }).transform(ck.ckpt(_))
          }
          if (base) {
            val occ0 = readOcc(ss, storeDir)
            val occAll = ck.ckpt(occ0.union(newOcc))
            val sdfAll = ck.ckpt(SegStore.readBucketed(ss, storeDir, "sdf")
              .getOrElse(Seq.empty[(String, Long)].toDF("seg", "df"))
              .union(newDf)
              .groupBy($"seg").agg(sum($"df").as("df")))
            val docsAll = ck.ckpt(SegStore.readBucketed(ss, storeDir, "docs")
              .getOrElse(Seq.empty[Long].toDF("doc_id"))
              .union(newDocs))
            // `merged` IS the folded docstat — the compaction reuses
            // it, and its source grain IS the total srcstat state
            val merged = ck.ckpt(mergedDocstat(ss, storeDir, statDelta))
            val srcAll = ck.ckpt(srcGrainPartial(merged))
            SegStore.writeBucketedAll(ss, storeDir,
              Seq("occ" -> occAll, "sdf" -> sdfAll, "docs" -> docsAll,
                "docstat" -> merged, "srcstat" -> srcAll), b.id,
              base = true)
            SegStore.writeSnapshot(ss, outDir,
              srcAll.orderBy($"source"), b.id)
          } else {
            // the four sd-independent segment writes start FIRST and
            // overlap srcDelta's prior-flag probe + the snapshot publish
            b.write(Seq("occ" -> newOcc, "sdf" -> newDf, "docs" -> newDocs,
              "docstat" -> statDelta))
            val sd = srcDelta()
            b.write(Seq("srcstat" -> sd))
            // snapshot = committed srcstat partials + this batch's
            // delta — a |sources|-bounded fold, NOT a docstat scan
            // (the uncommitted partitions are invisible to the read)
            phased("snapshot") {
              SegStore.writeSnapshot(ss, outDir,
                snapshotFold(ss, storeDir, sd).orderBy($"source"), b.id)
            }
          }
          base
      })
      .trigger(Trigger.AvailableNow())
      .start()

  /** Doc-grain fold of a docstat partial table: sums for the additive
    * columns, max for the one-way flags. `source` is functionally
    * dependent on doc_id, so grouping on doc_id alone keeps the fold
    * exchange-free over the doc_id-bucketed store scan.
    */
  private def docGrain(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.groupBy($"doc_id")
      .agg(max($"source").as("source"), sum($"segs").as("segs"),
        sum($"dup_segs").as("dup_segs"), max($"f0").as("f0"), max($"f1").as("f1"))
  }

  /** The post-batch doc-grain view: committed docstat folded
    * (exchange-free) outer-joined with the batch's delta fold on
    * doc_id (the store side is bucketed on doc_id — only the
    * delta-sized side shuffles). Columns match the docstat layout so
    * compaction can write it back verbatim.
    */
  private def mergedDocstat(ss: SparkSession, storeDir: String,
      statDelta: DataFrame): DataFrame = {
    import ss.implicits._
    val store = docGrain(SegStore.readBucketed(ss, storeDir, "docstat")
      .getOrElse(Seq.empty[(Long, String, Long, Long, Long, Long)]
        .toDF("doc_id", "source", "segs", "dup_segs", "f0", "f1")))
      .select($"doc_id", $"source".as("s_source"), $"segs".as("s_segs"),
        $"dup_segs".as("s_dup"), $"f0".as("s_f0"), $"f1".as("s_f1"))
    val delta = docGrain(statDelta)
      .select($"doc_id", $"source".as("d_source"), $"segs".as("d_segs"),
        $"dup_segs".as("d_dup"), $"f0".as("d_f0"), $"f1".as("d_f1"))
    store.join(delta, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"s_source", $"d_source").as("source"),
        (coalesce($"s_segs", lit(0L)) + coalesce($"d_segs", lit(0L))).as("segs"),
        (coalesce($"s_dup", lit(0L)) + coalesce($"d_dup", lit(0L))).as("dup_segs"),
        greatest(coalesce($"s_f0", lit(0L)), coalesce($"d_f0", lit(0L))).as("f0"),
        greatest(coalesce($"s_f1", lit(0L)), coalesce($"d_f1", lit(0L))).as("f1"))
  }

  /** The q191-shaped source-grain partial of a doc-grain view — the
    * same formulas [[graft.operators.Dedup.crossSegReadout]]'s final
    * fold applies. Used by the legacy-store backfill and by compaction,
    * which writes it as the total `srcstat` state; delta batches
    * maintain these rows incrementally instead.
    */
  private def srcGrainPartial(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"segs").as("n_segs"),
        sum($"dup_segs").as("dup_segs"),
        sum($"f0").as("dup_docs_g0"),
        sum(greatest($"f0", $"f1")).as("dup_docs_any"),
        sum(when($"f1" === 1 && $"f0" === 0, 1L).otherwise(0L))
          .as("straddle_docs"))
  }

  private def committedSrcstat(ss: SparkSession, storeDir: String): DataFrame = {
    import ss.implicits._
    SegStore.readBucketed(ss, storeDir, "srcstat")
      .getOrElse(Seq.empty[(String, Long, Long, Long, Long, Long, Long)]
        .toDF("source", "n_docs", "n_segs", "dup_segs", "dup_docs_g0",
          "dup_docs_any", "straddle_docs"))
  }

  /** The post-batch source-grain readout: committed `srcstat`
    * partials plus this batch's delta, folded — a |sources|-bounded
    * aggregate over an exchange-free bucketed scan, never a docstat
    * scan. Package-visible so StreamingSpec can pin the plan.
    */
  private[graft] def snapshotFold(ss: SparkSession, storeDir: String,
      srcDelta: DataFrame): DataFrame = {
    import ss.implicits._
    committedSrcstat(ss, storeDir).unionByName(srcDelta)
      .groupBy($"source")
      .agg(sum($"n_docs").as("n_docs"),
        sum($"n_segs").as("n_segs"),
        sum($"dup_segs").as("dup_segs"),
        sum($"dup_docs_g0").as("dup_docs_g0"),
        sum($"dup_docs_any").as("dup_docs_any"),
        sum($"straddle_docs").as("straddle_docs"))
  }

  /** The accumulated occurrence table (partition-pruned scan of the
    * active segments; rows are per-(seg, doc) distinct by the probe
    * discipline). Empty when no segment has committed yet.
    */
  def readOcc(ss: SparkSession, storeDir: String): DataFrame = {
    import ss.implicits._
    SegStore.readBucketed(ss, storeDir, "occ").getOrElse(
      Seq.empty[(String, Long, String, Long, Long)]
        .toDF("seg", "doc_id", "source", "occ0", "occ1"))
  }
}
