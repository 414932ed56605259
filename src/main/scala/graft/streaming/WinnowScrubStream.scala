package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming alignment-independent boilerplate scrub: q192's
  * word-level winnowing scrub AS A STREAM — the gate the
  * alignment-independent family gets, completing the set (q173 →
  * [[WinnowStream]], q191 → [[SegScrubStream]], q192 → this). Each
  * micro-batch of arriving documents is winnow-selected ONCE
  * ([[graft.operators.Dedup.winnowSel]], the exact lambda batch q192
  * runs — one derivation site, no drifting copy); selected (fp, doc)
  * rows are append-only facts, and the published per-source readout
  * is row-equal to batch q192 over everything shipped, at EVERY batch
  * prefix (StreamingSpec pins this), because both fold the SAME
  * selected rows under the SAME df >= 3 rule — retroactive like
  * q191's (the 3rd copy of a >= 15-word run flags all three docs, at
  * arbitrary alignment).
  *
  * The store and readout follow [[SegScrubStream]]'s incremental
  * design verbatim, one level simpler (one flag, no grid split):
  * bucketed sub-tables `sel` (fp-keyed selected rows — the flip
  * probe), `fdf` (fp, df partials), `docs` (replay absorption),
  * `docstat` (doc_id, source, fps, dup_fps, flag — additive/max
  * partials). Per batch: the batch's fp set prunes the `fdf` scan for
  * prior df (fold AFTER the prune), INSERT docstat rows evaluate the
  * batch's docs against post-batch df, FLIP rows re-flag pre-batch
  * docs holding a fingerprint that crossed <3 → >=3 (pruned `sel`
  * scan on the few crossed fps), and the snapshot folds `docstat`
  * exchange-free (doc_id-bucketed scan) merged with the delta by a
  * doc-keyed outer join. No store access shuffles the corpus.
  *
  * Crash/replay: the deltas and the snapshot are one segment under
  * [[GateBatch.store]]'s protocol, the snapshot is published by atomic
  * pointer switch, and re-delivered docs are absorbed by the doc-id
  * probe.
  */
object WinnowScrubStream {

  /** `docs`: a streaming DataFrame of (doc_id: Long, source: String,
    * text: String). Store: a [[SegStore]] log at `storeDir`; the
    * q192-shaped readout is published atomically under `outDir`
    * (read it back with [[SegStore.readSnapshot]]).
    */
  def winnowScrubStream(docs: DataFrame, storeDir: String, outDir: String,
      ckptDir: String, compactEvery: Int = 8, buckets: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch(GateBatch.store(docs.sparkSession, storeDir, ckptDir,
          compactEvery) { b =>
          import b.{ss, scope => ck}
          import ss.implicits._
          SegStore.ensureBucketed(ss, storeDir, "sel",
            "fp STRING, doc_id BIGINT, source STRING", Seq("fp"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "fdf",
            "fp STRING, df BIGINT", Seq("fp"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "docs",
            "doc_id BIGINT", Seq("doc_id"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "docstat",
            "doc_id BIGINT, source STRING, fps BIGINT, dup_fps BIGINT, " +
              "flag BIGINT", Seq("doc_id"), buckets)
          SegStore.ensureBucketed(ss, storeDir, "srcstat",
            "source STRING, n_docs BIGINT, n_fps BIGINT, dup_fps BIGINT, " +
              "dup_docs BIGINT", Seq("source"), buckets)
          val bSel = ck.ckpt(graft.operators.Dedup
            .winnowSel(b.frame.dropDuplicates("doc_id")))
          // PRIOR per-fp df, probed by the PRE-absorb fingerprint set
          // (superset; extras dropped by the newDf join) so the store
          // scan runs concurrent with the absorb probe
          val fPrior = b.probe {
            ck.ckpt(SegStore.prunedScan(ss, storeDir, "fdf", "fp",
                bSel.select($"fp").distinct())
              .groupBy($"fp").agg(sum($"df").as("df_prior")))
          }
          val bDocs = bSel.select($"doc_id").distinct()
          val seen = SegStore.prunedScan(ss, storeDir, "docs", "doc_id", bDocs)
          val newSel = ck.ckpt(bSel.join(broadcast(seen), Seq("doc_id"), "left_anti")
            .select($"fp", $"doc_id", $"source"))
          val newDocs = newSel.select($"doc_id").distinct()
          val newDf = newSel.groupBy($"fp").agg(count(lit(1)).as("df"))
          val post = {
            val prior = fPrior()
            try ck.ckpt(newDf.join(prior, Seq("fp"), "left_outer")
              .select($"fp", $"df".as("df_delta"),
                coalesce($"df_prior", lit(0L)).as("df_prior"))
              .withColumn("df_post", $"df_prior" + $"df_delta"))
            finally ck.release(prior)
          }
          val inserts = newSel
            .join(broadcast(post.select($"fp", $"df_post")), "fp")
            .groupBy($"doc_id", $"source")
            .agg(count(lit(1)).as("fps"),
              sum(when($"df_post" >= 3, 1L).otherwise(0L)).as("dup_fps"),
              max(when($"df_post" >= 3, 1L).otherwise(0L)).as("flag"))
          val flipped = post.where($"df_prior" < 3 && $"df_post" >= 3)
            .select($"fp")
          val flipRows = SegStore.prunedScan(ss, storeDir, "sel", "fp", flipped)
            .select($"doc_id", $"source", lit(0L).as("fps"),
              lit(1L).as("dup_fps"), lit(1L).as("flag"))
          val statDelta = ck.ckpt(inserts.unionByName(flipRows))
          // incremental source-grain state (`srcstat`, additive
          // partials) — the SegScrubStream device: the per-batch
          // snapshot folds |sources|-bounded rows, never the
          // corpus-sized docstat. Flag moves by greatest(prior,
          // delta) - prior, with prior flags from a delta-sized
          // pruned docstat scan; legacy stores backfill once.
          val base = b.compactDue
          val legacy = b.active.nonEmpty &&
            !SegStore.partitionExists(ss, storeDir, "srcstat", b.active.last.id)
          // delta batches only — a compaction batch derives the total
          // source grain from its already-materialized merged docstat
          def srcDelta() = {
            (if (legacy) {
              val full = srcGrainPartial(mergedDocstat(ss, storeDir, statDelta))
              full.unionByName(committedSrcstat(ss, storeDir)
                .select($"source", (-$"n_docs").as("n_docs"),
                  (-$"n_fps").as("n_fps"), (-$"dup_fps").as("dup_fps"),
                  (-$"dup_docs").as("dup_docs")))
                .groupBy($"source").agg(sum($"n_docs").as("n_docs"),
                  sum($"n_fps").as("n_fps"), sum($"dup_fps").as("dup_fps"),
                  sum($"dup_docs").as("dup_docs"))
            } else {
              val dd = docGrain(statDelta)
              val pr = docGrain(SegStore.prunedScan(ss, storeDir, "docstat",
                "doc_id", dd.select($"doc_id")))
                .select($"doc_id", $"flag".as("p"), lit(1L).as("ex"))
              dd.join(pr, Seq("doc_id"), "left_outer")
                .select($"source", $"fps", $"dup_fps",
                  coalesce($"ex", lit(0L)).as("ex"),
                  coalesce($"p", lit(0L)).as("p"), $"flag")
                .groupBy($"source")
                .agg(sum(lit(1L) - $"ex").as("n_docs"),
                  sum($"fps").as("n_fps"),
                  sum($"dup_fps").as("dup_fps"),
                  sum(greatest($"p", $"flag") - $"p").as("dup_docs"))
            }).transform(ck.ckpt(_))
          }
          if (base) {
            val selAll = ck.ckpt(SegStore.readBucketed(ss, storeDir, "sel")
              .getOrElse(Seq.empty[(String, Long, String)]
                .toDF("fp", "doc_id", "source"))
              .union(newSel))
            val fdfAll = ck.ckpt(SegStore.readBucketed(ss, storeDir, "fdf")
              .getOrElse(Seq.empty[(String, Long)].toDF("fp", "df"))
              .union(newDf)
              .groupBy($"fp").agg(sum($"df").as("df")))
            val docsAll = ck.ckpt(SegStore.readBucketed(ss, storeDir, "docs")
              .getOrElse(Seq.empty[Long].toDF("doc_id"))
              .union(newDocs))
            val merged = ck.ckpt(mergedDocstat(ss, storeDir, statDelta))
            val srcAll = ck.ckpt(srcGrainPartial(merged))
            SegStore.writeBucketedAll(ss, storeDir,
              Seq("sel" -> selAll, "fdf" -> fdfAll, "docs" -> docsAll,
                "docstat" -> merged, "srcstat" -> srcAll), b.id,
              base = true)
            SegStore.writeSnapshot(ss, outDir, readoutOf(srcAll), b.id)
          } else {
            // sd-independent segment writes overlap srcDelta's
            // prior-flag probe and the snapshot publish
            b.write(Seq("sel" -> newSel, "fdf" -> newDf, "docs" -> newDocs,
              "docstat" -> statDelta))
            val sd = srcDelta()
            b.write(Seq("srcstat" -> sd))
            SegStore.writeSnapshot(ss, outDir,
              readoutOf(snapshotFold(ss, storeDir, sd)), b.id)
          }
          base
      })
      .trigger(Trigger.AvailableNow())
      .start()

  /** Doc-grain fold: sums for the additive columns, max for the
    * one-way flag (exchange-free over the doc_id-bucketed scan).
    */
  private def docGrain(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.groupBy($"doc_id")
      .agg(max($"source").as("source"), sum($"fps").as("fps"),
        sum($"dup_fps").as("dup_fps"), max($"flag").as("flag"))
  }

  private def mergedDocstat(ss: SparkSession, storeDir: String,
      statDelta: DataFrame): DataFrame = {
    import ss.implicits._
    val store = docGrain(SegStore.readBucketed(ss, storeDir, "docstat")
      .getOrElse(Seq.empty[(Long, String, Long, Long, Long)]
        .toDF("doc_id", "source", "fps", "dup_fps", "flag")))
      .select($"doc_id", $"source".as("s_source"), $"fps".as("s_fps"),
        $"dup_fps".as("s_dup"), $"flag".as("s_flag"))
    val delta = docGrain(statDelta)
      .select($"doc_id", $"source".as("d_source"), $"fps".as("d_fps"),
        $"dup_fps".as("d_dup"), $"flag".as("d_flag"))
    store.join(delta, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"s_source", $"d_source").as("source"),
        (coalesce($"s_fps", lit(0L)) + coalesce($"d_fps", lit(0L))).as("fps"),
        (coalesce($"s_dup", lit(0L)) + coalesce($"d_dup", lit(0L))).as("dup_fps"),
        greatest(coalesce($"s_flag", lit(0L)), coalesce($"d_flag", lit(0L)))
          .as("flag"))
  }

  /** Source-grain partial of a doc-grain view — the additive rows
    * `srcstat` stores. Used by the legacy-store backfill and by
    * compaction, which writes it as the total `srcstat` state.
    */
  private def srcGrainPartial(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"fps").as("n_fps"),
        sum($"dup_fps").as("dup_fps"),
        sum($"flag").as("dup_docs"))
  }

  private def committedSrcstat(ss: SparkSession, storeDir: String): DataFrame = {
    import ss.implicits._
    SegStore.readBucketed(ss, storeDir, "srcstat")
      .getOrElse(Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("source", "n_docs", "n_fps", "dup_fps", "dup_docs"))
  }

  /** Committed `srcstat` partials plus this batch's delta, folded —
    * |sources|-bounded, never a docstat scan.
    */
  private[graft] def snapshotFold(ss: SparkSession, storeDir: String,
      srcDelta: DataFrame): DataFrame = {
    import ss.implicits._
    committedSrcstat(ss, storeDir).unionByName(srcDelta)
      .groupBy($"source")
      .agg(sum($"n_docs").as("n_docs"),
        sum($"n_fps").as("n_fps"),
        sum($"dup_fps").as("dup_fps"),
        sum($"dup_docs").as("dup_docs"))
  }

  /** The published q192-shaped readout of a folded source-grain view
    * (the derived ratio column computed exactly as the batch readout
    * does: sum-level integer DIV).
    */
  private def readoutOf(folded: DataFrame): DataFrame = {
    import folded.sparkSession.implicits._
    folded.select($"source", $"n_docs", $"n_fps", $"dup_fps", $"dup_docs",
      expr("CAST(dup_fps * 1000 DIV n_fps AS BIGINT)").as("dup_x1000"))
      .orderBy($"source")
  }
}
