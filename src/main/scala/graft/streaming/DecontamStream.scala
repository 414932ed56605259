package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming decontamination gate: q115's benchmark-overlap probe as
  * an ingest stream — the screen that keeps held-out/eval text out of
  * a training corpus as it is crawled, run BEFORE admission (the
  * Brown et al. 2020 appendix-C discipline as a continuous gate
  * rather than a post-hoc sweep). Each micro-batch of arriving
  * documents is cut into word 5-grams via the SAME derivation as the
  * batch twins ([[graft.operators.TextOps.fiveGrams]] — q66/q115's
  * lambda, one site) and probed against the STATIC eval-set gram
  * index by broadcast join; the per-doc report (n_grams, n_hit) lands
  * in `$outDir/batch_<id>`.
  *
  * Deliberately STATELESS — the simplest of the streaming gates:
  * the eval set is fixed at stream start (a benchmark suite, not a
  * growing corpus), so there is no store, no SegStore log, no
  * watermark; every operator is a per-row transform or a
  * broadcast-static join, state never accumulates, and replay is
  * idempotent through the per-batch output dir alone. Contrast
  * [[WinnowStream]]/[[SegScrubStream]], whose reference side IS the
  * accumulated stream and therefore needs the segment log.
  *
  * The gate REPORTS, it does not drop (the q173 stance): thresholding
  * n_hit/n_grams is admission policy and belongs to the caller —
  * q115's readout makes the distribution visible first.
  */
object DecontamStream {

  /** `docs`: a streaming DataFrame of (doc_id: Long, text: String).
    * `evalGrams`: the static eval-set 5-gram index — one `gram`
    * column, distinct (broadcast every micro-batch; eval suites are
    * MBs, not TBs).
    */
  def gateStream(docs: DataFrame, evalGrams: DataFrame, outDir: String,
      ckptDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch(GateBatch(docs.sparkSession) { (batch, batchId) =>
        graft.operators.TextOps.fiveGrams(batch.dropDuplicates("doc_id"))
          .join(broadcast(evalGrams.withColumn("hit", lit(1))),
            Seq("gram"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      })
      .trigger(Trigger.AvailableNow())
      .start()
}
