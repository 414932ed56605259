package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming alignment-independent boilerplate scrub: q192's
  * word-level winnowing scrub AS A STREAM — the [[ScrubGate]] over
  * [[graft.operators.Dedup.winnowFamily]], completing the set (q173 →
  * [[WinnowStream]], q191 → [[SegScrubStream]], q192 → this). Store
  * sub-tables: `sel` and `fdf` keyed on fp, `docs` and `docstat`
  * keyed on doc_id, `srcstat` keyed on source.
  */
object WinnowScrubStream {
  private val gate = new ScrubGate(graft.operators.Dedup.winnowFamily)

  /** `docs`: a streaming DataFrame of (doc_id: Long, source: String,
    * text: String). Store: a [[SegStore]] log at `storeDir`; the
    * q192-shaped readout is published atomically under `outDir`
    * (read it back with [[SegStore.readSnapshot]]).
    */
  def winnowScrubStream(docs: DataFrame, storeDir: String, outDir: String,
      ckptDir: String, compactEvery: Int = 8, buckets: Int = 8): StreamingQuery =
    gate.stream(docs, storeDir, outDir, ckptDir, compactEvery, buckets)

  /** Committed `srcstat` plus a batch's delta, folded, before the
    * readout's derived column (package-visible for the plan pin).
    */
  private[graft] def snapshotFold(ss: SparkSession, storeDir: String,
      srcDelta: DataFrame): DataFrame = gate.snapshotFold(ss, storeDir, srcDelta)
}
