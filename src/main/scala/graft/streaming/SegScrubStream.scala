package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming boilerplate-segment scrub: q191's cross-grid segment
  * dedup AS A STREAM — the [[ScrubGate]] over
  * [[graft.operators.Dedup.crossSegFamily]]. Store sub-tables: `occ`
  * and `sdf` keyed on seg, `docs` and `docstat` keyed on doc_id,
  * `srcstat` keyed on source.
  */
object SegScrubStream {
  private val gate = new ScrubGate(graft.operators.Dedup.crossSegFamily)

  /** `docs`: a streaming DataFrame of (doc_id: Long, source: String,
    * text: String). Store: a [[SegStore]] log at `storeDir`; the
    * q191-shaped readout is published atomically under `outDir`
    * (read it back with [[SegStore.readSnapshot]]).
    */
  def scrubStream(docs: DataFrame, storeDir: String, outDir: String,
      ckptDir: String, compactEvery: Int = 8, buckets: Int = 8): StreamingQuery =
    gate.stream(docs, storeDir, outDir, ckptDir, compactEvery, buckets)

  /** Committed `srcstat` plus a batch's delta, folded (package-visible
    * so StreamingSpec can pin the plan).
    */
  private[graft] def snapshotFold(ss: SparkSession, storeDir: String,
      srcDelta: DataFrame): DataFrame = gate.snapshotFold(ss, storeDir, srcDelta)

  /** The accumulated occurrence table; empty before the first commit. */
  def readOcc(ss: SparkSession, storeDir: String): DataFrame =
    gate.readUnits(ss, storeDir)
}
