package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}

import graft.Scope

/** The one micro-batch prologue of every `foreachBatch` site in
  * `graft.streaming`.
  *
  * Re-homing: Structured Streaming runs each query on a CLONE of the
  * session that started it, and `foreachBatch` hands over a frame that
  * belongs to that clone. Under `spark.sql.artifact.isolation.enabled`
  * (Spark's default) each session gets its own executor class loader,
  * and Spark's codegen cache is keyed on the loader plus the code. So
  * anything a batch body runs through the clone recompiles every
  * generated class it uses once per query — and an AvailableNow gate
  * starts one query per trigger. The batch frame is a `LogicalRDD`
  * over the already-planned micro-batch, so binding its analyzed plan
  * to the OWNING session (the one that started the gate) costs no job,
  * and the body's generated classes then compile once per JVM. Job
  * group and local properties are the stream thread's either way:
  * they live on the thread, not the session.
  */
private[graft] object GateBatch {

  /** `batch` bound to `owner`: same rows, no job. */
  private def rehome(owner: SparkSession, batch: Dataset[_]): DataFrame =
    GraftBridge.ofRows(owner, GraftBridge.analyzedPlan(batch))

  /** A stateless `foreachBatch` body run on `owner`. */
  def apply(owner: SparkSession)(
      body: (DataFrame, Long) => Unit): (Dataset[_], Long) => Unit =
    (batch, batchId) => body(rehome(owner, batch), batchId)

  /** A [[SegStore]] gate's `foreachBatch` body run on `owner`: the
    * checkpoint's run identity, the replay no-op
    * ([[SegStore.isApplied]]) and the batch [[Scope]], which releases
    * every batch-scoped checkpoint on success and on failed/replayed
    * attempts alike. `body` gets (session, batch, batchId, runId,
    * scope).
    */
  def store(owner: SparkSession, storeDir: String, ckptDir: String)(
      body: (SparkSession, DataFrame, Long, String, Scope) => Unit)
      : (Dataset[_], Long) => Unit =
    (batch, batchId) => {
      val runId = SegStore.ckptQueryId(owner, ckptDir)
      if (!SegStore.isApplied(owner, storeDir, batchId, runId))
        Scope(ck => body(owner, rehome(owner, batch), batchId, runId, ck))
    }
}
