package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}

import graft.Scope

/** The one micro-batch prologue of every `foreachBatch` site in
  * `graft.streaming`, and the one segment-batch protocol of every
  * [[SegStore]] gate.
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
  *
  * The segment-batch protocol ([[store]]): a store gate's batch lands
  * every sub-table write of its segment before the segment's commit
  * marker, and no INSERT or probe of a failed attempt outlives it.
  * The body starts its segment INSERTs with [[Batch.write]] and its
  * concurrent store probes with [[Batch.probe]]; both run on the
  * SegStore pool and overlap the rest of the body, since the INSERTs
  * land in the uncommitted `_seg=<batchId>` partitions no committed-
  * store read can see. The body returns the segment kind (base or
  * delta). Then:
  *  - on return, every registered write is awaited (all of them before
  *    the first failure is rethrown) and the marker is written with
  *    the checkpoint's run identity;
  *  - on throw, every registered write is quiesced and every probe
  *    abandoned ([[SegStore.quiesce]], [[SegStore.awaitQuiet]], both
  *    bounded) before the exception surfaces — inside the batch
  *    [[Scope]], so a probe's late checkpoint is still released. A
  *    replay then overwrites the torn partitions with no orphan INSERT
  *    still writing them.
  */
private[graft] object GateBatch {

  /** One store gate micro-batch: the owning session `ss`, the re-homed
    * `frame`, the batch `id`, the batch `scope`, and the protocol's
    * write/probe registration and compaction rule.
    */
  final class Batch private[GateBatch] (val ss: SparkSession,
      val frame: DataFrame, val id: Long, val scope: Scope,
      storeDir: String, compactEvery: Int) {
    private val writes = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    private val probes =
      scala.collection.mutable.ArrayBuffer.empty[scala.concurrent.Future[_]]

    /** The store's active segments, listed once per batch (this batch's
      * own segment is not committed before the body returns).
      */
    lazy val active: Seq[SegStore.Seg] = SegStore.active(ss, storeDir)

    /** The compaction rule: this batch folds the store into a base. */
    def compactDue: Boolean = active.size >= compactEvery

    /** Start this segment's INSERTs of `subs` (`base`: the segment kind
      * they are written as, see [[SegStore.writeBucketedAllAsync]]).
      * The returned join is idempotent; a body awaits it only where it
      * must read or overwrite what it wrote before returning.
      */
    def write(subs: Seq[(String, DataFrame)], base: Boolean = false): () => Unit = {
      val join = SegStore.writeBucketedAllAsync(ss, storeDir, subs, id, base)
      synchronized(writes += join)
      join
    }

    /** Run `f` concurrently with the rest of the body; the returned
      * handle awaits its result.
      */
    def probe[T](f: => T): () => T = {
      val fut = SegStore.async(ss)(f)
      synchronized(probes += fut)
      () => SegStore.await(fut)
    }

    private[GateBatch] def joinAll(): Unit = {
      val results = synchronized(writes.toList).map(j => scala.util.Try(j()))
      results.collectFirst { case scala.util.Failure(e) => throw e }
    }

    private[GateBatch] def quiesce(): Unit = {
      synchronized(writes.toList).foreach(SegStore.quiesce(ss, _))
      synchronized(probes.toList).foreach(SegStore.awaitQuiet)
    }
  }

  /** `batch` bound to `owner`: same rows, no job. */
  private def rehome(owner: SparkSession, batch: Dataset[_]): DataFrame =
    GraftBridge.ofRows(owner, GraftBridge.analyzedPlan(batch))

  /** A stateless `foreachBatch` body run on `owner`. */
  def apply(owner: SparkSession)(
      body: (DataFrame, Long) => Unit): (Dataset[_], Long) => Unit =
    (batch, batchId) => body(rehome(owner, batch), batchId)

  /** A [[SegStore]] gate's `foreachBatch` body run on `owner` under the
    * segment-batch protocol (see the object doc): the checkpoint's run
    * identity, the replay no-op ([[SegStore.isApplied]]), the batch
    * [[Scope]] (released on success and on failed/replayed attempts
    * alike), then `body`, whose result is the segment kind
    * (`base`), then the awaited writes and the commit marker.
    */
  def store(owner: SparkSession, storeDir: String, ckptDir: String,
      compactEvery: Int)(body: Batch => Boolean): (Dataset[_], Long) => Unit =
    (batch, batchId) => {
      val runId = SegStore.ckptQueryId(owner, ckptDir)
      if (!SegStore.isApplied(owner, storeDir, batchId, runId))
        Scope { ck =>
          val b = new Batch(owner, rehome(owner, batch), batchId, ck,
            storeDir, compactEvery)
          try {
            val base = body(b)
            GatePhase.phased("write")(b.joinAll())
            GatePhase.phased("commit") {
              SegStore.commit(owner, storeDir, batchId, base, runId)
            }
          } catch { case e: Throwable => b.quiesce(); throw e }
        }
    }
}
