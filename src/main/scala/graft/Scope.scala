package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Query-local materialization: the ONE place that decides how an
  * intermediate frame is persisted or checkpointed, who releases it
  * and when, and how a query's output is sealed.
  *
  * Loan pattern — `Scope { s => ... }` registers every
  * [[persist]] and [[ckpt]] made through `s` and releases all of them
  * when the body returns AND when it throws, so a failed query (a
  * `require` after a checkpoint, a failed micro-batch) leaves no dead
  * blocks behind. Release covers both cache kinds: a `persist()`ed
  * frame through the SQL cache manager, a `localCheckpoint`ed frame
  * through its backing RDD — `Dataset.unpersist` never sees a local
  * checkpoint (its blocks are an RDD-level persist under a
  * `LogicalRDD` leaf), so it is unpersisted at RDD level here.
  *
  * What survives the scope:
  *  - the [[seal]]ed output — a fresh checkpoint the scope never
  *    registered, handed to the caller (who owns its blocks);
  *  - any registered checkpoint that backs the frame the body
  *    returns (a lazy output reading a query-local checkpoint), since
  *    releasing it would make the caller's truncated-lineage data
  *    unrecoverable.
  *
  * [[release]] drops registered frames mid-body (loops release the
  * previous round's frames to keep peak memory flat); it is
  * idempotent, and the final sweep skips what was already released.
  * Registration is thread-safe: gate probes register from a pool
  * thread.
  *
  * [[Scope.Lazy]] materializes nothing: `persist`, `ckpt` and `seal`
  * return their input unchanged, so an operator written against a
  * `Scope` yields its plain lazy plan (plan-shape specs, `tools/Explain`).
  */
final class Scope private (materialize: Boolean) {
  // (frame, isCheckpoint) in registration order
  private val held = scala.collection.mutable.ArrayBuffer.empty[(Dataset[_], Boolean)]

  /** Lazily `persist()` `ds` and register it. */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    if (materialize) hold(ds.persist(), ckpt = false) else ds

  /** Eagerly `localCheckpoint` `ds` (one job) and register the result. */
  def ckpt[T](ds: Dataset[T]): Dataset[T] =
    if (materialize) hold(ds.localCheckpoint(), ckpt = true) else ds

  /** Take ownership of a frame another scope sealed (a helper's
    * output): its checkpoint is released with this scope.
    */
  def adopt[T](ds: Dataset[T]): Dataset[T] =
    if (materialize) hold(ds, ckpt = true) else ds

  /** Eagerly materialize a query's output so the scope can release
    * the caches the lazy output still references. Never registered:
    * the caller owns the sealed blocks.
    *
    * Deployment caveat — `localCheckpoint` is NOT fault-tolerant: it
    * truncates lineage, so losing an executor that holds the sealed
    * blocks fails the consumer instead of recomputing. In a single
    * JVM there is no executor to lose. On a cluster with preemptible
    * executors set `spark.graft.reliableCheckpoint=true` (requires
    * `SparkContext.setCheckpointDir`): the seal then goes through a
    * reliable `checkpoint()`, one distributed write per seal.
    */
  def seal(out: DataFrame): DataFrame =
    if (!materialize) out
    else if (out.sparkSession.conf.get("spark.graft.reliableCheckpoint", "false").toBoolean)
      out.checkpoint()
    else out.localCheckpoint()

  /** Release now each given frame this scope registered; for a given
    * frame it did not register (a projection over a checkpoint), the
    * registered checkpoints that frame reads. Idempotent; nothing this
    * scope did not register is touched.
    */
  def release(dss: Dataset[_]*): Unit = {
    val drop = synchronized {
      val reads = dss.filterNot(d => held.exists(_._1 eq d))
        .flatMap(Scope.rddIds).toSet
      val (d, keep) = held.partition { case (h, isCkpt) =>
        dss.exists(_ eq h) || (isCkpt && Scope.rddIds(h).exists(reads))
      }
      held.clear(); held ++= keep
      d
    }
    drop.foreach { case (h, isCkpt) => Scope.free(h, isCkpt) }
  }

  /** Run `body`; return its result and the frames this scope
    * registered meanwhile (a [[Fixpoint]] round's own frames).
    */
  private[graft] def registering[A](body: => A): (A, Seq[Dataset[_]]) = {
    val before = synchronized(held.map(_._1).toList)
    val out = body
    (out, synchronized(held.map(_._1).filterNot(d => before.exists(_ eq d)).toList))
  }

  private def hold[T](ds: Dataset[T], ckpt: Boolean): Dataset[T] =
    synchronized { held += (ds -> ckpt); ds }

  /** Release everything still registered except the checkpoints that
    * back `result`. Never throws: it runs on failure paths, where a
    * release error must not mask the body's own exception.
    */
  private def close(result: Option[Any]): Unit = {
    val backing = result match {
      case Some(ds: Dataset[_]) => Scope.rddIds(ds)
      case _ => Set.empty[Int]
    }
    val all = synchronized { val a = held.toList; held.clear(); a }
    all.foreach { case (h, isCkpt) =>
      if (!(isCkpt && Scope.rddIds(h).exists(backing)))
        try Scope.free(h, isCkpt) catch { case NonFatal(_) => () }
    }
  }
}

object Scope {
  /** Run `body` with a fresh scope; release its frames on return and
    * on throw.
    */
  def apply[A](body: Scope => A): A = {
    val s = new Scope(materialize = true)
    val out = try body(s) catch {
      case t: Throwable => s.close(None); throw t
    }
    s.close(Some(out))
    out
  }

  /** The scope that materializes nothing (see the class doc). */
  val Lazy: Scope = new Scope(materialize = false)

  private def rddIds(ds: Dataset[_]): Set[Int] =
    ds.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def free(ds: Dataset[_], isCkpt: Boolean): Unit =
    if (isCkpt) ds.queryExecution.logical.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    } else ds.unpersist(blocking = false)
}
