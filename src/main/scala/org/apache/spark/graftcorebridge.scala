package org.apache.spark

/** Bridge into `private[spark]` SparkContext local-properties and
  * listener-bus access.
  * Lives in the org.apache.spark package namespace solely to reach the
  * package-private API; contains no Spark-internal logic of its own.
  *
  * Why: work handed to a shared thread pool must carry the CALLING
  * thread's full Spark local-properties set (job group, SQL execution
  * id, fair-scheduler pool, ...) — `localProperties` is an
  * InheritableThreadLocal cloned at thread BIRTH, so a cached pool
  * worker otherwise keeps whatever properties the thread that happened
  * to create it had. Copying a hand-picked subset of keys (the
  * round-15 fix) left the rest stale; this is the full-set capture
  * Spark's own `SQLExecution.withThreadLocalCaptured` uses.
  */
object GraftCoreBridge {
  /** Defensive clone of the calling thread's local-properties set. */
  def captureLocalProps(sc: SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Install a previously captured set on the CURRENT thread. */
  def installLocalProps(sc: SparkContext, props: java.util.Properties): Unit =
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))

  /** Block until the listener bus has delivered every event posted so
    * far (Spark's own test drain). Listener-based counters read after
    * this see every job, stage and task of the work that preceded it.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
