package graft

import org.apache.spark.sql.SparkSession

/** The sessions the specs run on. */
object TestSession {

  /** The one session every spec shares: the production recipe at 8
    * cores. A spec that needs other runtime confs sets them on
    * `spark.newSession()`, which shares the context and the extensions
    * and leaks nothing into the next spec.
    */
  lazy val spark: SparkSession = GraftSession.local(8)

  /** A session built WITHOUT graft's extensions, on the shared
    * context: the only way left to reach the stock-session fallbacks
    * (`AsOf.join`'s `experimental.extraStrategies` self-install with
    * `preShuffle = true`, `Engine`'s `GraftFunctions.register`).
    * `create()` makes it neither the JVM default (the shared session
    * is) nor, after the reset below, this thread's active session, so
    * nothing else sees it.
    */
  def stock(): SparkSession = {
    val active = SparkSession.getActiveSession.getOrElse(spark)
    try SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .create()
    finally SparkSession.setActiveSession(active)
  }
}
