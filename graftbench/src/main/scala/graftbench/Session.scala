package graftbench

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The one session recipe every workload uses: graft.Bench's install
  * path (`withExtensions(new GraftExtensions)`, `local[N]`, N shuffle
  * partitions, UTC), with the run's own Spark local and warehouse
  * dirs.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def build(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
