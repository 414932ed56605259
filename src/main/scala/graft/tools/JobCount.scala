package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev utility (guide §1: measure first): run named SparkEntry queries
  * under the bench session shape and report, per query, the number of
  * Spark JOBS, STAGES and TASKS its execution schedules plus the warm
  * wall — the structural profile that dominates wall time when the
  * per-stage data volume is small, and exactly the thing that turns
  * into real shuffle/pass cost at 100 TB. Usage:
  *   runMain graft.tools.JobCount <name> [<name> ...] [sfDir via env]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val verbose = sys.env.contains("SPARK_GRAFT_JOBS_VERBOSE")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStart.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.remove(j.jobId)
        if (verbose && t0 != 0L)
          println(f"[job] id=${j.jobId}%4d wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm run: codegen, staging artifacts
      graft.GraftSession.reset(spark)
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      shuffleRead.set(0L); shuffleWrite.set(0L)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      println(f"[jobcount] $name%-28s wall=$wall%6.2f s jobs=${jobs.get}%3d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%6d " +
        f"shufR=${shuffleRead.get / 1024 / 1024.0}%8.1f MB " +
        f"shufW=${shuffleWrite.get / 1024 / 1024.0}%8.1f MB rows=$n")
      graft.GraftSession.reset(spark)
    }
    spark.stop()
  }
}
