package graftbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments. Everything is read from outside the
  * program: listeners registered through Spark's public APIs, Spark's
  * codegen metrics source, and spans the benchmark opens around its
  * own calls into graft's public functions.
  *
  * Counters are cumulative; a workload takes a [[Trace.Snapshot]]
  * before and after the work it attributes and reports the difference.
  */
final class Trace(spark: SparkSession, runId: String) {
  import Trace._

  private val c = Array.fill(Counter.values.size)(new LongAdder)
  /** Nanoseconds spent inside the listener callbacks. */
  private val hookNanos = new AtomicLong
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong

  private def add(k: Counter.Value, v: Long): Unit = c(k.id).add(v)
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    hookNanos.addAndGet(System.nanoTime() - t0)
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      add(Counter.Jobs, 1); jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed { jobsEnded.incrementAndGet() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      add(Counter.Stages, 1)
      val i = e.stageInfo
      for (s <- i.submissionTime; d <- i.completionTime)
        if (i.taskMetrics != null && i.taskMetrics.inputMetrics.bytesRead > 0)
          firstScanStage.compareAndSet(-1L, (d - s) * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      add(Counter.Tasks, 1)
      if (!e.taskInfo.successful) add(Counter.TaskFailures, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(Counter.ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
        add(Counter.ShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
        add(Counter.SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(Counter.InputBytes, m.inputMetrics.bytesRead)
        add(Counter.ExecutorCpuNanos, m.executorCpuTime)
        add(Counter.ExecutorRunMs, m.executorRunTime)
        add(Counter.GcMs, m.jvmGCTime)
      }
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed { phases(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed { phases(qe) }
    private def phases(qe: QueryExecution): Unit = {
      add(Counter.Executions, 1)
      val p = qe.tracker.phases
      p.get("analysis").foreach(s => add(Counter.AnalysisMs, s.durationMs))
      p.get("optimization").foreach(s => add(Counter.OptimizationMs, s.durationMs))
      p.get("planning").foreach(s => add(Counter.PlanningMs, s.durationMs))
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val d = e.progress.durationMs.asScala
      def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      add(Counter.StreamBatches, 1)
      add(Counter.TriggerMs, ms("triggerExecution"))
      add(Counter.AddBatchMs, ms("addBatch"))
      add(Counter.QueryPlanningMs, ms("queryPlanning"))
      add(Counter.WalCommitMs, ms("walCommit"))
    }
  }

  /** Stage wall of the first stage that read input since the last
    * [[resetFirstScan]] (the split's cached wide scan on media_etl). */
  val firstScanStage = new AtomicLong(-1L)
  def resetFirstScan(): Unit = firstScanStage.set(-1L)

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(executions)
  spark.streams.addListener(streams)

  /** Waits until the listener bus has delivered the end of every job
    * started so far (events reach a listener in order), then for a
    * short quiet period so trailing task and stage events land. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val now = c.map(_.sum).sum + jobsStarted.get
      if (jobsEnded.get >= jobsStarted.get && now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  def snapshot(): Snapshot = {
    settle()
    Snapshot(c.map(_.sum).toIndexedSeq,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      hookNanos.get + spanNanos, System.nanoTime())
  }

  // --------------------------------------------------------------- spans

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var spanNanos = 0L

  /** Records a span around `f`: name, start, end, parent and run id. */
  def span[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val id = spans.synchronized { spans += Span(name, t0, -1L, stack.get.headOption.getOrElse(-1), runId); spans.size - 1 }
    stack.set(id :: stack.get)
    val book = System.nanoTime() - t0
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      spans.synchronized { spans(id) = spans(id).copy(end = t1) }
      spanNanos += book + (System.nanoTime() - t1)
    }
  }

  def spanList: IndexedSeq[Span] = spans.synchronized(spans.toIndexedSeq)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spanList.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":"${s.run}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
  }
}

object Trace {
  object Counter extends Enumeration {
    val Jobs, Stages, Tasks, TaskFailures, ShuffleWriteBytes, ShuffleReadBytes, SpillBytes,
      InputBytes, ExecutorCpuNanos, ExecutorRunMs, GcMs, Executions, AnalysisMs,
      OptimizationMs, PlanningMs, StreamBatches, TriggerMs, AddBatchMs, QueryPlanningMs,
      WalCommitMs = Value
  }

  final case class Span(name: String, start: Long, end: Long, parent: Int, run: String)

  final case class Snapshot(counters: IndexedSeq[Long], compiles: Long, compileNanos: Long,
      overheadNanos: Long, at: Long) {
    def apply(k: Counter.Value): Long = counters(k.id)
    def -(o: Snapshot): Snapshot = Snapshot(counters.zip(o.counters).map { case (a, b) => a - b },
      compiles - o.compiles, compileNanos - o.compileNanos, overheadNanos - o.overheadNanos, at - o.at)
  }

  /** Self time per span name, in seconds, over the spans `include`
    * keeps: each span's duration minus the time its child spans cover,
    * summed by name. `parent` indexes into `spans`. */
  def selfTimes(spans: IndexedSeq[Span], include: Span => Boolean): Map[String, Double] = {
    val childNanos = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNanos(s.parent) += s.end - s.start)
    spans.indices.filter(i => include(spans(i))).groupMapReduce(spans(_).name) { i =>
      (spans(i).end - spans(i).start - childNanos(i)) / 1e9 } (_ + _)
  }
}
