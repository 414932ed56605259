package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.GraftCoreBridge
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{GateBatch, GatePhase, SegStore}

/** The segment-batch protocol of [[GateBatch.store]], driven directly
  * on a tiny bucketed store: what a batch leaves behind when its body
  * throws after a write or a probe has started, and what a returning
  * body commits. The writes and probes run a sleeping UDF, so they are
  * still running when the body throws.
  */
class GateBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val sc = spark.sparkContext

  private val slow = udf((x: Long) => { Thread.sleep(1000L); x })

  /** A fresh store with one bucketed sub-table `kv` (k, v). */
  private def store(): (String, String) = {
    val work = Files.createTempDirectory("graft_gatebatch_").toString
    val root = s"$work/store"
    SegStore.ensureBucketed(spark, root, "kv", "k BIGINT, v BIGINT", Seq("k"), 2)
    (root, s"$work/ckpt")
  }

  private def frame = spark.range(4).selectExpr("id AS k", "id * 10 AS v")

  private def partRows(root: String, id: Long): Long = {
    val dir = new File(SegStore.bucketedPartPath(root, "kv", id))
    if (!dir.isDirectory || !dir.listFiles().exists(_.getName.endsWith(".parquet"))) 0L
    else spark.read.parquet(dir.getPath).count()
  }

  private def activeJobs(): Seq[Int] = {
    GraftCoreBridge.drainListenerBus(sc)
    sc.statusTracker.getActiveJobIds().toSeq
  }

  test("a body that throws after b.write surfaces only once the write has landed, uncommitted and released") {
    val (root, ckpt) = store()
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      GateBatch.store(spark, root, ckpt, compactEvery = 8) { b =>
        val kv = b.scope.ckpt(b.frame)
        b.write(Seq("kv" -> kv.select(col("k"), slow(col("v")).as("v"))))
        throw new IllegalStateException("body failed after the write started")
      }(frame, 0L)
    }
    assert(e.getMessage.contains("after the write started"))
    assert(partRows(root, 0L) == 4L,
      "the exception surfaced before the started INSERT landed")
    assert(activeJobs().isEmpty, "a job of the failed batch is still running")
    assert(SegStore.committed(spark, root).isEmpty, "a failed batch committed")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the failed batch left a persistent RDD")
  }

  test("a body that throws after b.probe leaves no persistent RDD") {
    val (root, ckpt) = store()
    val before = sc.getPersistentRDDs.keySet
    val probed = new CountDownLatch(1)
    intercept[IllegalStateException] {
      GateBatch.store(spark, root, ckpt, compactEvery = 8) { b =>
        b.probe {
          val r = b.scope.ckpt(b.frame.select(col("k"), slow(col("v")).as("v")))
          probed.countDown()
          r
        }
        throw new IllegalStateException("body failed after the probe started")
      }(frame, 0L)
    }
    // the probe's checkpoint exists by now (on a protocol that left the
    // probe running, this waits for it to register into a closed scope)
    assert(probed.await(60, TimeUnit.SECONDS), "the probe never finished")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the probe's late checkpoint outlived the failed batch")
    assert(SegStore.committed(spark, root).isEmpty)
  }

  test("a returning body commits once, with the run id, after its writes; a replay is a no-op") {
    val (root, ckpt) = store()
    new File(ckpt).mkdirs()
    Files.write(new File(ckpt, "metadata").toPath,
      """{"id":"gate-batch-run"}""".getBytes("UTF-8"))
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    GatePhase.hook = (n, _) => phases.synchronized { phases += n; () }
    var bodies = 0
    val run = GateBatch.store(spark, root, ckpt, compactEvery = 8) { b =>
      bodies += 1
      assert(b.id == 3L && !b.compactDue && b.active.isEmpty)
      b.write(Seq("kv" -> b.frame.select(col("k"), slow(col("v")).as("v"))))
      false
    }
    try {
      run(frame, 3L)
      assert(bodies == 1)
      assert(phases.count(_ == "commit") == 1, s"phases: $phases")
      assert(SegStore.committed(spark, root).map(s => (s.id, s.base)) == Seq((3L, false)))
      val seg = new File(SegStore.segPath(root, 3L, base = false))
      val marker = new File(seg, "_GRAFT_COMMITTED")
      assert(new String(Files.readAllBytes(marker.toPath), "UTF-8") == "gate-batch-run")
      assert(partRows(root, 3L) == 4L)
      val written = new File(SegStore.bucketedPartPath(root, "kv", 3L)).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
      assert(marker.lastModified >= written, "the marker was written before the INSERT landed")
      // the same batch id again: the body does not run, nothing commits
      run(frame, 3L)
      assert(bodies == 1, "a committed batch's replay ran the body")
      assert(phases.count(_ == "commit") == 1)
      assert(SegStore.isApplied(spark, root, 3L, "gate-batch-run"))
    } finally GatePhase.hook = (_, _) => ()
  }
}
