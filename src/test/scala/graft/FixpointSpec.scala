package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[Fixpoint]] round contract on tiny hand-built frames: the
  * number of rounds, the witness of each, the early stop, the
  * `maxRounds` cap and the release of every round but the live one.
  * Rounds and witnesses are deterministic where job counts are not
  * (AQE may group checkpoint stages into jobs differently run to run).
  */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** Path 0-1-...-L as a symmetric edge list. */
  private def path(L: Int): DataFrame = {
    import spark.implicits._
    val e = (0 until L).map(i => (i.toLong, i + 1L))
    (e ++ e.map(_.swap)).toDF("src", "dst")
  }

  private val lblSum = coalesce(sum(col("lbl").cast("decimal(38,0)")),
    lit(java.math.BigDecimal.ZERO)).as("lblsum")

  /** One hash-min round: each node takes the min label of itself and
    * its neighbors.
    */
  private def hashMin(edges: DataFrame)(labels: DataFrame): DataFrame =
    labels.union(edges.join(labels.withColumnRenamed("id", "src"), "src")
      .select(col("dst").as("id"), col("lbl")))
      .groupBy("id").agg(min("lbl").as("lbl"))

  private def initLabels(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).distinct().select(col("id"), col("id").as("lbl"))

  /** Label sum after round r on path 0..L: node i holds max(0, i - r). */
  private def pathSum(L: Int, r: Int): Row = {
    val k = math.max(L - r, 0).toLong
    Row(java.math.BigDecimal.valueOf(k * (k + 1) / 2))
  }

  test("hash-min on a path of length L runs L + 1 rounds; witnesses are the label sums") {
    val L = 5
    val edges = path(L)
    val r = Scope { sc =>
      val init = Fixpoint.ckpt(sc, initLabels(edges))(lblSum)
      val res = Fixpoint.iterate(sc, init, maxRounds = 64)(hashMin(edges))(lblSum)(_ == _)
      (res.rounds, res.witnesses, res.converged,
        res.state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val (rounds, witnesses, converged, labels) = r
    // L rounds move the minimum to the far end; round L + 1 changes nothing
    assert(rounds == L + 1)
    assert(witnesses == (0 to L).map(pathSum(L, _)) :+ pathSum(L, L))
    assert(converged)
    assert(labels == (0L to L).map(_ -> 0L).toMap)
  }

  test("done stops early; the maxRounds cap reports converged = false") {
    val L = 6
    val edges = path(L)
    Scope { sc =>
      val init = Fixpoint.ckpt(sc, initLabels(edges))(lblSum)
      // stop at the first round whose sum is at most 6 (round 3 on L = 6)
      val early = Fixpoint.iterate(sc, init, maxRounds = 64)(hashMin(edges))(lblSum)(
        (_, w) => w.getDecimal(0).intValue <= 6)
      assert(early.rounds == 3 && early.converged)
      assert(early.witnesses.last == pathSum(L, 3))
    }
    Scope { sc =>
      val init = Fixpoint.ckpt(sc, initLabels(edges))(lblSum)
      val capped = Fixpoint.iterate(sc, init, maxRounds = 3)(hashMin(edges))(lblSum)(_ == _)
      assert(capped.rounds == 3 && !capped.converged)
      assert(capped.witnesses == (0 to 3).map(pathSum(L, _)))
      val e = intercept[IllegalArgumentException](capped.convergedState("hashMin"))
      assert(e.getMessage.contains("hashMin: not converged after 3 rounds"), e.getMessage)
    }
  }

  test("an observed round 0 that is already done runs no round") {
    val edges = path(3)
    var steps = 0
    Scope { sc =>
      val init = Fixpoint.ckpt(sc, initLabels(edges))(lblSum)
      val r = Fixpoint.iterate(sc, init, maxRounds = 8) { l => steps += 1; hashMin(edges)(l) }(
        lblSum)((_, w) => w.getDecimal(0).signum > 0)
      assert(r.rounds == 0 && r.converged && (r.state eq init.state))
    }
    assert(steps == 0)
  }

  test("a lazy init with no witness runs maxRounds plain checkpoints") {
    val edges = path(4)
    Scope { sc =>
      val r = Fixpoint.iterate(sc, Fixpoint.Round(initLabels(edges)), maxRounds = 2)(
        hashMin(edges))()((_, _) => false)
      assert(r.rounds == 2 && !r.converged)
      assert(r.witnesses.forall(_.size == 0))
      assert(r.state.collect().map(_.getLong(1)).sorted.toSeq == Seq(0L, 0L, 0L, 1L, 2L))
    }
  }

  test("at a round boundary only the previous round's frames are held") {
    val sctx = spark.sparkContext
    val edges = path(6)
    val before = sctx.getPersistentRDDs.keySet
    val held = scala.collection.mutable.ArrayBuffer.empty[Int]
    Scope { sc =>
      val init = Fixpoint.ckpt(sc, initLabels(edges))(lblSum)
      Fixpoint.iterate(sc, init, maxRounds = 64) { labels =>
        held += (sctx.getPersistentRDDs.keySet -- before).size
        // a frame the step persists lives exactly as long as its round
        sc.persist(labels.where(col("lbl") > 0)).count()
        hashMin(edges)(labels)
      }(lblSum)(_ == _)
    }
    // round 1 sees init's checkpoint; later rounds the previous round's
    // checkpoint plus the cache its step persisted — never more
    assert(held.head == 1, held)
    assert(held.tail.nonEmpty && held.tail.forall(_ == 2), held)
    assert((sctx.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("forward-push releases every round but the last before its seal job starts") {
    import spark.implicits._
    val sctx = spark.sparkContext
    // path 0-1-...-6: node 0 is the one seed, and its mass keeps
    // pushing along the path for all 5 rounds
    val cs = (0L until 6L).map(i => (i, i + 1)).toDF("c", "s")
    val before = sctx.getPersistentRDDs.keySet
    // bus order of job starts (with the persisted RDD a checkpoint job
    // computes, else -1) and RDD unpersists
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val result = j.stageInfos.maxBy(_.stageId).rddInfos.head
        events.add("job" -> (if (result.storageLevel.isValid) result.id else -1))
      }
      override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit =
        events.add("unpersist" -> u.rddId)
    }
    GraftCoreBridge.drainListenerBus(sctx)
    sctx.addSparkListener(listener)
    val out = try {
      val out = graft.operators.GraphOps.forwardPush(spark, cs,
        graft.operators.BipartiteGraph.degreesOf(cs), earlyExit = true, maxRounds = 5)
      GraftCoreBridge.drainListenerBus(sctx)
      out
    } finally sctx.removeSparkListener(listener)
    val ev = events.asScala.toVector
    val sealAt = ev.lastIndexWhere(_._1 == "job")
    val computed = ev.take(sealAt).collect { case ("job", id) if id >= 0 => id }.toSet
    val freed = ev.take(sealAt).collect { case ("unpersist", id) if computed(id) => id }.toSet
    // rounds 1-4 are released before the seal; still held are the last
    // round and the push's edge and seed caches (which AQE may build
    // in jobs of their own)
    assert(freed.size >= 4 && (computed -- freed).size <= 3,
      s"round checkpoints still held at the seal: $ev")
    val mass = out.agg(sum($"est" + $"res")).head.getLong(0)
    assert(mass > 0L && mass <= graft.operators.GraphOps.PprTotal)
    sctx.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
