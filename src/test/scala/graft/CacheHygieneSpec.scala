package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the drop-on-return cache policy (round-9 ADVICE #5) for the
  * WHOLE query surface: after any `SparkEntry.queries` entry returns
  * and its result is consumed, the only block-holding RDD allowed to
  * remain is the query's own sealed output (the [[Scope.seal]]
  * checkpoint — at most ONE persistent RDD). Queries that return a
  * plain lazy plan leave zero. Anything else is a leak: an embedding
  * application calling that query in a loop would accumulate dead
  * cache blocks per call, exactly the failure mode the policy exists
  * to prevent.
  *
  * The sweep between queries mirrors what a caller must do with the
  * sealed output once consumed (`localCheckpoint` blocks are not in
  * the SQL cache manager, so only an RDD-level unpersist releases
  * them); the assertion is on what a query leaves BEYOND that.
  *
  * The failure-path pins hold [[Scope]] to the same standard when
  * the body throws.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSession.spark

  test("every query releases its caches on return (only the output's own blocks remain)") {
    val sc = spark.sparkContext
    // start clean: earlier suites in the same JVM may have left blocks
    GraftSession.reset(spark)
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = sc.getPersistentRDDs.keySet
        val df = fn(spark, sf)
        df.count() // consume: lazy plans run their internal persists here
        // blocks the RETURNED plan itself is backed by (the Scope
        // seal, or a checkpoint the lazy output legitimately reads)
        // are the caller's to release — everything else is a leak
        val outIds = df.queryExecution.logical.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }.toSet
        val leaked = sc.getPersistentRDDs.keySet -- before -- outIds
        // sweep so query N's residue never hides query N+1's leak
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = false)
        }
        if (leaked.nonEmpty) Some(name -> leaked.size) else None
    }
    assert(leaks.isEmpty,
      s"queries holding blocks beyond their own output: ${leaks.mkString(", ")}")
  }

  test("a Scope body that persists, checkpoints and then throws leaves no persistent RDD") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Scope { s =>
        val p = s.persist(spark.range(1000).toDF("id"))
        p.count() // materialize the cache blocks
        s.ckpt(p.where("id % 2 = 0"))
        throw new IllegalStateException("body failed after materializing")
      }
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed scope left persistent RDDs: $leaked")
  }

  test("bfsHops with no seed nodes throws and leaves no persistent RDD") {
    import spark.implicits._
    // every customer key shifted past the seed range (node <= 20)
    val dir = java.nio.file.Files.createTempDirectory("graft_noseed_").toString
    Tables.load(spark, sf, "lineitem").write.parquet(s"$dir/lineitem.parquet")
    Tables.load(spark, sf, "orders")
      .withColumn("o_custkey", $"o_custkey" + 1000000L)
      .write.parquet(s"$dir/orders.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      graft.operators.GraphOps.bfsHops(spark, dir, earlyExit = true)
    }
    assert(e.getMessage.contains("no seed nodes"), e.getMessage)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"empty-seed bfsHops left persistent RDDs: $leaked")
  }

  test("a Fixpoint step that throws in round 2 leaves no persistent RDD") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var ckptsAtThrow = 0
    intercept[IllegalStateException] {
      Scope { s =>
        val init = Fixpoint.Round(spark.range(100).toDF("id"))
        Fixpoint.iterate(s, init, maxRounds = 5) { df =>
          if (!(df eq init.state)) {
            ckptsAtThrow = (sc.getPersistentRDDs.keySet -- before).size
            throw new IllegalStateException("step failed in round 2")
          }
          df.select(($"id" + 1).as("id"))
        }()((_, _) => false)
      }
    }
    assert(ckptsAtThrow == 1, "round 1's checkpoint should exist when round 2 throws")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed Fixpoint left persistent RDDs: $leaked")
  }

  test("connectedComponents past its maxRounds throws not-converged and leaves no persistent RDD") {
    import spark.implicits._
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      graft.operators.Training.connectedComponents(chain, maxRounds = 3)
    }
    assert(e.getMessage.contains("not converged after 3 rounds"), e.getMessage)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"capped connectedComponents left persistent RDDs: $leaked")
  }
}
