package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOf

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def asofMap(left: Seq[(Long, Long, String)], right: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    val l = left.toDF("k", "t", "lv")
    val r = right.toDF("rk", "rt", "rv")
    AsOf.join(l, r, "k", "rk", "t", "rt")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        (if (row.isNullAt(5)) null else row.getString(5)))
      .toMap
  }

  test("basic: latest right at-or-before each left time, per key") {
    val m = asofMap(
      left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c")),
      right = Seq((1L, 5L, "r5"), (1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 11L, "r11")))
    assert(m((1L, 10L)) == "r10") // inclusive bound
    assert(m((1L, 20L)) == "r15") // latest <= 20
    assert(m((2L, 10L)) == null)  // right exists but only later
  }

  test("tolerance: matches older than the window null-extend") {
    import spark.implicits._
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "lv")
    val r = Seq((1L, 95L, "r95"), (1L, 110L, "r110"), (2L, 10L, "r10"))
      .toDF("rk", "rt", "rv")
    val m = AsOf.join(l, r, "k", "rk", "t", "rt", tolerance = 20L)
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        (if (row.isNullAt(5)) null else row.getString(5)))
      .toMap
    assert(m((1L, 100L)) == "r95")  // age 5 <= 20: kept
    assert(m((1L, 200L)) == null)   // nearest is r110, age 90: rejected
    assert(m((2L, 50L)) == null)    // age 40: rejected
    // tolerance boundary is inclusive
    val edge = AsOf.join(Seq((1L, 30L, "x")).toDF("k", "t", "lv"),
        Seq((1L, 10L, "r")).toDF("rk", "rt", "rv"),
        "k", "rk", "t", "rt", tolerance = 20L)
      .collect()(0)
    assert(edge.getString(5) == "r")
  }

  test("forward direction: earliest right at-or-after, per key") {
    import spark.implicits._
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 99L, "c"))
      .toDF("k", "t", "lv")
    val r = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 50L, "r50"))
      .toDF("rk", "rt", "rv")
    val m = AsOf.joinForward(l, r, "k", "rk", "t", "rt")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        (if (row.isNullAt(5)) null else row.getString(5)))
      .toMap
    assert(m((1L, 10L)) == "r10") // inclusive bound
    assert(m((1L, 20L)) == null)  // nothing at-or-after 20
    assert(m((2L, 99L)) == null)  // right exists but only earlier
    // with tolerance: earliest at-or-after, but not further than tol —
    // include a row whose forward match EXISTS but exceeds tol, so a
    // sign error in the negated-time gap arithmetic cannot pass
    val lt = Seq((1L, 10L, "a"), (1L, 11L, "near"), (1L, 20L, "b"))
      .toDF("k", "t", "lv")
    val mt = AsOf.joinForward(lt, r, "k", "rk", "t", "rt", Some(3L))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        (if (row.isNullAt(5)) null else row.getString(5)))
      .toMap
    assert(mt((1L, 10L)) == "r10") // gap 0 <= 3
    assert(mt((1L, 11L)) == null)  // nearest forward is r15, gap 4 > 3
    assert(mt((1L, 20L)) == null)
  }

  test("nearest direction: closer of backward/forward, ties backward") {
    import spark.implicits._
    val l = Seq((1L, 10L, "backCloser"), (1L, 18L, "fwdCloser"),
      (1L, 25L, "tie"), (2L, 5L, "onlyFwd"), (3L, 9L, "none"))
      .toDF("k", "t", "lv")
    val r = Seq((1L, 8L, "r8"), (1L, 20L, "r20"), (1L, 30L, "r30"),
      (2L, 50L, "r50")).toDF("rk", "rt", "rv")
    def run(tol: Option[Long]) =
      AsOf.joinNearest(l, r, "k", "rk", "t", "rt", tol)
        .collect()
        .map(row => (row.getLong(0), row.getLong(1)) ->
          (if (row.isNullAt(5)) null else row.getString(5)))
        .toMap
    val m = run(None)
    assert(m((1L, 10L)) == "r8")   // back gap 2 < fwd gap 10
    assert(m((1L, 18L)) == "r20")  // fwd gap 2 < back gap 10
    assert(m((1L, 25L)) == "r20")  // gaps equal (5): backward wins
    assert(m((2L, 5L)) == "r50")   // no backward candidate
    assert(m((3L, 9L)) == null)    // no candidate at all
    // tolerance cuts the far side: at t=18 fwd r20 (gap 2) stays,
    // at t=10 back r8 (gap 2) stays, but (2,5)'s fwd gap 45 dies
    val mt = run(Some(5L))
    assert(mt((1L, 10L)) == "r8" && mt((1L, 18L)) == "r20")
    assert(mt((2L, 5L)) == null)
  }

  test("no right rows at all -> all null (left outer)") {
    val m = asofMap(left = Seq((1L, 1L, "x")), right = Seq.empty)
    assert(m((1L, 1L)) == null)
  }

  test("keys present only on one side") {
    val m = asofMap(
      left = Seq((7L, 100L, "x"), (8L, 100L, "y")),
      right = Seq((8L, 50L, "r"), (9L, 10L, "z")))
    assert(m((7L, 100L)) == null && m((8L, 100L)) == "r")
  }

  test("stale match from earlier key never leaks to a later key") {
    // key 5 has an early right; key 6 has none — the key-equality check
    // on the buffered match must reject it
    val m = asofMap(
      left = Seq((5L, 10L, "x"), (6L, 10L, "y")),
      right = Seq((5L, 1L, "r1")))
    assert(m((5L, 10L)) == "r1" && m((6L, 10L)) == null)
  }

  test("many keys across partitions agrees with a window-based oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic synthetic data, 200 keys x several rows
    val l = (0 until 2000).map(i => (i.toLong % 200, (i * 37 % 1000).toLong, i.toLong))
      .toDF("k", "t", "lid")
    val r = (0 until 3000).map(i => (i.toLong % 200, (i * 61 % 1000).toLong, i.toLong))
      .toDF("rk", "rt", "rid")
    val got = AsOf.join(l, r, "k", "rk", "t", "rt")
      .select($"k", $"t", $"lid", $"rt", $"rid")
      .collect().map(x => x.getLong(2) -> (if (x.isNullAt(4)) -1L else x.getLong(4))).toMap
    // oracle: composed from built-ins (the expensive way the operator
    // replaces): join all right rows with rt <= t, keep max (rt, rid)
    val oracle = l.join(r, $"k" === $"rk" && $"rt" <= $"t", "left")
      .groupBy($"lid")
      .agg(max_by(struct($"rt", $"rid"), struct($"rt", $"rid")).as("m"))
      .select($"lid", $"m.rid")
      .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    assert(got.size == oracle.size)
    // rid choice on rt ties can differ (as-of keeps the last in sort
    // order); compare the matched rt instead for tie-robustness
    val gotRt = AsOf.join(l, r, "k", "rk", "t", "rt")
      .select($"lid", $"rt").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    val oracleRt = l.join(r, $"k" === $"rk" && $"rt" <= $"t", "left")
      .groupBy($"lid").agg(max($"rt").as("rt"))
      .select($"lid", $"rt").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    assert(gotRt == oracleRt)
  }

  test("extensions session: AQE-coalesced plan (no pre-repartition) stays aligned") {
    // aggressive AQE coalescing + ASYMMETRIC side sizes: if the two
    // ENSURE_REQUIREMENTS exchanges coalesced independently they
    // would land on different partition counts/boundaries and the
    // merge would misalign — this pins the SMJ-style guarantee that
    // sibling stages of a co-partitioning binary node coalesce as
    // one group.
    val s2 = spark.newSession()
    Seq("spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
      .foreach { case (k, v) => s2.conf.set(k, v) }
    import org.apache.spark.sql.functions._
    import s2.implicits._
    val l = (0 until 5000).map(i => (i.toLong % 500, (i * 37 % 1000).toLong, i.toLong))
      .toDF("k", "t", "lid")
    val r = (0 until 100000).map(i => (i.toLong % 500, (i * 61 % 1000).toLong, i.toLong))
      .toDF("rk", "rt", "rid")
    def rtMap(preShuffle: Boolean) =
      AsOf.join(l, r, "k", "rk", "t", "rt", preShuffle)
        .select($"lid", $"rt").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    val oracleRt = l.join(r, $"k" === $"rk" && $"rt" <= $"t", "left")
      .groupBy($"lid").agg(max($"rt").as("rt"))
      .select($"lid", $"rt").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    // green BOTH ways: the AQE-friendly default and the pinned path
    assert(rtMap(preShuffle = false) == oracleRt)
    assert(rtMap(preShuffle = true) == oracleRt)
    // the extensions default really drops the user repartition
    val plan = AsOf.join(l, r, "k", "rk", "t", "rt")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("REPARTITION_BY_NUM"), s"unexpected pinned repartition:\n$plan")
    assert(plan.contains("ENSURE_REQUIREMENTS"), s"expected planner exchanges:\n$plan")
  }

  test("stock session: AsOf.join self-installs and pre-shuffles to the same rows; Engine registers the SQL functions") {
    val left = (0 until 2000).map(i => (i.toLong % 200, (i * 37 % 1000).toLong, i.toLong))
    val right = (0 until 3000).map(i => (i.toLong % 200, (i * 61 % 1000).toLong, i.toLong))
    def rows(s: SparkSession) = {
      import s.implicits._
      val j = AsOf.join(left.toDF("k", "t", "lid"), right.toDF("rk", "rt", "rid"),
        "k", "rk", "t", "rt")
      (j.select($"lid", $"rt").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap,
        j.queryExecution.executedPlan.toString)
    }
    val (graftRows, _) = rows(spark)
    val stock = TestSession.stock()
    assert(!stock.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy))
    val (stockRows, stockPlan) = rows(stock)
    assert(stockRows.size == left.size && stockRows == graftRows)
    // the fallback path: strategy self-installed, both sides pinned
    assert(stock.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
    assert(stockPlan.contains("AsOfJoin") && stockPlan.contains("REPARTITION_BY_NUM"),
      s"expected the pre-shuffled fallback plan:\n$stockPlan")
    intercept[org.apache.spark.sql.AnalysisException](
      stock.sql("SELECT fuzz_ratio('abcd', 'abed')").collect())
    val eng = new graft.query.Engine(stock, "/root/testdata/sf0.001")
    val r = eng.query("SELECT fuzz_ratio('abcd', 'abed') AS f").head()
    assert(r.getDouble(0) == 75.0)
  }
}
