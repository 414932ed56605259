package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HeavyHittersAgg

/** Misra-Gries guarantees under real eviction + merge pressure:
  * a 1000-item vocabulary forced through capacity-16 summaries whose
  * partials merge across partitions.
  */
class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** Zipf-ish skewed stream: item i appears ~ N/(i+1) times. */
  private def skewed = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.range(0, 1000)
      .select($"id", greatest(expr("3000 DIV (id + 1)"), lit(1)).as("reps"))
      .select(explode(expr("array_repeat(id, CAST(reps AS INT))")).as("i"))
      .select(concat(lit("w"), $"i").as("item"))
  }

  test("bounds hold and frequent items are never missed, at any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val exact = skewed.groupBy($"item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    for (parts <- Seq(3, 11)) {
      val row = skewed.repartition(parts)
        .agg(HeavyHittersAgg.heavy_hitters($"item", 16).as("s"))
        .select($"s.total", $"s.items").collect()(0)
      assert(row.getLong(0) == n)
      val items = row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(items.nonEmpty && items.size <= 16)
      val err = items.head._3 - items.head._2 // count_max - count_min
      assert(err <= n / 17, s"error $err exceeds N/(k+1) = ${n / 17}")
      // sandwich bound on every reported item
      items.foreach { case (item, lo, hi) =>
        val t = exact(item)
        assert(lo <= t && t <= hi, s"$item: true $t outside [$lo, $hi]")
      }
      // no false negatives above the error: every item whose true
      // count exceeds the accumulated error must be present
      val reported = items.map(_._1).toSet
      exact.filter(_._2 > err).keys.foreach { hot =>
        assert(reported.contains(hot), s"frequent item $hot missing (err=$err)")
      }
    }
  }

  test("SQL surface: heavy_hitters aggregates through spark.sql") {
    val r = spark.sql(
      """SELECT s.total AS total, size(s.items) AS k
        |FROM (SELECT heavy_hitters(CAST(id % 7 AS STRING), 8) AS s
        |      FROM range(700))""".stripMargin).collect()(0)
    assert(r.getLong(0) == 700 && r.getInt(1) == 7)
  }
}
