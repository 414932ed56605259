package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKByAgg.top_k_by

class TopKBySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("top_k_by across many partitions equals the window formulation") {
    import spark.implicits._
    // deterministic synthetic data with heavy ties, scattered over 13
    // partitions so partial heaps MUST merge through serialization
    val df = (0 until 5000)
      .map(i => (i % 20, (i * 7 % 50).toDouble, i.toLong))
      .toDF("g", "v", "p")
      .repartition(13)
    val got = df.groupBy($"g")
      .agg(top_k_by($"v", $"p", 5).as("top"))
      .select($"g", posexplode($"top").as(Seq("pos", "t")))
      .select($"g", $"pos", $"t.value", $"t.payload")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"p")
    val exp = df.withColumn("rn", row_number().over(w))
      .where($"rn" <= 5)
      .select($"g", ($"rn" - 1).as("pos"), $"v", $"p")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == exp)
  }

  test("k larger than group size returns the whole group, ordered") {
    import spark.implicits._
    val df = Seq((1, 2.0, 10L), (1, 5.0, 11L), (1, 5.0, 9L)).toDF("g", "v", "p")
    val rows = df.groupBy($"g").agg(top_k_by($"v", $"p", 10).as("top"))
      .select(posexplode($"top").as(Seq("pos", "t")))
      .select($"t.value", $"t.payload")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(rows == Seq((5.0, 9L), (5.0, 11L), (2.0, 10L))) // value desc, payload asc
  }
}
