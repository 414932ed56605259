package graft.tools

import graft.Scope
import graft.operators.Dedup

/** Dev utility: print the physical plan and wall time of one named
  * SparkEntry query. Usage: runMain graft.tools.Explain <name> [sfDir] [mode]
  * (`mode` is an `explain` mode, default `formatted`; `codegen` also
  * turns AQE off so the whole-stage code is the final code).
  *
  * Two extra names explain the plain lazy plan of queries that seal
  * their output behind a checkpoint (whose own plan is a checkpoint
  * scan): `q139_setsim_join_lazy` and `q144_containment_join_lazy`
  * build the operator under [[graft.Scope.Lazy]].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(32)
    val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      name match {
        case "q139_setsim_join_lazy" => Dedup.setsimJoin(_, _, Scope.Lazy)
        case "q144_containment_join_lazy" => Dedup.containmentJoin(_, _, Scope.Lazy)
        case _ => graft.SparkEntry.queries(name)
      }
    val mode = if (args.length > 2) args(2) else "formatted"
    if (mode == "codegen") spark.conf.set("spark.sql.adaptive.enabled", "false")
    fn(spark, sfDir).explain(mode)
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
