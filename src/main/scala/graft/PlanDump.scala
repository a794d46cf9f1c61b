package graft

import graft.util.Sessions

/** Prints `explain(formatted)` for selected queries — the plan-review loop:
  * check PushedFilters / ReadSchema on every scan, broadcast vs shuffle on
  * every join, and WholeStageCodegen span coverage.
  * `runMain graft.PlanDump [query ...]` (default: headline queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.start("local[4]")
    val names = if (args.nonEmpty) args.toSeq else operators.Surface.headlines
    names.foreach { n =>
      println(s"\n========== $n ==========")
      operators.Surface.registry(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
