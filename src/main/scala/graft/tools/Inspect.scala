package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev utility: time and/or explain a single query.
  * Usage: Inspect <queryName> <sfDir> [explain]
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val doExplain = args.contains("explain")
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    // warm + timed runs
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // the AQE-final plan only materializes on THIS Dataset's own
      // executedPlan — count() plans a separate aggregate query and
      // leaves df's AdaptiveSparkPlan unexecuted (isFinalPlan=false
      // forever), so the exec dump collects instead (r17 fix)
      val n = if (args.contains("explainExec")) df.collect().length.toLong
              else df.count()
      println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      if (i == 1 && args.contains("explainExec"))
        println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
