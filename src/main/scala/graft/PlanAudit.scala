package graft


/** Plan-shape audit across every registered query: prints per-query
  * counts of shuffles, broadcasts, nested loops, and sort-merge joins so
  * scale regressions (an accidental cartesian, a shuffle that appeared
  * after a refactor) are visible at a glance. The reference pins plans
  * the same way (`Tests/ExplainTest.cpp`).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession("8", "ERROR")
    def count(s: String, what: String): Int =
      what.r.findAllIn(s).length
    println(f"${"query"}%-28s shuf bcast bnlj cart smj scan")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        println(f"$name%-28s ${count(plan, "Exchange hashpartitioning")}%4d " +
          f"${count(plan, "BroadcastExchange")}%5d " +
          f"${count(plan, "BroadcastNestedLoopJoin")}%4d " +
          f"${count(plan, "CartesianProduct")}%4d " +
          f"${count(plan, "SortMergeJoin")}%3d " +
          f"${count(plan, "FileScan parquet")}%4d")
      } catch { case e: Throwable =>
        println(f"$name%-28s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
