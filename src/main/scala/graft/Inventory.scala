package graft

/** Prints the registered query inventory: one header line
  * `count=<queries> oracles=<oracle texts> sql_bodies=<queries whose
  * oracle text is their only implementation>`, then the sorted names.
  *
  * Round-close gate tooling: the round-8 verdict required the closing
  * sweep / plan audit to cover exactly `SparkEntry.queries.size`
  * queries ("positional gate"). This main gives the scripts that check
  * that claim a mechanical source of truth without spinning up Spark.
  */
object Inventory {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    println(s"count=${names.size} oracles=${SparkEntry.oracleSql.size} " +
      s"sql_bodies=${SparkEntry.sqlBodied.size}")
    names.foreach(println)
  }
}
