package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session set-up shared by the harness mains
  * (Verify, Bench, the probes, the scale runs) and the test session:
  * `local[cores]` with as many shuffle partitions, UTC session time,
  * no UI, a per-JVM scratch warehouse, and the given log level.
  * `extra` adds settings a caller needs on top (SpillProbe's forced
  * spill, the test session's app name).
  */
object LocalSession {
  def apply(cores: String, logLevel: String = "WARN",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = extra.foldLeft(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", Stage.scratchDir("warehouse"))) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
