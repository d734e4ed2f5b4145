package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for the named queries to files —
  * the evidence artifacts behind plans/r13/<query>_{before,after}.txt
  * (round-13 optimization round; guide §7.2 "read the plan").
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<name>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus, "ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
