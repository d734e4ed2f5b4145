package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Spill-not-grow probe (round-12; VERDICT r11 #5). Runs one
  * SparkEntry query in THIS JVM with a deliberately bounded execution
  * budget:
  *  - the JVM heap is whatever the caller set (the spec launches it at
  *    2g — half the 1 GB/core shape SCALE.md's heap curve recommends);
  *  - `spark.shuffle.spill.numElementsForceSpillThreshold` (a static
  *    core conf, settable only at context start — hence the separate
  *    JVM) forces every UnsafeExternalSorter — sort-exec, SMJ sorts,
  *    aggregate fallback sorters — to spill to disk in bounded runs,
  *    the exact code path real memory pressure triggers;
  *  - broadcast joins are disabled so the join paths actually sort.
  *
  * Prints ONE JSON line: {"query":…, "rows":N, "hash":…, "spill":bytes,
  * "wall":sec} where `hash` is a canonical order-independent digest of
  * the result rows (the spec compares it to an unconstrained in-session
  * run) and `wall` is the SECOND (warm) execution, so the band compare
  * isn't polluted by parquet listing/codegen warm-up.
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val (name, sfDir) = (args(0), args(1))
    val forceEvery = if (args.length > 2) args(2) else "20000"
    val spark = LocalSession("4", extra = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> forceEvery))
    val spill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    })
    val q = SparkEntry.queries(name)
    def runOnce(): (Long, String, Double) = {
      val t0 = System.nanoTime()
      val rows = q(spark, sfDir).collect().map(_.toString).sorted
      val wall = (System.nanoTime() - t0) / 1e9
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update(r.getBytes("UTF-8")))
      (rows.length.toLong,
        md.digest().map("%02x".format(_)).mkString, wall)
    }
    runOnce() // warm-up pass (also spills; listener keeps counting)
    val (n, hash, wall) = runOnce()
    Thread.sleep(2000) // drain the async listener bus
    println(s"""{"query":"$name","rows":$n,"hash":"$hash",""" +
      s""""spill":${spill.get},"wall":$wall}""")
    spark.stop()
  }
}
