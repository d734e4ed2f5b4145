// Spark's listener bus is private to the spark package; the drain below is
// the one call the counter needs from it.
package org.apache.spark.graftbridge {
  object ListenerBusDrain {
    def apply(sc: org.apache.spark.SparkContext): Unit =
      sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

  import org.apache.spark.graftbridge.ListenerBusDrain
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession
  import java.util.concurrent.atomic.AtomicInteger

  /** Exact count of the Spark jobs a block starts. Only jobs carrying
    * this call's tag count: the tag is a local property, which Spark
    * hands to every job the calling thread (or a thread it spawns, such
    * as a broadcast or subquery) submits, so a job left running by
    * another spec in the same JVM is never counted. The listener bus is
    * asynchronous: it is drained before the count is read, so the
    * block's last job start has been delivered.
    */
  object JobCounter {
    private val TagKey = "graft.test.jobCounter"

    def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
      val sc = spark.sparkContext
      val tag = java.util.UUID.randomUUID().toString
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty(TagKey) == tag)
            jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty(TagKey, tag)
      try {
        val out = body
        ListenerBusDrain(sc)
        (out, jobs.get)
      } finally {
        sc.setLocalProperty(TagKey, null)
        sc.removeSparkListener(listener)
      }
    }

    /** Jobs started by `body`, its result discarded. */
    def count(spark: SparkSession)(body: => Any): Int = apply(spark)(body)._2
  }
}
