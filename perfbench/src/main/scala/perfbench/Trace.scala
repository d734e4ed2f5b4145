package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans and counts for the traced ops of one run.
  *
  * A span is (op id, name, start, end) on the run's nanosecond timeline.
  * Spark jobs are tagged with the op id through the local property
  * [[Trace.OpProperty]]; query executions reach the listener after the
  * action returns, and the run drains the listener bus before the next op,
  * so each callback belongs to the op that is current when it arrives.
  * Everything stays in memory until the run writes it out.
  */
final class Trace(spark: SparkSession, t0Nanos: Long, mvPathMarker: String) {
  // epoch milliseconds -> run timeline nanoseconds
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs - t0Nanos
  def now: Long = System.nanoTime() - t0Nanos

  val spans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  val counts = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  @volatile private var current = -1

  def add(op: Int, key: String, v: Double): Unit = synchronized {
    val m = counts.getOrElseUpdate(op, mutable.HashMap.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def span(op: Int, name: String, start: Long, end: Long): Unit =
    synchronized { spans += ((op, name, start, end)) }

  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // job id -> (op id, start epoch ms)
  private val openJobs =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
        .foreach { id =>
          val op = id.toInt
          e.stageIds.foreach(s => stageOp.put(s, op))
          openJobs.put(e.jobId, (op, e.time))
          add(op, "jobs", 1)
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (op, st) =>
        span(op, "job", fromEpochMs(st), fromEpochMs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach(op => add(op, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        add(op, "tasks", 1)
        val info = e.taskInfo
        add(op, "task_wall_ms", (info.finishTime - info.launchTime).toDouble)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "task_run_ms", m.executorRunTime.toDouble)
          add(op, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(op, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(op, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
          add(op, "output_records", m.outputMetrics.recordsWritten.toDouble)
        }
      }
  }

  private val phases = Seq("parsing" -> "catalyst.parse",
    "analysis" -> "catalyst.analyze", "optimization" -> "catalyst.optimize",
    "planning" -> "catalyst.plan")

  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val op = current
      if (op >= 0) {
        add(op, "qe", 1)
        val ph = qe.tracker.phases
        phases.foreach { case (k, name) =>
          ph.get(k).foreach { p =>
            span(op, name, fromEpochMs(p.startTimeMs), fromEpochMs(p.endTimeMs))
          }
        }
        val mv = qe.optimizedPlan.collectLeaves().exists {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(mvPathMarker))
            case _ => false
          }
          case _ => false
        }
        if (mv) add(op, "mv_scans", 1)
      }
    }
  }

  /** Start tracing op `id`: listeners on, jobs tagged. */
  def begin(id: Int): Unit = {
    current = id
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
  }

  /** Stop tracing: deliver pending events, then listeners off. */
  def end(): Unit = {
    spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    current = -1
    spark.listenerManager.unregister(queries)
    spark.sparkContext.removeSparkListener(jobs)
  }
}

object Trace {
  val OpProperty = "perfbench.op"
}
