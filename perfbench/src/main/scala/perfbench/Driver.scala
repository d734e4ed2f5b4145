package perfbench

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{HeavyEngine, SparkEntry, Stage}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Executes one benchmark plan in a closed loop with a single client.
  *
  * The plan (written by `run.py`) fixes every input: the fixture directory,
  * the set-up statements, the warm-up ops and the timed op sequence. This
  * program only calls the engine's public entry points — `HeavyEngine.apply`
  * / `HeavyEngine.sql`, `SparkEntry.queries`, `Stage.buildSecs` /
  * `Stage.clearCache` — and Spark's listener and metrics APIs, and writes
  * what it measured to `<out>/run.json` and the result rows it must check
  * to `<out>/results.jsonl`.
  *
  * Usage: perfbench.Driver <plan.json> <outDir>
  */
object Driver {

  final case class Op(id: Int, kind: String, cls: String, text: String,
      dump: Boolean, boundary: Boolean)

  private def ops(n: JsonNode): Seq[Op] =
    n.elements().asScala.map { o =>
      Op(o.get("id").asInt, o.get("kind").asText, o.path("class").asText(""),
        o.path("text").asText(""), o.path("dump").asBoolean(false),
        o.path("boundary").asBoolean(true))
    }.toSeq

  final case class Done(op: Op, wallNs: Long, ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val out = new File(args(1))
    val dataDir = plan.get("data").asText
    val cpus = plan.get("cpus").asInt
    // The loop runs every timed op unless it passes this many seconds,
    // checked at cycle ends only, so a run always measures whole cycles.
    val maxSeconds = plan.get("max_seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val tmp = plan.get("tmp").asText
    val prep = plan.get("prep").elements().asScala.map(_.asText).toSeq
    val warmup = ops(plan.get("warmup"))
    val timed = ops(plan.get("timed"))
    val after = ops(plan.get("after"))

    // Set-up, once per JVM: session start to the first timed op.
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s1 = System.nanoTime()
    val engine = HeavyEngine(spark, dataDir)
    val s2 = System.nanoTime()
    val kept = mutable.LinkedHashMap.empty[Int, (StructType, Array[Row])]

    def ms(a: Long, b: Long): Double = (b - a) / 1e6

    def execute(op: Op, t: Option[Trace]): Done = {
      val start = System.nanoTime()
      def mark(name: String, a: Long, b: Long): Unit =
        t.foreach(tr => tr.span(op.id, name, a - t0, b - t0))
      try {
        op.kind match {
          case "sql" =>
            val a = System.nanoTime()
            val df = engine.sql(op.text)
            val b = System.nanoTime()
            val rows = df.collect()
            val c = System.nanoTime()
            mark("frontdoor", a, b); mark("execute", b, c)
            if (op.dump) kept(op.id) = (df.schema, rows)
          case "body" | "body_rows" =>
            val a = System.nanoTime()
            val df: DataFrame = SparkEntry.queries(op.text)(spark, dataDir)
            val b = System.nanoTime()
            if (op.kind == "body")
              df.write.mode("overwrite").format("noop").save()
            else {
              val rows = df.collect()
              if (op.dump) kept(op.id) = (df.schema, rows)
            }
            val c = System.nanoTime()
            mark("build", a, b); mark("execute", b, c)
        }
        Done(op, System.nanoTime() - start, ok = true, null)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Done(op, System.nanoTime() - start, ok = false,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
    }

    def runUntraced(op: Op): Done =
      if (op.kind == "clear_stage") { Stage.clearCache(); null }
      else execute(op, None)

    prep.foreach(s => engine.sql(s).collect())
    val s3 = System.nanoTime()
    warmup.foreach { op =>
      val r = runUntraced(op)
      if (r != null && !r.ok)
        System.err.println(s"[perfbench] warm-up op ${op.id} failed: ${r.error}")
    }
    val s4 = System.nanoTime()
    val setup = Map("session_ms" -> ms(t0, s1), "engine_ms" -> ms(s1, s2),
      "prep_ms" -> ms(s2, s3), "warmup_ms" -> ms(s3, s4),
      "total_ms" -> ms(t0, s4))

    val tracer = if (trace) Some(new Trace(spark, t0, "/fact_mv/")) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    val done = mutable.ArrayBuffer.empty[Done]
    val gc0 = gcMs
    val loopStart = System.nanoTime()
    val deadline = loopStart + (maxSeconds * 1e9).toLong
    val it = timed.iterator
    var atBoundary = true
    while (it.hasNext && (!atBoundary || System.nanoTime() < deadline)) {
      val op = it.next()
      atBoundary = op.boundary
      if (op.kind == "clear_stage") Stage.clearCache()
      else tracer match {
        case Some(tr) =>
          val c0 = CodeGenerator.compileTime
          val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val s0 = Stage.buildSecs
          val a = tr.now
          tr.begin(op.id)
          val r = execute(op, tracer)
          val b = tr.now
          tr.end()
          tr.span(op.id, "op", a, b)
          tr.add(op.id, "compile_ns", (CodeGenerator.compileTime - c0).toDouble)
          tr.add(op.id, "classes",
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0).toDouble)
          tr.add(op.id, "stage_build_ms", (Stage.buildSecs - s0) * 1000.0)
          done += r
        case None => done += execute(op, None)
      }
    }
    val loopNs = System.nanoTime() - loopStart
    val gcDelta = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val afterDone = after.map(runUntraced).filter(_ != null)

    out.mkdirs()
    val jf = new JsonFactory()
    val results = jf.createGenerator(new File(out, "results.jsonl"),
      JsonEncoding.UTF8)
    results.setRootValueSeparator(new com.fasterxml.jackson.core.io
      .SerializedString("\n"))
    kept.foreach { case (id, (schema, rows)) =>
      results.writeStartObject()
      results.writeNumberField("id", id)
      RowJson.write(results, schema, rows)
      results.writeEndObject()
    }
    results.close()

    val g = jf.createGenerator(new File(out, "run.json"), JsonEncoding.UTF8)
    g.writeStartObject()
    g.writeObjectFieldStart("setup")
    setup.foreach { case (k, v) => g.writeNumberField(k, v) }
    g.writeEndObject()
    def writeDone(name: String, ds: Seq[Done]): Unit = {
      g.writeArrayFieldStart(name)
      ds.foreach { d =>
        g.writeStartObject()
        g.writeNumberField("id", d.op.id)
        g.writeNumberField("wall_ms", d.wallNs / 1e6)
        g.writeBooleanField("ok", d.ok)
        if (d.error != null) g.writeStringField("error", d.error)
        g.writeEndObject()
      }
      g.writeEndArray()
    }
    writeDone("ops", done.toSeq)
    writeDone("after", afterDone)
    g.writeNumberField("loop_ms", loopNs / 1e6)
    g.writeNumberField("gc_ms", gcDelta.toDouble)
    g.writeNumberField("heap_peak_mb", heapPeakMb)
    tracer.foreach { tr =>
      g.writeObjectFieldStart("counts")
      tr.counts.foreach { case (id, m) =>
        g.writeObjectFieldStart(id.toString)
        m.foreach { case (k, v) => g.writeNumberField(k, v) }
        g.writeEndObject()
      }
      g.writeEndObject()
      g.writeArrayFieldStart("spans")
      tr.spans.foreach { case (id, name, a, b) =>
        g.writeStartArray()
        g.writeNumber(id); g.writeString(name)
        g.writeNumber(a / 1e6); g.writeNumber(b / 1e6)
        g.writeEndArray()
      }
      g.writeEndArray()
    }
    g.writeEndObject()
    g.close()
    spark.stop()
    // A query body may leave non-daemon threads behind; the run is over.
    sys.exit(0)
  }
}
