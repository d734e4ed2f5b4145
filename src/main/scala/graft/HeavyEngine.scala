package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's public API: SQL string in → DataFrame out.
  *
  * Mirrors the reference's only real entry point, `sql_execute`
  * (`ThriftHandler/DBHandler.cpp:1285` in /root/reference): there the SQL
  * goes C++ → embedded Calcite (parse/optimize) → RA JSON → JIT'd kernels.
  * Here the entire lifecycle is Catalyst, in-process: parse → analyze
  * (against the registered fixture views + extension functions) →
  * optimize → whole-stage-codegen'd execution.
  *
  * Construction registers (the functions and rules once per session,
  * see `prepare`):
  *  - every fixture table as a temp view (`Tables.registerAll`);
  *  - the full extension-function surface — quarterday, week_sunday/
  *    week_saturday, truncate, sample_ratio, jarowinkler_similarity,
  *    dot_product/l2_norm/cosine_similarity, single_value — in the
  *    session FunctionRegistry (`GraftFunctions.registerAll`), so they
  *    are first-class SQL functions exactly like the reference's
  *    extension-function whitelist (`QueryEngine/ExtensionFunctions.hpp`).
  *
  * DDL/DML statements Spark SQL can't express natively (COPY, HeavyDB
  * CREATE TABLE options) go through the `Ddl` layer instead.
  */
final class HeavyEngine private (val spark: SparkSession) {

  /** Execute a SQL statement: DDL/DML (CREATE/CTAS/INSERT/UPDATE/DELETE/
    * DROP/COPY) routes through the managed-table layer (`Ddl`), exactly
    * like the reference's `ParserWrapper` statement classification;
    * everything else is a query handed to Catalyst.
    */
  /** Reference hints recorded by the most recent `sql` call (the
    * introspection surface of the reference's RegisteredQueryHint) —
    * see [[plans.QueryHints]] for the no-op mapping rationale.
    */
  @volatile var lastHints: Map[String, String] = Map.empty

  def sql(query: String): DataFrame = {
    val hinted = plans.QueryHints.parse(query)
    lastHints = hinted.hints
    // keep_result / keep_table_function_result are the two reference
    // hints with a faithful Spark analog, so they have TEETH (the rest
    // of the hint surface stays recorded-no-op — QueryHints scaladoc):
    // the reference's DataRecycler caches a hinted query's result set
    // and serves identical queries from it (`Tests/DataRecyclerTest.cpp`,
    // `QueryEngine/DataRecycler/`). Here the result materializes ONCE
    // through the session staging root (a distributed parquet write, not
    // executor storage) and an identical later query — plan equality via
    // Catalyst sameResult, exactly the recycler's resolved-plan cache
    // key — returns a scan of the staged result instead of re-executing.
    // Matching reference semantics, a kept result is a SNAPSHOT: it
    // serves until the engine is discarded, not invalidated by later
    // DML (the reference drops kept results on table update; our managed
    // tables are copy-on-write versions, so a stale hit is the hinted
    // query's pinned version — callers opt in per query). Statements the
    // Ddl layer handles (DDL/DML, side-effecting) never recycle — the
    // route below runs exactly once either way.
    routeSql(hinted.cleaned,
      wantKeep = hinted.hints.contains("keep_result") ||
        hinted.hints.contains("keep_table_function_result"))
  }

  /** Instance-scoped recycled-result store (the reference's recycler is
    * per-executor-process; two engines over one SparkSession stay
    * isolated here). List, not hash map: plan equality is structural
    * (`sameResult`), and the store is user-hinted so it stays small.
    */
  private val recycled =
    scala.collection.mutable.ListBuffer
      .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        DataFrame)]
  @volatile private var hits = 0L
  @volatile private var misses = 0L

  private def recycle(df: DataFrame): DataFrame = synchronized {
    val plan = df.queryExecution.analyzed
    recycled.find(_._1.sameResult(plan)) match {
      case Some((_, kept)) => hits += 1; kept
      case None =>
        misses += 1
        val kept = Stage(df, "keep_result")
        recycled += plan -> kept
        kept
    }
  }

  /** (hits, misses, entries) — the reference recycler's metric surface. */
  def recyclerStats: (Long, Long, Int) =
    synchronized { (hits, misses, recycled.size) }

  private def routeSql(query: String, wantKeep: Boolean = false): DataFrame =
    query match {
      // Reference EXPLAIN forms (`Parser/ParserWrapper.h:34-48`):
      // EXPLAIN OPTIMIZED / EXPLAIN CALCITE / EXPLAIN PLAN map onto
      // Spark's extended explain (EXPLAIN <LLVM IR> has no analog —
      // WholeStageCodegen source is the closest, via CODEGEN).
      case HeavyEngine.ExplainForm(form, rest) =>
        val mode = form.toUpperCase match {
          case "OPTIMIZED" | "CALCITE" => "EXTENDED"
          case _ => "FORMATTED"
        }
        spark.sql(s"EXPLAIN $mode $rest")
      case q0 =>
        // time-travel refs resolve to pinned-version views before any
        // routing (DDL text never contains VERSION AS OF — no-op there)
        val q = Ddl.rewriteTimeTravel(spark, q0)
        Ddl.route(spark, q).getOrElse {
          HeavyEngine.splitQualify(q) match {
            case Some((sel, pred, tail)) =>
              val base = spark.sql(
                functions.GraftFunctions.rewriteDatetimeDialect(sel))
              val filtered = base
                .withColumn("__qualify", org.apache.spark.sql.functions
                  .expr(functions.GraftFunctions
                    .rewriteDatetimeDialect(pred)))
                .filter(org.apache.spark.sql.functions.col("__qualify"))
                .drop("__qualify")
              val out = if (tail.isEmpty) filtered else {
                val v = s"__qualify_${System.nanoTime()}"
                filtered.createOrReplaceTempView(v)
                spark.sql(s"SELECT * FROM $v $tail")
              }
              if (wantKeep) recycle(out) else out
            case None =>
              val df = spark.sql(
                functions.GraftFunctions.rewriteDatetimeDialect(q))
              if (wantKeep) recycle(df) else df
          }
        }
    }

  def table(name: String): DataFrame = spark.table(name)

  /** Query-interrupt surface (the reference's runtime interrupt:
    * `ThriftHandler/DBHandler.cpp` `interrupt`, enabled by
    * `enable_runtime_query_interrupt`): run the blocking action under a
    * named job group with interrupt-on-cancel; `interrupt(tag)` from any
    * thread cancels all of its Spark jobs.
    */
  def withInterrupt[T](tag: String)(action: => T): T = {
    spark.sparkContext.setJobGroup(tag, s"graft:$tag",
      interruptOnCancel = true)
    try action finally spark.sparkContext.clearJobGroup()
  }

  /** Cancels the group's running jobs AND any it submits later — a
    * multi-job query (AQE stages) stays dead after the interrupt.
    */
  def interrupt(tag: String): Unit =
    spark.sparkContext.cancelJobGroupAndFutureJobs(tag,
      s"interrupted: $tag")
}

object HeavyEngine {
  private val ExplainForm =
    """(?is)\s*EXPLAIN\s+(OPTIMIZED|CALCITE|PLAN)\s+(.*)""".r

  /** Index of keyword `word` (any case) in `q` at or after `from`,
    * at the top level only — never inside parentheses or a '...' string
    * literal (a doubled '' stays inside it) — or -1. The match must be a
    * whole word: '_' (so `order_rank`/`limit_val` never parse as
    * ORDER/LIMIT keywords) and quoted-identifier delimiters (an adjacent
    * '"'/'`' means the match sits inside a quoted name) count as word
    * characters.
    */
  private[graft] def topLevelIndexOf(q: String, word: String,
      from: Int): Int = {
    def isWordChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_' || c == '"' || c == '`'
    var depth = 0; var inStr = false; var i = from
    while (i < q.length) {
      val c = q.charAt(i)
      if (inStr) {
        if (c == '\'' && i + 1 < q.length && q.charAt(i + 1) == '\'')
          i += 1
        else if (c == '\'') inStr = false
      }
      else if (c == '\'') inStr = true
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 &&
        q.regionMatches(true, i, word, 0, word.length) &&
        (i == 0 || !isWordChar(q.charAt(i - 1))) &&
        (i + word.length >= q.length ||
          !isWordChar(q.charAt(i + word.length))))
        return i
      i += 1
    }
    -1
  }

  /** QUALIFY support (dialect sugar, DuckDB/Snowflake-style): split
    * `<select> QUALIFY <pred> [ORDER BY ...|LIMIT ...]` at the
    * top level (never inside parens or string literals). The predicate
    * may reference select aliases OR contain inline window functions —
    * execution projects it as a hidden column (windows are legal in
    * projections, not in WHERE), filters, and drops it.
    */
  private[graft] def splitQualify(q: String)
      : Option[(String, String, String)] = {
    val qi = topLevelIndexOf(q, "QUALIFY", 0)
    if (qi < 0) None
    else {
      val afterPred = {
        val ob = topLevelIndexOf(q, "ORDER", qi + 7)
        val li = topLevelIndexOf(q, "LIMIT", qi + 7)
        Seq(ob, li).filter(_ >= 0).minOption.getOrElse(q.length)
      }
      Some((q.substring(0, qi).trim,
        q.substring(qi + 7, afterPred).trim,
        q.substring(afterPred).trim))
    }
  }

  /** Sessions whose extension functions and optimizer rules are in
    * place. Weak keys, so a dropped session is not pinned.
    */
  private val prepared =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** The one per-session set-up: registers the extension functions and
    * installs the optimizer rules exactly once per session. Holding the
    * lock until the set-up is done means a second thread constructing an
    * engine on the same fresh session waits for it instead of running
    * SQL before the functions exist.
    */
  private def prepare(spark: SparkSession): Unit = prepared.synchronized {
    if (!prepared.containsKey(spark)) {
      functions.GraftFunctions.registerAll(spark)
      functions.GeoFunctions.registerAll(spark)
      operators.Models.register(spark)
      spark.experimental.extraOptimizations ++= Seq(
        plans.GeoRangeJoinRule(spark), plans.MvRewrite.MvRewriteRule(spark))
      prepared.put(spark, true)
    }
  }

  /** Engine over `spark` with the fixture tables at `dir` registered. */
  def apply(spark: SparkSession, dir: String): HeavyEngine = {
    prepare(spark)
    Tables.registerAll(spark, dir)
    new HeavyEngine(spark)
  }
}
