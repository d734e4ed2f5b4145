package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function extensions beyond Spark built-ins, matching the
  * reference's expression surface (SURVEY.md §2.7). All are Column
  * compositions over codegen'd built-ins — they stay inside whole-stage
  * codegen and never leave the optimizer's reach (no UDF black boxes).
  */
object GraftFunctions {

  /** TRUNCATE(x, d): truncate toward zero to d decimal digits.
    * Reference: EXTENSION function Truncate
    * (`QueryEngine/ExtensionFunctions.hpp` in /root/reference).
    * Spark's `round` rounds; this chops: floor for x>=0, ceil for x<0.
    */
  def truncate_num(x: Column, d: Int): Column =
    truncate_num(x, lit(d))

  def truncate_num(x: Column, d: Column): Column = {
    val scale = pow(lit(10.0), d)
    when(x >= 0, floor(x * scale) / scale)
      .otherwise(ceil(x * scale) / scale)
  }

  /** QUARTERDAY extract field (1..4, 6-hour buckets).
    * Reference: `QueryEngine/ExtractFromTime.h:77-98` kQUARTERDAY.
    */
  def quarterday(ts: Column): Column =
    (hour(ts) / 6).cast("int") + 1

  /** EXTRACT(WEEK_SUNDAY): ISO-like week number with Sunday week start.
    * Reference: `QueryEngine/ExtractFromTime.h` kWEEK_SUNDAY.
    * Computed as days-since-epoch-aligned week index within the year.
    */
  def week_sunday(ts: Column): Column = {
    // Day-of-year of the first Sunday on/before Jan 1 anchors week 1.
    val jan1 = trunc(ts.cast("date"), "year")
    val jan1Dow = dayofweek(jan1) // 1=Sunday..7=Saturday
    ((dayofyear(ts) + jan1Dow - 2) / 7).cast("int") + 1
  }

  /** EXTRACT(WEEK_SATURDAY): week number with Saturday week start. */
  def week_saturday(ts: Column): Column = {
    val jan1 = trunc(ts.cast("date"), "year")
    val jan1Dow = (dayofweek(jan1) % 7) + 1 // shift so Saturday=1
    ((dayofyear(ts) + jan1Dow - 2) / 7).cast("int") + 1
  }

  /** SAMPLE_RATIO(r): deterministic pseudo-random row filter.
    * Reference: `Analyzer/Analyzer.h:959` (SampleRatioExpr). The reference
    * uses a per-row hash; we hash a key column so the filter is stable
    * across runs and partitioning (scale-safe, unlike rand()).
    */
  def sample_ratio(key: Column, ratio: Double): Column =
    (pmod(xxhash64(key), lit(1000000L)) < lit((ratio * 1000000L).toLong))

  def sample_ratio(key: Column, ratio: Column): Column =
    (pmod(xxhash64(key), lit(1000000L)) <
      (ratio.cast("double") * 1000000L).cast("long"))

  /** Dot product of two numeric arrays (double precision accumulate).
    * Reference: DotProduct operator
    * (`java/calcite/.../HeavyDBSqlOperatorTable.java:531`).
    * `aggregate(zip_with(...))` stays columnar/codegen-friendly.
    */
  def dot_product(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DotProductExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** L2 norm of a numeric array (codegen'd self-dot). */
  def l2_norm(a: Column): Column = sqrt(dot_product(a, a))

  /** Cosine similarity between two numeric arrays (double precision).
    * Backs the similarity-search operators
    * (reference `QueryEngine/TableFunctions/SystemFunctions/os/
    * SimilarityTableFunctions.hpp:162`).
    */
  def cosine_similarity(a: Column, b: Column): Column =
    dot_product(a, b) / (l2_norm(a) * l2_norm(b))

  /** JAROWINKLER_SIMILARITY(a, b) → int 0..100, as in the reference
    * (`StringOps/StringOps.h` JaroWinklerSimilarity; scaled like its tests).
    */
  def jarowinkler_similarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      JaroWinklerSimilarity(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))
  }

  /** SINGLE_VALUE aggregate: the group's value if all rows agree, error
    * if the group has more than one distinct value.
    * Reference: `Shared/sqldefs.h:85` (kSINGLE_VALUE). Composed from
    * codegen'd aggregates (stays inside HashAggregate — no UDAF object
    * serialization): the CASE fires per output group after partial/final
    * merge, so the distributed plan is the standard two-phase aggregate.
    */
  /** min <=> max detects >1 distinct value without a COUNT(DISTINCT) —
    * the distinct agg would force an Expand (row-multiplying) plan;
    * min/max are plain partial aggregates. All-null groups: min = max =
    * null, null-safe-equal → first(ignoreNulls) = null, like the
    * reference's null handling.
    */
  def single_value(c: Column): Column =
    when(min(c) <=> max(c), first(c, ignoreNulls = true))
      .otherwise(raise_error(
        lit("single_value: group has more than one distinct value")))

  /** Register SQL-callable names for every extension function, making
    * the full surface reachable from `HeavyEngine.sql` (the reference
    * registers these in its Calcite operator table,
    * `java/calcite/.../HeavyDBSqlOperatorTable.java`).
    */
  /** SQL-macro registration: the body is parsed once per call site and
    * the parameter placeholders replaced by the caller's argument
    * expressions (case-insensitive name match). The analyzer then
    * resolves the built-in functions inside the body — so these expand
    * to the SAME codegen'd expression trees as the Column-API versions
    * (no UDF black boxes). Also the runtime path of `CREATE FUNCTION`
    * (Ddl router): the reference compiles user C++ at runtime
    * (`UdfCompiler/UdfCompiler.cpp` in /root/reference); the Spark-first
    * analog is an expression template expanded at plan time.
    */
  def registerSqlMacro(spark: org.apache.spark.sql.SparkSession,
      name: String, params: Seq[String], body: String): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    val lowered = params.map(_.toLowerCase)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == params.length,
          s"$name expects ${params.length} arguments, got ${exprs.length}")
        val sub = lowered.zip(exprs).toMap
        spark.sessionState.sqlParser.parseExpression(body).transformUp {
          case a: UnresolvedAttribute if sub.contains(a.name.toLowerCase) =>
            sub(a.name.toLowerCase)
        }
      })
  }

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.functionRegistry

    def registerMacro(name: String, params: Seq[String], body: String): Unit =
      registerSqlMacro(spark, name, params, body)

    reg.registerFunction(
      FunctionIdentifier("jarowinkler_similarity"),
      new ExpressionInfo("graft", "jarowinkler_similarity"),
      exprs => JaroWinklerSimilarity(exprs(0), exprs(1)))
    registerMacro("quarterday", Seq("__p0"),
      "cast(hour(__p0) / 6 as int) + 1")
    registerMacro("week_sunday", Seq("__p0"),
      """cast((dayofyear(__p0)
              + dayofweek(trunc(cast(__p0 as date), 'year')) - 2)
             / 7 as int) + 1""")
    registerMacro("week_saturday", Seq("__p0"),
      """cast((dayofyear(__p0)
              + (dayofweek(trunc(cast(__p0 as date), 'year')) % 7) + 1 - 2)
             / 7 as int) + 1""")
    registerMacro("truncate", Seq("__p0", "__p1"),
      """case when __p0 >= 0
              then floor(__p0 * power(10.0, __p1)) / power(10.0, __p1)
              else ceil(__p0 * power(10.0, __p1)) / power(10.0, __p1)
         end""")
    registerMacro("sample_ratio", Seq("__p0", "__p1"),
      """pmod(xxhash64(__p0), 1000000)
         < cast(cast(__p1 as double) * 1000000 as bigint)""")
    // Vector math registers the codegen'd DotProductExpr directly.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
      reg.registerFunction(FunctionIdentifier("dot_product"),
        new ExpressionInfo("graft", "dot_product"),
        ex => DotProductExpr(ex(0), ex(1)))
      reg.registerFunction(FunctionIdentifier("l2_norm"),
        new ExpressionInfo("graft", "l2_norm"),
        ex => Sqrt(DotProductExpr(ex.head, ex.head)))
      reg.registerFunction(FunctionIdentifier("cosine_similarity"),
        new ExpressionInfo("graft", "cosine_similarity"),
        ex => Divide(DotProductExpr(ex(0), ex(1)),
          Multiply(Sqrt(DotProductExpr(ex(0), ex(0))),
            Sqrt(DotProductExpr(ex(1), ex(1))))))
    }
    // KEY_FOR_STRING (`Analyzer/Analyzer.h:914`): the reference returns
    // the per-column dictionary id of a text value. For a column with a
    // DECLARED session dictionary (DictRegistry.declare — the q315
    // order-preserving dense-id build), this resolves to the real dense
    // id via a codegen'd lookup, giving the reference's id-order =
    // value-order guarantee. Undeclared columns keep the 64-bit hash
    // surrogate (injective in practice; grouping/joining/compact keys
    // hold). Resolution happens per-analysis, so declarations made after
    // registration take effect immediately.
    locally {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, XxHash64}
      reg.registerFunction(FunctionIdentifier("key_for_string"),
        new ExpressionInfo("graft", "key_for_string"),
        exprs => {
          val arg = exprs.head
          val nameParts = arg match {
            case a: UnresolvedAttribute => Some(a.nameParts)
            case a: AttributeReference => Some(Seq(a.name))
            case _ => None
          }
          nameParts.flatMap(DictRegistry.forColumn(spark, _)) match {
            case Some(m) => DictKey(arg, m)
            case None => new XxHash64(Seq(arg))
          }
        })
    }
    // LIKELY/UNLIKELY (`Analyzer/Analyzer.h` LikelihoodExpr; branch-
    // probability hints in the reference's codegen). Catalyst makes its
    // own selectivity estimates, so these are semantic identities — they
    // exist so reference SQL runs unchanged.
    registerMacro("likely", Seq("__p0"), "__p0")
    registerMacro("unlikely", Seq("__p0"), "__p0")
    registerMacro("single_value", Seq("__p0"),
      """case when min(__p0) <=> max(__p0) then first(__p0, true)
              else raise_error(
                'single_value: group has more than one distinct value')
         end""")
    // LLM_TRANSFORM (`Shared/sqldefs.h:134`) — deterministic pluggable
    // runtime, see LlmTransform.
    LlmTransform.register(spark)
  }

  /** HeavyDB datetime-dialect rewrite (`HeavyDBSqlOperatorTable.java`
    * DATEADD / DATEDIFF / DATEPART take the field as a TEXT literal;
    * Spark's parser requires keyword units and intercepts these names
    * BEFORE the function registry — so the translation happens at the
    * SQL-facade layer, exactly where the reference's Calcite dialect
    * layer does it). Only the literal-field forms rewrite; Spark's own
    * 2-arg DATEDIFF passes through untouched.
    */
  def rewriteDatetimeDialect(sql: String): String = {
    val dateadd = """(?i)\bDATEADD\s*\(\s*'(\w+)'\s*,""".r
    val datediff = """(?i)\bDATEDIFF\s*\(\s*'(\w+)'\s*,""".r
    val datepart = """(?i)\bDATEPART\s*\(\s*'(\w+)'\s*,""".r
    val s1 = dateadd.replaceAllIn(sql,
      m => s"TIMESTAMPADD(${m.group(1).toUpperCase},")
    val s2 = datediff.replaceAllIn(s1,
      m => s"TIMESTAMPDIFF(${m.group(1).toUpperCase},")
    datepart.replaceAllIn(s2, m => s"date_part('${m.group(1)}',")
  }
}
