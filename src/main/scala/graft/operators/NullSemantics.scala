package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Null/boundary semantics differential tests — the reference's
  * edge-case methodology (`Tests/ExecuteTest.cpp:144-184` populates
  * `test`/`test_inner` tables with nulls and boundary values, then diffs
  * against SQLite; here null-rich columns are DERIVED deterministically
  * from the fixtures with nullif(), so both engines see identical data
  * and every null rule is hash-compared).
  *
  * Covered rules: COUNT(*) vs COUNT(col) vs COUNT(DISTINCT col),
  * SUM/AVG/MIN/MAX null-skipping, all-null groups, COALESCE/NULLIF,
  * null-safe equality, NULL propagation in arithmetic/comparison/CASE,
  * GROUP BY null keys (one group), JOIN on null keys (no match),
  * null ordering (NULLS LAST in both engines' canon sort).
  */
object NullSemantics {

  type Q = (SparkSession, String) => DataFrame

  /** lineitem with deterministic null injection: ~1/3 of quantities,
    * ~1/5 of discounts, and a null-keyed group stripe.
    */
  private def nulled(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 3 === 0, lit(null))
        .otherwise(col("l_quantity")).as("q"),
      when(col("l_orderkey") % 5 === 0, lit(null))
        .otherwise(col("l_discount")).as("disc"),
      when(col("l_linenumber") % 4 === 0, lit(null))
        .otherwise(col("l_returnflag")).as("flag"))

  val queries: Seq[(String, Q)] = Seq(
    // Join null-key semantics: null keys never match (inner), survive as
    // unmatched (left); count both.
    "q92_null_join_keys" -> ((s, d) => {
      val a = nulled(s, d).select(col("l_orderkey"), col("flag"))
      val b = nulled(s, d)
        .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
      val inner = a.join(b, Seq("flag"), "inner")
      val left = a.join(b, Seq("flag"), "left")
      val spark = s
      import spark.implicits._
      Seq((inner.count(), left.count(),
        left.filter(col("cnt").isNull).count()))
        .toDF("n_inner", "n_left", "n_left_unmatched")
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // Aggregate null-skipping + null group key (GROUP BY collects nulls
    // into one group in both engines).
    "q90_null_aggregates" ->
      """WITH n AS (
           SELECT CASE WHEN l_orderkey % 3 = 0 THEN NULL
                       ELSE l_quantity END AS q,
                  CASE WHEN l_linenumber % 4 = 0 THEN NULL
                       ELSE l_returnflag END AS flag
           FROM lineitem)
         SELECT flag, count(*) AS n_rows, count(q) AS n_q,
                count(DISTINCT q)::BIGINT AS nd_q, sum(q) AS sum_q,
                avg(q) AS avg_q, min(q) AS min_q, max(q) AS max_q
         FROM n GROUP BY flag""",
    // Scalar null propagation: arithmetic, comparisons inside CASE,
    // COALESCE/NULLIF, null-safe equality.
    "q91_null_scalars" ->
      """SELECT l_orderkey, l_linenumber,
                q + disc AS add_n,
                q * 0 AS mul_zero,
                coalesce(q, disc, -1.0) AS coal,
                nullif(flag, 'R') AS nif,
                CASE WHEN q > 25 THEN 'hi' WHEN q <= 25 THEN 'lo'
                     ELSE 'null_q' END AS case_path,
                (q IS NOT DISTINCT FROM disc) AS nse,
                (q IS NULL) AS q_is_null
         FROM (SELECT l_orderkey, l_linenumber,
                      CASE WHEN l_orderkey % 3 = 0 THEN NULL
                           ELSE l_quantity END AS q,
                      CASE WHEN l_orderkey % 5 = 0 THEN NULL
                           ELSE l_discount END AS disc,
                      CASE WHEN l_linenumber % 4 = 0 THEN NULL
                           ELSE l_returnflag END AS flag
               FROM lineitem)""",
    // Empty-relation aggregate semantics: global aggregates over zero
    // rows yield one row (count=0, sum/avg/min/max NULL); grouped
    // aggregates yield zero rows.
    "q103_empty_relation" ->
      """SELECT count(*) AS n, sum(l_quantity) AS s,
                avg(l_quantity) AS a, min(l_quantity) AS mn,
                max(l_quantity) AS mx,
                count(DISTINCT l_returnflag)::BIGINT AS nd
         FROM lineitem WHERE false""",
    "q92_null_join_keys" ->
      """WITH n AS (
           SELECT l_orderkey,
                  CASE WHEN l_linenumber % 4 = 0 THEN NULL
                       ELSE l_returnflag END AS flag
           FROM lineitem),
         b AS (SELECT flag, count(*) AS cnt FROM n GROUP BY flag)
         SELECT (SELECT count(*) FROM n JOIN b ON n.flag = b.flag)
                  AS n_inner,
                (SELECT count(*) FROM n LEFT JOIN b ON n.flag = b.flag)
                  AS n_left,
                (SELECT count(*) FROM n LEFT JOIN b ON n.flag = b.flag
                 WHERE b.cnt IS NULL) AS n_left_unmatched"""
  )
}
