package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** The reference's synthetic micro-benchmark groups
  * (`Benchmarks/synthetic_benchmark/queries/` in /root/reference;
  * BASELINE.md): PerfectHashSingleCol (dense int key group-by),
  * PerfectHashMultiCol, BaselineHash (sparse/wide key), NonGroupedAgg,
  * Sort, ApproxMedian, MultiStep — each isolating one executor path the
  * reference JIT-specializes. In Spark they all lower to the same
  * partial/final HashAggregate / TakeOrdered machinery; these queries
  * keep the per-shape timing visible round over round.
  */
object SyntheticParity {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // RANGE frame over a time axis (interval window): 7-day trailing
    // sum per supplier — RANGE BETWEEN INTERVAL bounds expressed on the
    // epoch-seconds axis (Spark rangeBetween is numeric).
    "q124_window_interval_range" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(unix_timestamp(col("l_shipdate")))
        .rangeBetween(-7L * 24 * 3600, 0L)
      t(s, d, "lineitem")
        .filter(col("l_suppkey") < 50)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          sum(col("l_quantity")).over(w).as("qty_7d"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // PerfectHashSingleCol: dense small-range int key.
    "q130_syn_perfect_hash" ->
      """SELECT l_linenumber, count(*) AS n, sum(l_quantity) AS qty
         FROM lineitem GROUP BY 1""",
    // PerfectHashMultiCol: composite dense key.
    "q131_syn_perfect_multi" ->
      """SELECT l_linenumber, l_returnflag, count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    // BaselineHash: sparse wide key (high-cardinality long).
    "q132_syn_baseline_hash" ->
      """SELECT count(*) AS n_groups, sum(n)::BIGINT AS n_rows FROM
           (SELECT l_orderkey * 1000000 + l_partkey AS wide_key,
                   count(*) AS n
            FROM lineitem GROUP BY 1)""",
    // NonGroupedAgg: global aggregate, no keys.
    "q133_syn_nongrouped" ->
      """SELECT count(*) AS n, sum(l_extendedprice) AS total,
                min(l_shipdate)::TIMESTAMP AS first_ship,
                max(l_shipdate)::TIMESTAMP AS last_ship
         FROM lineitem""",
    // Sort: full ordering + limit (TakeOrderedAndProject).
    "q134_syn_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
         FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         LIMIT 100""",
    // MultiStep: agg → join → agg chain.
    "q135_syn_multistep" ->
      """WITH per_order AS (
           SELECT l_orderkey, sum(l_quantity) AS qty
           FROM lineitem GROUP BY 1)
         SELECT o_orderstatus, count(*) AS n, avg(qty) AS avg_qty
         FROM per_order JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q124_window_interval_range" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey,
                sum(l_quantity) OVER (
                  PARTITION BY l_suppkey
                  ORDER BY epoch(l_shipdate::TIMESTAMP)
                  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
                  AS qty_7d
         FROM lineitem WHERE l_suppkey < 50"""
  )
}
