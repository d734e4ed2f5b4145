package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Model-evaluation and concentration metrics (q343-q346) — the scoring
  * half of the ML surface (§2: ml_predict trains/scores; these grade the
  * scores): decile lift/gains, threshold sweep (confusion matrix +
  * precision/recall/F1), exact ROC AUC via the Mann-Whitney rank
  * statistic, and Gini/Lorenz revenue concentration. All metrics are
  * exact integer ppm (or exact-long inputs to one double division), so
  * every value hash-matches the DuckDB replay.
  *
  * Scale notes: nothing here uses an unpartitioned corpus window. Decile
  * boundaries come from ExactSelection (bounded histogram refinement);
  * the global AUC rank uses the q315/q337 scan pattern (range partition +
  * local rank + broadcast per-partition offsets); lift/threshold tables
  * are plain aggregates; Gini partitions by order status (documented
  * group-parallel form — the global variant is the same scan pattern the
  * AUC rank uses).
  */
object EvalMetrics {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Decile lift & gains table: orders scored by o_totalprice, response
    // = urgent priority. Value-based deciles — boundaries are the exact
    // order statistics at ceil(i·n/10) from ExactSelection (NO global
    // ntile window; ties fall to the lower bucket on both engines), then
    // one aggregate + a 10-row cumulative window. lift_ppm compares each
    // cumulative response rate to the base rate in exact integer ppm.
    "q343_lift_gains" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("score"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("resp")), "q343_base")
      val n = base.count()
      val ranks = (1 to 9).map(i => (i.toLong * n + 9) / 10)
      val bounds = ExactSelection.kthAll(base, "score", ranks).map(_.value)
      // decile 1 = highest scores (standard gains-table order)
      val bucket = bounds.foldLeft(lit(10)) { (acc, b) =>
        acc - when(col("score") > b, 1).otherwise(0) }
      val perDec = base.withColumn("decile", bucket)
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("resp")).as("n_resp"))
      val w = Window.orderBy(col("decile")) // 10-row table: bounded
      perDec
        .withColumn("cum_n", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_resp", sum(col("n_resp")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(base.agg(count(lit(1)).as("tot_n"),
          sum(col("resp")).as("tot_resp"))))
        .select(col("decile"), col("n"), col("n_resp"), col("cum_n"),
          col("cum_resp"),
          expr("cum_resp * tot_n * 1000000 DIV (cum_n * tot_resp)")
            .as("cum_lift_ppm"),
          expr("cum_resp * 1000000 DIV tot_resp").as("gain_ppm"))
    }),

    // Threshold sweep: confusion matrix + precision/recall/F1 (integer
    // ppm) for three operating points of the "error event" detector
    // score = value. One scan, one aggregate per threshold via
    // conditional sums — no shuffle beyond the final 3-row union.
    "q344_threshold_eval" -> ((s, d) => {
      val ev = graft.Stage(t(s, d, "events")
        .select(col("value").as("score"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("actual")), "q344_base")
      val frames = Seq(1.0, 2.5, 5.0).map { th =>
        ev.agg(
          sum(when(col("score") > th && col("actual") === 1L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("score") > th && col("actual") === 0L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("score") <= th && col("actual") === 1L, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("score") <= th && col("actual") === 0L, 1L)
            .otherwise(0L)).as("tn"))
          .withColumn("threshold", lit(th))
      }
      frames.reduce(_ unionByName _)
        .withColumn("precision_ppm",
          expr("tp * 1000000 DIV (tp + fp)"))
        .withColumn("recall_ppm", expr("tp * 1000000 DIV (tp + fn)"))
        .withColumn("f1_ppm",
          expr("2 * tp * 1000000 DIV (2 * tp + fp + fn)"))
    }),

    // Exact ROC AUC via the Mann-Whitney U rank statistic:
    // AUC = (Σ_pos avg_rank − n⁺(n⁺+1)/2) / (n⁺·n⁻), with tie-average
    // ranks kept integral as r2 = 2·min_rank + peers − 1 (= 2·avg_rank).
    // The GLOBAL rank comes from the distributed scan pattern (q315/
    // q337): range-partition by score, per-partition min-rank + peer
    // counts (partitioned windows), broadcast per-partition row-count
    // offsets — equal scores never straddle partitions, so local peer
    // groups are global peer groups. Every input to the final ppm
    // arithmetic is an exact long.
    "q345_auc_exact" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val base = t(s, d, "events")
        .select(col("value").as("score"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("pos"))
      val parts = base.repartitionByRange(8, col("score"))
        .withColumn("pid", spark_partition_id())
      val wRank = Window.partitionBy(col("pid")).orderBy(col("score"))
      val local = graft.Stage(parts
        .withColumn("lrank", rank().over(wRank))
        .withColumn("peers", count(lit(1)).over(
          Window.partitionBy(col("pid"), col("score")))), "q345_local")
      val cnt = graft.Bounded.collectCapped(
          local.groupBy(col("pid")).agg(count(lit(1)).as("c")), 8,
          "q345 per-partition row counts (one row per range partition)")
        .sortBy(_.getInt(0))
      val off = cnt.scanLeft((0, 0L)) { case ((_, acc), r) =>
        (r.getInt(0), acc + r.getLong(1)) }
      val offDf = off.init.zip(off.tail)
        .map { case ((_, before), (pid, _)) => (pid, before) }
        .toSeq.toDF("pid", "off")
      val stats = local.join(broadcast(offDf), "pid")
        .withColumn("r2",
          (col("off") + col("lrank")) * 2 + col("peers") - 1)
        .agg(sum(when(col("pos") === 1L, col("r2"))).as("sum_r2_pos"),
          sum(col("pos")).as("n_pos"),
          sum(lit(1L) - col("pos")).as("n_neg"))
      stats.select(col("n_pos"), col("n_neg"),
        expr("(sum_r2_pos - n_pos * (n_pos + 1)) * 1000000 " +
          "DIV (2 * n_pos * n_neg)").as("auc_ppm"))
    }),

    // Inter-rater agreement (Cohen's kappa) between two heuristic
    // quality raters — the calibration check run before trusting any
    // pair of corpus-quality classifiers (q46/q253 family): rater A =
    // length gate, rater B = lexical-diversity gate. kappa =
    // (p_o − p_e)/(1 − p_e) computed entirely in exact integer counts:
    // kappa_ppm = (agree·n − Σ marginal products)·10⁶ / (n² − Σ ...).
    // One scan, one aggregate. (n² stays in long to ~3·10⁹ rows; the
    // 100 TB form lifts the two products to DECIMAL(38).)
    "q352_rater_agreement" -> ((s, d) => {
      val tk = split(trim(lower(col("text"))), "\\s+")
      val a = when(size(tk) >= 40, 1L).otherwise(0L)
      val b = when(size(array_distinct(tk)) * 2L >= size(tk), 1L)
        .otherwise(0L)
      t(s, d, "documents")
        .select(a.as("ra"), b.as("rb"))
        .agg(count(lit(1)).as("n"),
          sum(col("ra") * col("rb")).as("n11"),
          sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"),
          sum(col("ra")).as("a1"), sum(col("rb")).as("b1"))
        .select(col("n"), col("n11"), col("n00"),
          expr("""(
              ((n11 + n00) * n - (a1 * b1 + (n - a1) * (n - b1)))
              * 1000000
            ) DIV (n * n - (a1 * b1 + (n - a1) * (n - b1)))""")
            .as("kappa_ppm"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q343_lift_gains" ->
      """WITH base AS (
           SELECT o_orderkey, o_totalprice AS score,
                  CASE WHEN o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END AS resp
           FROM orders),
         nn AS (SELECT count(*) AS n FROM base),
         ranked AS (
           SELECT score, row_number() OVER (ORDER BY score) AS rn
           FROM base),
         bounds AS (
           SELECT i, (SELECT score FROM ranked
                      WHERE rn = (i * (SELECT n FROM nn) + 9) // 10) AS b
           FROM (SELECT unnest(range(1, 10)) AS i)),
         dec AS (
           SELECT o_orderkey, resp,
                  10 - (SELECT count(*) FROM bounds WHERE score > b)
                    AS decile
           FROM base),
         per AS (
           SELECT decile, count(*) AS n, sum(resp) AS n_resp
           FROM dec GROUP BY decile),
         cum AS (
           SELECT decile, n, n_resp,
                  sum(n) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_n,
                  sum(n_resp) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_resp
           FROM per),
         tot AS (SELECT count(*) AS tot_n, sum(resp) AS tot_resp
                 FROM base)
         SELECT decile::INT AS decile, n::BIGINT AS n,
                n_resp::BIGINT AS n_resp, cum_n::BIGINT AS cum_n,
                cum_resp::BIGINT AS cum_resp,
                (cum_resp * tot_n * 1000000
                  // (cum_n * tot_resp))::BIGINT AS cum_lift_ppm,
                (cum_resp * 1000000 // tot_resp)::BIGINT AS gain_ppm
         FROM cum, tot""",
    "q344_threshold_eval" ->
      """WITH ev AS (
           SELECT value AS score,
                  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                    AS actual
           FROM events),
         th AS (SELECT unnest([1.0, 2.5, 5.0]) AS threshold),
         m AS (
           SELECT threshold,
                  sum(CASE WHEN score > threshold AND actual = 1
                      THEN 1 ELSE 0 END)::BIGINT AS tp,
                  sum(CASE WHEN score > threshold AND actual = 0
                      THEN 1 ELSE 0 END)::BIGINT AS fp,
                  sum(CASE WHEN score <= threshold AND actual = 1
                      THEN 1 ELSE 0 END)::BIGINT AS fn,
                  sum(CASE WHEN score <= threshold AND actual = 0
                      THEN 1 ELSE 0 END)::BIGINT AS tn
           FROM ev, th GROUP BY threshold)
         SELECT threshold::DOUBLE AS threshold, tp, fp, fn, tn,
                (tp * 1000000 // (tp + fp))::BIGINT AS precision_ppm,
                (tp * 1000000 // (tp + fn))::BIGINT AS recall_ppm,
                (2 * tp * 1000000 // (2 * tp + fp + fn))::BIGINT
                  AS f1_ppm
         FROM m""",
    "q345_auc_exact" ->
      """WITH base AS (
           SELECT value AS score,
                  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                    AS pos
           FROM events),
         ranked AS (
           SELECT pos,
                  2 * rank() OVER (ORDER BY score)
                    + count(*) OVER (PARTITION BY score) - 1 AS r2
           FROM base),
         agg AS (
           SELECT sum(CASE WHEN pos = 1 THEN r2 END) AS sum_r2_pos,
                  sum(pos) AS n_pos, sum(1 - pos) AS n_neg
           FROM ranked)
         SELECT n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg,
                ((sum_r2_pos - n_pos * (n_pos + 1)) * 1000000
                  // (2 * n_pos * n_neg))::BIGINT AS auc_ppm
         FROM agg""",
    "q352_rater_agreement" ->
      """WITH r AS (
           SELECT CASE WHEN len(string_split_regex(trim(lower(text)),
                    '\s+')) >= 40 THEN 1 ELSE 0 END AS ra,
                  CASE WHEN len(list_distinct(
                      string_split_regex(trim(lower(text)), '\s+'))) * 2
                    >= len(string_split_regex(trim(lower(text)), '\s+'))
                    THEN 1 ELSE 0 END AS rb
           FROM documents),
         agg AS (
           SELECT count(*)::BIGINT AS n,
                  sum(ra * rb)::BIGINT AS n11,
                  sum((1 - ra) * (1 - rb))::BIGINT AS n00,
                  sum(ra)::BIGINT AS a1, sum(rb)::BIGINT AS b1
           FROM r)
         SELECT n, n11, n00,
                (((n11 + n00) * n - (a1 * b1 + (n - a1) * (n - b1)))
                  * 1000000
                  // (n * n - (a1 * b1 + (n - a1) * (n - b1))))::BIGINT
                  AS kappa_ppm
         FROM agg""",
    // Gini coefficient of revenue concentration per order status —
    // G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted exact
    // cents. Σ i·x stays an exact long (≤ ~10¹⁵), so the one double
    // division is deterministic; rounded to 6. Partitioned by status
    // (group-parallel); the global form is the q345 scan pattern.
    "q346_gini_lorenz" ->
      """WITH c AS (
           SELECT o_orderstatus, o_orderkey,
                  floor(o_totalprice * 100)::BIGINT AS cents
           FROM orders),
         r AS (
           SELECT o_orderstatus, cents,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY cents ASC, o_orderkey ASC)::BIGINT AS i
           FROM c),
         g AS (
           SELECT o_orderstatus, count(*)::BIGINT AS n,
                  sum(cents)::BIGINT AS s,
                  sum(i * cents)::BIGINT AS six
           FROM r GROUP BY o_orderstatus)
         SELECT o_orderstatus, n,
                round((2.0 * six - (n + 1)::DOUBLE * s)
                  / (n::DOUBLE * s), 6) AS gini
         FROM g"""
  )
}
