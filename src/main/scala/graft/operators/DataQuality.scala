package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Data-quality / cleaning / entity-resolution operators (q347-q351):
  * winsorization, robust MAD outlier detection, a Benford first-digit
  * audit, Fellegi-Sunter record-linkage scoring, and top navigation
  * paths. The cleaning steps every warehouse runs before the analytics
  * the rest of the inventory covers; each hash-gated vs DuckDB.
  */
object DataQuality {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Winsorization at exact p01/p99: boundaries from ExactSelection
    // (bounded refinement — no global sort), then one capping pass.
    // Reports per-tail clip counts and the capped sum in exact cents so
    // the whole audit hash-matches. The standard outlier-capping step
    // before any mean-based statistic.
    "q347_winsorize" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "q347_base")
      val n = base.count()
      val ks = Seq((n + 99) / 100, (99L * n + 99) / 100) // ceil ranks
      val Seq(lo, hi) = ExactSelection.kthAll(base, "cents", ks)
        .map(_.value.toLong)
      base.agg(count(lit(1)).as("n"),
        sum(when(col("cents") < lo, 1L).otherwise(0L)).as("clipped_low"),
        sum(when(col("cents") > hi, 1L).otherwise(0L)).as("clipped_high"),
        sum(greatest(least(col("cents"), lit(hi)), lit(lo)))
          .as("winsorized_sum_cents"))
        .withColumn("p01_cents", lit(lo))
        .withColumn("p99_cents", lit(hi))
    }),

    // Robust outlier detection via median/MAD (the z-score that does
    // not blow up under the outliers it hunts): med and
    // MAD = median(|x − med|) are BOTH exact order statistics from
    // ExactSelection — the second pass selects over a derived column,
    // exercising refinement on a transformed distribution. Outliers:
    // |x − med| > 3 · 1.4826 · MAD, counted per event_type in one final
    // aggregate. All comparisons on exact milli-units.
    "q348_mad_anomalies" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "events")
        .select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("vm")), "q348_base")
      val n = base.count()
      val med = ExactSelection.kth(base, "vm", (n + 1) / 2).value.toLong
      val dev = base.select(col("event_type"),
        abs(col("vm") - med).as("dev"))
      val mad = ExactSelection.kth(dev, "dev", (n + 1) / 2).value.toLong
      // 3 * 1.4826 * mad in exact integer micro-units: x10000 scale
      val cut = 44478L * mad // 3 * 1.4826 * 10000 = 44478
      dev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("dev") * 10000L > cut, 1L).otherwise(0L))
            .as("n_outliers"))
        .withColumn("median_milli", lit(med))
        .withColumn("mad_milli", lit(mad))
    }),

    // Benford first-digit audit — the forensic data-quality screen for
    // fabricated numerics: observed first-significant-digit counts of
    // o_totalprice vs the Benford expectation log10(1 + 1/d), with the
    // chi-square contribution per digit. Digit extraction is pure
    // string math (exact); expectations are shared literal constants;
    // chi2 terms rounded to 6.
    "q349_benford" -> ((s, d) => {
      val digit = substring(regexp_replace(
        format_number(col("o_totalprice"), 6), "[^1-9]", ""), 1, 1)
        .cast("int")
      val expected = Seq(0.301030, 0.176091, 0.124939, 0.096910,
        0.079181, 0.066947, 0.057992, 0.051153, 0.045757)
      val expCol = expected.zipWithIndex.foldLeft(lit(0.0)) {
        case (acc, (p, i)) =>
          when(col("digit") === i + 1, lit(p)).otherwise(acc) }
      val counts = t(s, d, "orders").select(digit.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
      counts
        .crossJoin(broadcast(counts.agg(sum(col("obs")).as("n"))))
        .withColumn("exp_p", expCol)
        .select(col("digit"), col("obs"),
          round(col("exp_p") * col("n"), 6).as("expected"),
          round(pow(col("obs") - col("exp_p") * col("n"), 2)
            / (col("exp_p") * col("n")), 6).as("chi2_term"))
    }),

    // Top navigation paths: each user's first five event types (by
    // time) joined into a path string, then the top-10 paths by
    // frequency — the product-analytics "common journeys" report. The
    // per-user sequence is a bounded (5-element) sort_array of packed
    // (µs, event_id, type) structs, so the aggregate stays partial-merge
    // and the only full shuffle is on user_id.
    "q351_top_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val first5 = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
      first5.groupBy(col("user_id"))
        .agg(concat_ws(">",
          transform(
            sort_array(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path").asc)
        .limit(10)
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q347_winsorize" ->
      """WITH base AS (
           SELECT o_orderkey, floor(o_totalprice * 100)::BIGINT AS cents
           FROM orders),
         nn AS (SELECT count(*) AS n FROM base),
         ranked AS (
           SELECT cents, row_number() OVER (ORDER BY cents) AS rn
           FROM base),
         b AS (
           SELECT (SELECT cents FROM ranked
                   WHERE rn = ((SELECT n FROM nn) + 99) // 100) AS lo,
                  (SELECT cents FROM ranked
                   WHERE rn = (99 * (SELECT n FROM nn) + 99) // 100)
                    AS hi)
         SELECT (SELECT n FROM nn)::BIGINT AS n,
                (SELECT count(*) FROM base, b
                 WHERE cents < lo)::BIGINT AS clipped_low,
                (SELECT count(*) FROM base, b
                 WHERE cents > hi)::BIGINT AS clipped_high,
                (SELECT sum(greatest(least(cents, hi), lo))
                 FROM base, b)::BIGINT AS winsorized_sum_cents,
                (SELECT lo FROM b)::BIGINT AS p01_cents,
                (SELECT hi FROM b)::BIGINT AS p99_cents""",
    "q348_mad_anomalies" ->
      """WITH base AS (
           SELECT event_type, floor(value * 1000)::BIGINT AS vm
           FROM events),
         nn AS (SELECT count(*) AS n FROM base),
         med AS (
           SELECT vm AS m FROM (
             SELECT vm, row_number() OVER (ORDER BY vm) AS rn FROM base)
           WHERE rn = ((SELECT n FROM nn) + 1) // 2),
         dev AS (
           SELECT event_type, abs(vm - (SELECT m FROM med)) AS dev
           FROM base),
         mad AS (
           SELECT dev AS m FROM (
             SELECT dev, row_number() OVER (ORDER BY dev) AS rn FROM dev)
           WHERE rn = ((SELECT n FROM nn) + 1) // 2)
         SELECT event_type, count(*)::BIGINT AS n,
                sum(CASE WHEN dev * 10000 > 44478 * (SELECT m FROM mad)
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                (SELECT m FROM med)::BIGINT AS median_milli,
                (SELECT m FROM mad)::BIGINT AS mad_milli
         FROM dev GROUP BY event_type""",
    "q349_benford" ->
      """WITH d AS (
           SELECT substr(regexp_replace(format('{:.6f}', o_totalprice),
             '[^1-9]', '', 'g'), 1, 1)::INT AS digit
           FROM orders),
         counts AS (SELECT digit, count(*)::BIGINT AS obs FROM d
                    GROUP BY digit),
         nn AS (SELECT sum(obs) AS n FROM counts),
         e AS (SELECT unnest(range(1, 10)) AS digit,
                      unnest([0.301030, 0.176091, 0.124939, 0.096910,
                              0.079181, 0.066947, 0.057992, 0.051153,
                              0.045757]::DOUBLE[]) AS exp_p)
         SELECT c.digit, c.obs,
                round(e.exp_p * (SELECT n FROM nn), 6) AS expected,
                round(pow(c.obs - e.exp_p * (SELECT n FROM nn), 2)
                  / (e.exp_p * (SELECT n FROM nn)), 6) AS chi2_term
         FROM counts c JOIN e ON e.digit = c.digit""",
    // Fellegi-Sunter record-linkage scoring over blocked candidate
    // pairs: adjacent part ids form the candidate block (the q63
    // shape); three field comparisons (brand equality, type equality,
    // container size band) each contribute a log-likelihood match
    // weight in exact milli-units (literal m/u weights), and the total
    // weight decides link / possible / non-link at literal thresholds.
    // The probabilistic-linkage decision rule, integer-exact.
    "q350_fellegi_sunter" ->
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
                (CASE WHEN a.p_brand = b.p_brand THEN 2197
                      ELSE -1204 END
                 + CASE WHEN a.p_type = b.p_type THEN 3466
                        ELSE -511 END
                 + CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN 1386
                        ELSE -693 END)::BIGINT AS weight_milli,
                CASE WHEN (CASE WHEN a.p_brand = b.p_brand THEN 2197
                                ELSE -1204 END
                           + CASE WHEN a.p_type = b.p_type THEN 3466
                                  ELSE -511 END
                           + CASE WHEN abs(a.p_size - b.p_size) <= 2
                                  THEN 1386 ELSE -693 END) >= 4000
                     THEN 'link'
                     WHEN (CASE WHEN a.p_brand = b.p_brand THEN 2197
                                ELSE -1204 END
                           + CASE WHEN a.p_type = b.p_type THEN 3466
                                  ELSE -511 END
                           + CASE WHEN abs(a.p_size - b.p_size) <= 2
                                  THEN 1386 ELSE -693 END) >= 0
                     THEN 'possible' ELSE 'non_link' END AS decision
         FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""",
    "q351_top_paths" ->
      """WITH seq AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts::TIMESTAMP ASC, event_id ASC) AS rn
           FROM events),
         paths AS (
           SELECT user_id,
                  string_agg(event_type, '>' ORDER BY rn) AS path
           FROM seq WHERE rn <= 5 GROUP BY user_id)
         SELECT path, count(*)::BIGINT AS n_users
         FROM paths GROUP BY path
         ORDER BY n_users DESC, path ASC LIMIT 10"""
  )
}
