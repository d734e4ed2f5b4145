package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch J (q409-q410): Holt-Winters additive seasonal
  * smoothing as a bounded integer struct-state fold (extending q363's
  * Holt linear with 7 day-of-week seasonal slots), and a
  * forecast-backtest scorecard (naive / seasonal-naive / drift MAE
  * over a 7-day holdout). Hash-gated vs DuckDB.
  */
object Forecast {

  type Q = (SparkSession, String) => DataFrame

  /** Shared recursion pieces for the Holt-Winters fold. The seasonal
    * slot for the step being consumed is selected by CASE over
    * `a.t % 7` (no array-index lambdas — DuckDB's list_reduce pins the
    * accumulator type to the element type, so the state is a flat
    * struct of l, b, s0..s6, t), and l'/b'/s' repeat the defining
    * expressions exactly as q363 does (alpha = beta = gamma = 1/2,
    * integer floor halving).
    */
  private def sj(dialect: String): String = {
    val cases = (0 to 6).map(j => s"WHEN $j THEN a.s$j").mkString(" ")
    dialect match {
      case "spark" => s"(CASE pmod(a.t, 7) $cases END)"
      case _ => s"(CASE a.t % 7 $cases END)"
    }
  }
  private def lNew(d: String): String =
    s"cast(floor((x.v - ${sj(d)} + a.l + a.b) / 2.0) as bigint)"
  private def bNew(d: String): String =
    s"cast(floor((${lNew(d)} - a.l + a.b) / 2.0) as bigint)"
  private def sNew(d: String): String =
    s"cast(floor((x.v - ${lNew(d)} + ${sj(d)}) / 2.0) as bigint)"
  private def sFields(d: String): String = (0 to 6).map { j =>
    val cond = if (d == "spark") s"pmod(a.t, 7) = $j" else s"a.t % 7 = $j"
    s"'s$j', CASE WHEN $cond THEN ${sNew(d)} ELSE a.s$j END"
  }.mkString(", ")
  private def sfCase(d: String, pre: String): String = {
    val cases = (0 to 6).map(j => s"WHEN $j THEN ${pre}s$j").mkString(" ")
    if (d == "spark") s"(CASE pmod(n_days, 7) $cases END)"
    else s"(CASE n_days % 7 $cases END)"
  }

  val queries: Seq[(String, Q)] = Seq(

    // Holt-Winters additive seasonal smoothing — q363's level+trend
    // recursion extended with the 7-slot day-of-week seasonal state
    // the weekday cycle (q382/q408) demands. The recursion is a
    // codegen'd higher-order fold over the bounded day-grain series;
    // all-integer halving smoothing, replayed verbatim by the oracle's
    // list_reduce (whose acc-type = element-type constraint shapes the
    // flat struct state). Forecast for day n+1 = l + b + s[(n) % 7].
    "q409_holt_winters" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
      val zeroS = (0 to 6).map(j => s"'s$j', 0L").mkString(", ")
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("m"))))
          .as("series"))
        .select(col("event_type"),
          transform(col("series"), x => x.getField("m")).as("arr"))
        .withColumn("n_days", size(col("arr")).cast("long"))
        .withColumn("state", expr(
          s"""aggregate(
                transform(slice(arr, 2, int(n_days) - 1),
                  v -> named_struct('v', v)),
                named_struct('l', element_at(arr, 1), 'b', 0L,
                  $zeroS, 't', 1L),
                (a, x) -> named_struct(
                  'l', ${lNew("spark")},
                  'b', ${bNew("spark")},
                  ${sFields("spark")},
                  't', a.t + 1L))"""))
        .select(col("event_type"), col("n_days"),
          col("state.l").as("level_milli"),
          col("state.b").as("trend_milli"),
          expr(sfCase("spark", "state.")).as("seasonal_next_milli"),
          (col("state.l") + col("state.b")
            + expr(sfCase("spark", "state."))).as("forecast_milli"))
        .orderBy(col("event_type"))
    }),

    // Forecast-backtest scorecard — which baseline earns the right to
    // be beaten: over the last 7 observed days of each series, mean
    // absolute error (in exact milli-units) of naive (yesterday),
    // seasonal-naive (same weekday last week), and drift (yesterday +
    // mean historical step). Lag features from bounded per-series
    // windows; one day-grain aggregate per series.
    "q410_forecast_backtest" -> ((s, d) => {
      val daily = graft.Stage(t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m")), "q410_daily")
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val maxDay = daily.groupBy(col("event_type"))
        .agg(max(col("day")).as("mx"), count(lit(1)).as("n_days"))
      val feat = daily
        .withColumn("lag1", lag(col("m"), 1).over(w))
        .withColumn("lag7", lag(col("m"), 7).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("first_m", first(col("m")).over(w))
        .join(maxDay, "event_type")
        .filter(col("day") > expr("mx - interval 7 days"))
        .filter(col("lag7").isNotNull)
      feat.select(col("event_type"), col("n_days"), col("m"),
          col("lag1"), col("lag7"),
          (col("lag1") + expr("(lag1 - first_m) DIV greatest(rn - 2, 1L)"))
            .as("drift_pred"))
        .groupBy(col("event_type"))
        .agg(first(col("n_days")).as("n_days"),
          count(lit(1)).as("n_eval"),
          expr("sum(abs(m - lag1)) DIV count(*)").as("mae_naive"),
          expr("sum(abs(m - lag7)) DIV count(*)").as("mae_seasonal"),
          expr("sum(abs(m - drift_pred)) DIV count(*)").as("mae_drift"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q409_holt_winters" -> {
      // NOT list_reduce: DuckDB's list_reduce mis-evaluates repeated
      // nested struct-field subexpressions against a partially-updated
      // accumulator (verified empirically: the same lambda body gives
      // the correct value standalone and a different one inside the
      // fold). A recursive CTE carries the state as plain columns —
      // every reference unambiguous.
      val sjv = "(CASE t % 7 WHEN 0 THEN s0 WHEN 1 THEN s1 " +
        "WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 " +
        "WHEN 5 THEN s5 WHEN 6 THEN s6 END)"
      val sSel = (0 to 6).map(j =>
        s"CASE WHEN t % 7 = $j THEN cast(floor((xv - ln + sjv) / 2.0)" +
          s" as bigint) ELSE s$j END AS s$j").mkString(",\n             ")
      s"""WITH RECURSIVE daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, list(m ORDER BY day) AS arr,
                  count(*)::BIGINT AS n_days
           FROM daily GROUP BY event_type),
         fold AS (
           SELECT event_type, arr, n_days, 1::BIGINT AS t,
                  arr[1]::BIGINT AS l, 0::BIGINT AS b,
                  0::BIGINT AS s0, 0::BIGINT AS s1, 0::BIGINT AS s2,
                  0::BIGINT AS s3, 0::BIGINT AS s4, 0::BIGINT AS s5,
                  0::BIGINT AS s6
           FROM ser
           UNION ALL
           SELECT event_type, arr, n_days, t + 1,
                  ln AS l,
                  cast(floor((ln - l + b) / 2.0) as bigint) AS b,
                  $sSel
           FROM (
             SELECT *, cast(floor((xv - sjv + l + b) / 2.0) as bigint)
                    AS ln
             FROM (
               SELECT *, arr[(t + 1)::INT]::BIGINT AS xv,
                      $sjv AS sjv
               FROM fold WHERE t < n_days))),
         done AS (SELECT * FROM fold WHERE t = n_days)
         SELECT event_type, n_days, l AS level_milli, b AS trend_milli,
                (CASE n_days % 7 WHEN 0 THEN s0 WHEN 1 THEN s1
                   WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4
                   WHEN 5 THEN s5 WHEN 6 THEN s6 END)::BIGINT
                  AS seasonal_next_milli,
                (l + b + (CASE n_days % 7 WHEN 0 THEN s0
                   WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
                   WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6 END))
                  ::BIGINT AS forecast_milli
         FROM done ORDER BY event_type"""
    },
    "q410_forecast_backtest" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         md AS (
           SELECT event_type, max(day) AS mx, count(*)::BIGINT AS n_days
           FROM daily GROUP BY 1),
         feat AS (
           SELECT d.event_type, md.n_days, d.day, d.m,
                  lag(d.m, 1) OVER (PARTITION BY d.event_type
                    ORDER BY d.day) AS lag1,
                  lag(d.m, 7) OVER (PARTITION BY d.event_type
                    ORDER BY d.day) AS lag7,
                  row_number() OVER (PARTITION BY d.event_type
                    ORDER BY d.day) AS rn,
                  first_value(d.m) OVER (PARTITION BY d.event_type
                    ORDER BY d.day) AS first_m,
                  md.mx
           FROM daily d JOIN md ON md.event_type = d.event_type)
         SELECT event_type, any_value(n_days) AS n_days,
                count(*)::BIGINT AS n_eval,
                (sum(abs(m - lag1)) // count(*))::BIGINT AS mae_naive,
                (sum(abs(m - lag7)) // count(*))::BIGINT
                  AS mae_seasonal,
                (sum(abs(m - (lag1 + (lag1 - first_m)
                   // greatest(rn - 2, 1)))) // count(*))::BIGINT
                  AS mae_drift
         FROM feat
         WHERE day > mx - INTERVAL 7 DAY AND lag7 IS NOT NULL
         GROUP BY event_type ORDER BY event_type"""
  )
}

/** Round-9 batch AD (q484-q486) — experiment design + monitoring:
  *
  *  - q484: power analysis / sample-size table — n per arm =
  *    2 (z_{α/2} + z_β)² σ² / δ² for a grid of minimum detectable
  *    effects, with σ² estimated from the live metric (exact cent
  *    sums). The pre-experiment sibling of q440's z-test; one
  *    1-row aggregate joined to a literal MDE grid.
  *  - q485: missingness-pattern audit — three deterministic
  *    knockout rules produce a null-pattern bitmask per row; the
  *    audit reports pattern counts vs the independence expectation
  *    (observed/expected ppm), the MCAR smoke test run before any
  *    imputation (q470's upstream check).
  *  - q486: top-k stability — weekly top-8 brands by revenue,
  *    consecutive-week overlap (Jaccard) + the new-entrant count.
  *    Rank windows are per-week (bounded by the brand catalog);
  *    the week-over-week join touches only the top-k rows.
  */
object Monitor {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q484_power_mde" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val sig = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .agg(sum(floor(col("value") * 100).cast("long")).as("sc"),
          sum((floor(col("value") * 100) *
            floor(col("value") * 100)).cast("decimal(38,0)"))
            .as("scc"),
          count(lit(1)).as("n"))
        .select((col("scc").cast("double") / col("n") -
          (col("sc") / col("n").cast("double")) *
            (col("sc") / col("n").cast("double"))).as("var_cents2"))
      val mdes = Seq(100L, 200L, 500L, 1000L, 2000L)
        .toDF("mde_cents")
      // alpha = 0.05 two-sided, power = 0.80:
      // z_{alpha/2} = 1.959964, z_beta = 0.841621
      mdes.crossJoin(broadcast(sig))
        .withColumn("n_per_arm", ceil(lit(2.0) *
          pow(lit(1.959964) + lit(0.841621), 2) * col("var_cents2") /
          (col("mde_cents") * col("mde_cents"))).cast("long"))
        .select(col("mde_cents"),
          floor(col("var_cents2")).cast("long").as("var_cents2_fl"),
          col("n_per_arm"))
        .orderBy(col("mde_cents"))
    }),

    "q485_missingness_patterns" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(
          when(col("event_id") % 13 === 0, 1L).otherwise(0L).as("m1"),
          when(col("user_id") % 7 === 0, 1L).otherwise(0L).as("m2"),
          when(col("event_id") % 5 === 0, 1L).otherwise(0L).as("m3"))
      val tot = ev.agg(count(lit(1)).as("n"),
        sum(col("m1")).as("r1"), sum(col("m2")).as("r2"),
        sum(col("m3")).as("r3"))
      ev.groupBy((col("m1") + col("m2") * 2 + col("m3") * 4)
          .as("pattern"))
        .agg(count(lit(1)).as("observed"))
        .crossJoin(broadcast(tot))
        // independence expectation: n * prod(p_i or 1-p_i), exact
        // rational -> one double product
        .withColumn("expected_milli", floor(lit(1000.0) * col("n") *
          (when(col("pattern").bitwiseAND(lit(1L)) === 1L,
            col("r1") / col("n").cast("double"))
            .otherwise(lit(1.0) - col("r1") / col("n").cast("double"))) *
          (when(col("pattern").bitwiseAND(lit(2L)) === 2L,
            col("r2") / col("n").cast("double"))
            .otherwise(lit(1.0) - col("r2") / col("n").cast("double"))) *
          (when(col("pattern").bitwiseAND(lit(4L)) === 4L,
            col("r3") / col("n").cast("double"))
            .otherwise(lit(1.0) - col("r3") / col("n").cast("double"))))
          .cast("long"))
        .withColumn("oe_ppm", expr(
          "observed * 1000000000 DIV greatest(expected_milli, 1)"))
        .select(col("pattern").cast("long").as("pattern"),
          col("observed"), col("expected_milli"), col("oe_ppm"))
        .orderBy(col("pattern"))
    }),

    "q486_topk_stability" -> ((s, d) => {
      val weekly = t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(
          floor(unix_timestamp(col("l_shipdate").cast("timestamp")) /
            lit(604800L)).cast("long").as("week"),
          col("p_brand").as("brand"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      val wWk = Window.partitionBy(col("week"))
        .orderBy(col("cents").desc, col("brand"))
      val topk = weekly.withColumn("rk", row_number().over(wWk))
        .filter(col("rk") <= 8)
        .select(col("week"), col("brand"))
      val nxt = topk.select((col("week") - 1).as("week"),
        col("brand").as("brand_next"))
      val bounds = topk.agg(max(col("week")).as("wmax"))
      // overlap o of consecutive top-8 sets; Jaccard = o / (16 - o)
      topk.join(nxt, Seq("week"), "left")
        .groupBy(col("week"))
        .agg(sum(when(col("brand") === col("brand_next"), 1L)
          .otherwise(0L)).as("overlap"))
        .crossJoin(broadcast(bounds))
        .filter(col("week") < col("wmax")) // last week has no successor
        .select(col("week"), col("overlap").as("kept"),
          (lit(8L) - col("overlap")).as("churned"),
          expr("overlap * 1000 DIV (16 - overlap)").as("jaccard_milli"))
        .orderBy(col("week"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q484_power_mde" ->
      """WITH sig AS (
           SELECT (CAST(sum(floor(value * 100)::BIGINT
                    * floor(value * 100)::BIGINT) AS DOUBLE) / count(*)
                   - (sum(floor(value * 100)::BIGINT)
                      / CAST(count(*) AS DOUBLE))
                     * (sum(floor(value * 100)::BIGINT)
                        / CAST(count(*) AS DOUBLE))) AS var_cents2
           FROM events WHERE event_type = 'purchase'),
         mdes AS (SELECT unnest([100, 200, 500, 1000, 2000])::BIGINT
                    AS mde_cents)
         SELECT mde_cents,
                floor(var_cents2)::BIGINT AS var_cents2_fl,
                ceil(2.0 * pow(1.959964 + 0.841621, 2) * var_cents2
                  / (mde_cents * mde_cents))::BIGINT AS n_per_arm
         FROM mdes CROSS JOIN sig
         ORDER BY mde_cents""",

    "q485_missingness_patterns" ->
      """WITH ev AS (
           SELECT (CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0
                   END)::BIGINT AS m1,
                  (CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0
                   END)::BIGINT AS m2,
                  (CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0
                   END)::BIGINT AS m3
           FROM events),
         tot AS (
           SELECT count(*)::BIGINT AS n, sum(m1)::BIGINT AS r1,
                  sum(m2)::BIGINT AS r2, sum(m3)::BIGINT AS r3
           FROM ev),
         pat AS (
           SELECT (m1 + m2 * 2 + m3 * 4)::BIGINT AS pattern,
                  count(*)::BIGINT AS observed
           FROM ev GROUP BY 1),
         scored AS (
           SELECT pattern, observed,
                  floor(1000.0 * n
                    * (CASE WHEN (pattern & 1) = 1
                       THEN r1 / CAST(n AS DOUBLE)
                       ELSE 1.0 - r1 / CAST(n AS DOUBLE) END)
                    * (CASE WHEN (pattern & 2) = 2
                       THEN r2 / CAST(n AS DOUBLE)
                       ELSE 1.0 - r2 / CAST(n AS DOUBLE) END)
                    * (CASE WHEN (pattern & 4) = 4
                       THEN r3 / CAST(n AS DOUBLE)
                       ELSE 1.0 - r3 / CAST(n AS DOUBLE) END))::BIGINT
                    AS expected_milli
           FROM pat CROSS JOIN tot)
         SELECT pattern, observed, expected_milli,
                (observed * 1000000000
                  // greatest(expected_milli, 1))::BIGINT AS oe_ppm
         FROM scored ORDER BY pattern""",

    "q486_topk_stability" ->
      """WITH weekly AS (
           SELECT floor(epoch(l_shipdate::TIMESTAMP)
                    / 604800)::BIGINT AS week,
                  p_brand AS brand,
                  sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT
                    AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         topk AS (
           SELECT week, brand FROM (
             SELECT week, brand,
                    row_number() OVER (PARTITION BY week
                      ORDER BY cents DESC, brand) AS rk
             FROM weekly) q
           WHERE rk <= 8),
         nxt AS (
           SELECT week - 1 AS week, brand AS brand_next FROM topk),
         hits AS (
           SELECT t.week,
                  sum(CASE WHEN t.brand = n.brand_next THEN 1 ELSE 0
                      END)::BIGINT AS overlap
           FROM topk t LEFT JOIN nxt n ON t.week = n.week
           GROUP BY t.week)
         SELECT week, overlap AS kept,
                (8 - overlap)::BIGINT AS churned,
                (overlap * 1000 // (16 - overlap))::BIGINT
                  AS jaccard_milli
         FROM hits
         WHERE week < (SELECT max(week) FROM topk)
         ORDER BY week"""
  )
}


/** Round-9 batch AC (q481-q483) — uplift + point-process signals:
  *
  *  - q481: uplift Qini-lite — treated (user_id odd) vs control
  *    conversion by score decile (score = per-user mean value),
  *    cumulative incremental conversions down the ranking. Deciles
  *    come from ntile over the per-user summary (users are
  *    dimension-sized vs events; the 100 TB form swaps in the q343
  *    ExactSelection boundaries). Everything else is exact integer
  *    arithmetic.
  *  - q482: Markov transition entropy — H(next type | current type)
  *    per current type from bigram counts (lead over per-user
  *    streams), plus the predictability gap vs the uniform maximum.
  *    ln on exact ratios, milli-quantized.
  *  - q483: burstiness — per event type: interarrival coefficient
  *    of variation (CV, from exact first/second moments of lagged
  *    gaps) and the burstiness index B = (cv-1)/(cv+1); Poisson
  *    streams score B ~ 0, bursty streams -> 1.
  */
object Signals {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q483_burstiness" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = t(s, d, "events")
        .select(col("event_type"), col("ts"), col("event_id"))
        .withColumn("gap",
          unix_timestamp(col("ts")) -
            unix_timestamp(lag(col("ts"), 1).over(w)))
        .filter(col("gap").isNotNull)
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("gap")).as("sg"),
          sum(col("gap") * col("gap")).as("sgg"))
        .withColumn("mean_s", col("sg") / col("n").cast("double"))
        .withColumn("cv", sqrt(col("sgg") / col("n") -
          (col("sg") / col("n")) * (col("sg") / col("n"))) /
          (col("sg") / col("n")))
        .select(col("event_type"), col("n").as("n_gaps"),
          floor(col("mean_s")).cast("long").as("mean_gap_s"),
          floor(col("cv") * 1000).cast("long").as("cv_milli"),
          floor((col("cv") - 1) / (col("cv") + 1) * 1000)
            .cast("long").as("burstiness_milli"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q481_uplift_qini" ->
      """WITH users AS (
           SELECT user_id,
                  sum(floor(value * 100)::BIGINT)
                    / CAST(count(*) AS DOUBLE) AS score,
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END)::BIGINT AS conv,
                  (user_id % 2)::INT AS treated
           FROM events GROUP BY user_id),
         ranked AS (
           SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id)
             AS dec
           FROM users),
         by_dec AS (
           SELECT dec,
                  sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)::BIGINT
                    AS n_t,
                  sum(CASE WHEN treated = 1 THEN conv ELSE 0
                      END)::BIGINT AS c_t,
                  sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)::BIGINT
                    AS n_c,
                  sum(CASE WHEN treated = 0 THEN conv ELSE 0
                      END)::BIGINT AS c_c
           FROM ranked GROUP BY dec),
         cum AS (
           SELECT dec, n_t, c_t, n_c, c_c,
                  sum(c_t) OVER wc AS cum_ct,
                  sum(n_t) OVER wc AS cum_nt,
                  sum(c_c) OVER wc AS cum_cc,
                  sum(n_c) OVER wc AS cum_nc
           FROM by_dec
           WINDOW wc AS (ORDER BY dec ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW))
         SELECT dec, n_t, c_t, n_c, c_c,
                (CASE WHEN cum_nc > 0
                 THEN floor(1000.0 * (cum_ct - cum_cc * cum_nt
                   / CAST(cum_nc AS DOUBLE)))
                 ELSE NULL END)::BIGINT AS qini_milli
         FROM cum ORDER BY dec""",

    "q482_transition_entropy" ->
      """WITH ev AS (
           SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                  event_type AS cur
           FROM events),
         bigrams AS (
           SELECT cur, nxt, count(*)::BIGINT AS n FROM (
             SELECT cur, lead(cur) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
             FROM ev) q
           WHERE nxt IS NOT NULL GROUP BY cur, nxt),
         totals AS (
           SELECT cur, sum(n)::BIGINT AS tot,
                  count(*)::BIGINT AS n_targets
           FROM bigrams GROUP BY cur),
         terms AS (
           SELECT b.cur, t.tot, t.n_targets,
                  -(b.n / CAST(t.tot AS DOUBLE))
                    * ln(b.n / CAST(t.tot AS DOUBLE)) AS term
           FROM bigrams b JOIN totals t ON b.cur = t.cur)
         SELECT cur, tot AS n_transitions,
                floor(sum(term) * 1000)::BIGINT AS entropy_milli,
                floor(ln(CAST(n_targets AS DOUBLE)) * 1000)::BIGINT
                  AS max_entropy_milli,
                (floor(ln(CAST(n_targets AS DOUBLE)) * 1000)
                  - floor(sum(term) * 1000))::BIGINT
                  AS predictability_milli
         FROM terms GROUP BY cur, tot, n_targets
         ORDER BY cur""",

    "q483_burstiness" ->
      """WITH gaps AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP))::BIGINT
                    - floor(epoch(lag(ts::TIMESTAMP) OVER (
                        PARTITION BY event_type
                        ORDER BY ts::TIMESTAMP, event_id)))::BIGINT
                    AS gap
           FROM events),
         agg AS (
           SELECT event_type, count(*)::BIGINT AS n,
                  sum(gap)::BIGINT AS sg, sum(gap * gap) AS sgg
           FROM gaps WHERE gap IS NOT NULL GROUP BY event_type),
         cvd AS (
           SELECT event_type, n, sg,
                  sqrt(sgg / n - (CAST(sg AS DOUBLE) / n)
                    * (CAST(sg AS DOUBLE) / n))
                    / (CAST(sg AS DOUBLE) / n) AS cv
           FROM agg)
         SELECT event_type, n AS n_gaps,
                floor(CAST(sg AS DOUBLE) / n)::BIGINT AS mean_gap_s,
                floor(cv * 1000)::BIGINT AS cv_milli,
                floor((cv - 1) / (cv + 1) * 1000)::BIGINT
                  AS burstiness_milli
         FROM cvd ORDER BY event_type"""
  )
}


/** Round-9 batch AM (q511-q513) — seasonality detection,
  * distributional drift, and uncertainty-aware ranking:
  *
  *  - q511: single-bin DFT periodogram over the hourly revenue
  *    series at candidate periods {6, 12, 24, 168}h. The Goertzel
  *    recurrence is inherently sequential, but the DFT bin itself is
  *    a SUM: power(T) = (Σ x·cos(2πt/T))² + (Σ x·sin(2πt/T))² — and
  *    because the angle only depends on t mod T, the corpus first
  *    collapses to ≤T exact integer phase sums, the transcendental
  *    multiply runs on that bounded grain, each term is floored to
  *    whole cents (so libm's last-ulp cos differences can't leak
  *    into a float sum), and the squares are DECIMAL-lifted.
  *    Deterministic, one shuffle, dominant period flagged.
  *  - q512: QQ-drift between two document sources — deciles of the
  *    n_chars distribution per source from a value-grain cumulative
  *    histogram (char-length domain, never a corpus sort), the
  *    9-point QQ line fit by OLS on exact integer sums, plus the
  *    worst quantile gap. Slope≈1, intercept≈0 reads "same
  *    distribution"; KS/PSI (q407/q383) test, this CHARACTERIZES.
  *  - q513: Wilson-lower-bound ranking of per-brand return rates vs
  *    the raw-rate ranking — the classic fix for ranking small-n
  *    rates (complements q502's empirical-Bayes shrinkage with the
  *    frequentist interval answer). Brand grain (25 rows), windows
  *    bounded; rank shifts reported.
  */
object Spectral {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q511_spectral_periodogram" -> ((s, d) => {
      val hourly = graft.Stage(t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 3600L)
          .cast("long").as("hr"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x")),
        "q511_hourly")
      val n = hourly.agg(count(lit(1)).as("n_hours"))
      val periods = Seq(6, 12, 24, 168)
      val perT = periods.map { tt =>
        hourly.groupBy((col("hr") % tt).as("ph"))
          .agg(sum(col("x")).as("sph"))
          .withColumn("ang",
            lit(2.0) * math.Pi * col("ph") / tt)
          .agg(
            sum(floor(col("sph").cast("double") * cos(col("ang")))
              .cast("long")).as("a"),
            sum(floor(col("sph").cast("double") * sin(col("ang")))
              .cast("long")).as("b"))
          .select(lit(tt.toLong).as("period_hours"),
            col("a"), col("b"))
      }
      val amps = perT.reduce(_ unionByName _)
        .crossJoin(broadcast(n))
        .withColumn("amp_cents",
          floor(sqrt((col("a").cast("decimal(38,0)") * col("a")
            + col("b").cast("decimal(38,0)") * col("b"))
            .cast("double")) / col("n_hours")).cast("long"))
      val w = Window.orderBy(col("amp_cents").desc,
        col("period_hours").asc) // 4-row period grain
      amps.withColumn("is_peak",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .select(col("period_hours"), col("n_hours"), col("amp_cents"),
          col("is_peak"))
        .orderBy(col("period_hours"))
    }),

    // Kept over its oracle SQL: 217 vs 324 ms warm at sf0.1 (median, 5 of
    // 5 runs); all nine deciles come from one pass, the SQL runs a
    // correlated subquery per decile.
    "q512_qq_drift" -> ((s, d) => {
      def deciles(src: String, qn: String): DataFrame = {
        val h = t(s, d, "documents")
          .filter(col("source") === src)
          .groupBy(col("n_chars").as("v"))
          .agg(count(lit(1)).as("c"))
        val wc = Window.orderBy(col("v")) // char-length value grain
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = h.withColumn("cum", sum(col("c")).over(wc))
          .crossJoin(broadcast(
            h.agg(sum(col("c")).as("nn"))))
        // all nine deciles from ONE pass over the cumulative grain:
        // min(v | cum·10 ≥ nn·k) ≡ the old per-k filter+min, which
        // re-embedded the window subtree nine times per source
        // (the q570 fix applied here)
        val aggd = cum.agg(
          min(when(col("cum") * 10 >= col("nn") * 1, col("v"))).as("q1"),
          (2 to 9).map(k => min(when(col("cum") * 10 >= col("nn") * k,
            col("v"))).as(s"q$k")): _*)
        val stackArgs = (1 to 9)
          .map(k => s"CAST($k AS BIGINT), q$k").mkString(", ")
        aggd.select(expr(s"stack(9, $stackArgs) AS (k, $qn)"))
      }
      val qq = deciles("src0", "qa").join(deciles("src1", "qb"), Seq("k"))
      qq.agg(count(lit(1)).as("n_points"),
        sum(col("qa")).as("sa"), sum(col("qb")).as("sb"),
        sum(col("qa") * col("qb")).as("sab"),
        sum(col("qa") * col("qa")).as("saa"),
        max(abs(col("qa") - col("qb"))).as("max_gap_chars"))
        .withColumn("slope",
          (col("n_points") * col("sab") - col("sa") * col("sb"))
            .cast("double")
            / (col("n_points") * col("saa") - col("sa") * col("sa"))
              .cast("double"))
        .select(col("n_points"),
          floor(col("slope") * 1e6).cast("long").as("slope_ppm"),
          floor((col("sb").cast("double")
            - col("slope") * col("sa").cast("double"))
            / col("n_points") * 100).cast("long").as("intercept_centi"),
          col("max_gap_chars"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    "q511_spectral_periodogram" -> {
      val per = Seq(6, 12, 24, 168).map { tt =>
        s"""p$tt AS (
           SELECT $tt::BIGINT AS period_hours,
                  sum(floor(CAST(sph AS DOUBLE)
                    * cos(2.0 * pi() * ph / $tt))::BIGINT)::BIGINT
                    AS a,
                  sum(floor(CAST(sph AS DOUBLE)
                    * sin(2.0 * pi() * ph / $tt))::BIGINT)::BIGINT
                    AS b
           FROM (SELECT hr % $tt AS ph, sum(x)::BIGINT AS sph
                 FROM hourly GROUP BY 1))"""
      }.mkString(",\n         ")
      s"""WITH hourly AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 3600)::BIGINT AS hr,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS x
           FROM events GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS n_hours FROM hourly),
         $per,
         amps AS (
           SELECT period_hours, n_hours,
                  floor(sqrt(CAST(a::HUGEINT * a + b::HUGEINT * b
                    AS DOUBLE)) / n_hours)::BIGINT AS amp_cents
           FROM (SELECT * FROM p6 UNION ALL SELECT * FROM p12
                 UNION ALL SELECT * FROM p24
                 UNION ALL SELECT * FROM p168), n)
         SELECT period_hours, n_hours, amp_cents,
                (CASE WHEN row_number() OVER (
                   ORDER BY amp_cents DESC, period_hours) = 1
                 THEN 1 ELSE 0 END)::BIGINT AS is_peak
         FROM amps ORDER BY period_hours"""
    },

    "q512_qq_drift" -> {
      def dec(src: String, qn: String) =
        s"""(SELECT k.k::BIGINT AS k,
              (SELECT min(v) FROM (
                 SELECT v, sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
                 FROM (SELECT n_chars AS v, count(*)::BIGINT AS c
                       FROM documents WHERE source = '$src'
                       GROUP BY 1))
               WHERE cum * 10 >= k.k *
                 (SELECT count(*) FROM documents
                  WHERE source = '$src'))::BIGINT AS $qn
            FROM range(1, 10) k(k))"""
      s"""WITH qq AS (
           SELECT a.k, a.qa, b.qb
           FROM ${dec("src0", "qa")} a
           JOIN ${dec("src1", "qb")} b ON a.k = b.k),
         sums AS (
           SELECT count(*)::BIGINT AS n_points,
                  sum(qa)::BIGINT AS sa, sum(qb)::BIGINT AS sb,
                  sum(qa * qb)::BIGINT AS sab,
                  sum(qa * qa)::BIGINT AS saa,
                  max(abs(qa - qb))::BIGINT AS max_gap_chars
           FROM qq),
         fit AS (
           SELECT n_points, sa, sb, max_gap_chars,
             CAST(n_points * sab - sa * sb AS DOUBLE)
               / CAST(n_points * saa - sa * sa AS DOUBLE) AS slope
           FROM sums)
         SELECT n_points,
                floor(slope * 1e6)::BIGINT AS slope_ppm,
                floor((CAST(sb AS DOUBLE) - slope * CAST(sa AS DOUBLE))
                  / n_points * 100)::BIGINT AS intercept_centi,
                max_gap_chars
         FROM fit"""
    },

    "q513_wilson_ranking" ->
      """WITH br AS (
           SELECT p.p_brand AS brand, count(*)::BIGINT AS n,
                  sum(CASE WHEN l.l_returnflag = 'R' THEN 1
                      ELSE 0 END)::BIGINT AS k
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           GROUP BY p.p_brand),
         wl AS (
           SELECT brand, n, k,
             CAST(k AS DOUBLE) / n AS p,
             (CAST(k AS DOUBLE) / n + (1.96 * 1.96) / (2.0 * n)
               - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                   * (1.0 - CAST(k AS DOUBLE) / n) / n
                 + (1.96 * 1.96) / (4.0 * n * n)))
               / (1.0 + (1.96 * 1.96) / n) AS wilson
           FROM br),
         rk AS (
           SELECT brand, n, k,
                  floor(p * 1e6)::BIGINT AS raw_ppm,
                  floor(wilson * 1e6)::BIGINT AS wilson_ppm,
                  row_number() OVER (ORDER BY p DESC, brand)::BIGINT
                    AS raw_rank,
                  row_number() OVER (ORDER BY wilson DESC, brand)
                    ::BIGINT AS wilson_rank
           FROM wl)
         SELECT brand, n, k, raw_ppm, wilson_ppm, raw_rank,
                wilson_rank,
                abs(raw_rank - wilson_rank)::BIGINT AS rank_shift
         FROM rk ORDER BY brand"""
  )
}


/** Round-9 batch L (q428-q430): metric-movement explanation operators —
  * the "why did the number change" layer a warehouse owner reaches for
  * right after the dashboards the earlier rounds built (WoW report
  * q366, seasonality q382, PSI drift q383):
  *
  *  - q428: period-over-period mix/rate decomposition (the standard
  *    two-factor bridge: how much of the average-order-value change is
  *    segment MIX shift vs per-segment RATE change),
  *  - q429: linear-interpolation resampling of a sparse hourly series
  *    onto a dense grid (the gap-filling sibling of q260's LOCF),
  *  - q430: piecewise-linear fit with a grid-searched knot (segmented
  *    regression — the regression sibling of q415's best-split finder).
  *
  * All arithmetic is anchored in exact integers (cents / micros / ppm,
  * integer DIV) so both engines agree bit-for-bit; q430's SSE is a
  * fixed expression tree over exact integer sums, so its DOUBLE is
  * reproducible. Every corpus-scale stage is one keyed aggregate; the
  * decomposition/knot/grid logic runs on bounded rows (5 segments, 41
  * knots, <=720 grid hours per series).
  */
object Decomp {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Average-order-value bridge 1995 -> 1996 by o_orderpriority.
    // Per segment: share w_p (ppm of period orders) and rate r_p
    // (avg cents, integer DIV); the bridge terms are
    //   mix_eff  = (w2 - w1) * r1   [micro-cents]
    //   rate_eff = w2 * (r2 - r1)   [micro-cents]
    // One corpus aggregate; everything after runs on 5x2 rows.
    "q428_mix_rate_decomp" -> ((s, d) => {
      val seg = t(s, d, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_orderpriority").as("segment"),
          year(col("o_orderdate")).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val tot = seg.groupBy(col("y"))
        .agg(sum(col("n")).as("tn"), sum(col("cents")).as("tc"))
      val w = seg.join(broadcast(tot), "y")
        .select(col("segment"), col("y"), col("n"),
          expr("1000000 * n DIV tn").as("w_ppm"),
          expr("cents DIV n").as("r_cents"))
      val p1 = w.filter(col("y") === 1995)
        .select(col("segment"), col("n").as("n1"),
          col("w_ppm").as("w1_ppm"), col("r_cents").as("r1_cents"))
      val p2 = w.filter(col("y") === 1996)
        .select(col("segment"), col("n").as("n2"),
          col("w_ppm").as("w2_ppm"), col("r_cents").as("r2_cents"))
      p1.join(p2, "segment")
        .select(col("segment"), col("n1"), col("n2"),
          col("w1_ppm"), col("w2_ppm"), col("r1_cents"), col("r2_cents"),
          ((col("w2_ppm") - col("w1_ppm")) * col("r1_cents"))
            .as("mix_eff_micro"),
          (col("w2_ppm") * (col("r2_cents") - col("r1_cents")))
            .as("rate_eff_micro"))
        .orderBy(col("segment"))
    }),

    // Linear-interpolation resample: per event_type, the hourly
    // sum(value) series has gaps (868 of 3600 hours known at sf0.001);
    // fill each missing grid hour between the series' first and last
    // known hour with v_prev + (v_next - v_prev) * gap_pos DIV gap_len
    // (integer micros). Report per (type, day): known hours, filled
    // hours, and the day's interpolated total. The corpus sees one
    // aggregate; the grid is <=720 rows per series.
    "q429_interp_resample" -> ((s, d) => {
      val known = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(sum(floor(col("value") * 1000000).cast("long")).as("v"))
      val bounds = known.groupBy(col("event_type"))
        .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      val grid = bounds.select(col("event_type"),
        explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val joined = grid.join(known, Seq("event_type", "h"), "left")
      val wAsc = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDesc = Window.partitionBy(col("event_type"))
        .orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = joined
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wAsc))
        .withColumn("ph", last(when(col("v").isNotNull, col("h")),
          ignoreNulls = true).over(wAsc))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wDesc))
        .withColumn("nh", last(when(col("v").isNotNull, col("h")),
          ignoreNulls = true).over(wDesc))
        // floor() on the double ratio on BOTH sides: Spark's
        // cast(double AS long) truncates while DuckDB's rounds, so the
        // shared integer anchor is floor of an identical IEEE
        // expression tree over exact integer inputs.
        .withColumn("iv", when(col("v").isNotNull, col("v")).otherwise(
          col("pv") + floor((col("nv") - col("pv")) *
            expr("(unix_timestamp(h) - unix_timestamp(ph))") /
            expr("(unix_timestamp(nh) - unix_timestamp(ph))"))))
      filled.groupBy(col("event_type"),
          to_date(col("h")).cast("string").as("day"))
        .agg(sum(when(col("v").isNotNull, 1L).otherwise(0L))
            .as("known_hours"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("filled_hours"),
          sum(col("iv")).as("day_total_micro"))
        .orderBy(col("event_type"), col("day"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    "q428_mix_rate_decomp" ->
      """WITH seg AS (
           SELECT o_orderpriority AS segment,
                  year(o_orderdate) AS y, count(*)::BIGINT AS n,
                  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS cents
           FROM orders WHERE year(o_orderdate) IN (1995, 1996)
           GROUP BY 1, 2),
         tot AS (SELECT y, sum(n)::BIGINT AS tn FROM seg GROUP BY y),
         w AS (
           SELECT s.segment, s.y, s.n,
                  (1000000 * s.n) // t.tn AS w_ppm,
                  s.cents // s.n AS r_cents
           FROM seg s JOIN tot t ON s.y = t.y)
         SELECT p1.segment, p1.n AS n1, p2.n AS n2,
                p1.w_ppm AS w1_ppm, p2.w_ppm AS w2_ppm,
                p1.r_cents AS r1_cents, p2.r_cents AS r2_cents,
                ((p2.w_ppm - p1.w_ppm) * p1.r_cents)::BIGINT
                  AS mix_eff_micro,
                (p2.w_ppm * (p2.r_cents - p1.r_cents))::BIGINT
                  AS rate_eff_micro
         FROM w p1 JOIN w p2 ON p1.segment = p2.segment
         WHERE p1.y = 1995 AND p2.y = 1996
         ORDER BY p1.segment""",

    "q429_interp_resample" ->
      """WITH known AS (
           SELECT event_type, date_trunc('hour', ts) AS h,
                  sum(floor(value * 1000000)::BIGINT)::BIGINT AS v
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT event_type, min(h) AS lo, max(h) AS hi
           FROM known GROUP BY 1),
         allh AS (
           -- generate_series needs constant bounds in this DuckDB: use
           -- a fixed over-wide year grid, then clamp to each series'
           -- [lo, hi] (the events fixture lives inside 2024).
           SELECT g.h
           FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-12-31 23:00:00',
                                INTERVAL 1 HOUR) AS g(h)),
         grid AS (
           SELECT b.event_type, a.h
           FROM bounds b JOIN allh a ON a.h BETWEEN b.lo AND b.hi),
         joined AS (
           SELECT g.event_type, g.h, k.v
           FROM grid g LEFT JOIN known k
             ON g.event_type = k.event_type AND g.h = k.h),
         filled AS (
           SELECT event_type, h, v,
                  last_value(v IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS pv,
                  last_value(CASE WHEN v IS NOT NULL THEN h END
                    IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS ph,
                  last_value(v IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY h DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS nv,
                  last_value(CASE WHEN v IS NOT NULL THEN h END
                    IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY h DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS nh
           FROM joined),
         iv AS (
           SELECT event_type, h, v,
                  CASE WHEN v IS NOT NULL THEN v
                       ELSE pv + CAST(floor((nv - pv)
                         * (epoch(h) - epoch(ph))
                         / (epoch(nh) - epoch(ph))) AS BIGINT) END AS iv
           FROM filled)
         SELECT event_type, CAST(CAST(h AS DATE) AS VARCHAR) AS day,
                sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS known_hours,
                sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS filled_hours,
                sum(iv)::BIGINT AS day_total_micro
         FROM iv GROUP BY 1, 2 ORDER BY 1, 2""",

    // Segmented regression: fit y = a + b*x separately left/right of a
    // knot over (x = p_size, y = p_retailprice cents), for every knot
    // in 5..45; SSE per side from the closed form
    //   SSE = (Syy - Sy^2/n) - (Sxy - Sx*Sy/n)^2 / (Sxx - Sx^2/n)
    // computed from exact integer prefix sums over the 50 size buckets.
    // One corpus aggregate; the knot search is a 41-row window scan.
    "q430_piecewise_knot" ->
      """WITH buck AS (
           SELECT p_size::BIGINT AS x, count(*)::BIGINT AS n,
                  sum(p_size::BIGINT * p_size::BIGINT)::BIGINT AS sxx0,
                  sum(floor(p_retailprice * 100)::BIGINT)::BIGINT AS sy,
                  sum(p_size::BIGINT
                      * floor(p_retailprice * 100)::BIGINT)::BIGINT
                    AS sxy,
                  sum(floor(p_retailprice * 100)::BIGINT
                      * floor(p_retailprice * 100)::BIGINT)::BIGINT
                    AS syy
           FROM part GROUP BY 1),
         cum AS (
           SELECT x,
                  sum(n) OVER w::BIGINT AS cn,
                  sum(x * n) OVER w::BIGINT AS csx,
                  sum(sy) OVER w::BIGINT AS csy,
                  sum(sxx0) OVER w::BIGINT AS csxx,
                  sum(sxy) OVER w::BIGINT AS csxy,
                  sum(syy) OVER w::BIGINT AS csyy
           FROM buck
           WINDOW w AS (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (
           SELECT cn AS tn, csx AS tsx, csy AS tsy, csxx AS tsxx,
                  csxy AS tsxy, csyy AS tsyy
           FROM cum ORDER BY x DESC LIMIT 1),
         knots AS (
           SELECT x AS knot, cn AS n_left, (tn - cn)::BIGINT AS n_right,
                  ((csyy - CAST(csy AS DOUBLE) * csy / cn)
                   - (csxy - CAST(csx AS DOUBLE) * csy / cn)
                     * (csxy - CAST(csx AS DOUBLE) * csy / cn)
                     / (csxx - CAST(csx AS DOUBLE) * csx / cn))
                  +
                  (((tsyy - csyy) - CAST(tsy - csy AS DOUBLE)
                      * (tsy - csy) / (tn - cn))
                   - ((tsxy - csxy) - CAST(tsx - csx AS DOUBLE)
                       * (tsy - csy) / (tn - cn))
                     * ((tsxy - csxy) - CAST(tsx - csx AS DOUBLE)
                         * (tsy - csy) / (tn - cn))
                     / ((tsxx - csxx) - CAST(tsx - csx AS DOUBLE)
                         * (tsx - csx) / (tn - cn)))
                    AS sse_total
           FROM cum CROSS JOIN tot WHERE x BETWEEN 5 AND 45)
         SELECT knot, n_left, n_right, sse_total,
                (CASE WHEN sse_total = min(sse_total) OVER ()
                      THEN 1 ELSE 0 END)::BIGINT AS is_best
         FROM knots ORDER BY knot"""
  )
}


/** Round-9 batch Y (q469-q471) — temporal modeling + data prep:
  *
  *  - q469: rolling 7-day OLS slope per event_type over the daily
  *    count series — the windowed-trend telemetry operator (the
  *    window-local sibling of q399's global Theil-Sen). Closed-form
  *    slope from window sums of (x, y, xy, x²) where x is the epoch
  *    day; all windows are day-grain bounded per series.
  *  - q470: deterministic missing-value imputation — values are
  *    knocked out on a fixed rule (event_id % 13 == 0), imputed from
  *    the (event_type, hour) group mean of the SURVIVING values, and
  *    audited per type (n_missing, imputed mass vs original mass).
  *    Two keyed aggregates, one broadcast join back.
  *  - q471: SCD2 interval construction — fold each user's event
  *    stream into (state, valid_from, valid_to) validity intervals
  *    (state = event_type; close each interval at the next event,
  *    NULL horizon for the open one), then the as-of probe "state
  *    census at the corpus midpoint". lead() over per-user windows;
  *    the probe is a filter, not a join.
  */
object Temporal {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q469_rolling_regression" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"))
        .agg(count(lit(1)).as("y"))
      val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("n", count(lit(1)).over(w7))
        .withColumn("sx", sum(col("day")).over(w7))
        .withColumn("sy", sum(col("y")).over(w7))
        .withColumn("sxy", sum(col("day") * col("y")).over(w7))
        .withColumn("sxx", sum(col("day") * col("day")).over(w7))
        .filter(col("n") >= 3)
        // slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²): exact longs in,
        // one double division out
        .withColumn("slope_milli", floor(lit(1000.0) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .cast("long"))
        .select(col("event_type"), col("day"), col("y"), col("n"),
          col("slope_milli"))
        .orderBy(col("event_type"), col("day"))
    }),

    "q470_null_imputation" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("event_type"),
          hour(col("ts")).as("hr"),
          when(col("event_id") % 13 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("v"),
          col("value").as("v_orig"))
      val means = ev.filter(col("v").isNotNull)
        .groupBy(col("event_type"), col("hr"))
        .agg((sum(col("v")) / count(col("v"))).as("grp_mean"))
      ev.join(broadcast(means), Seq("event_type", "hr"))
        .withColumn("v_imp", coalesce(col("v"), col("grp_mean")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").isNull.cast("long")).as("n_missing"),
          floor(sum(col("v_imp")) * 100).cast("long")
            .as("imputed_cents"),
          floor(sum(col("v_orig")) * 100).cast("long")
            .as("original_cents"))
        .withColumn("drift_ppm", expr(
          "(imputed_cents - original_cents) * 1000000 DIV original_cents"))
        .orderBy(col("event_type"))
    }),

    "q471_scd2_build" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mid = ev.agg(
        to_timestamp(from_unixtime(
          floor((unix_timestamp(min(col("ts"))) +
            unix_timestamp(max(col("ts")))) / 2))).as("probe"))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      val intervals = ev
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("event_id"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wU))
      // as-of census: which state was each user in at the midpoint?
      intervals.crossJoin(broadcast(mid))
        .filter(col("valid_from") <= col("probe") &&
          (col("valid_to").isNull || col("valid_to") > col("probe")))
        .groupBy(col("state"))
        .agg(count(lit(1)).as("n_users_in_state"))
        .orderBy(col("state"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q469_rolling_regression" ->
      """WITH daily AS (
           SELECT event_type,
                  -- NB: DuckDB's // on DOUBLE is plain division, so
                  -- an explicit floor(x / 86400) is required here
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         rolled AS (
           SELECT event_type, day, y,
                  count(*) OVER w AS n,
                  sum(day) OVER w AS sx, sum(y) OVER w AS sy,
                  sum(day * y) OVER w AS sxy,
                  sum(day * day) OVER w AS sxx
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, y, n::BIGINT AS n,
                floor(1000.0 * (n * sxy - sx * sy)
                  / (n * sxx - sx * sx))::BIGINT AS slope_milli
         FROM rolled WHERE n >= 3
         ORDER BY event_type, day""",

    "q470_null_imputation" ->
      """WITH ev AS (
           SELECT event_id, event_type,
                  extract(hour FROM ts::TIMESTAMP)::BIGINT AS hr,
                  CASE WHEN event_id % 13 = 0 THEN NULL
                       ELSE value END AS v,
                  value AS v_orig
           FROM events),
         means AS (
           SELECT event_type, hr, sum(v) / count(v) AS grp_mean
           FROM ev WHERE v IS NOT NULL GROUP BY event_type, hr),
         joined AS (
           SELECT ev.event_type, ev.v, ev.v_orig,
                  coalesce(ev.v, means.grp_mean) AS v_imp
           FROM ev JOIN means ON ev.event_type = means.event_type
                             AND ev.hr = means.hr),
         agg AS (
           SELECT event_type, count(*)::BIGINT AS n,
                  sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT
                    AS n_missing,
                  floor(sum(v_imp) * 100)::BIGINT AS imputed_cents,
                  floor(sum(v_orig) * 100)::BIGINT AS original_cents
           FROM joined GROUP BY event_type)
         SELECT event_type, n, n_missing, imputed_cents,
                original_cents,
                ((imputed_cents - original_cents) * 1000000
                  // original_cents)::BIGINT AS drift_ppm
         FROM agg ORDER BY event_type""",

    "q471_scd2_build" ->
      """WITH ev AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts,
                            event_id FROM events),
         mid AS (
           SELECT to_timestamp(floor((floor(epoch(min(ts)))
             + floor(epoch(max(ts)))) / 2)::BIGINT) AS probe FROM ev),
         intervals AS (
           SELECT user_id, event_type AS state, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS valid_to
           FROM ev)
         SELECT state, count(*)::BIGINT AS n_users_in_state
         FROM intervals CROSS JOIN mid
         WHERE valid_from <= probe
           AND (valid_to IS NULL OR valid_to > probe)
         GROUP BY state ORDER BY state"""
  )
}
