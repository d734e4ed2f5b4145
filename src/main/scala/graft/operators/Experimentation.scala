package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch G (q395-q399): experimentation + robust-statistics
  * operators — CUPED variance reduction, quantile treatment effects on
  * ExactSelection order statistics, a derandomized hash-bootstrap
  * confidence interval, the Mann-Kendall trend test with tie
  * correction, and Theil-Sen robust slopes. All deterministic and
  * hash-gated vs DuckDB.
  */
object Experimentation {

  type Q = (SparkSession, String) => DataFrame

  private def knuth(key: org.apache.spark.sql.Column) =
    (key.bitwiseAND(lit(2147483647L)) * lit(2654435761L)) % lit(4294967296L)

  val queries: Seq[(String, Q)] = Seq(

    // Quantile treatment effects — A/B deciles compared at matched
    // order statistics (rank k = ceil(d n / 10), the ExactSelection
    // contract), showing WHERE in the distribution a treatment moves
    // the metric, which the mean (q267) hides. Two bounded
    // ExactSelection walks; the per-variant metric aggregate is the
    // only corpus shuffle.
    "q396_qte_deciles" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val per = graft.Stage(t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          (knuth(col("user_id")) % 2 === 1).as("is_b"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents")),
        "q396_per_user")
      def deciles(isB: Boolean): Seq[(Int, Double)] = {
        val g = per.filter(col("is_b") === isB)
        val n = g.count()
        val ks = (1 to 9).map(dd => (dd * n + 9) / 10)
        (1 to 9).zip(ExactSelection.kthAll(g, "cents", ks).map(_.value))
      }
      val a = deciles(isB = false).toMap
      val b = deciles(isB = true).toMap
      (1 to 9).map(dd => (dd.toLong, a(dd).toLong, b(dd).toLong,
          b(dd).toLong - a(dd).toLong))
        .toDF("decile", "q_a_cents", "q_b_cents", "qte_cents")
    }),

    // Hash-bootstrap confidence interval — the resampling machine at
    // corpus scale: 32 replicates whose per-row multiplicities are a
    // discretized Poisson(1) drawn from the portable hash of (row,
    // replicate), so every engine / worker / restart resamples
    // identically. One explode(x32) pass, a 32-row replicate table,
    // CI from the sorted replicate means (indices 2 / 31 of 32 ~=
    // 5%/95%). The pattern the Efraimidis sampler (q342) does for
    // selection, applied to uncertainty.
    "q397_hash_bootstrap" -> ((s, d) => {
      val rows = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
      val reps = rows
        .withColumn("b", explode(sequence(lit(0), lit(31))))
        .select(col("b"), col("cents"),
          (knuth(col("event_id") * 37 + col("b")) % 1000).as("u"))
        .select(col("b"), col("cents"),
          when(col("u") < 368, 0L).when(col("u") < 736, 1L)
            .when(col("u") < 920, 2L).otherwise(3L).as("w"))
        .groupBy(col("b"))
        .agg((sum(col("w") * col("cents")).cast("double")
          / sum(col("w"))).as("m"))
      val base = rows.agg(avg(col("cents")).as("mean0"),
        count(lit(1)).as("n_rows"))
      reps.agg(sort_array(collect_list(col("m"))).as("ms"))
        .crossJoin(broadcast(base))
        .select(col("n_rows"), round(col("mean0"), 4).as("point_mean"),
          round(element_at(col("ms"), 2), 4).as("ci_lo"),
          round(element_at(col("ms"), 31), 4).as("ci_hi"),
          size(col("ms")).cast("long").as("n_replicates"))
    }),

    // Mann-Kendall trend test with tie correction — the
    // non-parametric "is this series drifting" gate (complements
    // q360's CUSUM changepoints): S = sum of sign(m_j - m_i) over day
    // pairs (bounded: day-grain squared per series), tie-corrected
    // variance, normal-approximation Z with continuity correction,
    // verdict at |Z| > 1.96. Pairs form per series only — never across
    // the corpus.
    "q398_mann_kendall" -> ((s, d) => {
      val daily = graft.Stage(t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m")), "q398_daily")
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(signum(col("b.m") - col("a.m")).cast("long"))
          .as("s_stat"))
      val nd = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"))
      val ties = daily.groupBy(col("event_type"), col("m"))
        .agg(count(lit(1)).as("tc"))
        .groupBy(col("event_type"))
        .agg(sum(col("tc") * (col("tc") - 1) * (col("tc") * 2 + 5))
          .as("tie_term"))
      pairs.join(nd, "event_type").join(ties, "event_type")
        .select(col("event_type"), col("nd").as("n_days"), col("s_stat"),
          round((col("s_stat") - signum(col("s_stat")))
            / sqrt((col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5)
              - col("tie_term")).cast("double") / 18.0), 4).as("z"))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("z"),
          when(col("z") > 1.96, "increasing")
            .when(col("z") < -1.96, "decreasing")
            .otherwise("no_trend").as("trend"))
        .orderBy(col("event_type"))
    }),

    // Theil-Sen robust slope — the median-of-pairwise-slopes estimator
    // outliers cannot move (the robust sibling of q363's Holt trend):
    // per series, all day-pair slopes (bounded by day-grain squared),
    // LOWER median via the sorted bounded list on both engines, plus
    // Sen's intercept from the lower medians of value and day index.
    "q399_theil_sen" -> ((s, d) => {
      val daily = graft.Stage(t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
        .withColumn("di", unix_date(col("day").cast("date"))
          .cast("long")), "q399_daily")
      val slopes = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.di") < col("b.di"))
        .select(col("a.event_type").as("event_type"),
          ((col("b.m") - col("a.m")).cast("double")
            / (col("b.di") - col("a.di"))).as("sl"))
      val med = slopes.groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("sl"))).as("sls"))
        .select(col("event_type"),
          size(col("sls")).cast("long").as("n_pairs"),
          expr("element_at(sls, int((size(sls) + 1) div 2))")
            .as("slope"))
      val mids = daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("m"))).as("ms"),
          sort_array(collect_list(col("di"))).as("dis"))
        .select(col("event_type"),
          expr("double(element_at(ms, int((size(ms) + 1) div 2)))")
            .as("med_m"),
          expr("double(element_at(dis, int((size(dis) + 1) div 2)))")
            .as("med_di"))
      med.join(mids, "event_type")
        .select(col("event_type"), col("n_pairs"),
          round(col("slope"), 6).as("sen_slope"),
          round(col("med_m") - col("slope") * col("med_di"), 4)
            .as("sen_intercept"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // CUPED variance reduction (Deng et al. 2013) — the experiment-
    // sensitivity standard: per user, Y = second-half purchase cents,
    // X = first-half (pre-period) cents; theta = cov(X,Y)/var(X) from
    // explicit sums, adjusted Y' = Y - theta (X - mean X), and the
    // variance-reduction ratio 1 - var(Y')/var(Y) (= corr^2). One
    // user-keyed aggregate, then scalar algebra on a single stats row.
    "q395_cuped" ->
      """WITH per AS (
           SELECT user_id,
                  sum(CASE WHEN ts::TIMESTAMP
                        < TIMESTAMP '2024-01-16 00:00:00'
                      THEN floor(value * 100)::BIGINT ELSE 0 END)
                    ::DOUBLE AS x,
                  sum(CASE WHEN ts::TIMESTAMP
                        >= TIMESTAMP '2024-01-16 00:00:00'
                      THEN floor(value * 100)::BIGINT ELSE 0 END)
                    ::DOUBLE AS y
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id),
         agg AS (
           SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
           FROM per)
         SELECT n::BIGINT AS n_users,
                round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS theta,
                round(1.0 - (1.0 - (n*sxy - sx*sy)*(n*sxy - sx*sy)
                  / ((n*sxx - sx*sx)*(n*syy - sy*sy))), 4)
                  AS var_reduction
         FROM agg""",
    "q396_qte_deciles" ->
      """WITH per AS (
           SELECT user_id,
                  (user_id % 2147483648 * 2654435761 % 4294967296)
                    % 2 = 1 AS is_b,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS cents
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1, 2),
         ranked AS (
           SELECT is_b, cents,
                  row_number() OVER (PARTITION BY is_b ORDER BY cents)
                    AS rn,
                  count(*) OVER (PARTITION BY is_b) AS n
           FROM per),
         d AS (SELECT unnest(generate_series(1, 9)) AS decile)
         SELECT d.decile::BIGINT AS decile,
                a.cents AS q_a_cents, b.cents AS q_b_cents,
                (b.cents - a.cents)::BIGINT AS qte_cents
         FROM d
         JOIN ranked a ON NOT a.is_b
           AND a.rn = (d.decile * a.n + 9) // 10
         JOIN ranked b ON b.is_b
           AND b.rn = (d.decile * b.n + 9) // 10
         ORDER BY decile""",
    "q397_hash_bootstrap" ->
      """WITH rows_ AS (
           SELECT event_id, floor(value * 100)::BIGINT AS cents
           FROM events WHERE event_type = 'purchase'),
         reps AS (
           SELECT b.range AS b, cents,
                  ((event_id * 37 + b.range) % 2147483648
                    * 2654435761 % 4294967296) % 1000 AS u
           FROM rows_ CROSS JOIN range(32) b),
         wtd AS (
           SELECT b, cents,
                  CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
                       WHEN u < 920 THEN 2 ELSE 3 END AS w
           FROM reps),
         means AS (
           SELECT b, sum(w * cents)::DOUBLE / sum(w) AS m
           FROM wtd GROUP BY b),
         ms AS (SELECT list_sort(list(m)) AS ms FROM means),
         base AS (
           SELECT avg(cents) AS mean0, count(*)::BIGINT AS n_rows
           FROM rows_)
         SELECT n_rows, round(mean0, 4) AS point_mean,
                round(ms[2], 4) AS ci_lo, round(ms[31], 4) AS ci_hi,
                len(ms)::BIGINT AS n_replicates
         FROM ms CROSS JOIN base""",
    "q398_mann_kendall" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT a.event_type,
                  sum(sign(b.m - a.m))::BIGINT AS s_stat
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.day < b.day
           GROUP BY 1),
         nd AS (
           SELECT event_type, count(*)::BIGINT AS n_days FROM daily
           GROUP BY 1),
         ties AS (
           SELECT event_type,
                  sum(tc * (tc - 1) * (2 * tc + 5))::BIGINT AS tie_term
           FROM (SELECT event_type, m, count(*)::BIGINT AS tc
                 FROM daily GROUP BY 1, 2)
           GROUP BY 1),
         z AS (
           SELECT s.event_type, n_days, s_stat,
                  round((s_stat - sign(s_stat))
                    / sqrt((n_days * (n_days - 1) * (2 * n_days + 5)
                            - tie_term)::DOUBLE / 18.0), 4) AS z
           FROM s JOIN nd USING (event_type)
           JOIN ties USING (event_type))
         SELECT event_type, n_days, s_stat, z,
                CASE WHEN z > 1.96 THEN 'increasing'
                     WHEN z < -1.96 THEN 'decreasing'
                     ELSE 'no_trend' END AS trend
         FROM z ORDER BY event_type""",
    "q399_theil_sen" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         d2 AS (
           SELECT event_type, m,
                  date_diff('day', DATE '1970-01-01', day::DATE)
                    ::BIGINT AS di
           FROM daily),
         slopes AS (
           SELECT a.event_type,
                  (b.m - a.m)::DOUBLE / (b.di - a.di) AS sl
           FROM d2 a JOIN d2 b
             ON a.event_type = b.event_type AND a.di < b.di),
         med AS (
           SELECT event_type, list_sort(list(sl)) AS sls
           FROM slopes GROUP BY event_type),
         mids AS (
           SELECT event_type,
                  list_sort(list(m))[(count(*) + 1) // 2]::DOUBLE
                    AS med_m,
                  list_sort(list(di))[(count(*) + 1) // 2]::DOUBLE
                    AS med_di
           FROM d2 GROUP BY event_type)
         SELECT m.event_type AS event_type, len(sls)::BIGINT AS n_pairs,
                round(sls[((len(sls) + 1) // 2)::INT], 6) AS sen_slope,
                round(mi.med_m
                  - sls[((len(sls) + 1) // 2)::INT] * mi.med_di, 4)
                  AS sen_intercept
         FROM med m JOIN mids mi ON m.event_type = mi.event_type
         ORDER BY 1"""
  )
}

/** Round-9 batch AJ (q502-q504) — shrinkage estimation and rank /
  * lag dependence:
  *
  *  - q502: empirical-Bayes beta-binomial shrinkage of per-part
  *    return rates — the standard small-n de-noising before ranking
  *    entities by a rate (a 30-lineitem part with 40% returns is not
  *    "worse" than a 10k-lineitem part at 30%). Beta(α, β) is
  *    moment-matched from the across-parts ppm-rate mean/variance
  *    (exact integer sums, DECIMAL-lifted squares), each part's rate
  *    shrunk to (k+α)/(n+α+β), and the 10 most-moved parts reported
  *    via TakeOrdered top-k (no global window).
  *  - q503: Spearman rank correlation between part size and part
  *    popularity — Pearson over tie-averaged ranks, with ranks kept
  *    integral as r2 = 2·cnt_less + cnt_eq + 1 (= 2·avg_rank) and
  *    computed on the VALUE grain (p_size ≤ 50 distinct values,
  *    popularity counts a small bounded domain), so the only windows
  *    run over value-domain-bounded frames — never a corpus-sized
  *    sort. Products of rank sums lifted to DECIMAL(38)/HUGEINT.
  *  - q504: cross-correlation lag finder between the daily 'view'
  *    and 'purchase' revenue series — Pearson at each lead of 0..10
  *    days via an equi-join on (day + lag) over the calendar-bounded
  *    day grain, all moments exact integer cents (DECIMAL-lifted
  *    products), the best lag flagged by a deterministic
  *    (corr desc, lag asc) rank over the 11-row lag grain.
  */
object Correlate {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q502_eb_shrinkage" -> ((s, d) => {
      val pk = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("k"))
        .withColumn("raw_ppm", expr("k * 1000000 DIV n"))
      val g = pk.agg(count(lit(1)).as("np"),
        sum(col("raw_ppm").cast("decimal(38,0)")).as("s1"),
        sum(col("raw_ppm").cast("decimal(38,0)") * col("raw_ppm"))
          .as("s2"))
        .withColumn("m",
          col("s1").cast("double") / col("np") / 1e6)
        .withColumn("v",
          (col("s2").cast("double") / col("np")
            - (col("s1").cast("double") / col("np"))
              * (col("s1").cast("double") / col("np"))) / 1e12)
        .withColumn("f", col("m") * (lit(1.0) - col("m")) / col("v")
          - lit(1.0))
        .select((col("m") * col("f")).as("alpha"),
          ((lit(1.0) - col("m")) * col("f")).as("beta"))
      pk.crossJoin(broadcast(g))
        .withColumn("shrunk_ppm",
          floor((col("k").cast("double") + col("alpha")) * 1e6
            / (col("n").cast("double") + col("alpha") + col("beta")))
            .cast("long"))
        .withColumn("gap_ppm", abs(col("raw_ppm") - col("shrunk_ppm")))
        .orderBy(col("gap_ppm").desc, col("partkey").asc)
        .limit(10)
        .select(col("partkey"), col("n"), col("k"), col("raw_ppm"),
          col("shrunk_ppm"), col("gap_ppm"))
    }),

    "q503_spearman_rank_corr" -> ((s, d) => {
      val pop = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(count(lit(1)).as("y"))
      val base0 = t(s, d, "part")
        .select(col("p_partkey").as("partkey"),
          col("p_size").cast("long").as("x"))
        .join(pop, Seq("partkey"))
      val staged = graft.Stage(base0, "q503_base")
      // tie-averaged rank ×2 on the value grain: r2 = 2·less + eq + 1
      def rank2(df: DataFrame, c: String): DataFrame = {
        val w = Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.groupBy(col(c)).agg(count(lit(1)).as("eq"))
          .withColumn("cum", sum(col("eq")).over(w)) // ≤ value-domain rows
          .select(col(c),
            ((col("cum") - col("eq")) * 2 + col("eq") + 1).as(s"r$c"))
      }
      val ranked = staged
        .join(broadcast(rank2(staged, "x")), Seq("x"))
        .join(broadcast(rank2(staged, "y")), Seq("y"))
      val sums = ranked.agg(count(lit(1)).as("n_parts"),
        sum(col("rx").cast("decimal(38,0)")).as("sx"),
        sum(col("ry").cast("decimal(38,0)")).as("sy"),
        sum(col("rx").cast("decimal(38,0)") * col("ry")).as("sxy"),
        sum(col("rx").cast("decimal(38,0)") * col("rx")).as("sxx"),
        sum(col("ry").cast("decimal(38,0)") * col("ry")).as("syy"))
      sums.select(col("n_parts"),
        floor(
          (col("n_parts") * col("sxy") - col("sx") * col("sy"))
            .cast("double") * 1e6
            / (sqrt((col("n_parts") * col("sxx")
              - col("sx") * col("sx")).cast("double"))
              * sqrt((col("n_parts") * col("syy")
                - col("sy") * col("sy")).cast("double"))))
          .cast("long").as("rho_ppm"))
    }),

    "q504_xcorr_lag" -> ((s, d) => {
      def daily(ty: String, v: String, dy: String): DataFrame =
        t(s, d, "events").filter(col("event_type") === ty)
          .groupBy(floor(unix_timestamp(col("ts")) / 86400L)
            .cast("long").as(dy))
          .agg(sum(floor(col("value") * 100).cast("long")).as(v))
      val x = daily("view", "xv", "day")
        .withColumn("lag", explode(array((0 to 10).map(lit(_)): _*)))
        .withColumn("day2", col("day") + col("lag"))
      val joined = x.join(daily("purchase", "yv", "day2"), Seq("day2"))
      val perLag = joined.groupBy(col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("xv").cast("decimal(38,0)")).as("sx"),
          sum(col("yv").cast("decimal(38,0)")).as("sy"),
          sum(col("xv").cast("decimal(38,0)") * col("yv")).as("sxy"),
          sum(col("xv").cast("decimal(38,0)") * col("xv")).as("sxx"),
          sum(col("yv").cast("decimal(38,0)") * col("yv")).as("syy"))
        .withColumn("xcorr_ppm", floor(
          (col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double") * 1e6
            / (sqrt((col("n_days") * col("sxx")
              - col("sx") * col("sx")).cast("double"))
              * sqrt((col("n_days") * col("syy")
                - col("sy") * col("sy")).cast("double"))))
          .cast("long"))
      val w = Window.orderBy(col("xcorr_ppm").desc, col("lag").asc)
      perLag // 11-row lag grain
        .withColumn("is_best",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .select(col("lag"), col("n_days"), col("xcorr_ppm"),
          col("is_best"))
        .orderBy(col("lag"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q502_eb_shrinkage" ->
      """WITH pk AS (
           SELECT l_partkey AS partkey, count(*)::BIGINT AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1
                      ELSE 0 END)::BIGINT AS k
           FROM lineitem GROUP BY l_partkey),
         pk2 AS (
           SELECT partkey, n, k,
                  (k * 1000000 // n)::BIGINT AS raw_ppm
           FROM pk),
         g AS (
           SELECT count(*)::BIGINT AS np,
                  sum(raw_ppm::HUGEINT) AS s1,
                  sum(raw_ppm::HUGEINT * raw_ppm) AS s2
           FROM pk2),
         ab AS (
           SELECT
             (CAST(s1 AS DOUBLE) / np / 1e6)
               * ((CAST(s1 AS DOUBLE) / np / 1e6)
                  * (1.0 - CAST(s1 AS DOUBLE) / np / 1e6)
                  / ((CAST(s2 AS DOUBLE) / np
                      - (CAST(s1 AS DOUBLE) / np)
                        * (CAST(s1 AS DOUBLE) / np)) / 1e12)
                  - 1.0) AS alpha,
             (1.0 - CAST(s1 AS DOUBLE) / np / 1e6)
               * ((CAST(s1 AS DOUBLE) / np / 1e6)
                  * (1.0 - CAST(s1 AS DOUBLE) / np / 1e6)
                  / ((CAST(s2 AS DOUBLE) / np
                      - (CAST(s1 AS DOUBLE) / np)
                        * (CAST(s1 AS DOUBLE) / np)) / 1e12)
                  - 1.0) AS beta
           FROM g)
         SELECT p.partkey, p.n, p.k, p.raw_ppm,
                floor((CAST(p.k AS DOUBLE) + a.alpha) * 1e6
                  / (CAST(p.n AS DOUBLE) + a.alpha + a.beta))::BIGINT
                  AS shrunk_ppm,
                abs(p.raw_ppm - floor((CAST(p.k AS DOUBLE) + a.alpha)
                  * 1e6 / (CAST(p.n AS DOUBLE) + a.alpha + a.beta))
                  ::BIGINT)::BIGINT AS gap_ppm
         FROM pk2 p, ab a
         ORDER BY gap_ppm DESC, partkey LIMIT 10""",

    "q503_spearman_rank_corr" ->
      """WITH pop AS (
           SELECT l_partkey AS partkey, count(*)::BIGINT AS y
           FROM lineitem GROUP BY l_partkey),
         base AS (
           SELECT p.p_partkey AS partkey,
                  CAST(p.p_size AS BIGINT) AS x, o.y
           FROM part p JOIN pop o ON p.p_partkey = o.partkey),
         rx AS (
           SELECT x,
             ((sum(count(*)) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - count(*)) * 2 + count(*) + 1)::BIGINT AS rx
           FROM base GROUP BY x),
         ry AS (
           SELECT y,
             ((sum(count(*)) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - count(*)) * 2 + count(*) + 1)::BIGINT AS ry
           FROM base GROUP BY y),
         ranked AS (
           SELECT b.partkey, r1.rx, r2.ry
           FROM base b
           JOIN rx r1 ON b.x = r1.x
           JOIN ry r2 ON b.y = r2.y),
         sums AS (
           SELECT count(*)::BIGINT AS n_parts,
                  sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
                  sum(rx::HUGEINT * ry) AS sxy,
                  sum(rx::HUGEINT * rx) AS sxx,
                  sum(ry::HUGEINT * ry) AS syy
           FROM ranked)
         SELECT n_parts,
                floor(CAST(n_parts * sxy - sx * sy AS DOUBLE) * 1e6
                  / (sqrt(CAST(n_parts * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n_parts * syy - sy * sy AS DOUBLE))))
                  ::BIGINT AS rho_ppm
         FROM sums""",

    "q504_xcorr_lag" ->
      """WITH xd AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS xv
           FROM events WHERE event_type = 'view' GROUP BY 1),
         yd AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day2,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS yv
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         joined AS (
           SELECT l.range::BIGINT AS lag, x.xv, y.yv
           FROM xd x
           CROSS JOIN range(0, 11) l
           JOIN yd y ON y.day2 = x.day + l.range),
         per_lag AS (
           SELECT lag, count(*)::BIGINT AS n_days,
                  sum(xv::HUGEINT) AS sx, sum(yv::HUGEINT) AS sy,
                  sum(xv::HUGEINT * yv) AS sxy,
                  sum(xv::HUGEINT * xv) AS sxx,
                  sum(yv::HUGEINT * yv) AS syy
           FROM joined GROUP BY lag),
         scored AS (
           SELECT lag, n_days,
                  floor(CAST(n_days * sxy - sx * sy AS DOUBLE) * 1e6
                    / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(n_days * syy - sy * sy
                           AS DOUBLE))))::BIGINT AS xcorr_ppm
           FROM per_lag)
         SELECT lag, n_days, xcorr_ppm,
                CASE WHEN row_number() OVER (
                  ORDER BY xcorr_ppm DESC, lag) = 1 THEN 1
                ELSE 0 END::BIGINT AS is_best
         FROM scored ORDER BY lag"""
  )
}


/** Round-9 batch AO (q517-q519) — exact distributional distance,
  * language-model retrieval, and cost-optimal thresholds:
  *
  *  - q517: two-sample ENERGY DISTANCE between document-length
  *    distributions: e = 2·E|X−Y| − E|X−X'| − E|Y−Y'|. Each
  *    expectation is computed EXACTLY on the merged value grain via
  *    the prefix-sum identity Σ_v c(v)·(v·Cnt(<v) − Sum(<v)) — O(V)
  *    with V bounded by the char-length domain, never the O(n²)
  *    pair space and never a corpus sort. Integer until the final
  *    three bounded ratios. Complements KS (tests), QQ
  *    (characterizes): energy metrizes the full distribution gap.
  *  - q518: Dirichlet-smoothed query-likelihood retrieval (the
  *    classic LM alternative to q365's BM25): score(d, q) =
  *    Σ_t ln((tf_dt + μ·p(t|C)) / (|d| + μ)), μ = 2000. The 3-term
  *    query pivots to columns so the per-doc sum has a fixed
  *    operation order; zero-tf docs still score (smoothing), postings
  *    are filtered to the query terms before any join.
  *  - q519: cost-curve threshold picker — extends q344's confusion
  *    sweep with an asymmetric-cost readout (FN = 5× FP): expected
  *    cost per threshold and the deterministic argmin. The decision
  *    layer every alerting pipeline bolts onto a classifier.
  */
object DistanceStats {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q517_energy_distance" -> ((s, d) => {
      def grain(src: String, p: String): DataFrame =
        t(s, d, "documents").filter(col("source") === src)
          .groupBy(col("n_chars").as("v"))
          .agg(count(lit(1)).as(s"c$p"))
      val merged = graft.Stage(
        grain("src0", "x").join(grain("src1", "y"), Seq("v"), "full")
          .na.fill(0L, Seq("cx", "cy")), "q517_grain")
      val wv = Window.orderBy(col("v")) // value grain: char domain
        .rowsBetween(Window.unboundedPreceding, -1)
      val cums = merged
        .withColumn("cxb", coalesce(sum(col("cx")).over(wv), lit(0L)))
        .withColumn("sxb",
          coalesce(sum(col("cx") * col("v")).over(wv), lit(0L)))
        .withColumn("cyb", coalesce(sum(col("cy")).over(wv), lit(0L)))
        .withColumn("syb",
          coalesce(sum(col("cy") * col("v")).over(wv), lit(0L)))
      // Σ|a−b| over cross pairs: below-v contributions, DECIMAL-lifted
      val sums = cums.agg(
        sum(col("cx")).as("nx"), sum(col("cy")).as("ny"),
        sum(col("cx").cast("decimal(38,0)")
          * (col("v") * col("cyb") - col("syb"))
          + col("cy").cast("decimal(38,0)")
            * (col("v") * col("cxb") - col("sxb"))).as("axy"),
        sum(col("cx").cast("decimal(38,0)")
          * (col("v") * col("cxb") - col("sxb"))).as("axx_half"),
        sum(col("cy").cast("decimal(38,0)")
          * (col("v") * col("cyb") - col("syb"))).as("ayy_half"))
      sums.select(col("nx"), col("ny"),
        floor(col("axy").cast("double") * 1000
          / (col("nx") * col("ny")).cast("double"))
          .cast("long").as("e_xy_milli"),
        floor(col("axx_half").cast("double") * 2000
          / (col("nx").cast("decimal(38,0)") * col("nx")).cast("double"))
          .cast("long").as("e_xx_milli"),
        floor(col("ayy_half").cast("double") * 2000
          / (col("ny").cast("decimal(38,0)") * col("ny")).cast("double"))
          .cast("long").as("e_yy_milli"),
        floor((lit(2.0) * col("axy").cast("double")
          / (col("nx") * col("ny")).cast("double")
          - lit(2.0) * col("axx_half").cast("double")
            / (col("nx").cast("decimal(38,0)") * col("nx")).cast("double")
          - lit(2.0) * col("ayy_half").cast("double")
            / (col("ny").cast("decimal(38,0)") * col("ny")).cast("double"))
          * 1000).cast("long").as("energy_milli"))
    }),

    "q518_dirichlet_lm" -> ((s, d) => {
      val mu = 2000.0
      val terms = Seq("spark", "scan", "join")
      val toks = graft.Stage(t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " +")).as("tok")),
        "q518_toks")
      val dlen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val ctot = toks.agg(count(lit(1)).as("ctot"))
      val ctf = toks.filter(col("tok").isin(terms: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("ctf"))
        .crossJoin(broadcast(ctot))
      val tf = toks.filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(
          sum(when(col("tok") === terms(0), 1L).otherwise(0L)).as("tf1"),
          sum(when(col("tok") === terms(1), 1L).otherwise(0L)).as("tf2"),
          sum(when(col("tok") === terms(2), 1L).otherwise(0L)).as("tf3"))
      // one ln-term per query word, fixed order — collection stats
      // broadcast as pivoted scalars
      val cstats = ctf.groupBy()
        .pivot("tok", terms).agg(first(col("ctf")))
        .crossJoin(broadcast(ctot))
        .select(col(terms(0)).as("ctf1"), col(terms(1)).as("ctf2"),
          col(terms(2)).as("ctf3"), col("ctot"))
      def term(tfc: String, ctfc: String) =
        log((col(tfc).cast("double")
          + lit(mu) * col(ctfc).cast("double") / col("ctot"))
          / (col("dl").cast("double") + lit(mu)))
      dlen.join(tf, Seq("doc_id"), "left")
        .na.fill(0L, Seq("tf1", "tf2", "tf3"))
        .crossJoin(broadcast(cstats))
        .withColumn("score_micro",
          floor((term("tf1", "ctf1") + term("tf2", "ctf2")
            + term("tf3", "ctf3")) * 1e6).cast("long"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)
        .limit(10)
        .select(col("doc_id"), col("dl"), col("tf1"), col("tf2"),
          col("tf3"), col("score_micro"))
    }),

    "q519_cost_curve_threshold" -> ((s, d) => {
      val ev = graft.Stage(t(s, d, "events")
        .select(col("value").as("score"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("actual")), "q519_base")
      val frames = Seq(0.5, 1.0, 2.0, 3.0, 5.0, 8.0).map { th =>
        ev.agg(
          sum(when(col("score") > th && col("actual") === 0L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("score") <= th && col("actual") === 1L, 1L)
            .otherwise(0L)).as("fn"))
          .withColumn("threshold_centi", lit((th * 100).toLong))
      }
      val costs = frames.reduce(_ unionByName _)
        .withColumn("cost", col("fp") + lit(5L) * col("fn"))
      val w = Window.orderBy(col("cost").asc,
        col("threshold_centi").asc) // 6-row threshold grain
      costs.withColumn("is_optimal",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .select(col("threshold_centi"), col("fp"), col("fn"),
          col("cost"), col("is_optimal"))
        .orderBy(col("threshold_centi"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q517_energy_distance" ->
      """WITH gx AS (
           SELECT n_chars AS v, count(*)::BIGINT AS cx
           FROM documents WHERE source = 'src0' GROUP BY 1),
         gy AS (
           SELECT n_chars AS v, count(*)::BIGINT AS cy
           FROM documents WHERE source = 'src1' GROUP BY 1),
         merged AS (
           SELECT coalesce(gx.v, gy.v) AS v,
                  coalesce(cx, 0)::BIGINT AS cx,
                  coalesce(cy, 0)::BIGINT AS cy
           FROM gx FULL OUTER JOIN gy ON gx.v = gy.v),
         cums AS (
           SELECT v, cx, cy,
             coalesce(sum(cx) OVER w, 0)::BIGINT AS cxb,
             coalesce(sum(cx * v) OVER w, 0)::BIGINT AS sxb,
             coalesce(sum(cy) OVER w, 0)::BIGINT AS cyb,
             coalesce(sum(cy * v) OVER w, 0)::BIGINT AS syb
           FROM merged
           WINDOW w AS (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         sums AS (
           SELECT sum(cx)::BIGINT AS nx, sum(cy)::BIGINT AS ny,
             sum(cx::HUGEINT * (v * cyb - syb)
               + cy::HUGEINT * (v * cxb - sxb)) AS axy,
             sum(cx::HUGEINT * (v * cxb - sxb)) AS axx_half,
             sum(cy::HUGEINT * (v * cyb - syb)) AS ayy_half
           FROM cums)
         SELECT nx, ny,
           floor(CAST(axy AS DOUBLE) * 1000
             / CAST(nx * ny AS DOUBLE))::BIGINT AS e_xy_milli,
           floor(CAST(axx_half AS DOUBLE) * 2000
             / CAST(nx::HUGEINT * nx AS DOUBLE))::BIGINT AS e_xx_milli,
           floor(CAST(ayy_half AS DOUBLE) * 2000
             / CAST(ny::HUGEINT * ny AS DOUBLE))::BIGINT AS e_yy_milli,
           floor((2.0 * CAST(axy AS DOUBLE) / CAST(nx * ny AS DOUBLE)
             - 2.0 * CAST(axx_half AS DOUBLE)
               / CAST(nx::HUGEINT * nx AS DOUBLE)
             - 2.0 * CAST(ayy_half AS DOUBLE)
               / CAST(ny::HUGEINT * ny AS DOUBLE)) * 1000)::BIGINT
             AS energy_milli
         FROM sums""",

    "q518_dirichlet_lm" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), ' +'))
             AS tok
           FROM documents),
         dlen AS (
           SELECT doc_id, count(*)::BIGINT AS dl
           FROM toks GROUP BY doc_id),
         ctot AS (SELECT count(*)::BIGINT AS ctot FROM toks),
         ctf AS (
           SELECT
             sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END)::BIGINT
               AS ctf1,
             sum(CASE WHEN tok = 'scan' THEN 1 ELSE 0 END)::BIGINT
               AS ctf2,
             sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END)::BIGINT
               AS ctf3
           FROM toks),
         tf AS (
           SELECT doc_id,
             sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END)::BIGINT
               AS tf1,
             sum(CASE WHEN tok = 'scan' THEN 1 ELSE 0 END)::BIGINT
               AS tf2,
             sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END)::BIGINT
               AS tf3
           FROM toks WHERE tok IN ('spark', 'scan', 'join')
           GROUP BY doc_id),
         scored AS (
           SELECT d.doc_id, d.dl,
             coalesce(t.tf1, 0)::BIGINT AS tf1,
             coalesce(t.tf2, 0)::BIGINT AS tf2,
             coalesce(t.tf3, 0)::BIGINT AS tf3,
             floor((
               ln((CAST(coalesce(t.tf1, 0) AS DOUBLE)
                 + 2000.0 * CAST(c.ctf1 AS DOUBLE) / n.ctot)
                 / (CAST(d.dl AS DOUBLE) + 2000.0))
               + ln((CAST(coalesce(t.tf2, 0) AS DOUBLE)
                 + 2000.0 * CAST(c.ctf2 AS DOUBLE) / n.ctot)
                 / (CAST(d.dl AS DOUBLE) + 2000.0))
               + ln((CAST(coalesce(t.tf3, 0) AS DOUBLE)
                 + 2000.0 * CAST(c.ctf3 AS DOUBLE) / n.ctot)
                 / (CAST(d.dl AS DOUBLE) + 2000.0))) * 1e6)::BIGINT
               AS score_micro
           FROM dlen d LEFT JOIN tf t ON d.doc_id = t.doc_id,
                ctf c, ctot n)
         SELECT doc_id, dl, tf1, tf2, tf3, score_micro
         FROM scored
         ORDER BY score_micro DESC, doc_id LIMIT 10""",

    "q519_cost_curve_threshold" -> {
      val per = Seq(0.5, 1.0, 2.0, 3.0, 5.0, 8.0).map { th =>
        s"""SELECT ${(th * 100).toLong}::BIGINT AS threshold_centi,
              sum(CASE WHEN value > $th AND event_type <> 'error'
                  THEN 1 ELSE 0 END)::BIGINT AS fp,
              sum(CASE WHEN value <= $th AND event_type = 'error'
                  THEN 1 ELSE 0 END)::BIGINT AS fn
            FROM events"""
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH sweep AS (
           $per),
         costs AS (
           SELECT threshold_centi, fp, fn,
                  (fp + 5 * fn)::BIGINT AS cost
           FROM sweep)
         SELECT threshold_centi, fp, fn, cost,
                (CASE WHEN row_number() OVER (
                   ORDER BY cost, threshold_centi) = 1
                 THEN 1 ELSE 0 END)::BIGINT AS is_optimal
         FROM costs ORDER BY threshold_centi"""
    }
  )
}


/** Round-9 batch X (q466-q468) — preference ranking + curve analysis:
  *
  *  - q466: Bradley-Terry strength estimation from pairwise
  *    comparisons (Hunter's MM algorithm, 2 fixed iterations) — the
  *    arena-style "rank models from pairwise preferences" operator.
  *    Comparisons: within each order, line pairs with different part
  *    brands; the pricier line wins. The corpus stage is ONE bounded
  *    self-join per order (<= 7 lines/order, so <= 21 pairs); the MM
  *    iterations run on the 25-brand / <= 625-pair summary, all
  *    broadcast-sized.
  *  - q467: sequential-pattern support (a THEN b across event types):
  *    "exists a before b" == first(a) < last(b) per user, so support
  *    needs only the per-user (type, min_ts, max_ts) summary —
  *    5 rows/user, never a per-event self-join. Confidence is
  *    support(a,b)/users(a) in exact ppm.
  *  - q468: knee/elbow detection (Kneedle-lite) on the cumulative
  *    revenue-vs-rank curve over customers: knee = argmax(cum_share −
  *    rank_share). The global rank+cumsum uses the q345
  *    range-partition + bounded-offset technique (8 partition offsets
  *    to the driver), not a single-partition window.
  */
object RankStats {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q466_bradley_terry" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("p_brand").as("brand"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val a = li.select(col("l_orderkey"), col("l_linenumber").as("ln_a"),
        col("brand").as("ba"), col("cents").as("ca"))
      val b = li.select(col("l_orderkey").as("ok_b"),
        col("l_linenumber").as("ln_b"), col("brand").as("bb"),
        col("cents").as("cb"))
      // within-order line pairs; strict price order decides the win
      val games = a.join(b, col("l_orderkey") === col("ok_b") &&
          col("ln_a") < col("ln_b") && col("ba") =!= col("bb") &&
          col("ca") =!= col("cb"))
        .select(
          when(col("ca") > col("cb"), col("ba")).otherwise(col("bb"))
            .as("winner"),
          when(col("ca") > col("cb"), col("bb")).otherwise(col("ba"))
            .as("loser"))
      // stage the pair summary ONCE: the MM iterations below each
      // re-reference it, and without staging every iteration would
      // re-execute the corpus self-join (measured 22.8 s -> the
      // staged form runs the corpus stage once)
      val pairs = graft.Stage(games
        .groupBy(col("winner").as("bi"), col("loser").as("bj"))
        .agg(count(lit(1)).as("n")), "q466_pairs")
      val wins = pairs.groupBy(col("bi").as("brand"))
        .agg(sum(col("n")).as("w"))
      val sym = pairs.select(col("bi"), col("bj"), col("n"))
        .union(pairs.select(col("bj").as("bi"), col("bi").as("bj"),
          col("n")))
        .groupBy(col("bi"), col("bj")).agg(sum(col("n")).as("nij"))
      // MM iterations on the bounded brand set: s_i <- W_i /
      // sum_j nij/(s_i+s_j), then sum-normalize to |brands|
      val brands = sym.select(col("bi").as("brand")).distinct()
        .join(wins, Seq("brand"), "left")
        .na.fill(0L, Seq("w"))
      var strength = brands.withColumn("s", lit(1.0))
      for (_ <- 1 to 2) {
        val si = strength.select(col("brand").as("bi"), col("s").as("si"))
        val sj = strength.select(col("brand").as("bj"), col("s").as("sj"))
        val denom = sym
          .join(broadcast(si), "bi").join(broadcast(sj), "bj")
          .groupBy(col("bi"))
          .agg(sum(col("nij") / (col("si") + col("sj"))).as("den"))
        val raw = brands.join(denom, col("brand") === col("bi"))
          .select(col("brand"), col("w"),
            (col("w") / col("den")).as("s_raw"))
        val z = raw.agg(sum(col("s_raw")).as("tot"),
          count(lit(1)).as("k"))
        // clamp at 1e-9 so two zero-win brands can never produce a
        // 0/0 in the next iteration's denominators (engine-dependent)
        strength = raw.crossJoin(broadcast(z))
          .select(col("brand"), col("w"),
            greatest(col("s_raw") * col("k") / col("tot"), lit(1e-9))
              .as("s"))
      }
      val wRk = Window.orderBy(col("strength_micro").desc, col("brand"))
      strength
        .select(col("brand"), col("w").as("wins"),
          floor(col("s") * 1000000).cast("long").as("strength_micro"))
        .withColumn("rk", row_number().over(wRk)) // 25-row window
        .orderBy(col("rk"))
    }),

    "q467_seq_pattern_support" -> ((s, d) => {
      val perUser = t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      val a = perUser.select(col("user_id"), col("event_type").as("ta"),
        col("first_ts"))
      val b = perUser.select(col("user_id").as("uid_b"),
        col("event_type").as("tb"), col("last_ts"))
      val support = a.join(b, col("user_id") === col("uid_b") &&
          col("ta") =!= col("tb") && col("first_ts") < col("last_ts"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("support_users"))
      val base = perUser.groupBy(col("event_type").as("ta"))
        .agg(count(lit(1)).as("users_a"))
      support.join(broadcast(base), "ta")
        .select(col("ta"), col("tb"), col("support_users"),
          col("users_a"),
          expr("support_users * 1000000 DIV users_a")
            .as("confidence_ppm"))
        .orderBy(col("support_users").desc, col("ta"), col("tb"))
    }),

    "q468_knee_detection" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val rev = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val tot = rev.agg(sum(col("cents")).as("total"),
        count(lit(1)).as("n"))
      // global desc rank + cumsum via range partitions + offsets
      // (q345 technique: bounded collect of one row per partition)
      val parts = rev.repartitionByRange(8, col("cents").desc,
          col("o_custkey"))
        .withColumn("pid", spark_partition_id())
      val wLoc = Window.partitionBy(col("pid"))
        .orderBy(col("cents").desc, col("o_custkey"))
      val local = graft.Stage(parts
        .withColumn("lrank", row_number().over(wLoc))
        .withColumn("lcum", sum(col("cents")).over(wLoc)), "q468_local")
      val cnt = local.groupBy(col("pid"))
        .agg(count(lit(1)).as("c"), sum(col("cents")).as("csum"))
        .collect().sortBy(_.getInt(0)) // bounded: one row per partition
      val off = cnt.scanLeft((0, 0L, 0L)) { case ((_, accC, accS), r) =>
        (r.getInt(0), accC + r.getLong(1), accS + r.getLong(2)) }
      val offDf = off.init.zip(off.tail)
        .map { case ((_, c, sm), (pid, _, _)) => (pid, c, sm) }
        .toSeq.toDF("pid", "off_n", "off_sum")
      val curve = local.join(broadcast(offDf), "pid")
        .crossJoin(broadcast(tot))
        .withColumn("rk", col("off_n") + col("lrank"))
        .withColumn("cum", col("off_sum") + col("lcum"))
        .withColumn("gap_ppm", floor(lit(1000000.0) *
          (col("cum") / col("total") - col("rk") / col("n")))
          .cast("long"))
      // knee = max gap, ties -> lowest rank: single bounded argmax
      curve.orderBy(col("gap_ppm").desc, col("rk")).limit(1)
        .select(col("rk").cast("long").as("knee_rank"), col("n"),
          col("cum").as("cum_cents_at_knee"), col("gap_ppm"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q466_bradley_terry" ->
      """WITH li AS (
           SELECT l_orderkey, l_linenumber, p_brand AS brand,
                  floor(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         games AS (
           SELECT CASE WHEN a.cents > b.cents THEN a.brand
                       ELSE b.brand END AS winner,
                  CASE WHEN a.cents > b.cents THEN b.brand
                       ELSE a.brand END AS loser
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_linenumber < b.l_linenumber
            AND a.brand <> b.brand AND a.cents <> b.cents),
         wins AS (
           SELECT winner AS brand, count(*)::BIGINT AS w
           FROM games GROUP BY winner),
         pairs AS (
           SELECT winner AS bi, loser AS bj, count(*)::BIGINT AS n
           FROM games GROUP BY winner, loser),
         sym AS (
           SELECT bi, bj, sum(n)::BIGINT AS nij FROM (
             SELECT bi, bj, n FROM pairs
             UNION ALL SELECT bj AS bi, bi AS bj, n FROM pairs)
           GROUP BY bi, bj),
         brands AS (
           SELECT DISTINCT sym.bi AS brand,
                  coalesce(wins.w, 0)::BIGINT AS w
           FROM sym LEFT JOIN wins ON sym.bi = wins.brand),
         s0 AS (SELECT brand, w, 1.0 AS s FROM brands),
         d1 AS (
           SELECT sym.bi, sum(sym.nij / (si.s + sj.s)) AS den
           FROM sym JOIN s0 si ON sym.bi = si.brand
                    JOIN s0 sj ON sym.bj = sj.brand
           GROUP BY sym.bi),
         r1 AS (
           SELECT brand, w, w / den AS s_raw
           FROM brands JOIN d1 ON brand = bi),
         s1 AS (
           SELECT brand, w,
                  greatest(s_raw * (SELECT count(*) FROM r1)
                    / (SELECT sum(s_raw) FROM r1), 0.000000001) AS s
           FROM r1),
         d2 AS (
           SELECT sym.bi, sum(sym.nij / (si.s + sj.s)) AS den
           FROM sym JOIN s1 si ON sym.bi = si.brand
                    JOIN s1 sj ON sym.bj = sj.brand
           GROUP BY sym.bi),
         r2 AS (
           SELECT brand, w, w / den AS s_raw
           FROM brands JOIN d2 ON brand = bi),
         s2 AS (
           SELECT brand, w,
                  greatest(s_raw * (SELECT count(*) FROM r2)
                    / (SELECT sum(s_raw) FROM r2), 0.000000001) AS s
           FROM r2)
         SELECT brand, w AS wins,
                floor(s * 1000000)::BIGINT AS strength_micro,
                row_number() OVER (ORDER BY floor(s * 1000000) DESC,
                  brand) AS rk
         FROM s2
         ORDER BY rk""",

    "q467_seq_pattern_support" ->
      """WITH per_user AS (
           SELECT user_id, event_type,
                  min(ts::TIMESTAMP) AS first_ts,
                  max(ts::TIMESTAMP) AS last_ts
           FROM events GROUP BY user_id, event_type),
         support AS (
           SELECT a.event_type AS ta, b.event_type AS tb,
                  count(*)::BIGINT AS support_users
           FROM per_user a JOIN per_user b
             ON a.user_id = b.user_id
            AND a.event_type <> b.event_type
            AND a.first_ts < b.last_ts
           GROUP BY a.event_type, b.event_type),
         base AS (
           SELECT event_type AS ta, count(*)::BIGINT AS users_a
           FROM per_user GROUP BY event_type)
         SELECT s.ta, s.tb, s.support_users, base.users_a,
                (s.support_users * 1000000 // base.users_a)::BIGINT
                  AS confidence_ppm
         FROM support s JOIN base ON s.ta = base.ta
         ORDER BY s.support_users DESC, s.ta, s.tb""",

    "q468_knee_detection" ->
      """WITH rev AS (
           SELECT o_custkey,
                  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT
                    AS cents
           FROM orders GROUP BY o_custkey),
         tot AS (SELECT sum(cents) AS total, count(*)::BIGINT AS n
                 FROM rev),
         curve AS (
           SELECT row_number() OVER w AS rk,
                  sum(cents) OVER w AS cum
           FROM rev
           WINDOW w AS (ORDER BY cents DESC, o_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT rk::BIGINT AS knee_rank,
                (SELECT n FROM tot) AS n,
                cum::BIGINT AS cum_cents_at_knee,
                floor(1000000.0 * (cum / (SELECT total FROM tot)
                  - rk / CAST((SELECT n FROM tot) AS DOUBLE)))::BIGINT
                  AS gap_ppm
         FROM curve
         ORDER BY floor(1000000.0 * (cum / (SELECT total FROM tot)
           - rk / CAST((SELECT n FROM tot) AS DOUBLE))) DESC, rk
         LIMIT 1"""
  )
}


/** Round-9 batch AV (q538-q540) — audience set algebra, sampling
  * certificates, and scan-pruning estimation:
  *
  *  - q538: three-segment Venn decomposition (purchasers / clickers
  *    / error-hitters) with the inclusion-exclusion identity
  *    computed BOTH ways as output columns — the audience-overlap
  *    readout every growth team asks for, and a self-checking one
  *    (union_direct must equal union_incl_excl). One user-grain
  *    aggregate, one global aggregate.
  *  - q539: DKW sampling certificate — the Dvoretzky-Kiefer-
  *    Wolfowitz bound sup|F̂−F| ≤ √(ln(2/δ)/2n) checked empirically:
  *    a deterministic 5% hash sample's ECDF against the full ECDF
  *    on the 10-dollar-bucket value grain (domain-bounded cumulative
  *    windows, never a corpus sort), reporting the observed sup gap
  *    next to the theoretical ε at δ = 0.05. "Can I trust estimates
  *    off my sample" as a query.
  *  - q540: scan-IO pruning advisor — simulates 4096-row row-groups
  *    in insertion order with (shipdate, returnflag) zone maps and
  *    costs a band predicate: row-groups hit, rows scanned vs
  *    matched, and bytes under column pruning vs full-width rows.
  *    The quantitative version of the reference's fragment skipping
  *    (the q498 curve advisor's 1-D sibling).
  */
object Venn {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q539_dkw_certificate" -> ((s, d) => {
      val base = t(s, d, "orders").select(
        expr("CAST(floor(o_totalprice * 100) AS BIGINT) DIV 1000")
          .as("v"), // 10-dollar buckets: value-domain-bounded grain
        (col("o_orderkey") % 20 === 0).cast("long").as("in_sample"))
      val grain = graft.Stage(base.groupBy(col("v"))
        .agg(count(lit(1)).as("cf"), sum(col("in_sample")).as("cs")),
        "q539_grain")
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tots = grain.agg(sum(col("cf")).as("nf"),
        sum(col("cs")).as("ns"))
      val gaps = grain
        .withColumn("cumf", sum(col("cf")).over(wv))
        .withColumn("cums", sum(col("cs")).over(wv))
        .crossJoin(broadcast(tots))
        // |F̂−F| in exact cross-multiplied integers: |cums·nf − cumf·ns|
        .withColumn("gap_num",
          abs(col("cums").cast("decimal(38,0)") * col("nf")
            - col("cumf").cast("decimal(38,0)") * col("ns")))
      gaps.agg(first(col("nf")).as("n_full"),
        first(col("ns")).as("n_sample"),
        max(col("gap_num")).as("mg"))
        .select(col("n_full"), col("n_sample"),
          floor(col("mg").cast("double") * 1e6
            / (col("n_full").cast("decimal(38,0)") * col("n_sample"))
              .cast("double")).cast("long").as("sup_gap_ppm"),
          floor(sqrt(log(lit(2.0) / 0.05)
            / (lit(2.0) * col("n_sample").cast("double"))) * 1e6)
            .cast("long").as("dkw_eps_ppm"),
          when(col("mg").cast("double")
            / (col("n_full").cast("decimal(38,0)") * col("n_sample"))
              .cast("double")
            <= sqrt(log(lit(2.0) / 0.05)
              / (lit(2.0) * col("n_sample").cast("double"))), 1L)
            .otherwise(0L).as("within_bound"))
    }),

    "q540_scan_io_advisor" -> ((s, d) => {
      // fixed physical constants: 4096-row groups in orderkey order;
      // schema widths (bytes/row): full row 62, pruned projection
      // (shipdate+flag+price) 17
      val base = t(s, d, "lineitem").select(
        expr("l_orderkey DIV 1024").as("rg"), // ~4096 rows/group (4/ord)
        floor(unix_timestamp(col("l_shipdate")) / 86400L)
          .cast("long").as("day"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("m"))
      val span = base.agg(min(col("day")).as("d0"))
        .withColumn("lo", col("d0") + 365)
        .withColumn("hi", col("d0") + 730)
      val zones = graft.Stage(base.crossJoin(broadcast(span))
        .groupBy(col("rg"))
        .agg(count(lit(1)).as("nrows"),
          min(col("day")).as("zlo"), max(col("day")).as("zhi"),
          sum(when(col("day").between(col("lo"), col("hi"))
            && col("m") === 1L, 1L).otherwise(0L)).as("matched"),
          first(col("lo")).as("lo"), first(col("hi")).as("hi")),
        "q540_zones")
      zones.agg(count(lit(1)).as("n_rowgroups"),
        sum(col("nrows")).as("rows_total"),
        sum(when(col("zhi") >= col("lo") && col("zlo") <= col("hi"),
          1L).otherwise(0L)).as("rg_hit"),
        sum(when(col("zhi") >= col("lo") && col("zlo") <= col("hi"),
          col("nrows")).otherwise(0L)).as("rows_scanned"),
        sum(col("matched")).as("rows_matched"))
        .select(col("n_rowgroups"), col("rg_hit"), col("rows_total"),
          col("rows_scanned"), col("rows_matched"),
          (col("rows_total") * 62L).as("bytes_full"),
          (col("rows_scanned") * 17L).as("bytes_pruned_zoned"),
          expr("""(rows_total * 62 - rows_scanned * 17) * 1000000
                  DIV (rows_total * 62)""").as("io_savings_ppm"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q538_segment_venn" ->
      """WITH seg AS (
           SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1
                 ELSE 0 END)::BIGINT AS sa,
             max(CASE WHEN event_type = 'click' THEN 1
                 ELSE 0 END)::BIGINT AS sb,
             max(CASE WHEN event_type = 'error' THEN 1
                 ELSE 0 END)::BIGINT AS sc
           FROM events GROUP BY user_id),
         agg AS (
           SELECT count(*)::BIGINT AS n_users,
                  sum(sa)::BIGINT AS a, sum(sb)::BIGINT AS b,
                  sum(sc)::BIGINT AS c,
                  sum(sa * sb)::BIGINT AS ab,
                  sum(sa * sc)::BIGINT AS ac,
                  sum(sb * sc)::BIGINT AS bc,
                  sum(sa * sb * sc)::BIGINT AS abc,
                  sum(CASE WHEN sa + sb + sc > 0 THEN 1
                      ELSE 0 END)::BIGINT AS union_direct
           FROM seg)
         SELECT n_users, a, b, c, ab, ac, bc, abc, union_direct,
                (a + b + c - ab - ac - bc + abc)::BIGINT
                  AS union_incl_excl
         FROM agg""",

    "q539_dkw_certificate" ->
      """WITH base AS (
           SELECT floor(o_totalprice * 100)::BIGINT // 1000 AS v,
                  (CASE WHEN o_orderkey % 20 = 0 THEN 1
                   ELSE 0 END)::BIGINT AS in_sample
           FROM orders),
         grain AS (
           SELECT v, count(*)::BIGINT AS cf,
                  sum(in_sample)::BIGINT AS cs
           FROM base GROUP BY v),
         tots AS (
           SELECT sum(cf)::BIGINT AS nf, sum(cs)::BIGINT AS ns
           FROM grain),
         gaps AS (
           SELECT t.nf, t.ns,
             abs((sum(g.cs) OVER w)::HUGEINT * t.nf
               - (sum(g.cf) OVER w)::HUGEINT * t.ns) AS gap_num
           FROM grain g, tots t
           WINDOW w AS (ORDER BY g.v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         mg AS (
           SELECT any_value(nf)::BIGINT AS n_full,
                  any_value(ns)::BIGINT AS n_sample,
                  max(gap_num) AS mg
           FROM gaps)
         SELECT n_full, n_sample,
                floor(CAST(mg AS DOUBLE) * 1e6
                  / CAST(n_full::HUGEINT * n_sample AS DOUBLE))
                  ::BIGINT AS sup_gap_ppm,
                floor(sqrt(ln(2.0 / 0.05)
                  / (2.0 * CAST(n_sample AS DOUBLE))) * 1e6)::BIGINT
                  AS dkw_eps_ppm,
                (CASE WHEN CAST(mg AS DOUBLE)
                    / CAST(n_full::HUGEINT * n_sample AS DOUBLE)
                    <= sqrt(ln(2.0 / 0.05)
                      / (2.0 * CAST(n_sample AS DOUBLE)))
                 THEN 1 ELSE 0 END)::BIGINT AS within_bound
         FROM mg""",

    "q540_scan_io_advisor" ->
      """WITH base AS (
           SELECT l_orderkey // 1024 AS rg,
                  floor(epoch(l_shipdate::TIMESTAMP) / 86400)::BIGINT
                    AS day,
                  (CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS m
           FROM lineitem),
         span AS (
           SELECT min(day) + 365 AS lo, min(day) + 730 AS hi
           FROM base),
         zones AS (
           SELECT b.rg, count(*)::BIGINT AS nrows,
                  min(b.day) AS zlo, max(b.day) AS zhi,
                  sum(CASE WHEN b.day BETWEEN s.lo AND s.hi
                       AND b.m = 1 THEN 1 ELSE 0 END)::BIGINT
                    AS matched,
                  any_value(s.lo) AS lo, any_value(s.hi) AS hi
           FROM base b, span s GROUP BY b.rg),
         agg AS (
           SELECT count(*)::BIGINT AS n_rowgroups,
                  sum(nrows)::BIGINT AS rows_total,
                  sum(CASE WHEN zhi >= lo AND zlo <= hi THEN 1
                      ELSE 0 END)::BIGINT AS rg_hit,
                  sum(CASE WHEN zhi >= lo AND zlo <= hi THEN nrows
                      ELSE 0 END)::BIGINT AS rows_scanned,
                  sum(matched)::BIGINT AS rows_matched
           FROM zones)
         SELECT n_rowgroups, rg_hit, rows_total, rows_scanned,
                rows_matched,
                (rows_total * 62)::BIGINT AS bytes_full,
                (rows_scanned * 17)::BIGINT AS bytes_pruned_zoned,
                ((rows_total * 62 - rows_scanned * 17) * 1000000
                  // (rows_total * 62))::BIGINT AS io_savings_ppm
         FROM agg"""
  )
}
