package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch V (q460-q462) — classical inference + allocation:
  *
  *  - q460: two-cohort log-rank test — the hypothesis-test companion
  *    to q375's Kaplan-Meier estimator (reference surface:
  *    Benchmarks-style survival reporting). Death = first purchase
  *    after a user's first event; censoring at the corpus horizon.
  *    At-risk counts come from cumulative sums over the time-ordered
  *    per-duration death/enter table (distinct durations are
  *    hour-grain bounded — calendar-bounded, not corpus-bounded), so
  *    no per-user x per-time expansion ever materializes.
  *  - q461: Benjamini-Hochberg FDR step-up over 120 (event_type x
  *    hour) mean-shift hypotheses. z from exact integer sums; p via
  *    the published Abramowitz-Stegun 7.1.26 erf polynomial replayed
  *    verbatim by the oracle; the step-up cutoff is max{rank: p <=
  *    rank*alpha/m} computed with a bounded window (m = 120 rows).
  *  - q462: largest-remainder (Hamilton) apportionment — allocate
  *    exactly 1,000,000 budget units across nations pro-rata to
  *    order revenue. All arithmetic in DECIMAL(38,0)/HUGEINT
  *    (seats*cents overflows BIGINT at large SF), floor quota +
  *    top-R remainders; the allocation sums to the budget EXACTLY,
  *    which the spec pins.
  */
object Inference {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q460_logrank_test" -> ((s, d) => {
      val ev = t(s, d, "events")
      // per-user duration (hours from first event to first purchase;
      // censored at the corpus horizon) — one bounded aggregate
      val horizon = ev.agg(max(col("ts")).as("hmax"))
      val durs = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
        .crossJoin(broadcast(horizon))
        .select(col("user_id"),
          (col("user_id") % 2).cast("int").as("grp"),
          when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("death"),
          floor((unix_timestamp(coalesce(col("tp"), col("hmax"))) -
            unix_timestamp(col("t0"))) / 3600L).cast("long").as("dur"))
      // per-duration group counts; at-risk via reverse cumulative sums
      val byT = durs.groupBy(col("dur"))
        .agg(sum(when(col("grp") === 0, col("death")).otherwise(0L))
            .as("d0"),
          sum(when(col("grp") === 1, col("death")).otherwise(0L))
            .as("d1"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("e0"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("e1"))
      // distinct durations are calendar-hour bounded -> this global
      // window is over a bounded set (q375 contract)
      val wGe = Window.orderBy(col("dur"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val risk = byT
        .withColumn("n0", sum(col("e0")).over(wGe))
        .withColumn("n1", sum(col("e1")).over(wGe))
        .filter(col("d0") + col("d1") > 0)
        .withColumn("dtot", col("d0") + col("d1"))
        .withColumn("ntot", col("n0") + col("n1"))
        .withColumn("exp1", col("dtot") * col("n1") /
          col("ntot").cast("double"))
        .withColumn("vr", when(col("ntot") > 1,
          col("dtot") * (col("n1") / col("ntot").cast("double")) *
            (col("n0") / col("ntot").cast("double")) *
            (col("ntot") - col("dtot")) / (col("ntot") - lit(1)))
          .otherwise(lit(0.0)))
      risk.agg(
          count(lit(1)).as("n_death_times"),
          sum(col("d1")).as("observed_g1"),
          floor(sum(col("exp1")) * 1000).cast("long")
            .as("expected_g1_milli"),
          floor(sum(col("vr")) * 1000).cast("long").as("variance_milli"),
          floor(pow(sum(col("d1")) - sum(col("exp1")), 2) /
            sum(col("vr")) * 1000).cast("long").as("chi2_milli"))
    }),

    // Kept over its oracle SQL: 216 vs 353 ms warm at sf0.1 (median, 4 of
    // 5 runs); the 1-row moment aggregates ride hand-placed broadcasts.
    "q461_fdr_bh" -> ((s, d) => {
      // planted effect: purchase@12h values are shifted +100 so the
      // procedure has a true positive to find; every other cell is
      // null-true and BH must (mostly) keep it
      val ev = t(s, d, "events")
        .select(col("event_type"), hour(col("ts")).as("hr"),
          (col("value") + when(col("event_type") === "purchase" &&
            hour(col("ts")) === 12, lit(100.0)).otherwise(lit(0.0)))
            .as("value"))
      // global moments (exact sums -> double once)
      val g = ev.agg(sum(col("value")).as("gs"),
        sum(col("value") * col("value")).as("gss"),
        count(lit(1)).as("gn"))
      val cells = ev.groupBy(col("event_type"), col("hr"))
        .agg(sum(col("value")).as("cs"), count(lit(1)).as("cn"))
        .crossJoin(broadcast(g))
        .withColumn("gmean", col("gs") / col("gn"))
        .withColumn("gsd", sqrt(col("gss") / col("gn") -
          (col("gs") / col("gn")) * (col("gs") / col("gn"))))
        .withColumn("z", abs((col("cs") / col("cn") - col("gmean")) /
          (col("gsd") / sqrt(col("cn").cast("double")))))
      // two-sided p via Abramowitz-Stegun 7.1.26 erf (x = z/sqrt(2)):
      // erf(x) ~ 1 - poly(t) * exp(-x^2), t = 1/(1 + 0.3275911 x)
      val scored = cells
        .withColumn("x", col("z") / sqrt(lit(2.0)))
        .withColumn("tt", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
        .withColumn("erf", lit(1.0) -
          (lit(0.254829592) * col("tt") -
            lit(0.284496736) * pow(col("tt"), 2) +
            lit(1.421413741) * pow(col("tt"), 3) -
            lit(1.453152027) * pow(col("tt"), 4) +
            lit(1.061405429) * pow(col("tt"), 5)) *
            exp(-col("x") * col("x")))
        .withColumn("p", lit(1.0) - col("erf"))
      // BH step-up at alpha = 0.05 over the m = |cells| hypotheses —
      // bounded window (<= 5 types x 24 hours rows)
      val m = scored.agg(count(lit(1)).as("m"))
      val wP = Window.orderBy(col("p"), col("event_type"), col("hr"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val ranked = scored.crossJoin(broadcast(m))
        .withColumn("rk", row_number().over(wP))
        .withColumn("ok", when(col("p") <= col("rk") * lit(0.05) / col("m"),
          col("rk")).otherwise(lit(0)))
        .withColumn("cutoff", max(col("ok")).over(wAll))
      ranked.filter(col("rk") <= col("cutoff"))
        .select(col("event_type"), col("hr"),
          floor(col("z") * 1000).cast("long").as("z_milli"),
          floor(col("p") * 1000000).cast("long").as("p_ppm"),
          col("rk"), col("cutoff").cast("long").as("n_rejected"))
        .orderBy(col("rk"))
    }),

    "q462_largest_remainder" -> ((s, d) => {
      val seats = lit(1000000L).cast("decimal(38,0)")
      val rev = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .cast("decimal(38,0)").as("cents"))
      val tot = rev.agg(sum(col("cents")).as("total"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val wRem = Window.orderBy(col("rem").desc, col("n_nationkey"))
      val quotas = rev.crossJoin(broadcast(tot))
        // seats*cents stays exact in DECIMAL(38,0) (BIGINT would
        // overflow once total cents exceeds ~9.2e12)
        .withColumn("base", expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * cents) DIV total" +
            " AS BIGINT)"))
        .withColumn("rem", expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * cents) % total" +
            " AS BIGINT)"))
      val alloc = quotas
        .withColumn("residual", lit(1000000L) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(wRem))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("residual"), 1L)
            .otherwise(0L))
      alloc.select(col("n_name"), col("cents").cast("long").as("cents"),
          col("base"), col("rem"), col("alloc"))
        .orderBy(col("alloc").desc, col("n_name"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q460_logrank_test" ->
      """WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type
                     FROM events),
         hz AS (SELECT max(ts) AS hmax FROM ev),
         durs AS (
           -- floor(epoch) per endpoint (not of the interval): Spark's
           -- unix_timestamp truncates sub-second parts per timestamp
           SELECT user_id, (user_id % 2)::INT AS grp,
                  (CASE WHEN tp IS NOT NULL THEN 1 ELSE 0
                   END)::BIGINT AS death,
                  floor((floor(epoch(coalesce(tp,
                        (SELECT hmax FROM hz))))
                      - floor(epoch(t0))) / 3600)::BIGINT AS dur
           FROM (SELECT user_id, min(ts) AS t0,
                        min(CASE WHEN event_type = 'purchase'
                            THEN ts END) AS tp
                 FROM ev GROUP BY user_id) u),
         byt AS (
           SELECT dur,
                  sum(CASE WHEN grp = 0 THEN death ELSE 0 END)::BIGINT
                    AS d0,
                  sum(CASE WHEN grp = 1 THEN death ELSE 0 END)::BIGINT
                    AS d1,
                  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS e0,
                  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS e1
           FROM durs GROUP BY dur),
         risk AS (
           SELECT dur, d0, d1,
                  sum(e0) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS n0,
                  sum(e1) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS n1
           FROM byt),
         terms AS (
           SELECT d1, (d0 + d1) AS dtot, (n0 + n1) AS ntot,
                  (d0 + d1) * n1 / CAST(n0 + n1 AS DOUBLE) AS exp1,
                  CASE WHEN n0 + n1 > 1
                       THEN (d0 + d1)
                            * (n1 / CAST(n0 + n1 AS DOUBLE))
                            * (n0 / CAST(n0 + n1 AS DOUBLE))
                            * (n0 + n1 - d0 - d1)
                            / (n0 + n1 - 1)
                       ELSE 0.0 END AS vr
           FROM risk WHERE d0 + d1 > 0)
         SELECT count(*)::BIGINT AS n_death_times,
                sum(d1)::BIGINT AS observed_g1,
                floor(sum(exp1) * 1000)::BIGINT AS expected_g1_milli,
                floor(sum(vr) * 1000)::BIGINT AS variance_milli,
                floor(pow(sum(d1) - sum(exp1), 2) / sum(vr)
                  * 1000)::BIGINT AS chi2_milli
         FROM terms""",

    "q461_fdr_bh" ->
      """WITH ev AS (SELECT event_type,
                  extract(hour FROM ts::TIMESTAMP)::BIGINT AS hr,
                  value + (CASE WHEN event_type = 'purchase'
                           AND extract(hour FROM ts::TIMESTAMP) = 12
                           THEN 100.0 ELSE 0.0 END) AS value
           FROM events),
         g AS (SELECT sum(value) AS gs, sum(value * value) AS gss,
                      count(*)::BIGINT AS gn FROM ev),
         cells AS (
           SELECT event_type, hr, sum(value) AS cs,
                  count(*)::BIGINT AS cn
           FROM ev GROUP BY event_type, hr),
         zed AS (
           SELECT event_type, hr,
                  abs((cs / cn - gs / gn)
                    / (sqrt(gss / gn - (gs / gn) * (gs / gn))
                       / sqrt(CAST(cn AS DOUBLE)))) AS z
           FROM cells CROSS JOIN g),
         scored AS (
           SELECT event_type, hr, z,
                  1.0 - (1.0 - (0.254829592 * tt
                                - 0.284496736 * pow(tt, 2)
                                + 1.421413741 * pow(tt, 3)
                                - 1.453152027 * pow(tt, 4)
                                + 1.061405429 * pow(tt, 5))
                               * exp(-x * x)) AS p
           FROM (SELECT event_type, hr, z, z / sqrt(2.0) AS x,
                        1.0 / (1.0 + 0.3275911 * (z / sqrt(2.0))) AS tt
                 FROM zed) q),
         m AS (SELECT count(*)::BIGINT AS m FROM scored),
         ranked AS (
           SELECT event_type, hr, z, p,
                  row_number() OVER (ORDER BY p, event_type, hr) AS rk,
                  (SELECT m FROM m) AS m
           FROM scored),
         cut AS (
           SELECT max(CASE WHEN p <= rk * 0.05 / m THEN rk ELSE 0 END)
             AS cutoff FROM ranked)
         SELECT event_type, hr,
                floor(z * 1000)::BIGINT AS z_milli,
                floor(p * 1000000)::BIGINT AS p_ppm,
                rk, (SELECT cutoff FROM cut)::BIGINT AS n_rejected
         FROM ranked
         WHERE rk <= (SELECT cutoff FROM cut)
         ORDER BY rk""",

    "q462_largest_remainder" ->
      """WITH rev AS (
           SELECT n_nationkey, n_name,
                  sum(floor(o_totalprice * 100)::BIGINT)::HUGEINT
                    AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_nationkey, n_name),
         tot AS (SELECT sum(cents) AS total FROM rev),
         quotas AS (
           SELECT n_nationkey, n_name, cents,
                  ((1000000::HUGEINT * cents) // total)::BIGINT AS base,
                  ((1000000::HUGEINT * cents) % total)::BIGINT AS rem
           FROM rev CROSS JOIN tot),
         alloc AS (
           SELECT n_name, cents, base, rem,
                  1000000 - sum(base) OVER () AS residual,
                  row_number() OVER (ORDER BY rem DESC, n_nationkey)
                    AS rk
           FROM quotas)
         SELECT n_name, cents::BIGINT AS cents, base, rem,
                (base + CASE WHEN rk <= residual THEN 1 ELSE 0
                 END)::BIGINT AS alloc
         FROM alloc
         ORDER BY alloc DESC, n_name"""
  )
}

/** Round-9 batch BG (q571-q573) — k-sample rank tests and signal
  * decomposition (public algorithms: Kruskal-Wallis [1952], the Haar
  * wavelet transform [Haar 1910], and the Ljung-Box portmanteau test
  * [Ljung-Box 1978]):
  *
  *  - q571: Kruskal-Wallis H across the five order priorities on the
  *    cent-value grain — doubled midranks (q569's trick) keep every
  *    rank sum an exact integer under ties; Σ R_j²/n_j runs in
  *    DECIMAL(38,0)/HUGEINT (R_j ~ n² overflows int64 past ~150k
  *    rows); tie-corrected H lands in milli with one final float
  *    expression.
  *  - q572: unnormalized integer Haar decomposition of the first 16
  *    days of each event-type's daily revenue — detail energies at
  *    three levels plus the level-3 approximation, all exact integer
  *    array folds on the calendar-bounded day grain. The
  *    multi-resolution "where does the variance live" readout.
  *  - q573: Ljung-Box Q over lags 1-5 of daily revenue —
  *    autocovariances computed EXACTLY as Σ(n·x_i − S)(n·x_{i+k} − S)
  *    (integer, centered without division), Q assembled in one fixed
  *    float expression per series. The "is this series white noise"
  *    gate before any forecasting model.
  */
object RankTests {

  type Q = (SparkSession, String) => DataFrame

  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** Exact integer autocovariance numerator at lag k over arr with
    * row count nn and sum ss (Spark HOF text). The products grow as
    * (nn·deviation)² — a decade-scale day grain with milli-scaled
    * means can clear int64, so the fold accumulates in DECIMAL(38,0)
    * (the oracle's list_sum widens the same way via HUGEINT); the
    * c_k values only feed double expressions downstream. */
  private def ckSpark(k: Int): String =
    s"""aggregate(sequence(1, int(nn) - $k),
        CAST(0 AS DECIMAL(38,0)),
        (acc, i) -> acc
          + CAST(nn * element_at(arr, i) - ss AS DECIMAL(38,0))
          * (nn * element_at(arr, i + $k) - ss))"""

  private def ckDuck(k: Int): String =
    s"""list_sum(list_transform(range(1, (nn - $k + 1)::INT),
        i -> (nn * ms[i::INT] - ss)::HUGEINT
          * (nn * ms[(i + $k)::INT] - ss)))"""

  val queries: Seq[(String, Q)] = Seq(

    "q571_kruskal_wallis" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
          .as("v"), col("o_orderpriority").as("prio"))
      val grain = graft.Stage(base.groupBy(col("v"), col("prio"))
        .agg(count(lit(1)).as("c")), "q571_grain")
      val vTot = grain.groupBy(col("v"))
        .agg(sum(col("c")).as("tc"))
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = vTot
        .withColumn("cumb", coalesce(sum(col("tc")).over(wv), lit(0L)))
        .withColumn("r2", lit(2L) * col("cumb") + col("tc") + 1L)
      val perGroup = grain.join(ranked, Seq("v"))
        .groupBy(col("prio"))
        .agg(sum(col("c")).as("nj"),
          sum(col("c") * col("r2")).as("r2j"))
      val ties = ranked.agg(
        sum(col("tc") * col("tc") * col("tc") - col("tc"))
          .as("tieterm"))
      perGroup.agg(count(lit(1)).as("k"),
        sum(col("nj")).as("n"),
        sum(expr("""CAST(r2j AS DECIMAL(38,0)) * r2j
                    DIV (4 * nj)""")).as("sr2"))
        .crossJoin(broadcast(ties))
        .select(col("k"), col("n"),
          // H = [12/(n(n+1))·ΣR²/n_j − 3(n+1)] / (1 − Σ(t³−t)/(n³−n))
          expr("""CAST(floor(1000.0 *
              (12.0 * CAST(sr2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
              / (1.0 - CAST(tieterm AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n - n))) AS BIGINT)""")
            .as("h_milli"),
          (col("k") - 1L).as("df"))
    }),

    "q572_haar_energy" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("m"))))
          .as("series"))
        .filter(size(col("series")) >= 16)
        .select(col("event_type"),
          expr("slice(transform(series, s -> s.m), 1, 16)").as("x"))
        // unnormalized Haar: a_i = x_{2i-1}+x_{2i}, d_i = x_{2i-1}−x_{2i}
        .withColumn("a1", expr(
          """transform(sequence(1, 8), i ->
             element_at(x, 2*int(i) - 1) + element_at(x, 2*int(i)))"""))
        .withColumn("e1", expr(
          """aggregate(sequence(1, 8), 0L, (acc, i) -> acc
             + (element_at(x, 2*int(i) - 1) - element_at(x, 2*int(i)))
             * (element_at(x, 2*int(i) - 1) - element_at(x, 2*int(i))))"""))
        .withColumn("a2", expr(
          """transform(sequence(1, 4), i ->
             element_at(a1, 2*int(i) - 1) + element_at(a1, 2*int(i)))"""))
        .withColumn("e2", expr(
          """aggregate(sequence(1, 4), 0L, (acc, i) -> acc
             + (element_at(a1, 2*int(i) - 1) - element_at(a1, 2*int(i)))
             * (element_at(a1, 2*int(i) - 1) - element_at(a1, 2*int(i))))"""))
        .withColumn("e3", expr(
          """aggregate(sequence(1, 2), 0L, (acc, i) -> acc
             + (element_at(a2, 2*int(i) - 1) - element_at(a2, 2*int(i)))
             * (element_at(a2, 2*int(i) - 1) - element_at(a2, 2*int(i))))"""))
        .withColumn("approx3", expr(
          """aggregate(a2, 0L, (acc, v) -> acc + v)"""))
        .select(col("event_type"), col("e1").as("energy_l1"),
          col("e2").as("energy_l2"), col("e3").as("energy_l3"),
          col("approx3").as("approx_sum"))
        .orderBy(col("event_type"))
    }),

    "q573_ljung_box" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
      val ser = daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("m"))))
          .as("series"))
        .select(col("event_type"),
          expr("transform(series, s -> s.m)").as("arr"))
        .withColumn("nn", size(col("arr")).cast("long"))
        .withColumn("ss", expr("aggregate(arr, 0L, (a, v) -> a + v)"))
        .filter(col("nn") >= 10)
      val withCk = (0 to 5).foldLeft(ser) { (df, k) =>
        df.withColumn(s"c$k", expr(ckSpark(k)))
      }
      val qTerms = (1 to 5).map { k =>
        s"""(CAST(c$k AS DOUBLE) / c0) * (CAST(c$k AS DOUBLE) / c0)
            / (nn - $k)"""
      }.mkString(" + ")
      withCk.select(col("event_type"), col("nn").as("n_days"),
        expr(s"""CAST(floor(1000.0 * nn * (nn + 2) * ($qTerms))
                 AS BIGINT)""").as("lb_q_milli"),
        expr("""CAST(floor(1000.0 * c1 / c0) AS BIGINT)""")
          .as("acf1_milli"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q571_kruskal_wallis" ->
      """WITH base AS (
           SELECT floor(o_totalprice * 100)::BIGINT AS v,
                  o_orderpriority AS prio
           FROM orders),
         grain AS (
           SELECT v, prio, count(*)::BIGINT AS c FROM base
           GROUP BY v, prio),
         vtot AS (
           SELECT v, sum(c)::BIGINT AS tc FROM grain GROUP BY v),
         ranked AS (
           SELECT *, coalesce(sum(tc) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cumb,
                  2 * coalesce(sum(tc) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) + tc + 1 AS r2
           FROM vtot),
         pergroup AS (
           SELECT g.prio, sum(g.c)::BIGINT AS nj,
                  sum(g.c * r.r2)::BIGINT AS r2j
           FROM grain g JOIN ranked r ON g.v = r.v
           GROUP BY g.prio),
         ties AS (
           SELECT sum(tc * tc * tc - tc)::BIGINT AS tieterm
           FROM ranked),
         agg AS (
           SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
                  sum(r2j::HUGEINT * r2j // (4 * nj)) AS sr2
           FROM pergroup)
         SELECT k, n,
                CAST(floor(1000.0 *
                  (12.0 * CAST(sr2 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
                  / (1.0 - CAST(tieterm AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n * n - n))) AS BIGINT)
                  AS h_milli,
                (k - 1)::BIGINT AS df
         FROM agg, ties""",

    "q572_haar_energy" ->
      """WITH daily AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, list(m ORDER BY day) AS ms,
                  count(*)::BIGINT AS n
           FROM daily GROUP BY event_type),
         lvl AS (
           SELECT event_type, ms[1:16] AS x,
                  list_transform(range(1, 9),
                    i -> ms[(2*i - 1)::INT]::BIGINT
                       + ms[(2*i)::INT]::BIGINT) AS a1
           FROM ser WHERE n >= 16),
         lvl2 AS (
           SELECT *, list_transform(range(1, 5),
                    i -> a1[(2*i - 1)::INT] + a1[(2*i)::INT]) AS a2
           FROM lvl)
         SELECT event_type,
                list_sum(list_transform(range(1, 9),
                  i -> (x[(2*i - 1)::INT]::BIGINT - x[(2*i)::INT])
                     * (x[(2*i - 1)::INT]::BIGINT - x[(2*i)::INT])))
                  ::BIGINT AS energy_l1,
                list_sum(list_transform(range(1, 5),
                  i -> (a1[(2*i - 1)::INT] - a1[(2*i)::INT])
                     * (a1[(2*i - 1)::INT] - a1[(2*i)::INT])))
                  ::BIGINT AS energy_l2,
                list_sum(list_transform(range(1, 3),
                  i -> (a2[(2*i - 1)::INT] - a2[(2*i)::INT])
                     * (a2[(2*i - 1)::INT] - a2[(2*i)::INT])))
                  ::BIGINT AS energy_l3,
                list_sum(a2)::BIGINT AS approx_sum
         FROM lvl2 ORDER BY event_type""",

    "q573_ljung_box" -> {
      val cks = (0 to 5).map(k => s"${ckDuck(k)} AS c$k")
        .mkString(",\n                ")
      val qTerms = (1 to 5).map { k =>
        s"""(CAST(c$k AS DOUBLE) / c0) * (CAST(c$k AS DOUBLE) / c0)
            / (nn - $k)"""
      }.mkString(" + ")
      s"""WITH daily AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, list(m ORDER BY day) AS ms,
                  count(*)::BIGINT AS nn,
                  sum(m)::BIGINT AS ss
           FROM daily GROUP BY event_type),
         withck AS (
           SELECT event_type, nn,
                $cks
           FROM ser WHERE nn >= 10)
         SELECT event_type, nn AS n_days,
                CAST(floor(1000.0 * nn * (nn + 2) * ($qTerms))
                  AS BIGINT) AS lb_q_milli,
                CAST(floor(1000.0 * c1 / c0) AS BIGINT)
                  AS acf1_milli
         FROM withck ORDER BY event_type"""
    }
  )
}


/** Round-9 batch AT (q532-q534) — factorial designs, count-model
  * diagnostics, and concentration curves:
  *
  *  - q532: two-way ANOVA (returnflag × linestatus on price) — main
  *    effect and interaction sums of squares from exact per-cell
  *    integer moments via the standard SS identities (all
  *    DECIMAL-lifted), F statistics only at the final bounded
  *    scalars. Extends q474's one-way design to the factorial case.
  *  - q533: overdispersion diagnostic for per-user purchase counts —
  *    dispersion index var/mean (Poisson ⇒ 1), the Cameron-Trivedi
  *    flavored z on exact count moments, and the method-of-moments
  *    negative-binomial (r, p) fit that a count model would use
  *    instead. One user-grain aggregate, one global aggregate.
  *  - q534: Lorenz curve + Gini for customer-revenue concentration —
  *    exact G = 2·Σ rank·y / (n·Σy) − (n+1)/n with GLOBAL ranks from
  *    the q345 range-partition pattern (per-partition windows +
  *    broadcast offsets, never a single-partition sort), plus the
  *    cumulative-share curve at each decile boundary. The
  *    concentration companion to q509's Theil decomposition.
  */
object Anova {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q532_two_way_anova" -> ((s, d) => {
      val base = t(s, d, "lineitem").select(
        col("l_returnflag").as("a"), col("l_linestatus").as("b"),
        floor(col("l_extendedprice") * 100).cast("long").as("y"))
      val cells = graft.Stage(base.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("q")),
        "q532_cells")
      val tot = cells.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"),
        sum(col("q")).as("qq"), count(lit(1)).as("n_cells"))
      val aM = cells.groupBy(col("a"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      val bM = cells.groupBy(col("b"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      // SS contributions Σ s²/n, each an exact-decimal ratio -> double
      val ssA = aM.agg(sum((col("s").cast("decimal(38,0)") * col("s"))
        .cast("double") / col("n").cast("double")).as("va"),
        count(lit(1)).as("ka"))
      val ssB = bM.agg(sum((col("s").cast("decimal(38,0)") * col("s"))
        .cast("double") / col("n").cast("double")).as("vb"),
        count(lit(1)).as("kb"))
      val ssC = cells.agg(sum((col("s").cast("decimal(38,0)") * col("s"))
        .cast("double") / col("n").cast("double")).as("vc"))
      tot.crossJoin(ssA).crossJoin(ssB).crossJoin(ssC)
        .withColumn("cf", (col("ss").cast("decimal(38,0)") * col("ss"))
          .cast("double") / col("nn").cast("double"))
        .withColumn("ss_total", col("qq").cast("double") - col("cf"))
        .withColumn("ss_a", col("va") - col("cf"))
        .withColumn("ss_b", col("vb") - col("cf"))
        .withColumn("ss_ab",
          col("vc") - col("va") - col("vb") + col("cf"))
        .withColumn("ss_err", col("qq").cast("double") - col("vc"))
        .withColumn("df_a", col("ka") - 1)
        .withColumn("df_b", col("kb") - 1)
        .withColumn("df_ab", (col("ka") - 1) * (col("kb") - 1))
        .withColumn("df_err", col("nn") - col("n_cells"))
        .select(col("nn").as("n_rows"),
          floor(col("ss_a") / col("df_a")
            / (col("ss_err") / col("df_err")) * 1000).cast("long")
            .as("f_a_milli"),
          floor(col("ss_b") / col("df_b")
            / (col("ss_err") / col("df_err")) * 1000).cast("long")
            .as("f_b_milli"),
          floor(col("ss_ab") / col("df_ab")
            / (col("ss_err") / col("df_err")) * 1000).cast("long")
            .as("f_ab_milli"),
          floor(col("ss_ab") * 1e6 / col("ss_total")).cast("long")
            .as("interaction_share_ppm"))
    }),

    "q534_lorenz_gini" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val y = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("y"))
      val parts = y.repartitionByRange(8, col("y"), col("o_custkey"))
        .withColumn("pid", spark_partition_id())
      val wR = Window.partitionBy(col("pid"))
        .orderBy(col("y"), col("o_custkey"))
      val local = graft.Stage(parts
        .withColumn("lrank", row_number().over(wR))
        .withColumn("lcum", sum(col("y")).over(wR.rowsBetween(
          Window.unboundedPreceding, Window.currentRow))), "q534_local")
      val per = local.groupBy(col("pid"))
        .agg(count(lit(1)).as("c"), sum(col("y")).as("sy"))
        .collect().sortBy(_.getInt(0)) // bounded: one row per partition
      val offC = per.scanLeft((0, 0L)) { case ((_, acc), r) =>
        (r.getInt(0), acc + r.getLong(1)) }
      val offS = per.scanLeft((0, 0L)) { case ((_, acc), r) =>
        (r.getInt(0), acc + r.getLong(2)) }
      val offDf = offC.init.zip(offC.tail).zip(offS.init.zip(offS.tail))
        .map { case (((_, cb), (pid, _)), ((_, sb), _)) => (pid, cb, sb) }
        .toSeq.toDF("pid", "coff", "soff")
      val ranked = graft.Stage(local.join(broadcast(offDf), Seq("pid"))
        .withColumn("rank", col("coff") + col("lrank"))
        .withColumn("cum", col("soff") + col("lcum")), "q534_ranked")
      val tot = ranked.agg(max(col("rank")).as("n"),
        sum(col("y")).as("yy"),
        sum(col("rank").cast("decimal(38,0)") * col("y")).as("ry"))
      val gini = tot.select(col("n"), col("yy"),
        floor((lit(2.0) * col("ry").cast("double")
          / (col("n").cast("double") * col("yy").cast("double"))
          - (col("n") + 1).cast("double") / col("n").cast("double"))
          * 1e6).cast("long").as("gini_ppm"))
      // Lorenz share at each decile boundary rank ⌊k·n/10⌋
      val curve = ranked.crossJoin(broadcast(tot))
        .filter(col("rank") * 10 % col("n") < 10) // rank = floor(k n/10)
        .withColumn("decile", expr("rank * 10 DIV n"))
        .groupBy(col("decile"))
        .agg(max(expr("cum * 1000000 DIV yy")).as("cum_share_ppm"))
        .filter(col("decile").between(1, 9))
      curve.crossJoin(broadcast(gini))
        .select(col("decile"), col("cum_share_ppm"), col("n"),
          col("gini_ppm"))
        .orderBy(col("decile"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q532_two_way_anova" ->
      """WITH base AS (
           SELECT l_returnflag AS a, l_linestatus AS b,
                  floor(l_extendedprice * 100)::BIGINT AS y
           FROM lineitem),
         cells AS (
           SELECT a, b, count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
                  sum(y::HUGEINT * y) AS q
           FROM base GROUP BY a, b),
         tot AS (
           SELECT sum(n)::BIGINT AS nn, sum(s)::BIGINT AS ss,
                  sum(q) AS qq, count(*)::BIGINT AS n_cells
           FROM cells),
         am AS (
           SELECT sum(CAST(s2.s::HUGEINT * s2.s AS DOUBLE)
               / s2.n) AS va,
             count(*)::BIGINT AS ka
           FROM (SELECT a, sum(n)::BIGINT AS n, sum(s)::BIGINT AS s
                 FROM cells GROUP BY a) s2),
         bm AS (
           SELECT sum(CAST(s2.s::HUGEINT * s2.s AS DOUBLE)
               / s2.n) AS vb,
             count(*)::BIGINT AS kb
           FROM (SELECT b, sum(n)::BIGINT AS n, sum(s)::BIGINT AS s
                 FROM cells GROUP BY b) s2),
         cm AS (
           SELECT sum(CAST(s::HUGEINT * s AS DOUBLE) / n) AS vc
           FROM cells),
         calc AS (
           SELECT t.nn,
             CAST(t.ss::HUGEINT * t.ss AS DOUBLE) / t.nn AS cf,
             CAST(t.qq AS DOUBLE) AS qd,
             a.va, a.ka, b.vb, b.kb, c.vc, t.n_cells
           FROM tot t, am a, bm b, cm c),
         fin AS (
           SELECT nn,
             qd - cf AS ss_total,
             va - cf AS ss_a, vb - cf AS ss_b,
             vc - va - vb + cf AS ss_ab,
             qd - vc AS ss_err,
             ka - 1 AS df_a, kb - 1 AS df_b,
             (ka - 1) * (kb - 1) AS df_ab,
             nn - n_cells AS df_err
           FROM calc)
         SELECT nn AS n_rows,
                floor(ss_a / df_a / (ss_err / df_err) * 1000)::BIGINT
                  AS f_a_milli,
                floor(ss_b / df_b / (ss_err / df_err) * 1000)::BIGINT
                  AS f_b_milli,
                floor(ss_ab / df_ab / (ss_err / df_err) * 1000)::BIGINT
                  AS f_ab_milli,
                floor(ss_ab * 1e6 / ss_total)::BIGINT
                  AS interaction_share_ppm
         FROM fin""",

    "q533_overdispersion" ->
      """WITH counts AS (
           SELECT user_id, count(*)::BIGINT AS k
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id),
         m AS (
           SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS s1,
                  sum(k * k)::BIGINT AS s2
           FROM counts),
         st AS (
           SELECT n, s1,
             CAST(s1 AS DOUBLE) / n AS mean,
             (CAST(s2 AS DOUBLE) - n * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n)) / (n - 1) AS variance
           FROM m)
         SELECT n AS n_users, s1 AS n_purchases,
                floor(mean * 1000)::BIGINT AS mean_milli,
                floor(variance * 1000)::BIGINT AS var_milli,
                floor(variance / mean * 1000)::BIGINT
                  AS dispersion_milli,
                (CASE WHEN variance > mean
                 THEN floor(mean * mean / (variance - mean) * 1000)
                 ELSE -1 END)::BIGINT AS nb_r_milli,
                (CASE WHEN variance > mean
                 THEN floor(mean / variance * 1e6)
                 ELSE -1 END)::BIGINT AS nb_p_ppm
         FROM st""",

    "q534_lorenz_gini" ->
      """WITH y AS (
           SELECT o_custkey,
                  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS y
           FROM orders GROUP BY o_custkey),
         ranked AS (
           SELECT y, o_custkey,
                  row_number() OVER (ORDER BY y, o_custkey)::BIGINT
                    AS rank,
                  sum(y) OVER (ORDER BY y, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    ::BIGINT AS cum
           FROM y),
         tot AS (
           SELECT max(rank)::BIGINT AS n, sum(y)::BIGINT AS yy,
                  sum(rank::HUGEINT * y) AS ry
           FROM ranked),
         gini AS (
           SELECT n, yy,
             floor((2.0 * CAST(ry AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(yy AS DOUBLE))
               - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
               * 1e6)::BIGINT AS gini_ppm
           FROM tot),
         curve AS (
           SELECT (r.rank * 10 // t.n)::BIGINT AS decile,
                  max(r.cum * 1000000 // t.yy)::BIGINT
                    AS cum_share_ppm
           FROM ranked r, tot t
           WHERE (r.rank * 10) % t.n < 10
           GROUP BY 1)
         SELECT c.decile, c.cum_share_ppm, g.n, g.gini_ppm
         FROM curve c, gini g
         WHERE c.decile BETWEEN 1 AND 9
         ORDER BY c.decile"""
  )
}


/** Round-9 batch BA (q553-q555) — resampling uncertainty, control
  * charts, and exact split search (public algorithms: the Poisson
  * bootstrap for massive data [Chamandy et al. 2012, "Estimating
  * uncertainty for massive data streams"], the EWMA control chart
  * [Roberts 1959], and CART-style gini split search
  * [Breiman et al. 1984]):
  *
  *  - q553: Poisson bootstrap — B = 32 replicas in ONE corpus pass:
  *    each row gets a deterministic Poisson(1) weight per replica via
  *    the splitmix hash of (orderkey, replica) against the exact
  *    2³²-scaled inverse CDF (no resampling shuffle — THE bootstrap
  *    at 100 TB, where classic resampling is impossible). Replica
  *    means in integer milli; the SE and normal CI computed from
  *    exact integer moments of the 32 replica means.
  *  - q554: EWMA control chart (α = ½ halving, integer state) over
  *    daily event revenue: the per-day EWMA series is a prefix fold
  *    (transform × aggregate — O(days²) per series but CALENDAR-
  *    bounded, corpus-independent), and the ±3σ out-of-control test
  *    is an exact cross-multiplied integer comparison
  *    (n·e − Σx)² > 3·(n·Σx² − (Σx)²) — no float boundary at all.
  *  - q555: decision stump by exact gini — the corpus is first
  *    reduced to a bounded feature grid (quantity × discount-cents ×
  *    month × linestatus × label counts), then 11 candidate splits
  *    are scored ON THE GRID: per-child scaled gini in integer
  *    nano-units (floor(1e9·(n²−p²−g²)/n) per child, exact integer
  *    sum across children), ranked ascending. One corpus aggregation
  *    regardless of candidate count.
  */
object Bootstrap {

  type Q = (SparkSession, String) => DataFrame

  /** Poisson(1) inverse CDF, cumulative thresholds in 2³² units. */
  private val poisCdf =
    Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L)

  private def poissonW(h: String): String =
    poisCdf.zipWithIndex
      .map { case (t, k) => s"WHEN $h < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")

  /** Candidate stump splits evaluated on the feature grid; identical
    * predicate text in both dialects (grid columns qty, dc, mon, ls).
    */
  private val stumpCands: Seq[(String, String)] = Seq(
    "qty<=10" -> "qty <= 10", "qty<=20" -> "qty <= 20",
    "qty<=30" -> "qty <= 30", "qty<=40" -> "qty <= 40",
    "disc<=2" -> "dc <= 2", "disc<=5" -> "dc <= 5",
    "disc<=8" -> "dc <= 8", "month<=3" -> "mon <= 3",
    "month<=6" -> "mon <= 6", "month<=9" -> "mon <= 9",
    "status=F" -> "ls = 'F'")

  val queries: Seq[(String, Q)] = Seq(

    "q553_poisson_bootstrap" -> ((s, d) => {
      val reps = broadcast(s.range(32).select(col("id").as("b")))
      val base = t(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 1000) AS BIGINT)").as("xm"))
      val weighted = base.crossJoin(reps)
        .withColumn("h0",
          expr("""(((k * 100 + b) % 2147483648L) * 2654435761L)
                  & 4294967295L"""))
        .withColumn("h1",
          expr("((h0 ^ shiftright(h0, 16)) * 73244475L) & 4294967295L"))
        .withColumn("h",
          expr("(h1 ^ shiftright(h1, 16)) & 4294967295L"))
        .select(col("b"), col("xm"),
          expr(poissonW("h")).cast("long").as("w"))
      val repMeans = weighted.groupBy(col("b"))
        .agg(expr("sum(w * xm) DIV greatest(sum(w), 1)").as("m"))
      val point = base.agg(expr("sum(xm) DIV count(*)").as("pt"))
      // center replica means on the point estimate before taking
      // moments: deviations are SE-scale, so the second moment cannot
      // overflow at any price magnitude (raw m² did)
      repMeans.crossJoin(broadcast(point))
        .select(col("pt"), (col("m") - col("pt")).as("dm"))
        .groupBy(col("pt"))
        .agg(count(lit(1)).as("nb"),
          sum(col("dm")).as("sd"),
          sum(col("dm") * col("dm")).as("sd2"))
        .select(col("pt").as("point_milli"),
          col("nb").as("n_replicas"),
          expr("""CAST(floor(sqrt((nb * sd2 - sd * sd)
                  / CAST(nb * (nb - 1) AS DOUBLE))) AS BIGINT)""")
            .as("se_milli"))
        .select(col("point_milli"), col("n_replicas"),
          col("se_milli"),
          (col("point_milli") - expr("se_milli * 196 DIV 100"))
            .as("ci_lo_milli"),
          (col("point_milli") + expr("se_milli * 196 DIV 100"))
            .as("ci_hi_milli"))
    }),

    "q554_ewma_control_chart" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("m"))))
          .as("series"),
          count(lit(1)).as("n"),
          sum(col("m")).as("sx"),
          sum(col("m") * col("m")).as("sx2"))
        // per-day EWMA via prefix folds: O(days²) per series, bounded
        // by the calendar (30 here, ~3k at a decade), never the corpus
        .withColumn("ew", expr(
          """transform(sequence(1, int(size(series))), i ->
               named_struct(
                 'day', element_at(series, i).day,
                 'e', aggregate(
                    slice(transform(series, s -> s.m), 2, i - 1),
                    element_at(series, 1).m,
                    (a, x) -> cast(floor((a + x) / 2.0) as bigint))))"""))
        .select(col("event_type"), col("n"), col("sx"), col("sx2"),
          explode(col("ew")).as("z"))
        .select(col("event_type"), col("z.day").as("day"),
          col("z.e").as("ewma_milli"),
          // exact integer ±3σ·sqrt(α/(2−α)) test, α=1/2 → var/3:
          // (n·e − Σx)² > 3·(n·Σx² − (Σx)²) · (1/3) · 9 = 3·(…)
          when((col("n") * col("z.e") - col("sx"))
            * (col("n") * col("z.e") - col("sx"))
            > lit(3L) * (col("n") * col("sx2") - col("sx") * col("sx")),
            1L).otherwise(0L).as("out_of_control"))
        .orderBy(col("event_type"), col("day"))
    }),

    "q555_gini_stump" -> ((s, d) => {
      val grid = graft.Stage(t(s, d, "lineitem")
        .select(col("l_quantity").cast("long").as("qty"),
          expr("CAST(floor(l_discount * 100) AS BIGINT)").as("dc"),
          month(col("l_shipdate")).cast("long").as("mon"),
          col("l_linestatus").as("ls"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L)
            .as("label"))
        .groupBy(col("qty"), col("dc"), col("mon"), col("ls"),
          col("label"))
        .agg(count(lit(1)).as("c")), "q555_grid")
      val scored = stumpCands.map { case (name, pred) =>
        grid.agg(
          sum(when(expr(pred), col("c")).otherwise(0L)).as("n1"),
          sum(when(expr(pred) && col("label") === 1L, col("c"))
            .otherwise(0L)).as("p1"),
          sum(col("c")).as("n"),
          sum(when(col("label") === 1L, col("c")).otherwise(0L))
            .as("p"))
          .select(lit(name).as("split"),
            col("n1"), col("p1"),
            (col("n") - col("n1")).as("n0"),
            (col("p") - col("p1")).as("p0"), col("n"))
      }.reduce(_ unionByName _)
      // per-child scaled gini floor'd to integer micro-units, exact
      // integer sum over the two children, DIV n. With n = p + g the
      // impurity numerator n² − p² − g² = 2pg; the product is taken
      // in DECIMAL(38,0)/HUGEINT so a 10⁹-row child cannot overflow
      scored.select(col("split"), col("n1"), col("n0"),
        expr("""(CASE WHEN n1 > 0 THEN
                  (CAST(2 AS DECIMAL(38,0)) * p1 * (n1 - p1)
                    * 1000000) DIV n1 ELSE 0L END
                + CASE WHEN n0 > 0 THEN
                  (CAST(2 AS DECIMAL(38,0)) * p0 * (n0 - p0)
                    * 1000000) DIV n0 ELSE 0L END) DIV n""")
          .as("gini_micro"))
        .orderBy(col("gini_micro"), col("split"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q553_poisson_bootstrap" ->
      s"""WITH reps AS (SELECT range::BIGINT AS b FROM range(32)),
         base AS (
           SELECT o_orderkey::BIGINT AS k,
                  floor(o_totalprice * 1000)::BIGINT AS xm
           FROM orders),
         weighted AS (
           SELECT b, xm,
                  (${poissonW("(xor(h1, h1 >> 16) & 4294967295)")})
                    ::BIGINT AS w
           FROM (
             SELECT b, xm,
                    (xor(h0, h0 >> 16) * 73244475) & 4294967295 AS h1
             FROM (
               SELECT b, xm, (((k * 100 + b) % 2147483648)
                      * 2654435761) & 4294967295 AS h0
               FROM base, reps))),
         repmeans AS (
           SELECT b, sum(w * xm) // greatest(sum(w), 1) AS m
           FROM weighted GROUP BY b),
         pt AS (
           SELECT (sum(xm) // count(*))::BIGINT AS pt FROM base),
         agg AS (
           SELECT count(*)::BIGINT AS nb,
                  sum(m - pt)::BIGINT AS sd,
                  sum((m - pt) * (m - pt))::BIGINT AS sd2
           FROM repmeans, pt),
         se AS (
           SELECT pt AS point_milli, nb AS n_replicas,
                  CAST(floor(sqrt((nb * sd2 - sd * sd)
                    / CAST(nb * (nb - 1) AS DOUBLE))) AS BIGINT)
                    AS se_milli
           FROM agg, pt)
         SELECT point_milli, n_replicas, se_milli,
                (point_milli - se_milli * 196 // 100)::BIGINT
                  AS ci_lo_milli,
                (point_milli + se_milli * 196 // 100)::BIGINT
                  AS ci_hi_milli
         FROM se""",

    "q554_ewma_control_chart" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, list(day ORDER BY day) AS days,
                  list(m ORDER BY day) AS ms,
                  count(*)::BIGINT AS n, sum(m)::BIGINT AS sx,
                  sum(m * m)::BIGINT AS sx2
           FROM daily GROUP BY event_type),
         fold AS (
           SELECT event_type, days, ms, n, sx, sx2, 1::BIGINT AS t,
                  ms[1]::BIGINT AS e
           FROM ser
           UNION ALL
           SELECT event_type, days, ms, n, sx, sx2, t + 1,
                  cast(floor((e + ms[(t + 1)::INT]::BIGINT) / 2.0)
                    as bigint)
           FROM fold WHERE t < n)
         SELECT event_type, days[t::INT]::BIGINT AS day,
                e AS ewma_milli,
                (CASE WHEN (n * e - sx) * (n * e - sx)
                      > 3 * (n * sx2 - sx * sx)
                 THEN 1 ELSE 0 END)::BIGINT AS out_of_control
         FROM fold
         ORDER BY event_type, day""",

    "q555_gini_stump" -> {
      val branches = stumpCands.map { case (name, pred) =>
        s"""SELECT '$name' AS split,
             sum(CASE WHEN $pred THEN c ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN ($pred) AND label = 1 THEN c
                 ELSE 0 END)::BIGINT AS p1,
             sum(c)::BIGINT AS n,
             sum(CASE WHEN label = 1 THEN c ELSE 0 END)::BIGINT AS p
           FROM grid"""
      }.mkString("\n           UNION ALL\n           ")
      s"""WITH grid AS (
           SELECT l_quantity::BIGINT AS qty,
                  floor(l_discount * 100)::BIGINT AS dc,
                  month(l_shipdate::TIMESTAMP)::BIGINT AS mon,
                  l_linestatus AS ls,
                  (CASE WHEN l_returnflag = 'R' THEN 1
                   ELSE 0 END)::BIGINT AS label,
                  count(*)::BIGINT AS c
           FROM lineitem GROUP BY 1, 2, 3, 4, 5),
         cands AS (
           $branches),
         expanded AS (
           SELECT split, n1, (n - n1)::BIGINT AS n0, p1,
                  (p - p1)::BIGINT AS p0, n
           FROM cands)
         SELECT split, n1, n0,
                ((CASE WHEN n1 > 0 THEN
                    (2::HUGEINT * p1 * (n1 - p1) * 1000000) // n1
                  ELSE 0 END
                  + CASE WHEN n0 > 0 THEN
                    (2::HUGEINT * p0 * (n0 - p0) * 1000000) // n0
                  ELSE 0 END) // n)::BIGINT AS gini_micro
         FROM expanded ORDER BY gini_micro, split"""
    }
  )
}


/** Round-9 batch M (q417-q418): nearest-neighbor propensity matching
  * with a caliper (the causal-inference estimator behind observational
  * A/B reads) and EM-estimated Fellegi-Sunter linkage parameters (the
  * learning step q350's fixed weights presuppose). Hash-gated vs
  * DuckDB.
  */
object Causal {

  type Q = (SparkSession, String) => DataFrame

  private def knuth(key: org.apache.spark.sql.Column) =
    (key.bitwiseAND(lit(2147483647L)) * lit(2654435761L)) % lit(4294967296L)

  val queries: Seq[(String, Q)] = Seq(

    // Nearest-neighbor propensity matching with caliper 2 — each
    // treated user matched to the closest control on the pre-period
    // activity covariate (|x_t - x_c| <= 2, ties to the smaller
    // control id, WITH replacement), then the average
    // treated-minus-matched-control outcome (ATT) in exact milli.
    // Candidates pair only inside the caliper band (equi-join on the
    // covariate bucket +-1 — never treated x control), the per-treated
    // argmin is one bounded window.
    "q417_propensity_matching" -> ((s, d) => {
      val per = graft.Stage(t(s, d, "events")
        .groupBy(col("user_id"),
          (knuth(col("user_id")) % 2 === 1).as("treated"))
        .agg(
          sum(when(col("ts") < "2024-01-16", 1L).otherwise(0L)).as("x"),
          sum(when(col("ts") >= "2024-01-16" &&
            col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L))
            .as("y")), "q417_per_user")
      val treatedDf = per.filter(col("treated"))
        .select(col("user_id").as("tid"), col("x").as("xt"),
          col("y").as("yt"))
      val controls = per.filter(!col("treated"))
        .select(col("user_id").as("cid"), col("x").as("xc"),
          col("y").as("yc"))
      // Matching with replacement + min-id tiebreak means only the
      // smallest-id control PER DISTINCT COVARIATE VALUE can ever win
      // — so controls first reduce to one representative per value
      // (sf1 ScaleRun caught the naive band join going quadratic when
      // covariate values cluster: 8.1 s / 11x wall for 10x data; the
      // reduced form gives each treated at most 5 candidates at any
      // scale).
      val reps = controls.groupBy(col("xc"))
        .agg(min(struct(col("cid"), col("yc"))).as("r"))
        .select(col("xc"), col("r.cid").as("cid"), col("r.yc").as("yc"))
      val cand = treatedDf
        .withColumn("dx", explode(array((-2 to 2).map(lit(_)): _*)))
        .join(reps, col("xc") === col("xt") + col("dx"))
      val matched = cand.withColumn("rn", row_number().over(
          Window.partitionBy(col("tid"))
            .orderBy(abs(col("xt") - col("xc")), col("cid"))))
        .filter(col("rn") === 1)
      matched.agg(count(lit(1)).as("n_matched"),
          avg(col("yt") - col("yc")).as("att"),
          avg(abs(col("xt") - col("xc"))).as("bal"))
        .crossJoin(broadcast(treatedDf.agg(count(lit(1)).as("n_treated"))))
        .select(col("n_treated"), col("n_matched"),
          round(col("att"), 4).as("att_cents"),
          round(col("bal"), 4).as("mean_covariate_gap"))
    }),

    // EM estimation of Fellegi-Sunter parameters — the learning step
    // q350's hard-coded ln(m/u) weights presuppose: over the blocked
    // candidate pairs' field-agreement vectors (brand, type, size),
    // two EM iterations re-estimate the match prior pi and per-field
    // m/u probabilities from the posterior match weight of every pair.
    // Each iteration is ONE bounded aggregate over the pair table; the
    // 1-row parameter state rides a broadcast (collected driver-side —
    // bounded metadata, like the ExactSelection histograms).
    "q418_linkage_em" -> ((s, d) => {
      val p = t(s, d, "part")
      val pairs = graft.Stage(p.as("a").join(p.as("b"),
          col("b.p_partkey") === col("a.p_partkey") + 1)
        .select(
          (col("a.p_brand") === col("b.p_brand")).cast("int").as("a1"),
          (col("a.p_type") === col("b.p_type")).cast("int").as("a2"),
          (abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int")
            .as("a3")), "q418_pairs")
      var pi = 0.1
      var m = Array(0.9, 0.9, 0.9)
      var u = Array(0.1, 0.1, 0.1)
      for (_ <- 1 to 2) {
        def lik(probs: Array[Double]) =
          (0 until 3).map { k =>
            val a = col(s"a${k + 1}").cast("double")
            pow(lit(probs(k)), a) * pow(lit(1 - probs(k)), lit(1.0) - a)
          }.reduce(_ * _)
        val g = (lit(pi) * lik(m)) /
          (lit(pi) * lik(m) + lit(1 - pi) * lik(u))
        // Bounded driver-side parameter update: one 1-row aggregate.
        val r = pairs.agg(count(lit(1)).cast("double").as("n"),
          sum(g).as("sg"),
          sum(g * col("a1")).as("g1"), sum(g * col("a2")).as("g2"),
          sum(g * col("a3")).as("g3"),
          sum((lit(1.0) - g) * col("a1")).as("h1"),
          sum((lit(1.0) - g) * col("a2")).as("h2"),
          sum((lit(1.0) - g) * col("a3")).as("h3")).head()
        val n = r.getDouble(0); val sg = r.getDouble(1)
        m = Array(r.getDouble(2) / sg, r.getDouble(3) / sg,
          r.getDouble(4) / sg)
        u = Array(r.getDouble(5) / (n - sg), r.getDouble(6) / (n - sg),
          r.getDouble(7) / (n - sg))
        pi = sg / n
      }
      val spark = s
      import spark.implicits._
      pairs.agg(count(lit(1)).as("n_pairs")).select(col("n_pairs"),
        round(lit(pi), 6).as("pi"),
        round(lit(m(0)), 6).as("m_brand"),
        round(lit(m(1)), 6).as("m_type"),
        round(lit(m(2)), 6).as("m_size"),
        round(lit(u(0)), 6).as("u_brand"),
        round(lit(u(1)), 6).as("u_type"),
        round(lit(u(2)), 6).as("u_size"))
    }),

    // Sample-ratio-mismatch check — the first thing to run on ANY
    // experiment before reading its metrics: chi-square of observed
    // variant counts against the designed 50/50 split, with the
    // 3.841 (df = 1, alpha = .05) critical-value verdict. A failed SRM
    // invalidates q267/q394/q396 downstream. One aggregate.
    "q419_srm_check" -> ((s, d) => {
      val counts = t(s, d, "events")
        .select(col("user_id")).distinct()
        .select((knuth(col("user_id")) % 2 === 1).as("is_b"))
        .agg(sum(when(col("is_b"), 1L).otherwise(0L)).as("nb"),
          count(lit(1)).as("n"))
      counts.select(col("n").as("n_users"), col("nb").as("n_variant_b"),
          (((col("nb") - col("n") / 2.0) * (col("nb") - col("n") / 2.0))
            / (col("n") / 4.0)).as("chi2"))
        .select(col("n_users"), col("n_variant_b"),
          round(col("chi2"), 4).as("chi2"),
          when(col("chi2") > 3.841, "srm_detected").otherwise("ok")
            .as("verdict"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q419_srm_check" ->
      """WITH u AS (
           SELECT DISTINCT user_id FROM events),
         counts AS (
           SELECT sum(CASE WHEN (user_id % 2147483648 * 2654435761
                    % 4294967296) % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                    AS nb,
                  count(*)::BIGINT AS n
           FROM u)
         SELECT n AS n_users, nb AS n_variant_b,
                round((nb - n / 2.0) * (nb - n / 2.0) / (n / 4.0), 4)
                  AS chi2,
                CASE WHEN (nb - n / 2.0) * (nb - n / 2.0) / (n / 4.0)
                     > 3.841 THEN 'srm_detected' ELSE 'ok' END
                  AS verdict
         FROM counts""",
    // Pythagorean means per group — geometric and harmonic means via
    // their log/reciprocal identities (no native aggregate in either
    // engine), alongside the arithmetic mean: the AM >= GM >= HM
    // inequality doubles as a free sanity gate. One partial-merge
    // aggregate over positive quantities.
    "q420_pythagorean_means" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
                round(avg(l_quantity), 4) AS arith_mean,
                round(exp(avg(ln(l_quantity))), 4) AS geo_mean,
                round(count(*) / sum(1.0 / l_quantity), 4) AS harm_mean
         FROM lineitem WHERE l_quantity > 0
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q417_propensity_matching" ->
      """WITH per AS (
           SELECT user_id,
                  (user_id % 2147483648 * 2654435761 % 4294967296)
                    % 2 = 1 AS treated,
                  sum(CASE WHEN ts::TIMESTAMP
                        < TIMESTAMP '2024-01-16 00:00:00'
                      THEN 1 ELSE 0 END)::BIGINT AS x,
                  sum(CASE WHEN ts::TIMESTAMP
                        >= TIMESTAMP '2024-01-16 00:00:00'
                        AND event_type = 'purchase'
                      THEN floor(value * 100)::BIGINT ELSE 0 END)
                    ::BIGINT AS y
           FROM events GROUP BY 1, 2),
         tr AS (SELECT user_id AS tid, x AS xt, y AS yt FROM per
                WHERE treated),
         ct AS (SELECT user_id AS cid, x AS xc, y AS yc FROM per
                WHERE NOT treated),
         cand AS (
           SELECT tid, xt, yt, cid, xc, yc
           FROM tr JOIN ct ON abs(xt - xc) <= 2),
         matched AS (
           SELECT tid, yt, yc, xt, xc,
                  row_number() OVER (PARTITION BY tid
                    ORDER BY abs(xt - xc), cid) AS rn
           FROM cand)
         SELECT (SELECT count(*) FROM tr)::BIGINT AS n_treated,
                count(*)::BIGINT AS n_matched,
                round(avg(yt - yc), 4) AS att_cents,
                round(avg(abs(xt - xc)), 4) AS mean_covariate_gap
         FROM matched WHERE rn = 1""",
    "q418_linkage_em" -> {
      // Two unrolled EM iterations over the agreement vectors.
      def lik(piX: String, mPre: String): String =
        (1 to 3).map(k =>
          s"pow($mPre$k, a$k) * pow(1 - $mPre$k, 1 - a$k)")
          .mkString(s"$piX * ", " * ", "")
      s"""WITH pairs AS (
           SELECT (a.p_brand = b.p_brand)::INT AS a1,
                  (a.p_type = b.p_type)::INT AS a2,
                  (abs(a.p_size - b.p_size) <= 2)::INT AS a3
           FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1),
         p0 AS (
           SELECT 0.1 AS pi, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
                  0.1 AS u1, 0.1 AS u2, 0.1 AS u3),
         e1 AS (
           SELECT a1, a2, a3,
                  (${lik("pi", "m")})
                  / ((${lik("pi", "m")}) + (${lik("(1 - pi)", "u")}))
                    AS g
           FROM pairs CROSS JOIN p0),
         p1 AS (
           SELECT sum(g) / count(*) AS pi,
                  sum(g * a1) / sum(g) AS m1,
                  sum(g * a2) / sum(g) AS m2,
                  sum(g * a3) / sum(g) AS m3,
                  sum((1 - g) * a1) / (count(*) - sum(g)) AS u1,
                  sum((1 - g) * a2) / (count(*) - sum(g)) AS u2,
                  sum((1 - g) * a3) / (count(*) - sum(g)) AS u3
           FROM e1),
         e2 AS (
           SELECT a1, a2, a3,
                  (${lik("pi", "m")})
                  / ((${lik("pi", "m")}) + (${lik("(1 - pi)", "u")}))
                    AS g
           FROM pairs CROSS JOIN p1),
         p2 AS (
           SELECT sum(g) / count(*) AS pi,
                  sum(g * a1) / sum(g) AS m1,
                  sum(g * a2) / sum(g) AS m2,
                  sum(g * a3) / sum(g) AS m3,
                  sum((1 - g) * a1) / (count(*) - sum(g)) AS u1,
                  sum((1 - g) * a2) / (count(*) - sum(g)) AS u2,
                  sum((1 - g) * a3) / (count(*) - sum(g)) AS u3
           FROM e2)
         SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_pairs,
                round(pi, 6) AS pi,
                round(m1, 6) AS m_brand, round(m2, 6) AS m_type,
                round(m3, 6) AS m_size,
                round(u1, 6) AS u_brand, round(u2, 6) AS u_type,
                round(u3, 6) AS u_size
         FROM p2"""
    }
  )
}


/** Round-9 batch AL (q508-q510) — inventory policy, inequality
  * decomposition, and stationarity testing:
  *
  *  - q508: safety-stock / reorder-point calculator — per-part daily
  *    demand moments over the FULL calendar span (absent days are
  *    zero demand, handled by dividing present-day sums by the
  *    global day count instead of densifying), reorder point =
  *    ⌈L·μ + 1.645·√(L·σ²)⌉ at 7-day lead time. The classic
  *    newsvendor-adjacent policy readout. One (part, day) aggregate
  *    + one part-grain aggregate; the day-span scalar broadcasts.
  *  - q509: Theil-T inequality decomposition of customer revenue
  *    into between-nation and within-nation components. Per-customer
  *    contributions r·ln r are floored to 1e-9 units BEFORE the
  *    corpus-wide sum (float-sum order cannot drift the result);
  *    ratios are exact-integer products (DECIMAL-lifted where they
  *    exceed 2^63) cast to double once. Between-group terms get the
  *    same integer-sum treatment over the ≤25 nation rows.
  *  - q510: (augmented-lite) Dickey-Fuller unit-root test on the
  *    daily revenue series: Δy_t = α + ρ·y_{t−1}, DF = ρ̂/se(ρ̂),
  *    compared to the 5% critical value −2.86. All OLS moments are
  *    exact integer cents sums (products of sums DECIMAL-lifted);
  *    SSE via Σz² − α̂Σz − ρ̂Σxz so no second pass over the data.
  *    Day-grain lag windows only.
  */
object Stationarity {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q508_safety_stock" -> ((s, d) => {
      val demand = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"),
          floor(unix_timestamp(col("l_shipdate")) / 86400L)
            .cast("long").as("day"),
          col("l_quantity").cast("long").as("q"))
      val span = demand.agg(
        (max(col("day")) - min(col("day")) + 1L).as("n_days"))
      val byDay = demand.groupBy(col("partkey"), col("day"))
        .agg(sum(col("q")).as("qd"))
      val perPart = byDay.groupBy(col("partkey"))
        .agg(count(lit(1)).as("active_days"),
          sum(col("qd")).as("total_qty"),
          sum(col("qd").cast("decimal(38,0)") * col("qd")).as("s2"))
      perPart.crossJoin(broadcast(span))
        .withColumn("mean", col("total_qty").cast("double")
          / col("n_days"))
        .withColumn("variance", col("s2").cast("double") / col("n_days")
          - col("mean") * col("mean"))
        .withColumn("rop_units",
          ceil(lit(7.0) * col("mean")
            + lit(1.645) * sqrt(lit(7.0) * col("variance")))
            .cast("long"))
        .orderBy(col("total_qty").desc, col("partkey").asc)
        .limit(10)
        .select(col("partkey"), col("total_qty"), col("active_days"),
          col("n_days"),
          floor(col("mean") * 1000).cast("long").as("mean_qty_milli"),
          col("rop_units"))
    }),

    "q509_theil_decomposition" -> ((s, d) => {
      val cust = t(s, d, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("y"))
        .join(t(s, d, "customer")
          .select(col("c_custkey").as("custkey"),
            col("c_nationkey").cast("long").as("nation")), Seq("custkey"))
      val cstats = graft.Stage(cust, "q509_cust")
      val tot = cstats.agg(count(lit(1)).as("nn"), sum(col("y")).as("yy"))
      // per-customer r·ln r floored to nano units, then exact int sum
      val total = cstats.crossJoin(broadcast(tot))
        .withColumn("r",
          (col("y").cast("decimal(38,0)") * col("nn")).cast("double")
            / col("yy").cast("double"))
        .withColumn("c_nano",
          floor(col("r") * log(col("r")) * 1e9).cast("long"))
        .agg(sum(col("c_nano")).as("sum_nano"),
          first(col("nn")).as("nn"))
        .select(col("nn"),
          floor(col("sum_nano").cast("double") / 1e9 / col("nn") * 1e6)
            .cast("long").as("theil_total_micro"))
      val grp = cstats.groupBy(col("nation"))
        .agg(count(lit(1)).as("ng"), sum(col("y")).as("yg"))
      val between = grp.crossJoin(broadcast(tot))
        .withColumn("rg",
          (col("yg").cast("decimal(38,0)") * col("nn")).cast("double")
            / (col("yy").cast("decimal(38,0)") * col("ng"))
              .cast("double"))
        .withColumn("b_nano",
          floor(col("ng").cast("double") / col("nn")
            * col("rg") * log(col("rg")) * 1e9).cast("long"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("b_nano")).as("sb_nano"))
        .select(col("n_groups"),
          floor(col("sb_nano").cast("double") / 1e9 * 1e6)
            .cast("long").as("theil_between_micro"))
      total.crossJoin(between)
        .select(col("nn").as("n_customers"), col("n_groups"),
          col("theil_total_micro"), col("theil_between_micro"),
          (col("theil_total_micro") - col("theil_between_micro"))
            .as("theil_within_micro"))
    }),

    "q510_adf_unit_root" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 86400L)
          .cast("long").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
      val wDay = Window.orderBy(col("day")) // calendar-bounded grain
      val lagged = daily
        .withColumn("x", lag(col("y"), 1).over(wDay))
        .filter(col("x").isNotNull)
        .withColumn("z", col("y") - col("x"))
      val sums = lagged.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"))
      sums
        .withColumn("den",
          (col("n").cast("decimal(38,0)") * col("sxx")
            - col("sx").cast("decimal(38,0)") * col("sx"))
            .cast("double"))
        .withColumn("rho",
          (col("n").cast("decimal(38,0)") * col("sxz")
            - col("sx").cast("decimal(38,0)") * col("sz"))
            .cast("double") / col("den"))
        .withColumn("alpha",
          (col("sz").cast("double") - col("rho") * col("sx").cast("double"))
            / col("n").cast("double"))
        .withColumn("sse",
          col("szz").cast("double") - col("alpha") * col("sz").cast("double")
            - col("rho") * col("sxz").cast("double"))
        .withColumn("df_stat", col("rho")
          / sqrt(col("sse") / (col("n") - 2).cast("double")
            * col("n").cast("double") / col("den")))
        .select(col("n").as("n_obs"),
          floor(col("rho") * 1e6).cast("long").as("rho_micro"),
          floor(col("df_stat") * 1000).cast("long").as("df_stat_milli"),
          when(col("df_stat") < -2.86, 1L).otherwise(0L)
            .as("stationary_5pct"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q508_safety_stock" ->
      """WITH demand AS (
           SELECT l_partkey AS partkey,
                  floor(epoch(l_shipdate::TIMESTAMP) / 86400)::BIGINT
                    AS day,
                  CAST(l_quantity AS BIGINT) AS q
           FROM lineitem),
         span AS (
           SELECT (max(day) - min(day) + 1)::BIGINT AS n_days
           FROM demand),
         by_day AS (
           SELECT partkey, day, sum(q)::BIGINT AS qd
           FROM demand GROUP BY partkey, day),
         per_part AS (
           SELECT partkey, count(*)::BIGINT AS active_days,
                  sum(qd)::BIGINT AS total_qty,
                  sum(qd::HUGEINT * qd) AS s2
           FROM by_day GROUP BY partkey)
         SELECT p.partkey, p.total_qty, p.active_days, s.n_days,
           floor(CAST(p.total_qty AS DOUBLE) / s.n_days * 1000)::BIGINT
             AS mean_qty_milli,
           ceil(7.0 * (CAST(p.total_qty AS DOUBLE) / s.n_days)
             + 1.645 * sqrt(7.0 * (CAST(p.s2 AS DOUBLE) / s.n_days
               - (CAST(p.total_qty AS DOUBLE) / s.n_days)
                 * (CAST(p.total_qty AS DOUBLE) / s.n_days))))::BIGINT
             AS rop_units
         FROM per_part p, span s
         ORDER BY p.total_qty DESC, p.partkey LIMIT 10""",

    "q509_theil_decomposition" ->
      """WITH cust AS (
           SELECT o.o_custkey AS custkey,
                  sum(floor(o.o_totalprice * 100)::BIGINT)::BIGINT
                    AS y,
                  any_value(c.c_nationkey)::BIGINT AS nation
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY o.o_custkey),
         tot AS (
           SELECT count(*)::BIGINT AS nn, sum(y)::BIGINT AS yy
           FROM cust),
         total AS (
           SELECT t.nn,
             floor(CAST(sum(floor(
               (CAST(c.y::HUGEINT * t.nn AS DOUBLE)
                  / CAST(t.yy AS DOUBLE))
               * ln(CAST(c.y::HUGEINT * t.nn AS DOUBLE)
                  / CAST(t.yy AS DOUBLE)) * 1e9)::BIGINT)
               AS DOUBLE) / 1e9 / t.nn * 1e6)::BIGINT
               AS theil_total_micro
           FROM cust c, tot t GROUP BY t.nn),
         grp AS (
           SELECT nation, count(*)::BIGINT AS ng, sum(y)::BIGINT AS yg
           FROM cust GROUP BY nation),
         between_t AS (
           SELECT count(*)::BIGINT AS n_groups,
             floor(CAST(sum(floor(
               CAST(g.ng AS DOUBLE) / t.nn
               * (CAST(g.yg::HUGEINT * t.nn AS DOUBLE)
                  / CAST(t.yy::HUGEINT * g.ng AS DOUBLE))
               * ln(CAST(g.yg::HUGEINT * t.nn AS DOUBLE)
                  / CAST(t.yy::HUGEINT * g.ng AS DOUBLE))
               * 1e9)::BIGINT) AS DOUBLE) / 1e9 * 1e6)::BIGINT
               AS theil_between_micro
           FROM grp g, tot t)
         SELECT t.nn AS n_customers, b.n_groups,
                tt.theil_total_micro, b.theil_between_micro,
                (tt.theil_total_micro - b.theil_between_micro)::BIGINT
                  AS theil_within_micro
         FROM tot t, total tt, between_t b""",

    "q510_adf_unit_root" ->
      """WITH daily AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS y
           FROM events GROUP BY 1),
         lagged AS (
           SELECT y, lag(y, 1) OVER (ORDER BY day) AS x
           FROM daily),
         lz AS (
           SELECT x, (y - x)::BIGINT AS z
           FROM lagged WHERE x IS NOT NULL),
         sums AS (
           SELECT count(*)::BIGINT AS n,
                  sum(x)::BIGINT AS sx, sum(z)::BIGINT AS sz,
                  sum(x::HUGEINT * z) AS sxz,
                  sum(x::HUGEINT * x) AS sxx,
                  sum(z::HUGEINT * z) AS szz
           FROM lz),
         fit AS (
           SELECT n,
             CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE)
               AS den,
             CAST(n::HUGEINT * sxz - sx::HUGEINT * sz AS DOUBLE)
               / CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE)
               AS rho,
             sx, sz, sxz, szz
           FROM sums),
         fit2 AS (
           SELECT n, den, rho,
             (CAST(sz AS DOUBLE) - rho * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS alpha,
             sz, sxz, szz
           FROM fit),
         fit3 AS (
           SELECT n, den, rho,
             CAST(szz AS DOUBLE) - alpha * CAST(sz AS DOUBLE)
               - rho * CAST(sxz AS DOUBLE) AS sse
           FROM fit2),
         df AS (
           SELECT n, rho,
             rho / sqrt(sse / CAST(n - 2 AS DOUBLE)
               * CAST(n AS DOUBLE) / den) AS df_stat
           FROM fit3)
         SELECT n AS n_obs,
                floor(rho * 1e6)::BIGINT AS rho_micro,
                floor(df_stat * 1000)::BIGINT AS df_stat_milli,
                (CASE WHEN df_stat < -2.86 THEN 1 ELSE 0 END)::BIGINT
                  AS stationary_5pct
         FROM df"""
  )
}
