package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch AB (q478-q480) — reporting + data-hygiene staples:
  *
  *  - q478: calendar densification — materialize the FULL (type x
  *    day) grid (calendar sequence() cross type dim, both
  *    dimension-sized), left-join the sparse daily aggregate, fill
  *    zeros, then day-over-day deltas on the dense series. The
  *    missing-row deltas are exactly what sparse MoM reports get
  *    wrong; windows run on the dense (bounded) grid.
  *  - q479: frequency capping — keep at most 3 events per
  *    (user, type, day), audit kept/dropped counts per type
  *    (training-data dedup/capping stage; one per-key row_number).
  *  - q480: two-way ledger reconciliation — recompute each order's
  *    total from its lineitems (extended * (1-disc) * (1+tax), cent
  *    arithmetic) and classify vs o_totalprice within a 1-dollar
  *    tolerance. The synthetic fixture deliberately does NOT satisfy
  *    the TPC-H identity, so the report's value is the drift
  *    quantification (counts + max drift per priority class) — the
  *    audit a real ledger migration runs. One join, one keyed
  *    aggregate.
  */
object Hygiene {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q478_densify_calendar" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("rev"), count(lit(1)).as("n"))
      val bounds = ev.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      val types = ev.select(col("event_type")).distinct()
      val grid = types.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val dense = grid.join(daily, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("rev", "n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      dense
        .withColumn("delta", col("rev") - lag(col("rev"), 1).over(w))
        .filter(col("delta").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("n") === 0, 1L).otherwise(0L))
            .as("zero_filled_days"),
          max(abs(col("delta"))).as("max_abs_delta"),
          sum(when(col("delta") > 0, 1L).otherwise(0L)).as("up_days"))
        .orderBy(col("event_type"))
    }),

    "q479_frequency_cap" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"))
      val w = Window.partitionBy(col("user_id"), col("event_type"),
        col("day")).orderBy(col("ts"), col("event_id"))
      ev.withColumn("seq", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("seq") <= 3, 1L).otherwise(0L)).as("kept"),
          sum(when(col("seq") > 3, 1L).otherwise(0L)).as("dropped"),
          max(col("seq")).cast("long").as("worst_burst"))
        .withColumn("drop_ppm",
          expr("dropped * 1000000 DIV n_events"))
        .orderBy(col("event_type"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    "q478_densify_calendar" ->
      """WITH ev AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  floor(value * 100)::BIGINT AS cents
           FROM events),
         daily AS (
           SELECT event_type, day, sum(cents)::BIGINT AS rev,
                  count(*)::BIGINT AS n
           FROM ev GROUP BY event_type, day),
         bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
         grid AS (
           SELECT t.event_type, g.day::BIGINT AS day
           FROM (SELECT DISTINCT event_type FROM ev) t
           CROSS JOIN (SELECT unnest(generate_series(
             (SELECT d0 FROM bounds), (SELECT d1 FROM bounds))) AS day)
             g),
         dense AS (
           SELECT grid.event_type, grid.day,
                  coalesce(daily.rev, 0)::BIGINT AS rev,
                  coalesce(daily.n, 0)::BIGINT AS n
           FROM grid LEFT JOIN daily
             ON grid.event_type = daily.event_type
            AND grid.day = daily.day),
         lagged AS (
           SELECT event_type, day, rev, n,
                  rev - lag(rev, 1) OVER (PARTITION BY event_type
                    ORDER BY day) AS delta
           FROM dense)
         SELECT event_type, count(*)::BIGINT AS n_days,
                sum(CASE WHEN n = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS zero_filled_days,
                max(abs(delta))::BIGINT AS max_abs_delta,
                sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)::BIGINT
                  AS up_days
         FROM lagged WHERE delta IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",

    "q479_frequency_cap" ->
      """WITH ev AS (
           SELECT user_id, event_type, event_id, ts::TIMESTAMP AS ts,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day
           FROM events),
         seqd AS (
           SELECT event_type,
                  row_number() OVER (PARTITION BY user_id, event_type,
                    day ORDER BY ts, event_id) AS seq
           FROM ev)
         SELECT event_type, count(*)::BIGINT AS n_events,
                sum(CASE WHEN seq <= 3 THEN 1 ELSE 0 END)::BIGINT
                  AS kept,
                sum(CASE WHEN seq > 3 THEN 1 ELSE 0 END)::BIGINT
                  AS dropped,
                max(seq)::BIGINT AS worst_burst,
                ((sum(CASE WHEN seq > 3 THEN 1 ELSE 0 END) * 1000000)
                  // count(*))::BIGINT AS drop_ppm
         FROM seqd GROUP BY event_type ORDER BY event_type""",

    "q480_order_reconciliation" ->
      """WITH li AS (
           SELECT l_orderkey,
                  sum(floor(l_extendedprice * (1.0 - l_discount)
                    * (1.0 + l_tax) * 100)::BIGINT)::BIGINT
                    AS computed_cents
           FROM lineitem GROUP BY l_orderkey),
         o AS (
           SELECT o_orderkey, o_orderpriority,
                  floor(o_totalprice * 100)::BIGINT AS stated_cents
           FROM orders),
         j AS (
           SELECT o.o_orderpriority, o.stated_cents,
                  li.computed_cents,
                  abs(coalesce(li.computed_cents, 0) - o.stated_cents)
                    AS drift
           FROM o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
         SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
                sum(CASE WHEN computed_cents IS NULL THEN 1 ELSE 0
                    END)::BIGINT AS no_lines,
                sum(CASE WHEN drift <= 100
                         AND computed_cents IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS matched,
                sum(CASE WHEN drift > 100
                         AND computed_cents IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS mismatched,
                max(CASE WHEN computed_cents IS NOT NULL
                    THEN drift END)::BIGINT AS max_drift_cents
         FROM j GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""
  )
}

/** Round-9 batch AX (q544-q546) — recursive-state estimation and
  * sketch-based cardinality estimation (public algorithms: the scalar
  * Kalman filter [Kalman 1960], Croston's intermittent-demand method
  * [Croston 1972], and the AMS F2 sketch [Alon-Matias-Szegedy 1996];
  * reference surface: the time-series UDTF family and the query
  * optimizer's cardinality estimation in QueryEngine/).
  *
  * All three follow the repo's established recursive-state discipline
  * (q363/q409): state is INTEGER-quantized (milli units / ppm gains) so
  * Spark's `aggregate()` fold and DuckDB's recursive CTE cannot drift
  * in float representation, and the fold runs over DAY-GRAIN arrays
  * that are bounded by the calendar, never the corpus — the 100 TB
  * shape is a pre-aggregation shuffle to (series, day), then per-series
  * arrays of ≤ a-few-thousand elements.
  *
  *  - q544: scalar Kalman local-level filter per event_type daily
  *    revenue (Q=50, R=20000 in milli² units): gain in exact integer
  *    ppm, level/variance in milli; emits the converged posterior
  *    variance and next-step gain. The variance recursion converges to
  *    p* ≈ √(QR) regardless of data, which the spec pins.
  *  - q545: Croston's method over intermittent category demand —
  *    nonzero-demand days only, halving EWMA (α=0.5) of demand size
  *    and inter-arrival gap, forecast = size/interval in milli-units
  *    per day. Same fold, state (size, interval, last_day).
  *  - q546: AMS/tug-of-war F2 sketch — the self-join-size estimator
  *    every optimizer needs: 16 independent ±1 sign sketches of
  *    lineitem's partkey frequency vector via a two-step Lehmer hash
  *    ((k·48271 + m·16807) mod p, then ·48271 mod p, p = 2³¹−1 —
  *    magnitudes stay < 2⁶³ so DuckDB's checked BIGINT and Spark's
  *    wrapping BIGINT agree), estimate = mean of squared sketch sums,
  *    reported next to the exact Σf² with error in ppm. Map-side
  *    partial aggregation reduces each sketch to one row per copy —
  *    the shuffle is 16 rows regardless of corpus size.
  */
object Filters {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q544_kalman_level" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("m"))))
          .as("series"))
        .select(col("event_type"),
          transform(col("series"), x => x.getField("m")).as("arr"))
        .withColumn("n_days", size(col("arr")).cast("long"))
        // state (l = level milli, p = posterior variance milli²);
        // k = (p+Q)·1e6 DIV (p+Q+R) is exact integer ppm; the gain
        // appears twice per step so it is written out twice (Spark
        // HOF lambdas have no local bindings)
        .withColumn("state", expr(
          """aggregate(slice(arr, 2, int(n_days) - 1),
               named_struct('l', element_at(arr, 1), 'p', 20000L),
               (a, x) -> named_struct(
                 'l', a.l + cast(floor(
                        ((a.p + 50L) * 1000000L DIV (a.p + 50L + 20000L))
                        * (x - a.l) / 1000000.0) as bigint),
                 'p', cast(floor(
                        (1000000L - ((a.p + 50L) * 1000000L
                           DIV (a.p + 50L + 20000L)))
                        * (a.p + 50L) / 1000000.0) as bigint)))"""))
        .select(col("event_type"), col("n_days"),
          col("state.l").as("level_milli"),
          col("state.p").as("p_var_milli2"),
          expr("""(state.p + 50L) * 1000000L
                  DIV (state.p + 50L + 20000L)""").as("next_gain_ppm"))
    }),

    "q545_croston_demand" -> ((s, d) => {
      val daily = t(s, d, "lineitem")
        .select((col("l_partkey") % 500).cast("long").as("cat"),
          floor(unix_timestamp(col("l_shipdate")) / 86400L)
            .cast("long").as("day"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("cat"), col("day"))
        .agg(sum(col("q")).as("q"))
      daily.groupBy(col("cat"))
        .agg(sort_array(collect_list(struct(col("day"), col("q"))))
          .as("arr"))
        .withColumn("n_demands", size(col("arr")).cast("long"))
        // state (z = EWMA demand size, v = EWMA inter-arrival days,
        // last = previous demand day); α = 0.5 halving, interval
        // prior 7 days
        .withColumn("state", expr(
          """aggregate(slice(arr, 2, int(n_demands) - 1),
               named_struct(
                 'z', element_at(arr, 1).q, 'v', 7L,
                 'last', element_at(arr, 1).day),
               (a, x) -> named_struct(
                 'z', cast(floor((a.z + x.q) / 2.0) as bigint),
                 'v', cast(floor((a.v + (x.day - a.last)) / 2.0)
                        as bigint),
                 'last', x.day))"""))
        .select(col("cat"), col("n_demands"),
          col("state.z").as("size_est"),
          col("state.v").as("interval_est_days"),
          expr("""cast(floor(state.z * 1000.0
                  / greatest(state.v, 1L)) as bigint)""")
            .as("rate_milli_per_day"))
        .orderBy(col("cat"))
    }),

    "q546_ams_f2_sketch" -> ((s, d) => {
      val base = t(s, d, "lineitem")
        .select(col("l_partkey").cast("long").as("k"))
      val ms = broadcast(s.range(16).select(col("id").as("m")))
      // splitmix-style avalanche: a LINEAR hash's parity alternates
      // with consecutive keys and the sketch sums cancel to ~0 (seen
      // empirically: est 12× under exact); two xor-shift-multiply
      // rounds break the linearity. All magnitudes < 2⁶³.
      val sketches = base.crossJoin(ms)
        .withColumn("h0",
          expr("""((k % 2147483648L) * 2654435761L
            + m * 2246822519L) & 4294967295L"""))
        .withColumn("h1", expr(
          "((h0 ^ shiftright(h0, 16)) * 73244475L) & 4294967295L"))
        .withColumn("h2", expr(
          "((h1 ^ shiftright(h1, 16)) * 73244475L) & 4294967295L"))
        .select(col("m"), (lit(1L) - lit(2L) *
          expr("(h2 ^ shiftright(h2, 16)) % 2L")).as("sg"))
        .groupBy(col("m"))
        .agg(sum(col("sg")).as("sm"))
        .select(col("m"), (col("sm") * col("sm")).as("est"))
      val exact = base.groupBy(col("k"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("exact_f2"),
          sum(col("c")).as("n_rows"))
      sketches.agg(expr("sum(est) DIV 16").as("est_mean"))
        .crossJoin(broadcast(exact))
        .select(col("n_rows"), col("exact_f2"), col("est_mean"),
          expr("""abs(est_mean - exact_f2) * 1000000
                  DIV exact_f2""").as("err_ppm"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q544_kalman_level" ->
      // recursive CTE, not list_reduce (q363's DuckDB adjudication)
      """WITH RECURSIVE daily AS (
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
                  arr[1]::BIGINT AS l, 20000::BIGINT AS p
           FROM ser
           UNION ALL
           SELECT event_type, arr, n_days, t + 1,
                  l + cast(floor(k * (arr[(t + 1)::INT]::BIGINT - l)
                    / 1000000.0) as bigint),
                  cast(floor((1000000 - k) * pp / 1000000.0) as bigint)
           FROM (
             SELECT *, p + 50 AS pp,
                    (p + 50) * 1000000 // (p + 50 + 20000) AS k
             FROM fold WHERE t < n_days)),
         done AS (SELECT * FROM fold WHERE t = n_days)
         SELECT event_type, n_days, l AS level_milli,
                p AS p_var_milli2,
                ((p + 50) * 1000000 // (p + 50 + 20000))::BIGINT
                  AS next_gain_ppm
         FROM done""",

    "q545_croston_demand" ->
      """WITH RECURSIVE daily AS (
           SELECT (l_partkey % 500)::BIGINT AS cat,
                  floor(epoch(l_shipdate::TIMESTAMP) / 86400)::BIGINT
                    AS day,
                  sum(l_quantity::BIGINT)::BIGINT AS q
           FROM lineitem GROUP BY 1, 2),
         ser AS (
           SELECT cat, list(day ORDER BY day) AS days,
                  list(q ORDER BY day) AS qs,
                  count(*)::BIGINT AS n_demands
           FROM daily GROUP BY cat),
         fold AS (
           SELECT cat, days, qs, n_demands, 1::BIGINT AS t,
                  qs[1]::BIGINT AS z, 7::BIGINT AS v,
                  days[1]::BIGINT AS lastd
           FROM ser
           UNION ALL
           SELECT cat, days, qs, n_demands, t + 1,
                  cast(floor((z + qs[(t + 1)::INT]::BIGINT) / 2.0)
                    as bigint),
                  cast(floor((v + (days[(t + 1)::INT]::BIGINT - lastd))
                    / 2.0) as bigint),
                  days[(t + 1)::INT]::BIGINT
           FROM fold WHERE t < n_demands),
         done AS (SELECT * FROM fold WHERE t = n_demands)
         SELECT cat, n_demands, z AS size_est,
                v AS interval_est_days,
                cast(floor(z * 1000.0 / greatest(v, 1)) as bigint)
                  AS rate_milli_per_day
         FROM done ORDER BY cat""",

    "q546_ams_f2_sketch" ->
      """WITH base AS (
           SELECT l_partkey::BIGINT AS k FROM lineitem),
         ms AS (SELECT range::BIGINT AS m FROM range(16)),
         sketches AS (
           SELECT m, sum(1 - 2 * (xor(h2, h2 >> 16) % 2))::BIGINT AS sm
           FROM (
             SELECT m,
                    (xor(h1, h1 >> 16) * 73244475) & 4294967295 AS h2
             FROM (
               SELECT m,
                      (xor(h0, h0 >> 16) * 73244475) & 4294967295 AS h1
               FROM (
                 SELECT m, ((k % 2147483648) * 2654435761
                        + m * 2246822519) & 4294967295 AS h0
                 FROM base, ms)))
           GROUP BY m),
         exact AS (
           SELECT sum(c * c)::BIGINT AS exact_f2,
                  sum(c)::BIGINT AS n_rows
           FROM (SELECT k, count(*)::BIGINT AS c FROM base
                 GROUP BY k)),
         est AS (
           SELECT (sum(sm::BIGINT * sm) // 16)::BIGINT AS est_mean
           FROM sketches)
         SELECT n_rows, exact_f2, est_mean,
                (abs(est_mean - exact_f2) * 1000000 // exact_f2)
                  ::BIGINT AS err_ppm
         FROM est, exact"""
  )
}


/** Round-9 batch BD (q562-q564) — density outliers, survey
  * allocation, and SLO burn alerting (public algorithms: k-NN
  * distance outlier scoring in the LOF family [Breunig et al. 2000,
  * the k-distance ratio simplification], Neyman optimal allocation
  * [Neyman 1934] with Hamilton rounding, and multi-window burn-rate
  * alerts [Google SRE Workbook ch. 5]):
  *
  *  - q562: embedding outlier gate — within-cluster (label) squared
  *    L2 in integer micro (sequential-fold double, then one floor —
  *    the q202 discipline), each point's 5th-NN distance, scored
  *    against the cluster's lower-median 5th-NN distance in ppm.
  *    Round-10: the all-pairs join (and its round-9 1024-member
  *    truncation cap) is replaced by a deterministic SampleSize-member
  *    REFERENCE SAMPLE per cluster (lowest multiplicative-hash rank
  *    of vec_id — the sampled-kNN outlier scheme of Sugiyama &
  *    Borgwardt, NeurIPS 2013): every member is scored against the
  *    sample, so pair work is n·SampleSize (linear) and membership
  *    never truncates. For clusters ≤ SampleSize the sample is the
  *    whole cluster and the statistic is the exact full kNN (the
  *    regime of q562's natural labels); above it the 5th-NN-of-sample
  *    is a quantile ESTIMATE whose error SampleSize bounds — see the
  *    derivation at SampleSize. q582 pins that estimate regime: the
  *    same statistic over labels coalesced mod 5 (~100-member
  *    clusters at sf0.01, >SampleSize), the hash-keyed sample
  *    replayed exactly by the DuckDB oracle, with the witnessed
  *    cluster size in the hashed output. The vector-quality filter a
  *    dedup pipeline runs before SemDeDup.
  *  - q563: Neyman allocation — per-stratum σ from exact integer
  *    moments, allocation n_h ∝ N_h·σ_h for a budget of 1000 probes,
  *    integerized by largest-remainder (the q462 Hamilton machinery
  *    applied to survey design). Strata are schema-bounded.
  *  - q564: SLO burn-rate alerts — hourly error ratios vs a 25%
  *    budget, 1 h and 6 h windows, page when the fast window burns
  *    ≥ 2× AND the slow window ≥ 1× (the multi-window pattern that
  *    suppresses blips without missing slow burns). Exact integer
  *    cross-multiplication (burn_milli = errs·4000 DIV tot); hour
  *    grain is calendar-bounded.
  */
object Outliers {

  type Q = (SparkSession, String) => DataFrame

  /** Reference-sample size for the sampled-kNN outlier statistic.
    * Derivation (why 64): scoring a member against an s-point uniform
    * sample of its cluster makes the reported 5th-NN-of-sample
    * distance the empirical (5/s)-quantile of that member's distance
    * distribution to the cluster. By Dvoretzky-Kiefer-Wolfowitz, the
    * empirical CDF of s iid draws is within ε of the truth everywhere
    * with probability ≥ 1 − 2·exp(−2sε²), i.e. s ≥ ln(2/δ)/(2ε²).
    * s = 64 gives ε ≈ 0.17 at δ = 0.05 (and ε ≈ 0.15 at δ = 0.10):
    * the reported distance is bracketed by the cluster's true
    * ~(5/64 ± ε)-quantile distances — tight enough to rank gross
    * density outliers (whose 5th-NN distance sits far in the upper
    * tail) while keeping pair work linear (n·s). A tighter ε halves
    * as s quadruples; raise s here if a future gate needs it.
    * [Sugiyama & Borgwardt, NeurIPS 2013 — sampled-kNN outlier
    * scoring; DKW 1956/Massart 1990 — the constant.]
    */
  private val SampleSize = 64

  val queries: Seq[(String, Q)] = Seq(

    "q562_knn_outlier_gate" -> ((s, d) => {
      // deterministic SampleSize-member reference sample per cluster
      // (lowest splitmix-style hash of vec_id): every member scores
      // against the sample → n·SampleSize pairs, linear in cluster
      // size, zero membership truncation [Sugiyama-Borgwardt 2013]
      val wS = Window.partitionBy(col("label"))
        .orderBy(col("h"), col("vec_id"))
      val vecs = graft.Stage(t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("x"))
        .withColumn("h",
          expr("((vec_id % 2147483648L) * 2654435761L) & 4294967295L"))
        .withColumn("sr", row_number().over(wS)), "q562_vecs")
      val a = vecs.select(col("label"), col("vec_id").as("ia"),
        col("x").as("xa"))
      val b = vecs.filter(col("sr") <= SampleSize)
        .select(col("label"), col("vec_id").as("ib"),
          col("x").as("xb"))
      val d2 = a.join(b, Seq("label"))
        .filter(col("ia") =!= col("ib"))
        .select(col("label"), col("ia"), col("ib"),
          floor(aggregate(zip_with(col("xa"), col("xb"),
            (u, v) => (u - v) * (u - v)), lit(0.0), _ + _)
            * 1e6 + 0.5).cast("long").as("d2m"))
      val wNN = Window.partitionBy(col("label"), col("ia"))
        .orderBy(col("d2m"), col("ib"))
      val dk = graft.Stage(d2
        .withColumn("rn", row_number().over(wNN))
        .filter(col("rn") === 5)
        .select(col("label"), col("ia"), col("d2m").as("dk")),
        "q562_dk")
      val wMed = Window.partitionBy(col("label"))
        .orderBy(col("dk"), col("ia"))
      val nLab = dk.groupBy(col("label"))
        .agg(count(lit(1)).as("nl"))
      val med = dk.withColumn("mrn", row_number().over(wMed))
        .join(broadcast(nLab), Seq("label"))
        .filter(col("mrn") === expr("(nl + 1) DIV 2"))
        .select(col("label"), col("dk").as("med_dk"))
      val scored = dk.join(broadcast(med), Seq("label"))
        .select(col("label"), col("ia").as("vec_id"), col("dk"),
          expr("dk * 1000000 DIV greatest(med_dk, 1)")
            .as("score_ppm"))
      val wAll = Window.orderBy(col("score_ppm").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(wAll))
        .filter(col("rk") <= 10)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("dk").as("dk_d2_micro"), col("score_ppm"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("rk"))
    }),

    // The ESTIMATE regime of q562's sampled-kNN statistic (round-11,
    // closing VERDICT r10 "what's wrong" #1): labels coalesced mod 5
    // give ~100-member clusters at sf0.01 — ABOVE SampleSize, so the
    // 5th-NN-of-sample is a genuine quantile estimate, not the exact
    // kNN. The hash-keyed sample replays exactly in the DuckDB oracle
    // (both engines rank the same multiplicative hash), and the hashed
    // output carries each cluster's member count so the gate WITNESSES
    // that the sampled branch ran (n_members > SampleSize). Error
    // bound: see SampleSize (DKW: ε ≈ 0.17 at δ = 0.05 for s = 64).
    "q582_knn_outlier_sampled" -> ((s, d) => {
      val wS = Window.partitionBy(col("label2"))
        .orderBy(col("h"), col("vec_id"))
      val vecs = graft.Stage(t(s, d, "embeddings")
        .select(col("vec_id"),
          (col("label") % 5).cast("long").as("label2"),
          transform(col("embedding"), _.cast("double")).as("x"))
        .withColumn("h",
          expr("((vec_id % 2147483648L) * 2654435761L) & 4294967295L"))
        .withColumn("sr", row_number().over(wS)), "q582_vecs")
      val nMem = vecs.groupBy(col("label2"))
        .agg(count(lit(1)).as("n_members"))
      val a = vecs.select(col("label2"), col("vec_id").as("ia"),
        col("x").as("xa"))
      val b = vecs.filter(col("sr") <= SampleSize)
        .select(col("label2"), col("vec_id").as("ib"),
          col("x").as("xb"))
      val d2 = a.join(b, Seq("label2"))
        .filter(col("ia") =!= col("ib"))
        .select(col("label2"), col("ia"), col("ib"),
          floor(aggregate(zip_with(col("xa"), col("xb"),
            (u, v) => (u - v) * (u - v)), lit(0.0), _ + _)
            * 1e6 + 0.5).cast("long").as("d2m"))
      val wNN = Window.partitionBy(col("label2"), col("ia"))
        .orderBy(col("d2m"), col("ib"))
      val dk = graft.Stage(d2
        .withColumn("rn", row_number().over(wNN))
        .filter(col("rn") === 5)
        .select(col("label2"), col("ia"), col("d2m").as("dk")),
        "q582_dk")
      val wMed = Window.partitionBy(col("label2"))
        .orderBy(col("dk"), col("ia"))
      val nLab = dk.groupBy(col("label2"))
        .agg(count(lit(1)).as("nl"))
      val med = dk.withColumn("mrn", row_number().over(wMed))
        .join(broadcast(nLab), Seq("label2"))
        .filter(col("mrn") === expr("(nl + 1) DIV 2"))
        .select(col("label2"), col("dk").as("med_dk"))
      val scored = dk.join(broadcast(med), Seq("label2"))
        .select(col("label2"), col("ia").as("vec_id"), col("dk"),
          expr("dk * 1000000 DIV greatest(med_dk, 1)")
            .as("score_ppm"))
      val wAll = Window.orderBy(col("score_ppm").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(wAll))
        .filter(col("rk") <= 10)
        .join(broadcast(nMem), Seq("label2"))
        .select(col("vec_id"), col("label2"),
          col("n_members"), col("dk").as("dk_d2_micro"),
          col("score_ppm"), col("rk").cast("long").as("rk"))
        .orderBy(col("rk"))
    }),

    "q563_neyman_allocation" -> ((s, d) => {
      val strata = t(s, d, "events")
        .select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("xm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nh"),
          sum(col("xm")).as("sx"),
          // the Σx² SUM itself in DECIMAL(38,0): DuckDB sum(BIGINT)
          // widens to HUGEINT, so past ~20M milli-scaled rows an
          // int64 Spark sum aborts while the oracle still runs
          sum(col("xm").cast("decimal(38,0)") * col("xm")).as("sx2"))
        .select(col("event_type"), col("nh"),
          // moments in DECIMAL(38,0): nh·Σx² overflows int64 once a
          // stratum holds ~2M milli-scaled rows (seen at the sf1 proof)
          expr("""CAST(floor(sqrt(CAST(CAST(nh AS DECIMAL(38,0))
                  * CAST(sx2 AS DECIMAL(38,0))
                  - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                  / CAST(nh * (nh - 1) AS DOUBLE))) AS BIGINT)""")
            .as("sigma_milli"))
        .withColumn("wh", col("nh") * col("sigma_milli"))
      val tot = strata.agg(sum(col("wh")).as("tw"))
      val base = strata.crossJoin(broadcast(tot))
        .select(col("event_type"), col("nh"), col("sigma_milli"),
          expr("wh * 1000 DIV tw").as("base"),
          expr("wh * 1000 % tw").as("rem"))
      val used = base.agg(sum(col("base")).as("ub"))
      val wRem = Window.orderBy(col("rem").desc, col("event_type"))
      base.crossJoin(broadcast(used))
        .withColumn("rr", row_number().over(wRem))
        .select(col("event_type"), col("nh"), col("sigma_milli"),
          (col("base") + when(col("rr") <= lit(1000L) - col("ub"), 1L)
            .otherwise(0L)).as("alloc"))
        .orderBy(col("event_type"))
    }),

    "q564_slo_burn_alerts" -> ((s, d) => {
      val hourly = graft.Stage(t(s, d, "events")
        .select(floor(unix_timestamp(col("ts")) / 3600L).cast("long")
          .as("hr"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("e"))
        .groupBy(col("hr"))
        .agg(sum(col("e")).as("errs"), count(lit(1)).as("tot")),
        "q564_hourly")
      val w6 = Window.orderBy(col("hr")).rangeBetween(-5L, 0L)
      hourly
        .withColumn("errs6", sum(col("errs")).over(w6))
        .withColumn("tot6", sum(col("tot")).over(w6))
        .select(col("hr"), col("errs"), col("tot"),
          expr("errs * 4000 DIV tot").as("burn1_milli"),
          expr("errs6 * 4000 DIV tot6").as("burn6_milli"))
        .withColumn("page",
          when(col("burn1_milli") >= 2000L
            && col("burn6_milli") >= 1000L, 1L).otherwise(0L))
        .filter(col("page") === 1L)
        .orderBy(col("hr"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q562_knn_outlier_gate" ->
      """WITH vecs AS (
           SELECT vec_id, label, x, sr FROM (
             SELECT vec_id, label,
                    list_transform(embedding, e -> CAST(e AS DOUBLE))
                      AS x,
                    ((vec_id % 2147483648) * 2654435761)
                      & 4294967295 AS h,
                    row_number() OVER (PARTITION BY label
                      ORDER BY ((vec_id % 2147483648) * 2654435761)
                        & 4294967295, vec_id) AS sr
             FROM embeddings)),
         d2 AS (
           SELECT a.label, a.vec_id AS ia, b.vec_id AS ib,
                  floor(list_aggregate(list_transform(
                    list_zip(a.x, b.x),
                    z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum')
                    * 1e6 + 0.5)::BIGINT AS d2m
           FROM vecs a JOIN vecs b
             ON a.label = b.label AND a.vec_id <> b.vec_id
           WHERE b.sr <= 64),
         dk AS (
           SELECT label, ia, d2m AS dk FROM (
             SELECT label, ia, d2m,
                    row_number() OVER (PARTITION BY label, ia
                      ORDER BY d2m, ib) AS rn
             FROM d2)
           WHERE rn = 5),
         med AS (
           SELECT label, dk AS med_dk FROM (
             SELECT label, dk,
                    row_number() OVER (PARTITION BY label
                      ORDER BY dk, ia) AS mrn,
                    count(*) OVER (PARTITION BY label) AS nl
             FROM dk)
           WHERE mrn = (nl + 1) // 2),
         scored AS (
           SELECT d.label, d.ia AS vec_id, d.dk,
                  (d.dk * 1000000 // greatest(m.med_dk, 1))::BIGINT
                    AS score_ppm
           FROM dk d JOIN med m ON d.label = m.label),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY score_ppm DESC,
                    vec_id) AS rk
           FROM scored)
         SELECT vec_id, label::BIGINT AS label,
                dk AS dk_d2_micro, score_ppm, rk::BIGINT AS rk
         FROM ranked WHERE rk <= 10 ORDER BY rk""",

    "q582_knn_outlier_sampled" ->
      """WITH vecs AS (
           SELECT vec_id, label2, x, sr FROM (
             SELECT vec_id, (label % 5)::BIGINT AS label2,
                    list_transform(embedding, e -> CAST(e AS DOUBLE))
                      AS x,
                    row_number() OVER (PARTITION BY (label % 5)
                      ORDER BY ((vec_id % 2147483648) * 2654435761)
                        & 4294967295, vec_id) AS sr
             FROM embeddings)),
         nmem AS (
           SELECT label2, count(*)::BIGINT AS n_members
           FROM vecs GROUP BY label2),
         d2 AS (
           SELECT a.label2, a.vec_id AS ia, b.vec_id AS ib,
                  floor(list_aggregate(list_transform(
                    list_zip(a.x, b.x),
                    z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum')
                    * 1e6 + 0.5)::BIGINT AS d2m
           FROM vecs a JOIN vecs b
             ON a.label2 = b.label2 AND a.vec_id <> b.vec_id
           WHERE b.sr <= 64),
         dk AS (
           SELECT label2, ia, d2m AS dk FROM (
             SELECT label2, ia, d2m,
                    row_number() OVER (PARTITION BY label2, ia
                      ORDER BY d2m, ib) AS rn
             FROM d2)
           WHERE rn = 5),
         med AS (
           SELECT label2, dk AS med_dk FROM (
             SELECT label2, dk,
                    row_number() OVER (PARTITION BY label2
                      ORDER BY dk, ia) AS mrn,
                    count(*) OVER (PARTITION BY label2) AS nl
             FROM dk)
           WHERE mrn = (nl + 1) // 2),
         scored AS (
           SELECT d.label2, d.ia AS vec_id, d.dk,
                  (d.dk * 1000000 // greatest(m.med_dk, 1))::BIGINT
                    AS score_ppm
           FROM dk d JOIN med m ON d.label2 = m.label2),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY score_ppm DESC,
                    vec_id) AS rk
           FROM scored)
         SELECT r.vec_id, r.label2, n.n_members,
                r.dk AS dk_d2_micro, r.score_ppm, r.rk::BIGINT AS rk
         FROM ranked r JOIN nmem n ON r.label2 = n.label2
         WHERE r.rk <= 10 ORDER BY r.rk""",

    "q563_neyman_allocation" ->
      """WITH strata AS (
           SELECT event_type, count(*)::BIGINT AS nh,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS sx,
                  sum(floor(value * 1000)::HUGEINT
                      * floor(value * 1000)::BIGINT) AS sx2
           FROM events GROUP BY event_type),
         sig AS (
           SELECT event_type, nh,
                  CAST(floor(sqrt(CAST(nh::HUGEINT * sx2
                    - sx::HUGEINT * sx AS DOUBLE)
                    / CAST(nh * (nh - 1) AS DOUBLE))) AS BIGINT)
                    AS sigma_milli
           FROM strata),
         wts AS (
           SELECT *, (nh * sigma_milli)::BIGINT AS wh FROM sig),
         tot AS (SELECT sum(wh)::BIGINT AS tw FROM wts),
         base AS (
           SELECT event_type, nh, sigma_milli,
                  (wh * 1000 // tw)::BIGINT AS base,
                  (wh * 1000 % tw)::BIGINT AS rem
           FROM wts, tot),
         used AS (SELECT sum(base)::BIGINT AS ub FROM base)
         SELECT event_type, nh, sigma_milli,
                (base + CASE WHEN row_number() OVER (
                    ORDER BY rem DESC, event_type) <= 1000 - ub
                  THEN 1 ELSE 0 END)::BIGINT AS alloc
         FROM base, used ORDER BY event_type""",

    "q564_slo_burn_alerts" ->
      """WITH hourly AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 3600)::BIGINT AS hr,
                  sum(CASE WHEN event_type = 'error' THEN 1
                      ELSE 0 END)::BIGINT AS errs,
                  count(*)::BIGINT AS tot
           FROM events GROUP BY 1),
         rolled AS (
           SELECT hr, errs, tot,
                  (errs * 4000 // tot)::BIGINT AS burn1_milli,
                  ((sum(errs) OVER w) * 4000
                    // (sum(tot) OVER w))::BIGINT AS burn6_milli
           FROM hourly
           WINDOW w AS (ORDER BY hr RANGE BETWEEN 5 PRECEDING
             AND CURRENT ROW))
         SELECT hr, errs, tot, burn1_milli, burn6_milli,
                1::BIGINT AS page
         FROM rolled
         WHERE burn1_milli >= 2000 AND burn6_milli >= 1000
         ORDER BY hr"""
  )
}


/** Round-9 batch AK (q505-q507) — long-range dependence, extreme
  * values, and coverage-maximizing selection:
  *
  *  - q505: Hurst exponent by rescaled-range (R/S) analysis of the
  *    hourly revenue series. Within each block of size s ∈ {8,16,32,
  *    64}, deviations are kept INTEGER by scaling: dev_i = s·x_i −
  *    Σx (so the block mean never becomes a float mid-computation);
  *    R/S = (max−min cumdev) / sqrt(s·Σx² − (Σx)²) touches doubles
  *    only at the final per-block scalar, floored to ppm before the
  *    cross-block average so engine sum order cannot drift. H is
  *    the 4-point log-log OLS slope. All windows run on the
  *    calendar-bounded day/block grain.
  *  - q506: greedy set-cover document selection — the classic
  *    coverage-maximizing subset pick for training-data curation
  *    (choose k docs whose union vocabulary is largest; greedy is
  *    the (1−1/e) approximation). 5 rounds, each one anti-join +
  *    keyed count + a SINGLE-ROW argmax to the driver (bounded);
  *    ties break to the smaller doc_id on both engines.
  *  - q507: Gumbel extreme-value fit on daily maxima of hourly
  *    revenue, method of moments (β = sd·√6/π, μ = mean − γβ), with
  *    10/52/365-block return levels — the capacity-
  *    planning readout (what daily peak to provision for). Moments
  *    from exact integer cents (squares DECIMAL-lifted); doubles
  *    only on the final bounded scalars.
  */
object Extremes {

  type Q = (SparkSession, String) => DataFrame

  private val EULER = 0.5772156649015329 // Euler-Mascheroni

  val queries: Seq[(String, Q)] = Seq(

    "q505_hurst_rs" -> ((s, d) => {
      // hourly grain: the fixture spans 30 days — 720 hourly points
      // give 11..90 full blocks per size; still calendar-bounded
      val hourly = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 3600L)
          .cast("long").as("hr"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
      val wHr = Window.orderBy(col("hr")) // hour grain, calendar-bounded
      val idx = hourly.withColumn("i", row_number().over(wHr) - 1)
      val sizes = Seq(8, 16, 32, 64)
      val perSize = sizes.map { bs =>
        val blocks = idx.withColumn("blk", expr(s"i DIV $bs"))
          .withColumn("j", col("i") % bs)
        val stats = blocks.groupBy(col("blk"))
          .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"),
            sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
          .filter(col("cnt") === bs) // full blocks only
        val wBlk = Window.partitionBy(col("blk")).orderBy(col("j"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val rs = blocks.join(stats, Seq("blk"))
          // integer deviations: dev = bs*x - sum(x); cum over ≤bs rows
          .withColumn("dev", lit(bs.toLong) * col("x") - col("sx"))
          .withColumn("cum", sum(col("dev")).over(wBlk))
          .groupBy(col("blk"), col("sx"), col("sxx"))
          .agg((greatest(max(col("cum")), lit(0L))
            - least(min(col("cum")), lit(0L))).as("r_int"))
          // R/S = (r_int/bs) / (sqrt(bs*sxx - sx^2)/bs) = r_int/sqrt(..)
          .withColumn("rs_ppm",
            floor(col("r_int").cast("double") * 1e6
              / sqrt((lit(bs.toLong).cast("decimal(38,0)") * col("sxx")
                - col("sx").cast("decimal(38,0)") * col("sx"))
                .cast("double"))).cast("long"))
        rs.agg(count(lit(1)).as("n_blocks"),
          sum(col("rs_ppm")).as("rs_sum"))
          .select(floor(col("rs_sum").cast("double") / col("n_blocks"))
            .cast("long").as(s"rs${bs}_ppm"))
      }
      // u = log2(s) is exactly {3,4,5,6}, so the OLS slope collapses
      // to the closed form (3*(w64-w8) + (w32-w16)) / 10 — fixed
      // operation order, no 4-row float-sum ambiguity across engines
      val one = perSize.reduce(_ crossJoin _)
      def w(bs: Int) = log(col(s"rs${bs}_ppm").cast("double") / 1e6)
      one.select(col("rs8_ppm"), col("rs16_ppm"), col("rs32_ppm"),
        col("rs64_ppm"),
        floor((lit(3.0) * (w(64) - w(8)) + (w(32) - w(16)))
          / 10.0 * 1e6).cast("long").as("hurst_ppm"))
    }),

    "q506_greedy_set_cover" -> ((s, d) => {
      // coverage universe = word bigrams (the fixture's unigram
      // vocabulary is 24 words — trivially covered by one doc); the
      // per-row zip keeps shingling shuffle-free (q283 pattern)
      val toks = graft.Stage(t(s, d, "documents")
        .select(col("doc_id"),
          split(lower(col("text")), " +").as("tk"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) < 2 THEN array()
             ELSE zip_with(slice(tk, 1, size(tk) - 1),
                           slice(tk, 2, size(tk) - 1),
                           (a, b) -> concat(a, ' ', b)) END""")).as("tok"))
        .distinct(), "q506_toks")
      var covered = toks.select(col("tok")).limit(0)
      var picked = Vector.empty[(Long, Long, Long)] // (step, doc, gain)
      var exhausted = false
      for (step <- 1 to 5 if !exhausted) {
        val marg = toks.join(covered, Seq("tok"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc_id").asc).limit(1)
          .collect() // bounded: at most one argmax row per round
        if (marg.isEmpty) exhausted = true // vocabulary fully covered
        else {
          val (doc, gain) = (marg.head.getLong(0), marg.head.getLong(1))
          picked :+= ((step.toLong, doc, gain))
          covered = covered.unionByName(
            toks.filter(col("doc_id") === doc).select(col("tok")))
        }
      }
      val spark = s
      import spark.implicits._
      val cum = picked.scanLeft(0L)(_ + _._3).tail
      picked.zip(cum).map { case ((st, doc, g), c) => (st, doc, g, c) }
        .toDF("step", "doc_id", "gain", "covered_total")
    }),

    "q507_gumbel_return_levels" -> ((s, d) => {
      // block maxima: per-day max of HOURLY revenue (the fixture
      // spans 30 days -> 30 blocks of 24 hourly observations)
      val dailyMax = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 3600L)
          .cast("long").as("hr"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
        .groupBy(expr("hr DIV 24").as("day"))
        .agg(max(col("x")).as("mx"))
      val m = dailyMax.agg(count(lit(1)).as("n"),
        sum(col("mx")).as("s1"),
        sum(col("mx").cast("decimal(38,0)") * col("mx")).as("s2"))
        .withColumn("mean", col("s1").cast("double") / col("n"))
        .withColumn("sd", sqrt(
          (col("n").cast("decimal(38,0)") * col("s2")
            - col("s1").cast("decimal(38,0)") * col("s1"))
            .cast("double"))
          / col("n").cast("double"))
        .withColumn("beta",
          col("sd") * math.sqrt(6.0) / math.Pi)
        .withColumn("mu", col("mean") - lit(EULER) * col("beta"))
      def rl(tt: Int) = floor(col("mu") - col("beta")
        * log(-log(lit(1.0) - lit(1.0) / tt))).cast("long")
        .as(s"rl_${tt}_cents")
      m.select(col("n").as("n_blocks"),
        floor(col("mu")).cast("long").as("mu_cents"),
        floor(col("beta")).cast("long").as("beta_cents"),
        rl(10), rl(52), rl(365))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q505_hurst_rs" -> {
      val per = Seq(8, 16, 32, 64).map { bs =>
        s"""rs$bs AS (
           SELECT floor(CAST(sum(rs_ppm) AS DOUBLE) / count(*))::BIGINT
               AS rs${bs}_ppm
           FROM (
             SELECT b.blk,
               floor(CAST(greatest(max(b.cum), 0)
                   - least(min(b.cum), 0) AS DOUBLE) * 1e6
                 / sqrt(CAST($bs::HUGEINT * any_value(st.sxx)
                   - any_value(st.sx)::HUGEINT * any_value(st.sx)
                   AS DOUBLE)))::BIGINT AS rs_ppm
             FROM (
               SELECT i.blk, i.j,
                 sum($bs * i.x - st.sx) OVER (
                   PARTITION BY i.blk ORDER BY i.j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
               FROM (SELECT i // $bs AS blk, i % $bs AS j, x
                     FROM idx) i
               JOIN (SELECT i // $bs AS blk,
                       count(*)::BIGINT AS cnt,
                       sum(x)::BIGINT AS sx,
                       sum(x::HUGEINT * x) AS sxx
                     FROM idx GROUP BY 1) st
                 ON i.blk = st.blk AND st.cnt = $bs) b
             JOIN (SELECT i // $bs AS blk, sum(x)::BIGINT AS sx,
                     sum(x::HUGEINT * x) AS sxx
                   FROM idx GROUP BY 1) st ON b.blk = st.blk
             GROUP BY b.blk))"""
      }.mkString(",\n         ")
      s"""WITH hourly AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 3600)::BIGINT AS hr,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS x
           FROM events GROUP BY 1),
         idx AS (
           SELECT (row_number() OVER (ORDER BY hr) - 1)::BIGINT AS i,
                  x
           FROM hourly),
         $per
         SELECT rs8_ppm, rs16_ppm, rs32_ppm, rs64_ppm,
                floor((3.0 * (ln(CAST(rs64_ppm AS DOUBLE) / 1e6)
                    - ln(CAST(rs8_ppm AS DOUBLE) / 1e6))
                  + (ln(CAST(rs32_ppm AS DOUBLE) / 1e6)
                    - ln(CAST(rs16_ppm AS DOUBLE) / 1e6)))
                  / 10.0 * 1e6)::BIGINT AS hurst_ppm
         FROM rs8, rs16, rs32, rs64"""
    },

    "q506_greedy_set_cover" -> {
      // unrolled greedy: w_k = argmax marginal gain given cov_{k-1}
      val rounds = (1 to 5).map { k =>
        val anti = if (k == 1) ""
        else s"WHERE tok NOT IN (SELECT tok FROM cov${k - 1})"
        val covPrev = if (k == 1) "SELECT tok FROM toks WHERE 1=0"
        else s"SELECT tok FROM cov${k - 1}"
        s"""w$k AS (
           SELECT $k::BIGINT AS step, doc_id,
                  count(*)::BIGINT AS gain
           FROM toks $anti
           GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
         cov$k AS (
           SELECT tok FROM ($covPrev)
           UNION
           SELECT t.tok FROM toks t, w$k
           WHERE t.doc_id = w$k.doc_id)"""
      }.mkString(",\n         ")
      s"""WITH tk AS (
           SELECT doc_id, string_split_regex(lower(text), ' +') AS tk
           FROM documents),
         toks AS (
           SELECT DISTINCT doc_id,
                  tk[i + 1] || ' ' || tk[i + 2] AS tok
           FROM tk, unnest(generate_series(0, len(tk) - 2)) t(i)
           WHERE len(tk) >= 2),
         $rounds,
         allw AS (
           SELECT * FROM w1 UNION ALL SELECT * FROM w2
           UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
           UNION ALL SELECT * FROM w5)
         SELECT step, doc_id, gain,
                (sum(gain) OVER (ORDER BY step
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  ::BIGINT AS covered_total
         FROM allw ORDER BY step"""
    },

    "q507_gumbel_return_levels" ->
      s"""WITH hourly AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 3600)::BIGINT AS hr,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS x
           FROM events GROUP BY 1),
         wm AS (
           SELECT hr // 24 AS day, max(x)::BIGINT AS mx
           FROM hourly GROUP BY 1),
         m AS (
           SELECT count(*)::BIGINT AS n, sum(mx)::BIGINT AS s1,
                  sum(mx::HUGEINT * mx) AS s2
           FROM wm),
         fit AS (
           SELECT n,
             CAST(s1 AS DOUBLE) / n AS mean,
             sqrt(CAST(n::HUGEINT * s2 - s1::HUGEINT * s1 AS DOUBLE))
               / CAST(n AS DOUBLE) AS sd
           FROM m),
         gm AS (
           SELECT n, mean, sd * sqrt(6.0) / pi() AS beta,
                  mean - $EULER * (sd * sqrt(6.0) / pi()) AS mu
           FROM fit)
         SELECT n AS n_blocks,
                floor(mu)::BIGINT AS mu_cents,
                floor(beta)::BIGINT AS beta_cents,
                floor(mu - beta * ln(-ln(1.0 - 1.0 / 10)))::BIGINT
                  AS rl_10_cents,
                floor(mu - beta * ln(-ln(1.0 - 1.0 / 52)))::BIGINT
                  AS rl_52_cents,
                floor(mu - beta * ln(-ln(1.0 - 1.0 / 365)))::BIGINT
                  AS rl_365_cents
         FROM gm"""
  )
}


/** Round-9 batch AS (q529-q531) — tail-heaviness estimation, funnel
  * design tuning, and exact rank concordance:
  *
  *  - q529: Hill tail-index estimator on the order-value
  *    distribution — the standard "how heavy is the tail really"
  *    readout behind q507's Gumbel levels: mean of ln(x_i/x_(k+1))
  *    over the top k = 100 order statistics (TakeOrdered top-k, no
  *    global sort; the k+1-th value contributes ln 1 = 0 so the
  *    bounded 101-row frame sums directly), each ln term floored to
  *    nano units before the sum so engine float order cannot drift.
  *  - q530: funnel window-sensitivity — signup→purchase conversion
  *    under attribution windows of {1, 6, 24, 72} hours from one
  *    per-user delta computation (next-purchase window, the q457
  *    shape) and four bounded aggregates: the curve that tells a
  *    product team whether their funnel metric is a real effect or
  *    an artifact of the chosen window.
  *  - q531: exact Kendall τ-b between part size and popularity —
  *    concordant/discordant pair counts from the (x, y) VALUE-GRID
  *    contingency table (domain-bounded: |size|×|count| cells, never
  *    the O(n²) row-pair space): a broadcast grid self-join scores
  *    strict dominance, tie terms come from the marginals, and
  *    τ-b = (C−D)/√((n₀−Tx)(n₀−Ty)) in exact DECIMAL until the
  *    final scalar. The concordance companion to q503's Spearman.
  */
object Tails {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q529_hill_tail_index" -> ((s, d) => {
      val top = graft.Stage(t(s, d, "orders")
        .select(floor(col("o_totalprice") * 100).cast("long")
          .as("cents"))
        .orderBy(col("cents").desc).limit(101), "q529_top")
      val xmin = top.agg(min(col("cents")).as("xk1"))
      top.crossJoin(broadcast(xmin))
        .withColumn("t_nano",
          floor(log(col("cents").cast("double")
            / col("xk1").cast("double")) * 1e9).cast("long"))
        .agg(first(col("xk1")).as("xk1_cents"),
          sum(col("t_nano")).as("sn"))
        .select(lit(100L).as("k"), col("xk1_cents"),
          floor(col("sn").cast("double") / 100 / 1e9 * 1e6)
            .cast("long").as("hill_micro"),
          floor(lit(100.0) * 1e9 / col("sn").cast("double") * 1000)
            .cast("long").as("alpha_milli"))
    }),

    "q530_funnel_window_sensitivity" -> ((s, d) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val marked = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_purch_ts",
          min(when(col("event_type") === "purchase", col("ts")))
            .over(wU))
      val signups = graft.Stage(marked
        .filter(col("event_type") === "signup")
        .select(col("user_id"),
          (unix_timestamp(col("next_purch_ts"))
            - unix_timestamp(col("ts"))).as("delta_s")), "q530_sg")
      val frames = Seq(1, 6, 24, 72).map { wh =>
        signups.agg(count(lit(1)).as("n_signups"),
          sum(when(col("delta_s").isNotNull
            && col("delta_s") <= wh * 3600L, 1L).otherwise(0L))
            .as("n_converted"))
          .withColumn("window_hours", lit(wh.toLong))
      }
      frames.reduce(_ unionByName _)
        .select(col("window_hours"), col("n_signups"),
          col("n_converted"),
          expr("n_converted * 1000000 DIV n_signups").as("cvr_ppm"))
        .orderBy(col("window_hours"))
    }),

    "q531_kendall_tau" -> ((s, d) => {
      val pop = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(count(lit(1)).as("y"))
      val cells = graft.Stage(t(s, d, "part")
        .select(col("p_partkey").as("partkey"),
          col("p_size").cast("long").as("x"))
        .join(pop, Seq("partkey"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c")),
        "q531_cells") // value-grid: |size dom| x |count dom| cells
      val a = cells.select(col("x").as("ax"), col("y").as("ay"),
        col("c").as("ac"))
      val b = cells.select(col("x").as("bx"), col("y").as("by"),
        col("c").as("bc"))
      val conc = a.join(broadcast(b),
          col("bx") < col("ax") && col("by") < col("ay"))
        .agg(sum(col("ac").cast("decimal(38,0)") * col("bc"))
          .as("cc"))
      val disc = a.join(broadcast(b),
          col("bx") < col("ax") && col("by") > col("ay"))
        .agg(sum(col("ac").cast("decimal(38,0)") * col("bc"))
          .as("dd"))
      val ties = cells.agg(count(lit(1)).as("n_cells"),
        sum(col("c")).as("n"))
      val tx = cells.groupBy(col("x")).agg(sum(col("c")).as("m"))
        .agg(sum(col("m").cast("decimal(38,0)") * (col("m") - 1) / 2)
          .as("tx"))
      val ty = cells.groupBy(col("y")).agg(sum(col("c")).as("m"))
        .agg(sum(col("m").cast("decimal(38,0)") * (col("m") - 1) / 2)
          .as("ty"))
      ties.crossJoin(conc).crossJoin(disc).crossJoin(tx).crossJoin(ty)
        .withColumn("n0",
          col("n").cast("decimal(38,0)") * (col("n") - 1) / 2)
        .select(col("n").as("n_parts"),
          col("cc").cast("long").as("concordant"),
          col("dd").cast("long").as("discordant"),
          col("tx").cast("long").as("ties_x"),
          col("ty").cast("long").as("ties_y"),
          floor((col("cc") - col("dd")).cast("double") * 1e6
            / (sqrt((col("n0") - col("tx")).cast("double"))
              * sqrt((col("n0") - col("ty")).cast("double"))))
            .cast("long").as("tau_b_ppm"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q529_hill_tail_index" ->
      """WITH top AS (
           SELECT floor(o_totalprice * 100)::BIGINT AS cents
           FROM orders ORDER BY cents DESC LIMIT 101),
         xmin AS (SELECT min(cents)::BIGINT AS xk1 FROM top),
         terms AS (
           SELECT floor(ln(CAST(t.cents AS DOUBLE)
               / CAST(x.xk1 AS DOUBLE)) * 1e9)::BIGINT AS t_nano,
             x.xk1
           FROM top t, xmin x),
         agg AS (
           SELECT any_value(xk1)::BIGINT AS xk1_cents,
                  sum(t_nano)::BIGINT AS sn
           FROM terms)
         SELECT 100::BIGINT AS k, xk1_cents,
                floor(CAST(sn AS DOUBLE) / 100 / 1e9 * 1e6)::BIGINT
                  AS hill_micro,
                floor(100.0 * 1e9 / CAST(sn AS DOUBLE) * 1000)::BIGINT
                  AS alpha_milli
         FROM agg""",

    "q530_funnel_window_sensitivity" -> {
      val frames = Seq(1, 6, 24, 72).map { wh =>
        s"""SELECT $wh::BIGINT AS window_hours,
              count(*)::BIGINT AS n_signups,
              sum(CASE WHEN delta_s IS NOT NULL
                  AND delta_s <= $wh * 3600 THEN 1 ELSE 0 END)::BIGINT
                AS n_converted
            FROM sg"""
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH ev AS (
           SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
             min(CASE WHEN event_type = 'purchase'
                 THEN ts::TIMESTAMP END) OVER (
               PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purch_ts
           FROM events),
         sg AS (
           SELECT user_id,
                  epoch(next_purch_ts)::BIGINT - epoch(ts)::BIGINT
                    AS delta_s
           FROM ev WHERE event_type = 'signup'),
         frames AS (
           $frames)
         SELECT window_hours, n_signups, n_converted,
                (n_converted * 1000000 // n_signups)::BIGINT
                  AS cvr_ppm
         FROM frames ORDER BY window_hours"""
    },

    "q531_kendall_tau" ->
      """WITH pop AS (
           SELECT l_partkey AS partkey, count(*)::BIGINT AS y
           FROM lineitem GROUP BY l_partkey),
         cells AS (
           SELECT CAST(p.p_size AS BIGINT) AS x, o.y,
                  count(*)::BIGINT AS c
           FROM part p JOIN pop o ON p.p_partkey = o.partkey
           GROUP BY 1, 2),
         conc AS (
           SELECT sum(a.c::HUGEINT * b.c) AS cc
           FROM cells a JOIN cells b ON b.x < a.x AND b.y < a.y),
         disc AS (
           SELECT sum(a.c::HUGEINT * b.c) AS dd
           FROM cells a JOIN cells b ON b.x < a.x AND b.y > a.y),
         nn AS (SELECT sum(c)::BIGINT AS n FROM cells),
         tx AS (
           SELECT sum(m::HUGEINT * (m - 1) / 2) AS tx
           FROM (SELECT sum(c)::BIGINT AS m FROM cells GROUP BY x)),
         ty AS (
           SELECT sum(m::HUGEINT * (m - 1) / 2) AS ty
           FROM (SELECT sum(c)::BIGINT AS m FROM cells GROUP BY y))
         SELECT nn.n AS n_parts,
                cc::BIGINT AS concordant, dd::BIGINT AS discordant,
                tx::BIGINT AS ties_x, ty::BIGINT AS ties_y,
                floor(CAST(cc - dd AS DOUBLE) * 1e6
                  / (sqrt(CAST(nn.n::HUGEINT * (nn.n - 1) / 2 - tx
                      AS DOUBLE))
                    * sqrt(CAST(nn.n::HUGEINT * (nn.n - 1) / 2 - ty
                        AS DOUBLE))))::BIGINT AS tau_b_ppm
         FROM nn, conc, disc, tx, ty"""
  )
}


/** Round-9 batch AU (q535-q537) — regression and contingency
  * diagnostics:
  *
  *  - q535: Durbin-Watson autocorrelation test on the residuals of
  *    the daily-revenue trend fit — THE standard "is my time-series
  *    regression lying to me" diagnostic. Residuals are floored to
  *    whole cents before the lag-difference sums so both engines
  *    sum exact integers (day-grain lag windows only);
  *    DW ≈ 2(1−ρ̂₁) read out with the conventional 1.5/2.5 verdict.
  *  - q536: first-order partial correlation r(quantity, price |
  *    discount) — the confounder-adjusted association from the
  *    closed form over three exact-moment Pearson correlations
  *    (products of sums DECIMAL-lifted). Reports all three raw
  *    correlations next to the partial.
  *  - q537: chi-square independence with per-cell ADJUSTED residuals
  *    (Haberman) for returnflag × linestatus — not just "is there
  *    dependence" (q406 Cramér's V) but WHICH cells deviate;
  *    |z| > 2.576 flags at the 1% level. Cell grid is
  *    category-bounded; one corpus aggregate.
  */
object Diagnostics {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q535_durbin_watson" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 86400L)
          .cast("long").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
      val wD = Window.orderBy(col("day")) // calendar-bounded grain
      val idx = graft.Stage(daily
        .withColumn("x", row_number().over(wD).cast("long")),
        "q535_idx")
      val fit = idx.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .withColumn("b",
          (col("n").cast("decimal(38,0)") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
            / (col("n").cast("decimal(38,0)") * col("sxx")
              - col("sx").cast("decimal(38,0)") * col("sx"))
              .cast("double"))
        .withColumn("a",
          (col("sy").cast("double") - col("b") * col("sx").cast("double"))
            / col("n").cast("double"))
      val resid = idx.crossJoin(broadcast(fit.select(col("a"), col("b"),
          col("n"))))
        .withColumn("e",
          floor(col("y").cast("double")
            - (col("a") + col("b") * col("x").cast("double")))
            .cast("long"))
        .withColumn("e_lag", lag(col("e"), 1).over(wD))
      resid.agg(first(col("n")).as("n_days"),
        sum(col("e").cast("decimal(38,0)") * col("e")).as("see"),
        sum(when(col("e_lag").isNotNull,
          (col("e") - col("e_lag")).cast("decimal(38,0)")
            * (col("e") - col("e_lag"))).otherwise(lit(0)))
          .as("sdd"))
        .select(col("n_days"),
          floor(col("sdd").cast("double") / col("see").cast("double")
            * 1000).cast("long").as("dw_milli"),
          when(col("sdd").cast("double") / col("see").cast("double")
            < 1.5, lit("positive_autocorr"))
            .when(col("sdd").cast("double") / col("see").cast("double")
              > 2.5, lit("negative_autocorr"))
            .otherwise(lit("none")).as("verdict"))
    }),

    "q536_partial_correlation" -> ((s, d) => {
      val base = t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100).cast("long").as("y"),
        floor(col("l_discount") * 10000).cast("long").as("z"))
      val sums = base.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
        sum(col("y").cast("decimal(38,0)") * col("z")).as("syz"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"))
      def corr(ab: String, aa: String, bb: String, a: String,
               b: String) =
        (col("n").cast("decimal(38,0)") * col(ab)
          - col(a).cast("decimal(38,0)") * col(b)).cast("double") /
          (sqrt((col("n").cast("decimal(38,0)") * col(aa)
            - col(a).cast("decimal(38,0)") * col(a)).cast("double"))
            * sqrt((col("n").cast("decimal(38,0)") * col(bb)
              - col(b).cast("decimal(38,0)") * col(b)).cast("double")))
      sums
        .withColumn("rxy", corr("sxy", "sxx", "syy", "sx", "sy"))
        .withColumn("rxz", corr("sxz", "sxx", "szz", "sx", "sz"))
        .withColumn("ryz", corr("syz", "syy", "szz", "sy", "sz"))
        .withColumn("partial",
          (col("rxy") - col("rxz") * col("ryz"))
            / (sqrt(lit(1.0) - col("rxz") * col("rxz"))
              * sqrt(lit(1.0) - col("ryz") * col("ryz"))))
        .select(col("n").as("n_rows"),
          floor(col("rxy") * 1e6).cast("long").as("r_xy_ppm"),
          floor(col("rxz") * 1e6).cast("long").as("r_xz_ppm"),
          floor(col("ryz") * 1e6).cast("long").as("r_yz_ppm"),
          floor(col("partial") * 1e6).cast("long")
            .as("r_xy_given_z_ppm"))
    }),

    "q537_chi_residual_cells" -> ((s, d) => {
      val cells = graft.Stage(t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("a"),
          col("l_linestatus").as("b"))
        .agg(count(lit(1)).as("obs")), "q537_cells")
      val rowT = cells.groupBy(col("a")).agg(sum(col("obs")).as("ra"))
      val colT = cells.groupBy(col("b")).agg(sum(col("obs")).as("cb"))
      val tot = cells.agg(sum(col("obs")).as("nn"))
      cells.join(broadcast(rowT), Seq("a"))
        .join(broadcast(colT), Seq("b"))
        .crossJoin(broadcast(tot))
        .withColumn("expd",
          (col("ra").cast("decimal(38,0)") * col("cb")).cast("double")
            / col("nn").cast("double"))
        .withColumn("adj_z",
          (col("obs").cast("double") - col("expd"))
            / sqrt(col("expd")
              * (lit(1.0) - col("ra").cast("double") / col("nn"))
              * (lit(1.0) - col("cb").cast("double") / col("nn"))))
        .select(col("a"), col("b"), col("obs"),
          floor(col("expd") * 1000).cast("long").as("expected_milli"),
          floor(col("adj_z") * 1000).cast("long").as("adj_z_milli"),
          when(abs(col("adj_z")) > 2.576, 1L).otherwise(0L)
            .as("deviant_1pct"))
        .orderBy(col("a"), col("b"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q535_durbin_watson" ->
      """WITH daily AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS y
           FROM events GROUP BY 1),
         idx AS (
           SELECT day, y,
                  row_number() OVER (ORDER BY day)::BIGINT AS x
           FROM daily),
         p AS (
           SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                  sum(y)::BIGINT AS sy,
                  sum(x::HUGEINT * y) AS sxy,
                  sum(x::HUGEINT * x) AS sxx
           FROM idx),
         fit AS (
           SELECT n, sx, sy,
             CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
               / CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE)
               AS b
           FROM p),
         fit2 AS (
           SELECT n, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS a
           FROM fit),
         resid AS (
           SELECT i.day, f.n,
             floor(CAST(i.y AS DOUBLE)
               - (f.a + f.b * CAST(i.x AS DOUBLE)))::BIGINT AS e
           FROM idx i, fit2 f),
         lagged AS (
           SELECT n, e, lag(e, 1) OVER (ORDER BY day) AS e_lag
           FROM resid),
         sums AS (
           SELECT any_value(n)::BIGINT AS n_days,
                  sum(e::HUGEINT * e) AS see,
                  sum(CASE WHEN e_lag IS NOT NULL
                      THEN (e - e_lag)::HUGEINT * (e - e_lag)
                      ELSE 0 END) AS sdd
           FROM lagged)
         SELECT n_days,
                floor(CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
                  * 1000)::BIGINT AS dw_milli,
                (CASE WHEN CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
                        < 1.5 THEN 'positive_autocorr'
                      WHEN CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
                        > 2.5 THEN 'negative_autocorr'
                      ELSE 'none' END) AS verdict
         FROM sums""",

    "q536_partial_correlation" ->
      """WITH base AS (
           SELECT CAST(l_quantity AS BIGINT) AS x,
                  floor(l_extendedprice * 100)::BIGINT AS y,
                  floor(l_discount * 10000)::BIGINT AS z
           FROM lineitem),
         s AS (
           SELECT count(*)::BIGINT AS n,
                  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                  sum(z)::BIGINT AS sz,
                  sum(x::HUGEINT * y) AS sxy,
                  sum(x::HUGEINT * z) AS sxz,
                  sum(y::HUGEINT * z) AS syz,
                  sum(x::HUGEINT * x) AS sxx,
                  sum(y::HUGEINT * y) AS syy,
                  sum(z::HUGEINT * z) AS szz
           FROM base),
         r AS (
           SELECT n,
             CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
               / (sqrt(CAST(n::HUGEINT * sxx - sx::HUGEINT * sx
                   AS DOUBLE))
                 * sqrt(CAST(n::HUGEINT * syy - sy::HUGEINT * sy
                     AS DOUBLE))) AS rxy,
             CAST(n::HUGEINT * sxz - sx::HUGEINT * sz AS DOUBLE)
               / (sqrt(CAST(n::HUGEINT * sxx - sx::HUGEINT * sx
                   AS DOUBLE))
                 * sqrt(CAST(n::HUGEINT * szz - sz::HUGEINT * sz
                     AS DOUBLE))) AS rxz,
             CAST(n::HUGEINT * syz - sy::HUGEINT * sz AS DOUBLE)
               / (sqrt(CAST(n::HUGEINT * syy - sy::HUGEINT * sy
                   AS DOUBLE))
                 * sqrt(CAST(n::HUGEINT * szz - sz::HUGEINT * sz
                     AS DOUBLE))) AS ryz
           FROM s)
         SELECT n AS n_rows,
                floor(rxy * 1e6)::BIGINT AS r_xy_ppm,
                floor(rxz * 1e6)::BIGINT AS r_xz_ppm,
                floor(ryz * 1e6)::BIGINT AS r_yz_ppm,
                floor((rxy - rxz * ryz)
                  / (sqrt(1.0 - rxz * rxz) * sqrt(1.0 - ryz * ryz))
                  * 1e6)::BIGINT AS r_xy_given_z_ppm
         FROM r""",

    "q537_chi_residual_cells" ->
      """WITH cells AS (
           SELECT l_returnflag AS a, l_linestatus AS b,
                  count(*)::BIGINT AS obs
           FROM lineitem GROUP BY 1, 2),
         rt AS (SELECT a, sum(obs)::BIGINT AS ra FROM cells GROUP BY a),
         ct AS (SELECT b, sum(obs)::BIGINT AS cb FROM cells GROUP BY b),
         tt AS (SELECT sum(obs)::BIGINT AS nn FROM cells),
         scored AS (
           SELECT c.a, c.b, c.obs,
             CAST(r.ra::HUGEINT * x.cb AS DOUBLE)
               / CAST(t.nn AS DOUBLE) AS expd,
             (CAST(c.obs AS DOUBLE)
               - CAST(r.ra::HUGEINT * x.cb AS DOUBLE)
                 / CAST(t.nn AS DOUBLE))
               / sqrt((CAST(r.ra::HUGEINT * x.cb AS DOUBLE)
                   / CAST(t.nn AS DOUBLE))
                 * (1.0 - CAST(r.ra AS DOUBLE) / t.nn)
                 * (1.0 - CAST(x.cb AS DOUBLE) / t.nn)) AS adj_z
           FROM cells c
           JOIN rt r ON c.a = r.a
           JOIN ct x ON c.b = x.b, tt t)
         SELECT a, b, obs,
                floor(expd * 1000)::BIGINT AS expected_milli,
                floor(adj_z * 1000)::BIGINT AS adj_z_milli,
                (CASE WHEN abs(adj_z) > 2.576 THEN 1 ELSE 0 END)
                  ::BIGINT AS deviant_1pct
         FROM scored ORDER BY a, b"""
  )
}
