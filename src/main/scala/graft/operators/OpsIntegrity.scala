package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-8 batch F (q356-q362): decimal money aggregation, error-safe
  * TRY arithmetic, rolling active users (DAU/WAU stickiness), a
  * distributed sequence-integrity audit, CUSUM changepoint detection,
  * an l-diversity privacy gate, and a Zipf-law corpus fit. Hash-gated
  * vs DuckDB.
  */
object OpsIntegrity {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // DECIMAL money aggregation — sums computed entirely in the decimal
    // domain (the q32 cast recipe lifted to the AGGREGATE level, where
    // Spark widens precision +10 on sum): exact to the cent at any row
    // count, no binary-double drift. PRESENTATION is harness-safe per
    // the driver-gate contract (DriverGateSpec): the exact decimals are
    // emitted as fixed-scale STRINGS (pyarrow materializes DECIMAL as
    // object(Decimal) while DuckDB's .df() gives float64 — round-8
    // q356 red), and the average is gated on sum/count in the INTEGER
    // domain (exact micros via DIV) rather than avg() — DuckDB's
    // avg(DECIMAL) detours through DOUBLE and double-rounds (the q300
    // class; ADVICE r8).
    "q356_decimal_agg" -> ((s, d) => {
      val p = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,6)")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(p).cast("decimal(38,2)").as("sp"),
          sum(p * (lit(1).cast("decimal(18,6)") - disc))
            .cast("decimal(38,8)").as("sn"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("sp").cast("string").as("sum_price"),
          col("sn").cast("string").as("sum_net"),
          expr("CAST(sp * 10000 AS BIGINT) DIV n").as("avg_price_micros"),
          col("n"))
    }),

    // Error-safe TRY arithmetic (ANSI surface, §2.7 tail): try_divide
    // null-on-zero, try_add null-on-overflow, try_to_number on mixed
    // text, try_element_at past array end — the "never throw, yield
    // NULL" contract a long pipeline needs. The overflow probe uses
    // Long.MaxValue so the NULL is semantic, not data-dependent.
    "q357_try_arithmetic" -> ((s, d) =>
      graft.HeavyEngine(s, d).sql(
        """SELECT l_orderkey, l_linenumber,
                  try_divide(CAST(floor(l_extendedprice) AS BIGINT),
                             CAST(l_linenumber - 1 AS BIGINT)) AS div0,
                  try_add(9223372036854775807, l_orderkey) AS ovf,
                  try_element_at(array(1L, 2L, 3L),
                                 CAST(l_linenumber + 2 AS INT)) AS elem,
                  try_cast(CASE WHEN l_linenumber = 1 THEN 'x'
                            ELSE CAST(l_quantity AS STRING) END
                           AS DOUBLE) AS num
           FROM lineitem WHERE l_orderkey < 400""")),

    // Rolling active users: per (event_type, day) — DAU, trailing-7-day
    // WAU, and the DAU/WAU stickiness ratio in ppm. The daily DISTINCT
    // user sets are collected per (type, day) and the 7-day window
    // flattens + re-distincts them: exact, with per-day set cardinality
    // as the documented bound (the 100 TB form swaps the sets for q171
    // mergeable HLL sketches — same plan shape, approximate). Windows
    // are partitioned by event_type over day grain (bounded rows).
    "q358_rolling_active_users" -> ((s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"), col("user_id"))
        .groupBy(col("event_type"), col("day"))
        .agg(collect_set(col("user_id")).as("users"),
          countDistinct(col("user_id")).as("dau"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(unix_date(col("day").cast("date")))
        .rangeBetween(-6, 0)
      daily
        .withColumn("wau",
          size(array_distinct(flatten(collect_list(col("users"))
            .over(w)))).cast("long"))
        .select(col("event_type"), col("day"), col("dau"), col("wau"),
          expr("dau * 1000000 DIV wau").as("stickiness_ppm"))
    }),

    // q358's 100 TB form (round-8 verdict #6): DAU/WAU from MERGEABLE
    // HLL sketches instead of exact per-day user-id sets — the exact
    // form's `collect_set(user_id)` row width is DAU-sized (millions of
    // ids in one row at production scale), while a sketch row is a few
    // KB regardless of cardinality. Daily sketches roll up to trailing
    // 7-day WAU by CONTRIBUTION explode (each day feeds days d..d+6,
    // one union-aggregate per (type, day) — no window state, same
    // partial-leading-week semantics as q358's rangeBetween(-6,0)).
    // Gated like q55/q171: exact DAU/WAU computed alongside (WAU via
    // the same explode in the exact domain — itself scale-safe: rows×7
    // then a distributed distinct, never a set-in-a-row) and the HLL
    // estimates asserted within 5% relative error, so the driver hash
    // pins booleans + exact values, not sketch internals.
    "q371_rolling_active_users_hll" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"), col("user_id"))
      // Staged: both the WAU rollup and the final DAU projection read
      // the daily-sketch aggregate; staging keeps the corpus distinct
      // to one pass.
      val daily = graft.Stage(ev.groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("dau_exact")), "q371_daily")
      val wauHll = daily.select(col("event_type"), col("day"), col("sk"))
        .withColumn("i", explode(sequence(lit(0), lit(6))))
        .select(col("event_type"),
          expr("timestampadd(DAY, i, day)").as("day"), col("sk"))
        .groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("wau_est"))
      val wauExact = ev
        .withColumn("i", explode(sequence(lit(0), lit(6))))
        .select(col("event_type"),
          expr("timestampadd(DAY, i, day)").as("day"), col("user_id"))
        .groupBy(col("event_type"), col("day"))
        .agg(countDistinct(col("user_id")).as("wau_exact"))
      daily.select(col("event_type"), col("day"), col("dau_exact"),
          hll_sketch_estimate(col("sk")).as("dau_est"))
        .join(wauHll, Seq("event_type", "day"))
        .join(wauExact, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("dau_exact"),
          col("wau_exact"),
          (abs(col("dau_est").cast("double") - col("dau_exact"))
            / col("dau_exact") < 0.05).as("dau_ok"),
          (abs(col("wau_est").cast("double") - col("wau_exact"))
            / col("wau_exact") < 0.05).as("wau_ok"))
    }),

    // CUSUM changepoint detection — the recursive time-series operator
    // class (S_t = max(0, S_{t-1} + x_t − target)) that plain window
    // frames CANNOT express: the per-series day array is bounded, so
    // the recursion runs as a codegen'd higher-order fold (`aggregate`
    // over a slice per step; DuckDB replays with list_reduce). Alarms
    // where the statistic crosses h. Series = per-type daily mean value
    // in exact milli-units; target = the series' own mean (integer).
    // At 100 TB the grouped day-grain array stays bounded (days per
    // series), which is precisely why the fold is safe.
    "q360_cusum_changepoint" -> ((s, d) => {
      val h = 400L
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
        .withColumn("target",
          expr("aggregate(arr, 0L, (a, x) -> a + x) DIV n_days"))
        .withColumn("sser", expr(
          """transform(sequence(1, int(n_days)),
               i -> aggregate(slice(arr, 1, i), 0L,
                      (a, x) -> greatest(0L, a + x - target)))"""))
        .select(col("event_type"), col("n_days"), col("target"),
          expr("aggregate(sser, 0L, (a, x) -> greatest(a, x))")
            .as("max_cusum"),
          expr(s"size(filter(sser, x -> x > ${h}L))").cast("long")
            .as("n_alarms"),
          expr(s"""element_at(
                     concat(filter(sequence(1, int(n_days)),
                              i -> element_at(sser, i) > ${h}L),
                            array(-1)), 1)""").cast("long")
            .as("first_alarm_idx"))
    }),

    // Sequence-integrity audit: find the missing ranges in an id
    // sequence (planted holes: ids ≡ 0 mod 97 dropped) WITHOUT a
    // global window — ids bucket by id DIV 1000; in-bucket gaps come
    // from partitioned lag windows, cross-bucket gaps from the bounded
    // per-bucket (min, max) collect stitched on the driver (the same
    // bounded-metadata pattern as q315/q337/q345). Reports each gap
    // run (start, end, width).
    "q359_sequence_gaps" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val B = 1000L
      val present = graft.Stage(t(s, d, "events")
        .select(col("event_id").as("id"))
        .filter(col("id") % 97 =!= 0)
        .withColumn("b", expr(s"id DIV $B")), "q359_present")
      val w = Window.partitionBy(col("b")).orderBy(col("id"))
      val inBucket = present
        .withColumn("prev", lag(col("id"), 1).over(w))
        .filter(col("prev").isNotNull && col("id") - col("prev") > 1)
        .select((col("prev") + 1).as("gap_start"),
          (col("id") - 1).as("gap_end"))
      // Bounded: one row per occupied bucket.
      val edges = present.groupBy(col("b"))
        .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
        .collect().sortBy(_.getLong(0))
      val boundary = edges.sliding(2).collect {
        case Array(a, c) if c.getLong(1) - a.getLong(2) > 1 =>
          (a.getLong(2) + 1, c.getLong(1) - 1)
      }.toSeq
      val boundaryDf =
        if (boundary.isEmpty)
          Seq.empty[(Long, Long)].toDF("gap_start", "gap_end")
        else boundaryDf2(spark, boundary)
      inBucket.unionByName(boundaryDf)
        .select(col("gap_start"), col("gap_end"),
          (col("gap_end") - col("gap_start") + 1).as("width"))
    }),

    // Holt linear (double exponential smoothing) forecast — the
    // level+trend state recursion (l' = α·x + (1−α)(l+b);
    // b' = β(l'−l) + (1−β)b, α=β=½) run as ONE bounded higher-order
    // fold with a struct accumulator (q360's machinery, now with
    // 2-field state). All arithmetic is floor((·)/2) on exact
    // milli-longs, so both engines walk identical integer states; the
    // one-step-ahead forecast is level + trend. Per-series day arrays
    // stay bounded at any corpus scale.
    "q363_holt_forecast" -> ((s, d) => {
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
        .withColumn("state", expr(
          """aggregate(slice(arr, 2, int(n_days) - 1),
               named_struct('l', element_at(arr, 1), 'b', 0L),
               (a, x) -> named_struct(
                 'l', cast(floor((x + a.l + a.b) / 2.0) as bigint),
                 'b', cast(floor((
                        cast(floor((x + a.l + a.b) / 2.0) as bigint)
                        - a.l + a.b) / 2.0) as bigint)))"""))
        .select(col("event_type"), col("n_days"),
          col("state.l").as("level_milli"),
          col("state.b").as("trend_milli"),
          (col("state.l") + col("state.b")).as("forecast_milli"))
    }),

    // Boolean retrieval over the inverted index (the IR-surface
    // complement of q283's positional phrase query): documents matching
    // ('data' AND 'join') AND NOT 'stream' via per-doc term flags —
    // postings filtered to the query terms BEFORE the one grouped
    // aggregate, so work is bounded by the query terms' posting lists,
    // never the vocabulary.
    "q364_boolean_retrieval" -> ((s, d) => {
      val qTerms = Seq("data", "join", "stream")
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(regexp_replace(trim(lower(col("text"))),
            "[^a-z0-9 ]", ""), " +")).as("tok"))
        .filter(col("tok").isin(qTerms: _*))
        .groupBy(col("doc_id"))
        .agg(max(when(col("tok") === "data", 1L).otherwise(0L)).as("h1"),
          max(when(col("tok") === "join", 1L).otherwise(0L)).as("h2"),
          max(when(col("tok") === "stream", 1L).otherwise(0L)).as("h3"))
        .filter(col("h1") === 1L && col("h2") === 1L && col("h3") === 0L)
        .select(col("doc_id"))
    }),

    // Zipf-law fit over the token frequency spectrum — the corpus
    // statistic every LLM-data report quotes: slope of
    // log f ~ a + b·log r on the top-200 ranks (expect b ≈ −1) via the
    // closed-form least squares the q74 linreg surface uses, plus r².
    // Ranks come from one TakeOrdered top-200 (no global window);
    // the regression runs on those 200 bounded rows. Doubles enter
    // only through log of exact integers; result rounded to 6.
    "q362_zipf_fit" -> ((s, d) => {
      val freqs = t(s, d, "documents")
        .select(explode(split(regexp_replace(trim(lower(col("text"))),
          "[^a-z0-9 ]", ""), " +")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("tok").asc).limit(200)
      val w = Window.orderBy(col("f").desc, col("tok").asc) // 200 rows
      val xy = freqs.withColumn("r", row_number().over(w))
        .select(log(col("r").cast("double")).as("x"),
          log(col("f").cast("double")).as("y"))
      xy.agg(count(lit(1)).as("n_ranks"),
          covar_pop(col("x"), col("y")).as("cv"),
          var_pop(col("x")).as("vx"), var_pop(col("y")).as("vy"),
          avg(col("x")).as("mx"), avg(col("y")).as("my"))
        .select(col("n_ranks"),
          round(col("cv") / col("vx"), 6).as("zipf_slope"),
          round(col("my") - col("cv") / col("vx") * col("mx"), 6)
            .as("intercept"),
          round(col("cv") * col("cv") / (col("vx") * col("vy")), 6)
            .as("r2"))
    })
  )

  private def boundaryDf2(s: SparkSession,
      rows: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    rows.toDF("gap_start", "gap_end")
  }

  val oracles: Seq[(String, String)] = Seq(
    // l-diversity — the privacy release gate one level past q317's
    // k-anonymity: a QI class can be large (k-safe) yet expose a
    // sensitive attribute if it is homogeneous. Per QI class
    // (nationkey, mktsegment): distinct-l of the sensitive band and
    // entropy-l (exp of Shannon entropy, rounded 6); the corpus gate =
    // min over classes + homogeneous-class count. Sensitive attribute =
    // account-balance band (floor(acctbal/1000)). Two keyed aggregates,
    // no window.
    "q361_l_diversity" ->
      """WITH cls AS (
           SELECT c_nationkey, c_mktsegment,
                  floor(c_acctbal / 1000)::BIGINT AS band,
                  count(*)::BIGINT AS c
           FROM customer GROUP BY 1, 2, 3),
         per AS (
           SELECT c_nationkey, c_mktsegment,
                  count(*)::BIGINT AS distinct_l,
                  sum(c)::BIGINT AS n,
                  sum(c * ln(c)) AS clogc
           FROM cls GROUP BY 1, 2),
         e AS (
           SELECT *, round(exp(ln(n) - clogc / n), 6) AS entropy_l
           FROM per)
         SELECT count(*)::BIGINT AS n_classes,
                min(distinct_l)::BIGINT AS min_distinct_l,
                sum(CASE WHEN distinct_l = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS n_homogeneous,
                round(min(entropy_l), 6) AS min_entropy_l
         FROM e""",
    "q363_holt_forecast" ->
      // Recursive CTE, NOT list_reduce: DuckDB's list_reduce
      // mis-evaluates repeated nested struct-field subexpressions
      // against a partially-updated accumulator (found via q409, where
      // the divergence was visible at the fixture; here it was LATENT
      // — a two-step probe shows the lambda form computing b = 0 where
      // the recursion gives -2, while fixture values happened to
      // agree). Columns in a recursive CTE evaluate unambiguously.
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
                  arr[1]::BIGINT AS l, 0::BIGINT AS b
           FROM ser
           UNION ALL
           SELECT event_type, arr, n_days, t + 1,
                  ln AS l,
                  cast(floor((ln - l + b) / 2.0) as bigint) AS b
           FROM (
             SELECT *, cast(floor((arr[(t + 1)::INT]::BIGINT + l + b)
                    / 2.0) as bigint) AS ln
             FROM fold WHERE t < n_days)),
         done AS (SELECT * FROM fold WHERE t = n_days)
         SELECT event_type, n_days, l AS level_milli, b AS trend_milli,
                (l + b)::BIGINT AS forecast_milli
         FROM done""",
    "q364_boolean_retrieval" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(regexp_replace(
                    trim(lower(text)), '[^a-z0-9 ]', '', 'g'), ' +'))
                    AS tok
           FROM documents),
         flags AS (
           SELECT doc_id,
                  max(CASE WHEN tok = 'data' THEN 1 ELSE 0 END) AS h1,
                  max(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) AS h2,
                  max(CASE WHEN tok = 'stream' THEN 1 ELSE 0 END) AS h3
           FROM toks WHERE tok IN ('data', 'join', 'stream')
           GROUP BY doc_id)
         SELECT doc_id FROM flags
         WHERE h1 = 1 AND h2 = 1 AND h3 = 0""",
    "q362_zipf_fit" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(regexp_replace(
             trim(lower(text)), '[^a-z0-9 ]', '', 'g'), ' +')) AS tok
           FROM documents),
         freqs AS (
           SELECT tok, count(*)::BIGINT AS f FROM toks
           WHERE tok <> '' GROUP BY tok
           ORDER BY f DESC, tok ASC LIMIT 200),
         xy AS (
           SELECT ln(row_number() OVER (ORDER BY f DESC, tok ASC)
                     ::DOUBLE) AS x,
                  ln(f::DOUBLE) AS y
           FROM freqs),
         agg AS (
           SELECT count(*)::BIGINT AS n_ranks,
                  covar_pop(x, y) AS cv, var_pop(x) AS vx,
                  var_pop(y) AS vy, avg(x) AS mx, avg(y) AS my
           FROM xy)
         SELECT n_ranks, round(cv / vx, 6) AS zipf_slope,
                round(my - cv / vx * mx, 6) AS intercept,
                round(cv * cv / (vx * vy), 6) AS r2
         FROM agg""",
    "q356_decimal_agg" ->
      """SELECT l_returnflag,
                sum(l_extendedprice::DECIMAL(18,2))::DECIMAL(38,2)
                  ::VARCHAR AS sum_price,
                sum(l_extendedprice::DECIMAL(18,2)
                    * (1 - l_discount::DECIMAL(18,6)))::DECIMAL(38,8)
                  ::VARCHAR AS sum_net,
                (sum(l_extendedprice::DECIMAL(18,2)) * 10000)::BIGINT
                  // count(*) AS avg_price_micros,
                count(*)::BIGINT AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q357_try_arithmetic" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN l_linenumber = 1 THEN NULL
                     ELSE floor(l_extendedprice)::BIGINT
                            / (l_linenumber - 1) END AS div0,
                CASE WHEN l_orderkey > 0 THEN NULL
                     ELSE 9223372036854775807 + l_orderkey END AS ovf,
                CASE WHEN l_linenumber + 2 <= 3
                     THEN ([1, 2, 3]::BIGINT[])[l_linenumber + 2]
                     END AS elem,
                TRY_CAST(CASE WHEN l_linenumber = 1 THEN 'x'
                          ELSE l_quantity::VARCHAR END AS DOUBLE) AS num
         FROM lineitem WHERE l_orderkey < 400""",
    "q358_rolling_active_users" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  count(DISTINCT user_id)::BIGINT AS dau
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT event_type, day FROM daily),
         wau AS (
           SELECT p.event_type, p.day,
                  count(DISTINCT e.user_id)::BIGINT AS wau
           FROM pairs p
           JOIN events e
             ON e.event_type = p.event_type
            AND date_trunc('day', e.ts::TIMESTAMP)::TIMESTAMP
                  BETWEEN p.day - INTERVAL 6 DAY AND p.day
           GROUP BY 1, 2)
         SELECT d.event_type, d.day, d.dau, w.wau,
                (d.dau * 1000000 // w.wau)::BIGINT AS stickiness_ppm
         FROM daily d JOIN wau w USING (event_type, day)""",
    "q371_rolling_active_users_hll" ->
      """WITH ev AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  user_id
           FROM events),
         dau AS (
           SELECT event_type, day,
                  count(DISTINCT user_id)::BIGINT AS dau_exact
           FROM ev GROUP BY 1, 2),
         contrib AS (
           SELECT event_type,
                  day + i.range * INTERVAL 1 DAY AS day, user_id
           FROM ev CROSS JOIN range(7) i),
         wau AS (
           SELECT event_type, day,
                  count(DISTINCT user_id)::BIGINT AS wau_exact
           FROM contrib GROUP BY 1, 2)
         SELECT d.event_type, d.day, d.dau_exact, w.wau_exact,
                TRUE AS dau_ok, TRUE AS wau_ok
         FROM dau d JOIN wau w USING (event_type, day)""",
    "q360_cusum_changepoint" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type,
                  list(m ORDER BY day) AS arr,
                  count(*)::BIGINT AS n_days
           FROM daily GROUP BY event_type),
         tgt AS (
           SELECT event_type, arr, n_days,
                  list_reduce(arr, (a, x) -> a + x) // n_days AS target
           FROM ser),
         cs AS (
           SELECT event_type, n_days, target,
                  list_transform(range(1, n_days::INT + 1),
                    i -> list_reduce(
                           list_prepend(0::BIGINT, arr[1:i]),
                           (a, x) -> greatest(0, a + x - target)))
                    AS sser
           FROM tgt)
         SELECT event_type, n_days, target::BIGINT AS target,
                list_reduce(list_prepend(0::BIGINT, sser),
                  (a, x) -> greatest(a, x))::BIGINT AS max_cusum,
                len(list_filter(sser, x -> x > 400))::BIGINT
                  AS n_alarms,
                (list_concat(list_filter(range(1, n_days::INT + 1),
                    i -> sser[i] > 400), [-1]))[1]::BIGINT
                  AS first_alarm_idx
         FROM cs""",
    "q359_sequence_gaps" ->
      """WITH present AS (
           SELECT event_id AS id FROM events WHERE event_id % 97 <> 0),
         gaps AS (
           SELECT lag(id) OVER (ORDER BY id) + 1 AS gap_start,
                  id - 1 AS gap_end
           FROM present
           QUALIFY id - lag(id) OVER (ORDER BY id) > 1)
         SELECT gap_start::BIGINT AS gap_start,
                gap_end::BIGINT AS gap_end,
                (gap_end - gap_start + 1)::BIGINT AS width
         FROM gaps"""
  )
}
