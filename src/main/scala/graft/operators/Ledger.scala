package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch S (q451-q453):
  *
  *  - q451: FIFO cost-of-goods matching — the classic inventory
  *    ledger, restated closed-form: under FIFO the final quantity
  *    consumed from buy i is clamp(total_out - cum_in_before_i, 0,
  *    qty_i), so per-key prefix sums replace the sequential matcher
  *    entirely (no fold, no loop — two windows and an aggregate),
  *  - q452: ridge regularization path — closed-form 1-feature ridge
  *    slope Sxy/(Sxx + lambda) on a train split, validation SSE per
  *    lambda on the held-out split, all from exact integer sums,
  *  - q453: functional-dependency discovery — for each candidate
  *    A -> B, the violating-group and violating-row counts (the
  *    data-profiling primitive under schema inference and key
  *    detection; complements q380's declared-contract checks).
  *
  * Every corpus stage is a keyed aggregate or a per-key window; the
  * lambda grid and FD candidate set are constants.
  */
object Ledger {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Ledger per part: 'N'-flag lines are inbound lots (qty,
    // price = extendedprice cents / qty), others are outbound demand.
    // FIFO consumption of lot i = clamp(O - cum_before_i, 0, qty_i)
    // where O = min(total_out, total_in) (unfillable demand ignored).
    // COGS = sum over lots of consumed * unit-price cents.
    "q451_fifo_cogs" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_partkey").as("pk"),
        col("l_shipdate").as("ts"), col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        (col("l_returnflag") === "N").as("inbound"))
      val tot = li.groupBy(col("pk")).agg(
        sum(when(col("inbound"), col("qty")).otherwise(0L)).as("tin"),
        sum(when(!col("inbound"), col("qty")).otherwise(0L)).as("tout"))
      val wLot = Window.partitionBy(col("pk"))
        // (orderkey, linenumber) is not unique in the fixture: qty and
        // cents complete the total order (identical rows commute)
        .orderBy(col("ts"), col("l_orderkey"), col("l_linenumber"),
          col("qty"), col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lots = li.filter(col("inbound"))
        .withColumn("cumBefore",
          coalesce(sum(col("qty")).over(wLot), lit(0L)))
      lots.join(tot, "pk")
        .withColumn("o", least(col("tout"), col("tin")))
        .withColumn("consumed", greatest(lit(0L),
          least(col("qty"), col("o") - col("cumBefore"))))
        // unit price in cents DIV-floors; cost = consumed * unit
        .withColumn("cost", col("consumed") *
          expr("cents DIV greatest(qty, 1)"))
        .groupBy(col("pk")).agg(
          max(col("tin")).as("tin"), max(col("tout")).as("tout"),
          sum(col("consumed")).as("consumed_qty"),
          sum(col("cost")).as("cogs_cents"))
        .groupBy()
        .agg(count(lit(1)).as("n_parts"),
          sum(col("tin")).as("total_in"),
          sum(col("tout")).as("total_out"),
          sum(col("consumed_qty")).as("total_consumed"),
          sum(col("cogs_cents")).as("total_cogs_cents"),
          sum(when(col("tout") > col("tin"), 1L).otherwise(0L))
            .as("n_parts_short"))
    }),

    // Ridge path for y = retailprice cents vs x = p_size on the train
    // split (odd partkeys), validated on even partkeys: slope(l) =
    // Sxy_c / (Sxx_c + l) with centered train moments; intercept =
    // my - slope*mx; SSE_val from the validation moments — a fixed
    // double tree over exact integer sums for each lambda.
    "q452_ridge_path" -> ((s, d) => {
      val p = t(s, d, "part").select(
        (col("p_partkey") % 2).as("half"),
        col("p_size").cast("long").as("x"),
        floor(col("p_retailprice") * 100).cast("long").as("y"))
      def moments(df: DataFrame) = df.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val tr = moments(p.filter(col("half") === 1))
        .toDF("n_t", "sx_t", "sy_t", "sxx_t", "sxy_t", "syy_t")
      val va = moments(p.filter(col("half") === 0))
        .toDF("n_v", "sx_v", "sy_v", "sxx_v", "sxy_v", "syy_v")
      val lambdas = s.range(0, 7).toDF("i")
        .select((pow(lit(10.0), col("i")) * 10).as("lambda"))
      lambdas.crossJoin(broadcast(tr)).crossJoin(broadcast(va))
        .withColumn("slope", expr(
          """(sxy_t - CAST(sx_t AS DOUBLE) * sy_t / n_t)
             / ((sxx_t - CAST(sx_t AS DOUBLE) * sx_t / n_t) + lambda)"""))
        .withColumn("icept", expr(
          "CAST(sy_t AS DOUBLE) / n_t - slope * (CAST(sx_t AS DOUBLE) / n_t)"))
        // SSE_val = syy - 2a*sy - 2b*sxy + n a^2 + 2ab sx + b^2 sxx
        .withColumn("sse_val", expr(
          """syy_v - 2 * icept * sy_v - 2 * slope * sxy_v
             + n_v * icept * icept + 2 * icept * slope * sx_v
             + slope * slope * sxx_v"""))
        .select(col("lambda"), col("slope"), col("icept"),
          col("sse_val"))
        .orderBy(col("lambda"))
    }),

    // Candidate FDs over joined order facts: which determinant sets
    // actually function. violations(A -> B) = groups of A with >1
    // distinct B; violating rows = rows outside each group's majority
    // B (the repair cost).
    "q453_fd_discovery" -> ((s, d) => {
      val f = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_orderstatus"),
        year(col("o_orderdate")).as("oyear"))
      def fd(name: String, a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column): DataFrame = {
        val grp = f.groupBy(a.as("a"), b.as("b"))
          .agg(count(lit(1)).as("c"))
        val perA = grp.groupBy(col("a"))
          .agg(count(lit(1)).as("nb"), sum(col("c")).as("rows"),
            max(col("c")).as("maj"))
        perA.agg(count(lit(1)).as("n_groups"),
            sum(when(col("nb") > 1, 1L).otherwise(0L))
              .as("violating_groups"),
            sum(col("rows") - col("maj")).as("violating_rows"),
            sum(col("rows")).as("n_rows"))
          .select(lit(name).as("fd"), col("n_groups"),
            col("violating_groups"), col("violating_rows"),
            (col("violating_groups") === 0).cast("long").as("holds"))
      }
      fd("orderkey->custkey", col("o_orderkey"), col("o_custkey"))
        .unionByName(fd("custkey->priority", col("o_custkey"),
          col("o_orderpriority")))
        .unionByName(fd("priority->status", col("o_orderpriority"),
          col("o_orderstatus")))
        .unionByName(fd("custkey->year", col("o_custkey"), col("oyear")))
        .orderBy(col("fd"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q451_fifo_cogs" ->
      """WITH li AS (
           SELECT l_partkey AS pk, l_shipdate::TIMESTAMP AS ts,
                  l_orderkey, l_linenumber,
                  CAST(l_quantity AS BIGINT) AS qty,
                  floor(l_extendedprice * 100)::BIGINT AS cents,
                  (l_returnflag = 'N') AS inbound
           FROM lineitem),
         tot AS (
           SELECT pk,
                  sum(CASE WHEN inbound THEN qty ELSE 0 END)::BIGINT
                    AS tin,
                  sum(CASE WHEN NOT inbound THEN qty ELSE 0 END)::BIGINT
                    AS tout
           FROM li GROUP BY pk),
         lots AS (
           SELECT pk, qty, cents,
                  coalesce(sum(qty) OVER (PARTITION BY pk
                    ORDER BY ts, l_orderkey, l_linenumber, qty, cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)::BIGINT AS cumBefore
           FROM li WHERE inbound),
         m AS (
           SELECT l.pk, t.tin, t.tout,
                  greatest(0, least(l.qty,
                    least(t.tout, t.tin) - l.cumBefore))::BIGINT
                    AS consumed,
                  greatest(0, least(l.qty,
                    least(t.tout, t.tin) - l.cumBefore))
                    * (l.cents // greatest(l.qty, 1)) AS cost
           FROM lots l JOIN tot t ON l.pk = t.pk),
         per AS (
           SELECT pk, max(tin) AS tin, max(tout) AS tout,
                  sum(consumed)::BIGINT AS consumed_qty,
                  sum(cost)::BIGINT AS cogs_cents
           FROM m GROUP BY pk)
         SELECT count(*)::BIGINT AS n_parts,
                sum(tin)::BIGINT AS total_in,
                sum(tout)::BIGINT AS total_out,
                sum(consumed_qty)::BIGINT AS total_consumed,
                sum(cogs_cents)::BIGINT AS total_cogs_cents,
                sum(CASE WHEN tout > tin THEN 1 ELSE 0 END)::BIGINT
                  AS n_parts_short
         FROM per""",

    "q452_ridge_path" ->
      """WITH p AS (
           SELECT (p_partkey % 2)::BIGINT AS half,
                  p_size::BIGINT AS x,
                  floor(p_retailprice * 100)::BIGINT AS y
           FROM part),
         tr AS (
           SELECT count(*)::BIGINT AS n_t, sum(x)::BIGINT AS sx_t,
                  sum(y)::BIGINT AS sy_t, sum(x * x)::BIGINT AS sxx_t,
                  sum(x * y)::BIGINT AS sxy_t,
                  sum(y * y)::BIGINT AS syy_t
           FROM p WHERE half = 1),
         va AS (
           SELECT count(*)::BIGINT AS n_v, sum(x)::BIGINT AS sx_v,
                  sum(y)::BIGINT AS sy_v, sum(x * x)::BIGINT AS sxx_v,
                  sum(x * y)::BIGINT AS sxy_v,
                  sum(y * y)::BIGINT AS syy_v
           FROM p WHERE half = 0),
         grid AS (
           SELECT power(10.0, g.i) * 10 AS lambda
           FROM generate_series(0, 6) AS g(i)),
         path AS (
           SELECT lambda,
                  (sxy_t - CAST(sx_t AS DOUBLE) * sy_t / n_t)
                    / ((sxx_t - CAST(sx_t AS DOUBLE) * sx_t / n_t)
                       + lambda) AS slope
           FROM grid CROSS JOIN tr),
         fl AS (
           SELECT p.lambda, p.slope,
                  CAST(sy_t AS DOUBLE) / n_t
                    - p.slope * (CAST(sx_t AS DOUBLE) / n_t) AS icept
           FROM path p CROSS JOIN tr)
         SELECT f.lambda, f.slope, f.icept,
                syy_v - 2 * f.icept * sy_v - 2 * f.slope * sxy_v
                  + n_v * f.icept * f.icept
                  + 2 * f.icept * f.slope * sx_v
                  + f.slope * f.slope * sxx_v AS sse_val
         FROM fl f CROSS JOIN va ORDER BY f.lambda""",

    "q453_fd_discovery" ->
      """WITH f AS (
           SELECT o_orderkey, o_custkey, o_orderpriority, o_orderstatus,
                  year(o_orderdate) AS oyear
           FROM orders),
         cands AS (
           SELECT 'orderkey->custkey' AS fd,
                  CAST(o_orderkey AS VARCHAR) AS a,
                  CAST(o_custkey AS VARCHAR) AS b FROM f
           UNION ALL
           SELECT 'custkey->priority', CAST(o_custkey AS VARCHAR),
                  o_orderpriority FROM f
           UNION ALL
           SELECT 'priority->status', o_orderpriority, o_orderstatus
           FROM f
           UNION ALL
           SELECT 'custkey->year', CAST(o_custkey AS VARCHAR),
                  CAST(oyear AS VARCHAR) FROM f),
         grp AS (
           SELECT fd, a, b, count(*)::BIGINT AS c
           FROM cands GROUP BY 1, 2, 3),
         per_a AS (
           SELECT fd, a, count(*)::BIGINT AS nb, sum(c)::BIGINT AS rows,
                  max(c)::BIGINT AS maj
           FROM grp GROUP BY 1, 2)
         SELECT fd, count(*)::BIGINT AS n_groups,
                sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
                  AS violating_groups,
                sum(rows - maj)::BIGINT AS violating_rows,
                (CASE WHEN sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0
                      THEN 1 ELSE 0 END)::BIGINT AS holds
         FROM per_a GROUP BY fd ORDER BY fd""",
  )
}

/** Round-9 batch AF (q490-q492) — portfolio + growth analytics:
  *
  *  - q490: variance decomposition — how much each event_type
  *    contributes to the variance of TOTAL daily revenue:
  *    MCV_i = Σ_j cov(i,j) / var(total), which sums to exactly 1
  *    (the portfolio risk-decomposition identity, pinned in the
  *    spec). Covariances from exact day-grain cent sums (the q385
  *    correlation-matrix recipe repurposed).
  *  - q491: ABC-XYZ inventory classification — brands classified by
  *    revenue share (A: top cum 80%, B: next 15%, C: rest) x demand
  *    variability (X: weekly CV < 0.5, Y: < 1.0, Z: rest). The
  *    Pareto rank runs on the bounded brand dimension; weekly CVs
  *    from exact sums.
  *  - q492: growth accounting — per week classify users as
  *    new / retained / resurrected, count churned from the prior
  *    week, and report the quick ratio (new + resurrected) /
  *    churned in ppm. One (user, week) dedup, one lag per user.
  */
object Portfolio {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q490_variance_decomposition" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"), col("event_type"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("rev"))
      // dense (type x day) grid so covariances see the zero days
      val days = daily.select(col("day")).distinct()
      val types = daily.select(col("event_type")).distinct()
      val dense = types.crossJoin(days)
        .join(daily, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("rev"))
      val a = dense.select(col("day"), col("event_type").as("ti"),
        col("rev").as("ri"))
      val b = dense.select(col("day").as("day_b"),
        col("event_type").as("tj"), col("rev").as("rj"))
      val nDays = days.agg(count(lit(1)).as("nd"))
      // pairwise day-aligned products: 25 pairs x day-grain rows
      val cov = a.join(b, col("day") === col("day_b"))
        .groupBy(col("ti"), col("tj"))
        .agg(sum(col("ri") * col("rj")).as("sij"),
          sum(col("ri")).as("si"), sum(col("rj")).as("sj"))
        .crossJoin(broadcast(nDays))
        .withColumn("cov_ij", col("sij") / col("nd") -
          (col("si") / col("nd").cast("double")) *
            (col("sj") / col("nd").cast("double")))
      val perType = cov.groupBy(col("ti"))
        .agg(sum(col("cov_ij")).as("mcv_num"))
      val total = cov.agg(sum(col("cov_ij")).as("var_total"))
      perType.crossJoin(broadcast(total))
        .select(col("ti").as("event_type"),
          floor(col("mcv_num") / col("var_total") * lit(1000000.0))
            .cast("long").as("variance_share_ppm"))
        .orderBy(col("event_type"))
    }),

    "q491_abc_xyz" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          floor(unix_timestamp(col("l_shipdate").cast("timestamp")) /
            lit(604800L)).cast("long").as("week"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val weekly = li.groupBy(col("brand"), col("week"))
        .agg(sum(col("cents")).as("wrev"))
      // squared weekly revenue exceeds 2^63 at sf1 — lift the
      // OPERAND to DECIMAL so the per-row product never sits in long
      val perBrand = weekly.groupBy(col("brand"))
        .agg(sum(col("wrev")).as("rev"), count(lit(1)).as("nw"),
          sum(col("wrev").cast("decimal(19,0)") * col("wrev"))
            .as("srr"))
      val tot = perBrand.agg(sum(col("rev")).as("total"))
      val wCum = Window.orderBy(col("rev").desc, col("brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBrand.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("rev")).over(wCum)) // 25-row window
        // cum*1e6 exceeds 2^63 at sf1 -> lift to DECIMAL first
        .withColumn("cum_ppm", expr(
          "CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) DIV total" +
            " AS BIGINT)"))
        .withColumn("abc", when(col("cum_ppm") <= 800000, "A")
          .when(col("cum_ppm") <= 950000, "B").otherwise("C"))
        .withColumn("mean_w", col("rev") / col("nw").cast("double"))
        .withColumn("cv_milli", floor(lit(1000.0) *
          sqrt(col("srr").cast("double") / col("nw") -
            (col("rev") / col("nw")) * (col("rev") / col("nw"))) /
          (col("rev") / col("nw"))).cast("long"))
        .withColumn("xyz", when(col("cv_milli") < 500, "X")
          .when(col("cv_milli") < 1000, "Y").otherwise("Z"))
        .select(col("brand"), col("rev"), col("cum_ppm"), col("abc"),
          col("cv_milli"), col("xyz"))
        .orderBy(col("brand"))
    }),

    "q492_growth_accounting" -> ((s, d) => {
      val uw = t(s, d, "events")
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 604800L).cast("long")
            .as("week"))
        .distinct()
      val wU = Window.partitionBy(col("user_id")).orderBy(col("week"))
      val marked = uw
        .withColumn("prev_w", lag(col("week"), 1).over(wU))
        .withColumn("status",
          when(col("prev_w").isNull, "new")
            .when(col("prev_w") === col("week") - 1, "retained")
            .otherwise("resurrected"))
      val active = marked.groupBy(col("week"))
        .agg(sum(when(col("status") === "new", 1L).otherwise(0L))
            .as("new_users"),
          sum(when(col("status") === "retained", 1L).otherwise(0L))
            .as("retained"),
          sum(when(col("status") === "resurrected", 1L).otherwise(0L))
            .as("resurrected"),
          count(lit(1)).as("active"))
      // churned(w) = active(w-1) - retained(w)
      val prev = active.select((col("week") + 1).as("week"),
        col("active").as("prev_active"))
      active.join(prev, Seq("week"), "left")
        .filter(col("prev_active").isNotNull)
        .withColumn("churned", col("prev_active") - col("retained"))
        .withColumn("quick_ratio_milli", expr(
          """CASE WHEN churned > 0
             THEN (new_users + resurrected) * 1000 DIV churned
             ELSE -1 END"""))
        .select(col("week"), col("new_users"), col("retained"),
          col("resurrected"), col("churned"),
          col("quick_ratio_milli"))
        .orderBy(col("week"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q490_variance_decomposition" ->
      """WITH daily AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  event_type,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS rev
           FROM events GROUP BY 1, 2),
         days AS (SELECT DISTINCT day FROM daily),
         types AS (SELECT DISTINCT event_type FROM daily),
         dense AS (
           SELECT t.event_type, dy.day,
                  coalesce(d.rev, 0)::BIGINT AS rev
           FROM types t CROSS JOIN days dy
           LEFT JOIN daily d ON d.event_type = t.event_type
                            AND d.day = dy.day),
         nd AS (SELECT count(*)::BIGINT AS nd FROM days),
         cov AS (
           SELECT a.event_type AS ti, b.event_type AS tj,
                  sum(a.rev * b.rev) / (SELECT nd FROM nd)
                    - (sum(a.rev) / CAST((SELECT nd FROM nd) AS DOUBLE))
                      * (sum(b.rev)
                         / CAST((SELECT nd FROM nd) AS DOUBLE))
                    AS cov_ij
           FROM dense a JOIN dense b ON a.day = b.day
           GROUP BY a.event_type, b.event_type),
         per_type AS (
           SELECT ti, sum(cov_ij) AS mcv_num FROM cov GROUP BY ti),
         total AS (SELECT sum(cov_ij) AS var_total FROM cov)
         SELECT ti AS event_type,
                floor(mcv_num / var_total * 1000000.0)::BIGINT
                  AS variance_share_ppm
         FROM per_type CROSS JOIN total
         ORDER BY event_type""",

    "q491_abc_xyz" ->
      """WITH li AS (
           SELECT p_brand AS brand,
                  floor(epoch(l_shipdate::TIMESTAMP)
                    / 604800)::BIGINT AS week,
                  floor(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         weekly AS (
           SELECT brand, week, sum(cents)::BIGINT AS wrev
           FROM li GROUP BY brand, week),
         per_brand AS (
           -- wrev::HUGEINT before the square: BIGINT*BIGINT aborts
           -- on overflow at large SF
           SELECT brand, sum(wrev)::BIGINT AS rev,
                  count(*)::BIGINT AS nw,
                  sum(wrev::HUGEINT * wrev) AS srr
           FROM weekly GROUP BY brand),
         tot AS (SELECT sum(rev) AS total FROM per_brand),
         ranked AS (
           SELECT brand, rev, nw, srr,
                  sum(rev) OVER (ORDER BY rev DESC, brand
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
           FROM per_brand),
         scored AS (
           SELECT brand, rev,
                  (cum * 1000000 // (SELECT total FROM tot))::BIGINT
                    AS cum_ppm,
                  floor(1000.0
                    * sqrt(srr / nw - (CAST(rev AS DOUBLE) / nw)
                           * (CAST(rev AS DOUBLE) / nw))
                    / (CAST(rev AS DOUBLE) / nw))::BIGINT AS cv_milli
           FROM ranked)
         SELECT brand, rev, cum_ppm,
                (CASE WHEN cum_ppm <= 800000 THEN 'A'
                      WHEN cum_ppm <= 950000 THEN 'B'
                      ELSE 'C' END) AS abc,
                cv_milli,
                (CASE WHEN cv_milli < 500 THEN 'X'
                      WHEN cv_milli < 1000 THEN 'Y'
                      ELSE 'Z' END) AS xyz
         FROM scored ORDER BY brand""",

    "q492_growth_accounting" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
                  floor(epoch(ts::TIMESTAMP) / 604800)::BIGINT AS week
           FROM events),
         marked AS (
           SELECT week,
                  CASE WHEN prev_w IS NULL THEN 'new'
                       WHEN prev_w = week - 1 THEN 'retained'
                       ELSE 'resurrected' END AS status
           FROM (SELECT user_id, week,
                        lag(week) OVER (PARTITION BY user_id
                          ORDER BY week) AS prev_w
                 FROM uw) q),
         active AS (
           SELECT week,
                  sum(CASE WHEN status = 'new' THEN 1 ELSE 0
                      END)::BIGINT AS new_users,
                  sum(CASE WHEN status = 'retained' THEN 1 ELSE 0
                      END)::BIGINT AS retained,
                  sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0
                      END)::BIGINT AS resurrected,
                  count(*)::BIGINT AS active
           FROM marked GROUP BY week),
         j AS (
           SELECT a.week, a.new_users, a.retained, a.resurrected,
                  p.active AS prev_active
           FROM active a JOIN active p ON p.week = a.week - 1)
         SELECT week, new_users, retained, resurrected,
                (prev_active - retained)::BIGINT AS churned,
                (CASE WHEN prev_active - retained > 0
                 THEN (new_users + resurrected) * 1000
                      // (prev_active - retained)
                 ELSE -1 END)::BIGINT AS quick_ratio_milli
         FROM j ORDER BY week"""
  )
}


/** Round-9 batch AQ (q523-q525) — unit economics, robust fitting,
  * and classical seasonal adjustment:
  *
  *  - q523: cohort payback period — cumulative per-user purchase
  *    revenue by week-since-acquisition against a fixed acquisition
  *    cost; the first week where cumulative revenue covers CAC is
  *    the payback week (-1 if not reached in horizon). Cohort×week
  *    grid is calendar-bounded; one corpus aggregate.
  *  - q524: one-step Huber M-estimation of price~quantity — OLS
  *    first pass, per-row Huber weights w = min(1, c/|r|) QUANTIZED
  *    to ppm integers (so the reweighted sums stay exact integer /
  *    DECIMAL and engine float-sum order cannot drift), weighted
  *    second pass in closed form. Reports both fits and how many
  *    rows were down-weighted — the robust alternative to q470's
  *    rolling OLS when tails are heavy.
  *  - q525: ratio-to-moving-average seasonal indices — the classical
  *    decomposition used for weekday adjustment: centered 7-day MA
  *    (full windows only), per-row ratio kept integral as
  *    rev·7·10⁶ / sum7, averaged per weekday, then normalized so the
  *    7 indices sum to 7·10⁶. Day-grain windows only.
  */
object Payback {

  type Q = (SparkSession, String) => DataFrame

  private val CAC_CENTS = 5000L

  val queries: Seq[(String, Q)] = Seq(

    "q523_cohort_payback" -> ((s, d) => {
      val purch = graft.Stage(t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("floor(unix_timestamp(ts) / 86400) DIV 7").as("aw"),
          floor(col("value") * 100).cast("long").as("cents")),
        "q523_purch")
      val first = purch.groupBy(col("user_id"))
        .agg(min(col("aw")).as("cw"))
      val sizes = first.groupBy(col("cw"))
        .agg(count(lit(1)).as("cohort_size"))
      val grid = purch.join(first, Seq("user_id"))
        .withColumn("k", col("aw") - col("cw"))
        .filter(col("k").between(0, 3))
        .groupBy(col("cw"), col("k"))
        .agg(sum(col("cents")).as("rev"))
      val wk = Window.partitionBy(col("cw")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum_rev", sum(col("rev")).over(wk))
        .join(sizes, Seq("cw"))
      val payback = cum
        .filter(col("cum_rev") >= lit(CAC_CENTS) * col("cohort_size"))
        .groupBy(col("cw")).agg(min(col("k")).as("pk"))
      cum.groupBy(col("cw"), col("cohort_size"))
        .agg(sum(when(col("k") === 0, col("rev"))).as("rev_w0"),
          sum(when(col("k") === 1, col("rev"))).as("rev_w1"),
          sum(when(col("k") === 2, col("rev"))).as("rev_w2"),
          sum(when(col("k") === 3, col("rev"))).as("rev_w3"))
        .join(payback, Seq("cw"), "left")
        .select(col("cw").as("cohort_week"), col("cohort_size"),
          coalesce(col("rev_w0"), lit(0L)).as("rev_w0"),
          coalesce(col("rev_w1"), lit(0L)).as("rev_w1"),
          coalesce(col("rev_w2"), lit(0L)).as("rev_w2"),
          coalesce(col("rev_w3"), lit(0L)).as("rev_w3"),
          coalesce(col("pk"), lit(-1L)).as("payback_week"))
        .orderBy(col("cohort_week"))
    }),

    "q524_huber_regression" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100).cast("long").as("y")),
        "q524_base")
      val p1 = base.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .withColumn("b1",
          (col("n").cast("decimal(38,0)") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
            / (col("n").cast("decimal(38,0)") * col("sxx")
              - col("sx").cast("decimal(38,0)") * col("sx"))
              .cast("double"))
        .withColumn("a1",
          (col("sy").cast("double") - col("b1") * col("sx").cast("double"))
            / col("n").cast("double"))
      // |residual| floored to cents -> exact scale; Huber c = 1.345·s̄
      val scored = graft.Stage(base.crossJoin(broadcast(p1
          .select(col("a1"), col("b1"), col("n"))))
        .withColumn("rc",
          floor(abs(col("y").cast("double")
            - (col("a1") + col("b1") * col("x").cast("double"))))
            .cast("long")), "q524_scored")
      val scale = scored.agg(sum(col("rc")).as("sr"),
        first(col("n")).as("n"))
        .select((col("sr").cast("double") / col("n") * 1.345).as("c"))
      val weighted = scored.crossJoin(broadcast(scale))
        .withColumn("w_ppm",
          when(col("rc").cast("double") <= col("c"), 1000000L)
            .otherwise(floor(col("c") * 1e6 / col("rc").cast("double"))
              .cast("long")))
      val p2 = weighted.agg(
        sum(col("w_ppm")).as("sw"),
        sum(col("w_ppm").cast("decimal(38,0)") * col("x")).as("swx"),
        sum(col("w_ppm").cast("decimal(38,0)") * col("y")).as("swy"),
        sum(col("w_ppm").cast("decimal(38,0)") * col("x") * col("y"))
          .as("swxy"),
        sum(col("w_ppm").cast("decimal(38,0)") * col("x") * col("x"))
          .as("swxx"),
        sum(when(col("w_ppm") < 1000000L, 1L).otherwise(0L))
          .as("n_downweighted"),
        first(col("a1")).as("a1"), first(col("b1")).as("b1"),
        first(col("n")).as("n"))
        .withColumn("b2",
          (col("sw").cast("decimal(38,0)") * col("swxy")
            - col("swx") * col("swy")).cast("double")
            / (col("sw").cast("decimal(38,0)") * col("swxx")
              - col("swx") * col("swx")).cast("double"))
        .withColumn("a2",
          (col("swy").cast("double") - col("b2") * col("swx").cast("double"))
            / col("sw").cast("double"))
      p2.select(col("n"),
        floor(col("b1") * 1e6).cast("long").as("slope_ols_micro"),
        floor(col("b2") * 1e6).cast("long").as("slope_huber_micro"),
        floor(col("a1")).cast("long").as("intercept_ols_cents"),
        floor(col("a2")).cast("long").as("intercept_huber_cents"),
        col("n_downweighted"))
    }),

    "q525_seasonal_index" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 86400L)
          .cast("long").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("rev"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3) // day grain
      val ratios = daily
        .withColumn("sum7", sum(col("rev")).over(w7))
        .withColumn("cnt7", count(lit(1)).over(w7))
        .filter(col("cnt7") === 7) // full centered windows only
        .withColumn("ratio_ppm",
          expr("rev * 7 * 1000000 DIV sum7"))
        .withColumn("dow", col("day") % 7)
      val byDow = ratios.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("ratio_ppm")).as("sr"))
        .withColumn("raw_index_ppm",
          expr("sr DIV n_days"))
      val tot = byDow.agg(sum(col("raw_index_ppm")).as("t"))
      byDow.crossJoin(broadcast(tot))
        .select(col("dow"), col("n_days"), col("raw_index_ppm"),
          expr("raw_index_ppm * 7000000 DIV t").as("norm_index_ppm"))
        .orderBy(col("dow"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q523_cohort_payback" ->
      s"""WITH purch AS (
           SELECT user_id,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT // 7
                    AS aw,
                  floor(value * 100)::BIGINT AS cents
           FROM events WHERE event_type = 'purchase'),
         first_w AS (
           SELECT user_id, min(aw) AS cw FROM purch GROUP BY user_id),
         sizes AS (
           SELECT cw, count(*)::BIGINT AS cohort_size
           FROM first_w GROUP BY cw),
         grid AS (
           SELECT f.cw, p.aw - f.cw AS k, sum(p.cents)::BIGINT AS rev
           FROM purch p JOIN first_w f ON p.user_id = f.user_id
           WHERE p.aw - f.cw BETWEEN 0 AND 3
           GROUP BY 1, 2),
         cum AS (
           SELECT g.cw, g.k, g.rev, s.cohort_size,
                  sum(g.rev) OVER (PARTITION BY g.cw ORDER BY g.k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_rev
           FROM grid g JOIN sizes s ON g.cw = s.cw),
         payback AS (
           SELECT cw, min(k)::BIGINT AS pk
           FROM cum WHERE cum_rev >= $CAC_CENTS * cohort_size
           GROUP BY cw),
         piv AS (
           SELECT cw, cohort_size,
                  coalesce(sum(CASE WHEN k = 0 THEN rev END), 0)
                    ::BIGINT AS rev_w0,
                  coalesce(sum(CASE WHEN k = 1 THEN rev END), 0)
                    ::BIGINT AS rev_w1,
                  coalesce(sum(CASE WHEN k = 2 THEN rev END), 0)
                    ::BIGINT AS rev_w2,
                  coalesce(sum(CASE WHEN k = 3 THEN rev END), 0)
                    ::BIGINT AS rev_w3
           FROM cum GROUP BY cw, cohort_size)
         SELECT p.cw AS cohort_week, p.cohort_size,
                p.rev_w0, p.rev_w1, p.rev_w2, p.rev_w3,
                coalesce(b.pk, -1)::BIGINT AS payback_week
         FROM piv p LEFT JOIN payback b ON p.cw = b.cw
         ORDER BY cohort_week""",

    "q524_huber_regression" ->
      """WITH base AS (
           SELECT CAST(l_quantity AS BIGINT) AS x,
                  floor(l_extendedprice * 100)::BIGINT AS y
           FROM lineitem),
         p1 AS (
           SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                  sum(y)::BIGINT AS sy,
                  sum(x::HUGEINT * y) AS sxy,
                  sum(x::HUGEINT * x) AS sxx
           FROM base),
         fit1 AS (
           SELECT n, sx, sy,
             CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
               / CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE)
               AS b1
           FROM p1),
         fit1b AS (
           SELECT n, b1,
             (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS a1
           FROM fit1),
         scored AS (
           SELECT b.x, b.y, f.a1, f.b1, f.n,
             floor(abs(CAST(b.y AS DOUBLE)
               - (f.a1 + f.b1 * CAST(b.x AS DOUBLE))))::BIGINT AS rc
           FROM base b, fit1b f),
         scale AS (
           SELECT CAST(sum(rc) AS DOUBLE) / any_value(n) * 1.345 AS c
           FROM scored),
         weighted AS (
           SELECT s.x, s.y, s.a1, s.b1, s.n,
             (CASE WHEN CAST(s.rc AS DOUBLE) <= sc.c THEN 1000000
              ELSE floor(sc.c * 1e6 / CAST(s.rc AS DOUBLE))::BIGINT
              END)::BIGINT AS w_ppm
           FROM scored s, scale sc),
         p2 AS (
           SELECT sum(w_ppm)::BIGINT AS sw,
                  sum(w_ppm::HUGEINT * x) AS swx,
                  sum(w_ppm::HUGEINT * y) AS swy,
                  sum(w_ppm::HUGEINT * x * y) AS swxy,
                  sum(w_ppm::HUGEINT * x * x) AS swxx,
                  sum(CASE WHEN w_ppm < 1000000 THEN 1 ELSE 0 END)
                    ::BIGINT AS n_downweighted,
                  any_value(a1) AS a1, any_value(b1) AS b1,
                  any_value(n) AS n
           FROM weighted),
         fit2 AS (
           SELECT n, a1, b1, n_downweighted, sw, swx, swy,
             CAST(sw::HUGEINT * swxy - swx * swy AS DOUBLE)
               / CAST(sw::HUGEINT * swxx - swx * swx AS DOUBLE) AS b2
           FROM p2),
         fit2b AS (
           SELECT n, a1, b1, b2, n_downweighted,
             (CAST(swy AS DOUBLE) - b2 * CAST(swx AS DOUBLE))
               / CAST(sw AS DOUBLE) AS a2
           FROM fit2)
         SELECT n,
                floor(b1 * 1e6)::BIGINT AS slope_ols_micro,
                floor(b2 * 1e6)::BIGINT AS slope_huber_micro,
                floor(a1)::BIGINT AS intercept_ols_cents,
                floor(a2)::BIGINT AS intercept_huber_cents,
                n_downweighted
         FROM fit2b""",

    "q525_seasonal_index" ->
      """WITH daily AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS rev
           FROM events GROUP BY 1),
         ma AS (
           SELECT day, rev,
             sum(rev) OVER w AS sum7,
             count(*) OVER w AS cnt7
           FROM daily
           WINDOW w AS (ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         ratios AS (
           SELECT day % 7 AS dow,
                  (rev * 7 * 1000000 // sum7)::BIGINT AS ratio_ppm
           FROM ma WHERE cnt7 = 7),
         by_dow AS (
           SELECT dow, count(*)::BIGINT AS n_days,
                  (sum(ratio_ppm) // count(*))::BIGINT
                    AS raw_index_ppm
           FROM ratios GROUP BY dow),
         tot AS (
           SELECT sum(raw_index_ppm)::BIGINT AS t FROM by_dow)
         SELECT b.dow, b.n_days, b.raw_index_ppm,
                (b.raw_index_ppm * 7000000 // t.t)::BIGINT
                  AS norm_index_ppm
         FROM by_dow b, tot t
         ORDER BY b.dow"""
  )
}


/** Round-9 batch AA (q475-q477) — econometrics + attribution:
  *
  *  - q475: log-log price elasticity per brand — OLS slope of
  *    ln(quantity) on ln(unit price) from exact closed-form sums
  *    (the econ twin of q469's rolling OLS; one keyed aggregate).
  *  - q476: iterative proportional fitting (raking) — reweight the
  *    (event_type x hour) cell table so both margins match uniform
  *    targets, two full row/column sweeps. The corpus stage is one
  *    cell aggregate; every IPF sweep is arithmetic on the bounded
  *    120-cell table (survey/mixture reweighting for training-data
  *    pipelines).
  *  - q477: EXACT Shapley value attribution over 4 marketing
  *    channels (view/click/signup/error -> purchase conversion).
  *    Users collapse to one of 16 touch patterns; the coalition
  *    value v(S) = conversions reachable with channels ⊆ S is a
  *    16-row zeta transform; Shapley weights s!(3-s)! keep the
  *    whole computation in exact integers (phi x 24). Efficiency
  *    (sum phi = v(full) − v(empty)) is pinned in the spec.
  */
object Econ {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q477_shapley_attribution" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      // per-user touch pattern over the 4 channels + conversion flag
      val users = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          (max(when(col("event_type") === "view", 1L).otherwise(0L)) +
           max(when(col("event_type") === "click", 2L).otherwise(0L)) +
           max(when(col("event_type") === "signup", 4L).otherwise(0L)) +
           max(when(col("event_type") === "error", 8L).otherwise(0L)))
            .as("pattern"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val pat = users.groupBy(col("pattern"))
        .agg(sum(col("conv")).as("convs"))
      // v(S) = conversions among users whose pattern ⊆ S
      val subsets = (0L until 16L).toDF("s")
      val v = subsets.join(pat,
          (col("pattern").bitwiseAND(col("s"))) === col("pattern"),
          "left")
        .groupBy(col("s")).agg(coalesce(sum(col("convs")), lit(0L))
          .as("v"))
      // Shapley x 24 (exact): for channel i, sum over S w/o i of
      // s!(3-s)! * (v(S+i) - v(S)); weights {6,2,2,6} for |S|=0..3
      val channels = Seq((1L, "view"), (2L, "click"), (4L, "signup"),
        (8L, "error")).toDF("bit", "channel")
      val vS = v.select(col("s").as("s0"), col("v").as("v0"))
      val vSi = v.select(col("s").as("s1"), col("v").as("v1"))
      channels.crossJoin(vS)
        .filter((col("s0").bitwiseAND(col("bit"))) === 0L)
        .join(vSi, col("s1") === col("s0") + col("bit"))
        .withColumn("popc", (col("s0").bitwiseAND(lit(1L))) +
          shiftright(col("s0").bitwiseAND(lit(2L)), 1) +
          shiftright(col("s0").bitwiseAND(lit(4L)), 2) +
          shiftright(col("s0").bitwiseAND(lit(8L)), 3))
        .withColumn("wgt", when(col("popc") === 0L, 6L)
          .when(col("popc") === 3L, 6L).otherwise(2L))
        .groupBy(col("channel"))
        .agg(sum(col("wgt") * (col("v1") - col("v0")))
          .as("shapley_x24"))
        .orderBy(col("shapley_x24").desc, col("channel"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q475_price_elasticity" ->
      """WITH li AS (
           SELECT p_brand AS brand,
                  ln(l_extendedprice / l_quantity) AS x,
                  ln(CAST(l_quantity AS DOUBLE)) AS y
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_quantity > 0),
         agg AS (
           SELECT brand, count(*)::BIGINT AS n,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM li GROUP BY brand)
         SELECT brand, n,
                floor(1000.0 * (n * sxy - sx * sy)
                  / (n * sxx - sx * sx))::BIGINT AS elasticity_milli
         FROM agg WHERE n >= 10
         ORDER BY brand""",

    "q476_ipf_raking" ->
      """WITH cells AS (
           SELECT event_type,
                  extract(hour FROM ts::TIMESTAMP)::BIGINT AS hr,
                  count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         tot AS (
           SELECT sum(n) AS total,
                  count(DISTINCT event_type)::BIGINT AS nt,
                  count(DISTINCT hr)::BIGINT AS nh
           FROM cells),
         w0 AS (SELECT event_type, hr, n, 1.0 AS w FROM cells),
         r1 AS (
           SELECT w0.event_type, hr, n,
                  w * ((SELECT total FROM tot)
                       / (SELECT nt FROM tot)) / rmass AS w
           FROM w0 JOIN (SELECT event_type,
                                sum(w * n) AS rmass
                         FROM w0 GROUP BY event_type) rs
             ON w0.event_type = rs.event_type),
         c1 AS (
           SELECT event_type, r1.hr, n,
                  w * ((SELECT total FROM tot)
                       / (SELECT nh FROM tot)) / cmass AS w
           FROM r1 JOIN (SELECT hr, sum(w * n) AS cmass
                         FROM r1 GROUP BY hr) cs
             ON r1.hr = cs.hr),
         r2 AS (
           SELECT c1.event_type, hr, n,
                  w * ((SELECT total FROM tot)
                       / (SELECT nt FROM tot)) / rmass AS w
           FROM c1 JOIN (SELECT event_type,
                                sum(w * n) AS rmass
                         FROM c1 GROUP BY event_type) rs
             ON c1.event_type = rs.event_type),
         c2 AS (
           SELECT event_type, r2.hr, n,
                  w * ((SELECT total FROM tot)
                       / (SELECT nh FROM tot)) / cmass AS w
           FROM r2 JOIN (SELECT hr, sum(w * n) AS cmass
                         FROM r2 GROUP BY hr) cs
             ON r2.hr = cs.hr)
         SELECT event_type, sum(n)::BIGINT AS raw_n,
                floor(sum(w * n) * 1000)::BIGINT AS raked_mass_milli,
                floor(max(w) * 1000000)::BIGINT AS max_weight_micro,
                floor(min(w) * 1000000)::BIGINT AS min_weight_micro
         FROM c2 GROUP BY event_type
         ORDER BY event_type""",

    "q477_shapley_attribution" ->
      """WITH users AS (
           SELECT user_id,
                  (max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   + max(CASE WHEN event_type = 'click' THEN 2
                         ELSE 0 END)
                   + max(CASE WHEN event_type = 'signup' THEN 4
                         ELSE 0 END)
                   + max(CASE WHEN event_type = 'error' THEN 8
                         ELSE 0 END))::BIGINT AS pattern,
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END)::BIGINT AS conv
           FROM events GROUP BY user_id),
         pat AS (
           SELECT pattern, sum(conv)::BIGINT AS convs
           FROM users GROUP BY pattern),
         subsets AS (SELECT unnest(generate_series(0, 15))::BIGINT AS s),
         v AS (
           SELECT s, coalesce(sum(convs), 0)::BIGINT AS v
           FROM subsets LEFT JOIN pat ON (pattern & s) = pattern
           GROUP BY s),
         channels AS (
           SELECT * FROM (VALUES (1::BIGINT, 'view'),
             (2::BIGINT, 'click'), (4::BIGINT, 'signup'),
             (8::BIGINT, 'error')) t(bit, channel)),
         terms AS (
           SELECT c.channel,
                  ((s0.s & 1) + ((s0.s & 2) >> 1) + ((s0.s & 4) >> 2)
                   + ((s0.s & 8) >> 3)) AS popc,
                  s0.v AS v0, s1.v AS v1
           FROM channels c
           JOIN v s0 ON (s0.s & c.bit) = 0
           JOIN v s1 ON s1.s = s0.s + c.bit)
         SELECT channel,
                sum((CASE WHEN popc = 0 OR popc = 3 THEN 6 ELSE 2 END)
                  * (v1 - v0))::BIGINT AS shapley_x24
         FROM terms
         GROUP BY channel
         ORDER BY shapley_x24 DESC, channel"""
  )
}


/** Round-9 batch T (q454-q456):
  *
  *  - q454: learning curve — fit the closed-form OLS on nested
  *    training subsets (the first k of 10 hash-deciles, k = 1..10)
  *    and report held-out SSE per k: "how much data buys how much
  *    model" is THE planning question for a 100 TB training corpus.
  *    Nested subsets come from cumulative per-decile moments, so one
  *    aggregate serves all ten fits.
  *  - q455: position-bias click model (COEC — clicks over expected
  *    clicks): position-level CTR baseline from one pass; per item,
  *    actual clicks vs the sum of its impressions' positional
  *    baselines (ppm). The de-biased engagement metric behind search
  *    ranking evals (complements q377's recall/MRR/NDCG).
  *  - q456: Mahalanobis outliers in 2-D — closed-form inverse of the
  *    2x2 covariance from exact moments; flag rows whose squared
  *    Mahalanobis distance exceeds the chi-square 99% cut (9.21).
  *    The multivariate sibling of q348's univariate median/MAD gate.
  *
  * All moments are exact integers; doubles only in fixed closed-form
  * trees. One corpus aggregate per query plus a broadcast re-scan for
  * the q456 distance flagging.
  */
object Curves {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // y = o_totalprice cents vs x = customer account balance cents:
    // decile d = o_orderkey % 10; train on deciles < k, validate on a
    // fixed held-out split (o_orderkey % 10 == 9 excluded from every
    // train set; k runs 1..9).
    "q454_learning_curve" -> ((s, d) => {
      val j = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select((col("o_orderkey") % 10).as("dec"),
          floor(col("c_acctbal") * 100).cast("long").as("x"),
          floor(col("o_totalprice") * 100).cast("long").as("y"))
      // second moments in DECIMAL(38,0): sum(y*y) over cent-scaled
      // totalprice exceeds 2^63 at sf0.1 (~5e19) — long would overflow
      val perDec = j.groupBy(col("dec")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      val ks = s.range(1, 10).toDF("k")
      // cumulative train moments over deciles < k (10x10 tiny join)
      val train = ks.join(perDec, col("dec") < col("k"))
        .groupBy(col("k")).agg(sum(col("n")).as("n_t"),
          sum(col("sx")).as("sx_t"), sum(col("sy")).as("sy_t"),
          sum(col("sxx")).as("sxx_t"), sum(col("sxy")).as("sxy_t"))
      val va = perDec.filter(col("dec") === 9)
        .select(col("n").as("n_v"), col("sx").as("sx_v"),
          col("sy").as("sy_v"), col("sxx").as("sxx_v"),
          col("sxy").as("sxy_v"), col("syy").as("syy_v"))
      train.crossJoin(broadcast(va))
        .withColumn("slope", expr(
          """(sxy_t - CAST(sx_t AS DOUBLE) * sy_t / n_t)
             / (sxx_t - CAST(sx_t AS DOUBLE) * sx_t / n_t)"""))
        .withColumn("icept", expr(
          "CAST(sy_t AS DOUBLE) / n_t - slope * (CAST(sx_t AS DOUBLE) / n_t)"))
        .withColumn("sse_val", expr(
          """syy_v - 2 * icept * sy_v - 2 * slope * sxy_v
             + n_v * icept * icept + 2 * icept * slope * sx_v
             + slope * slope * sxx_v"""))
        .select(col("k"), col("n_t").as("n_train"), col("slope"),
          col("sse_val"))
        .orderBy(col("k"))
    }),

    // Impressions = view events (position = event_id % 10, item =
    // user_id % 40); clicks = click events under the same derivation.
    // Baseline CTR per position in ppm; per item: clicks, expected
    // clicks (sum of positional baselines, micro), COEC ppm.
    "q455_click_coec" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        (col("event_id") % 10).as("pos"),
        (col("user_id") % 40).as("item"))
      val views = ev.filter(col("event_type") === "view")
      val clicks = ev.filter(col("event_type") === "click")
      val posBase = views.groupBy(col("pos"))
        .agg(count(lit(1)).as("imp"))
        .join(clicks.groupBy(col("pos")).agg(count(lit(1)).as("clk")),
          Seq("pos"), "left")
        .select(col("pos"), col("imp"),
          expr("1000000 * coalesce(clk, 0) DIV imp").as("ctr_ppm"))
      val itemExp = views.join(broadcast(posBase), "pos")
        .groupBy(col("item"))
        .agg(count(lit(1)).as("impressions"),
          sum(col("ctr_ppm")).as("expected_clicks_micro"))
      val itemClk = clicks.groupBy(col("item"))
        .agg(count(lit(1)).as("actual_clicks"))
      itemExp.join(itemClk, Seq("item"), "left")
        .select(col("item"), col("impressions"),
          coalesce(col("actual_clicks"), lit(0L)).as("actual_clicks"),
          col("expected_clicks_micro"),
          expr("""1000000000000 * coalesce(actual_clicks, 0)
              DIV greatest(expected_clicks_micro, 1)""").as("coec_ppm"))
        .orderBy(col("item"))
    }),

    // 2-D outliers over (quantity, discount-adjusted price): d2(x) =
    // (x-mu)' S^-1 (x-mu) with the 2x2 inverse in closed form from
    // exact sums; cut at chi2(2, 0.99) = 9.21. One aggregate pass,
    // one broadcast re-scan.
    "q456_mahalanobis_outliers" -> ((s, d) => {
      // planted corruption (one row in 997 gets 10x the price) gives
      // the detector a real positive class: uniform fixtures have
      // compact support, so natural d2 never crosses the chi2 cut
      val li = t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        (floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("long") *
          when(col("l_orderkey") % 997 === 0, 10L).otherwise(1L))
          .as("y"),
        (col("l_orderkey") % 997 === 0).cast("long").as("planted"))
      val m = li.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      li.crossJoin(broadcast(m))
        .withColumn("mx", expr("CAST(sx AS DOUBLE) / n"))
        .withColumn("my", expr("CAST(sy AS DOUBLE) / n"))
        .withColumn("vxx", expr("CAST(sxx AS DOUBLE) / n - mx * mx"))
        .withColumn("vyy", expr("CAST(syy AS DOUBLE) / n - my * my"))
        .withColumn("vxy", expr("CAST(sxy AS DOUBLE) / n - mx * my"))
        .withColumn("det", expr("vxx * vyy - vxy * vxy"))
        .withColumn("d2", expr(
          """((x - mx) * ((x - mx) * vyy - (y - my) * vxy)
             + (y - my) * ((y - my) * vxx - (x - mx) * vxy)) / det"""))
        .agg(max(col("n")).as("n_rows"),
          sum(col("planted")).as("n_planted"),
          sum(when(col("d2") > 9.21, 1L).otherwise(0L)).as("n_outliers"),
          sum(when(col("d2") > 9.21, col("planted")).otherwise(0L))
            .as("n_planted_caught"),
          expr("floor(max(d2) * 1000)").cast("long").as("max_d2_milli"),
          expr("""1000000 * sum(IF(d2 > 9.21, 1, 0))
              DIV count(*)""").as("outlier_ppm"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q454_learning_curve" ->
      """WITH j AS (
           SELECT (o_orderkey % 10)::BIGINT AS dec,
                  floor(c_acctbal * 100)::BIGINT AS x,
                  floor(o_totalprice * 100)::BIGINT AS y
           FROM orders JOIN customer ON o_custkey = c_custkey),
         per_dec AS (
           -- second moments stay HUGEINT: sum(y*y) over cent-scaled
           -- totalprice exceeds 2^63 at sf0.1
           SELECT dec, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                  sum(y)::BIGINT AS sy, sum(x * x) AS sxx,
                  sum(x * y) AS sxy, sum(y * y) AS syy
           FROM j GROUP BY dec),
         ks AS (SELECT g.k FROM generate_series(1, 9) AS g(k)),
         train AS (
           SELECT k, sum(n)::BIGINT AS n_t, sum(sx)::BIGINT AS sx_t,
                  sum(sy)::BIGINT AS sy_t, sum(sxx) AS sxx_t,
                  sum(sxy) AS sxy_t
           FROM ks JOIN per_dec ON dec < k GROUP BY k),
         va AS (
           SELECT n AS n_v, sx AS sx_v, sy AS sy_v, sxx AS sxx_v,
                  sxy AS sxy_v, syy AS syy_v
           FROM per_dec WHERE dec = 9),
         fit AS (
           SELECT k, n_t,
                  (sxy_t - CAST(sx_t AS DOUBLE) * sy_t / n_t)
                    / (sxx_t - CAST(sx_t AS DOUBLE) * sx_t / n_t)
                    AS slope
           FROM train),
         fit2 AS (
           SELECT f.k, f.n_t, f.slope,
                  CAST(t.sy_t AS DOUBLE) / t.n_t
                    - f.slope * (CAST(t.sx_t AS DOUBLE) / t.n_t)
                    AS icept
           FROM fit f JOIN train t ON f.k = t.k)
         SELECT f.k, f.n_t AS n_train, f.slope,
                syy_v - 2 * f.icept * sy_v - 2 * f.slope * sxy_v
                  + n_v * f.icept * f.icept
                  + 2 * f.icept * f.slope * sx_v
                  + f.slope * f.slope * sxx_v AS sse_val
         FROM fit2 f CROSS JOIN va ORDER BY f.k""",

    "q455_click_coec" ->
      """WITH ev AS (
           SELECT event_type, (event_id % 10)::BIGINT AS pos,
                  (user_id % 40)::BIGINT AS item
           FROM events),
         pos_base AS (
           SELECT v.pos, v.imp,
                  ((1000000 * coalesce(c.clk, 0)) // v.imp)::BIGINT
                    AS ctr_ppm
           FROM (SELECT pos, count(*)::BIGINT AS imp FROM ev
                 WHERE event_type = 'view' GROUP BY pos) v
           LEFT JOIN (SELECT pos, count(*)::BIGINT AS clk FROM ev
                      WHERE event_type = 'click' GROUP BY pos) c
             ON v.pos = c.pos),
         item_exp AS (
           SELECT e.item, count(*)::BIGINT AS impressions,
                  sum(b.ctr_ppm)::BIGINT AS expected_clicks_micro
           FROM ev e JOIN pos_base b ON e.pos = b.pos
           WHERE e.event_type = 'view' GROUP BY e.item),
         item_clk AS (
           SELECT item, count(*)::BIGINT AS actual_clicks
           FROM ev WHERE event_type = 'click' GROUP BY item)
         SELECT x.item, x.impressions,
                coalesce(c.actual_clicks, 0)::BIGINT AS actual_clicks,
                x.expected_clicks_micro,
                ((1000000000000 * coalesce(c.actual_clicks, 0))
                  // greatest(x.expected_clicks_micro, 1))::BIGINT
                  AS coec_ppm
         FROM item_exp x LEFT JOIN item_clk c ON x.item = c.item
         ORDER BY x.item""",

    "q456_mahalanobis_outliers" ->
      """WITH li AS (
           SELECT CAST(l_quantity AS BIGINT) AS x,
                  (floor(l_extendedprice * (1.0 - l_discount))::BIGINT
                   * (CASE WHEN l_orderkey % 997 = 0 THEN 10 ELSE 1
                      END))::BIGINT AS y,
                  (CASE WHEN l_orderkey % 997 = 0 THEN 1 ELSE 0
                   END)::BIGINT AS planted
           FROM lineitem),
         m AS (
           SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                  sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                  sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
           FROM li),
         dist AS (
           SELECT li.x, li.y, li.planted, m.n,
                  ((li.x - CAST(m.sx AS DOUBLE) / m.n)
                    * ((li.x - CAST(m.sx AS DOUBLE) / m.n)
                       * (CAST(m.syy AS DOUBLE) / m.n
                          - (CAST(m.sy AS DOUBLE) / m.n)
                            * (CAST(m.sy AS DOUBLE) / m.n))
                       - (li.y - CAST(m.sy AS DOUBLE) / m.n)
                         * (CAST(m.sxy AS DOUBLE) / m.n
                            - (CAST(m.sx AS DOUBLE) / m.n)
                              * (CAST(m.sy AS DOUBLE) / m.n)))
                   + (li.y - CAST(m.sy AS DOUBLE) / m.n)
                     * ((li.y - CAST(m.sy AS DOUBLE) / m.n)
                        * (CAST(m.sxx AS DOUBLE) / m.n
                           - (CAST(m.sx AS DOUBLE) / m.n)
                             * (CAST(m.sx AS DOUBLE) / m.n))
                        - (li.x - CAST(m.sx AS DOUBLE) / m.n)
                          * (CAST(m.sxy AS DOUBLE) / m.n
                             - (CAST(m.sx AS DOUBLE) / m.n)
                               * (CAST(m.sy AS DOUBLE) / m.n))))
                  / ((CAST(m.sxx AS DOUBLE) / m.n
                      - (CAST(m.sx AS DOUBLE) / m.n)
                        * (CAST(m.sx AS DOUBLE) / m.n))
                     * (CAST(m.syy AS DOUBLE) / m.n
                        - (CAST(m.sy AS DOUBLE) / m.n)
                          * (CAST(m.sy AS DOUBLE) / m.n))
                     - (CAST(m.sxy AS DOUBLE) / m.n
                        - (CAST(m.sx AS DOUBLE) / m.n)
                          * (CAST(m.sy AS DOUBLE) / m.n))
                       * (CAST(m.sxy AS DOUBLE) / m.n
                          - (CAST(m.sx AS DOUBLE) / m.n)
                            * (CAST(m.sy AS DOUBLE) / m.n))) AS d2
           FROM li CROSS JOIN m)
         SELECT max(n)::BIGINT AS n_rows,
                sum(planted)::BIGINT AS n_planted,
                sum(CASE WHEN d2 > 9.21 THEN 1 ELSE 0 END)::BIGINT
                  AS n_outliers,
                sum(CASE WHEN d2 > 9.21 THEN planted ELSE 0 END)::BIGINT
                  AS n_planted_caught,
                floor(max(d2) * 1000)::BIGINT AS max_d2_milli,
                ((1000000 * sum(CASE WHEN d2 > 9.21 THEN 1 ELSE 0 END))
                  // count(*))::BIGINT AS outlier_ppm
         FROM dist"""
  )
}
