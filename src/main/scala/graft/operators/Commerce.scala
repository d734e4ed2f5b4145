package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch BI (q577-q579) — commerce analytics staples:
  *
  *  - q577: next-purchase recommendation — per customer, consecutive
  *    order pairs (window lead on the order grain), category pairs
  *    through the two baskets (order-pair join is basket-bounded),
  *    confidence in exact ppm against the antecedent-category
  *    occurrence count, top-20 rules. "Customers who bought X next
  *    bought Y" — the sequential sibling of q543's association rules.
  *  - q578: day-of-week × hour traffic heatmap — grid cells via
  *    epoch arithmetic (epoch-day mod 7 / epoch-hour mod 24, engine-
  *    independent, no dialect dow convention), revenue share in ppm,
  *    top-5 peak cells flagged. The 168-cell grid is domain-bounded.
  *  - q579: receivables-style aging report — non-final orders
  *    bucketed by age against the corpus horizon (0-30/31-60/61-90/
  *    91-180/181-365/365+ days), count, value cents, and share ppm
  *    per bucket. One scan, schema-bounded output.
  */
object Commerce {

  type Q = (SparkSession, String) => DataFrame

  /** Age-bucket CASE shared verbatim by both dialects. */
  private val ageBucket =
    """CASE WHEN age <= 30 THEN '0_030'
            WHEN age <= 60 THEN '031_060'
            WHEN age <= 90 THEN '061_090'
            WHEN age <= 180 THEN '091_180'
            WHEN age <= 365 THEN '181_365'
            ELSE '365_plus' END"""

  val queries: Seq[(String, Q)] = Seq(

    "q577_next_purchase_rules" -> ((s, d) => {
      val wC = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val pairs = graft.Stage(t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey").as("ok1"),
          lead(col("o_orderkey"), 1).over(wC).as("ok2"))
        .filter(col("ok2").isNotNull)
        .select(col("ok1"), col("ok2")), "q577_pairs")
      val basket = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"),
          (col("l_partkey") % 20).cast("long").as("cat"))
        .distinct()
      val catPairs = pairs
        .join(basket.select(col("ok").as("ok1"),
          col("cat").as("cat_a")), Seq("ok1"))
        .join(basket.select(col("ok").as("ok2"),
          col("cat").as("cat_b")), Seq("ok2"))
      val counts = catPairs.groupBy(col("cat_a"), col("cat_b"))
        .agg(count(lit(1)).as("c"))
      val na = counts.groupBy(col("cat_a"))
        .agg(sum(col("c")).as("na"))
      val rules = counts.join(broadcast(na), Seq("cat_a"))
        .select(col("cat_a"), col("cat_b"), col("c"),
          expr("c * 1000000 DIV na").as("confidence_ppm"))
      val wAll = Window.orderBy(col("c").desc, col("cat_a"),
        col("cat_b"))
      rules.withColumn("rk", row_number().over(wAll))
        .filter(col("rk") <= 20)
        .select(col("cat_a"), col("cat_b"), col("c"),
          col("confidence_ppm"), col("rk").cast("long").as("rk"))
        .orderBy(col("rk"))
    }),

    "q578_dow_hour_heatmap" -> ((s, d) => {
      val cells = t(s, d, "events")
        .select(
          expr("""CAST(floor(unix_timestamp(ts) / 86400) % 7
                  AS BIGINT)""").as("dow"),
          expr("""CAST(floor(unix_timestamp(ts) / 3600) % 24
                  AS BIGINT)""").as("hour"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("rev"))
      val tot = cells.agg(sum(col("rev")).as("trev"))
      val wAll = Window.orderBy(col("rev").desc, col("dow"),
        col("hour"))
      cells.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(wAll))
        .select(col("dow"), col("hour"), col("n_events"),
          col("rev").as("rev_milli"),
          expr("rev * 1000000 DIV trev").as("share_ppm"),
          when(col("rk") <= 5, 1L).otherwise(0L).as("peak"))
        .orderBy(col("dow"), col("hour"))
    }),

    "q579_aging_report" -> ((s, d) => {
      val hz = t(s, d, "orders")
        .agg(max(col("o_orderdate")).as("h"))
      val aged = t(s, d, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(hz))
        .select(datediff(col("h"), col("o_orderdate")).cast("long")
          .as("age"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
            .as("cents"))
        .select(expr(ageBucket).as("bucket"), col("cents"))
      val buckets = aged.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("value_cents"))
      val tot = buckets.agg(sum(col("value_cents")).as("tv"))
      buckets.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_orders"), col("value_cents"),
          expr("value_cents * 1000000 DIV tv").as("share_ppm"))
        .orderBy(col("bucket"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q577_next_purchase_rules" ->
      """WITH op AS (
           SELECT o_orderkey AS ok1,
                  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate::TIMESTAMP, o_orderkey)
                    AS ok2
           FROM orders),
         pairs AS (SELECT ok1, ok2 FROM op WHERE ok2 IS NOT NULL),
         basket AS (
           SELECT DISTINCT l_orderkey AS ok,
                  (l_partkey % 20)::BIGINT AS cat
           FROM lineitem),
         catpairs AS (
           SELECT b1.cat AS cat_a, b2.cat AS cat_b
           FROM pairs p
           JOIN basket b1 ON p.ok1 = b1.ok
           JOIN basket b2 ON p.ok2 = b2.ok),
         counts AS (
           SELECT cat_a, cat_b, count(*)::BIGINT AS c
           FROM catpairs GROUP BY cat_a, cat_b),
         na AS (
           SELECT cat_a, sum(c)::BIGINT AS na FROM counts
           GROUP BY cat_a),
         rules AS (
           SELECT c.cat_a, c.cat_b, c.c,
                  (c.c * 1000000 // n.na)::BIGINT AS confidence_ppm,
                  row_number() OVER (ORDER BY c.c DESC, c.cat_a,
                    c.cat_b) AS rk
           FROM counts c JOIN na n ON c.cat_a = n.cat_a)
         SELECT cat_a, cat_b, c, confidence_ppm, rk::BIGINT AS rk
         FROM rules WHERE rk <= 20 ORDER BY rk""",

    "q578_dow_hour_heatmap" ->
      """WITH cells AS (
           SELECT (floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT % 7)
                    AS dow,
                  (floor(epoch(ts::TIMESTAMP) / 3600)::BIGINT % 24)
                    AS hour,
                  count(*)::BIGINT AS n_events,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS rev
           FROM events GROUP BY 1, 2),
         tot AS (SELECT sum(rev)::BIGINT AS trev FROM cells),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY rev DESC, dow,
                    hour) AS rk
           FROM cells)
         SELECT r.dow, r.hour, r.n_events, r.rev AS rev_milli,
                (r.rev * 1000000 // t.trev)::BIGINT AS share_ppm,
                (CASE WHEN r.rk <= 5 THEN 1 ELSE 0 END)::BIGINT
                  AS peak
         FROM ranked r, tot t ORDER BY r.dow, r.hour""",

    "q579_aging_report" ->
      s"""WITH hz AS (
           SELECT max(o_orderdate::TIMESTAMP) AS h FROM orders),
         aged AS (
           SELECT date_diff('day', o_orderdate::TIMESTAMP, z.h)
                    ::BIGINT AS age,
                  floor(o_totalprice * 100)::BIGINT AS cents
           FROM orders, hz z WHERE o_orderstatus <> 'F'),
         bucketed AS (
           SELECT ($ageBucket) AS bucket, cents FROM aged),
         buckets AS (
           SELECT bucket, count(*)::BIGINT AS n_orders,
                  sum(cents)::BIGINT AS value_cents
           FROM bucketed GROUP BY bucket),
         tot AS (SELECT sum(value_cents)::BIGINT AS tv FROM buckets)
         SELECT bucket, n_orders, value_cents,
                (value_cents * 1000000 // tv)::BIGINT AS share_ppm
         FROM buckets, tot ORDER BY bucket"""
  )
}

/** Round-9 batch AE (q487-q489) — market/time-series staples:
  *
  *  - q487: VWAP + TWAP per brand — volume-weighted average price
  *    (exact cents x quantity sums) and time-weighted average price
  *    (each fill weighted by its holding interval to the next fill
  *    via lead(), the open interval closed at the horizon). One
  *    keyed aggregate over per-brand fill streams.
  *  - q488: stock span — for each (type, day): how many consecutive
  *    trailing days (incl. today) had revenue <= today's. The span
  *    is day − (last prior higher-rev day), computed on the
  *    day-grain table with a bounded per-type self-join (day tables
  *    are calendar-bounded; the classic monotonic-stack problem as
  *    a relational query).
  *  - q489: cumulative reach — running count of DISTINCT users ever
  *    seen, per day. Exact at any scale WITHOUT rolling sets: a
  *    user contributes at its min(day) only, then a day-grain
  *    cumulative sum (the first-seen trick; contrast q358's
  *    windowed exact sets).
  */
object Market {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q487_vwap_twap" -> ((s, d) => {
      // The joined fills projection is consumed twice per plan (the
      // horizon aggregate and the window pass each re-run the
      // lineitem⋈part join — aggregate/window subtrees shuffle
      // differently, so ReuseExchange cannot dedup them); staged once
      // (round-14, the q473/q257 discipline).
      val li = graft.Stage(t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          col("l_shipdate").cast("timestamp").as("ft"),
          col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") / col("l_quantity") * 100)
            .cast("long").as("px_cents"),
          col("l_quantity").cast("long").as("qty")), "q487_fills")
      val hz = li.agg(max(col("ft")).as("hmax"))
      val wB = Window.partitionBy(col("brand"))
        .orderBy(col("ft"), col("l_orderkey"), col("l_linenumber"))
      li.crossJoin(broadcast(hz))
        .withColumn("next_ft",
          coalesce(lead(col("ft"), 1).over(wB), col("hmax")))
        .withColumn("hold_s",
          (unix_timestamp(col("next_ft")) - unix_timestamp(col("ft")))
            .cast("long"))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_fills"),
          expr("sum(px_cents * qty) DIV sum(qty)").as("vwap_cents"),
          expr("""CASE WHEN sum(hold_s) > 0
                  THEN sum(px_cents * hold_s) DIV sum(hold_s)
                  ELSE sum(px_cents) DIV count(*) END""")
            .as("twap_cents"))
        .orderBy(col("brand"))
    }),

    "q488_stock_span" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("rev"))
      val cur = daily.select(col("event_type"), col("day"), col("rev"))
      val prior = daily.select(col("event_type").as("et_p"),
        col("day").as("day_p"), col("rev").as("rev_p"))
      // last prior day with strictly higher revenue (day-grain x
      // day-grain per type: calendar-bounded quadratic)
      cur.join(prior, col("event_type") === col("et_p") &&
          col("day_p") < col("day") && col("rev_p") > col("rev"),
          "left")
        .groupBy(col("event_type"), col("day"), col("rev"))
        .agg(max(col("day_p")).as("last_higher"))
        .join(daily.groupBy(col("event_type"))
          .agg(min(col("day")).as("d0")), "event_type")
        .withColumn("span",
          when(col("last_higher").isNotNull,
            col("day") - col("last_higher"))
            .otherwise(col("day") - col("d0") + 1))
        .select(col("event_type"), col("day"), col("rev"), col("span"))
        .orderBy(col("event_type"), col("day"))
    }),

    "q489_cumulative_reach" -> ((s, d) => {
      val firstSeen = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(min(floor(unix_timestamp(col("ts")) / 86400L).cast("long"))
          .as("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
      val activity = t(s, d, "events")
        .groupBy(floor(unix_timestamp(col("ts")) / 86400L).cast("long")
          .as("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      // day-grain bounded window (q375 contract)
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      activity.join(firstSeen, Seq("day"), "left")
        .na.fill(0L, Seq("new_users"))
        .withColumn("cumulative_reach", sum(col("new_users")).over(wCum))
        .select(col("day"), col("dau"), col("new_users"),
          col("cumulative_reach"))
        .orderBy(col("day"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q487_vwap_twap" ->
      """WITH li AS (
           SELECT p_brand AS brand, l_shipdate::TIMESTAMP AS ft,
                  l_orderkey, l_linenumber,
                  floor(l_extendedprice / l_quantity * 100)::BIGINT
                    AS px_cents,
                  l_quantity::BIGINT AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         hz AS (SELECT max(ft) AS hmax FROM li),
         held AS (
           SELECT brand, px_cents, qty,
                  (floor(epoch(coalesce(lead(ft) OVER (
                      PARTITION BY brand
                      ORDER BY ft, l_orderkey, l_linenumber),
                    (SELECT hmax FROM hz))))
                   - floor(epoch(ft)))::BIGINT AS hold_s
           FROM li)
         SELECT brand, count(*)::BIGINT AS n_fills,
                (sum(px_cents * qty) // sum(qty))::BIGINT AS vwap_cents,
                (CASE WHEN sum(hold_s) > 0
                 THEN sum(px_cents * hold_s) // sum(hold_s)
                 ELSE sum(px_cents) // count(*) END)::BIGINT
                  AS twap_cents
         FROM held GROUP BY brand ORDER BY brand""",

    "q488_stock_span" ->
      """WITH daily AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS rev
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT c.event_type, c.day, c.rev,
                  max(p.day) AS last_higher
           FROM daily c LEFT JOIN daily p
             ON c.event_type = p.event_type
            AND p.day < c.day AND p.rev > c.rev
           GROUP BY c.event_type, c.day, c.rev),
         d0 AS (
           SELECT event_type, min(day) AS d0
           FROM daily GROUP BY event_type)
         SELECT s.event_type, s.day, s.rev,
                (CASE WHEN s.last_higher IS NOT NULL
                 THEN s.day - s.last_higher
                 ELSE s.day - d0.d0 + 1 END)::BIGINT AS span
         FROM spans s JOIN d0 ON s.event_type = d0.event_type
         ORDER BY s.event_type, s.day""",

    "q489_cumulative_reach" ->
      """WITH fs AS (
           SELECT min(floor(epoch(ts::TIMESTAMP) / 86400))::BIGINT
             AS day
           FROM events GROUP BY user_id),
         new_users AS (
           SELECT day, count(*)::BIGINT AS new_users
           FROM fs GROUP BY day),
         activity AS (
           SELECT floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  count(DISTINCT user_id)::BIGINT AS dau
           FROM events GROUP BY 1)
         SELECT a.day, a.dau,
                coalesce(n.new_users, 0)::BIGINT AS new_users,
                sum(coalesce(n.new_users, 0)) OVER (ORDER BY a.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  )::BIGINT AS cumulative_reach
         FROM activity a LEFT JOIN new_users n ON a.day = n.day
         ORDER BY a.day"""
  )
}


/** Round-9 batch I (q406-q408): categorical association (Cramér's V),
  * the two-sample Kolmogorov-Smirnov statistic, and the
  * autocorrelation function — the association/distribution-comparison
  * trio next to q385's numeric Pearson grid. Hash-gated vs DuckDB.
  */
object Assoc {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Cramér's V for categorical-categorical association — the
    // profiling complement to q385's numeric correlation matrix:
    // chi-square over the contingency grid (expected = row x col / n)
    // then V = sqrt(chi2 / (n (min(r,c) - 1))). Three dimension pairs
    // over events; each grid is dimension-sized, built from one
    // grouped aggregate per pair.
    "q406_cramers_v" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "events").select(
        col("event_type"),
        pmod(unix_date(col("ts").cast("date")), lit(7)).as("dow"),
        least(floor(col("value") / 80), lit(4L)).cast("long")
          .as("vbucket")), "q406_base")
      // One aggregate per pair down to the contingency cells (value-
      // bounded, ≤ |types|·7 rows of exact integer counts), then the
      // margins, full-grid chi² and Cramér's V locally — the old shape
      // ran 4 aggregates + a grid join per pair over the staged events
      // grain (12 corpus-grain passes). The chi² double sum is
      // order-arbitrary in BOTH engines already; round(·,4)/round(·,6)
      // absorb the ulps exactly as they did between Spark and DuckDB.
      def r(x: Double, sc: Int): Double =
        new java.math.BigDecimal(java.lang.Double.toString(x))
          .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue()
      def v(name: String, a: String, b: String)
          : (String, Long, Double, Double) = {
        val cells = graft.Bounded.collectCapped(
            base.groupBy(col(a).as("ka"), col(b).as("kb"))
              .agg(count(lit(1)).as("o")), 65536,
            s"q406 contingency cells $name (value-bounded grid)")
          .map(row => ((row.get(0), row.get(1)), row.getLong(2)))
        val cellMap = cells.toMap
        val rt = cells.groupBy(_._1._1).view
          .mapValues(_.map(_._2).sum).toMap
        val ct = cells.groupBy(_._1._2).view
          .mapValues(_.map(_._2).sum).toMap
        val n = cells.map(_._2).sum
        val chi2 = (for (ra <- rt.keys.toSeq; cb <- ct.keys.toSeq) yield {
          val o = cellMap.getOrElse((ra, cb), 0L).toDouble
          val e = rt(ra) * ct(cb) / n.toDouble
          (o - e) * (o - e) / e
        }).sum
        // A one-distinct-value dimension makes the V denominator 0 →
        // Infinity → NumberFormatException in r(); the old SQL division
        // returned NULL rows instead of crashing (round-13 ADVICE).
        // Emit 0 for that degenerate case — no fixture hits it.
        val denom = n * (math.min(rt.size, ct.size) - 1)
        (name, n, r(chi2, 4),
          if (denom <= 0) 0.0 else r(math.sqrt(chi2 / denom), 6))
      }
      s.createDataFrame(Seq(
          v("event_type_x_dow", "event_type", "dow"),
          v("event_type_x_vbucket", "event_type", "vbucket"),
          v("dow_x_vbucket", "dow", "vbucket")))
        .toDF("dims", "n", "chi2", "cramers_v")
        .orderBy(col("dims"))
    }),

    // Two-sample Kolmogorov-Smirnov statistic — each source's document-
    // length distribution against the rest of the corpus: D = max
    // |CDF_src - CDF_rest| over the (bounded) distinct-length grid.
    // The exact distributional-shift test next to q210's binned TVD
    // and q383's PSI; the grid is sources x distinct lengths, both
    // dimension-bounded.
    "q407_ks_test" -> ((s, d) => {
      val docs = graft.Stage(t(s, d, "documents")
        .select(col("source"), col("n_chars")), "q407_docs")
      val values = docs.select(col("n_chars")).distinct()
      val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val corpusN = docs.agg(count(lit(1)).as("nc"))
      val srcCells = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cs"))
      val allCells = docs.groupBy(col("n_chars"))
        .agg(count(lit(1)).as("ca"))
      val grid = srcTot.crossJoin(values)
        .join(srcCells, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("cs"))
        .join(allCells, "n_chars")
        .crossJoin(broadcast(corpusN))
      val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("cum_s", sum(col("cs")).over(wCum))
        .withColumn("cum_r", sum(col("ca") - col("cs")).over(wCum))
        .select(col("source"), col("ns"),
          abs(col("cum_s").cast("double") / col("ns")
            - col("cum_r").cast("double") / (col("nc") - col("ns")))
            .as("gap"))
        .groupBy(col("source"))
        .agg(first(col("ns")).as("n_docs"),
          round(max(col("gap")), 6).as("ks_d"))
        .orderBy(col("source"))
    }),

    // Autocorrelation function at lags 1, 2, 7 — the seasonality/
    // persistence fingerprint of each daily series (lag-7 spikes =
    // weekly cycle, confirming q382's decomposition independently):
    // r_l = sum (x_t - mean)(x_{t+l} - mean) / sum (x_t - mean)^2 over
    // the day-grain series, lag pairs from a bounded self-join on
    // day + l.
    "q408_autocorrelation" -> ((s, d) => {
      val daily = graft.Stage(t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
        .withColumn("di", unix_date(col("day").cast("date"))
          .cast("long")), "q408_daily")
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          (sum(col("m")) / count(lit(1))).as("mu"),
          (sum(col("m") * col("m")) / count(lit(1))).as("m2"))
        .select(col("event_type"), col("n_days"), col("mu"),
          ((col("m2") - col("mu") * col("mu"))).as("varm"))
      def acf(l: Int) = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.di") === col("a.di") + l)
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(col("a.m") * col("b.m")).as(s"sxy_$l"),
          sum(col("a.m")).as(s"sx_$l"), sum(col("b.m")).as(s"sy_$l"),
          count(lit(1)).as(s"np_$l"))
      stats.join(acf(1), "event_type").join(acf(2), "event_type")
        .join(acf(7), "event_type")
        .select(col("event_type"), col("n_days"),
          round((col("sxy_1") - col("mu") * col("sx_1")
            - col("mu") * col("sy_1") + col("np_1") * col("mu") * col("mu"))
            / (col("n_days") * col("varm")), 4).as("acf1"),
          round((col("sxy_2") - col("mu") * col("sx_2")
            - col("mu") * col("sy_2") + col("np_2") * col("mu") * col("mu"))
            / (col("n_days") * col("varm")), 4).as("acf2"),
          round((col("sxy_7") - col("mu") * col("sx_7")
            - col("mu") * col("sy_7") + col("np_7") * col("mu") * col("mu"))
            / (col("n_days") * col("varm")), 4).as("acf7"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q406_cramers_v" -> {
      def arm(name: String, a: String, b: String) =
        s"""SELECT '$name' AS dims, n::BIGINT AS n,
              round(chi2, 4) AS chi2,
              round(sqrt(chi2 / (n * (least(r, c) - 1))), 6)
                AS cramers_v
            FROM (
              SELECT sum((o - rt * ct / n::DOUBLE)
                       * (o - rt * ct / n::DOUBLE)
                       / (rt * ct / n::DOUBLE)) AS chi2,
                     any_value(n) AS n, any_value(r) AS r,
                     any_value(c) AS c
              FROM (
                SELECT rt.ka, ct.kb, rt.rt, ct.ct,
                       coalesce(cells.o, 0) AS o, nn.n, nn.r, nn.c
                FROM (SELECT $a AS ka, sum(1)::BIGINT AS rt FROM base
                      GROUP BY 1) rt
                CROSS JOIN (SELECT $b AS kb, sum(1)::BIGINT AS ct
                            FROM base GROUP BY 1) ct
                LEFT JOIN (SELECT $a AS ka, $b AS kb,
                             count(*)::BIGINT AS o
                           FROM base GROUP BY 1, 2) cells
                  ON cells.ka = rt.ka AND cells.kb = ct.kb
                CROSS JOIN (SELECT count(*)::BIGINT AS n,
                              count(DISTINCT $a)::BIGINT AS r,
                              count(DISTINCT $b)::BIGINT AS c
                            FROM base) nn))"""
      s"""WITH base AS (
           SELECT event_type,
                  ((date_diff('day', DATE '1970-01-01',
                     ts::TIMESTAMP::DATE) % 7) + 7) % 7 AS dow,
                  least(floor(value / 80), 4)::BIGINT AS vbucket
           FROM events)
         SELECT * FROM (
           ${arm("event_type_x_dow", "event_type", "dow")}
           UNION ALL
           ${arm("event_type_x_vbucket", "event_type", "vbucket")}
           UNION ALL
           ${arm("dow_x_vbucket", "dow", "vbucket")})
         ORDER BY dims"""
    },
    "q407_ks_test" ->
      """WITH docs AS (SELECT source, n_chars FROM documents),
         vals AS (SELECT DISTINCT n_chars FROM docs),
         st AS (SELECT source, count(*)::BIGINT AS ns FROM docs
                GROUP BY source),
         nc AS (SELECT count(*)::BIGINT AS nc FROM docs),
         sc AS (SELECT source, n_chars, count(*)::BIGINT AS cs
                FROM docs GROUP BY 1, 2),
         ac AS (SELECT n_chars, count(*)::BIGINT AS ca FROM docs
                GROUP BY 1),
         grid AS (
           SELECT st.source, st.ns, v.n_chars,
                  coalesce(sc.cs, 0) AS cs, ac.ca, nc.nc
           FROM st CROSS JOIN vals v
           LEFT JOIN sc ON sc.source = st.source
             AND sc.n_chars = v.n_chars
           JOIN ac ON ac.n_chars = v.n_chars
           CROSS JOIN nc),
         cum AS (
           SELECT source, ns, nc,
                  sum(cs) OVER (PARTITION BY source ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_s,
                  sum(ca - cs) OVER (PARTITION BY source
                    ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_r
           FROM grid)
         SELECT source, any_value(ns) AS n_docs,
                round(max(abs(cum_s::DOUBLE / ns
                  - cum_r::DOUBLE / (nc - ns))), 6) AS ks_d
         FROM cum GROUP BY source ORDER BY source""",
    "q408_autocorrelation" -> {
      def arm(l: Int) =
        s"""(SELECT a.event_type, sum(a.m * b.m) AS sxy_$l,
               sum(a.m) AS sx_$l, sum(b.m) AS sy_$l,
               count(*)::BIGINT AS np_$l
             FROM daily a JOIN daily b
               ON a.event_type = b.event_type AND b.di = a.di + $l
             GROUP BY 1) l$l"""
      s"""WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 1000)::BIGINT) // count(*) AS m,
                  date_diff('day', DATE '1970-01-01',
                    date_trunc('day', ts::TIMESTAMP)::DATE)::BIGINT
                    AS di
           FROM events GROUP BY 1, 2, 4),
         stats AS (
           SELECT event_type, count(*)::BIGINT AS n_days,
                  sum(m)::DOUBLE / count(*) AS mu,
                  sum(m::DOUBLE * m) / count(*)
                    - (sum(m)::DOUBLE / count(*))
                      * (sum(m)::DOUBLE / count(*)) AS varm
           FROM daily GROUP BY 1)
         SELECT s.event_type, s.n_days,
                round((sxy_1 - mu * sx_1 - mu * sy_1
                  + np_1 * mu * mu) / (s.n_days * varm), 4) AS acf1,
                round((sxy_2 - mu * sx_2 - mu * sy_2
                  + np_2 * mu * mu) / (s.n_days * varm), 4) AS acf2,
                round((sxy_7 - mu * sx_7 - mu * sy_7
                  + np_7 * mu * mu) / (s.n_days * varm), 4) AS acf7
         FROM stats s
         JOIN ${arm(1)} ON l1.event_type = s.event_type
         JOIN ${arm(2)} ON l2.event_type = s.event_type
         JOIN ${arm(7)} ON l7.event_type = s.event_type
         ORDER BY s.event_type"""
    }
  )
}


/** Round-9 batch L (q414-q416): temporal scan statistic (most
  * anomalous contiguous window), the decision-tree best-split finder
  * over a bounded feature domain, and market-basket association rules.
  * Hash-gated vs DuckDB.
  */
object Mining {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Temporal scan statistic (Kulldorff) — the most anomalous
    // CONTIGUOUS day window per series by Poisson likelihood ratio:
    // c ln(c/e) + (C-c) ln((C-c)/(C-e)) for window count c vs expected
    // e = C len/N. All O(days^2) window pairs form from the BOUNDED
    // day-grain prefix-sum table (<=465 pairs per series at 30 days) —
    // never from the corpus. Complements q360's CUSUM (changepoint)
    // with cluster detection.
    "q414_scan_statistic" -> ((s, d) => {
      val daily = graft.Stage(t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("di", dense_rank().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
        .withColumn("pre", sum(col("c")).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))),
        "q414_daily")
      val tot = daily.groupBy(col("event_type"))
        .agg(max(col("pre")).as("ct"), max(col("di")).as("nd"))
      val wins = daily.as("i").join(daily.as("j"),
          col("i.event_type") === col("j.event_type") &&
            col("i.di") <= col("j.di"))
        .select(col("i.event_type").as("event_type"),
          col("i.di").as("st"), (col("j.di") - col("i.di") + 1).as("len"),
          (col("j.pre") - col("i.pre") + col("i.c")).as("c"))
        .join(tot, "event_type")
        .filter(col("len") < col("nd")) // full-series window is not a cluster
        .select(col("event_type"), col("st"), col("len"), col("c"),
          col("ct"), col("nd"),
          (col("ct").cast("double") * col("len") / col("nd")).as("e"))
        .filter(col("c") > col("e"))
        .select(col("event_type"), col("st"), col("len"), col("c"),
          (col("c") * log(col("c") / col("e"))
            + (col("ct") - col("c"))
              * log((col("ct") - col("c")).cast("double")
                / (col("ct") - col("e")))).as("llr"))
      wins.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("llr").desc, col("st"), col("len"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("st").as("win_start_idx"),
          col("len").as("win_len"), col("c").as("win_count"),
          round(col("llr"), 4).as("llr"))
        .orderBy(col("event_type"))
    }),

    // Market-basket association rules — support / confidence (both
    // directions) / lift for event-type pairs within (user, day)
    // baskets, all in exact integer ppm/milli. Baskets distinct first
    // (one shuffle), pairs from the <=5-item per-basket set (bounded
    // per-row), dimension-sized rule table.
    "q416_association_rules" -> ((s, d) => {
      val items = graft.Stage(t(s, d, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).as("day"), col("event_type"))
        .distinct(), "q416_items")
      val nBaskets = items.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("nb"))
      val itemCounts = items.groupBy(col("event_type"))
        .agg(count(lit(1)).as("ci"))
      val pairs = items.as("a").join(items.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("ia"),
          col("b.event_type").as("ib"))
        .agg(count(lit(1)).as("cab"))
      pairs
        .join(itemCounts.select(col("event_type").as("ia"),
          col("ci").as("ca")), "ia")
        .join(itemCounts.select(col("event_type").as("ib"),
          col("ci").as("cb")), "ib")
        .crossJoin(broadcast(nBaskets))
        .select(col("ia"), col("ib"), col("cab"),
          expr("cab * 1000000 DIV nb").as("support_ppm"),
          expr("cab * 1000000 DIV ca").as("conf_a_to_b_ppm"),
          expr("cab * 1000000 DIV cb").as("conf_b_to_a_ppm"),
          expr("cab * nb * 1000 DIV (ca * cb)").as("lift_milli"))
        .orderBy(col("ia"), col("ib"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q414_scan_statistic" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  count(*)::BIGINT AS c
           FROM events GROUP BY 1, 2),
         pre AS (
           SELECT event_type, day, c,
                  dense_rank() OVER (PARTITION BY event_type
                    ORDER BY day) AS di,
                  (sum(c) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS pre
           FROM daily),
         tot AS (
           SELECT event_type, max(pre)::BIGINT AS ct,
                  max(di)::BIGINT AS nd
           FROM pre GROUP BY 1),
         wins AS (
           SELECT i.event_type, i.di AS st, j.di - i.di + 1 AS len,
                  j.pre - i.pre + i.c AS c, t.ct, t.nd,
                  t.ct::DOUBLE * (j.di - i.di + 1) / t.nd AS e
           FROM pre i
           JOIN pre j ON j.event_type = i.event_type
             AND i.di <= j.di
           JOIN tot t ON t.event_type = i.event_type
           WHERE j.di - i.di + 1 < t.nd),
         scored AS (
           SELECT event_type, st, len, c,
                  c * ln(c / e)
                  + (ct - c) * ln((ct - c)::DOUBLE / (ct - e)) AS llr
           FROM wins WHERE c > e),
         best AS (
           SELECT event_type, st, len, c, llr,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY llr DESC, st, len) AS rn
           FROM scored)
         SELECT event_type, st::BIGINT AS win_start_idx,
                len::BIGINT AS win_len, c::BIGINT AS win_count,
                round(llr, 4) AS llr
         FROM best WHERE rn = 1 ORDER BY event_type""",
    // Decision-tree best-split finder — the inner loop of tree
    // training (q93/q157's fitted trees) exposed as a first-class
    // operator: Gini gain of every threshold over the bounded integer
    // feature domain, from ONE cumulative pass over the 50-row
    // value-grouped class counts. Top-5 thresholds. At 100 TB this is
    // exactly how a distributed tree library evaluates splits:
    // value-histogram aggregation, then driver-sized threshold math.
    "q415_best_split" ->
      """WITH rows_ AS (
           SELECT floor(l_quantity)::BIGINT AS v,
                  CASE WHEN l_extendedprice > 38000.0 THEN 1
                       ELSE 0 END AS y
           FROM lineitem),
         byv AS (
           SELECT v, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
           FROM rows_ GROUP BY v),
         tot AS (
           SELECT sum(n)::BIGINT AS nt, sum(pos)::BIGINT AS pt
           FROM byv),
         cum AS (
           SELECT v, n, pos,
                  (sum(n) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS nl,
                  (sum(pos) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS pl
           FROM byv),
         gains AS (
           SELECT v AS threshold, nl AS n_left,
                  (1.0 - (pt::DOUBLE/nt)*(pt::DOUBLE/nt)
                       - (1.0 - pt::DOUBLE/nt)*(1.0 - pt::DOUBLE/nt))
                  - nl::DOUBLE/nt
                    * (1.0 - (pl::DOUBLE/nl)*(pl::DOUBLE/nl)
                         - (1.0 - pl::DOUBLE/nl)*(1.0 - pl::DOUBLE/nl))
                  - (nt - nl)::DOUBLE/nt
                    * (1.0 - ((pt-pl)::DOUBLE/(nt-nl))
                             *((pt-pl)::DOUBLE/(nt-nl))
                         - (1.0 - (pt-pl)::DOUBLE/(nt-nl))
                           *(1.0 - (pt-pl)::DOUBLE/(nt-nl))) AS gain
           FROM cum CROSS JOIN tot
           WHERE nl < nt)
         SELECT threshold, n_left, round(gain, 6) AS gini_gain
         FROM gains ORDER BY gini_gain DESC, threshold LIMIT 5""",
    "q416_association_rules" ->
      """WITH items AS (
           SELECT DISTINCT user_id,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  event_type
           FROM events),
         nb AS (
           SELECT count(*)::BIGINT AS nb
           FROM (SELECT DISTINCT user_id, day FROM items)),
         ic AS (
           SELECT event_type, count(*)::BIGINT AS ci FROM items
           GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS ia, b.event_type AS ib,
                  count(*)::BIGINT AS cab
           FROM items a JOIN items b
             ON a.user_id = b.user_id AND a.day = b.day
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT ia, ib, cab,
                (cab * 1000000 // nb)::BIGINT AS support_ppm,
                (cab * 1000000 // x.ci)::BIGINT AS conf_a_to_b_ppm,
                (cab * 1000000 // y.ci)::BIGINT AS conf_b_to_a_ppm,
                (cab * nb * 1000 // (x.ci * y.ci))::BIGINT
                  AS lift_milli
         FROM pairs
         JOIN ic x ON x.event_type = ia
         JOIN ic y ON y.event_type = ib
         CROSS JOIN nb
         ORDER BY ia, ib"""
  )
}


/** Round-9 batch AR (q526-q528) — sequential experiment monitoring,
  * panel causal inference, and chain steady states:
  *
  *  - q526: O'Brien-Fleming group-sequential monitoring — the
  *    standard "peek 4 times without inflating alpha" design
  *    (complements q384's SPRT): cumulative two-sample z at each
  *    weekly look against the K=4 OBF two-sided boundaries
  *    {4.333, 2.963, 2.359, 2.014}. All moments exact integer cents
  *    (squares DECIMAL-lifted); one 4-row look grain.
  *  - q527: difference-in-differences — treated vs control supplier
  *    nations across the shipdate-span midpoint, with the
  *    parallel-trends PRE-period slope gap that validates the
  *    design (exact per-group OLS on week-grain revenue). The
  *    panel-data workhorse missing from the q434/q481 causal family.
  *  - q528: stationary distribution of the event-type Markov chain
  *    by synchronous power iteration (8 rounds, each round's vector
  *    rounded to 1e-12 like q497 so engine sum order cannot drift) —
  *    the steady-state companion to q497's absorption probabilities.
  *    The state vector is type-vocab-sized; every join broadcasts.
  */
object Sequential {

  type Q = (SparkSession, String) => DataFrame

  private val OBF = Seq(4.333, 2.963, 2.359, 2.014)

  val queries: Seq[(String, Q)] = Seq(

    "q526_obrien_fleming" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("arm"),
          expr("floor(unix_timestamp(ts) / 86400) DIV 7").as("wk"),
          floor(col("value") * 100).cast("long").as("cents")),
        "q526_base")
      val w0 = base.agg(min(col("wk")).as("w0"))
      val looks = (1 to 4).map { look =>
        base.crossJoin(broadcast(w0))
          .filter(col("wk") - col("w0") < look)
          .groupBy(col("arm"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
            sum(col("cents").cast("decimal(38,0)") * col("cents"))
              .as("s2"))
          .groupBy()
          .agg(
            sum(when(col("arm") === 0, col("n"))).as("n_a"),
            sum(when(col("arm") === 1, col("n"))).as("n_b"),
            sum(when(col("arm") === 0, col("s1"))).as("sa"),
            sum(when(col("arm") === 1, col("s1"))).as("sb"),
            sum(when(col("arm") === 0, col("s2"))).as("qa"),
            sum(when(col("arm") === 1, col("s2"))).as("qb"))
          .withColumn("look", lit(look.toLong))
          .withColumn("boundary_milli",
            lit((OBF(look - 1) * 1000).toLong))
      }
      looks.reduce(_ unionByName _)
        .withColumn("ma", col("sa").cast("double") / col("n_a"))
        .withColumn("mb", col("sb").cast("double") / col("n_b"))
        .withColumn("va",
          (col("qa").cast("double") - col("n_a") * col("ma") * col("ma"))
            / (col("n_a") - 1))
        .withColumn("vb",
          (col("qb").cast("double") - col("n_b") * col("mb") * col("mb"))
            / (col("n_b") - 1))
        .withColumn("z", (col("mb") - col("ma"))
          / sqrt(col("va") / col("n_a") + col("vb") / col("n_b")))
        .select(col("look"), col("n_a"), col("n_b"),
          floor(col("z") * 1000).cast("long").as("z_milli"),
          col("boundary_milli"),
          when(abs(col("z")) * 1000 >= col("boundary_milli"), 1L)
            .otherwise(0L).as("crossed"))
        .orderBy(col("look"))
    }),

    "q527_did_estimator" -> ((s, d) => {
      val base = graft.Stage(t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")
          .select(col("s_suppkey").as("l_suppkey"),
            col("s_nationkey").cast("long").as("nation"))),
          Seq("l_suppkey"))
        .select(
          when(col("nation") < 12, 1L).otherwise(0L).as("treated"),
          floor(unix_timestamp(col("l_shipdate")) / 86400L)
            .cast("long").as("day"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents")),
        "q527_base")
      val span = base.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
        .withColumn("mid", expr("d0 + (d1 - d0 + 1) DIV 2"))
      val marked = base.crossJoin(broadcast(span))
        .withColumn("post", (col("day") >= col("mid")).cast("long"))
        .withColumn("wk", expr("(day - d0) DIV 7"))
      val cells = marked.groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .withColumn("mean_cents", col("s").cast("double") / col("n"))
      val did = cells.groupBy()
        .agg(
          sum(when(col("treated") === 1 && col("post") === 1,
            col("mean_cents"))).as("t_post"),
          sum(when(col("treated") === 1 && col("post") === 0,
            col("mean_cents"))).as("t_pre"),
          sum(when(col("treated") === 0 && col("post") === 1,
            col("mean_cents"))).as("c_post"),
          sum(when(col("treated") === 0 && col("post") === 0,
            col("mean_cents"))).as("c_pre"),
          sum(col("n")).as("n_rows"))
      // pre-trend slope per group over week-grain revenue
      val pre = marked.filter(col("post") === 0)
        .groupBy(col("treated"), col("wk"))
        .agg(sum(col("cents")).as("rev"))
        .groupBy(col("treated"))
        .agg(count(lit(1)).as("nw"), sum(col("wk")).as("sw"),
          sum(col("rev")).as("sr"),
          sum(col("wk").cast("decimal(38,0)") * col("rev")).as("swr"),
          sum(col("wk").cast("decimal(38,0)") * col("wk")).as("sww"))
        .withColumn("slope",
          (col("nw").cast("decimal(38,0)") * col("swr")
            - col("sw").cast("decimal(38,0)") * col("sr")).cast("double")
            / (col("nw").cast("decimal(38,0)") * col("sww")
              - col("sw").cast("decimal(38,0)") * col("sw"))
              .cast("double"))
      val slopes = pre.groupBy()
        .agg(sum(when(col("treated") === 1, col("slope"))).as("st"),
          sum(when(col("treated") === 0, col("slope"))).as("sc"))
      did.crossJoin(slopes)
        .select(col("n_rows"),
          floor(col("t_pre")).cast("long").as("t_pre_cents"),
          floor(col("t_post")).cast("long").as("t_post_cents"),
          floor(col("c_pre")).cast("long").as("c_pre_cents"),
          floor(col("c_post")).cast("long").as("c_post_cents"),
          floor((col("t_post") - col("t_pre"))
            - (col("c_post") - col("c_pre"))).cast("long")
            .as("did_cents"),
          floor((col("st") - col("sc")) * 1000).cast("long")
            .as("pretrend_gap_milli"))
    }),

    "q528_markov_stationary" -> ((s, d) => {
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // Corpus-scale work ends here: one window + two-level aggregate
      // down to the event-type-enum-bounded (src,dst,cnt) matrix.
      val trans = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(wU))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("cnt"))
      // The 8-round power iteration is METADATA-scale (≤|types|² rows):
      // collect the matrix and solve locally — the q577 driver-side
      // Jacobi idiom, with the identical arithmetic the distributed
      // rounds used (prob = cnt/tot, pv' = round(Σ prob·pv, 12); r12
      // absorbs sum-order ulps exactly as it did between engines). The
      // previous 8 chained DataFrame rounds re-embedded the events
      // window+aggregate subtree once per round — ~9 corpus passes in
      // one plan; this is one.
      val rows = graft.Bounded.collectCapped(trans, 4096,
          "q528 event-type transition matrix (≤|types|² rows)")
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      def r12(x: Double): Double =
        new java.math.BigDecimal(java.lang.Double.toString(x))
          .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
      val totals: Map[String, Long] =
        rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val p = rows.map { case (src, dst, cnt) =>
        (src, dst, cnt.toDouble / totals(src)) }
      val k = totals.size // vocab-bounded (5 event types)
      var vec: Map[String, Double] = totals.keys.map(_ -> 1.0 / k).toMap
      for (_ <- 1 to 8) {
        // mirror the join+groupBy exactly: rows whose src is absent
        // from the current vector contribute no group at all
        vec = p.filter { case (src, _, _) => vec.contains(src) }
          .groupBy(_._2).view.mapValues { g =>
            r12(g.map { case (src, _, prob) => prob * vec(src) }.sum)
          }.toMap
      }
      val out = vec.toSeq.collect {
        case (state, pv) if totals.contains(state) =>
          (state, totals(state), math.floor(pv * 1e6).toLong)
      }.sortBy(_._1)
      s.createDataFrame(out)
        .toDF("state", "n_out_transitions", "pi_ppm")
        .orderBy(col("state"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q526_obrien_fleming" -> {
      val looks = (1 to 4).map { look =>
        s"""SELECT $look::BIGINT AS look,
              ${(OBF(look - 1) * 1000).toLong}::BIGINT
                AS boundary_milli,
              sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
              sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
              sum(CASE WHEN arm = 0 THEN cents END)::BIGINT AS sa,
              sum(CASE WHEN arm = 1 THEN cents END)::BIGINT AS sb,
              sum(CASE WHEN arm = 0 THEN cents::HUGEINT * cents END)
                AS qa,
              sum(CASE WHEN arm = 1 THEN cents::HUGEINT * cents END)
                AS qb
            FROM base, w0 WHERE wk - w0 < $look"""
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH base AS (
           SELECT user_id % 2 AS arm,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT // 7
                    AS wk,
                  floor(value * 100)::BIGINT AS cents
           FROM events WHERE event_type = 'purchase'),
         w0 AS (SELECT min(wk) AS w0 FROM base),
         looks AS (
           $looks),
         stats AS (
           SELECT look, boundary_milli, n_a, n_b,
             CAST(sa AS DOUBLE) / n_a AS ma,
             CAST(sb AS DOUBLE) / n_b AS mb,
             (CAST(qa AS DOUBLE) - n_a * (CAST(sa AS DOUBLE) / n_a)
               * (CAST(sa AS DOUBLE) / n_a)) / (n_a - 1) AS va,
             (CAST(qb AS DOUBLE) - n_b * (CAST(sb AS DOUBLE) / n_b)
               * (CAST(sb AS DOUBLE) / n_b)) / (n_b - 1) AS vb
           FROM looks),
         z AS (
           SELECT look, n_a, n_b, boundary_milli,
             (mb - ma) / sqrt(va / n_a + vb / n_b) AS z
           FROM stats)
         SELECT look, n_a, n_b,
                floor(z * 1000)::BIGINT AS z_milli,
                boundary_milli,
                (CASE WHEN abs(z) * 1000 >= boundary_milli THEN 1
                 ELSE 0 END)::BIGINT AS crossed
         FROM z ORDER BY look"""
    },

    "q527_did_estimator" ->
      """WITH base AS (
           SELECT (CASE WHEN s.s_nationkey < 12 THEN 1 ELSE 0 END)
                    AS treated,
                  floor(epoch(l.l_shipdate::TIMESTAMP) / 86400)
                    ::BIGINT AS day,
                  floor(l.l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem l JOIN supplier s
             ON l.l_suppkey = s.s_suppkey),
         span AS (
           SELECT min(day) AS d0,
                  min(day) + (max(day) - min(day) + 1) // 2 AS mid
           FROM base),
         marked AS (
           SELECT b.treated,
                  (CASE WHEN b.day >= s.mid THEN 1 ELSE 0 END)
                    AS post,
                  (b.day - s.d0) // 7 AS wk, b.cents
           FROM base b, span s),
         cells AS (
           SELECT treated, post, count(*)::BIGINT AS n,
                  CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents
           FROM marked GROUP BY treated, post),
         did AS (
           SELECT
             sum(CASE WHEN treated = 1 AND post = 1
                 THEN mean_cents END) AS t_post,
             sum(CASE WHEN treated = 1 AND post = 0
                 THEN mean_cents END) AS t_pre,
             sum(CASE WHEN treated = 0 AND post = 1
                 THEN mean_cents END) AS c_post,
             sum(CASE WHEN treated = 0 AND post = 0
                 THEN mean_cents END) AS c_pre,
             sum(n)::BIGINT AS n_rows
           FROM cells),
         wkrev AS (
           SELECT treated, wk, sum(cents)::BIGINT AS rev
           FROM marked WHERE post = 0 GROUP BY treated, wk),
         pre AS (
           SELECT treated,
             CAST(count(*)::HUGEINT * sum(wk::HUGEINT * rev)
               - sum(wk)::HUGEINT * sum(rev) AS DOUBLE)
               / CAST(count(*)::HUGEINT * sum(wk::HUGEINT * wk)
                 - sum(wk)::HUGEINT * sum(wk) AS DOUBLE) AS slope
           FROM wkrev GROUP BY treated),
         slopes AS (
           SELECT sum(CASE WHEN treated = 1 THEN slope END) AS st,
                  sum(CASE WHEN treated = 0 THEN slope END) AS sc
           FROM pre)
         SELECT d.n_rows,
                floor(d.t_pre)::BIGINT AS t_pre_cents,
                floor(d.t_post)::BIGINT AS t_post_cents,
                floor(d.c_pre)::BIGINT AS c_pre_cents,
                floor(d.c_post)::BIGINT AS c_post_cents,
                floor((d.t_post - d.t_pre) - (d.c_post - d.c_pre))
                  ::BIGINT AS did_cents,
                floor((s.st - s.sc) * 1000)::BIGINT
                  AS pretrend_gap_milli
         FROM did d, slopes s""",

    "q528_markov_stationary" -> {
      val rounds = (1 to 8).map { k =>
        s"""p$k AS (
           SELECT t.dst AS state,
                  round(sum(t.prob * p.pv), 12) AS pv
           FROM tr t JOIN p${k - 1} p ON t.src = p.state
           GROUP BY t.dst)"""
      }.mkString(",\n         ")
      s"""WITH seq AS (
           SELECT event_type AS src,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY ts::TIMESTAMP, event_id) AS dst
           FROM events),
         cnts AS (
           SELECT src, dst, count(*)::BIGINT AS cnt
           FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
         tot AS (
           SELECT src, sum(cnt)::BIGINT AS tot FROM cnts GROUP BY src),
         tr AS (
           SELECT c.src, c.dst, CAST(c.cnt AS DOUBLE) / t.tot AS prob
           FROM cnts c JOIN tot t ON c.src = t.src),
         nstates AS (SELECT count(DISTINCT src) AS k FROM tr),
         p0 AS (
           SELECT DISTINCT src AS state, 1.0 / (SELECT k FROM nstates)
             AS pv
           FROM tr),
         $rounds
         SELECT p.state, t.tot AS n_out_transitions,
                floor(p.pv * 1e6)::BIGINT AS pi_ppm
         FROM p8 p JOIN tot t ON p.state = t.src
         ORDER BY p.state"""
    }
  )
}


/** Round-9 batch Z (q472-q474) — behavioral analytics:
  *
  *  - q472: ordered-subsequence occurrence counting — how many
  *    (signup < click < purchase) index triples each user's stream
  *    contains (the strict "funnel instances" count, not just
  *    funnel reach). For each click: (#signups before) x
  *    (#purchases after), summed — two per-user cumulative windows,
  *    no DP array and no self-join, O(events) at any scale.
  *  - q473: bipartite co-occurrence projection (item-item CF prep):
  *    project the customer x brand purchase graph onto brands,
  *    cosine-normalize co-purchase counts by brand degrees. The
  *    pair stage self-joins the DISTINCT (customer, brand) edge
  *    list — per-customer fanout is catalog-bounded (~25 brands),
  *    the classic bounded-basket argument.
  *  - q474: one-way ANOVA F across day-of-week groups on event
  *    value — is any weekday different? SSB/SSW from exact
  *    per-group sums; k and n are integers; F and eta² quantized.
  */
object Behavior {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q473_brand_cooccurrence" -> ((s, d) => {
      // Staged once: deg + both self-join sides otherwise re-run the
      // 3-table join + distinct three times per materialization.
      val edges = graft.Stage(t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("cust"), col("p_brand").as("brand"))
        .distinct(), "q473_edges")
      val deg = edges.groupBy(col("brand"))
        .agg(count(lit(1)).as("deg"))
      val a = edges.select(col("cust"), col("brand").as("ba"))
      val b = edges.select(col("cust").as("cust_b"),
        col("brand").as("bb"))
      val co = a.join(b, col("cust") === col("cust_b") &&
          col("ba") < col("bb"))
        .groupBy(col("ba"), col("bb"))
        .agg(count(lit(1)).as("co"))
      co.join(broadcast(deg.withColumnRenamed("brand", "ba")
            .withColumnRenamed("deg", "dega")), "ba")
        .join(broadcast(deg.withColumnRenamed("brand", "bb")
            .withColumnRenamed("deg", "degb")), "bb")
        .withColumn("cosine_milli", floor(lit(1000.0) * col("co") /
          sqrt(col("dega").cast("double") * col("degb")))
          .cast("long"))
        .select(col("ba"), col("bb"), col("co"), col("dega"),
          col("degb"), col("cosine_milli"))
        .orderBy(col("cosine_milli").desc, col("ba"), col("bb"))
        .limit(15)
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

    "q472_subsequence_count" ->
      """WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                            event_type FROM events),
         counted AS (
           SELECT user_id,
                  coalesce(sum(CASE WHEN event_type = 'signup'
                    THEN 1 ELSE 0 END) OVER wb, 0) AS s_before,
                  coalesce(sum(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) OVER wa, 0) AS p_after,
                  event_type
           FROM ev
           WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wa AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT (user_id % 10)::BIGINT AS cohort,
                sum(s_before * p_after)::BIGINT AS funnel_instances,
                count(*)::BIGINT AS n_clicks,
                count(DISTINCT user_id)::BIGINT AS n_users
         FROM counted WHERE event_type = 'click'
         GROUP BY cohort ORDER BY cohort""",

    "q473_brand_cooccurrence" ->
      """WITH edges AS (
           SELECT DISTINCT o_custkey AS cust, p_brand AS brand
           FROM orders
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN part ON l_partkey = p_partkey),
         deg AS (
           SELECT brand, count(*)::BIGINT AS deg
           FROM edges GROUP BY brand),
         co AS (
           SELECT a.brand AS ba, b.brand AS bb, count(*)::BIGINT AS co
           FROM edges a JOIN edges b
             ON a.cust = b.cust AND a.brand < b.brand
           GROUP BY a.brand, b.brand)
         SELECT co.ba, co.bb, co.co,
                da.deg AS dega, db.deg AS degb,
                floor(1000.0 * co.co
                  / sqrt(CAST(da.deg AS DOUBLE) * db.deg))::BIGINT
                  AS cosine_milli
         FROM co JOIN deg da ON co.ba = da.brand
                 JOIN deg db ON co.bb = db.brand
         ORDER BY cosine_milli DESC, co.ba, co.bb
         LIMIT 15""",

    "q474_anova_f" ->
      """WITH ev AS (
           SELECT dayofweek(ts::TIMESTAMP) + 1 AS dow, value
           FROM events),
         grp AS (
           SELECT dow, sum(value) AS gs,
                  sum(value * value) AS gss, count(*)::BIGINT AS gn
           FROM ev GROUP BY dow),
         tot AS (
           SELECT sum(gs) AS ts_, sum(gn)::BIGINT AS tn,
                  count(*)::BIGINT AS k
           FROM grp),
         parts AS (
           SELECT sum(gss - gs * gs / gn) AS ssw,
                  sum(gs * gs / gn) AS sum_term
           FROM grp)
         SELECT k, tn AS n,
                floor((sum_term - ts_ * ts_ / tn) * 100)::BIGINT
                  AS ssb_centi,
                floor(ssw * 100)::BIGINT AS ssw_centi,
                floor(1000.0 * ((sum_term - ts_ * ts_ / tn) / (k - 1))
                  / (ssw / (tn - k)))::BIGINT AS f_milli,
                floor(1000000.0 * (sum_term - ts_ * ts_ / tn)
                  / ((sum_term - ts_ * ts_ / tn) + ssw))::BIGINT
                  AS eta2_ppm
         FROM parts CROSS JOIN tot"""
  )
}
