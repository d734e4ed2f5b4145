package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-9 batch BF (q568-q570) — process mining and rank statistics
  * (public algorithms: the directly-follows process map [van der
  * Aalst, Process Mining 2011], the Mann-Whitney U test with tie
  * correction [Mann-Whitney 1947], and weighted quantiles):
  *
  *  - q568: directly-follows process map — per (src → dst) event
  *    transition: traversal count plus median and p90 latency, read
  *    off a 10-second-grain latency HISTOGRAM per edge (cumulative
  *    counts over a time-domain-bounded grain — never a per-edge row
  *    sort). The bottleneck readout of every process-mining tool.
  *  - q569: Mann-Whitney U between urgent and non-urgent order
  *    prices, computed EXACTLY on the cent-value grain: doubled
  *    midranks (2r = 2·cum_before + t + 1) keep ranks integer under
  *    ties, U from the doubled rank sum, and the tie-corrected
  *    normal z in milli with the single float step at the final
  *    sqrt. All O(|value domain|) after one grain aggregation.
  *  - q570: weighted median and quartiles — revenue cents weighted
  *    by quantity per returnflag, each quantile the first value
  *    whose cumulative weight reaches q·W (lower weighted quantile),
  *    via the same value-grain cumulative discipline (q539/q565).
  */
object ProcessMining {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q568_process_map" -> ((s, d) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = t(s, d, "events")
        .select(col("user_id"), col("event_type").as("src"),
          col("ts"), col("event_id"),
          lead(col("event_type"), 1).over(wU).as("dst"),
          ((lead(unix_timestamp(col("ts")), 1).over(wU)
            - unix_timestamp(col("ts"))) / 10L).cast("long")
            .as("lat10"))
        .filter(col("dst").isNotNull)
      val hist = graft.Stage(trans
        .groupBy(col("src"), col("dst"), col("lat10"))
        .agg(count(lit(1)).as("cnt")), "q568_hist")
      val tot = hist.groupBy(col("src"), col("dst"))
        .agg(sum(col("cnt")).as("n"))
      val wE = Window.partitionBy(col("src"), col("dst"))
        .orderBy(col("lat10"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(wE))
        .join(broadcast(tot), Seq("src", "dst"))
      val med = cum.filter(col("cum") * 2 >= col("n"))
        .groupBy(col("src"), col("dst"))
        .agg(min(col("lat10")).as("median_lat10"))
      val p90 = cum.filter(col("cum") * 10 >= col("n") * 9)
        .groupBy(col("src"), col("dst"))
        .agg(min(col("lat10")).as("p90_lat10"))
      tot.join(med, Seq("src", "dst"))
        .join(p90, Seq("src", "dst"))
        .select(col("src"), col("dst"), col("n"),
          col("median_lat10"), col("p90_lat10"))
        .orderBy(col("src"), col("dst"))
    }),

    "q569_mann_whitney_u" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
          .as("v"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("g"))
      val grain = graft.Stage(base.groupBy(col("v"))
        .agg(count(lit(1)).as("tc"),
          sum(col("g")).as("c1")), "q569_grain")
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // doubled midrank of value v: 2r = 2·cum_before + t + 1
      val ranked = grain
        .withColumn("cumb", coalesce(sum(col("tc")).over(wv), lit(0L)))
        .withColumn("r2", lit(2L) * col("cumb") + col("tc") + 1L)
      val agg = ranked.agg(
        sum(col("c1") * col("r2")).as("r2sum1"),
        sum(col("c1")).as("n1"),
        sum(col("tc")).as("n"),
        sum(col("tc") * col("tc") * col("tc") - col("tc"))
          .as("tieterm"))
      agg.select(col("n1"), (col("n") - col("n1")).as("n2"),
          col("n"),
          // U1 = R1 − n1(n1+1)/2, with R1 = r2sum1/2 (exact: r2sum1
          // is even iff …; keep doubled: 2U = r2sum1 − n1(n1+1))
          (col("r2sum1") - col("n1") * (col("n1") + 1L)).as("u2"),
          col("tieterm"))
        .select(col("n1"), col("n2"), col("n"), col("u2"),
          // z = (U − n1n2/2) / sqrt(var), var = n1n2/12·((n+1) −
          // tieterm/(n(n−1))); computed on doubled U to stay integer
          // in the numerator: 2U − n1n2, denominator 2·sqrt(var)
          expr("""CAST(floor(
              (u2 - n1 * n2) * 1000.0 /
              (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                * ((n + 1) - CAST(tieterm AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1))))))
              AS BIGINT)""").as("z_milli"))
    }),

    "q570_weighted_quantiles" -> ((s, d) => {
      val grain = graft.Stage(t(s, d, "lineitem")
        .select(col("l_returnflag").as("rf"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
            .as("v"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("rf"), col("v"))
        .agg(sum(col("w")).as("w")), "q570_grain")
      val tot = grain.groupBy(col("rf"))
        .agg(sum(col("w")).as("tw"))
      val wR = Window.partitionBy(col("rf")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grain.withColumn("cw", sum(col("w")).over(wR))
        .join(broadcast(tot), Seq("rf"))
      // All three weighted quantiles in ONE conditional aggregate over
      // the cumulative pass: min(v | cw·den ≥ tw·num) ≡ the old
      // per-quantile filter+min, but the previous shape re-ran the
      // window subtree once per quantile plus three joins (4 corpus
      // window passes in one plan — guide §1.2 "don't compute things
      // you throw away"); this is one window + one aggregate.
      def quant(num: Int, den: Int): Column =
        min(when(col("cw") * den >= col("tw") * num, col("v")))
      cum.groupBy(col("rf"))
        .agg(max(col("tw")).as("total_weight"),
          quant(1, 4).as("wp25_cents"),
          quant(1, 2).as("wmedian_cents"),
          quant(3, 4).as("wp75_cents"))
        .select(col("rf"), col("total_weight"),
          col("wp25_cents"), col("wmedian_cents"), col("wp75_cents"))
        .orderBy(col("rf"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q568_process_map" ->
      """WITH trans AS (
           SELECT event_type AS src,
                  lead(event_type, 1) OVER w AS dst,
                  ((lead(floor(epoch(ts::TIMESTAMP))::BIGINT, 1)
                      OVER w
                    - floor(epoch(ts::TIMESTAMP))::BIGINT) // 10)
                    ::BIGINT AS lat10
           FROM events
           WINDOW w AS (PARTITION BY user_id
             ORDER BY ts::TIMESTAMP, event_id)),
         hist AS (
           SELECT src, dst, lat10, count(*)::BIGINT AS cnt
           FROM trans WHERE dst IS NOT NULL
           GROUP BY src, dst, lat10),
         tot AS (
           SELECT src, dst, sum(cnt)::BIGINT AS n FROM hist
           GROUP BY src, dst),
         cum AS (
           SELECT h.src, h.dst, h.lat10, t.n,
                  sum(h.cnt) OVER (PARTITION BY h.src, h.dst
                    ORDER BY h.lat10
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
           FROM hist h JOIN tot t ON h.src = t.src
             AND h.dst = t.dst),
         med AS (
           SELECT src, dst, min(lat10)::BIGINT AS median_lat10
           FROM cum WHERE cum * 2 >= n GROUP BY src, dst),
         p90 AS (
           SELECT src, dst, min(lat10)::BIGINT AS p90_lat10
           FROM cum WHERE cum * 10 >= n * 9 GROUP BY src, dst)
         SELECT t.src, t.dst, t.n, m.median_lat10, p.p90_lat10
         FROM tot t
         JOIN med m ON t.src = m.src AND t.dst = m.dst
         JOIN p90 p ON t.src = p.src AND t.dst = p.dst
         ORDER BY t.src, t.dst""",

    "q569_mann_whitney_u" ->
      """WITH base AS (
           SELECT floor(o_totalprice * 100)::BIGINT AS v,
                  (CASE WHEN o_orderpriority IN ('1-URGENT',
                    '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS g
           FROM orders),
         grain AS (
           SELECT v, count(*)::BIGINT AS tc, sum(g)::BIGINT AS c1
           FROM base GROUP BY v),
         ranked AS (
           SELECT *, coalesce(sum(tc) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cumb
           FROM grain),
         agg AS (
           SELECT sum(c1 * (2 * cumb + tc + 1))::BIGINT AS r2sum1,
                  sum(c1)::BIGINT AS n1,
                  sum(tc)::BIGINT AS n,
                  sum(tc * tc * tc - tc)::BIGINT AS tieterm
           FROM ranked),
         u AS (
           SELECT n1, (n - n1)::BIGINT AS n2, n,
                  (r2sum1 - n1 * (n1 + 1))::BIGINT AS u2, tieterm
           FROM agg)
         SELECT n1, n2, n, u2,
                CAST(floor(
                  (u2 - n1 * n2) * 1000.0 /
                  (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((n + 1) - CAST(tieterm AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n - 1))))))
                  AS BIGINT) AS z_milli
         FROM u""",

    "q570_weighted_quantiles" ->
      """WITH grain AS (
           SELECT l_returnflag AS rf,
                  floor(l_extendedprice * 100)::BIGINT AS v,
                  sum(l_quantity::BIGINT)::BIGINT AS w
           FROM lineitem GROUP BY 1, 2),
         tot AS (
           SELECT rf, sum(w)::BIGINT AS tw FROM grain GROUP BY rf),
         cum AS (
           SELECT g.rf, g.v, t.tw,
                  sum(g.w) OVER (PARTITION BY g.rf ORDER BY g.v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cw
           FROM grain g JOIN tot t ON g.rf = t.rf),
         q25 AS (
           SELECT rf, min(v)::BIGINT AS wp25_cents FROM cum
           WHERE cw * 4 >= tw * 1 GROUP BY rf),
         q50 AS (
           SELECT rf, min(v)::BIGINT AS wmedian_cents FROM cum
           WHERE cw * 2 >= tw * 1 GROUP BY rf),
         q75 AS (
           SELECT rf, min(v)::BIGINT AS wp75_cents FROM cum
           WHERE cw * 4 >= tw * 3 GROUP BY rf)
         SELECT t.rf, t.tw AS total_weight, a.wp25_cents,
                b.wmedian_cents, c.wp75_cents
         FROM tot t
         JOIN q25 a ON t.rf = a.rf
         JOIN q50 b ON t.rf = b.rf
         JOIN q75 c ON t.rf = c.rf
         ORDER BY t.rf"""
  )
}

/** Round-9 batch O (q437-q440): map matching, tail attribution,
  * storage-encoding advice, and the A/B outcome test:
  *
  *  - q437: snap-to-nearest-segment (map-matching lite — the
  *    point-to-road assignment under a tolerance that the reference's
  *    geo joins feed into; cell-bucketed candidate join on the Spark
  *    side, brute-force oracle),
  *  - q438: tail-latency attribution — which segments own the rows
  *    above the global p99 (threshold via the ExactSelection iterative
  *    refinement, so no corpus sort anywhere),
  *  - q439: per-column encoding advisor (dictionary vs RLE vs plain
  *    bits under the table's physical order — the storage sibling of
  *    q388's partition-key advisor),
  *  - q440: two-proportion z-test on conversion by assignment bucket
  *    (the outcome-level complement of q419's SRM check).
  *
  * Geometry and distances are fixed IEEE expression trees over
  * integer-derived coordinates, so doubles reproduce bit-for-bit;
  * ranks/shares ride on floor-quantized integers.
  */
object Snapshots {

  type Q = (SparkSession, String) => DataFrame

  private val TOL = 5.0 // snap tolerance
  private val CELL = 8.0 // grid cell: >= TOL so 3x3 covers the disc

  // deterministic synthetic road network over supplier ids: short
  // segments with integer-derived endpoints; the CASE nudge keeps
  // every segment non-degenerate
  private def segments(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier").select(
      col("s_suppkey").as("seg_id"),
      (col("s_suppkey") * 37 % 100).cast("double").as("ax"),
      (col("s_suppkey") * 53 % 100).cast("double").as("ay"),
      (col("s_suppkey") % 7 - 3 +
        when(col("s_suppkey") % 7 === 3 && col("s_suppkey") % 5 === 2, 1)
          .otherwise(0)).cast("double").as("dx"),
      (col("s_suppkey") % 5 - 2).cast("double").as("dy"))

  private def points(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("event_id") % 4 === 0).select(
      col("event_id").as("pt_id"),
      ((col("event_id") * 17 % 10000) / 100.0).as("px"),
      ((col("event_id") * 31 % 10000) / 100.0).as("py"))

  val queries: Seq[(String, Q)] = Seq(

    // Point-to-segment distance by projection clamp; candidates from a
    // CELL-grid join (segment bbox expanded by TOL, points in their
    // own cell) — every true match is a candidate, and the argmin
    // rides on floor-quantized micro-d2 with seg_id tie-break.
    "q437_snap_to_segment" -> ((s, d) => {
      val segs = segments(s, d)
        .withColumn("bx", col("ax") + col("dx"))
        .withColumn("by", col("ay") + col("dy"))
        .withColumn("gx", explode(sequence(
          floor((least(col("ax"), col("bx")) - TOL) / CELL).cast("long"),
          floor((greatest(col("ax"), col("bx")) + TOL) / CELL)
            .cast("long"))))
        .withColumn("gy", explode(sequence(
          floor((least(col("ay"), col("by")) - TOL) / CELL).cast("long"),
          floor((greatest(col("ay"), col("by")) + TOL) / CELL)
            .cast("long"))))
      val pts = points(s, d)
        .withColumn("gx", floor(col("px") / CELL).cast("long"))
        .withColumn("gy", floor(col("py") / CELL).cast("long"))
      val cand = pts.join(segs, Seq("gx", "gy"))
        .withColumn("len2", col("dx") * col("dx") + col("dy") * col("dy"))
        .withColumn("tt", least(lit(1.0), greatest(lit(0.0),
          ((col("px") - col("ax")) * col("dx") +
            (col("py") - col("ay")) * col("dy")) / col("len2"))))
        .withColumn("qx", col("ax") + col("tt") * col("dx"))
        .withColumn("qy", col("ay") + col("tt") * col("dy"))
        .withColumn("d2", (col("px") - col("qx")) * (col("px") - col("qx"))
          + (col("py") - col("qy")) * (col("py") - col("qy")))
        .withColumn("md2", floor(col("d2") * 1000000).cast("long"))
        // tolerance gate on the QUANTIZED value so the boundary is the
        // same integer on both engines
        .filter(col("md2") <= (TOL * TOL * 1000000).toLong)
      val wSnap = Window.partitionBy(col("pt_id"))
        .orderBy(col("md2"), col("seg_id"))
      cand.withColumn("rk", row_number().over(wSnap))
        .filter(col("rk") === 1)
        .groupBy(col("seg_id"))
        .agg(count(lit(1)).as("n_snapped"),
          expr("sum(md2) DIV count(*)").as("avg_micro_d2"),
          max(col("md2")).as("max_micro_d2"))
        .orderBy(col("seg_id"))
    }),

    // Rows above the global p99 of events.value, attributed by
    // event_type. Threshold = k-th smallest with k = 99n DIV 100 + 1
    // (ExactSelection: bounded histogram refinement, no corpus sort);
    // shares in ppm of the tail.
    "q438_tail_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      val n = ev.count() // bounded driver-side scalar (row count)
      val k = 99L * n / 100L + 1L
      val thr = ExactSelection.kth(ev.toDF(), "value", k).value
      val tail = ev.filter(col("value") >= thr)
      val tot = tail.count() // bounded driver-side scalar
      tail.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_tail"),
          // floor per ROW then sum: a cross-engine double sum would
          // bit-diverge; integer micros sum exactly in any order
          sum(floor(col("value") * 1000000).cast("long"))
            .as("tail_value_micro"))
        .select(col("event_type"), col("n_tail"),
          expr(s"1000000 * n_tail DIV ${tot}L").as("share_ppm"),
          col("tail_value_micro"),
          lit(math.floor(thr * 1000000).toLong).as("thr_micro"))
        .orderBy(col("event_type"))
    }),

    // Encoding advisor under the (l_orderkey, l_linenumber) physical
    // order: per column, distincts / value runs / delta width inside
    // 8192-key row groups, and the modeled dictionary vs RLE vs plain
    // bit cost. Per-row-group windows keep every sort bounded.
    "q439_encoding_advisor" -> ((s, d) => {
      val base = t(s, d, "lineitem").select(
        expr("l_orderkey DIV 8192").as("rg"),
        col("l_orderkey"), col("l_linenumber"),
        expr("""stack(3,
          'returnflag', l_returnflag,
          'shipday', cast(datediff(l_shipdate, DATE '1992-01-01')
            AS STRING),
          'suppkey', cast(l_suppkey AS STRING))""")
          .as(Seq("column_name", "v")))
      // (l_orderkey, l_linenumber) is NOT unique in the fixture (dup
      // keys up to x6): 'v' as the final key makes the run order total
      // wherever it matters (equal-v ties cannot change run counts)
      val wOrd = Window.partitionBy(col("rg"), col("column_name"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("v"))
      val runs = base
        .withColumn("prev", lag(col("v"), 1).over(wOrd))
        .withColumn("is_run_start",
          when(col("prev").isNull || col("prev") =!= col("v"), 1L)
            .otherwise(0L))
      val perRg = runs.groupBy(col("rg"), col("column_name"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("v")).as("nd"),
          sum(col("is_run_start")).as("nruns"))
      perRg.groupBy(col("column_name"))
        .agg(sum(col("n")).as("n_values"),
          sum(col("nd")).as("sum_rg_distinct"),
          max(col("nd")).as("max_rg_distinct"),
          sum(col("nruns")).as("n_runs"))
        .withColumn("dict_bits", expr(
          "CASE WHEN max_rg_distinct <= 1 THEN 1 " +
            "ELSE length(bin(max_rg_distinct - 1)) END"))
        .withColumn("est_dict_bits", col("dict_bits") * col("n_values"))
        .withColumn("est_rle_bits",
          col("n_runs") * (col("dict_bits") + 32L))
        .withColumn("est_plain_bits", col("n_values") * 64L)
        .withColumn("recommended", expr(
          """CASE WHEN est_rle_bits <= est_dict_bits
                   AND est_rle_bits <= est_plain_bits THEN 'rle'
                  WHEN est_dict_bits <= est_plain_bits THEN 'dict'
                  ELSE 'plain' END"""))
        .orderBy(col("column_name"))
    }),

    // Conversion (>=1 purchase) by assignment bucket (user_id % 2):
    // pooled two-proportion z in milli-units from exact integer
    // counts; |z| >= 1.96 flags a real outcome difference.
    "q440_ab_conversion_ztest" -> ((s, d) => {
      val users = t(s, d, "events")
        .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 5L)
            .otherwise(0L)) >= count(lit(1)), 1L).otherwise(0L)
          .as("conv"))
      val v = users.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val wide = v.filter(col("variant") === 0)
        .select(col("n").as("n0"), col("c").as("c0"))
        .crossJoin(v.filter(col("variant") === 1)
          .select(col("n").as("n1"), col("c").as("c1")))
      wide.select(col("n0"), col("c0"), col("n1"), col("c1"),
          expr("1000000 * c0 DIV n0").as("p0_ppm"),
          expr("1000000 * c1 DIV n1").as("p1_ppm"),
          expr("""floor(1000 * ((CAST(c0 AS DOUBLE) / n0
              - CAST(c1 AS DOUBLE) / n1)
            / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
              * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
              * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))))""")
            .cast("long").as("z_milli"))
        .withColumn("significant",
          (abs(col("z_milli")) >= 1960L).cast("long"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q437_snap_to_segment" ->
      """WITH segs AS (
           SELECT s_suppkey AS seg_id,
                  (s_suppkey * 37 % 100)::DOUBLE AS ax,
                  (s_suppkey * 53 % 100)::DOUBLE AS ay,
                  (s_suppkey % 7 - 3 + CASE WHEN s_suppkey % 7 = 3
                     AND s_suppkey % 5 = 2 THEN 1 ELSE 0 END)::DOUBLE
                    AS dx,
                  (s_suppkey % 5 - 2)::DOUBLE AS dy
           FROM supplier),
         pts AS (
           SELECT event_id AS pt_id,
                  ((event_id * 17 % 10000) / 100.0)::DOUBLE AS px,
                  ((event_id * 31 % 10000) / 100.0)::DOUBLE AS py
           FROM events WHERE event_id % 4 = 0),
         cand AS (
           SELECT p.pt_id, s.seg_id,
                  floor(((p.px - (s.ax + least(1.0, greatest(0.0,
                    ((p.px - s.ax) * s.dx + (p.py - s.ay) * s.dy)
                      / (s.dx * s.dx + s.dy * s.dy))) * s.dx))
                   * (p.px - (s.ax + least(1.0, greatest(0.0,
                    ((p.px - s.ax) * s.dx + (p.py - s.ay) * s.dy)
                      / (s.dx * s.dx + s.dy * s.dy))) * s.dx))
                   + (p.py - (s.ay + least(1.0, greatest(0.0,
                    ((p.px - s.ax) * s.dx + (p.py - s.ay) * s.dy)
                      / (s.dx * s.dx + s.dy * s.dy))) * s.dy))
                   * (p.py - (s.ay + least(1.0, greatest(0.0,
                    ((p.px - s.ax) * s.dx + (p.py - s.ay) * s.dy)
                      / (s.dx * s.dx + s.dy * s.dy))) * s.dy)))
                   * 1000000)::BIGINT AS md2
           FROM pts p CROSS JOIN segs s),
         best AS (
           SELECT pt_id, seg_id, md2,
                  row_number() OVER (PARTITION BY pt_id
                    ORDER BY md2, seg_id) AS rk
           FROM cand WHERE md2 <= 25000000)
         SELECT seg_id, count(*)::BIGINT AS n_snapped,
                (sum(md2) // count(*))::BIGINT AS avg_micro_d2,
                max(md2)::BIGINT AS max_micro_d2
         FROM best WHERE rk = 1
         GROUP BY seg_id ORDER BY seg_id""",

    "q438_tail_attribution" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM events),
         thr AS (
           SELECT value AS thr FROM events, n
           ORDER BY value
           LIMIT 1 OFFSET (SELECT (99 * n) // 100 FROM n)),
         tail AS (
           SELECT event_type, value FROM events, thr
           WHERE value >= thr),
         tot AS (SELECT count(*)::BIGINT AS tot FROM tail)
         SELECT event_type, count(*)::BIGINT AS n_tail,
                ((1000000 * count(*)) // (SELECT tot FROM tot))::BIGINT
                  AS share_ppm,
                sum(floor(value * 1000000)::BIGINT)::BIGINT
                  AS tail_value_micro,
                (SELECT floor(thr * 1000000)::BIGINT FROM thr)
                  AS thr_micro
         FROM tail GROUP BY event_type ORDER BY event_type""",

    "q439_encoding_advisor" ->
      """WITH base AS (
           SELECT l_orderkey // 8192 AS rg, l_orderkey, l_linenumber,
                  'returnflag' AS column_name, l_returnflag AS v
           FROM lineitem
           UNION ALL
           SELECT l_orderkey // 8192, l_orderkey, l_linenumber,
                  'shipday',
                  CAST(datediff('day', DATE '1992-01-01',
                    l_shipdate::DATE) AS VARCHAR)
           FROM lineitem
           UNION ALL
           SELECT l_orderkey // 8192, l_orderkey, l_linenumber,
                  'suppkey', CAST(l_suppkey AS VARCHAR)
           FROM lineitem),
         runs AS (
           SELECT rg, column_name, v,
                  CASE WHEN lag(v) OVER (PARTITION BY rg, column_name
                      ORDER BY l_orderkey, l_linenumber, v) IS DISTINCT
                      FROM v THEN 1 ELSE 0 END AS is_run_start
           FROM base),
         per_rg AS (
           SELECT rg, column_name, count(*)::BIGINT AS n,
                  count(DISTINCT v)::BIGINT AS nd,
                  sum(is_run_start)::BIGINT AS nruns
           FROM runs GROUP BY 1, 2),
         agg AS (
           SELECT column_name, sum(n)::BIGINT AS n_values,
                  sum(nd)::BIGINT AS sum_rg_distinct,
                  max(nd)::BIGINT AS max_rg_distinct,
                  sum(nruns)::BIGINT AS n_runs
           FROM per_rg GROUP BY 1),
         cost AS (
           SELECT *,
                  (CASE WHEN max_rg_distinct <= 1 THEN 1
                        ELSE length(bin(max_rg_distinct - 1)) END)
                    ::BIGINT AS dict_bits
           FROM agg)
         SELECT column_name, n_values, sum_rg_distinct, max_rg_distinct,
                n_runs, dict_bits,
                (dict_bits * n_values)::BIGINT AS est_dict_bits,
                (n_runs * (dict_bits + 32))::BIGINT AS est_rle_bits,
                (n_values * 64)::BIGINT AS est_plain_bits,
                CASE WHEN n_runs * (dict_bits + 32)
                       <= dict_bits * n_values
                      AND n_runs * (dict_bits + 32) <= n_values * 64
                     THEN 'rle'
                     WHEN dict_bits * n_values <= n_values * 64
                     THEN 'dict'
                     ELSE 'plain' END AS recommended
         FROM cost ORDER BY column_name""",

    "q440_ab_conversion_ztest" ->
      """WITH users AS (
           SELECT (user_id % 2)::BIGINT AS variant, user_id,
                  (CASE WHEN sum(CASE WHEN event_type = 'purchase'
                         THEN 5 ELSE 0 END) >= count(*)
                        THEN 1 ELSE 0 END)::BIGINT AS conv
           FROM events GROUP BY 1, 2),
         v AS (
           SELECT variant, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
           FROM users GROUP BY 1),
         wide AS (
           SELECT v0.n AS n0, v0.c AS c0, v1.n AS n1, v1.c AS c1
           FROM (SELECT n, c FROM v WHERE variant = 0) v0
           CROSS JOIN (SELECT n, c FROM v WHERE variant = 1) v1)
         SELECT n0, c0, n1, c1,
                ((1000000 * c0) // n0)::BIGINT AS p0_ppm,
                ((1000000 * c1) // n1)::BIGINT AS p1_ppm,
                floor(1000 * ((CAST(c0 AS DOUBLE) / n0
                    - CAST(c1 AS DOUBLE) / n1)
                  / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (CAST(1 AS DOUBLE) / n0
                       + CAST(1 AS DOUBLE) / n1))))::BIGINT AS z_milli,
                (CASE WHEN abs(floor(1000 * ((CAST(c0 AS DOUBLE) / n0
                    - CAST(c1 AS DOUBLE) / n1)
                  / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (CAST(1 AS DOUBLE) / n0
                       + CAST(1 AS DOUBLE) / n1))))) >= 1960
                      THEN 1 ELSE 0 END)::BIGINT AS significant
         FROM wide"""
  )
}


/** Round-9 batch U (q457-q459):
  *
  *  - q457: row-pattern matching with NEGATION — "signup then
  *    purchase with NO intervening error" per user (the
  *    MATCH_RECOGNIZE exclusion shape). The negative condition is a
  *    per-user window ("timestamp of the next error after me"), so
  *    no self-join and no pattern automaton: a match is valid iff the
  *    candidate B lands before A's next-error timestamp.
  *  - q458: Top-N + Other — the reporting rollup everyone writes:
  *    revenue by the top-8 customers plus one correctly-totalled
  *    'OTHER' bucket (rank on a keyed aggregate, conditional regroup;
  *    the detail aggregate is the only corpus stage).
  *  - q459: spatial hotspot detection (Getis-Ord Gi*-lite) — event
  *    density on a grid, each cell scored by its 3x3 neighborhood sum
  *    against the global mean in a closed-form z (ppm-quantized), hot
  *    cells flagged. The spatial sibling of q414's temporal scan
  *    statistic.
  */
object Patterns {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q457_pattern_negation" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val marked = ev
        .withColumn("next_err_ts", min(when(col("event_type") === "error",
          col("ts"))).over(wU))
        .withColumn("next_purch_ts",
          min(when(col("event_type") === "purchase", col("ts"))).over(wU))
      // per signup: a clean conversion exists iff the next purchase
      // strictly precedes the next error (or no error follows at all)
      val signups = marked.filter(col("event_type") === "signup")
        .withColumn("clean", (col("next_purch_ts").isNotNull &&
          (col("next_err_ts").isNull ||
            col("next_purch_ts") < col("next_err_ts"))).cast("long"))
        .withColumn("blocked", (col("next_purch_ts").isNotNull &&
          col("next_err_ts").isNotNull &&
          col("next_purch_ts") >= col("next_err_ts")).cast("long"))
      signups.groupBy((col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_signups"),
          sum(col("clean")).as("clean_conversions"),
          sum(col("blocked")).as("error_blocked"),
          sum(when(col("next_purch_ts").isNull, 1L).otherwise(0L))
            .as("never_converted"))
        .withColumn("clean_ppm",
          expr("1000000 * clean_conversions DIV n_signups"))
        .orderBy(col("cohort"))
    }),

    "q458_topn_other" -> ((s, d) => {
      val rev = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("cents"), count(lit(1)).as("n_orders"))
      val wRank = Window.orderBy(col("cents").desc, col("o_custkey"))
      val ranked = rev.withColumn("rk", row_number().over(wRank))
      // dimension-sized window (one row per customer)
      ranked
        .withColumn("bucket", when(col("rk") <= 8,
          concat(lit("#"), lpad(col("rk").cast("string"), 2, "0"),
            lit(" cust_"), col("o_custkey")))
          .otherwise(lit("OTHER")))
        .groupBy(col("bucket"))
        .agg(sum(col("cents")).as("revenue_cents"),
          sum(col("n_orders")).as("n_orders"),
          count(lit(1)).as("n_customers"))
        .orderBy(col("revenue_cents").desc, col("bucket"))
    }),

    // grid cell = (floor(px/5), floor(py/5)) over the q437 point
    // derivation; Gi*-lite z for cell c: nbr = 3x3 sum around c,
    // z_milli = floor(1000 * (nbr - 9*mean) / (3*sd)) from the global
    // cell-count moments (exact integers -> fixed double tree).
    "q459_spatial_hotspots" -> ((s, d) => {
      // uniform background + a planted dense cluster near (51, 51)
      // (every 37th event): the detector must find the plant, and at
      // uniform density must flag (almost) nothing else. Background
      // scatter uses Knuth multiplicative mixing — a small multiplier
      // (the original *17/*31) degenerates to a diagonal LINE at small
      // fixtures (no wraparound below id≈600), whose ridge cells
      // out-score the plant
      val pts = t(s, d, "events").select(
        when(col("event_id") % 37 === 0,
          lit(50.0) + (col("event_id") % 100) / 25.0)
          .otherwise((col("event_id") * 2654435761L % 10000) / 100.0).as("px"),
        when(col("event_id") % 37 === 0,
          lit(50.0) + (col("event_id") % 97) / 25.0)
          .otherwise((col("event_id") * 2246822519L % 10000) / 100.0).as("py"))
      val cells = pts.groupBy(
          floor(col("px") / 5).cast("long").as("cx"),
          floor(col("py") / 5).cast("long").as("cy"))
        .agg(count(lit(1)).as("c"))
      // stats over the FULL 20x20 grid (empty cells count as zero)
      val m = cells.agg(sum(col("c")).as("tot"),
        sum(col("c") * col("c")).as("sq"),
        count(lit(1)).as("nonempty"))
      val nbrs = cells.select(explode(sequence(lit(-1), lit(1))).as("ox"),
          col("cx"), col("cy"), col("c"))
        .select(explode(sequence(lit(-1), lit(1))).as("oy"),
          (col("cx") + col("ox")).as("cx"), col("cy"), col("c"))
        .select(col("cx"), (col("cy") + col("oy")).as("cy"), col("c"))
        .filter(col("cx").between(0, 19) && col("cy").between(0, 19))
        .groupBy(col("cx"), col("cy"))
        .agg(sum(col("c")).as("nbr"), count(lit(1)).as("n_nbr_cells"))
      nbrs.crossJoin(broadcast(m))
        // mean/var over all 400 grid cells (zeros included); the
        // neighborhood size k is GEOMETRIC (border cells have k < 9),
        // so borders are z-normalized, not artifact-flagged
        .withColumn("k", expr(
          """(least(cx + 1, 19) - greatest(cx - 1, 0) + 1)
             * (least(cy + 1, 19) - greatest(cy - 1, 0) + 1)"""))
        .withColumn("mean", expr("CAST(tot AS DOUBLE) / 400"))
        .withColumn("variance",
          expr("CAST(sq AS DOUBLE) / 400 - mean * mean"))
        .withColumn("z_milli", expr(
          """CAST(floor(1000 * (nbr - k * mean)
             / (sqrt(CAST(k AS DOUBLE)) * sqrt(variance))) AS BIGINT)"""))
        .withColumn("hot", (col("z_milli") >= 2576L).cast("long"))
        .filter(col("hot") === 1 || col("z_milli") <= -2576L)
        .select(col("cx"), col("cy"), col("nbr"), col("z_milli"),
          col("hot"))
        .orderBy(col("cx"), col("cy"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q457_pattern_negation" ->
      """WITH ev AS (
           SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type
           FROM events),
         marked AS (
           SELECT user_id, ts, event_id, event_type,
                  min(CASE WHEN event_type = 'error' THEN ts END)
                    OVER w AS next_err_ts,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    OVER w AS next_purch_ts
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
         signups AS (
           SELECT (user_id % 10)::BIGINT AS cohort,
                  (CASE WHEN next_purch_ts IS NOT NULL
                        AND (next_err_ts IS NULL
                             OR next_purch_ts < next_err_ts)
                        THEN 1 ELSE 0 END)::BIGINT AS clean,
                  (CASE WHEN next_purch_ts IS NOT NULL
                        AND next_err_ts IS NOT NULL
                        AND next_purch_ts >= next_err_ts
                        THEN 1 ELSE 0 END)::BIGINT AS blocked,
                  (CASE WHEN next_purch_ts IS NULL THEN 1 ELSE 0
                   END)::BIGINT AS never
           FROM marked WHERE event_type = 'signup')
         SELECT cohort, count(*)::BIGINT AS n_signups,
                sum(clean)::BIGINT AS clean_conversions,
                sum(blocked)::BIGINT AS error_blocked,
                sum(never)::BIGINT AS never_converted,
                ((1000000 * sum(clean)) // count(*))::BIGINT
                  AS clean_ppm
         FROM signups GROUP BY cohort ORDER BY cohort""",

    "q458_topn_other" ->
      """WITH rev AS (
           SELECT o_custkey,
                  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT
                    AS cents,
                  count(*)::BIGINT AS n_orders
           FROM orders GROUP BY o_custkey),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY cents DESC, o_custkey)
                    AS rk
           FROM rev),
         bucketed AS (
           SELECT CASE WHEN rk <= 8
                       THEN '#' || lpad(CAST(rk AS VARCHAR), 2, '0')
                            || ' cust_' || o_custkey
                       ELSE 'OTHER' END AS bucket,
                  cents, n_orders
           FROM ranked)
         SELECT bucket, sum(cents)::BIGINT AS revenue_cents,
                sum(n_orders)::BIGINT AS n_orders,
                count(*)::BIGINT AS n_customers
         FROM bucketed GROUP BY bucket
         ORDER BY revenue_cents DESC, bucket""",

    "q459_spatial_hotspots" ->
      """WITH pts AS (
           SELECT (CASE WHEN event_id % 37 = 0
                        THEN 50.0 + (event_id % 100) / 25.0
                        ELSE (event_id * 2654435761 % 10000) / 100.0
                   END)::DOUBLE AS px,
                  (CASE WHEN event_id % 37 = 0
                        THEN 50.0 + (event_id % 97) / 25.0
                        ELSE (event_id * 2246822519 % 10000) / 100.0
                   END)::DOUBLE AS py
           FROM events),
         cells AS (
           SELECT floor(px / 5)::BIGINT AS cx,
                  floor(py / 5)::BIGINT AS cy, count(*)::BIGINT AS c
           FROM pts GROUP BY 1, 2),
         m AS (
           SELECT sum(c)::BIGINT AS tot, sum(c * c)::BIGINT AS sq
           FROM cells),
         nbrs AS (
           SELECT cells.cx + ox.o AS cx, cells.cy + oy.o AS cy,
                  sum(c)::BIGINT AS nbr
           FROM cells,
                (SELECT unnest([-1, 0, 1]) AS o) ox,
                (SELECT unnest([-1, 0, 1]) AS o) oy
           WHERE cells.cx + ox.o BETWEEN 0 AND 19
             AND cells.cy + oy.o BETWEEN 0 AND 19
           GROUP BY 1, 2),
         scored AS (
           SELECT n.cx, n.cy, n.nbr,
                  CAST(floor(1000 * (n.nbr
                      - ((least(n.cx + 1, 19) - greatest(n.cx - 1, 0) + 1)
                         * (least(n.cy + 1, 19) - greatest(n.cy - 1, 0)
                            + 1))
                        * (CAST(m.tot AS DOUBLE) / 400))
                    / (sqrt(CAST((least(n.cx + 1, 19)
                          - greatest(n.cx - 1, 0) + 1)
                        * (least(n.cy + 1, 19) - greatest(n.cy - 1, 0)
                           + 1) AS DOUBLE))
                       * sqrt(CAST(m.sq AS DOUBLE) / 400
                         - (CAST(m.tot AS DOUBLE) / 400)
                           * (CAST(m.tot AS DOUBLE) / 400)))) AS BIGINT)
                    AS z_milli
           FROM nbrs n CROSS JOIN m)
         SELECT cx, cy, nbr, z_milli,
                (CASE WHEN z_milli >= 2576 THEN 1 ELSE 0 END)::BIGINT
                  AS hot
         FROM scored
         WHERE z_milli >= 2576 OR z_milli <= -2576
         ORDER BY cx, cy"""
  )
}


/** Round-9 batch N (q434-q436): the ML-ops loop around a trained
  * policy/model that earlier rounds' eval family (q343-q346, q374,
  * q377) feeds into:
  *
  *  - q434: inverse-propensity-score OFFLINE policy evaluation
  *    (Horvitz-Thompson / counterfactual "what would the new policy
  *    have earned on the logged traffic" — Li et al., WSDM'11 replay),
  *    with the direct-method estimate alongside,
  *  - q435: information-gain feature ranking (the entropy sibling of
  *    q415's Gini best-split finder) over unpivoted features,
  *  - q436: multi-window SLO error-budget burn-rate alerting (the
  *    1-day fast / 7-day slow window pattern), the paging layer above
  *    q423's EWMA chart and q360's CUSUM.
  *
  * IPS stays exact: matched rewards are grouped per segment first, so
  * the single integer division per segment happens on exact sums
  * (reward micros x segment counts), never per row. Every corpus-scale
  * stage is one keyed aggregate; policy/ranking/alert logic runs on
  * bounded rows (10 segments, <=4 features, day grain).
  */
object MlOps {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Logged bandit replay: context = user segment (user_id % 10),
    // action = event_type, reward = value micros. The target policy is
    // argmax of the TRAIN half's average reward (tie-break on action
    // name); it is evaluated on the EVAL half with empirical logging
    // propensities. Per segment: IPS value = sum(matched reward) *
    // n_seg / n_seg_action (exact integers, one DIV), DM value = eval
    // average of the chosen action.
    "q434_ips_policy_eval" -> ((s, d) => {
      val ev = t(s, d, "events").select(
        (col("user_id") % 10).as("seg"), col("event_type").as("action"),
        floor(col("value") * 1000000).cast("long").as("r"),
        (col("event_id") % 2).as("half"))
      val trainSegAct = ev.filter(col("half") === 0)
        .groupBy(col("seg"), col("action"))
        .agg(count(lit(1)).as("n_sa_t"), sum(col("r")).as("sum_r_t"))
      val wPick = Window.partitionBy(col("seg"))
        .orderBy(expr("sum_r_t DIV n_sa_t").desc, col("action"))
      val policy = trainSegAct // <=5 actions/seg
        .withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("seg"), col("action").as("pi_action"),
          col("n_sa_t"))
      val trainSeg = trainSegAct.groupBy(col("seg"))
        .agg(sum(col("n_sa_t")).as("n_s_t"))
      val eval0 = ev.filter(col("half") === 1)
      val segAct = eval0.groupBy(col("seg"), col("action"))
        .agg(count(lit(1)).as("n_sa"), sum(col("r")).as("sum_r"))
      val segTot = segAct.groupBy(col("seg"))
        .agg(sum(col("n_sa")).as("n_s"))
      // propensity of the chosen action comes from the TRAIN half (the
      // logging-policy model); rewards/counts from the EVAL half — so
      // IPS and DM genuinely differ (with same-half propensities they
      // coincide algebraically)
      // both sides descend from the same `ev` lineage — explicit
      // aliases keep the join predicate unambiguous (dataset-handle
      // column refs on shared lineage log the trivially-true-predicate
      // warning and break silently under refactors)
      policy.alias("pol")
        .join(segAct.alias("sa"), col("pol.seg") === col("sa.seg") &&
          col("pol.pi_action") === col("sa.action"), "left")
        .drop(col("sa.seg")).drop(col("sa.action"))
        .join(segTot, "seg").join(trainSeg, "seg")
        .select(col("seg"), col("pi_action"), col("n_s").as("n_eval"),
          coalesce(col("n_sa"), lit(0L)).as("n_matched"),
          expr("1000000 * n_sa_t DIV n_s_t").as("prop_ppm"),
          expr("coalesce(sum_r, 0) * n_s_t DIV greatest(n_sa_t, 1) DIV n_s")
            .as("ips_value_micro"),
          expr("coalesce(sum_r, 0) DIV greatest(n_sa, 1)")
            .as("dm_value_micro"))
        .orderBy(col("seg"))
    }),

    // Information gain of each candidate feature for predicting
    // l_returnflag, from the additive decomposition
    //   IG = ln N - S_c/N - S_v/N + S_vc/N,  S_x = sum n_x ln n_x.
    // Each ln is quantized to integer micro-nats BEFORE any sum — a
    // cross-engine float sum over the per-value terms bit-diverges
    // (observed 12th-significant-digit STRICT diffs), while floor'd
    // integer terms sum exactly in any order. One unpivoted scan ->
    // one (feature, value, class) aggregate; the entropy algebra runs
    // on <=3 features x 12 values x 3 classes.
    "q435_infogain_ranking" -> ((s, d) => {
      val feat = t(s, d, "lineitem").select(
        expr("""stack(3,
            'linestatus', l_linestatus,
            'shipmonth', cast(month(l_shipdate) AS STRING),
            'qty_bucket', cast(least(9, cast(l_quantity AS BIGINT) DIV 5)
              AS STRING))""").as(Seq("feature", "v")),
        col("l_returnflag").as("y"))
      val nvc = feat.groupBy(col("feature"), col("v"), col("y"))
        .agg(count(lit(1)).as("n"))
      val lmicro = (c: org.apache.spark.sql.Column) =>
        floor(log(c) * 1000000).cast("long")
      val byFeat = nvc.groupBy(col("feature")).agg(
        sum(col("n")).as("nn"),
        sum(col("n") * lmicro(col("n"))).as("svc"))
      val sv = nvc.groupBy(col("feature"), col("v"))
        .agg(sum(col("n")).as("n"))
        .groupBy(col("feature"))
        .agg(sum(col("n") * lmicro(col("n"))).as("sv"),
          count(lit(1)).as("n_values"))
      val sc = nvc.groupBy(col("feature"), col("y"))
        .agg(sum(col("n")).as("n"))
        .groupBy(col("feature"))
        .agg(sum(col("n") * lmicro(col("n"))).as("sc"))
      val ig = byFeat.join(sv, "feature").join(sc, "feature")
        .select(col("feature"), col("n_values"),
          (lmicro(col("nn")) - expr("sc DIV nn") - expr("sv DIV nn")
            + expr("svc DIV nn")).as("ig_micro_nats"))
      val wRank = Window.orderBy(col("ig_micro_nats").desc, col("feature"))
      ig.withColumn("rank", row_number().over(wRank)) // 3 rows
        .orderBy(col("rank"))
    }),

    // Error-budget burn: per day, the 'error' share of all events in
    // ppm, against a 200000-ppm budget; fast window = the day itself,
    // slow window = trailing 7 days. Page when fast >= 1.05x AND slow
    // >= 1.02x budget (multiwindow suppresses one-day blips). Day
    // grain bounds every window.
    "q436_burn_rate_alert" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("errs"), count(lit(1)).as("total"))
      val w7 = Window.orderBy(col("dayi")).rangeBetween(-6, 0) // day grain
      val burn = daily
        .withColumn("dayi", datediff(col("day"), lit("2024-01-01")))
        .withColumn("errs7", sum(col("errs")).over(w7))
        .withColumn("total7", sum(col("total")).over(w7))
        .select(col("day").cast("string").as("day"),
          col("errs"), col("total"),
          expr("1000000 * errs DIV total").as("err_ppm"),
          expr("1000000 * errs7 DIV total7").as("err7_ppm"),
          expr("(1000000 * (1000000 * errs DIV total)) DIV 200000")
            .as("burn_fast_ppm"),
          expr("(1000000 * (1000000 * errs7 DIV total7)) DIV 200000")
            .as("burn_slow_ppm"))
        .withColumn("alert",
          (col("burn_fast_ppm") >= 1050000L &&
            col("burn_slow_ppm") >= 1020000L).cast("long"))
      burn.orderBy(col("day"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q434_ips_policy_eval" ->
      """WITH ev AS (
           SELECT (user_id % 10)::BIGINT AS seg, event_type AS action,
                  floor(value * 1000000)::BIGINT AS r,
                  (event_id % 2)::BIGINT AS half
           FROM events),
         train_seg_act AS (
           SELECT seg, action, count(*)::BIGINT AS n_sa_t,
                  sum(r)::BIGINT AS sum_r_t
           FROM ev WHERE half = 0 GROUP BY 1, 2),
         policy AS (
           SELECT seg, action AS pi_action, n_sa_t
           FROM (SELECT seg, action, n_sa_t,
                        row_number() OVER (PARTITION BY seg
                          ORDER BY sum_r_t // n_sa_t DESC, action) AS rk
                 FROM train_seg_act) WHERE rk = 1),
         train_seg AS (
           SELECT seg, sum(n_sa_t)::BIGINT AS n_s_t
           FROM train_seg_act GROUP BY 1),
         seg_act AS (
           SELECT seg, action, count(*)::BIGINT AS n_sa,
                  sum(r)::BIGINT AS sum_r
           FROM ev WHERE half = 1 GROUP BY 1, 2),
         seg_tot AS (
           SELECT seg, sum(n_sa)::BIGINT AS n_s FROM seg_act GROUP BY 1)
         SELECT p.seg, p.pi_action, t.n_s AS n_eval,
                coalesce(a.n_sa, 0)::BIGINT AS n_matched,
                ((1000000 * p.n_sa_t) // ts.n_s_t)::BIGINT AS prop_ppm,
                ((coalesce(a.sum_r, 0) * ts.n_s_t
                  // greatest(p.n_sa_t, 1)) // t.n_s)::BIGINT
                  AS ips_value_micro,
                (coalesce(a.sum_r, 0)
                  // greatest(coalesce(a.n_sa, 0), 1))::BIGINT
                  AS dm_value_micro
         FROM policy p
         LEFT JOIN seg_act a ON p.seg = a.seg AND p.pi_action = a.action
         JOIN seg_tot t ON p.seg = t.seg
         JOIN train_seg ts ON p.seg = ts.seg
         ORDER BY p.seg""",

    "q435_infogain_ranking" ->
      """WITH feat AS (
           SELECT 'linestatus' AS feature, l_linestatus AS v,
                  l_returnflag AS y FROM lineitem
           UNION ALL
           SELECT 'shipmonth', CAST(month(l_shipdate) AS VARCHAR),
                  l_returnflag FROM lineitem
           UNION ALL
           SELECT 'qty_bucket',
                  CAST(least(9, CAST(l_quantity AS BIGINT) // 5)
                    AS VARCHAR),
                  l_returnflag FROM lineitem),
         nvc AS (
           SELECT feature, v, y, count(*)::BIGINT AS n
           FROM feat GROUP BY 1, 2, 3),
         byfeat AS (
           SELECT feature, sum(n)::BIGINT AS nn,
                  sum(n * floor(ln(n) * 1000000)::BIGINT)::BIGINT AS svc
           FROM nvc GROUP BY 1),
         sv AS (
           SELECT feature,
                  sum(n * floor(ln(n) * 1000000)::BIGINT)::BIGINT AS sv,
                  count(*)::BIGINT AS n_values
           FROM (SELECT feature, v, sum(n)::BIGINT AS n
                 FROM nvc GROUP BY 1, 2) GROUP BY 1),
         sc AS (
           SELECT feature,
                  sum(n * floor(ln(n) * 1000000)::BIGINT)::BIGINT AS sc
           FROM (SELECT feature, y, sum(n)::BIGINT AS n
                 FROM nvc GROUP BY 1, 2) GROUP BY 1),
         ig AS (
           SELECT b.feature, s.n_values,
                  (floor(ln(b.nn) * 1000000)::BIGINT
                   - c.sc // b.nn - s.sv // b.nn + b.svc // b.nn)::BIGINT
                    AS ig_micro_nats
           FROM byfeat b JOIN sv s ON b.feature = s.feature
           JOIN sc c ON b.feature = c.feature)
         SELECT feature, n_values, ig_micro_nats,
                row_number() OVER (ORDER BY ig_micro_nats DESC, feature)
                  ::BIGINT AS rank
         FROM ig ORDER BY rank""",

    "q436_burn_rate_alert" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                      END)::BIGINT AS errs,
                  count(*)::BIGINT AS total
           FROM events GROUP BY 1),
         burn AS (
           SELECT day, errs, total,
                  sum(errs) OVER w7::BIGINT AS errs7,
                  sum(total) OVER w7::BIGINT AS total7
           FROM daily
           WINDOW w7 AS (ORDER BY datediff('day', DATE '2024-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT CAST(day AS VARCHAR) AS day, errs, total,
                ((1000000 * errs) // total)::BIGINT AS err_ppm,
                ((1000000 * errs7) // total7)::BIGINT AS err7_ppm,
                ((1000000 * ((1000000 * errs) // total)) // 200000)
                  ::BIGINT AS burn_fast_ppm,
                ((1000000 * ((1000000 * errs7) // total7)) // 200000)
                  ::BIGINT AS burn_slow_ppm,
                (CASE WHEN (1000000 * ((1000000 * errs) // total))
                        // 200000 >= 1050000
                       AND (1000000 * ((1000000 * errs7) // total7))
                        // 200000 >= 1020000
                      THEN 1 ELSE 0 END)::BIGINT AS alert
         FROM burn ORDER BY day"""
  )
}


/** Round-9 batch AW (q541-q543) — attribution and market-basket
  * analytics (reference surface: the funnel/attribution query family in
  * Benchmarks/queries plus the recommendation-shaped UDTF examples;
  * the algorithms are the public standards — first-order Markov
  * removal effect [Anderl et al. 2014], item-item cosine CF
  * [Sarwar et al. 2001], and support/confidence/lift association
  * rules [Agrawal-Srikant 1994]):
  *
  *  - q541: Markov removal-effect attribution. q497's absorbing-chain
  *    machinery, extended two ways: (a) the chain is entered through
  *    the empirical FIRST-event distribution so the readout is a true
  *    path-level conversion probability, and (b) every channel's
  *    counterfactual ("delete this channel: transitions into it go to
  *    exit") is solved SIMULTANEOUSLY by keying the Jacobi vector by
  *    (removed_channel, state) — one bounded iteration instead of a
  *    per-channel loop, the same trick at 100 TB since the vector is
  *    |channels|·|states| rows regardless of corpus size. Removal
  *    effect = 1 − P_removed/P_base, normalized to shares.
  *  - q542: item-item collaborative filtering at category grain —
  *    per-order distinct baskets, a basket-bounded self-join (TPC-H
  *    baskets are ≤7 lines; the pair explosion is O(Σ basket²), one
  *    orderkey shuffle), then EXACT integer cosine² ranking:
  *    cos²·1e9 = c²·1e9 DIV (n_i·n_j) avoids any float sqrt in the
  *    gate. Top-3 neighbors per item by (cos², id) — windows run on
  *    the ≤|items|² pair table, never the corpus.
  *  - q543: association rules over the same staged pair table
  *    (support/confidence/lift in exact integer ppm), min-support
  *    filtered, deterministically ranked. Directed rules i→j and j→i
  *    both emitted since confidence is asymmetric.
  */
object Attribution {

  type Q = (SparkSession, String) => DataFrame

  /** Per-order distinct category baskets → directed co-occurrence pair
    * counts with item frequencies attached; staged once for q542/q543.
    */
  private def pairTable(s: SparkSession, d: String): DataFrame = {
    val basket = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"),
        (col("l_partkey") % 100).cast("long").as("item"))
      .distinct()
    val freq = basket.groupBy(col("item"))
      .agg(count(lit(1)).as("n"))
    val a = basket.as("a")
    val b = basket.as("b")
    val pairs = a.join(b, col("a.ok") === col("b.ok")
        && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("c"))
    val sym = pairs.unionByName(
      pairs.select(col("j").as("i"), col("i").as("j"), col("c")))
    val withFreq = sym
      .join(broadcast(freq.select(col("item").as("i"),
        col("n").as("ni"))), Seq("i"))
      .join(broadcast(freq.select(col("item").as("j"),
        col("n").as("nj"))), Seq("j"))
      .select(col("i"), col("j"), col("c"), col("ni"), col("nj"))
    graft.Stage(withFreq, "q542_pairs")
  }

  val queries: Seq[(String, Q)] = Seq(

    "q541_markov_attribution" -> ((s, d) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // ONE window pass reduced straight to the (src, dst, is_first)
      // grain — ≤2·|states|² rows, staged; the old shape staged the
      // full per-event sequence table as parquet and re-read it for
      // each aggregate (round-10 tail diet)
      val grain = graft.Stage(t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"),
          row_number().over(wU).as("rn"))
        .withColumn("dst",
          coalesce(lead(col("src"), 1).over(wU), lit("exit")))
        .groupBy(col("src"), col("dst"),
          (col("rn") === 1).as("first"))
        .agg(count(lit(1)).as("cnt")), "q541_grain")
      val cnts = grain.filter(col("src") =!= "purchase")
        .groupBy(col("src"), col("dst"))
        .agg(sum(col("cnt")).as("cnt"))
      val totals = cnts.groupBy(col("src"))
        .agg(sum(col("cnt")).as("tot"))
      val p = graft.Stage(cnts.join(broadcast(totals), Seq("src"))
        .select(col("src"), col("dst"),
          (col("cnt").cast("double") / col("tot")).as("prob")),
        "q541_p")
      // empirical entry distribution: users' first events
      val starts = grain.filter(col("first"))
        .groupBy(col("src").as("state"))
        .agg(sum(col("cnt")).as("ns"))
      // The chain itself is event-type-enum-bounded METADATA: collect
      // the ≤|states|² transition matrix and ≤|states| entry counts
      // (bounds stated — the repo's driver-side-metadata idiom) and
      // solve every counterfactual Jacobi system locally, mirroring
      // the engine arithmetic exactly (same product/sum association;
      // round(·,12) per round absorbs sum-order ulps just as it did
      // between Spark and DuckDB). The corpus-scale work ended at the
      // staged (src,dst,first) grain — 8 distributed supersteps over a
      // ≤49-row vector were pure scheduler latency (measured ~3.3 s of
      // the query's 4.4 s close wall, zero data).
      def r12(x: Double): Double =
        new java.math.BigDecimal(java.lang.Double.toString(x))
          .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
      val trans = graft.Bounded.collectCapped(p, 4096,
          "q541 event-type transition matrix (≤|types|² rows)")
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val entry = graft.Bounded.collectCapped(starts, 64,
          "q541 entry distribution (≤|types| rows)")
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val srcs = trans.map(_._1).distinct.sorted.toSeq
      val chs = srcs :+ "none"
      val bySrc = trans.groupBy(_._1)
      // pv keyed by (removed channel, state); a removed channel's pv
      // is pinned to 0 (transitions into it exit)
      var pv: Map[(String, String), Double] =
        (for { ch <- chs; st <- srcs ++ Seq("purchase", "exit") }
          yield (ch, st) -> (if (st == "purchase") 1.0 else 0.0)).toMap
      for (_ <- 1 to 8) {
        val stepped = (for { ch <- chs; src <- srcs } yield {
          val sm = bySrc(src).map { case (_, dst, prob) =>
            prob * (if (dst == ch) 0.0 else pv((ch, dst)))
          }.sum
          (ch, src) -> r12(sm)
        }).toMap
        pv = stepped ++
          chs.flatMap(ch => Seq((ch, "purchase") -> 1.0,
            (ch, "exit") -> 0.0)).toMap
      }
      // P(ch) = Σ_s π(s)·pv(ch,s), a removed channel's entries lost
      val nu = entry.map(_._2).sum.toDouble
      def pConv(ch: String): Double = r12(entry.map { case (st, ns) =>
        (if (st == ch) 0.0 else pv((ch, st))) * ns / nu
      }.sum)
      val pb = pConv("none")
      val re = srcs.map(ch => ch -> r12(1.0 - pConv(ch) / pb))
      val tre = re.map(_._2).sum
      val rows = re.map { case (ch, r) =>
        (ch, math.floor(r * 1e6).toLong,
          math.floor(r12(r / tre) * 1e6).toLong)
      }
      s.createDataFrame(rows)
        .toDF("channel", "removal_ppm", "share_ppm")
    }),

    "q542_item_item_cf" -> ((s, d) => {
      val pairs = pairTable(s, d)
        .withColumn("cos2_ppb",
          // c²·1e9 in DECIMAL(38,0): a pair co-occurrence past ~3M
          // rows would overflow the int64 product (the q555/q559
          // widening discipline); DIV lands back in BIGINT
          expr("""CAST(c AS DECIMAL(38,0)) * c * 1000000000
                  DIV (CAST(ni AS DECIMAL(38,0)) * nj)"""))
      val wI = Window.partitionBy(col("i"))
        .orderBy(col("cos2_ppb").desc, col("j"))
      pairs.withColumn("rank", row_number().over(wI))
        .filter(col("rank") <= 3)
        .select(col("i").as("item"), col("j").as("neighbor"),
          col("c").as("cooc"), col("cos2_ppb"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("item"), col("rank"))
    }),

    "q543_association_rules" -> ((s, d) => {
      val nOrders = t(s, d, "lineitem")
        .select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val rules = pairTable(s, d)
        .crossJoin(broadcast(nOrders))
        .select(col("i").as("antecedent"),
          col("j").as("consequent"), col("c").as("cooc"),
          expr("c * 1000000 DIV n_orders").as("support_ppm"),
          expr("c * 1000000 DIV ni").as("confidence_ppm"),
          expr("""CAST(c AS DECIMAL(38,0)) * n_orders * 1000000
                  DIV (CAST(ni AS DECIMAL(38,0)) * nj)""")
            .as("lift_ppm"))
        .filter(col("support_ppm") >= 2000)
      val wAll = Window.orderBy(col("lift_ppm").desc,
        col("antecedent"), col("consequent"))
      // rules clearing min-support are a bounded set (≤|items|²);
      // the global window runs on that bounded table, not the corpus
      rules.withColumn("rk", row_number().over(wAll))
        .filter(col("rk") <= 20)
        .select(col("antecedent"), col("consequent"), col("cooc"),
          col("support_ppm"), col("confidence_ppm"), col("lift_ppm"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("rk"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q541_markov_attribution" -> {
      val rounds = (1 to 8).map { k =>
        s"""p$k AS (
           SELECT s.ch, s.state,
             CASE WHEN s.state = 'purchase' THEN 1.0
                  WHEN s.state = 'exit' THEN 0.0
                  ELSE coalesce(st.pv, 0.0) END AS pv
           FROM sgrid s LEFT JOIN (
             SELECT p.ch, t.src AS state,
                    round(sum(t.prob *
                      CASE WHEN p.state = p.ch THEN 0.0
                           ELSE p.pv END), 12) AS pv
             FROM tr t JOIN p${k - 1} p ON t.dst = p.state
             GROUP BY p.ch, t.src) st
             ON s.ch = st.ch AND s.state = st.state)"""
      }.mkString(",\n         ")
      s"""WITH seq AS (
           SELECT event_type AS src,
                  coalesce(lead(event_type, 1) OVER w, 'exit') AS dst,
                  row_number() OVER w AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id
             ORDER BY ts::TIMESTAMP, event_id)),
         cnts AS (
           SELECT src, dst, count(*)::BIGINT AS cnt
           FROM seq WHERE src <> 'purchase'
           GROUP BY src, dst),
         tot AS (
           SELECT src, sum(cnt)::BIGINT AS tot FROM cnts
           GROUP BY src),
         tr AS (
           SELECT c.src, c.dst, CAST(c.cnt AS DOUBLE) / t.tot AS prob
           FROM cnts c JOIN tot t ON c.src = t.src),
         starts AS (
           SELECT src AS state, count(*)::BIGINT AS ns
           FROM seq WHERE rn = 1 GROUP BY src),
         chs AS (
           SELECT DISTINCT src AS ch FROM tr
           UNION ALL SELECT 'none'),
         sts AS (
           SELECT DISTINCT src AS state FROM tr
           UNION ALL SELECT 'purchase' UNION ALL SELECT 'exit'),
         sgrid AS (
           SELECT c.ch, s.state FROM chs c, sts s),
         p0 AS (
           SELECT ch, state,
                  CASE WHEN state = 'purchase' THEN 1.0
                       ELSE 0.0 END AS pv
           FROM sgrid),
         $rounds,
         nu AS (SELECT sum(ns)::BIGINT AS nu FROM starts),
         pconv AS (
           SELECT p.ch,
                  round(sum(CASE WHEN p.state = p.ch THEN 0.0
                            ELSE p.pv END * s.ns / u.nu), 12) AS p
           FROM p8 p JOIN starts s ON p.state = s.state, nu u
           GROUP BY p.ch),
         base AS (SELECT p AS pb FROM pconv WHERE ch = 'none'),
         rem AS (
           SELECT ch, round(1.0 - p / pb, 12) AS re
           FROM pconv, base WHERE ch <> 'none'),
         tre AS (SELECT sum(re) AS tre FROM rem)
         SELECT ch AS channel,
                floor(re * 1e6)::BIGINT AS removal_ppm,
                floor(round(re / tre, 12) * 1e6)::BIGINT AS share_ppm
         FROM rem, tre ORDER BY channel"""
    },

    "q542_item_item_cf" ->
      """WITH basket AS (
           SELECT DISTINCT l_orderkey AS ok,
                  (l_partkey % 100)::BIGINT AS item
           FROM lineitem),
         freq AS (
           SELECT item, count(*)::BIGINT AS n FROM basket
           GROUP BY item),
         up AS (
           SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS c
           FROM basket a JOIN basket b
             ON a.ok = b.ok AND a.item < b.item
           GROUP BY a.item, b.item),
         sym AS (
           SELECT i, j, c FROM up
           UNION ALL SELECT j, i, c FROM up),
         pairs AS (
           SELECT s.i, s.j, s.c, fi.n AS ni, fj.n AS nj,
                  s.c::HUGEINT * s.c * 1000000000
                    // (fi.n::HUGEINT * fj.n) AS cos2_ppb
           FROM sym s
           JOIN freq fi ON s.i = fi.item
           JOIN freq fj ON s.j = fj.item),
         ranked AS (
           SELECT i, j, c, cos2_ppb,
                  row_number() OVER (PARTITION BY i
                    ORDER BY cos2_ppb DESC, j) AS rank
           FROM pairs)
         SELECT i AS item, j AS neighbor, c AS cooc,
                cos2_ppb::BIGINT AS cos2_ppb, rank::BIGINT AS rank
         FROM ranked WHERE rank <= 3
         ORDER BY item, rank""",

    "q543_association_rules" ->
      """WITH basket AS (
           SELECT DISTINCT l_orderkey AS ok,
                  (l_partkey % 100)::BIGINT AS item
           FROM lineitem),
         freq AS (
           SELECT item, count(*)::BIGINT AS n FROM basket
           GROUP BY item),
         up AS (
           SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS c
           FROM basket a JOIN basket b
             ON a.ok = b.ok AND a.item < b.item
           GROUP BY a.item, b.item),
         sym AS (
           SELECT i, j, c FROM up
           UNION ALL SELECT j, i, c FROM up),
         no AS (
           SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders
           FROM lineitem),
         rules AS (
           SELECT s.i AS antecedent, s.j AS consequent, s.c AS cooc,
                  s.c * 1000000 // o.n_orders AS support_ppm,
                  s.c * 1000000 // fi.n AS confidence_ppm,
                  s.c::HUGEINT * o.n_orders * 1000000
                    // (fi.n::HUGEINT * fj.n) AS lift_ppm
           FROM sym s
           JOIN freq fi ON s.i = fi.item
           JOIN freq fj ON s.j = fj.item, no o
           WHERE s.c * 1000000 // o.n_orders >= 2000),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY lift_ppm DESC,
                    antecedent, consequent) AS rk
           FROM rules)
         SELECT antecedent, consequent, cooc,
                support_ppm::BIGINT AS support_ppm,
                confidence_ppm::BIGINT AS confidence_ppm,
                lift_ppm::BIGINT AS lift_ppm, rk::BIGINT AS rk
         FROM ranked WHERE rk <= 20 ORDER BY rk"""
  )
}


/** Round-9 batch R (q448-q450):
  *
  *  - q448: bill-of-materials cost rollup — a parts tree (parent =
  *    key DIV 4, so depth is log4 n) rolled up bottom-to-top with
  *    per-edge quantities by LEVEL-SYNCHRONOUS aggregation: each round
  *    folds one tree level into its parents (O(depth) = O(log n)
  *    keyed aggregates — the recursive-CTE workload restated as a
  *    bounded iterative plan),
  *  - q449: LTTB-style time-series downsampling (largest triangle,
  *    bucket-mean anchors — the parallelizable variant of
  *    Steinarsson's LTTB: each bucket's pick maximizes the triangle
  *    against NEIGHBOR BUCKET MEANS instead of the previously picked
  *    point, which removes the sequential dependency and keeps the
  *    argmax per-bucket),
  *  - q450: business-day latency — closed-form weekday counting
  *    between order and ship dates (no calendar explode: whole weeks
  *    x 5 plus a remainder lookup, exact integers).
  *
  * Tree levels / buckets / day spans are all bounded; each corpus
  * stage is one keyed aggregate or join per level.
  */
object Bom {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Nodes = part ranks 0..n-1; parent(u) = (u - 1) DIV 4 (u = 0 is
    // the root), edge quantity = u % 3 + 1, own cost = retailprice
    // cents. rolled(u) = own(u) + sum_children qty(c) * rolled(c).
    // Level-synchronous fold from the deepest level upward.
    "q448_bom_rollup" -> ((s, d) => {
      val wR = Window.orderBy(col("p_partkey")) // dimension-sized
      val nodes = graft.Stage(t(s, d, "part")
        .withColumn("u", row_number().over(wR).cast("long") - 1)
        .select(col("u"),
          floor(col("p_retailprice") * 100).cast("long").as("own")),
        "q448_nodes")
      val n = nodes.count() // dimension-sized driver scalar
      val depth = (math.log(n.toDouble) / math.log(4)).toInt + 2
      // level(u) = floor(log4(3u+1)) for the DIV-4 tree; computed via
      // length of base-4 representation — but only the LOOP BOUND
      // needs it, so iterate `depth` times folding leaves upward:
      // rolled_k holds the partial rollup after k folds (leaf levels
      // fully absorbed).
      val rolled = (1 to depth).foldLeft(
        nodes.withColumn("rolled", col("own"))) { (acc, _) =>
        // children contributions to each parent this round: every
        // non-root node passes qty * rolled to its parent, then
        // re-anchors at the parent's own cost plus absorbed children.
        // Rolling the SAME fold `depth` times is idempotent only with
        // level gating, so gate: a node is absorbed exactly when its
        // whole subtree has been; iterate with full recompute from
        // scratch each round (seminaïve would carry deltas; the
        // tree is log-deep so full rounds stay O(log) passes).
        val contrib = acc.filter(col("u") > 0)
          .select(expr("(u - 1) DIV 4").as("u"),
            ((col("u") % 3 + 1) * col("rolled")).as("c"))
          .groupBy(col("u")).agg(sum(col("c")).as("childsum"))
        graft.Stage(nodes.join(contrib, Seq("u"), "left")
          .select(col("u"), col("own"),
            (col("own") + coalesce(col("childsum"), lit(0L)))
              .as("rolled")), "q448_fold")
      }
      // after `depth` rounds rolled(u) = own + sum qty*rolled(children)
      // where children carry their own fully-rolled subtrees
      rolled.filter(col("u") < 4)
        .select(col("u").as("node"), col("own").as("own_cents"),
          col("rolled").as("rolled_cents"))
        .orderBy(col("node"))
    }),

    // Downsample each event_type's hourly mean series to 24 buckets:
    // within bucket b, pick the point maximizing |area| of the
    // triangle with the mean of bucket b-1 and the mean of bucket b+1
    // (edge buckets keep their earliest point). Integer milli areas.
    "q449_lttb_downsample" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 3600)).as("h"))
        .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
      val wT = Window.partitionBy(col("event_type"))
      val bucketed = hourly
        .withColumn("hmin", min(col("h")).over(wT))
        .withColumn("hmax", max(col("h")).over(wT))
        .withColumn("b", expr(
          "least(23, (24 * (h - hmin)) DIV greatest(hmax - hmin + 1, 1))"))
      val means = bucketed.groupBy(col("event_type"), col("b"))
        .agg(expr("sum(h) DIV count(*)").as("mh"),
          expr("sum(v) DIV count(*)").as("mv"))
      val prev = means.select(col("event_type"), (col("b") + 1).as("b"),
        col("mh").as("ph"), col("mv").as("pv"))
      val next = means.select(col("event_type"), (col("b") - 1).as("b"),
        col("mh").as("nh"), col("mv").as("nv"))
      val withNbr = bucketed.join(prev, Seq("event_type", "b"), "left")
        .join(next, Seq("event_type", "b"), "left")
        // |cross product| of (prev->point, prev->next), micro units;
        // edge buckets (no neighbor) use rank-by-position fallback
        .withColumn("area", when(col("ph").isNotNull &&
          col("nh").isNotNull,
          abs((col("h") - col("ph")) * (col("nv") - col("pv")) -
            (col("nh") - col("ph")) * (col("v") - col("pv"))))
          .otherwise(lit(0L)))
      val wPick = Window.partitionBy(col("event_type"), col("b"))
        .orderBy(col("area").desc, col("h"))
      withNbr.withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("v")).as("picked_value_milli_sum"),
          sum(col("area")).as("area_sum"),
          min(col("h")).as("first_h"), max(col("h")).as("last_h"))
        .orderBy(col("event_type"))
    }),

    // Business days (Mon-Fri) strictly between orderdate and a
    // synthetic shipdate (order date + o_orderkey % 21 days): whole
    // weeks contribute 5 each; the remainder is counted from the
    // start weekday by closed form. No calendar table, no explode.
    "q450_business_days" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        col("o_orderpriority").as("prio"),
        dayofweek(col("o_orderdate")).as("dw"), // 1=Sun..7=Sat
        (col("o_orderkey") % 21).as("span"))
      // Monday-indexed start weekday m in 0..6 (0=Mon)
      val busy = o.withColumn("m", (col("dw") + 5) % 7)
        .withColumn("whole", expr("span DIV 7"))
        .withColumn("rem", col("span") % 7)
        // business days among the `rem` days after start weekday m:
        // count of i in 1..rem with (m + i) % 7 < 5. The sequence is
        // the FIXED 1..6 with an i <= rem guard — Spark's
        // sequence(1, 0) descends ([1, 0]) rather than being empty,
        // so a data-dependent upper bound would break rem = 0.
        .withColumn("extra", expr(
          """aggregate(sequence(1, 6), 0L,
             (acc, i) -> acc + IF(i <= rem AND (m + i) % 7 < 5,
               1L, 0L))"""))
        .withColumn("bdays", col("whole") * 5 + col("extra"))
      busy.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("bdays")).as("sum_bdays"),
          expr("sum(bdays) DIV count(*)").as("avg_bdays"),
          max(col("bdays")).as("max_bdays"))
        .orderBy(col("prio"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q448_bom_rollup" ->
      """WITH RECURSIVE nodes AS (
           SELECT row_number() OVER (ORDER BY p_partkey) - 1 AS u,
                  floor(p_retailprice * 100)::BIGINT AS own
           FROM part),
         -- weight of node w toward ancestor a = product of edge
         -- quantities on the path; roll every node to its ancestors
         walk AS (
           SELECT u AS a, u AS w, 1::BIGINT AS mult, own FROM nodes
           UNION ALL
           SELECT (walk.a - 1) // 4 AS a, walk.w,
                  (walk.a % 3 + 1) * walk.mult, walk.own
           FROM walk WHERE walk.a > 0)
         SELECT a AS node,
                max(CASE WHEN a = w THEN own END)::BIGINT AS own_cents,
                sum(mult * own)::BIGINT AS rolled_cents
         FROM walk WHERE a < 4
         GROUP BY a ORDER BY a""",

    "q449_lttb_downsample" ->
      """WITH hourly AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 3600)::BIGINT AS h,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS v
           FROM events GROUP BY 1, 2),
         bucketed AS (
           SELECT event_type, h, v,
                  least(23, (24 * (h - min(h) OVER w))
                    // greatest(max(h) OVER w - min(h) OVER w + 1, 1))
                    ::BIGINT AS b
           FROM hourly
           WINDOW w AS (PARTITION BY event_type)),
         means AS (
           SELECT event_type, b, (sum(h) // count(*))::BIGINT AS mh,
                  (sum(v) // count(*))::BIGINT AS mv
           FROM bucketed GROUP BY 1, 2),
         nbr AS (
           SELECT bk.event_type, bk.b, bk.h, bk.v,
                  CASE WHEN p.mh IS NOT NULL AND nx.mh IS NOT NULL
                       THEN abs((bk.h - p.mh) * (nx.mv - p.mv)
                            - (nx.mh - p.mh) * (bk.v - p.mv))
                       ELSE 0 END AS area
           FROM bucketed bk
           LEFT JOIN means p ON bk.event_type = p.event_type
             AND p.b = bk.b - 1
           LEFT JOIN means nx ON bk.event_type = nx.event_type
             AND nx.b = bk.b + 1),
         picked AS (
           SELECT event_type, b, h, v, area,
                  row_number() OVER (PARTITION BY event_type, b
                    ORDER BY area DESC, h) AS rk
           FROM nbr)
         SELECT event_type, count(*)::BIGINT AS n_points,
                sum(v)::BIGINT AS picked_value_milli_sum,
                sum(area)::BIGINT AS area_sum,
                min(h)::BIGINT AS first_h, max(h)::BIGINT AS last_h
         FROM picked WHERE rk = 1
         GROUP BY event_type ORDER BY event_type""",

    "q450_business_days" ->
      """WITH o AS (
           SELECT o_orderpriority AS prio,
                  dayofweek(o_orderdate::DATE)::BIGINT AS dw0,
                  (o_orderkey % 21)::BIGINT AS span
           FROM orders),
         busy AS (
           -- DuckDB dayofweek: 0=Sun..6=Sat; Spark: 1=Sun..7=Sat
           SELECT prio, span, ((dw0 + 1) + 5) % 7 AS m,
                  span // 7 AS whole, span % 7 AS rem
           FROM o),
         ext AS (
           SELECT prio, whole * 5 +
                  len(list_filter(range(1, 7),
                    i -> i <= rem AND (m + i) % 7 < 5))::BIGINT AS bdays
           FROM busy)
         SELECT prio, count(*)::BIGINT AS n_orders,
                sum(bdays)::BIGINT AS sum_bdays,
                (sum(bdays) // count(*))::BIGINT AS avg_bdays,
                max(bdays)::BIGINT AS max_bdays
         FROM ext GROUP BY prio ORDER BY prio"""
  )
}
