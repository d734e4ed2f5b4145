package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch AG (q493-q495) — mergeable histogram sketch, series
  * risk, and experimentation ratio metrics:
  *
  *  - q493: HdrHistogram-style integer log-bucket quantiles — each
  *    price-in-cents maps to bucket (msb, top-2-sub-bits) via pure
  *    integer bit math (`length(bin(x))`, shifts, masks) so the
  *    sketch is exactly reproducible on any engine (no float log
  *    whose last ulp could flip a bucket). ~12.5% relative-error
  *    p50/p90/p99 upper bounds per return flag from a ≤64-bucket
  *    mergeable histogram: the 100 TB quantile path (map-side
  *    combine, constant state) vs ExactSelection's exact path.
  *    Mirrors the reference's APPROX_PERCENTILE surface
  *    (QueryEngine/ApproxQuantileDescriptor.cpp) with an
  *    integer-deterministic sketch.
  *  - q494: maximum drawdown + longest below-peak streak of the
  *    per-type daily revenue series (classic peak-to-trough risk
  *    stat): running max over day-grain windows (calendar-bounded
  *    partitions), drawdown in exact ppm integer division,
  *    below-peak run lengths via gaps-and-islands.
  *  - q495: delta-method ratio-metric A/B readout — revenue per
  *    active day is a ratio of per-user sums, so its variance needs
  *    the delta method: Var(r̄/s̄) ≈ (σr² − 2Rσrs + R²σs²)/(n·μs²).
  *    All moments from exact integer/decimal sums (second moments
  *    lifted to DECIMAL(38,0) before squaring — BIGINT² overflows at
  *    sf1), double math only on the final bounded scalars so the
  *    result is bit-reproducible.
  */
object Sketches {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q494_max_drawdown" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long")
            .as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("rev"))
      val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wRun = wDay.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val dd = daily
        .withColumn("runmax", max(col("rev")).over(wRun))
        .withColumn("dd_ppm",
          expr("(runmax - rev) * 1000000 DIV runmax"))
        // gaps-and-islands: cumulative count of at-peak days groups
        // the below-peak runs
        .withColumn("grp",
          sum(when(col("dd_ppm") === 0L, 1L).otherwise(0L)).over(wRun))
      val streaks = dd.filter(col("dd_ppm") > 0L)
        .groupBy(col("event_type"), col("grp"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("event_type"))
        .agg(max(col("run_len")).as("longest_below_peak_days"))
      val worst = dd.groupBy(col("event_type"))
        .agg(max(col("dd_ppm")).as("max_drawdown_ppm"),
          max(col("runmax")).as("peak_cents"))
      val worstDay = dd.join(worst, Seq("event_type"))
        .filter(col("dd_ppm") === col("max_drawdown_ppm"))
        .groupBy(col("event_type"))
        .agg(min(col("day")).as("worst_day"))
      worst.join(worstDay, Seq("event_type"))
        .join(streaks, Seq("event_type"), "left")
        .na.fill(0L, Seq("longest_below_peak_days"))
        .select(col("event_type"), col("peak_cents"),
          col("max_drawdown_ppm"), col("worst_day"),
          col("longest_below_peak_days"))
        .orderBy(col("event_type"))
    }),

    "q495_delta_method_ratio" -> ((s, d) => {
      val perUser = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("r"),
          countDistinct(floor(unix_timestamp(col("ts")) / 86400L)
            .cast("long")).as("sdays"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      // second moments exceed BIGINT at sf1: lift the operand to
      // DECIMAL(38,0) before the product (q491 lesson)
      val moments = perUser.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("r")).as("sr"), sum(col("sdays")).as("ss"),
          sum(col("r").cast("decimal(38,0)") * col("r")).as("srr"),
          sum(col("sdays").cast("decimal(38,0)") * col("sdays"))
            .as("sss"),
          sum(col("r").cast("decimal(38,0)") * col("sdays")).as("srs"))
        .withColumn("mu_r", col("sr").cast("double") / col("n"))
        .withColumn("mu_s", col("ss").cast("double") / col("n"))
        .withColumn("ratio", col("mu_r") / col("mu_s"))
        .withColumn("var_r", col("srr").cast("double") / col("n") -
          col("mu_r") * col("mu_r"))
        .withColumn("var_s", col("sss").cast("double") / col("n") -
          col("mu_s") * col("mu_s"))
        .withColumn("cov_rs", col("srs").cast("double") / col("n") -
          col("mu_r") * col("mu_s"))
        .withColumn("var_ratio",
          (col("var_r") - lit(2.0) * col("ratio") * col("cov_rs") +
            col("ratio") * col("ratio") * col("var_s")) /
            (col("n") * col("mu_s") * col("mu_s")))
      val a = moments.filter(col("arm") === 0L)
        .select(col("n").as("n0"), col("ratio").as("r0"),
          col("var_ratio").as("v0"))
      val b = moments.filter(col("arm") === 1L)
        .select(col("n").as("n1"), col("ratio").as("r1"),
          col("var_ratio").as("v1"))
      a.crossJoin(b) // 1 x 1
        .select(col("n0"), col("n1"),
          floor(col("r0") * 1e6).cast("long").as("ratio0_ppm"),
          floor(col("r1") * 1e6).cast("long").as("ratio1_ppm"),
          floor((col("r0") - col("r1")) * 1e6).cast("long")
            .as("diff_ppm"),
          floor((col("r0") - col("r1")) /
            sqrt(col("v0") + col("v1")) * 1000).cast("long")
            .as("z_milli"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q493_hdr_histogram" ->
      """WITH b AS (
           SELECT l_returnflag AS flag,
                  floor(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem
           WHERE floor(l_extendedprice * 100)::BIGINT >= 4),
         m AS (
           SELECT flag, cents,
                  length(bin(cents))::INTEGER AS msb,
                  ((cents >> (length(bin(cents)) - 3)) & 3)::BIGINT
                    AS sub
           FROM b),
         bk AS (
           SELECT flag, msb * 4 + sub AS bucket,
                  max(((sub + 5) << (msb - 3)) - 1)::BIGINT AS ub,
                  count(*)::BIGINT AS cnt
           FROM m GROUP BY flag, msb * 4 + sub),
         tot AS (
           SELECT flag, sum(cnt)::BIGINT AS n,
                  count(*)::BIGINT AS n_buckets
           FROM bk GROUP BY flag),
         c AS (
           SELECT flag, bucket, ub, cnt,
                  sum(cnt) OVER (PARTITION BY flag ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
           FROM bk)
         SELECT c.flag, t.n, t.n_buckets,
                min(CASE WHEN cum * 100 >= t.n * 50 THEN ub END)
                  ::BIGINT AS p50_ub_cents,
                min(CASE WHEN cum * 100 >= t.n * 90 THEN ub END)
                  ::BIGINT AS p90_ub_cents,
                min(CASE WHEN cum * 100 >= t.n * 99 THEN ub END)
                  ::BIGINT AS p99_ub_cents
         FROM c JOIN tot t ON c.flag = t.flag
         GROUP BY c.flag, t.n, t.n_buckets
         ORDER BY c.flag""",

    "q494_max_drawdown" ->
      """WITH daily AS (
           SELECT event_type,
                  floor(epoch(ts::TIMESTAMP) / 86400)::BIGINT AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS rev
           FROM events GROUP BY 1, 2),
         dd AS (
           SELECT event_type, day, rev,
                  max(rev) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS runmax,
                  (max(rev) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - rev) * 1000000
                  // max(rev) OVER (PARTITION BY event_type
                     ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS dd_ppm
           FROM daily),
         dd2 AS (
           SELECT *, sum(CASE WHEN dd_ppm = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS grp
           FROM dd),
         streaks AS (
           SELECT event_type, max(run_len)::BIGINT
                    AS longest_below_peak_days
           FROM (SELECT event_type, grp, count(*)::BIGINT AS run_len
                 FROM dd2 WHERE dd_ppm > 0
                 GROUP BY event_type, grp) q
           GROUP BY event_type),
         worst AS (
           SELECT event_type, max(dd_ppm)::BIGINT AS max_drawdown_ppm,
                  max(runmax)::BIGINT AS peak_cents
           FROM dd2 GROUP BY event_type),
         wd AS (
           SELECT d.event_type, min(d.day)::BIGINT AS worst_day
           FROM dd2 d JOIN worst w ON d.event_type = w.event_type
                     AND d.dd_ppm = w.max_drawdown_ppm
           GROUP BY d.event_type)
         SELECT w.event_type, w.peak_cents, w.max_drawdown_ppm,
                wd.worst_day,
                coalesce(s.longest_below_peak_days, 0)::BIGINT
                  AS longest_below_peak_days
         FROM worst w
         JOIN wd ON w.event_type = wd.event_type
         LEFT JOIN streaks s ON w.event_type = s.event_type
         ORDER BY w.event_type""",

    "q495_delta_method_ratio" ->
      """WITH per_user AS (
           SELECT user_id,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS r,
                  count(DISTINCT floor(epoch(ts::TIMESTAMP) / 86400)
                    ::BIGINT)::BIGINT AS sdays
           FROM events GROUP BY user_id),
         m AS (
           SELECT user_id % 2 AS arm, count(*)::BIGINT AS n,
                  sum(r)::BIGINT AS sr, sum(sdays)::BIGINT AS ss,
                  sum(r::HUGEINT * r) AS srr,
                  sum(sdays::HUGEINT * sdays) AS sss,
                  sum(r::HUGEINT * sdays) AS srs
           FROM per_user GROUP BY user_id % 2),
         v AS (
           SELECT arm, n,
                  CAST(sr AS DOUBLE) / n AS mu_r,
                  CAST(ss AS DOUBLE) / n AS mu_s,
                  (CAST(sr AS DOUBLE) / n) / (CAST(ss AS DOUBLE) / n)
                    AS ratio,
                  CAST(srr AS DOUBLE) / n
                    - (CAST(sr AS DOUBLE) / n)
                      * (CAST(sr AS DOUBLE) / n) AS var_r,
                  CAST(sss AS DOUBLE) / n
                    - (CAST(ss AS DOUBLE) / n)
                      * (CAST(ss AS DOUBLE) / n) AS var_s,
                  CAST(srs AS DOUBLE) / n
                    - (CAST(sr AS DOUBLE) / n)
                      * (CAST(ss AS DOUBLE) / n) AS cov_rs
           FROM m),
         vr AS (
           SELECT arm, n, ratio,
                  (var_r - 2.0 * ratio * cov_rs
                     + ratio * ratio * var_s)
                  / (n * mu_s * mu_s) AS var_ratio
           FROM v)
         SELECT a.n AS n0, b.n AS n1,
                floor(a.ratio * 1e6)::BIGINT AS ratio0_ppm,
                floor(b.ratio * 1e6)::BIGINT AS ratio1_ppm,
                floor((a.ratio - b.ratio) * 1e6)::BIGINT AS diff_ppm,
                floor((a.ratio - b.ratio)
                      / sqrt(a.var_ratio + b.var_ratio)
                      * 1000)::BIGINT AS z_milli
         FROM (SELECT * FROM vr WHERE arm = 0) a
         CROSS JOIN (SELECT * FROM vr WHERE arm = 1) b"""
  )
}

/** Round-9 batch AI (q499-q501) — runtime-filter audit, community
  * detection, and distribution-free prediction intervals:
  *
  *  - q499: Bloom-filter join-pruning audit — the urgent-order key
  *    set is hashed into a 65 536-bit filter (double hashing,
  *    k = 3 probes, pure modular integer math so both engines set
  *    identical bits), every lineitem order key is probed, and the
  *    measured false-positive rate is reported next to the
  *    (bits_set/m)^k theoretical rate. This is the audit a runtime
  *    filter (Spark's own bloom pushdown, or the reference's
  *    semi-join reduction in QueryEngine/JoinFilters) needs before
  *    trusting the filter at 100 TB: the bit set is ≤64k rows and
  *    broadcast; the probe side is one scan + one keyed aggregate.
  *  - q500: label-propagation communities over the parts-bought-
  *    together graph (edges = part pairs co-occurring in an order,
  *    bounded per order). Synchronous rounds with the classic
  *    deterministic tie-break (max vote count, then smallest label)
  *    so the fixpoint is engine-independent; 4 rounds ≈ diameter of
  *    the dense co-purchase core. Each round is one edge-grain join
  *    + one node-grain aggregate — no corpus-sized windows.
  *  - q501: split-conformal prediction intervals — a per-flag OLS
  *    price-from-quantity model is fit on the train split from
  *    exact integer sums (products of sums lifted to DECIMAL(38)),
  *    the 90% nonconformity quantile q̂ is taken on the calibration
  *    split at whole-dollar grain (value-domain-bounded cumulative
  *    histogram, the q493 pattern — no corpus-sized sort), and
  *    empirical coverage is measured on the held-out test split.
  *    Deterministic splits via modular key arithmetic.
  */
object Bloom {

  type Q = (SparkSession, String) => DataFrame

  private val M = 65536L // bloom bits
  private val P1 = 65521L // largest prime < M
  private val P2 = 65519L

  val queries: Seq[(String, Q)] = Seq(

    "q499_bloom_join_prune" -> ((s, d) => {
      // probe positions i=0..2: (h1 + i*h2) % M with h1/h2 from two
      // Knuth multiplicative mixes — raw k%p1 / k%p2 are nearly equal
      // for k below the primes, which correlates the probes and
      // inflates the measured FPR ~1000x over theory. Products stay
      // under 2^63 for keys < 4*10^9 (orderkey domain).
      def positions(df: DataFrame): DataFrame = df
        .withColumn("i", explode(array(lit(0L), lit(1L), lit(2L))))
        .withColumn("pos",
          ((col("k") * 2654435761L) % P1
            + col("i") * ((col("k") * 2246822519L) % P2 + 1L)) % M)
      val dim = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k")).distinct()
      val bits = positions(dim).select(col("pos")).distinct()
      val bstats = bits.agg(count(lit(1)).as("bits_set"))
        .crossJoin(dim.agg(count(lit(1)).as("n_dim")))
      val probe = t(s, d, "lineitem")
        .select(col("l_orderkey").as("k")).distinct()
      val truth = probe.join(
        t(s, d, "orders").select(col("o_orderkey").as("k"),
          when(col("o_orderpriority") === "1-URGENT", 1L)
            .otherwise(0L).as("is_true")), Seq("k"))
      val hits = positions(truth)
        .join(broadcast(bits.withColumn("hit", lit(1L))),
          Seq("pos"), "left")
        .groupBy(col("k"), col("is_true"))
        .agg(min(coalesce(col("hit"), lit(0L))).as("pass"))
      val pstats = hits.agg(
        count(lit(1)).as("n_probe"),
        sum(col("is_true")).as("n_true"),
        sum(col("pass")).as("n_pass"),
        sum(when(col("pass") === 1L && col("is_true") === 0L, 1L)
          .otherwise(0L)).as("n_fp"))
      bstats.crossJoin(pstats)
        .select(col("n_dim"), col("bits_set"), col("n_probe"),
          col("n_true"), col("n_pass"), col("n_fp"),
          expr("n_fp * 1000000 DIV (n_probe - n_true)").as("fpr_ppm"),
          floor(pow(col("bits_set").cast("double") / M.toDouble, 3)
            * 1e6).cast("long").as("fpr_theory_ppm"))
    }),

    "q500_label_propagation" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = graft.Stage(li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct(),
        "q500_pairs")
      // bucketed by the propagation key: each of the 4 supersteps joins
      // edges on v, so the co-located bucket scan removes one
      // corpus-sized Exchange+Sort per iteration (guide §2.4)
      val edges = graft.Stage.bucketed(pairs.unionByName(
        pairs.select(col("v").as("u"), col("u").as("v"))),
        "q500_edges", "v")
      var labels = edges.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node"))
      for (_ <- 1 to 4) {
        // merge-hint the propagation join: without it the planner
        // broadcasts the CORPUS-SIZED bucketed edge table per
        // iteration (labels, a fresh aggregate, has no stats, so the
        // known-small catalog table wins the build side — backwards at
        // any scale). SMJ reads the bucketed edge side co-located and
        // pre-sorted (no Exchange, no Sort); only the node-bounded
        // label vector shuffles per superstep (guide §3.1).
        val votes = edges
          .join(labels.hint("merge"), edges("v") === labels("node"))
          .groupBy(col("u"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        // argmax by (cnt desc, lbl asc) as a plain hash aggregate:
        // max(struct(cnt, -lbl)) picks the same winner the old
        // row_number window did, without the per-iteration window
        // sort+exchange (4 iterations × WindowExec at corpus grain —
        // guide §4: prefer codegen'd DeclarativeAggregates; labels are
        // positive part keys so -lbl is a safe tiebreak).
        labels = votes
          .groupBy(col("u"))
          .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("u").as("node"), (-col("m.nl")).as("lbl"))
      }
      labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("lbl").asc)
        .limit(10)
        .select(col("lbl").as("community"), col("n_members"))
    }),

    "q501_conformal_calibration" -> ((s, d) => {
      val base = t(s, d, "lineitem").select(
        col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        ((col("l_orderkey") * 7 + col("l_linenumber")) % 5).as("split"))
      val train = base.filter(col("split") < 3)
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_train"),
          sum(col("x")).as("sx"), sum(col("cents")).as("sy"),
          sum(col("x") * col("cents")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("b",
          (col("n_train").cast("decimal(38,0)") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sy"))
            .cast("double")
            / (col("n_train").cast("decimal(38,0)") * col("sxx")
              - col("sx").cast("decimal(38,0)") * col("sx"))
              .cast("double"))
        .withColumn("a",
          (col("sy").cast("double") - col("b") * col("sx").cast("double"))
            / col("n_train").cast("double"))
      // |residual| at whole-dollar grain on both remaining splits
      val scored = graft.Stage(base.filter(col("split") >= 3)
        .join(broadcast(train.select(col("flag"), col("a"), col("b"),
          col("n_train"))), Seq("flag"))
        .withColumn("rd",
          floor(abs(col("cents").cast("double")
            - (col("a") + col("b") * col("x").cast("double"))) / 100.0)
            .cast("long")), "q501_scored")
      val calib = scored.filter(col("split") === 3)
      val ncal = calib.groupBy(col("flag"))
        .agg(count(lit(1)).as("n_calib"))
        .withColumn("khat", expr("(9 * (n_calib + 1) + 9) DIV 10"))
      val wc = Window.partitionBy(col("flag")).orderBy(col("rd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val qhat = calib.groupBy(col("flag"), col("rd"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wc))
        .join(broadcast(ncal), Seq("flag"))
        .filter(col("cum") >= col("khat"))
        .groupBy(col("flag"), col("n_calib"))
        .agg(min(col("rd")).as("qhat_dollars"))
      scored.filter(col("split") === 4)
        .join(broadcast(qhat), Seq("flag"))
        .groupBy(col("flag"), col("n_calib"), col("qhat_dollars"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("rd") <= col("qhat_dollars"), 1L).otherwise(0L))
            .as("n_cov"), first(col("n_train")).as("n_train"))
        .select(col("flag"), col("n_train"), col("n_calib"),
          col("n_test"), col("qhat_dollars"),
          expr("n_cov * 1000000 DIV n_test").as("coverage_ppm"))
        .orderBy(col("flag"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q499_bloom_join_prune" ->
      s"""WITH dim AS (
           SELECT DISTINCT o_orderkey AS k FROM orders
           WHERE o_orderpriority = '1-URGENT'),
         bits AS (
           SELECT DISTINCT
             (((k * 2654435761) % $P1)
              + i.i * (((k * 2246822519) % $P2) + 1)) % $M AS pos
           FROM dim, (VALUES (0), (1), (2)) i(i)),
         bstats AS (
           SELECT (SELECT count(*) FROM dim)::BIGINT AS n_dim,
                  count(*)::BIGINT AS bits_set
           FROM bits),
         probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
         truth AS (
           SELECT p.k,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1
             ELSE 0 END AS is_true
           FROM probe p JOIN orders o ON o.o_orderkey = p.k),
         hits AS (
           SELECT t.k, t.is_true,
             min(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
               AS pass
           FROM truth t
           CROSS JOIN (VALUES (0), (1), (2)) i(i)
           LEFT JOIN bits b ON b.pos =
             (((t.k * 2654435761) % $P1)
              + i.i * (((t.k * 2246822519) % $P2) + 1)) % $M
           GROUP BY t.k, t.is_true),
         pstats AS (
           SELECT count(*)::BIGINT AS n_probe,
                  sum(is_true)::BIGINT AS n_true,
                  sum(pass)::BIGINT AS n_pass,
                  sum(CASE WHEN pass = 1 AND is_true = 0 THEN 1
                      ELSE 0 END)::BIGINT AS n_fp
           FROM hits)
         SELECT b.n_dim, b.bits_set, p.n_probe, p.n_true, p.n_pass,
                p.n_fp,
                (p.n_fp * 1000000 // (p.n_probe - p.n_true))::BIGINT
                  AS fpr_ppm,
                floor(pow(CAST(b.bits_set AS DOUBLE) / $M.0, 3)
                  * 1e6)::BIGINT AS fpr_theory_ppm
         FROM bstats b, pstats p""",

    "q500_label_propagation" -> {
      val rounds = (1 to 4).map { k =>
        s"""v$k AS (
           SELECT e.u, l.lbl, count(*)::BIGINT AS cnt
           FROM edges e JOIN l${k - 1} l ON l.node = e.v
           GROUP BY e.u, l.lbl),
         l$k AS (
           SELECT u AS node, lbl FROM (
             SELECT u, lbl, row_number() OVER (
               PARTITION BY u ORDER BY cnt DESC, lbl) AS rk
             FROM v$k) WHERE rk = 1)"""
      }.mkString(",\n         ")
      s"""WITH li AS (
           SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pairs AS (
           SELECT DISTINCT a.p AS u, b.p AS v
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         edges AS (
           SELECT u, v FROM pairs
           UNION ALL SELECT v, u FROM pairs),
         l0 AS (
           SELECT DISTINCT u AS node, u AS lbl FROM edges),
         $rounds
         SELECT lbl AS community, count(*)::BIGINT AS n_members
         FROM l4 GROUP BY lbl
         ORDER BY n_members DESC, community LIMIT 10"""
    },

    "q501_conformal_calibration" ->
      """WITH base AS (
           SELECT l_returnflag AS flag,
                  CAST(l_quantity AS BIGINT) AS x,
                  floor(l_extendedprice * 100)::BIGINT AS cents,
                  (l_orderkey * 7 + l_linenumber) % 5 AS split
           FROM lineitem),
         train AS (
           SELECT flag, count(*)::BIGINT AS n_train,
                  sum(x)::BIGINT AS sx, sum(cents)::BIGINT AS sy,
                  sum(x * cents)::BIGINT AS sxy,
                  sum(x * x)::BIGINT AS sxx
           FROM base WHERE split < 3 GROUP BY flag),
         fit AS (
           SELECT flag, n_train,
             CAST(n_train::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
               / CAST(n_train::HUGEINT * sxx - sx::HUGEINT * sx
                 AS DOUBLE) AS b,
             sx, sy
           FROM train),
         fit2 AS (
           SELECT flag, n_train, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
               / CAST(n_train AS DOUBLE) AS a
           FROM fit),
         scored AS (
           SELECT s.flag, s.split, f.n_train,
             floor(abs(CAST(s.cents AS DOUBLE)
               - (f.a + f.b * CAST(s.x AS DOUBLE))) / 100.0)::BIGINT
               AS rd
           FROM base s JOIN fit2 f ON s.flag = f.flag
           WHERE s.split >= 3),
         ncal AS (
           SELECT flag, count(*)::BIGINT AS n_calib,
                  ((9 * (count(*) + 1) + 9) // 10)::BIGINT AS khat
           FROM scored WHERE split = 3 GROUP BY flag),
         cum AS (
           SELECT flag, rd, sum(count(*)) OVER (
             PARTITION BY flag ORDER BY rd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum
           FROM scored WHERE split = 3 GROUP BY flag, rd),
         qhat AS (
           SELECT c.flag, n.n_calib,
                  min(c.rd)::BIGINT AS qhat_dollars
           FROM cum c JOIN ncal n ON c.flag = n.flag
           WHERE c.cum >= n.khat
           GROUP BY c.flag, n.n_calib)
         SELECT s.flag, min(s.n_train)::BIGINT AS n_train,
                q.n_calib, count(*)::BIGINT AS n_test,
                q.qhat_dollars,
                (sum(CASE WHEN s.rd <= q.qhat_dollars THEN 1
                     ELSE 0 END) * 1000000 // count(*))::BIGINT
                  AS coverage_ppm
         FROM scored s JOIN qhat q ON s.flag = q.flag
         WHERE s.split = 4
         GROUP BY s.flag, q.n_calib, q.qhat_dollars
         ORDER BY s.flag"""
  )
}


/** Round-9 batch K (q422-q427): synopsis structures and calibration /
  * allocation operators a 100 TB warehouse needs around its scans —
  * a Haar-wavelet range-sum synopsis (Matias/Vitter/Wang SIGMOD'98
  * style, integer-exact unnormalized transform), an EWMA control chart
  * (integer fold, asymptotic 3-sigma limits), Neyman-allocation
  * stratified sampling, cross-source quantile normalization, isotonic
  * regression via the closed-form max-min formula, and path-counting
  * removal-effect attribution over user journeys (the counting core of
  * Markov-chain attribution).
  *
  * All outputs are scalar BIGINT/STRING/deterministic-DOUBLE columns
  * (DriverGateSpec contract); every corpus-scale stage is a single
  * keyed aggregate or a per-user/per-stratum window; everything after
  * that operates on bounded synopsis rows (256 buckets, 64 buckets,
  * ~100 strata, ~5 channels).
  */
object Synopsis {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    // Haar wavelet synopsis of the l_extendedprice mass distribution:
    // one corpus-scale aggregate bins cents into 256 fixed-width
    // buckets; the 8 transform levels then fold 256 -> 1 rows (pair
    // sums a and pair differences d, unnormalized so everything stays
    // in exact BIGINT). The top-24 coefficients by leaf-domain impact
    // |d| * 2^(8-k) (tie-break level, index — a total order) form the
    // synopsis; reconstruction replays 256*x[i] = a8 + sum_k
    // s_k(i) * d_k[i >> k] * 2^(8-k) over the kept set and reports L1
    // / max reconstruction error in cents. At 100 TB only the binning
    // aggregate sees data; the transform shuffles <= 256 rows.
    "q422_haar_synopsis" -> ((s, d) => {
      val cents = t(s, d, "lineitem").select(
        least(lit(255L), greatest(lit(0L),
          floor(col("l_extendedprice") / 412).cast("long"))).as("i"),
        floor(col("l_extendedprice") * 100).cast("long").as("c"))
      val binned = cents.groupBy(col("i")).agg(sum(col("c")).as("a"))
      // Everything below the 256-bin histogram aggregate is
      // metadata-scale AND integer-exact (long sums/differences — no
      // float ambiguity): the previous shape ran the 8-level pyramid,
      // the top-24 selection and the reconstruction as ~80 shuffles
      // over ≤256-row frames (pure scheduler latency, the q577/q528
      // driver-side idiom). Collect the histogram, compute locally.
      val hist = Array.fill(256)(0L)
      graft.Bounded.collectCapped(binned, 256,
          "q422 histogram bins (≤256 by construction)")
        .foreach(r => hist(r.getLong(0).toInt) = r.getLong(1))
      var cur = hist
      val parts = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
      for (k <- 1 to 8) {
        val half = cur.length / 2
        val next = Array.tabulate(half)(j => cur(2 * j) + cur(2 * j + 1))
        (0 until half).foreach { j =>
          parts += ((k, j.toLong, cur(2 * j) - cur(2 * j + 1))) }
        cur = next
      }
      val a8 = cur(0)
      val kept = parts.toSeq
        .map { case (k, idx, dd) =>
          (k, idx, dd, math.abs(dd) * (1L << (8 - k))) }
        .sortBy { case (k, idx, _, w) => (-w, k, idx) }
        .take(24)
      val nKept = kept.size.toLong
      val keptWeight = kept.map(_._4).sum
      var l1 = 0L
      var mx = 0L
      for (i <- 0 until 256) {
        val adj = kept.iterator.map { case (k, idx, dd, _) =>
          if ((i >> k) == idx)
            (if (((i >> (k - 1)) & 1) == 0) dd else -dd) * (1L << (8 - k))
          else 0L
        }.sum
        val err = math.abs(hist(i) * 256 - (a8 + adj))
        l1 += err
        if (err > mx) mx = err
      }
      s.createDataFrame(Seq((a8, nKept, keptWeight, l1 / 256, mx / 256)))
        .toDF("total_cents", "n_kept", "kept_weight",
          "l1_err_cents", "max_err_cents")
    }),

    // EWMA control chart per event-type day-grain series: z_t =
    // floor((z_{t-1} + m_t) / 2) (lambda = 1/2, the repo's established
    // integer smoothing), flagged when the squared deviation crosses
    // the asymptotic 3-sigma EWMA limit sigma*sqrt(3) — integer-exact
    // as (z*n - S)^2 > 3*(n*Q - S^2) with S, Q the series' sum and sum
    // of squares. The recursion is a codegen'd higher-order fold over
    // the calendar-bounded day-grain array (q363/q409 pattern).
    "q423_ewma_control" -> ((s, d) => {
      val flag = "(cast(floor((a.z + x.v) / 2.0) as bigint) * n_days - sm)" +
        " * (cast(floor((a.z + x.v) / 2.0) as bigint) * n_days - sm)" +
        " > 3 * (n_days * qm - sm * sm)"
      t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("sum(vm) DIV count(*)").as("m"))
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("m"))))
            .as("series"),
          count(lit(1)).cast("long").as("n_days"),
          sum(col("m")).as("sm"), sum(col("m") * col("m")).as("qm"))
        .select(col("event_type"), col("n_days"), col("sm"), col("qm"),
          transform(col("series"), x => x.getField("m")).as("arr"))
        .withColumn("state", expr(
          s"""aggregate(
                transform(slice(arr, 2, int(n_days) - 1),
                  v -> named_struct('v', v)),
                named_struct('z', element_at(arr, 1), 't', 1L,
                  'nf', 0L, 'ft', 0L),
                (a, x) -> named_struct(
                  'z', cast(floor((a.z + x.v) / 2.0) as bigint),
                  't', a.t + 1L,
                  'nf', a.nf + (CASE WHEN $flag THEN 1L ELSE 0L END),
                  'ft', CASE WHEN a.ft > 0 THEN a.ft
                             WHEN $flag THEN a.t + 1L
                             ELSE 0L END))"""))
        .select(col("event_type"), col("n_days"),
          col("state.z").as("ewma_milli"),
          expr("sm DIV n_days").as("mean_milli"),
          col("state.nf").as("n_flags"),
          col("state.ft").as("first_flag_t"))
        .orderBy(col("event_type"))
    }),

    // Neyman-allocation stratified sampling over documents strata
    // (lang, source): allocation n_h proportional to N_h * sd_h with a
    // fixed budget of 1000, against the proportional baseline, then a
    // DETERMINISTIC pseudo-random sample (Knuth multiplicative hash
    // order, doc_id tie-break) realizes the allocation and reports the
    // per-stratum sample mean. sd enters as floor(sqrt(var)*1000) so
    // all downstream allocation arithmetic is integer-exact; the only
    // corpus-scale stages are one stratum aggregate and one per-stratum
    // rank window.
    "q424_neyman_sampling" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("lang"), col("source"),
        col("doc_id"), col("n_chars").cast("long").as("x"))
      val strata = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("nh"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("qx"))
        .withColumn("varb", expr(
          "CASE WHEN nh < 2 THEN 0L" +
            " ELSE (nh * qx - sx * sx) DIV (nh * (nh - 1)) END"))
        .withColumn("sd_milli",
          expr("cast(floor(sqrt(cast(varb as double)) * 1000) as bigint)"))
        .withColumn("w", col("nh") * col("sd_milli"))
      val tot = strata.agg(sum(col("w")).as("tw"), sum(col("nh")).as("tn"))
      val alloc = graft.Stage(strata.crossJoin(broadcast(tot))
        .withColumn("n_alloc", expr("least(nh, (1000 * w) DIV tw)"))
        .withColumn("n_prop", expr("least(nh, (1000 * nh) DIV tn)")),
        "q424_alloc")
      val sampled = docs
        .withColumn("kr", expr("(doc_id * 2654435761L) % 1000000007L"))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("lang"), col("source"))
          .orderBy(col("kr"), col("doc_id"))))
        .join(broadcast(alloc.select(col("lang"), col("source"),
          col("n_alloc"))), Seq("lang", "source"))
        .filter(col("rn") <= col("n_alloc"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          expr("sum(x) DIV count(*)").as("samp_mean_chars"))
      alloc.select(col("lang"), col("source"), col("nh").as("n_rows"),
          col("sd_milli"), col("n_alloc"), col("n_prop"))
        .join(sampled, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"), col("n_rows"),
          col("sd_milli"), col("n_alloc"), col("n_prop"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("samp_mean_chars"), lit(0L)).as("samp_mean_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // Cross-source quantile normalization (the microarray-style
    // batch-effect remover): rank n_chars into 100 quantile bins
    // within each source (deterministic ntile order), replace each
    // bin's mean with the cross-source average of that bin's means,
    // and report per source the before/after means and the largest
    // single-bin shift. Per-source windows only — no corpus-wide sort.
    "q425_quantile_normalize" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("source"),
        col("doc_id"), col("n_chars").cast("long").as("x"))
      val wq = Window.partitionBy(col("source"))
        .orderBy(col("x"), col("doc_id"))
      val bm = docs.withColumn("qb", ntile(100).over(wq))
        .groupBy(col("source"), col("qb"))
        .agg(expr("sum(x) DIV count(*)").as("bmean"),
          count(lit(1)).as("bn"))
      val ref = bm.groupBy(col("qb"))
        .agg(expr("sum(bmean) DIV count(*)").as("refmean"))
      bm.join(broadcast(ref), Seq("qb"))
        .groupBy(col("source"))
        .agg(sum(col("bn")).as("n_docs"),
          expr("sum(bmean * bn) DIV sum(bn)").as("mean_before"),
          expr("sum(refmean * bn) DIV sum(bn)").as("mean_after"),
          max(abs(col("bmean") - col("refmean"))).as("max_bin_shift"))
        .orderBy(col("source"))
    }),

    // Isotonic regression (weighted, L2) of P(l_returnflag = 'R')
    // against 64 discount buckets via the closed-form solution
    // fit[i] = max_{j<=i} min_{k>=i} mean(j..k): one corpus-scale
    // bucket aggregate, then prefix sums + a 64x64 broadcast grid +
    // two bounded windows. Pool means are single IEEE divisions of
    // exact BIGINTs, so min/max selection is order-independent and
    // bit-deterministic on both engines — no PAVA recursion needed.
    "q426_isotonic_fit" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        least(lit(63L), floor(col("l_discount") * 640).cast("long")).as("b"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      val buck = li.groupBy(col("b"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      // bounded: <= 64 bucket rows from here on
      val wb = Window.orderBy(col("b"))
      val pre = graft.Stage(buck
        .withColumn("r", row_number().over(wb))
        .withColumn("cn", sum(col("n")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cp", sum(col("pos")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))),
        "q426_pre")
      val jj = pre.select(col("r").as("j"),
        (col("cn") - col("n")).as("cn0"), (col("cp") - col("pos")).as("cp0"))
      val kk = pre.select(col("r").as("k"),
        col("cn").as("cnk"), col("cp").as("cpk"))
      val grid = jj.join(broadcast(kk), col("j") <= col("k"))
        .withColumn("mjk", (col("cpk") - col("cp0")).cast("double")
          / (col("cnk") - col("cn0")).cast("double"))
      val fit = grid.withColumn("m1", min(col("mjk")).over(
          Window.partitionBy(col("j")).orderBy(col("k").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("k")).agg(max(col("m1")).as("rate_iso"))
      pre.join(broadcast(fit), col("r") === col("k"))
        .select(col("b"), col("n"), col("pos"),
          (col("pos").cast("double") / col("n").cast("double"))
            .as("rate_raw"),
          col("rate_iso"))
        .orderBy(col("b"))
    }),

    // Path-counting removal-effect attribution (the counting core of
    // Markov-chain attribution, kept exact-integer): a user's journey
    // is their non-purchase touches before their first purchase (all
    // touches if they never convert). Removing a channel kills exactly
    // the conversions whose journey touched it, so the removal effect
    // is touched_convs / total_convs; attribution normalizes the
    // effects to ppm. First/last-touch counts come from per-user rank
    // windows — the only corpus-scale shapes are one join against the
    // per-user conversion time and per-user windows.
    "q427_removal_attribution" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        col("event_type"), col("ts"), col("event_id"))
      val firstPurch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("conv_ts"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .join(firstPurch, Seq("user_id"), "left")
        .filter(col("conv_ts").isNull || col("ts") < col("conv_ts"))
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts"), col("event_id"),
          col("conv_ts").isNotNull.as("converted"))
      val wAsc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val journeys = touches
        .withColumn("ra", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .filter(col("ra") === 1 || col("rd") === 1)
        .groupBy(col("user_id"))
        .agg(max(col("converted")).as("converted"),
          max(when(col("ra") === 1, col("channel"))).as("first_channel"),
          max(when(col("rd") === 1, col("channel"))).as("last_channel"))
      val firsts = journeys.groupBy(col("first_channel").as("channel"))
        .agg(count(lit(1)).as("n_first_touch"))
      val lasts = journeys.filter(col("converted"))
        .groupBy(col("last_channel").as("channel"))
        .agg(count(lit(1)).as("n_last_touch_conv"))
      val perChan = touches.groupBy(col("channel"))
        .agg(countDistinct(col("user_id")).as("touched_users"),
          countDistinct(when(col("converted"), col("user_id")))
            .as("touched_convs"))
      val totals = firstPurch.agg(count(lit(1)).as("total_conv"))
      val sumT = perChan.agg(sum(col("touched_convs")).as("sum_tc"))
      perChan.crossJoin(broadcast(totals)).crossJoin(broadcast(sumT))
        .join(broadcast(firsts), Seq("channel"), "left")
        .join(broadcast(lasts), Seq("channel"), "left")
        .select(col("channel"), col("touched_users"), col("touched_convs"),
          expr("(1000000 * touched_convs) DIV total_conv").as("re_ppm"),
          expr("(1000000 * touched_convs) DIV sum_tc").as("attrib_ppm"),
          coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"),
          coalesce(col("n_last_touch_conv"), lit(0L))
            .as("n_last_touch_conv"))
        .orderBy(col("channel"))
    })
  )

  private val q422Oracle: String = {
    val lvls = (1 to 8).map { k =>
      val src = if (k == 1) "dense" else s"l${k - 1}"
      s"""l$k AS (
           SELECT p AS i2, sum(a)::BIGINT AS a,
                  sum(CASE WHEN rr = 0 THEN a ELSE -a END)::BIGINT AS d
           FROM (SELECT i2 // 2 AS p, i2 % 2 AS rr, a FROM $src)
           GROUP BY p)"""
    }.mkString(",\n         ")
    val coeffs = (1 to 8)
      .map(k => s"SELECT $k AS k, i2 AS idx, d FROM l$k")
      .mkString(" UNION ALL ")
    s"""WITH cents AS (
         SELECT least(255, greatest(0, floor(l_extendedprice / 412)))::BIGINT
                  AS i2,
                floor(l_extendedprice * 100)::BIGINT AS c
         FROM lineitem),
       dense AS (
         SELECT g.i::BIGINT AS i2, coalesce(sum(c), 0)::BIGINT AS a
         FROM generate_series(0, 255) AS g(i)
         LEFT JOIN cents ON cents.i2 = g.i
         GROUP BY g.i),
       $lvls,
       coeffs AS ($coeffs),
       kept AS (
         SELECT k, idx, d, (abs(d) * (1::BIGINT << (8 - k)))::BIGINT AS w
         FROM coeffs ORDER BY w DESC, k, idx LIMIT 24),
       a8t AS (SELECT a AS a8 FROM l8),
       recon AS (
         SELECT dn.i2, dn.a, a8t.a8,
                (a8t.a8 + coalesce(sum(
                  CASE WHEN (dn.i2 // (1::BIGINT << (kp.k - 1))) % 2 = 0
                       THEN kp.d * (1::BIGINT << (8 - kp.k))
                       ELSE -kp.d * (1::BIGINT << (8 - kp.k)) END), 0))
                  ::BIGINT AS r
         FROM dense dn CROSS JOIN a8t
         LEFT JOIN kept kp ON (dn.i2 // (1::BIGINT << kp.k)) = kp.idx
         GROUP BY dn.i2, dn.a, a8t.a8)
       SELECT max(a8)::BIGINT AS total_cents,
              (SELECT count(*) FROM kept)::BIGINT AS n_kept,
              (SELECT sum(w) FROM kept)::BIGINT AS kept_weight,
              (sum(abs(a * 256 - r)) // 256)::BIGINT AS l1_err_cents,
              (max(abs(a * 256 - r)) // 256)::BIGINT AS max_err_cents
       FROM recon"""
  }

  private val q423Oracle: String = {
    val flag = "(zn * n_days - sm) * (zn * n_days - sm)" +
      " > 3 * (n_days * qm - sm * sm)"
    s"""WITH RECURSIVE daily AS (
         SELECT event_type,
                date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                sum(floor(value * 1000)::BIGINT) // count(*) AS m
         FROM events GROUP BY 1, 2),
       ser AS (
         SELECT event_type, list(m ORDER BY day) AS arr,
                count(*)::BIGINT AS n_days,
                sum(m)::BIGINT AS sm, sum(m * m)::BIGINT AS qm
         FROM daily GROUP BY 1),
       fold AS (
         SELECT event_type, arr, n_days, sm, qm, 1::BIGINT AS t,
                arr[1]::BIGINT AS z, 0::BIGINT AS nf, 0::BIGINT AS ft
         FROM ser
         UNION ALL
         SELECT event_type, arr, n_days, sm, qm, t + 1,
                zn AS z,
                nf + (CASE WHEN $flag THEN 1 ELSE 0 END),
                CASE WHEN ft > 0 THEN ft
                     WHEN $flag THEN t + 1
                     ELSE 0 END
         FROM (SELECT *,
                 cast(floor((z + arr[(t + 1)::INT]::BIGINT) / 2.0)
                   AS BIGINT) AS zn
               FROM fold WHERE t < n_days)),
       done AS (SELECT * FROM fold WHERE t = n_days)
       SELECT event_type, n_days, z AS ewma_milli,
              (sm // n_days)::BIGINT AS mean_milli,
              nf::BIGINT AS n_flags, ft::BIGINT AS first_flag_t
       FROM done ORDER BY event_type"""
  }

  val oracles: Seq[(String, String)] = Seq(
    "q422_haar_synopsis" -> q422Oracle,
    "q423_ewma_control" -> q423Oracle,

    "q424_neyman_sampling" ->
      """WITH docs AS (
           SELECT lang, source, doc_id, n_chars::BIGINT AS x
           FROM documents),
         strata AS (
           SELECT lang, source, count(*)::BIGINT AS nh,
                  sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS qx
           FROM docs GROUP BY 1, 2),
         sd AS (
           SELECT *,
                  CASE WHEN nh < 2 THEN 0
                       ELSE (nh * qx - sx * sx) // (nh * (nh - 1)) END
                    AS varb
           FROM strata),
         wtab AS (
           SELECT lang, source, nh,
                  cast(floor(sqrt(varb::DOUBLE) * 1000) AS BIGINT)
                    AS sd_milli,
                  nh * cast(floor(sqrt(varb::DOUBLE) * 1000) AS BIGINT)
                    AS w
           FROM sd),
         tot AS (SELECT sum(w)::BIGINT AS tw, sum(nh)::BIGINT AS tn
                 FROM wtab),
         alloc AS (
           SELECT lang, source, nh, sd_milli,
                  least(nh, (1000 * w) // tw)::BIGINT AS n_alloc,
                  least(nh, (1000 * nh) // tn)::BIGINT AS n_prop
           FROM wtab CROSS JOIN tot),
         ranked AS (
           SELECT lang, source, x,
                  row_number() OVER (PARTITION BY lang, source
                    ORDER BY (doc_id * 2654435761) % 1000000007, doc_id)
                    AS rn
           FROM docs),
         sampled AS (
           SELECT r.lang, r.source, count(*)::BIGINT AS n_sampled,
                  (sum(r.x) // count(*))::BIGINT AS samp_mean_chars
           FROM ranked r JOIN alloc a
             ON r.lang = a.lang AND r.source = a.source
           WHERE r.rn <= a.n_alloc
           GROUP BY 1, 2)
         SELECT a.lang, a.source, a.nh AS n_rows, a.sd_milli,
                a.n_alloc, a.n_prop,
                coalesce(s.n_sampled, 0)::BIGINT AS n_sampled,
                coalesce(s.samp_mean_chars, 0)::BIGINT AS samp_mean_chars
         FROM alloc a LEFT JOIN sampled s
           ON a.lang = s.lang AND a.source = s.source
         ORDER BY a.lang, a.source""",

    "q425_quantile_normalize" ->
      """WITH docs AS (
           SELECT source, doc_id, n_chars::BIGINT AS x FROM documents),
         binned AS (
           SELECT source, x,
                  ntile(100) OVER (PARTITION BY source
                    ORDER BY x, doc_id) AS qb
           FROM docs),
         bm AS (
           SELECT source, qb, sum(x) // count(*) AS bmean,
                  count(*)::BIGINT AS bn
           FROM binned GROUP BY 1, 2),
         ref AS (
           SELECT qb, sum(bmean) // count(*) AS refmean
           FROM bm GROUP BY 1)
         SELECT bm.source, sum(bm.bn)::BIGINT AS n_docs,
                (sum(bm.bmean * bm.bn) // sum(bm.bn))::BIGINT
                  AS mean_before,
                (sum(ref.refmean * bm.bn) // sum(bm.bn))::BIGINT
                  AS mean_after,
                max(abs(bm.bmean - ref.refmean))::BIGINT AS max_bin_shift
         FROM bm JOIN ref ON bm.qb = ref.qb
         GROUP BY bm.source ORDER BY bm.source""",

    "q426_isotonic_fit" ->
      """WITH li AS (
           SELECT least(63, floor(l_discount * 640))::BIGINT AS b,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         buck AS (
           SELECT b, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
           FROM li GROUP BY b),
         pre AS (
           SELECT b, n, pos,
                  row_number() OVER (ORDER BY b) AS r,
                  (sum(n) OVER (ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS cn,
                  (sum(pos) OVER (ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS cp
           FROM buck),
         grid AS (
           SELECT j.r AS j, k.r AS k,
                  (k.cp - (j.cp - j.pos))::DOUBLE
                    / (k.cn - (j.cn - j.n))::DOUBLE AS mjk
           FROM pre j JOIN pre k ON j.r <= k.r),
         runmin AS (
           SELECT j, k,
                  min(mjk) OVER (PARTITION BY j ORDER BY k DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS m1
           FROM grid),
         fit AS (SELECT k, max(m1) AS rate_iso FROM runmin GROUP BY k)
         SELECT p.b, p.n, p.pos,
                (p.pos::DOUBLE / p.n::DOUBLE) AS rate_raw, f.rate_iso
         FROM pre p JOIN fit f ON p.r = f.k ORDER BY p.b""",

    "q427_removal_attribution" ->
      """WITH fp AS (
           SELECT user_id, min(ts::TIMESTAMP) AS conv_ts
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         touches AS (
           SELECT e.user_id, e.event_type AS channel,
                  e.ts::TIMESTAMP AS ts, e.event_id,
                  (fp.conv_ts IS NOT NULL) AS converted
           FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
           WHERE e.event_type <> 'purchase'
             AND (fp.conv_ts IS NULL OR e.ts::TIMESTAMP < fp.conv_ts)),
         marked AS (
           SELECT *,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS ra,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rd
           FROM touches),
         journeys AS (
           SELECT user_id, max(converted) AS converted,
                  max(CASE WHEN ra = 1 THEN channel END) AS first_channel,
                  max(CASE WHEN rd = 1 THEN channel END) AS last_channel
           FROM marked WHERE ra = 1 OR rd = 1 GROUP BY 1),
         firsts AS (
           SELECT first_channel AS channel, count(*)::BIGINT
                    AS n_first_touch
           FROM journeys GROUP BY 1),
         lasts AS (
           SELECT last_channel AS channel, count(*)::BIGINT
                    AS n_last_touch_conv
           FROM journeys WHERE converted GROUP BY 1),
         perchan AS (
           SELECT channel,
                  count(DISTINCT user_id)::BIGINT AS touched_users,
                  count(DISTINCT CASE WHEN converted THEN user_id END)
                    ::BIGINT AS touched_convs
           FROM touches GROUP BY 1),
         totals AS (SELECT count(*)::BIGINT AS total_conv FROM fp),
         sumt AS (SELECT sum(touched_convs)::BIGINT AS sum_tc
                  FROM perchan)
         SELECT p.channel, p.touched_users, p.touched_convs,
                ((1000000 * p.touched_convs) // t.total_conv)::BIGINT
                  AS re_ppm,
                ((1000000 * p.touched_convs) // s.sum_tc)::BIGINT
                  AS attrib_ppm,
                coalesce(f.n_first_touch, 0)::BIGINT AS n_first_touch,
                coalesce(l.n_last_touch_conv, 0)::BIGINT
                  AS n_last_touch_conv
         FROM perchan p CROSS JOIN totals t CROSS JOIN sumt s
         LEFT JOIN firsts f ON p.channel = f.channel
         LEFT JOIN lasts l ON p.channel = l.channel
         ORDER BY p.channel"""
  )
}


/** Round-9 batch AP (q520-q522) — physical-design advisory and
  * aggregate-vs-group diagnostics:
  *
  *  - q520: greedy materialized-view selection over the CUBE lattice
  *    (Harinarayan-Rajaraman-Ullman): all 16 view sizes of the
  *    (returnflag, linestatus, ship-month, quantity-bucket) lattice
  *    come from ONE cube() pass (view size = group count per
  *    grouping id); the 2-step greedy benefit maximization runs on
  *    the collected 16-row lattice (bounded by 2^dims, never the
  *    corpus). Mirrors the reference's aggregate-navigation /
  *    rollup-advisor surface on the classic published algorithm.
  *  - q521: Simpson's-paradox detector — the sign of the
  *    quantity↔discount association computed overall vs within each
  *    supplier nation (exact integer OLS slope numerators; the
  *    denominator is positive so sign(num) = sign(slope)).
  *    Flags when the pooled sign contradicts the group majority —
  *    the classic aggregation trap every metrics platform should
  *    test before reporting a pooled trend.
  *  - q522: like-for-like (same-store) growth decomposition —
  *    period-over-period revenue growth split into comparable parts
  *    (present in both halves of the shipdate span), new entrants,
  *    and discontinued parts; LFL growth vs total growth in ppm.
  *    Two keyed aggregates and one part-grain join.
  */
object Lattice {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(

    "q520_view_selection_greedy" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val base = t(s, d, "lineitem").select(
        col("l_returnflag").as("f"), col("l_linestatus").as("st"),
        month(col("l_shipdate")).as("m"),
        expr("CAST(l_quantity AS BIGINT) DIV 10").as("qb"))
      // one cube pass: rows per grouping_id = that view's group count.
      // gid bit order: first cube column = most-significant bit; a SET
      // bit means the column is aggregated away (not in the view).
      val lattice = graft.Bounded.collectCapped(base
        .cube(col("f"), col("st"), col("m"), col("qb"))
        .agg(grouping_id().as("gid"))
        .groupBy(col("gid")).agg(count(lit(1)).as("size_rows")),
        16, "cube lattice views (2^4 by construction)")
      val dims = Seq('f' -> 8L, 's' -> 4L, 'm' -> 2L, 'q' -> 1L)
      val views = lattice.map { r =>
        val gid = r.getLong(0)
        val lbl = dims.collect { case (c, b) if (gid & b) == 0L => c }
          .mkString
        (if (lbl.isEmpty) "-" else lbl, lbl.toSet, r.getLong(1))
      }
      val top = views.find(_._1 == "fsmq").get
      // HRU greedy: benefit(v | S) = Σ_{w ⊆ v} max(cost_w(S) − |v|, 0)
      def cost(w: Set[Char], sel: Seq[(String, Set[Char], Long)]) =
        (top +: sel).filter(c => w.subsetOf(c._2)).map(_._3).min
      var selected = Vector.empty[(String, Set[Char], Long)]
      var picks = Vector.empty[(String, Long, Long, Long)]
      for (step <- 1 to 2) {
        val cands = views.filter(v => v._1 != "fsmq"
          && !selected.exists(_._1 == v._1))
        val scored = cands.map { v =>
          val b = views.filter(w => w._2.subsetOf(v._2))
            .map(w => math.max(cost(w._2, selected) - v._3, 0L)).sum
          (v, b)
        }
        val (best, benefit) = scored.sortBy { case (v, b) => (-b, v._1) }
          .head
        selected :+= best
        picks :+= ((best._1, step.toLong, best._3, benefit))
      }
      val sel = picks.map(p => p._1 -> p).toMap
      views.toSeq.map { case (lbl, st, size) =>
        val p = sel.get(lbl)
        (lbl, st.size.toLong, size,
          p.map(_._2).getOrElse(0L), p.map(_._4).getOrElse(0L))
      }.toDF("view_label", "n_dims", "size_rows", "selected_step",
        "benefit").orderBy(col("view_label"))
    }),

    "q521_simpson_detector" -> ((s, d) => {
      val base = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")
          .select(col("s_suppkey").as("l_suppkey"),
            col("s_nationkey").cast("long").as("nation"))),
          Seq("l_suppkey"))
        .select(col("nation"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_discount") * 10000).cast("long").as("y"))
      def slopeNum(df: DataFrame, keys: Seq[String]): DataFrame = {
        val g = if (keys.isEmpty) df.groupBy() else df.groupBy(
          keys.map(col): _*)
        g.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
          .withColumn("num",
            col("n") * col("sxy") - col("sx").cast("decimal(38,0)")
              * col("sy"))
          .withColumn("sign", signum(col("num").cast("double"))
            .cast("long"))
      }
      val overall = slopeNum(base, Nil)
        .select(col("sign").as("pooled_sign"), col("n").as("n_rows"))
      val grp = slopeNum(base, Seq("nation"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("sign") === 1L, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("sign") === -1L, 1L).otherwise(0L)).as("n_neg"))
      overall.crossJoin(grp)
        .withColumn("majority_sign",
          when(col("n_pos") > col("n_neg"), 1L)
            .when(col("n_neg") > col("n_pos"), -1L).otherwise(0L))
        .select(col("n_rows"), col("pooled_sign"), col("n_groups"),
          col("n_pos"), col("n_neg"), col("majority_sign"),
          when(col("pooled_sign") =!= col("majority_sign")
            && col("majority_sign") =!= 0L, 1L).otherwise(0L)
            .as("paradox_flag"))
    }),

    "q522_like_for_like" -> ((s, d) => {
      val base = t(s, d, "lineitem").select(
        col("l_partkey").as("partkey"),
        floor(unix_timestamp(col("l_shipdate")) / 86400L)
          .cast("long").as("day"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val span = base.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
        .withColumn("mid", expr("d0 + (d1 - d0 + 1) DIV 2"))
      val per = graft.Stage(base.crossJoin(broadcast(span))
        .groupBy(col("partkey"))
        .agg(sum(when(col("day") < col("mid"), col("cents"))
          .otherwise(0L)).as("r1"),
          sum(when(col("day") >= col("mid"), col("cents"))
            .otherwise(0L)).as("r2")), "q522_per")
      per.agg(count(lit(1)).as("n_parts_total"),
        sum(when(col("r1") > 0 && col("r2") > 0, 1L).otherwise(0L))
          .as("n_lfl"),
        sum(col("r1")).as("rev_p1"), sum(col("r2")).as("rev_p2"),
        sum(when(col("r1") > 0 && col("r2") > 0, col("r1"))
          .otherwise(0L)).as("lfl_p1"),
        sum(when(col("r1") > 0 && col("r2") > 0, col("r2"))
          .otherwise(0L)).as("lfl_p2"),
        sum(when(col("r1") === 0, col("r2")).otherwise(0L))
          .as("new_rev"),
        sum(when(col("r2") === 0, col("r1")).otherwise(0L))
          .as("lost_rev"))
        .select(col("n_parts_total"), col("n_lfl"),
          col("rev_p1"), col("rev_p2"),
          expr("(rev_p2 - rev_p1) * 1000000 DIV rev_p1")
            .as("growth_total_ppm"),
          expr("(lfl_p2 - lfl_p1) * 1000000 DIV lfl_p1")
            .as("growth_lfl_ppm"),
          col("new_rev"), col("lost_rev"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(

    "q520_view_selection_greedy" ->
      """WITH base AS (
           SELECT l_returnflag AS f, l_linestatus AS st,
                  month(l_shipdate) AS m,
                  CAST(l_quantity AS BIGINT) // 10 AS qb
           FROM lineitem),
         cube_rows AS (
           SELECT (CASE WHEN GROUPING(f) = 0 THEN 'f' ELSE '' END)
                || (CASE WHEN GROUPING(st) = 0 THEN 's' ELSE '' END)
                || (CASE WHEN GROUPING(m) = 0 THEN 'm' ELSE '' END)
                || (CASE WHEN GROUPING(qb) = 0 THEN 'q' ELSE '' END)
                  AS lbl
           FROM base GROUP BY CUBE (f, st, m, qb)),
         sizes AS (
           SELECT (CASE WHEN lbl = '' THEN '-' ELSE lbl END)
                    AS view_label,
                  length(lbl)::BIGINT AS n_dims,
                  count(*)::BIGINT AS size_rows
           FROM cube_rows GROUP BY 1, 2),
         top AS (
           SELECT size_rows AS tsz FROM sizes
           WHERE view_label = 'fsmq'),
         -- w subset-of v via letter containment ('-' = no letters)
         r1 AS (
           SELECT v.view_label, v.size_rows,
             (SELECT sum(greatest(t.tsz - v.size_rows, 0))
              FROM sizes w, top t
              WHERE (w.view_label = '-' OR (
                (position('f' IN w.view_label) = 0
                  OR position('f' IN v.view_label) > 0)
                AND (position('s' IN w.view_label) = 0
                  OR position('s' IN v.view_label) > 0)
                AND (position('m' IN w.view_label) = 0
                  OR position('m' IN v.view_label) > 0)
                AND (position('q' IN w.view_label) = 0
                  OR position('q' IN v.view_label) > 0))))::BIGINT
               AS benefit
           FROM sizes v WHERE v.view_label <> 'fsmq'),
         w1 AS (
           SELECT * FROM r1 ORDER BY benefit DESC, view_label
           LIMIT 1),
         r2 AS (
           SELECT v.view_label, v.size_rows,
             (SELECT sum(greatest(
                least(t.tsz,
                  CASE WHEN (w.view_label = '-' OR (
                    (position('f' IN w.view_label) = 0
                      OR position('f' IN s1.view_label) > 0)
                    AND (position('s' IN w.view_label) = 0
                      OR position('s' IN s1.view_label) > 0)
                    AND (position('m' IN w.view_label) = 0
                      OR position('m' IN s1.view_label) > 0)
                    AND (position('q' IN w.view_label) = 0
                      OR position('q' IN s1.view_label) > 0)))
                   THEN s1.size_rows ELSE t.tsz END)
                - v.size_rows, 0))
              FROM sizes w, top t, w1 s1
              WHERE (w.view_label = '-' OR (
                (position('f' IN w.view_label) = 0
                  OR position('f' IN v.view_label) > 0)
                AND (position('s' IN w.view_label) = 0
                  OR position('s' IN v.view_label) > 0)
                AND (position('m' IN w.view_label) = 0
                  OR position('m' IN v.view_label) > 0)
                AND (position('q' IN w.view_label) = 0
                  OR position('q' IN v.view_label) > 0))))::BIGINT
               AS benefit
           FROM sizes v, w1 s1x
           WHERE v.view_label <> 'fsmq'
             AND v.view_label <> s1x.view_label),
         w2 AS (
           SELECT * FROM r2 ORDER BY benefit DESC, view_label
           LIMIT 1)
         SELECT s.view_label, s.n_dims, s.size_rows,
                (CASE WHEN s.view_label = (SELECT view_label FROM w1)
                      THEN 1
                      WHEN s.view_label = (SELECT view_label FROM w2)
                      THEN 2 ELSE 0 END)::BIGINT AS selected_step,
                (CASE WHEN s.view_label = (SELECT view_label FROM w1)
                      THEN (SELECT benefit FROM w1)
                      WHEN s.view_label = (SELECT view_label FROM w2)
                      THEN (SELECT benefit FROM w2)
                      ELSE 0 END)::BIGINT AS benefit
         FROM sizes s ORDER BY s.view_label""",

    "q521_simpson_detector" ->
      """WITH base AS (
           SELECT s.s_nationkey::BIGINT AS nation,
                  CAST(l.l_quantity AS BIGINT) AS x,
                  floor(l.l_discount * 10000)::BIGINT AS y
           FROM lineitem l JOIN supplier s
             ON l.l_suppkey = s.s_suppkey),
         overall AS (
           SELECT count(*)::BIGINT AS n_rows,
             sign(CAST(count(*)::HUGEINT * sum(x::HUGEINT * y)
               - sum(x)::HUGEINT * sum(y) AS DOUBLE))::BIGINT
               AS pooled_sign
           FROM base),
         grp AS (
           SELECT nation,
             sign(CAST(count(*)::HUGEINT * sum(x::HUGEINT * y)
               - sum(x)::HUGEINT * sum(y) AS DOUBLE))::BIGINT AS sg
           FROM base GROUP BY nation),
         gsum AS (
           SELECT count(*)::BIGINT AS n_groups,
                  sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)::BIGINT
                    AS n_pos,
                  sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END)::BIGINT
                    AS n_neg
           FROM grp)
         SELECT o.n_rows, o.pooled_sign, g.n_groups, g.n_pos, g.n_neg,
                (CASE WHEN g.n_pos > g.n_neg THEN 1
                      WHEN g.n_neg > g.n_pos THEN -1
                      ELSE 0 END)::BIGINT AS majority_sign,
                (CASE WHEN o.pooled_sign <>
                   (CASE WHEN g.n_pos > g.n_neg THEN 1
                         WHEN g.n_neg > g.n_pos THEN -1 ELSE 0 END)
                  AND (CASE WHEN g.n_pos > g.n_neg THEN 1
                            WHEN g.n_neg > g.n_pos THEN -1
                            ELSE 0 END) <> 0
                 THEN 1 ELSE 0 END)::BIGINT AS paradox_flag
         FROM overall o, gsum g""",

    "q522_like_for_like" ->
      """WITH base AS (
           SELECT l_partkey AS partkey,
                  floor(epoch(l_shipdate::TIMESTAMP) / 86400)::BIGINT
                    AS day,
                  floor(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem),
         span AS (
           SELECT min(day) AS d0, max(day) AS d1,
                  min(day) + (max(day) - min(day) + 1) // 2 AS mid
           FROM base),
         per AS (
           SELECT b.partkey,
                  sum(CASE WHEN b.day < s.mid THEN b.cents
                      ELSE 0 END)::BIGINT AS r1,
                  sum(CASE WHEN b.day >= s.mid THEN b.cents
                      ELSE 0 END)::BIGINT AS r2
           FROM base b, span s GROUP BY b.partkey),
         agg AS (
           SELECT count(*)::BIGINT AS n_parts_total,
                  sum(CASE WHEN r1 > 0 AND r2 > 0 THEN 1
                      ELSE 0 END)::BIGINT AS n_lfl,
                  sum(r1)::BIGINT AS rev_p1, sum(r2)::BIGINT AS rev_p2,
                  sum(CASE WHEN r1 > 0 AND r2 > 0 THEN r1
                      ELSE 0 END)::BIGINT AS lfl_p1,
                  sum(CASE WHEN r1 > 0 AND r2 > 0 THEN r2
                      ELSE 0 END)::BIGINT AS lfl_p2,
                  sum(CASE WHEN r1 = 0 THEN r2 ELSE 0 END)::BIGINT
                    AS new_rev,
                  sum(CASE WHEN r2 = 0 THEN r1 ELSE 0 END)::BIGINT
                    AS lost_rev
           FROM per)
         SELECT n_parts_total, n_lfl, rev_p1, rev_p2,
                ((rev_p2 - rev_p1) * 1000000 // rev_p1)::BIGINT
                  AS growth_total_ppm,
                ((lfl_p2 - lfl_p1) * 1000000 // lfl_p1)::BIGINT
                  AS growth_lfl_ppm,
                new_rev, lost_rev
         FROM agg"""
  )
}
