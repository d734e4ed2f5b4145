package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Product-analytics / time-series operators over the events stream —
  * the interactive dashboard workloads the reference's deployments run
  * (its events-style demos and the `Tests/ExecuteTest.cpp` date_trunc /
  * window surfaces): regular-grid resampling with gap fill, funnel
  * conversion, cohort retention, and event-transition statistics.
  *
  * Scale notes: q260's gap fill is a banded equi-join (the q174
  * interval-band trick pointed at LOCF) — NO global window touches the
  * time spine; q261 is three per-user aggregates chained by hash joins
  * on user_id; q262 is two aggregates; q263's only window partitions by
  * user_id (bounded per-user history). Everything shuffles on its
  * natural key exactly once per stage.
  */
object ProductAnalytics {

  type Q = (SparkSession, String) => DataFrame

  // ---- q260: LOCF lookback band (hours). Two adjacent bands are
  // probed, so any gap <= BAND hours fills; both engines replay the
  // same bands, so the (never-observed-at-fixture-scale) longer gap
  // would produce the same NULL in both.
  private val BAND_H = 96L

  val queries: Seq[(String, Q)] = Seq(

    // Resample 'view' events onto a complete hourly spine (min..max
    // observed hour) with last-observation-carried-forward fill. The
    // spine is sequence()-generated and exploded — no fixture row is
    // assumed for empty hours; the fill is an as-of lookup expressed as
    // a BANDED equi-join + max(struct) (one shuffle), never a global
    // window over the spine. Value sums aggregate as DECIMAL so the
    // per-hour average is exact-sum / count — engine-identical.
    "q260_resample_gapfill" -> ((s, d) => {
      val obs = t(s, d, "events")
        .filter(col("event_type") === "view")
        .groupBy(date_trunc("hour", col("ts")).as("oh"))
        .agg(sum(col("value").cast("decimal(14,2)")).as("sv"),
          count(lit(1)).as("n"))
      val bounds = obs.agg(min(col("oh")).as("h0"), max(col("oh")).as("h1"))
      val spine = bounds
        .select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("h"))
      val bandOf = (c: Column) =>
        floor(unix_timestamp(c) / lit(BAND_H * 3600L)).cast("long")
      // Each observation serves its own band and the next one, so a
      // spine hour's single-band probe still sees >= BAND_H of history.
      val served = obs.select(col("oh"), col("sv"), col("n"),
        explode(array(bandOf(col("oh")), bandOf(col("oh")) + 1)).as("b"))
      // The as-of qualifier (oh <= h) lives in the JOIN CONDITION, not a
      // post-filter: a spine hour whose band holds only LATER
      // observations must surface as a null-filled row, not vanish.
      val sp = spine.withColumn("b", bandOf(col("h"))).as("sp")
      val filled = sp.join(served.as("sv"),
          col("sv.b") === col("sp.b") && col("sv.oh") <= col("sp.h"),
          "left")
        .groupBy(col("sp.h").as("h"))
        .agg(max(struct(col("sv.oh").as("oh"), col("sv.sv").as("sv"),
          col("sv.n").as("n"))).as("last"))
        .select(col("h"), col("last.oh").as("last_obs_h"),
          (col("last.oh") === col("h")).as("observed"),
          when(col("last.n").isNotNull,
            round(col("last.sv").cast("double") / col("last.n"), 4))
            .as("filled_avg"))
      filled.withColumn("observed", coalesce(col("observed"), lit(false)))
    }),

    // Cohort retention: cohort = ISO week of the user's first event,
    // activity offset = whole weeks since the cohort week. Two
    // aggregates (first-event per user, then the cohort x offset
    // matrix); day arithmetic is integer, so the matrix is float-free.
    "q262_cohort_retention" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"), col("cohort_week"),
          (datediff(date_trunc("week", col("ts")), col("cohort_week"))
            .cast("long") / 7).cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
    }),

    // Last-touch attribution: each purchase is attributed to the
    // user's most recent non-purchase event within 24 h — the as-of
    // lookup shape (q149) expressed as a per-user IGNORE-NULLS running
    // last over (ts, event_id) order. The carried value is packed as a
    // string so the window needs no struct ordering; purchases outside
    // the 24 h lookback attribute to 'none'. One shuffle on user_id.
    "q266_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = when(col("event_type") =!= "purchase",
        concat_ws("|", unix_micros(col("ts")), col("event_type")))
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("src", last(packed, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("value"),
          when(col("src").isNotNull &&
            unix_micros(col("ts")) - split(col("src"), "\\|")(0)
              .cast("long") <= 24L * 3600 * 1000000,
            split(col("src"), "\\|")(1)).otherwise("none")
            .as("attributed_to"))
        .groupBy(col("attributed_to"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(14,2)")).cast("double"), 2)
            .as("total_value"))
    }),

    // Position-based (U-shaped) MULTI-touch attribution — the
    // fractional-credit counterpart of q266's last-touch: every
    // non-purchase event within the 24 h lookback of a purchase gets
    // credit by position (40% first touch, 40% last, the middle 20%
    // split evenly), in INTEGER PPM so credit sums are exact and
    // order-independent (float credit splits would hash-diverge on sum
    // order). The purchase×touch join is per-user and
    // lookback-bounded; windows partition by the purchase event id.
    "q322_multitouch_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          unix_micros(col("ts")).as("pts"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"),
          col("event_id").as("tid"), unix_micros(col("ts")).as("tts"))
      val joined = purch.join(touch, Seq("user_id"))
        .filter(col("tts") < col("pts") &&
          col("pts") - col("tts") <= lit(24L * 3600 * 1000000))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("tts"), col("tid"))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid"))
      val credited = joined
        .withColumn("rn", row_number().over(w))
        .withColumn("nt", count(lit(1)).over(wn))
        .withColumn("credit_ppm",
          when(col("nt") === 1, 1000000L)
            .when(col("nt") === 2, 500000L)
            .when(col("rn") === 1 || col("rn") === col("nt"), 400000L)
            .otherwise(expr("200000 DIV (nt - 2)")))
      credited.groupBy(col("channel"))
        .agg(sum(col("credit_ppm")).as("credit_ppm_total"),
          countDistinct(col("pid")).as("n_purchases_touched"),
          count(lit(1)).as("n_touches"))
    }),

    // Bot detection by inter-event regularity — ALL-INTEGER: per-user
    // gap sequence (seconds, day-clamped so every square and
    // cross-product stays far under 2^63), and the coefficient-of-
    // variation test cv < 0.1 expressed as the exact integer inequality
    // (n·Σg² − (Σg)²)·100 < (Σg)² — no float variance anywhere, so the
    // verdict replays bit-for-bit. A planted machine-regular stream
    // (5 users × 50 events on an exact 60 s cadence, generated from a
    // range — no fixture mutation) proves detection; organic users with
    // jittered gaps stay unflagged. One shuffle on user_id.
    "q324_bot_regularity" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val real = t(s, d, "events").select(col("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_id").as("eid"))
      val bots = spark.range(5).select(
          (col("id") + 900001L).as("user_id"), col("id").as("uoff"))
        .crossJoin(spark.range(50).select(col("id").as("k")))
        .select(col("user_id"),
          (lit(1577836800000000L) + col("uoff") * 3600000000L +
            col("k") * 60000000L).as("tus"),
          (col("k") + 1000000000L).as("eid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"), col("eid"))
      val gaps = real.unionByName(bots)
        .withColumn("prev", lag(col("tus"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"),
          least(expr("(tus - prev) DIV 1000000"), lit(86400L)).as("g"))
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"),
          sum(col("g") * col("g")).as("sg2"))
        .filter(col("n_gaps") >= 20 &&
          (col("n_gaps") * col("sg2") - col("sg") * col("sg")) * 100 <
            col("sg") * col("sg"))
        .select(col("user_id"), col("n_gaps"),
          expr("sg DIV n_gaps").as("mean_gap_s"))
    }),

    // RATIO_TO_REPORT / percent-of-total reporting — revenue share per
    // nation in exact integer ppm (cents-scaled sums, so shares replay
    // bit-for-bit) with the dense revenue rank. The global total is a
    // 1-row aggregate broadcast back (never an unpartitioned window);
    // ranking happens on the BOUNDED nation rollup.
    "q329_ratio_to_report" -> ((s, d) => {
      val rev = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("o_totalprice").cast("decimal(14,2)") * 100)
          .cast("long")).as("rev_cents"),
          count(lit(1)).as("n_orders"))
      val total = rev.agg(sum(col("rev_cents")).as("tot")).head()
        .getLong(0)
      // rank via a BOUNDED (nation × nation) self-join — no global
      // window, keeping the repo's no-unpartitioned-WindowExec
      // invariant even on dim-sized rollups
      val staged = graft.Stage(rev, "q329_rev")
      val rank = staged.as("a").join(staged.as("b"),
          col("b.rev_cents") > col("a.rev_cents") ||
          (col("b.rev_cents") === col("a.rev_cents") &&
            col("b.n_name") < col("a.n_name")), "left")
        .groupBy(col("a.n_name").as("n_name"),
          col("a.n_orders").as("n_orders"),
          col("a.rev_cents").as("rev_cents"))
        .agg((count(col("b.n_name")) + 1).cast("int").as("rev_rank"))
      rank.withColumn("share_ppm",
          expr(s"rev_cents * 1000000 DIV ${total}L"))
        .select(col("n_name"), col("n_orders"), col("rev_cents"),
          col("share_ppm"), col("rev_rank"))
    }),

    // A/B experiment analysis: users deterministically hash-assigned to
    // two arms, per-user purchase revenue kept in INTEGER CENTS so the
    // arm sums and sums-of-squares are exact; mean/variance/Welch-t are
    // then a fixed chain of correctly-rounded double ops replayed
    // verbatim by the oracle. One shuffle (per-user rollup) + a 1-row
    // conditional aggregate — the experimentation readout at any scale.
    "q267_ab_test" -> ((s, d) => {
      val per = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(14,2)") * 100).cast("long"))
          .otherwise(0L)).as("cents"))
        .withColumn("arm", when(
          Dedup.hash60(concat_ws("", lit("ab:"), col("user_id")))
            % 2 === 0, "A").otherwise("B"))
        .withColumn("c2", col("cents") * col("cents"))
      def armAgg(a: String, c: Column) =
        sum(when(col("arm") === a, c).otherwise(0L))
      val stats = per.agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
        armAgg("A", col("cents")).as("s_a"),
        armAgg("B", col("cents")).as("s_b"),
        armAgg("A", col("c2")).as("ss_a"),
        armAgg("B", col("c2")).as("ss_b"))
      val meanA = col("s_a") / col("n_a") / 100.0
      val meanB = col("s_b") / col("n_b") / 100.0
      val varA = (col("ss_a") - col("s_a") * col("s_a") / col("n_a")) /
        (col("n_a") - 1) / 10000.0
      val varB = (col("ss_b") - col("s_b") * col("s_b") / col("n_b")) /
        (col("n_b") - 1) / 10000.0
      stats.select(col("n_a"), col("n_b"),
        round(meanA, 4).as("mean_a"), round(meanB, 4).as("mean_b"),
        round(varA, 4).as("var_a"), round(varB, 4).as("var_b"),
        round((meanA - meanB) /
          sqrt(varA / col("n_a") + varB / col("n_b")), 4).as("t_stat"))
    }),

    // Right-to-be-forgotten erasure audit: the users selected for
    // erasure (deterministic hash slice) are anti-joined out of the
    // event stream; the audit row carries how much was removed AND a
    // residual count that must be zero — erasure that cannot prove
    // completeness is not erasure. Anti-join + two aggregates; at
    // 100 TB the erase set is a broadcast manifest and the rewrite is
    // partition-local.
    "q271_erasure_audit" -> ((s, d) => {
      val ev = t(s, d, "events")
      def isErased(u: Column): Column =
        Dedup.hash60(concat_ws("", lit("gdpr:"), u)) % 10 === 0
      val erase = ev.select(col("user_id")).distinct()
        .filter(isErased(col("user_id")))
      val post = ev.join(erase, Seq("user_id"), "left_anti")
      // The residual check derives INDEPENDENTLY of the erase-set
      // plumbing (re-applying the predicate to the post table), so a
      // bug in the manifest or the anti-join actually shows up — a
      // semi-join of post against the same erase set would be zero by
      // construction and prove nothing.
      val residual = post.filter(isErased(col("user_id")))
        .agg(count(lit(1)).as("residual_events"))
      val nUsers = erase.agg(count(lit(1)).as("n_users_erased"))
      val nPost = post.agg(count(lit(1)).as("n_events_left"))
      val nAll = ev.agg(count(lit(1)).as("n_events_before"))
      nUsers.crossJoin(nAll).crossJoin(nPost).crossJoin(residual)
        .select(col("n_users_erased"), col("n_events_before"),
          col("n_events_left"),
          (col("n_events_before") - col("n_events_left"))
            .as("n_events_removed"),
          col("residual_events"))
    }),

    // Supervised feature-matrix construction for time-series
    // forecasting: daily revenue per event type with lag-1, lag-7 and
    // trailing-7-day-mean features — the (X, y) table a forecasting
    // model trains on. Revenue aggregates as DECIMAL cents so lags and
    // the trailing mean are exact; windows partition by type (bounded
    // series count), never globally. Rows without a full feature set
    // are dropped, as a training-matrix builder must.
    "q280_ts_feature_matrix" -> ((s, d) => {
      val daily0 = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum((col("value").cast("decimal(14,2)") * 100).cast("long"))
          .as("cents"))
      // Zero-revenue days are MATERIALIZED on a per-type calendar spine
      // before the lags, so a row offset IS a calendar offset — row-based
      // lag over a gappy daily aggregate would silently hand the model
      // "lag-7" features from more than a week ago.
      val bounds = daily0.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val spine = daily0.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
      val daily = spine.join(daily0, Seq("event_type", "day"), "left")
        .withColumn("cents", coalesce(col("cents"), lit(0L)))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val w7 = w.rowsBetween(-7, -1)
      daily
        .withColumn("lag1", lag(col("cents"), 1).over(w))
        .withColumn("lag7", lag(col("cents"), 7).over(w))
        .withColumn("n7", count(col("cents")).over(w7))
        .withColumn("sum7", sum(col("cents")).over(w7))
        .filter(col("lag1").isNotNull && col("lag7").isNotNull &&
          col("n7") === 7)
        .select(col("event_type"), col("day"),
          round(col("cents") / 100.0, 2).as("y"),
          round(col("lag1") / 100.0, 2).as("x_lag1"),
          round(col("lag7") / 100.0, 2).as("x_lag7"),
          round(col("sum7") / 7.0 / 100.0, 4).as("x_ma7"))
    }),

    // Funnel TIME-TO-CONVERT distribution — q261 counts who converts;
    // this measures HOW FAST: per user, the signup→view and
    // view→purchase latencies (within the funnel windows) in exact
    // integer minutes, then exact p50/p90 over each leg. Keyed joins +
    // one grouped percentile — no corpus window.
    "q365_funnel_latency" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val v0 = ev.filter(col("event_type") === "view").as("v")
        .join(s0, Seq("user_id"))
        .filter(col("ts") > col("t_signup") &&
          col("ts") <= col("t_signup") + expr("interval 7 days"))
        .groupBy(col("user_id"), col("t_signup"))
        .agg(min(col("ts")).as("t_view"))
      val p0 = ev.filter(col("event_type") === "purchase").as("p")
        .join(v0, Seq("user_id"))
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("interval 7 days"))
        .groupBy(col("user_id"), col("t_signup"), col("t_view"))
        .agg(min(col("ts")).as("t_purchase"))
      val lat = p0.select(
        ((unix_micros(col("t_view")) - unix_micros(col("t_signup")))
          / 60000000L).cast("long").as("m_to_view"),
        ((unix_micros(col("t_purchase")) - unix_micros(col("t_view")))
          / 60000000L).cast("long").as("m_to_purchase"))
      lat.agg(count(lit(1)).as("n_converted"),
        percentile(col("m_to_view"), lit(0.5)).as("p50_to_view"),
        percentile(col("m_to_view"), lit(0.9)).as("p90_to_view"),
        percentile(col("m_to_purchase"), lit(0.5)).as("p50_to_buy"),
        percentile(col("m_to_purchase"), lit(0.9)).as("p90_to_buy"))
    }),

    // Period-over-period report (the WoW dashboard): daily revenue per
    // event_type with the same-weekday-last-week comparison and the
    // change in exact integer ppm. One lag-7 window over the bounded
    // day grain per series.
    "q366_wow_report" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("rev_cents"))
        .withColumn("rev_lw", lag(col("rev_cents"), 7).over(w))
        .filter(col("rev_lw").isNotNull)
        .select(col("event_type"), col("day"), col("rev_cents"),
          col("rev_lw"),
          expr("(rev_cents - rev_lw) * 1000000 DIV rev_lw")
            .as("wow_change_ppm"))
    }),

    // RFM segmentation — the CRM staple: per user Recency (days since
    // last event), Frequency (events), Monetary (exact cents); each
    // scored 1-3 by exact tercile boundaries from ExactSelection (no
    // global ntile window — the q343 decile recipe), then the 27-cell
    // segment census. Ties fall to the lower score on both engines.
    "q367_rfm_segments" -> ((s, d) => {
      val perUser = graft.Stage(t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(datediff(lit("2024-03-01").cast("date"),
            max(col("ts")).cast("date")).cast("long").as("r"),
          count(lit(1)).as("f"),
          sum(floor(col("value") * 100).cast("long")).as("m")),
        "q367_user")
      val n = perUser.count()
      val ks = Seq((n + 2) / 3, (2 * n + 2) / 3)
      def score(cn: String, invert: Boolean) = {
        val Seq(b1, b2) = ExactSelection
          .kthAll(perUser, cn, ks).map(_.value)
        val raw = lit(1) + when(col(cn) > b1, 1).otherwise(0) +
          when(col(cn) > b2, 1).otherwise(0)
        if (invert) lit(4) - raw else raw // recency: lower is better
      }
      perUser
        .withColumn("r_score", score("r", invert = true))
        .withColumn("f_score", score("f", invert = false))
        .withColumn("m_score", score("m", invert = false))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("m")).as("segment_cents"))
    }),

    // Funnel drop-off (the negation q261 omits): users who VIEWED after
    // signup but did NOT purchase within the window — an anti-join on
    // the converted set — plus the drop-off rate in exact ppm. The
    // "where do we lose them" report.
    "q368_funnel_dropoff" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val v0 = ev.filter(col("event_type") === "view").as("v")
        .join(s0, Seq("user_id"))
        .filter(col("ts") > col("t_signup") &&
          col("ts") <= col("t_signup") + expr("interval 7 days"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val converted = ev.filter(col("event_type") === "purchase").as("p")
        .join(v0, Seq("user_id"))
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("interval 7 days"))
        .select(col("user_id")).distinct()
      val dropped = v0.join(converted, Seq("user_id"), "left_anti")
      dropped.agg(count(lit(1)).as("n_dropped"))
        .crossJoin(broadcast(v0.agg(count(lit(1)).as("n_viewed"))))
        .select(col("n_dropped"), col("n_viewed"),
          expr("n_dropped * 1000000 DIV n_viewed").as("dropoff_ppm"))
    }),

    // Longest consecutive-day activity streak per user — gaps-and-
    // islands on the distinct-day grid (day − dense day-index is
    // constant within a streak): per-user windows over bounded day
    // rows, then the corpus rollup (max streak, users with 7+ day
    // streaks). The engagement metric every product dashboard ships.
    "q369_activity_streaks" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("dayn"))
      val days = t(s, d, "events")
        .select(col("user_id"),
          unix_date(date_trunc("day", col("ts")).cast("date"))
            .cast("long").as("dayn"))
        .distinct()
      val streaks = days
        .withColumn("grp", col("dayn") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("max_streak"))
      streaks.agg(count(lit(1)).as("n_users"),
        max(col("max_streak")).as("longest_streak"),
        sum(when(col("max_streak") >= 7, 1L).otherwise(0L))
          .as("n_weekly_streakers"),
        expr("sum(max_streak) DIV count(*)").as("mean_streak_floor"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q280_ts_feature_matrix" ->
      """WITH daily0 AS (
           SELECT event_type, date_trunc('day', ts::TIMESTAMP)::TIMESTAMP
                    AS day,
                  sum((value::DECIMAL(14,2) * 100)::BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily0),
         spine AS (
           SELECT t.event_type, unnest(generate_series(b.d0, b.d1,
             INTERVAL 1 DAY))::TIMESTAMP AS day
           FROM (SELECT DISTINCT event_type FROM daily0) t, bounds b),
         daily AS (
           SELECT s.event_type, s.day, coalesce(d.cents, 0) AS cents
           FROM spine s LEFT JOIN daily0 d
             ON d.event_type = s.event_type AND d.day = s.day),
         feat AS (
           SELECT event_type, day, cents,
                  lag(cents, 1) OVER w AS lag1,
                  lag(cents, 7) OVER w AS lag7,
                  count(cents) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7,
                  sum(cents) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sum7
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day))
         SELECT event_type, day,
                round(cents / 100.0, 2) AS y,
                round(lag1 / 100.0, 2) AS x_lag1,
                round(lag7 / 100.0, 2) AS x_lag7,
                round(sum7 / 7.0 / 100.0, 4) AS x_ma7
         FROM feat
         WHERE lag1 IS NOT NULL AND lag7 IS NOT NULL AND n7 = 7""",
    // Volume-anomaly detection: hourly event counts per type, flagged
    // when a bucket exceeds mean + 3*stddev of its type's distribution.
    // Counts are integers, so mean/std derive from exact integer sums
    // (sum, sum-of-squares) and the z-test is one fixed double chain —
    // the q267 discipline pointed at ops monitoring. Two aggregates
    // (bucket rollup, per-type moments) + a join back.
    "q270_anomaly_hours" ->
      """WITH buckets AS (
           SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
                  count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         moments AS (
           SELECT event_type, count(*)::BIGINT AS k,
                  sum(n)::BIGINT AS s, sum(n * n)::BIGINT AS ss
           FROM buckets GROUP BY event_type)
         SELECT b.event_type, b.h, b.n,
                round(m.s / m.k, 4) AS mean_n,
                round(m.s / m.k + 3.0 * sqrt(
                  (m.ss - m.s * m.s / m.k) / (m.k - 1)), 4) AS threshold
         FROM buckets b JOIN moments m ON m.event_type = b.event_type
         WHERE b.n > m.s / m.k + 3.0 * sqrt(
           (m.ss - m.s * m.s / m.k) / (m.k - 1))""",
    "q271_erasure_audit" ->
      """WITH erase AS (
           SELECT DISTINCT user_id FROM events
           WHERE ('0x' || substr(md5('gdpr:' || user_id), 1, 15))::BIGINT
             % 10 = 0),
         post AS (
           SELECT e.* FROM events e
           WHERE e.user_id NOT IN (SELECT user_id FROM erase))
         SELECT (SELECT count(*) FROM erase)::BIGINT AS n_users_erased,
                (SELECT count(*) FROM events)::BIGINT AS n_events_before,
                (SELECT count(*) FROM post)::BIGINT AS n_events_left,
                ((SELECT count(*) FROM events)
                 - (SELECT count(*) FROM post))::BIGINT AS n_events_removed,
                (SELECT count(*) FROM post
                 WHERE ('0x' || substr(md5('gdpr:' || user_id), 1, 15))
                   ::BIGINT % 10 = 0)::BIGINT AS residual_events""",
    "q260_resample_gapfill" ->
      s"""WITH obs AS (
            SELECT date_trunc('hour', ts)::TIMESTAMP AS oh,
                   sum(value::DECIMAL(14,2)) AS sv, count(*) AS n
            FROM events WHERE event_type = 'view' GROUP BY 1),
          bounds AS (SELECT min(oh) AS h0, max(oh) AS h1 FROM obs),
          spine AS (
            SELECT unnest(generate_series(h0, h1,
              INTERVAL 1 HOUR))::TIMESTAMP AS h FROM bounds),
          served AS (
            SELECT oh, sv, n,
                   (epoch(oh) // ${BAND_H * 3600L})::BIGINT AS b FROM obs
            UNION ALL
            SELECT oh, sv, n,
                   (epoch(oh) // ${BAND_H * 3600L})::BIGINT + 1 FROM obs),
          cand AS (
            SELECT s.h, v.oh, v.sv, v.n
            FROM spine s LEFT JOIN served v
              ON v.b = (epoch(s.h) // ${BAND_H * 3600L})::BIGINT
             AND v.oh <= s.h),
          lastv AS (
            SELECT h, max(oh) AS last_obs_h, arg_max(sv, oh) AS sv,
                   arg_max(n, oh) AS n
            FROM cand GROUP BY h)
          SELECT h, last_obs_h,
                 coalesce(last_obs_h = h, false) AS observed,
                 CASE WHEN n IS NOT NULL
                      THEN round(sv::DOUBLE / n, 4) END AS filled_avg
          FROM lastv""",
    // Funnel conversion: signup -> view within 7 days -> purchase
    // within 7 days of that view, per user, each stage anchored at the
    // EARLIEST qualifying event (min-aggregate semantics, so the result
    // is order-independent). Three per-user aggregates chained by two
    // hash joins on user_id; one output row of stage counts + rates.
    "q261_funnel" ->
      """WITH s0 AS (
           SELECT user_id, min(ts::TIMESTAMP) AS t_signup FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
         v0 AS (
           SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_view
           FROM events e JOIN s0 ON s0.user_id = e.user_id
           WHERE e.event_type = 'view' AND e.ts::TIMESTAMP > s0.t_signup
             AND e.ts::TIMESTAMP <= s0.t_signup + INTERVAL 7 DAY
           GROUP BY e.user_id),
         p0 AS (
           SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_purchase
           FROM events e JOIN v0 ON v0.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > v0.t_view
             AND e.ts::TIMESTAMP <= v0.t_view + INTERVAL 7 DAY
           GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM s0)::BIGINT AS n_signup,
                (SELECT count(*) FROM v0)::BIGINT AS n_view7,
                (SELECT count(*) FROM p0)::BIGINT AS n_purchase7,
                round((SELECT count(*) FROM v0)
                  / (SELECT count(*) FROM s0), 4) AS view_rate,
                round((SELECT count(*) FROM p0)
                  / (SELECT count(*) FROM v0), 4) AS purchase_rate""",
    "q262_cohort_retention" ->
      """WITH first_e AS (
           SELECT user_id,
                  date_trunc('week', min(ts::TIMESTAMP))::TIMESTAMP
                    AS cohort_week
           FROM events GROUP BY user_id)
         SELECT f.cohort_week,
                (date_diff('day', f.cohort_week,
                  date_trunc('week', e.ts::TIMESTAMP)) // 7)::INT AS week_offset,
                count(DISTINCT e.user_id)::BIGINT AS active_users
         FROM events e JOIN first_e f ON f.user_id = e.user_id
         GROUP BY 1, 2""",
    "q266_attribution" ->
      """WITH packed AS (
           SELECT user_id, ts, event_id, event_type, value,
                  last_value(CASE WHEN event_type <> 'purchase'
                      THEN epoch_us(ts::TIMESTAMP) || '|' || event_type
                      END IGNORE NULLS)
                  OVER (PARTITION BY user_id
                    ORDER BY ts::TIMESTAMP, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS src
           FROM events),
         attributed AS (
           SELECT value,
                  CASE WHEN src IS NOT NULL AND
                    epoch_us(ts::TIMESTAMP)
                      - string_split(src, '|')[1]::BIGINT
                      <= 24::BIGINT * 3600 * 1000000
                   THEN string_split(src, '|')[2] ELSE 'none' END
                    AS attributed_to
           FROM packed WHERE event_type = 'purchase')
         SELECT attributed_to, count(*)::BIGINT AS n_purchases,
                round(sum(value::DECIMAL(14,2))::DOUBLE, 2) AS total_value
         FROM attributed GROUP BY attributed_to""",
    "q329_ratio_to_report" ->
      """WITH rev AS (
           SELECT n_name,
                  sum((o_totalprice::DECIMAL(14,2) * 100)::BIGINT)
                    AS rev_cents,
                  count(*) AS n_orders
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1),
         tot AS (SELECT sum(rev_cents) AS t FROM rev)
         SELECT n_name, n_orders::BIGINT AS n_orders,
                rev_cents::BIGINT AS rev_cents,
                (rev_cents * 1000000 // (SELECT t FROM tot))::BIGINT
                  AS share_ppm,
                row_number() OVER (ORDER BY rev_cents DESC, n_name)
                  ::INT AS rev_rank
         FROM rev""",
    "q324_bot_regularity" ->
      """WITH real_e AS (
           SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus,
                  event_id AS eid
           FROM events),
         bots AS (
           SELECT 900001 + u AS user_id,
                  1577836800000000 + u * 3600000000
                    + k * 60000000 AS tus,
                  k + 1000000000 AS eid
           FROM (SELECT unnest(range(0, 5)) AS u),
                (SELECT unnest(range(0, 50)) AS k)),
         allev AS (
           SELECT * FROM real_e UNION ALL SELECT * FROM bots),
         dgaps AS (
           SELECT user_id,
                  tus - lag(tus) OVER (PARTITION BY user_id
                    ORDER BY tus, eid) AS dg
           FROM allev),
         gaps AS (
           -- filter the NULL first-row lag BEFORE least(): DuckDB's
           -- least() skips NULLs rather than propagating them
           SELECT user_id, least(dg // 1000000, 86400) AS g
           FROM dgaps WHERE dg IS NOT NULL),
         st AS (
           SELECT user_id, count(*) AS n_gaps, sum(g) AS sg,
                  sum(g * g) AS sg2
           FROM gaps GROUP BY 1)
         SELECT user_id, n_gaps::BIGINT AS n_gaps,
                (sg // n_gaps)::BIGINT AS mean_gap_s
         FROM st
         WHERE n_gaps >= 20
           AND (n_gaps * sg2 - sg * sg) * 100 < sg * sg""",
    "q322_multitouch_attribution" ->
      """WITH purch AS (
           SELECT user_id, event_id AS pid,
                  epoch_us(ts::TIMESTAMP) AS pts
           FROM events WHERE event_type = 'purchase'),
         touch AS (
           SELECT user_id, event_type AS channel, event_id AS tid,
                  epoch_us(ts::TIMESTAMP) AS tts
           FROM events WHERE event_type <> 'purchase'),
         j AS (
           SELECT p.pid, t.channel, t.tid, t.tts
           FROM purch p JOIN touch t ON p.user_id = t.user_id
           WHERE t.tts < p.pts
             AND p.pts - t.tts <= 24::BIGINT * 3600 * 1000000),
         pos AS (
           SELECT pid, channel,
                  row_number() OVER (PARTITION BY pid
                    ORDER BY tts, tid) AS rn,
                  count(*) OVER (PARTITION BY pid) AS nt
           FROM j),
         credited AS (
           SELECT pid, channel,
                  CASE WHEN nt = 1 THEN 1000000
                       WHEN nt = 2 THEN 500000
                       WHEN rn = 1 OR rn = nt THEN 400000
                       ELSE 200000 // (nt - 2) END AS credit_ppm
           FROM pos)
         SELECT channel,
                sum(credit_ppm)::BIGINT AS credit_ppm_total,
                count(DISTINCT pid)::BIGINT AS n_purchases_touched,
                count(*)::BIGINT AS n_touches
         FROM credited GROUP BY channel""",
    "q267_ab_test" ->
      """WITH per AS (
           SELECT user_id,
                  sum(CASE WHEN event_type = 'purchase'
                       THEN (value::DECIMAL(14,2) * 100)::BIGINT
                       ELSE 0 END) AS cents
           FROM events GROUP BY user_id),
         armd AS (
           SELECT cents, cents * cents AS c2,
                  CASE WHEN ('0x' || substr(md5('ab:' || user_id), 1, 15))
                         ::BIGINT % 2 = 0
                       THEN 'A' ELSE 'B' END AS arm
           FROM per),
         stats AS (
           SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT
                    AS n_a,
                  sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT
                    AS n_b,
                  sum(CASE WHEN arm = 'A' THEN cents ELSE 0 END)::BIGINT
                    AS s_a,
                  sum(CASE WHEN arm = 'B' THEN cents ELSE 0 END)::BIGINT
                    AS s_b,
                  sum(CASE WHEN arm = 'A' THEN c2 ELSE 0 END)::BIGINT
                    AS ss_a,
                  sum(CASE WHEN arm = 'B' THEN c2 ELSE 0 END)::BIGINT
                    AS ss_b
           FROM armd)
         SELECT n_a, n_b,
                round(s_a / n_a / 100.0, 4) AS mean_a,
                round(s_b / n_b / 100.0, 4) AS mean_b,
                round((ss_a - s_a * s_a / n_a) / (n_a - 1) / 10000.0, 4)
                  AS var_a,
                round((ss_b - s_b * s_b / n_b) / (n_b - 1) / 10000.0, 4)
                  AS var_b,
                round((s_a / n_a / 100.0 - s_b / n_b / 100.0)
                  / sqrt((ss_a - s_a * s_a / n_a) / (n_a - 1) / 10000.0
                           / n_a
                         + (ss_b - s_b * s_b / n_b) / (n_b - 1) / 10000.0
                           / n_b), 4) AS t_stat
         FROM stats""",
    // Event-transition statistics (first-order Markov): consecutive
    // event pairs per user ordered by (ts, event_id) — the per-user
    // LAG window of q20 pointed at path analysis — rolled up to
    // transition counts and per-source probabilities.
    "q263_event_transitions" ->
      """WITH seq AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts::TIMESTAMP, event_id) AS prev_type
           FROM events),
         pairs AS (
           SELECT prev_type, event_type, count(*)::BIGINT AS n
           FROM seq WHERE prev_type IS NOT NULL
           GROUP BY prev_type, event_type),
         totals AS (
           SELECT prev_type, sum(n)::BIGINT AS tot FROM pairs
           GROUP BY prev_type)
         SELECT p.prev_type, p.event_type, p.n, round(p.n / t.tot, 4) AS p
         FROM pairs p JOIN totals t ON t.prev_type = p.prev_type""",
    "q365_funnel_latency" ->
      """WITH ev AS (
           SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
         s0 AS (
           SELECT user_id, min(ts) AS t_signup FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
         v0 AS (
           SELECT v.user_id, s0.t_signup, min(v.ts) AS t_view
           FROM ev v JOIN s0 USING (user_id)
           WHERE v.event_type = 'view' AND v.ts > s0.t_signup
             AND v.ts <= s0.t_signup + INTERVAL 7 DAY
           GROUP BY v.user_id, s0.t_signup),
         p0 AS (
           SELECT p.user_id, v0.t_signup, v0.t_view,
                  min(p.ts) AS t_purchase
           FROM ev p JOIN v0 USING (user_id)
           WHERE p.event_type = 'purchase' AND p.ts > v0.t_view
             AND p.ts <= v0.t_view + INTERVAL 7 DAY
           GROUP BY p.user_id, v0.t_signup, v0.t_view),
         lat AS (
           SELECT ((epoch_us(t_view) - epoch_us(t_signup)) // 60000000)
                    ::BIGINT AS m_to_view,
                  ((epoch_us(t_purchase) - epoch_us(t_view)) // 60000000)
                    ::BIGINT AS m_to_purchase
           FROM p0)
         SELECT count(*)::BIGINT AS n_converted,
                quantile_cont(m_to_view, 0.5) AS p50_to_view,
                quantile_cont(m_to_view, 0.9) AS p90_to_view,
                quantile_cont(m_to_purchase, 0.5) AS p50_to_buy,
                quantile_cont(m_to_purchase, 0.9) AS p90_to_buy
         FROM lat""",
    "q366_wow_report" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  -- ::BIGINT is load-bearing: DuckDB's sum(BIGINT) is
                  -- HUGEINT, which pandas renders float64 and the
                  -- driver hash then diverges from Spark's int64
                  -- (round-8 q366 red).
                  sum(floor(value * 100)::BIGINT)::BIGINT AS rev_cents
           FROM events GROUP BY 1, 2),
         lagged AS (
           SELECT event_type, day, rev_cents,
                  lag(rev_cents, 7) OVER (PARTITION BY event_type
                    ORDER BY day) AS rev_lw
           FROM daily)
         SELECT event_type, day, rev_cents, rev_lw,
                ((rev_cents - rev_lw) * 1000000 // rev_lw)::BIGINT
                  AS wow_change_ppm
         FROM lagged WHERE rev_lw IS NOT NULL""",
    "q367_rfm_segments" ->
      """WITH per AS (
           SELECT user_id,
                  date_diff('day', max(ts::TIMESTAMP)::DATE,
                    DATE '2024-03-01')::BIGINT AS r,
                  count(*)::BIGINT AS f,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS m
           FROM events GROUP BY user_id),
         nn AS (SELECT count(*) AS n FROM per),
         b AS (
           SELECT
             (SELECT r FROM (SELECT r, row_number() OVER (ORDER BY r)
                AS rn FROM per) WHERE rn = ((SELECT n FROM nn)+2)//3)
               AS r1,
             (SELECT r FROM (SELECT r, row_number() OVER (ORDER BY r)
                AS rn FROM per) WHERE rn = (2*(SELECT n FROM nn)+2)//3)
               AS r2,
             (SELECT f FROM (SELECT f, row_number() OVER (ORDER BY f)
                AS rn FROM per) WHERE rn = ((SELECT n FROM nn)+2)//3)
               AS f1,
             (SELECT f FROM (SELECT f, row_number() OVER (ORDER BY f)
                AS rn FROM per) WHERE rn = (2*(SELECT n FROM nn)+2)//3)
               AS f2,
             (SELECT m FROM (SELECT m, row_number() OVER (ORDER BY m)
                AS rn FROM per) WHERE rn = ((SELECT n FROM nn)+2)//3)
               AS m1,
             (SELECT m FROM (SELECT m, row_number() OVER (ORDER BY m)
                AS rn FROM per) WHERE rn = (2*(SELECT n FROM nn)+2)//3)
               AS m2),
         scored AS (
           SELECT (4 - (1 + CASE WHEN r > b.r1 THEN 1 ELSE 0 END
                          + CASE WHEN r > b.r2 THEN 1 ELSE 0 END))::INT
                    AS r_score,
                  (1 + CASE WHEN f > b.f1 THEN 1 ELSE 0 END
                     + CASE WHEN f > b.f2 THEN 1 ELSE 0 END)::INT
                    AS f_score,
                  (1 + CASE WHEN m > b.m1 THEN 1 ELSE 0 END
                     + CASE WHEN m > b.m2 THEN 1 ELSE 0 END)::INT
                    AS m_score,
                  m
           FROM per, b)
         SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_users,
                sum(m)::BIGINT AS segment_cents
         FROM scored GROUP BY 1, 2, 3""",
    "q368_funnel_dropoff" ->
      """WITH ev AS (
           SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
         s0 AS (
           SELECT user_id, min(ts) AS t_signup FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
         v0 AS (
           SELECT v.user_id, min(v.ts) AS t_view
           FROM ev v JOIN s0 USING (user_id)
           WHERE v.event_type = 'view' AND v.ts > s0.t_signup
             AND v.ts <= s0.t_signup + INTERVAL 7 DAY
           GROUP BY v.user_id),
         conv AS (
           SELECT DISTINCT p.user_id
           FROM ev p JOIN v0 USING (user_id)
           WHERE p.event_type = 'purchase' AND p.ts > v0.t_view
             AND p.ts <= v0.t_view + INTERVAL 7 DAY)
         SELECT (SELECT count(*) FROM v0
                 WHERE user_id NOT IN (SELECT user_id FROM conv))
                  ::BIGINT AS n_dropped,
                (SELECT count(*) FROM v0)::BIGINT AS n_viewed,
                ((SELECT count(*) FROM v0
                  WHERE user_id NOT IN (SELECT user_id FROM conv))
                  * 1000000 // (SELECT count(*) FROM v0))::BIGINT
                  AS dropoff_ppm""",
    "q369_activity_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
                  date_diff('day', DATE '1970-01-01',
                    date_trunc('day', ts::TIMESTAMP)::DATE)::BIGINT
                    AS dayn
           FROM events),
         g AS (
           SELECT user_id, dayn,
                  dayn - row_number() OVER (PARTITION BY user_id
                    ORDER BY dayn) AS grp
           FROM days),
         runs AS (
           SELECT user_id, grp, count(*)::BIGINT AS len
           FROM g GROUP BY user_id, grp),
         per AS (
           SELECT user_id, max(len) AS max_streak FROM runs
           GROUP BY user_id)
         SELECT count(*)::BIGINT AS n_users,
                max(max_streak)::BIGINT AS longest_streak,
                sum(CASE WHEN max_streak >= 7 THEN 1 ELSE 0 END)::BIGINT
                  AS n_weekly_streakers,
                (sum(max_streak) // count(*))::BIGINT
                  AS mean_streak_floor
         FROM per"""
  )
}
