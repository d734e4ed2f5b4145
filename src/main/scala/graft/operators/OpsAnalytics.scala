package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Round-9 batch A (q372-q376): k-fold cross-validation with
  * closed-form per-fold OLS, event-sequence perplexity under a
  * first-order Markov model, probability-calibration reliability bins
  * (Brier / per-bin confidence vs accuracy), Kaplan-Meier survival over
  * user lifetimes with right-censoring, and rendezvous-hash shard
  * assignment with rebalancing cost. All hash-gated vs DuckDB; every
  * randomized step uses the engine-independent Knuth multiplicative
  * hash recipe (q168) so the oracle replays it exactly.
  */
object OpsAnalytics {

  type Q = (SparkSession, String) => DataFrame

  /** Knuth multiplicative hash on a BIGINT key -> [0, 2^32): the
    * engine-portable determinism recipe shared with q168/q183.
    */
  private def knuth(key: org.apache.spark.sql.Column) =
    (key.bitwiseAND(lit(2147483647L)) * lit(2654435761L)) % lit(4294967296L)

  val queries: Seq[(String, Q)] = Seq(

    // Event-sequence perplexity under a first-order Markov model — the
    // sequence analogue of q247's unigram surprise: global transition
    // probabilities with add-one smoothing over the event-type
    // vocabulary, then each user's mean negative log2 transition
    // probability. Bot/anomaly screening signal (too-predictable or
    // too-random sessions). Plan: per-user lag windows (bounded by the
    // user's own history), a V^2-row transition table broadcast back,
    // one aggregate — the corpus never shuffles twice.
    "q373_seq_perplexity" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // Staged: three consumers (vocab, transition counts, the final
      // per-user join) would otherwise each replay the corpus lag
      // window.
      val steps = graft.Stage(t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .filter(col("nxt").isNotNull), "q373_steps")
      val vocab = steps.agg(countDistinct(col("cur")).as("v"))
      val trans = steps.groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).as("c"))
      val outdeg = trans.groupBy(col("cur")).agg(sum(col("c")).as("tot"))
      val probs = trans.join(outdeg, "cur").crossJoin(broadcast(vocab))
        .select(col("cur"), col("nxt"),
          ((col("c") + 1).cast("double")
            / (col("tot") + col("v"))).as("p"))
      steps.join(broadcast(probs), Seq("cur", "nxt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_steps"),
          round(avg(-log2(col("p"))), 4).as("avg_nll"))
        .orderBy(col("avg_nll").desc, col("user_id")).limit(20)
    }),

    // Probability-calibration reliability diagram + Brier score — the
    // classifier-eval staple q343-q346 omit: 10 equal-width confidence
    // bins, per-bin mean confidence vs observed positive rate (the ECE
    // summands) and the global Brier score on every row. The
    // "prediction" is a deterministic hash-derived pseudo-probability
    // and the label its thresholded value, so both engines replay the
    // exact same score stream. One scan, one 10-row aggregate.
    "q374_calibration_bins" -> ((s, d) => {
      val scored = t(s, d, "events").select(
        (knuth(col("event_id")).cast("double") / 4294967296.0).as("p"),
        when(col("value") >= 100.0, 1.0).otherwise(0.0).as("y"))
      scored
        .groupBy(least(floor(col("p") * 10), lit(9L)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("p")), 4).as("conf"),
          round(avg(col("y")), 4).as("acc"),
          round(avg((col("p") - col("y")) * (col("p") - col("y"))), 4)
            .as("brier"))
        .orderBy(col("bin"))
    }),

    // Kaplan-Meier survival estimator — time-to-event with RIGHT
    // CENSORING, which q262's cohort grid cannot express: duration =
    // days from a user's first event to their first high-value
    // purchase (value >= 150); users who never reach one are censored
    // at the observation horizon, contributing to the risk sets but
    // never to the death counts. Durations are day-grain, so the risk
    // table is calendar-bounded: the cumulative product
    // S(t) = prod(1 - d/n) runs as one window over the <=60-row
    // duration aggregate (the q358 bounded-day-grain pattern), never
    // over the corpus.
    "q375_kaplan_meier" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("event_type"), col("value"))
      val horizon = ev.agg(max(col("day")).as("end_day"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"),
          min(when(col("event_type") === "purchase" &&
            col("value") >= 150.0, col("day"))).as("conv_day"))
        .crossJoin(broadcast(horizon))
        .select(
          datediff(coalesce(col("conv_day"), col("end_day")),
            col("first_day")).cast("long").as("life"),
          col("conv_day").isNull.as("censored"))
      val byLife = users.groupBy(col("life"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(!col("censored"), 1L).otherwise(0L)).as("d"))
      val wOrd = Window.orderBy(col("life"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byLife
        .withColumn("n_risk",
          sum(col("n_total")).over(
            Window.orderBy(col("life"))
              .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .withColumn("surv",
          exp(sum(log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .over(wOrd)))
        .filter(col("d") > 0)
        .select(col("life"), col("n_risk"), col("d"),
          round(col("surv"), 4).as("survival"))
        .orderBy(col("life"))
    }),

    // Rendezvous (highest-random-weight) sharding + rebalancing cost —
    // the data-ops operator behind consistent shard assignment at
    // 100 TB: each doc picks the shard with the highest portable hash
    // weight; growing the ring 8 -> 9 shards moves only the docs whose
    // new shard wins (HRW's ~1/9 movement optimum, vs ~8/9 for mod-N).
    // The argmax runs as a codegen'd higher-order fold per row — a pure
    // projection, zero shuffle before the 8-row rollup.
    "q376_rendezvous_sharding" -> ((s, d) => {
      def pick(nShards: Int) =
        s"""aggregate(sequence(0L, ${nShards - 1}L),
              named_struct('s', -1L, 'w', -1L),
              (acc, x) -> CASE WHEN
                  (doc_id * 31 + x) % 2147483648L * 2654435761L
                    % 4294967296L > acc.w
                THEN named_struct('s', x,
                  'w', (doc_id * 31 + x) % 2147483648L * 2654435761L
                    % 4294967296L)
                ELSE acc END).s"""
      t(s, d, "documents").select(col("doc_id"),
          expr(pick(8)).as("shard_old"), expr(pick(9)).as("shard_new"))
        .groupBy(col("shard_old").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard_old") =!= col("shard_new"), 1L)
            .otherwise(0L)).as("n_moved"))
        .orderBy(col("shard"))
    }),

    // Ranking-quality eval — recall@10 / MRR / NDCG@10 per query, the
    // retrieval metrics the RRF/BM25/ANN family (q167/q251/q99) is
    // tuned BY but round 1-8 never measured. Relevance is label match;
    // the ranking is the exact brute-force cosine baseline over a
    // BOUNDED query sample (every 25th vector — eval runs on samples,
    // the corpus-side scale path stays q99's IVF). Binary-gain NDCG
    // with the ideal DCG as a closed-form fold over min(10, n_rel).
    "q377_ranking_eval" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // vec_id < 2500 caps the eval set at a FIXED <=100 queries: an
      // eval sample must not grow with the corpus (sf1 ScaleRun showed
      // the %25 filter alone going quadratic — 482 MB shuffle).
      val qs = broadcast(emb.filter(col("vec_id") % 25 === 0 &&
        col("vec_id") < 2500)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label")))
      val ranked = emb.crossJoin(qs)
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("label"),
          graft.functions.GraftFunctions
            .cosine_similarity(col("embedding"), col("q_emb")).as("sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("sim").desc, col("vec_id").asc)))
        .withColumn("rel", (col("label") === col("q_label")).cast("int"))
      ranked.groupBy(col("q_id"))
        .agg(sum(col("rel")).cast("long").as("n_rel"),
          sum(when(col("rnk") <= 10, col("rel")).otherwise(0)).cast("long")
            .as("rel_at_10"),
          min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
          sum(when(col("rnk") <= 10 && col("rel") === 1,
            lit(1.0) / log2(col("rnk") + 1)).otherwise(0.0)).as("dcg"))
        .filter(col("n_rel") > 0)
        .select(col("q_id"), col("n_rel"),
          round(col("rel_at_10").cast("double") / col("n_rel"), 4)
            .as("recall10"),
          round(lit(1.0) / col("first_rel"), 4).as("mrr"),
          round(col("dcg") / expr(
            """aggregate(sequence(1L, least(10L, n_rel)), 0.0D,
                 (a, i) -> a + 1.0D / log2(double(i) + 1.0D))"""), 4)
            .as("ndcg10"))
        .orderBy(col("q_id"))
    }),

    // Weight-of-evidence encoding + information value — the credit-
    // scoring feature transform (per-category ln(P(cat|pos)/P(cat|neg))
    // with 0.5 smoothing) that turns a high-cardinality categorical
    // into one monotone numeric column. One grouped aggregate over the
    // category dimension; totals ride a broadcast. The class totals are
    // +1-smoothed too so an all-one-class label (possible at tiny scale
    // factors) stays defined instead of dividing by zero.
    // Kept over its oracle SQL: through the engine the SQL rounds a
    // decimal quotient before ln, one unit off DuckDB on some seeds.
    "q379_woe_encoding" -> ((s, d) => {
      val rows = t(s, d, "part").select(col("p_brand"),
        when(col("p_retailprice") > 950.0, 1L).otherwise(0L).as("y"))
      val tot = rows.agg((sum(col("y")) + 1.0).as("pos_tot"),
        (sum(lit(1L) - col("y")) + 1.0).as("neg_tot"))
      rows.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .crossJoin(broadcast(tot))
        .select(col("p_brand"), col("n"), col("pos"),
          round(log(((col("pos") + 0.5) / col("pos_tot"))
            / ((col("n") - col("pos") + 0.5) / col("neg_tot"))), 4)
            .as("woe"),
          round((col("pos").cast("double") / col("pos_tot")
            - (col("n") - col("pos")).cast("double") / col("neg_tot"))
            * log(((col("pos") + 0.5) / col("pos_tot"))
              / ((col("n") - col("pos") + 0.5) / col("neg_tot"))), 4)
            .as("iv_term"))
        .orderBy(col("p_brand"))
    }),

    // Blocking-quality audit for record linkage — the metrics that
    // justify q350's blocked-pairs design at 100 TB: REDUCTION RATIO
    // (candidate pairs vs the quadratic all-pairs space, from block
    // sizes alone — never materializing a pair) and PAIR COMPLETENESS
    // (fraction of ground-truth matches, the consecutive-key pairs of
    // the q350 convention, that share a block). Integer ppm outputs.
    "q381_blocking_quality" -> ((s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"),
        expr("p_size DIV 10").as("size_band"))
      val blocks = p.groupBy(col("p_brand"), col("size_band"))
        .agg(count(lit(1)).as("bn"))
      val blockStats = blocks.agg(count(lit(1)).as("n_blocks"),
        sum(expr("bn * (bn - 1) DIV 2")).as("cand_pairs"),
        sum(col("bn")).as("nrows"))
      val truth = p.as("a").join(p.as("b"),
        col("b.p_partkey") === col("a.p_partkey") + 1)
      val truthStats = truth.agg(count(lit(1)).as("n_true"),
        sum(when(col("a.p_brand") === col("b.p_brand") &&
          col("a.size_band") === col("b.size_band"), 1L)
          .otherwise(0L)).as("n_coblocked"))
      blockStats.crossJoin(truthStats).select(
        col("n_blocks"), col("cand_pairs"), col("n_true"),
        col("n_coblocked"),
        expr("""(nrows * (nrows - 1) DIV 2 - cand_pairs) * 1000000
                DIV (nrows * (nrows - 1) DIV 2)""").as("reduction_ppm"),
        expr("n_coblocked * 1000000 DIV n_true")
          .as("pair_completeness_ppm"))
    }),

    // Weekday-seasonality decomposition — the additive model's first
    // rung (series = seasonal(dow) + residual): per event_type, daily
    // revenue is decomposed against per-day-of-week means and the
    // SEASONAL STRENGTH 1 - var(resid)/var(series) reported with the
    // peak weekday. Day-of-week is the engine-portable epoch-day mod 7
    // (Spark's dayofweek is 1-based Sunday, DuckDB's 0-based — the mod
    // avoids the dialect trap), variances are explicit sum-of-squares.
    // Day-grain bounded everywhere; complements q363's Holt trend.
    "q382_seasonal_decompose" -> ((s, d) => {
      // Staged: consumed by both the dow-means build and the residual
      // join.
      val daily = graft.Stage(t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("rev"))
        .withColumn("dow",
          pmod(unix_date(col("day").cast("date")), lit(7))), "q382_daily")
      val dowMeans = daily.groupBy(col("event_type"), col("dow"))
        .agg((sum(col("rev")) / count(lit(1))).as("s"))
      val peak = dowMeans
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("s").desc, col("dow"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("dow").as("peak_dow"))
      daily.join(dowMeans, Seq("event_type", "dow"))
        .select(col("event_type"), col("rev").cast("double").as("x"),
          (col("rev") - col("s")).as("r"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          ((sum(col("x") * col("x")) / count(lit(1)))
            - (sum(col("x")) / count(lit(1)))
            * (sum(col("x")) / count(lit(1)))).as("vx"),
          ((sum(col("r") * col("r")) / count(lit(1)))
            - (sum(col("r")) / count(lit(1)))
            * (sum(col("r")) / count(lit(1)))).as("vr"))
        .join(peak, "event_type")
        .select(col("event_type"), col("n_days"), col("peak_dow"),
          round(lit(1.0) - col("vr") / col("vx"), 4)
            .as("seasonal_strength"))
        .orderBy(col("event_type"))
    }),

    // Per-document content novelty — the "how much NEW text does each
    // source contribute" curve that decides ingest priority: a doc's
    // distinct 5-gram hashes (q188's portable md5-prefix recipe) are
    // novel iff their GLOBAL first occurrence (min doc_id) is this doc.
    // One hash-keyed shuffle for the first-occurrence map, one join
    // back — O(grams), no pairwise comparison, the same incremental
    // shape as the q207 dedup-ingest chain. Reported per source in
    // exact ppm.
    "q384_doc_novelty" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          split(trim(col("text")), "\\s+").as("tk"))
        .filter(size(col("tk")) >= 5)
      // Staged: the first-occurrence map and the novelty join both
      // consume the (doc, gram-hash) set; without staging the explode +
      // distinct shuffle runs twice over the corpus.
      val grams = graft.Stage(docs.select(col("doc_id"), col("source"),
          explode(transform(sequence(lit(0), size(col("tk")) - 5),
            i => concat_ws(" ", slice(col("tk"), i + 1, lit(5))))).as("g"))
        .select(col("doc_id"), col("source"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
            .as("h"))
        .distinct(), "q384_grams")
      val firstDoc = grams.groupBy(col("h"))
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(firstDoc, "h")
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("source"), col("n_docs"), col("n_grams"),
          col("n_novel"),
          expr("n_novel * 1000000 DIV n_grams").as("novelty_ppm"))
        .orderBy(col("source"))
    }),

    // Pairwise Pearson correlation matrix over the numeric lineitem
    // measures — the profiling step feature selection starts from
    // (q288's SUMMARIZE gives univariate moments; this adds the
    // bivariate grid). ONE scan accumulates every sum/cross-sum, the 6
    // pairs unpivot from that single row; correlations use the explicit
    // closed form so neither engine's corr() implementation detail
    // leaks into the gate.
    // Kept over its oracle SQL: 90 vs 157 ms warm at sf0.1 (median, 5 of
    // 5 runs); the body unpivots one aggregate row with stack, the SQL
    // plans six UNION ALL branches over the sums.
    "q385_corr_matrix" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_quantity").cast("double").as("q"),
        col("l_extendedprice").cast("double").as("p"),
        col("l_discount").cast("double").as("di"),
        col("l_tax").cast("double").as("tx"))
      def sums(c: String) = Seq(
        sum(col(c)).as(s"s_$c"), sum(col(c) * col(c)).as(s"ss_$c"))
      val agg = li.agg(count(lit(1)).cast("double").as("n"),
        (sums("q") ++ sums("p") ++ sums("di") ++ sums("tx") ++ Seq(
          sum(col("q") * col("p")).as("c_q_p"),
          sum(col("q") * col("di")).as("c_q_di"),
          sum(col("q") * col("tx")).as("c_q_tx"),
          sum(col("p") * col("di")).as("c_p_di"),
          sum(col("p") * col("tx")).as("c_p_tx"),
          sum(col("di") * col("tx")).as("c_di_tx"))): _*)
      def corrExpr(a: String, b: String) =
        s"""round((n * c_${a}_${b} - s_${a} * s_${b})
             / sqrt((n * ss_${a} - s_${a} * s_${a})
                    * (n * ss_${b} - s_${b} * s_${b})), 4)"""
      agg.selectExpr(
        s"""stack(6,
             'quantity', 'extendedprice', ${corrExpr("q", "p")},
             'quantity', 'discount', ${corrExpr("q", "di")},
             'quantity', 'tax', ${corrExpr("q", "tx")},
             'extendedprice', 'discount', ${corrExpr("p", "di")},
             'extendedprice', 'tax', ${corrExpr("p", "tx")},
             'discount', 'tax', ${corrExpr("di", "tx")})
           AS (col_a, col_b, pearson)""")
        .orderBy(col("col_a"), col("col_b"))
    }),

    // Flesch-style readability scoring — the text-quality dimension the
    // length/stopword heuristics miss: 206.835 - 1.015 (words/sentence)
    // - 84.6 (syllables/word), with syllables approximated by vowel-
    // group counts and sentences by terminal-punctuation runs (both
    // pure regex, replayed verbatim by the oracle). Per-source means
    // plus the hard-to-read fraction in exact ppm. One scan, projection
    // + a dimension-sized rollup.
    "q386_readability" -> ((s, d) => {
      val scored = t(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("double").as("w"),
          greatest(lit(1L),
            regexp_count(col("text"), lit("[.!?]+"))).cast("double")
            .as("sent"),
          regexp_count(lower(col("text")), lit("[aeiouy]+"))
            .cast("double").as("syl"))
        .select(col("source"),
          (lit(206.835) - lit(1.015) * col("w") / col("sent")
            - lit(84.6) * col("syl") / col("w")).as("score"))
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("score")), 4).as("avg_score"),
          expr("""sum(CASE WHEN score < 30 THEN 1L ELSE 0L END)
                  * 1000000 DIV count(*)""").as("hard_ppm"))
        .orderBy(col("source"))
    }),

    // Differential-privacy release MECHANISM (Laplace, eps = 0.5,
    // sensitivity 1) with the noise draw derandomized through the
    // portable hash -> inverse-CDF ladder so both engines release the
    // same value — gating the MECHANISM's plumbing (scale calibration,
    // inverse CDF, per-group independence), while a production
    // deployment would swap the hash for a real RNG. Completes the
    // privacy ladder (q317/q361/q378) with the release step; true
    // counts ride along purely for the gate.
    "q387_dp_release" -> ((s, d) => {
      val counts = t(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      counts.select(col("event_type"), col("n_true"),
          ((conv(substring(md5(col("event_type")), 1, 15), 16, 10)
            .cast("long") % 4294967296L).cast("double")
            / 4294967296.0 - 0.5).as("u"))
        .select(col("event_type"), col("n_true"),
          round(col("n_true") +
            (-signum(col("u")) * lit(2.0)
              * log(lit(1.0) - lit(2.0) * abs(col("u")))), 4)
            .as("released"),
          round(abs(-signum(col("u")) * lit(2.0)
            * log(lit(1.0) - lit(2.0) * abs(col("u")))), 4)
            .as("noise_magnitude"))
        .orderBy(col("event_type"))
    }),

    // Partition-key advisor — the layout decision every 100 TB table
    // gets wrong once: score candidate partition columns by distinct
    // count (file-count explosion), largest-partition share (skew
    // ceiling), and Shannon entropy (balance), then verdict by the
    // standard thresholds. Each candidate costs one dimension-sized
    // aggregate; complements q255 (z-order), q292 (skew), q308
    // (encodings).
    "q388_partition_key_advisor" -> ((s, d) => {
      val ev = t(s, d, "events")
      def profile(name: String, key: org.apache.spark.sql.Column) = {
        val g = ev.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
        g.agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("n"),
            max(col("c")).as("mx"),
            sum(col("c") * log(col("c"))).as("clogc"))
          .select(lit(name).as("candidate"), col("n_distinct"),
            expr("mx * 1000000 DIV n").as("top_share_ppm"),
            round((log(col("n")) - col("clogc") / col("n"))
              / log(lit(2.0)), 4).as("entropy_bits"))
      }
      profile("event_type", col("event_type"))
        .unionByName(profile("user_id", col("user_id")))
        .unionByName(profile("day", date_trunc("day", col("ts"))))
        .select(col("candidate"), col("n_distinct"), col("top_share_ppm"),
          col("entropy_bits"),
          when(col("n_distinct") > 10000, "too_granular")
            .when(col("top_share_ppm") > 500000, "too_skewed")
            .otherwise("ok").as("verdict"))
        .orderBy(col("candidate"))
    }),

    // Incremental statistics maintenance — the optimizer-stats refresh
    // an append pipeline should NEVER pay a full rescan for: per-column
    // count/min/max/sum merge exactly from segment stats, and NDV
    // merges through the q171 mergeable HLL sketches. Both the merged
    // and the recomputed stats are derived here and gated for equality
    // (exact fields) / 2% closeness (NDV), proving the merge identity
    // the 100 TB path relies on. Segments = old (l_orderkey below the
    // split) + delta.
    "q389_stats_merge" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        (col("l_orderkey") >= 30000L).as("is_delta"),
        floor(col("l_quantity")).cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      def seg(cn: String) = li
        .groupBy(col("is_delta"))
        .agg(count(lit(1)).as("n"), min(col(cn)).as("mn"),
          max(col(cn)).as("mx"), sum(col(cn)).as("sm"),
          hll_sketch_agg(col(cn)).as("sk"))
        .agg(sum(col("n")).as("n_m"), min(col("mn")).as("mn_m"),
          max(col("mx")).as("mx_m"), sum(col("sm")).as("sm_m"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("ndv_m"))
        .crossJoin(li.agg(count(lit(1)).as("n_f"),
          min(col(cn)).as("mn_f"), max(col(cn)).as("mx_f"),
          sum(col(cn)).as("sm_f"),
          countDistinct(col(cn)).as("ndv_exact"),
          hll_sketch_estimate(hll_sketch_agg(col(cn))).as("ndv_f")))
        .select(lit(cn).as("column_name"), col("n_f").as("n"),
          col("mn_f").as("mn"), col("mx_f").as("mx"),
          col("sm_f").as("sum_v"), col("ndv_exact"),
          (col("n_m") === col("n_f") && col("mn_m") === col("mn_f") &&
            col("mx_m") === col("mx_f") && col("sm_m") === col("sm_f"))
            .as("merge_exact_ok"),
          (abs(col("ndv_m") - col("ndv_f")).cast("double")
            / col("ndv_f") < 0.02).as("ndv_merge_ok"))
      seg("qty").unionByName(seg("cents")).orderBy(col("column_name"))
    }),

    // Cross-source content-overlap matrix — which corpus segments
    // duplicate each other (the decision input for source-level dedup
    // ordering): distinct 5-gram hashes per source, pairwise
    // intersection via one self-join on the gram hash (s1 < s2 — only
    // co-occurring hashes ever pair, never sources), exact Jaccard in
    // ppm. O(grams) shuffle; the matrix is dimension-sized.
    "q390_source_overlap" -> ((s, d) => {
      val grams = graft.Stage(t(s, d, "documents")
        .select(col("source"), split(trim(col("text")), "\\s+").as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("source"),
          explode(transform(sequence(lit(0), size(col("tk")) - 5),
            i => concat_ws(" ", slice(col("tk"), i + 1, lit(5))))).as("g"))
        .select(col("source"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
            .as("h"))
        .distinct(), "q390_grams")
      val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val inter = grams.as("a").join(grams.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select(col("source").as("s1"), col("sz").as("sz1")), "s1")
        .join(sizes.select(col("source").as("s2"), col("sz").as("sz2")), "s2")
        .select(col("s1"), col("s2"), col("n_common"),
          expr("n_common * 1000000 DIV (sz1 + sz2 - n_common)")
            .as("jaccard_ppm"))
        .orderBy(col("s1"), col("s2"))
    }),

    // Schema-evolution scan — the ingest reality a long-lived table
    // faces: two parquet batches written with DIFFERENT schemas (an
    // added column, a dropped one) read back as ONE relation via
    // mergeSchema, missing columns null-filled. The batches derive
    // deterministically from `documents` (even doc_ids carry lang,
    // odd carry source + n_chars), so the oracle replays the merged
    // result from the fixture alone. Gates Spark's schema-merge
    // semantics end-to-end through a real write/read cycle.
    "q391_schema_merge_scan" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = graft.Stage.scratchDir("q391_evolving")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/batch=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_lang"),
          count(col("source")).as("n_source"),
          sum(col("n_chars")).cast("long").as("chars_odd"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),

    // Span-REMOVAL planning — the cut-list q188's span dedup stops
    // short of: stride-10 W=20 token windows whose hash is shared
    // across docs become intervals [start, start+20), unioned per doc
    // (lag + running-max island detection over the doc's own bounded
    // window list), yielding exactly how many tokens deduplication
    // would remove per document. The Lee et al. 2022 "dedup the spans,
    // not the docs" step as a distributed plan: one window-hash
    // shuffle, per-doc bounded windows, no all-pairs.
    "q392_span_removal_plan" -> ((s, d) => {
      val W = 20; val S = 10
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") >= W)
      val win = docs.select(col("doc_id"), col("n_tok"),
          explode(transform(
            sequence(lit(0), ((col("n_tok") - W) / S).cast("int")),
            i => struct((i * S).cast("long").as("st"),
              conv(substring(md5(concat_ws(" ",
                slice(col("tk"), i * S + 1, lit(W)))), 1, 15), 16, 10)
                .cast("long").as("h")))).as("w"))
        .select(col("doc_id"), col("n_tok"),
          col("w.st").as("st"), col("w.h").as("h"))
      val shared = win.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val spans = win.join(shared, "h")
        .select(col("doc_id"), col("n_tok"), col("st"),
          (col("st") + W).as("en"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      val covered = spans
        .withColumn("prev_max", max(col("en")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("seg",
          when(col("prev_max").isNull || col("st") > col("prev_max"),
            col("en") - col("st"))
            .otherwise(greatest(lit(0L), col("en") - col("prev_max"))))
        .groupBy(col("doc_id"))
        .agg(first(col("n_tok")).as("n_tok"),
          sum(col("seg")).as("covered_tok"))
      covered.select(col("doc_id"), col("n_tok"), col("covered_tok"),
          expr("covered_tok * 1000000 DIV n_tok").as("removable_ppm"))
        .orderBy(col("covered_tok").desc, col("doc_id")).limit(20)
    }),

    // Sequential probability ratio test (Wald) monitor — the A/B
    // stopping rule a daily dashboard actually runs: variant B's
    // cumulative conversions test H0: p = 0.30 vs H1: p = 0.35, the
    // log-likelihood ratio walks day by day, and the decision fires
    // when it crosses ln((1-beta)/alpha) = +-2.9444 (alpha = beta =
    // 0.05). Assignment and conversion derive from portable hashes /
    // thresholds, so both engines replay the identical path. Day-grain
    // cumulative window over bounded rows.
    "q394_sprt_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(date_trunc("day", col("ts")).as("day"),
          (knuth(col("user_id")) % 2 === 1).as("is_b"),
          (col("value") >= 100.0).as("conv"))
        .filter(col("is_b"))
      val daily = ev.groupBy(col("day"))
        .agg(count(lit(1)).as("trials"),
          sum(when(col("conv"), 1L).otherwise(0L)).as("convs"))
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lnP = math.log(0.35 / 0.30)
      val lnQ = math.log(0.65 / 0.70)
      val bound = math.log(0.95 / 0.05)
      daily
        .withColumn("ck", sum(col("convs")).over(wCum))
        .withColumn("cn", sum(col("trials")).over(wCum))
        .select(col("day"), col("cn").as("cum_trials"),
          col("ck").as("cum_convs"),
          round(col("ck") * lnP + (col("cn") - col("ck")) * lnQ, 4)
            .as("llr"),
          when(col("ck") * lnP + (col("cn") - col("ck")) * lnQ
            >= bound, "accept_h1")
            .when(col("ck") * lnP + (col("cn") - col("ck")) * lnQ
              <= -bound, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy(col("day"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // k-fold cross-validation (the eval loop a training pipeline runs
    // before committing to a model): 5 deterministic hash-folds over
    // lineitem, per-fold OLS of extendedprice ~ quantity fit on the
    // OTHER four folds via closed-form leave-fold-out sums (total sums
    // minus the fold's own — ONE corpus scan for all five models, a
    // 5-row join back, then per-row residuals aggregated per
    // fold). No per-fold re-scan, no MLlib iteration: at 100 TB this
    // is one pass + one 5-row join regardless of k.
    "q372_kfold_cv" ->
      """WITH rows_ AS (
           SELECT ((l_orderkey * 10 + l_linenumber) % 2147483648
                   * 2654435761) % 4294967296 % 5 AS fold,
                  l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
           FROM lineitem),
         pf AS (
           SELECT fold, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * x) AS sxx, sum(x * y) AS sxy
           FROM rows_ GROUP BY fold),
         tot AS (
           SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
                  sum(sxx) AS tsxx, sum(sxy) AS tsxy
           FROM pf),
         coef AS (
           SELECT fold,
                  ((tn-n)*(tsxy-sxy) - (tsx-sx)*(tsy-sy))
                    / ((tn-n)*(tsxx-sxx) - (tsx-sx)*(tsx-sx)) AS slope,
                  ((tsy-sy) - ((tn-n)*(tsxy-sxy) - (tsx-sx)*(tsy-sy))
                    / ((tn-n)*(tsxx-sxx) - (tsx-sx)*(tsx-sx)) * (tsx-sx))
                    / (tn-n) AS icept
           FROM pf CROSS JOIN tot)
         SELECT r.fold, count(*)::BIGINT AS n_test,
                round(sqrt(avg((y - slope*x - icept)
                              * (y - slope*x - icept))), 4) AS rmse
         FROM rows_ r JOIN coef USING (fold)
         GROUP BY r.fold ORDER BY r.fold""",
    "q373_seq_perplexity" ->
      """WITH steps AS (
           SELECT user_id, event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts::TIMESTAMP, event_id) AS nxt
           FROM events),
         st AS (SELECT * FROM steps WHERE nxt IS NOT NULL),
         v AS (SELECT count(DISTINCT cur) AS v FROM st),
         trans AS (
           SELECT cur, nxt, count(*) AS c FROM st GROUP BY cur, nxt),
         outdeg AS (SELECT cur, sum(c)::BIGINT AS tot FROM trans
                    GROUP BY cur),
         probs AS (
           SELECT t.cur, t.nxt,
                  (t.c + 1)::DOUBLE / (o.tot + (SELECT v FROM v)) AS p
           FROM trans t JOIN outdeg o USING (cur))
         SELECT user_id, count(*)::BIGINT AS n_steps,
                round(avg(-log2(p)), 4) AS avg_nll
         FROM st JOIN probs USING (cur, nxt)
         GROUP BY user_id
         ORDER BY avg_nll DESC, user_id LIMIT 20""",
    "q374_calibration_bins" ->
      """WITH scored AS (
           SELECT (event_id % 2147483648 * 2654435761 % 4294967296)
                    ::DOUBLE / 4294967296 AS p,
                  CASE WHEN value >= 100.0 THEN 1.0 ELSE 0.0 END AS y
           FROM events)
         SELECT least(floor(p * 10), 9)::BIGINT AS bin,
                count(*)::BIGINT AS n,
                round(avg(p), 4) AS conf,
                round(avg(y), 4) AS acc,
                round(avg((p - y) * (p - y)), 4) AS brier
         FROM scored GROUP BY 1 ORDER BY bin""",
    "q375_kaplan_meier" ->
      """WITH ev AS (
           SELECT user_id, ts::TIMESTAMP::DATE AS day, event_type, value
           FROM events),
         horizon AS (SELECT max(day) AS end_day FROM ev),
         users AS (
           SELECT date_diff('day', min(day),
                    coalesce(min(CASE WHEN event_type = 'purchase'
                        AND value >= 150.0 THEN day END),
                      (SELECT end_day FROM horizon)))::BIGINT AS life,
                  min(CASE WHEN event_type = 'purchase'
                      AND value >= 150.0 THEN day END) IS NULL
                    AS censored
           FROM ev GROUP BY user_id),
         by_life AS (
           SELECT life, count(*)::BIGINT AS n_total,
                  sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)::BIGINT
                    AS d
           FROM users GROUP BY life),
         risk AS (
           SELECT life, n_total, d,
                  sum(n_total) OVER (ORDER BY life
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    ::BIGINT AS n_risk
           FROM by_life),
         km AS (
           SELECT life, n_risk, d,
                  exp(sum(ln(1 - d::DOUBLE / n_risk))
                      OVER (ORDER BY life
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)) AS surv
           FROM risk)
         SELECT life, n_risk, d, round(surv, 4) AS survival
         FROM km WHERE d > 0 ORDER BY life""",
    "q376_rendezvous_sharding" ->
      """WITH w AS (
           SELECT doc_id, i.range AS s,
                  (doc_id * 31 + i.range) % 2147483648
                    * 2654435761 % 4294967296 AS wt
           FROM documents CROSS JOIN range(9) i),
         pick8 AS (
           SELECT doc_id, s AS shard_old FROM (
             SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
               ORDER BY wt DESC, s) AS rn
             FROM w WHERE s < 8) WHERE rn = 1),
         pick9 AS (
           SELECT doc_id, s AS shard_new FROM (
             SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
               ORDER BY wt DESC, s) AS rn
             FROM w) WHERE rn = 1)
         SELECT shard_old AS shard, count(*)::BIGINT AS n_docs,
                sum(CASE WHEN shard_old <> shard_new THEN 1 ELSE 0 END)
                  ::BIGINT AS n_moved
         FROM pick8 JOIN pick9 USING (doc_id)
         GROUP BY 1 ORDER BY shard""",
    "q377_ranking_eval" ->
      """WITH ranked AS (
           SELECT q.vec_id AS q_id, q.label AS q_label,
                  e.vec_id, e.label,
                  CAST(row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(
                      e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                      e.vec_id ASC) AS BIGINT) AS rnk
           FROM embeddings e
           JOIN embeddings q ON q.vec_id % 25 = 0 AND q.vec_id < 2500
             AND e.vec_id <> q.vec_id),
         per_q AS (
           SELECT q_id,
                  sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
                    ::BIGINT AS n_rel,
                  sum(CASE WHEN rnk <= 10 AND label = q_label
                      THEN 1 ELSE 0 END)::BIGINT AS rel_at_10,
                  min(CASE WHEN label = q_label THEN rnk END)
                    AS first_rel,
                  sum(CASE WHEN rnk <= 10 AND label = q_label
                      THEN 1.0 / log2(rnk + 1) ELSE 0 END) AS dcg
           FROM ranked GROUP BY q_id)
         SELECT q_id, n_rel,
                round(rel_at_10::DOUBLE / n_rel, 4) AS recall10,
                round(1.0 / first_rel, 4) AS mrr,
                round(dcg / list_sum(list_transform(
                  range(1, least(10, n_rel) + 1),
                  i -> 1.0 / log2(i + 1))), 4) AS ndcg10
         FROM per_q WHERE n_rel > 0 ORDER BY q_id""",
    // t-closeness — the third rung of the privacy-gate ladder
    // (q317 k-anonymity, q361 l-diversity): per quasi-identifier class,
    // the earth-mover distance between the class's ORDERED sensitive
    // distribution (acctbal bands) and the global one, EMD computed by
    // the ordered-attribute closed form sum|cumdiff| / (m-1). The class
    // x band grid is dimension-sized (25 nations x 5 segments x ~11
    // bands), so every window runs over bounded rows.
    "q378_t_closeness" ->
      """WITH cust AS (
           SELECT c_nationkey, c_mktsegment,
                  floor(c_acctbal / 1000)::BIGINT AS band
           FROM customer),
         bands AS (SELECT DISTINCT band FROM cust),
         m AS (SELECT count(*)::BIGINT AS m FROM bands),
         gd AS (
           SELECT band, count(*)::DOUBLE
                    / (SELECT count(*) FROM cust) AS p_glob
           FROM cust GROUP BY band),
         classes AS (
           SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
           FROM cust GROUP BY 1, 2),
         cls AS (
           SELECT c_nationkey, c_mktsegment, band, count(*)::BIGINT AS c
           FROM cust GROUP BY 1, 2, 3),
         grid AS (
           SELECT cl.c_nationkey, cl.c_mktsegment, b.band, cl.n,
                  coalesce(c.c, 0)::DOUBLE / cl.n - g.p_glob AS diff
           FROM classes cl CROSS JOIN bands b
           LEFT JOIN cls c ON c.c_nationkey = cl.c_nationkey
             AND c.c_mktsegment = cl.c_mktsegment AND c.band = b.band
           JOIN gd g ON g.band = b.band),
         cum AS (
           SELECT c_nationkey, c_mktsegment, n,
                  sum(diff) OVER (PARTITION BY c_nationkey, c_mktsegment
                    ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cumdiff
           FROM grid)
         SELECT c_nationkey, c_mktsegment, any_value(n) AS n,
                round(sum(abs(cumdiff)) / ((SELECT m FROM m) - 1), 4)
                  AS emd
         FROM cum GROUP BY c_nationkey, c_mktsegment
         HAVING round(sum(abs(cumdiff)) / ((SELECT m FROM m) - 1), 4)
                  > 0.25
         ORDER BY c_nationkey, c_mktsegment""",
    "q379_woe_encoding" ->
      """WITH rows_ AS (
           SELECT p_brand,
                  CASE WHEN p_retailprice > 950.0 THEN 1 ELSE 0 END AS y
           FROM part),
         tot AS (
           SELECT sum(y)::BIGINT + 1.0 AS pos_tot,
                  sum(1 - y)::BIGINT + 1.0 AS neg_tot
           FROM rows_)
         SELECT p_brand, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
                round(ln(((sum(y) + 0.5) / pos_tot)
                  / ((count(*) - sum(y) + 0.5) / neg_tot)), 4) AS woe,
                round((sum(y)::DOUBLE / pos_tot
                    - (count(*) - sum(y))::DOUBLE / neg_tot)
                  * ln(((sum(y) + 0.5) / pos_tot)
                    / ((count(*) - sum(y) + 0.5) / neg_tot)), 4)
                  AS iv_term
         FROM rows_ CROSS JOIN tot
         GROUP BY p_brand, pos_tot, neg_tot
         ORDER BY p_brand""",
    // Data-contract assertion report — the great-expectations-style
    // gate an ingest pipeline runs before publishing a table: seven
    // declarative contracts over lineitem evaluated as one aggregate of
    // conditional counts, unpivoted to a (contract, checked,
    // violations, pass) report. One contract is designed to fail
    // (qty <= 45) so the report provably detects violations.
    "q380_data_contracts" ->
      """WITH agg AS (
           SELECT count(*)::BIGINT AS n,
                  sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                      THEN 1 ELSE 0 END)::BIGINT AS v_qty,
                  sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
                      THEN 1 ELSE 0 END)::BIGINT AS v_disc,
                  sum(CASE WHEN l_shipdate::TIMESTAMP
                        < TIMESTAMP '1992-01-01 00:00:00'
                        OR l_shipdate::TIMESTAMP
                        >= TIMESTAMP '1999-01-01 00:00:00'
                      THEN 1 ELSE 0 END)::BIGINT AS v_ship,
                  sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                      THEN 1 ELSE 0 END)::BIGINT AS v_flag,
                  sum(CASE WHEN l_extendedprice <= 0
                      THEN 1 ELSE 0 END)::BIGINT AS v_price,
                  sum(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
                      THEN 1 ELSE 0 END)::BIGINT AS v_null,
                  sum(CASE WHEN l_quantity > 45
                      THEN 1 ELSE 0 END)::BIGINT AS v_qty45
           FROM lineitem)
         SELECT contract, n AS n_checked, n_violations,
                n_violations = 0 AS pass
         FROM (
           SELECT n, 'qty_in_1_50' AS contract, v_qty AS n_violations
             FROM agg
           UNION ALL SELECT n, 'discount_in_0_0.1', v_disc FROM agg
           UNION ALL SELECT n, 'shipdate_in_range', v_ship FROM agg
           UNION ALL SELECT n, 'returnflag_domain', v_flag FROM agg
           UNION ALL SELECT n, 'price_positive', v_price FROM agg
           UNION ALL SELECT n, 'keys_not_null', v_null FROM agg
           UNION ALL SELECT n, 'qty_le_45_expected_fail', v_qty45
             FROM agg)
         ORDER BY contract""",
    "q381_blocking_quality" ->
      """WITH blocks AS (
           SELECT p_brand, p_size // 10 AS size_band,
                  count(*)::BIGINT AS bn
           FROM part GROUP BY 1, 2),
         bs AS (
           SELECT count(*)::BIGINT AS n_blocks,
                  sum(bn * (bn - 1) // 2)::BIGINT AS cand_pairs,
                  sum(bn)::BIGINT AS nrows
           FROM blocks),
         ts AS (
           SELECT count(*)::BIGINT AS n_true,
                  sum(CASE WHEN a.p_brand = b.p_brand
                      AND a.p_size // 10 = b.p_size // 10
                      THEN 1 ELSE 0 END)::BIGINT AS n_coblocked
           FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1)
         SELECT n_blocks, cand_pairs, n_true, n_coblocked,
                ((nrows * (nrows - 1) // 2 - cand_pairs) * 1000000
                  // (nrows * (nrows - 1) // 2))::BIGINT
                  AS reduction_ppm,
                (n_coblocked * 1000000 // n_true)::BIGINT
                  AS pair_completeness_ppm
         FROM bs CROSS JOIN ts""",
    "q382_seasonal_decompose" ->
      """WITH daily AS (
           SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  sum(floor(value * 100)::BIGINT)::BIGINT AS rev
           FROM events GROUP BY 1, 2),
         dowd AS (
           SELECT event_type, day, rev,
                  ((date_diff('day', DATE '1970-01-01', day::DATE) % 7)
                   + 7) % 7 AS dow
           FROM daily),
         dm AS (
           SELECT event_type, dow, sum(rev)::DOUBLE / count(*) AS s
           FROM dowd GROUP BY 1, 2),
         peak AS (
           SELECT event_type, dow AS peak_dow FROM (
             SELECT event_type, dow, row_number() OVER (
               PARTITION BY event_type ORDER BY s DESC, dow) AS rn
             FROM dm) WHERE rn = 1),
         res AS (
           SELECT d.event_type, d.rev::DOUBLE AS x, d.rev - m.s AS r
           FROM dowd d JOIN dm m USING (event_type, dow)),
         v AS (
           SELECT event_type, count(*)::BIGINT AS n_days,
                  sum(x*x) / count(*) - (sum(x) / count(*))
                    * (sum(x) / count(*)) AS vx,
                  sum(r*r) / count(*) - (sum(r) / count(*))
                    * (sum(r) / count(*)) AS vr
           FROM res GROUP BY event_type)
         SELECT v.event_type, n_days, peak_dow,
                round(1.0 - vr / vx, 4) AS seasonal_strength
         FROM v JOIN peak USING (event_type)
         ORDER BY event_type""",
    // Population-stability-index drift — the model-monitoring standard
    // q210's TVD complements: PSI = sum (p2-p1) ln(p2/p1) over
    // fixed-width value bins between the observation window's first
    // and second half, Laplace-smoothed so empty bins stay finite. A
    // (type x 10 bin) aggregate; PSI > 0.2 is the
    // retrain-the-model alarm convention.
    "q383_psi_drift" ->
      """WITH binned AS (
           SELECT event_type,
                  ts::TIMESTAMP >= TIMESTAMP '2024-01-16 00:00:00'
                    AS late,
                  least(floor(value / 40), 9)::BIGINT AS bin
           FROM events),
         cells AS (
           SELECT event_type, bin,
                  sum(CASE WHEN NOT late THEN 1 ELSE 0 END)::BIGINT
                    AS c1,
                  sum(CASE WHEN late THEN 1 ELSE 0 END)::BIGINT AS c2
           FROM binned GROUP BY 1, 2),
         tots AS (
           SELECT event_type, sum(c1)::BIGINT AS n1,
                  sum(c2)::BIGINT AS n2
           FROM cells GROUP BY 1)
         SELECT event_type, any_value(n1) AS n_early,
                any_value(n2) AS n_late,
                round(sum(((c2 + 0.5) / (n2 + 5.0)
                           - (c1 + 0.5) / (n1 + 5.0))
                  * ln(((c2 + 0.5) / (n2 + 5.0))
                       / ((c1 + 0.5) / (n1 + 5.0)))), 4) AS psi
         FROM cells JOIN tots USING (event_type)
         GROUP BY event_type ORDER BY event_type""",
    "q384_doc_novelty" ->
      """WITH docs AS (
           SELECT doc_id, source,
                  string_split_regex(trim(text), '\s+') AS tk
           FROM documents WHERE len(string_split_regex(trim(text),
             '\s+')) >= 5),
         grams AS (
           SELECT DISTINCT doc_id, source,
                  ('0x' || substr(md5(array_to_string(
                     tk[i+1 : i+5], ' ')), 1, 15))::BIGINT AS h
           FROM docs, unnest(generate_series(0, len(tk) - 5)) t(i)),
         fd AS (SELECT h, min(doc_id) AS first_doc FROM grams
                GROUP BY h)
         SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_grams,
                sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                  ::BIGINT AS n_novel,
                (sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                 * 1000000 // count(*))::BIGINT AS novelty_ppm
         FROM grams JOIN fd USING (h)
         GROUP BY source ORDER BY source""",
    "q385_corr_matrix" ->
      """WITH li AS (
           SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS p,
                  l_discount::DOUBLE AS di, l_tax::DOUBLE AS tx
           FROM lineitem),
         agg AS (
           SELECT count(*)::DOUBLE AS n,
                  sum(q) AS s_q, sum(q*q) AS ss_q,
                  sum(p) AS s_p, sum(p*p) AS ss_p,
                  sum(di) AS s_di, sum(di*di) AS ss_di,
                  sum(tx) AS s_tx, sum(tx*tx) AS ss_tx,
                  sum(q*p) AS c_q_p, sum(q*di) AS c_q_di,
                  sum(q*tx) AS c_q_tx, sum(p*di) AS c_p_di,
                  sum(p*tx) AS c_p_tx, sum(di*tx) AS c_di_tx
           FROM li)
         SELECT col_a, col_b, pearson FROM (
           SELECT 'quantity' AS col_a, 'extendedprice' AS col_b,
                  round((n*c_q_p - s_q*s_p)
                    / sqrt((n*ss_q - s_q*s_q)*(n*ss_p - s_p*s_p)), 4)
                    AS pearson FROM agg
           UNION ALL SELECT 'quantity', 'discount',
                  round((n*c_q_di - s_q*s_di)
                    / sqrt((n*ss_q - s_q*s_q)*(n*ss_di - s_di*s_di)), 4)
                  FROM agg
           UNION ALL SELECT 'quantity', 'tax',
                  round((n*c_q_tx - s_q*s_tx)
                    / sqrt((n*ss_q - s_q*s_q)*(n*ss_tx - s_tx*s_tx)), 4)
                  FROM agg
           UNION ALL SELECT 'extendedprice', 'discount',
                  round((n*c_p_di - s_p*s_di)
                    / sqrt((n*ss_p - s_p*s_p)*(n*ss_di - s_di*s_di)), 4)
                  FROM agg
           UNION ALL SELECT 'extendedprice', 'tax',
                  round((n*c_p_tx - s_p*s_tx)
                    / sqrt((n*ss_p - s_p*s_p)*(n*ss_tx - s_tx*s_tx)), 4)
                  FROM agg
           UNION ALL SELECT 'discount', 'tax',
                  round((n*c_di_tx - s_di*s_tx)
                    / sqrt((n*ss_di - s_di*s_di)*(n*ss_tx - s_tx*s_tx)),
                    4)
                  FROM agg)
         ORDER BY col_a, col_b""",
    "q386_readability" ->
      """WITH scored AS (
           SELECT source,
                  206.835
                  - 1.015 * len(string_split_regex(trim(text), '\s+'))
                    / greatest(1,
                        len(regexp_extract_all(text, '[.!?]+')))
                  - 84.6 * len(regexp_extract_all(lower(text),
                        '[aeiouy]+'))
                    / len(string_split_regex(trim(text), '\s+'))
                    AS score
           FROM documents WHERE len(trim(text)) > 0)
         SELECT source, count(*)::BIGINT AS n_docs,
                round(avg(score), 4) AS avg_score,
                (sum(CASE WHEN score < 30 THEN 1 ELSE 0 END) * 1000000
                  // count(*))::BIGINT AS hard_ppm
         FROM scored GROUP BY source ORDER BY source""",
    "q387_dp_release" ->
      """WITH counts AS (
           SELECT event_type, count(*)::BIGINT AS n_true
           FROM events GROUP BY event_type),
         withu AS (
           SELECT event_type, n_true,
                  (('0x' || substr(md5(event_type), 1, 15))::BIGINT
                    % 4294967296)::DOUBLE / 4294967296 - 0.5 AS u
           FROM counts)
         SELECT event_type, n_true,
                round(n_true + (-sign(u) * 2.0 * ln(1.0 - 2.0 * abs(u))),
                  4) AS released,
                round(abs(-sign(u) * 2.0 * ln(1.0 - 2.0 * abs(u))), 4)
                  AS noise_magnitude
         FROM withu ORDER BY event_type""",
    "q388_partition_key_advisor" ->
      """WITH prof AS (
           SELECT 'event_type' AS candidate, count(*)::BIGINT
                    AS n_distinct,
                  max(c) * 1000000 // sum(c) AS top_share_ppm,
                  round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
                    / ln(2.0), 4) AS entropy_bits
           FROM (SELECT count(*)::BIGINT AS c FROM events
                 GROUP BY event_type)
           UNION ALL
           SELECT 'user_id', count(*)::BIGINT,
                  max(c) * 1000000 // sum(c),
                  round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
                    / ln(2.0), 4)
           FROM (SELECT count(*)::BIGINT AS c FROM events
                 GROUP BY user_id)
           UNION ALL
           SELECT 'day', count(*)::BIGINT,
                  max(c) * 1000000 // sum(c),
                  round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
                    / ln(2.0), 4)
           FROM (SELECT count(*)::BIGINT AS c FROM events
                 GROUP BY date_trunc('day', ts::TIMESTAMP)))
         SELECT candidate, n_distinct,
                top_share_ppm::BIGINT AS top_share_ppm, entropy_bits,
                CASE WHEN n_distinct > 10000 THEN 'too_granular'
                     WHEN top_share_ppm > 500000 THEN 'too_skewed'
                     ELSE 'ok' END AS verdict
         FROM prof ORDER BY candidate""",
    "q389_stats_merge" ->
      """WITH li AS (
           SELECT floor(l_quantity)::BIGINT AS qty,
                  floor(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem)
         SELECT * FROM (
           SELECT 'qty' AS column_name, count(*)::BIGINT AS n,
                  min(qty) AS mn, max(qty) AS mx,
                  sum(qty)::BIGINT AS sum_v,
                  count(DISTINCT qty)::BIGINT AS ndv_exact,
                  TRUE AS merge_exact_ok, TRUE AS ndv_merge_ok
           FROM li
           UNION ALL
           SELECT 'cents', count(*)::BIGINT, min(cents), max(cents),
                  sum(cents)::BIGINT, count(DISTINCT cents)::BIGINT,
                  TRUE, TRUE
           FROM li)
         ORDER BY column_name""",
    "q390_source_overlap" ->
      """WITH docs AS (
           SELECT source, string_split_regex(trim(text), '\s+') AS tk
           FROM documents
           WHERE len(string_split_regex(trim(text), '\s+')) >= 5),
         grams AS (
           SELECT DISTINCT source,
                  ('0x' || substr(md5(array_to_string(
                     tk[i+1 : i+5], ' ')), 1, 15))::BIGINT AS h
           FROM docs, unnest(generate_series(0, len(tk) - 5)) t(i)),
         sizes AS (
           SELECT source, count(*)::BIGINT AS sz FROM grams
           GROUP BY source),
         inter AS (
           SELECT a.source AS s1, b.source AS s2,
                  count(*)::BIGINT AS n_common
           FROM grams a JOIN grams b
             ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT s1, s2, n_common,
                (n_common * 1000000
                  // (x.sz + y.sz - n_common))::BIGINT AS jaccard_ppm
         FROM inter
         JOIN sizes x ON x.source = s1
         JOIN sizes y ON y.source = s2
         ORDER BY s1, s2""",
    "q391_schema_merge_scan" ->
      """SELECT count(*)::BIGINT AS n_rows,
                sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_lang,
                sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS n_source,
                sum(CASE WHEN doc_id % 2 = 1 THEN n_chars
                    ELSE 0 END)::BIGINT AS chars_odd,
                count(DISTINCT doc_id)::BIGINT AS n_docs
         FROM documents""",
    "q392_span_removal_plan" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM documents),
         d2 AS (
           SELECT doc_id, tk, len(tk)::BIGINT AS n_tok FROM docs
           WHERE len(tk) >= 20),
         win AS (
           SELECT doc_id, n_tok, (i * 10)::BIGINT AS st,
                  ('0x' || substr(md5(array_to_string(
                     tk[i*10+1 : i*10+20], ' ')), 1, 15))::BIGINT AS h
           FROM d2, unnest(generate_series(0, (n_tok - 20) // 10)) t(i)),
         shared AS (
           SELECT h FROM win GROUP BY h
           HAVING count(DISTINCT doc_id) >= 2),
         spans AS (
           SELECT doc_id, n_tok, st, st + 20 AS en
           FROM win JOIN shared USING (h)),
         cov AS (
           SELECT doc_id, n_tok, st, en,
                  max(en) OVER (PARTITION BY doc_id ORDER BY st
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM spans),
         segs AS (
           SELECT doc_id, any_value(n_tok) AS n_tok,
                  sum(CASE WHEN prev_max IS NULL OR st > prev_max
                      THEN en - st
                      ELSE greatest(0, en - prev_max) END)::BIGINT
                    AS covered_tok
           FROM cov GROUP BY doc_id)
         SELECT doc_id, n_tok, covered_tok,
                (covered_tok * 1000000 // n_tok)::BIGINT
                  AS removable_ppm
         FROM segs ORDER BY covered_tok DESC, doc_id LIMIT 20""",
    // Exact weighted percentiles over a BOUNDED value domain — revenue-
    // weighted quantity quantiles via the value-grouped cumulative-
    // weight walk (the domain is the group key, so the cumulative
    // window runs over <=50 rows regardless of corpus size; unbounded
    // domains take the ExactSelection refinement instead). All-integer:
    // weights in cents, thresholds by ceil half/9-tenths comparisons.
    "q393_weighted_percentile" ->
      """WITH byv AS (
           SELECT floor(l_quantity)::BIGINT AS v,
                  sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS w
           FROM lineitem GROUP BY 1),
         cum AS (
           SELECT v, w,
                  (sum(w) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS cw,
                  (SELECT sum(w)::BIGINT FROM byv) AS tw
           FROM byv)
         SELECT min(CASE WHEN cw * 2 >= tw THEN v END) AS wmedian_qty,
                min(CASE WHEN cw * 10 >= tw * 9 THEN v END)
                  AS wp90_qty,
                any_value(tw) AS total_weight_cents
         FROM cum""",
    "q394_sprt_monitor" ->
      """WITH ev AS (
           SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  value >= 100.0 AS conv
           FROM events
           WHERE event_type = 'purchase'
             AND (user_id % 2147483648 * 2654435761 % 4294967296)
                 % 2 = 1),
         daily AS (
           SELECT day, count(*)::BIGINT AS trials,
                  sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT
                    AS convs
           FROM ev GROUP BY day),
         cum AS (
           SELECT day,
                  (sum(trials) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS cn,
                  (sum(convs) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    ::BIGINT AS ck
           FROM daily)
         SELECT day, cn AS cum_trials, ck AS cum_convs,
                round(ck * ln(0.35 / 0.30) + (cn - ck) * ln(0.65 / 0.70),
                  4) AS llr,
                CASE WHEN ck * ln(0.35 / 0.30)
                          + (cn - ck) * ln(0.65 / 0.70)
                          >= ln(0.95 / 0.05) THEN 'accept_h1'
                     WHEN ck * ln(0.35 / 0.30)
                          + (cn - ck) * ln(0.65 / 0.70)
                          <= -ln(0.95 / 0.05) THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM cum ORDER BY day"""
  )
}

/** Round-9 batch H (q400-q402): the ops-observability capstone (a
  * one-table health report composing the contract / drift / trend /
  * freshness / volume gates), RAKE keyphrase extraction, and HITS
  * hubs/authorities in exact integer fixed-point. Hash-gated vs
  * DuckDB.
  */
object SysTelemetry {

  type Q = (SparkSession, String) => DataFrame

  private val HitsIters = 3
  private val HitsScale = 1000000000000L // 1e12 integer fixed-point

  val queries: Seq[(String, Q)] = Seq(

    // Ops-observability CAPSTONE — the q200 pattern applied to the
    // round's monitoring operators: one health-report table whose rows
    // are independent gates (contract violations, PSI drift ceiling,
    // Mann-Kendall trending series, freshness, week-over-week volume),
    // each a cheap aggregate arm over ONE events/lineitem scan apiece,
    // unioned into (check, value, status). The report a scheduler
    // would publish after every ingest.
    "q400_health_report" -> ((s, d) => {
      val ev = t(s, d, "events")
      // Arm 1: failing data contracts (q380's set; exactly one is
      // designed to fail, so status is 'ok' at value 1).
      val li = t(s, d, "lineitem")
      val contracts = li.agg(
        (sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L))
          + sum(when(!col("l_discount").between(0.0, 0.1), 1L)
            .otherwise(0L))
          + sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
            .otherwise(0L))
          + sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
          + sum(when(col("l_quantity") > 45, 1L).otherwise(0L)))
          .as("v"))
        .select(lit("contract_violation_rows").as("check_name"),
          col("v").cast("long").as("value"),
          when(col("v") > 0, "expected_fail_only").otherwise("clean")
            .as("status"))
      // Arm 2: max PSI across series in milli (q383's bins).
      val binned = ev.select(col("event_type"),
        (col("ts") >= "2024-01-16").as("late"),
        least(floor(col("value") / 40), lit(9L)).cast("long").as("bin"))
      val cells = binned.groupBy(col("event_type"), col("bin"))
        .agg(sum(when(!col("late"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("late"), 1L).otherwise(0L)).as("c2"))
      val tots = cells.groupBy(col("event_type"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val psi = cells.join(tots, "event_type")
        .groupBy(col("event_type"))
        .agg(sum((((col("c2") + 0.5) / (col("n2") + 5.0))
          - ((col("c1") + 0.5) / (col("n1") + 5.0)))
          * log(((col("c2") + 0.5) / (col("n2") + 5.0))
            / ((col("c1") + 0.5) / (col("n1") + 5.0)))).as("psi"))
        .agg(max(col("psi")).as("mx"))
        .select(lit("max_psi_milli").as("check_name"),
          floor(col("mx") * 1000).cast("long").as("value"),
          when(col("mx") > 0.2, "alert").otherwise("ok").as("status"))
      // Arm 3: freshness — days between the observation horizon and
      // the last event (0 on a healthy fixture).
      val fresh = ev.agg(max(col("ts").cast("date")).as("last_day"))
        .select(lit("freshness_lag_days").as("check_name"),
          datediff(lit("2024-01-30").cast("date"), col("last_day"))
            .cast("long").as("value"))
        .select(col("check_name"), col("value"),
          when(col("value") > 1, "alert").otherwise("ok").as("status"))
      // Arm 4: week-over-week volume change of the last full day, ppm.
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val wow = daily.as("a").join(daily.as("b"),
          col("b.day") === expr("a.day - interval 7 days"))
        .orderBy(col("a.day").desc).limit(1)
        .select(lit("volume_wow_ppm").as("check_name"),
          expr("(a.c - b.c) * 1000000 DIV b.c").as("value"))
        .select(col("check_name"), col("value"),
          when(abs(col("value")) > 500000, "alert").otherwise("ok")
            .as("status"))
      contracts.unionByName(psi).unionByName(fresh).unionByName(wow)
        .orderBy(col("check_name"))
    }),

    // RAKE keyphrase extraction (Rose et al. 2010) — stopword-
    // delimited candidate phrases scored by word degree/frequency:
    // per doc, consecutive non-stopword runs become phrases (island
    // ids from a running stopword count over the doc's own bounded
    // positions); globally, deg(w) = sum of hosting-phrase lengths,
    // freq(w) = occurrences, word score = deg*1000 DIV freq (integer),
    // phrase score = sum of its word scores. Top-15 phrases by total
    // corpus score. One token explode, word-keyed joins — no
    // quadratic stage.
    "q401_rake_keyphrases" -> ((s, d) => {
      val stop = Seq("the", "a", "an", "of", "and", "to", "in", "is",
        "on", "for", "with", "as", "by", "at", "or", "it", "are",
        "was", "that", "this")
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "[^a-z0-9]+")))
        .filter(length(col("col")) > 0)
        .select(col("doc_id"), col("pos"), col("col").as("w"),
          col("col").isin(stop: _*).as("is_stop"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val islands = toks
        .withColumn("isl", sum(when(col("is_stop"), 1L).otherwise(0L))
          .over(wDoc))
        .filter(!col("is_stop"))
      val phrases = graft.Stage(islands
        .groupBy(col("doc_id"), col("isl"))
        .agg(concat_ws(" ",
            sort_array(collect_list(struct(col("pos"), col("w"))))
              .getField("w")).as("phrase"),
          count(lit(1)).as("plen")), "q401_phrases")
      val words = graft.Stage(islands.select(col("doc_id"), col("isl"),
        col("w")), "q401_words")
      val wstats = words
        .join(phrases.select(col("doc_id"), col("isl"), col("plen")),
          Seq("doc_id", "isl"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("w"), expr("deg * 1000 DIV freq").as("wscore"))
      val pscore = words.join(wstats, "w")
        .groupBy(col("doc_id"), col("isl"))
        .agg(sum(col("wscore")).as("pscore"))
      phrases.join(pscore, Seq("doc_id", "isl"))
        .filter(col("plen").between(2, 4))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occur"), max(col("pscore")).as("score"))
        .orderBy(col("score").desc, col("phrase")).limit(15)
    }),

    // HITS hubs & authorities (Kleinberg 1999) — the second classic
    // link-analysis fixed point next to q291's PageRank, on the same
    // event-transition graph, in the same exact integer arithmetic:
    // auth = normalized inflow of hub mass, hub = normalized outflow
    // of auth mass, 3 unrolled iterations, L1-normalized by integer
    // DIV so both engines replay bit-identically.
    "q402_hits" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val edges = graft.Stage(t(s, d, "events")
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("cnt")), "q402_edges")
      // The transition graph is type-bounded (≤|types|² edges) and the
      // HITS arithmetic is integer fixed-point (sums and truncating
      // DIVs — exact, order-free), so the 3 unrolled iterations with
      // their 6 localCheckpoint jobs were pure scheduler latency (the
      // q577/q528 driver-side idiom). The events window+aggregate
      // stays distributed; the fixed point runs on the collected
      // matrix.
      val em = graft.Bounded.collectCapped(edges, 4096,
          "q402 event-type transition matrix (≤|types|² rows)")
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nodes = (em.map(_._1) ++ em.map(_._2)).distinct.sorted
      var hub: Map[String, Long] = nodes.map(_ -> HitsScale).toMap
      var auth: Map[String, Long] = Map.empty
      for (_ <- 1 to HitsIters) {
        val ra = nodes.map(n => n -> em.collect {
          case (s0, dst, cnt) if dst == n => hub(s0) * cnt }.sum).toMap
        // max(·,1) guards a degenerate graph whose total mass is below
        // HitsScale: the old SQL `x DIV (ta DIV scale)` yielded NULL
        // rows there, the local `/` would throw ArithmeticException
        // (round-13 ADVICE — keep degenerate inputs non-fatal). Any
        // real fixture total is ≫ HitsScale, so results are unchanged.
        val ta = ra.valuesIterator.sum
        auth = ra.view.mapValues(_ / math.max(ta / HitsScale, 1L)).toMap
        val rh = nodes.map(n => n -> em.collect {
          case (src, dst, cnt) if src == n => auth(dst) * cnt }.sum).toMap
        val th = rh.valuesIterator.sum
        hub = rh.view.mapValues(_ / math.max(th / HitsScale, 1L)).toMap
      }
      def r6(x: Double): Double =
        new java.math.BigDecimal(java.lang.Double.toString(x))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val out = nodes.map(n => (n, hub(n), auth(n),
        r6(hub(n) / HitsScale.toDouble), r6(auth(n) / HitsScale.toDouble)))
      s.createDataFrame(out.toSeq)
        .toDF("node", "hub_scaled", "auth_scaled", "hub", "auth")
        .orderBy(col("node"))
    }),

    // SQL:2003 ordered-set aggregates — PERCENTILE_CONT / _DISC with
    // the WITHIN GROUP (ORDER BY ...) syntax, per group: the inverse-
    // distribution functions every SQL dialect spells this way. DuckDB
    // replays with quantile_cont/quantile_disc (same interpolation
    // semantics).
    // Round-14: the two percentile_cont calls on the SAME column each
    // built their own full per-group value buffer (Percentile is a
    // TypedImperativeAggregate holding every value); the array form is
    // the identical function evaluated once — percentile_cont(p)
    // WITHIN GROUP (ORDER BY x) is sugar for percentile(x, p), so the
    // values are bit-identical (oracle hash unchanged).
    "q405_within_group" -> ((s, d) =>
      graft.HeavyEngine(s, d).sql(
        """SELECT l_returnflag,
                  round(element_at(
                    percentile(l_extendedprice, array(0.5D, 0.9D)), 1), 4)
                    AS median_price,
                  round(element_at(
                    percentile(l_extendedprice, array(0.5D, 0.9D)), 2), 4)
                    AS p90_price,
                  percentile_disc(0.5)
                    WITHIN GROUP (ORDER BY l_quantity) AS median_qty_disc,
                  count(*) AS n
           FROM lineitem GROUP BY l_returnflag"""))
  )

  val oracles: Seq[(String, String)] = Seq(
    "q400_health_report" ->
      """WITH c AS (
           SELECT (sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                      THEN 1 ELSE 0 END)
                 + sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
                      THEN 1 ELSE 0 END)
                 + sum(CASE WHEN l_returnflag NOT IN ('A','N','R')
                      THEN 1 ELSE 0 END)
                 + sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                 + sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END))
                 ::BIGINT AS v
           FROM lineitem),
         binned AS (
           SELECT event_type,
                  ts::TIMESTAMP >= TIMESTAMP '2024-01-16 00:00:00'
                    AS late,
                  least(floor(value / 40), 9)::BIGINT AS bin
           FROM events),
         cells AS (
           SELECT event_type, bin,
                  sum(CASE WHEN NOT late THEN 1 ELSE 0 END)::BIGINT
                    AS c1,
                  sum(CASE WHEN late THEN 1 ELSE 0 END)::BIGINT AS c2
           FROM binned GROUP BY 1, 2),
         tots AS (
           SELECT event_type, sum(c1)::BIGINT AS n1,
                  sum(c2)::BIGINT AS n2
           FROM cells GROUP BY 1),
         psis AS (
           SELECT cells.event_type,
                  sum(((c2 + 0.5) / (n2 + 5.0)
                       - (c1 + 0.5) / (n1 + 5.0))
                    * ln(((c2 + 0.5) / (n2 + 5.0))
                         / ((c1 + 0.5) / (n1 + 5.0)))) AS psi
           FROM cells JOIN tots USING (event_type)
           GROUP BY 1),
         mp AS (SELECT max(psi) AS mx FROM psis),
         fresh AS (
           SELECT date_diff('day', max(ts::TIMESTAMP)::DATE,
             DATE '2024-01-30')::BIGINT AS v
           FROM events),
         daily AS (
           SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  count(*)::BIGINT AS c
           FROM events GROUP BY 1),
         wow AS (
           SELECT ((a.c - b.c) * 1000000 // b.c)::BIGINT AS v
           FROM daily a JOIN daily b
             ON b.day = a.day - INTERVAL 7 DAY
           ORDER BY a.day DESC LIMIT 1)
         SELECT check_name, value, status FROM (
           SELECT 'contract_violation_rows' AS check_name, v AS value,
                  CASE WHEN v > 0 THEN 'expected_fail_only'
                       ELSE 'clean' END AS status
           FROM c
           UNION ALL
           SELECT 'max_psi_milli', floor(mx * 1000)::BIGINT,
                  CASE WHEN mx > 0.2 THEN 'alert' ELSE 'ok' END
           FROM mp
           UNION ALL
           SELECT 'freshness_lag_days', v,
                  CASE WHEN v > 1 THEN 'alert' ELSE 'ok' END
           FROM fresh
           UNION ALL
           SELECT 'volume_wow_ppm', v,
                  CASE WHEN abs(v) > 500000 THEN 'alert' ELSE 'ok' END
           FROM wow) t(check_name, value, status)
         ORDER BY check_name""",
    "q401_rake_keyphrases" ->
      """WITH toks AS (
           SELECT doc_id, i AS pos, tk[i + 1] AS w
           FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '[^a-z0-9]+')
                     AS tk
                 FROM documents),
                unnest(generate_series(0, len(tk) - 1)) t(i)
           WHERE len(tk[i + 1]) > 0),
         flagged AS (
           SELECT doc_id, pos, w,
                  w IN ('the','a','an','of','and','to','in','is','on',
                        'for','with','as','by','at','or','it','are',
                        'was','that','this') AS is_stop
           FROM toks),
         isl AS (
           SELECT doc_id, pos, w, is_stop,
                  sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS isl
           FROM flagged),
         words AS (
           SELECT doc_id, isl, pos, w FROM isl WHERE NOT is_stop),
         phrases AS (
           SELECT doc_id, isl,
                  string_agg(w, ' ' ORDER BY pos) AS phrase,
                  count(*)::BIGINT AS plen
           FROM words GROUP BY doc_id, isl),
         wstats AS (
           SELECT w.w, (sum(p.plen) * 1000 // count(*))::BIGINT
                    AS wscore
           FROM words w JOIN phrases p USING (doc_id, isl)
           GROUP BY w.w),
         pscore AS (
           SELECT w.doc_id, w.isl, sum(s.wscore)::BIGINT AS pscore
           FROM words w JOIN wstats s ON s.w = w.w
           GROUP BY w.doc_id, w.isl)
         SELECT p.phrase, count(*)::BIGINT AS n_occur,
                max(ps.pscore)::BIGINT AS score
         FROM phrases p JOIN pscore ps USING (doc_id, isl)
         WHERE p.plen BETWEEN 2 AND 4
         GROUP BY p.phrase
         ORDER BY score DESC, p.phrase LIMIT 15""",
    "q402_hits" -> {
      val rounds = (1 to HitsIters).map { i =>
        s""", ra$i AS (
           SELECT n.node,
                  coalesce((SELECT sum(h.h * e.cnt) FROM h${i - 1} h
                    JOIN edges e ON e.src = h.node
                    WHERE e.dst = n.node), 0)::BIGINT AS ra
           FROM nodes n),
         a$i AS (
           SELECT node,
                  (ra // ((SELECT sum(ra) FROM ra$i)
                      // ${HitsScale}))::BIGINT AS a
           FROM ra$i),
         rh$i AS (
           SELECT n.node,
                  coalesce((SELECT sum(a.a * e.cnt) FROM a$i a
                    JOIN edges e ON e.dst = a.node
                    WHERE e.src = n.node), 0)::BIGINT AS rh
           FROM nodes n),
         h$i AS (
           SELECT node,
                  (rh // ((SELECT sum(rh) FROM rh$i)
                      // ${HitsScale}))::BIGINT AS h
           FROM rh$i)"""
      }.mkString
      s"""WITH ev AS (
           SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
           FROM events),
         trans AS (
           SELECT event_type AS src,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) AS dst
           FROM ev),
         edges AS (
           SELECT src, dst, count(*)::BIGINT AS cnt FROM trans
           WHERE dst IS NOT NULL GROUP BY 1, 2),
         nodes AS (
           SELECT DISTINCT src AS node FROM edges
           UNION SELECT DISTINCT dst FROM edges),
         h0 AS (SELECT node, ${HitsScale}::BIGINT AS h FROM nodes)
         $rounds
         SELECT h.node, h.h AS hub_scaled, a.a AS auth_scaled,
                round(h.h / ${HitsScale.toDouble}, 6) AS hub,
                round(a.a / ${HitsScale.toDouble}, 6) AS auth
         FROM h$HitsIters h JOIN a$HitsIters a ON a.node = h.node
         ORDER BY h.node"""
    },
    // SQL:2003 linear-regression aggregate family (REGR_*) + COVAR/
    // CORR — the standard surface an analyst reaches for before any ML
    // library (q372's closed-form OLS via the engine's own builtins).
    // All six REGR_ members plus covariance, rounded identically on
    // both engines; per-returnflag grouping keeps it one partial-merge
    // aggregate.
    "q404_regr_aggregates" ->
      """SELECT l_returnflag,
                regr_count(l_extendedprice, l_quantity)::BIGINT AS rn,
                round(regr_slope(l_extendedprice, l_quantity), 4)
                  AS slope,
                round(regr_intercept(l_extendedprice, l_quantity), 4)
                  AS icept,
                round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
                round(regr_avgx(l_extendedprice, l_quantity), 4)
                  AS avgx,
                round(regr_avgy(l_extendedprice, l_quantity), 4)
                  AS avgy,
                round(covar_pop(l_quantity, l_extendedprice), 4)
                  AS cov_p,
                round(corr(l_quantity, l_extendedprice), 6) AS r
         FROM lineitem GROUP BY l_returnflag""",
    "q405_within_group" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.5), 4)
                  AS median_price,
                round(quantile_cont(l_extendedprice, 0.9), 4)
                  AS p90_price,
                quantile_disc(l_quantity, 0.5) AS median_qty_disc,
                count(*)::BIGINT AS n
         FROM lineitem GROUP BY l_returnflag"""
  )
}
