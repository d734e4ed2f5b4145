package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Operational diagnostics + CDC compaction: the run-the-cluster
  * operators that sit beside the query surface.
  *
  * - q292 join-key skew advisor: the pre-flight diagnostic for
  *   SkewJoin.saltedJoin (q154) and AQE skew splitting — top heavy
  *   keys with their share of the table and an integer recommended
  *   salt fan-out (smallest s with cnt/s <= 2x the mean key load).
  *   The reference hits the same wall as one-sided fragment skew;
  *   Spark's answer is salting/AQE, and this is the advisor that says
  *   WHERE and HOW MUCH.
  * - q293 latest-per-key compaction (CDC upsert semantics): collapse
  *   an append-only change log to current state — last writer wins
  *   under the total order (ts, event_id). One max(struct) aggregate:
  *   the upsert-view pattern every lakehouse table format provides,
  *   with NO window over the log.
  * - q294 audience segment overlap: per-user behavior flags distilled
  *   in one pass, then the pairwise segment intersection matrix
  *   (n_a, n_b, n_both, Jaccard) via a user-keyed self-join of the
  *   BOUNDED flags table — the product-analytics cousin of the
  *   dedup-pair machinery.
  *
  * Scale: q292 is one key-count aggregate + a top-k; q293 one
  * key-keyed aggregate (map-side combinable max(struct)); q294's
  * self-join runs on (user x segment) rows — |users| x small-k, and
  * the final matrix is k^2 rows.
  */
object OpsDiagnostics {

  type Q = (SparkSession, String) => DataFrame

  private val TopSkew = 10

  val queries: Seq[(String, Q)] = Seq(

    // Skew advisor over the events join key (user_id). salt_rec is the
    // integer fan-out that brings the key's per-task load under 2x the
    // mean: ceil(cnt * n_keys / (2 * total)) — all-integer ceil-div.
    "q292_skew_advisor" -> ((s, d) => {
      val counts = t(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total"))
      counts.crossJoin(broadcast(stats))
        .select(col("user_id"), col("cnt"),
          round(col("cnt") / col("total"), 6).as("frac"),
          greatest(lit(1L),
            expr("(cnt * n_keys + 2 * total - 1) DIV (2 * total)"))
            .as("salt_rec"))
        .orderBy(col("cnt").desc, col("user_id").asc)
        .limit(TopSkew)
    }),

    // Event-log integrity audit: per-producer (user) dup-id counts,
    // out-of-order arrivals (event-id order vs event-time order), and
    // the largest silence gap — the ingest-health panel that decides
    // watermark/window settings for the streaming family. One window
    // pass + one keyed aggregate.
    "q304_log_integrity_audit" -> ((s, d) => {
      val byId = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id").asc)
      val byTs = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev_ts_by_id", lag(col("ts"), 1).over(byId))
        .withColumn("gap_min",
          floor((unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(byTs))) / lit(60000000L)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (count(lit(1)) - countDistinct(col("event_id"))).as("n_dup_ids"),
          sum(when(col("prev_ts_by_id") > col("ts"), 1L).otherwise(0L))
            .as("n_out_of_order"),
          max(col("gap_min")).as("max_gap_min"))
        .orderBy(col("user_id")).limit(50)
    }),

    // Referential-integrity audit: orphan counts for every FK edge of
    // the star schema, each an anti-join (never a full join) — plus a
    // PLANTED corruption arm (parents with o_orderkey % 97 = 0
    // withheld) proving the probe actually detects orphans. The
    // dangling-reference check DUMP/RESTORE and ingest pipelines run;
    // anti-joins broadcast the distinct parent keys or shuffle by key,
    // both linear.
    "q318_fk_orphans" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      def audit(rel: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val orphans = child.join(parent,
          child(key) === parent(pkey), "left_anti").count()
        Seq((rel, child.count(), orphans))
          .toDF("relation", "n_children", "n_orphans")
      }
      val li = t(s, d, "lineitem")
      val ord = t(s, d, "orders")
      audit("lineitem->orders", li, "l_orderkey", ord, "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey",
          t(s, d, "part"), "p_partkey"))
        .unionByName(audit("orders->customer", ord, "o_custkey",
          t(s, d, "customer"), "c_custkey"))
        .unionByName(audit("nation->region", t(s, d, "nation"),
          "n_regionkey", t(s, d, "region"), "r_regionkey"))
        .unionByName(audit("lineitem->orders_planted", li, "l_orderkey",
          ord.filter(col("o_orderkey") % 97 =!= 0), "o_orderkey"))
    }),

    // Join strategy advisor — the planner pre-flight that fuses the
    // q292 skew probe, q308-style size accounting, and key
    // cardinalities into a per-join recommendation, all in exact
    // integers: broadcast when the build side is tiny (< 10 MB
    // payload), salted sort-merge when the probe side's hottest key
    // carries > 10× the mean key load (the q154/AQE trigger), plain
    // sort-merge otherwise. One aggregate per side per edge; the same
    // thresholds Spark's own autoBroadcastJoinThreshold / AQE skew
    // factors encode, surfaced as an auditable query.
    "q325_join_strategy_advisor" -> ((s, d) => {
      def advise(rel: String, child: DataFrame, key: String,
          parent: DataFrame, pcols: Seq[String]): DataFrame = {
        val pb = parent.agg(count(lit(1)).as("parent_rows"),
          sum(length(concat_ws("|",
            pcols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)))
            .as("parent_bytes"))
        val cs = child.groupBy(col(key)).agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("child_rows"),
            count(lit(1)).as("n_keys"), max(col("c")).as("max_key"))
        cs.crossJoin(broadcast(pb))
          .select(lit(rel).as("relation"), col("child_rows"),
            col("n_keys"), col("max_key"), col("parent_rows"),
            col("parent_bytes"),
            when(col("parent_bytes") < 10000000L, "broadcast")
              .when(col("max_key") * col("n_keys") >
                col("child_rows") * 10, "salted_smj")
              .otherwise("smj").as("rec_strategy"))
      }
      val li = t(s, d, "lineitem")
      advise("lineitem->part", li, "l_partkey", t(s, d, "part"),
          Seq("p_partkey", "p_name", "p_size"))
        .unionByName(advise("lineitem->orders", li, "l_orderkey",
          t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus")))
        .unionByName(advise("orders->customer", t(s, d, "orders"),
          "o_custkey", t(s, d, "customer"),
          Seq("c_custkey", "c_name", "c_mktsegment")))
    }),

    // Order-independent table content fingerprints — the integrity
    // check behind DUMP/RESTORE and snapshot replication: per table,
    // XOR and mod-2^30-sum of the portable 60-bit row hash over ALL
    // columns (null-safe, '|'-separated). Commutative aggregates, so
    // the fingerprint is partitioning- and order-invariant — two
    // tables are byte-identical in content iff fingerprints match,
    // regardless of physical layout. One scan per table.
    "q319_table_fingerprint" -> ((s, d) => {
      def fp(name: String, cols: Seq[String]): DataFrame = {
        val row = concat_ws("|",
          cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
        t(s, d, name)
          .select(Dedup.hash60(row).as("h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("xor_fp"),
            sum(pmod(col("h"), lit(1073741824L))).as("sum_fp"))
          .select(lit(name).as("tbl"), col("n_rows"), col("xor_fp"),
            col("sum_fp"))
      }
      fp("region", Seq("r_regionkey", "r_name"))
        .unionByName(fp("nation",
          Seq("n_nationkey", "n_name", "n_regionkey")))
        .unionByName(fp("supplier",
          Seq("s_suppkey", "s_name", "s_nationkey")))
        .unionByName(fp("part",
          Seq("p_partkey", "p_name", "p_size")))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q292_skew_advisor" ->
      s"""WITH counts AS (
           SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
         stats AS (
           SELECT count(*) AS n_keys, sum(cnt) AS total FROM counts)
         SELECT user_id, cnt::BIGINT AS cnt,
                round(cnt / total, 6) AS frac,
                greatest(1, (cnt * n_keys + 2 * total - 1)
                  // (2 * total))::BIGINT AS salt_rec
         FROM counts, stats
         ORDER BY cnt DESC, user_id ASC LIMIT $TopSkew""",
    // CDC upsert view: entity key = (user_id, event_type); last writer
    // wins under (ts, event_id).
    "q293_cdc_latest_compaction" ->
      """WITH ranked AS (
           SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id,
                  value,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rk,
                  count(*) OVER (PARTITION BY user_id, event_type)
                    AS n_versions
           FROM events)
         SELECT user_id, event_type, n_versions::BIGINT AS n_versions,
                ts AS last_ts, event_id AS last_event_id,
                value AS last_value
         FROM ranked WHERE rk = 1""",
    // Segment overlap matrix: segments = event types; one pass builds
    // distinct (user, segment) membership, a user-keyed self-join
    // counts intersections, and singleton sizes join back in.
    "q294_segment_overlap" ->
      """WITH memb AS (
           SELECT DISTINCT user_id, event_type AS seg FROM events),
         sizes AS (SELECT seg, count(*) AS n FROM memb GROUP BY seg),
         ov AS (
           SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS n_both
           FROM memb a JOIN memb b
             ON a.user_id = b.user_id AND a.seg < b.seg
           GROUP BY 1, 2)
         SELECT seg_a, seg_b, sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
                n_both::BIGINT AS n_both,
                round(n_both / (sa.n + sb.n - n_both), 6) AS jaccard
         FROM ov
         JOIN sizes sa ON sa.seg = ov.seg_a
         JOIN sizes sb ON sb.seg = ov.seg_b""",
    "q304_log_integrity_audit" ->
      """WITH e AS (
           SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
         f AS (
           SELECT user_id, event_id, ts,
                  lag(ts) OVER (PARTITION BY user_id
                    ORDER BY event_id) AS prev_ts_by_id,
                  (epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)))
                    // 60000000 AS gap_min
           FROM e)
         SELECT user_id, count(*)::BIGINT AS n_events,
                (count(*) - count(DISTINCT event_id))::BIGINT AS n_dup_ids,
                sum(CASE WHEN prev_ts_by_id > ts THEN 1 ELSE 0 END)
                  ::BIGINT AS n_out_of_order,
                max(gap_min)::BIGINT AS max_gap_min
         FROM f GROUP BY user_id ORDER BY user_id LIMIT 50""",
    // k-anonymity audit (Sweeney 2002) over the quasi-identifier
    // (c_nationkey, c_mktsegment): the governance check before a
    // dataset release — the k level actually achieved (min group
    // size), how many groups/rows violate the k=5 policy, and what
    // survives suppression of the violating groups. One grouped
    // aggregate + one global aggregate over it; exact integers. Sits beside the GDPR
    // erasure audit (q271) in the release-gate family.
    "q317_k_anonymity" ->
      """WITH g AS (
           SELECT c_nationkey, c_mktsegment, count(*) AS sz
           FROM customer GROUP BY 1, 2)
         SELECT count(*)::BIGINT AS n_groups,
                min(sz)::BIGINT AS k_anonymity,
                sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END)::BIGINT
                  AS n_violating_groups,
                sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::BIGINT
                  AS n_rows_at_risk,
                sum(CASE WHEN sz >= 5 THEN sz ELSE 0 END)::BIGINT
                  AS n_rows_after_suppression
         FROM g""",
    "q318_fk_orphans" ->
      """SELECT 'lineitem->orders' AS relation,
              (SELECT count(*) FROM lineitem)::BIGINT AS n_children,
              (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
                (SELECT o_orderkey FROM orders))::BIGINT AS n_orphans
         UNION ALL
         SELECT 'lineitem->part',
              (SELECT count(*) FROM lineitem)::BIGINT,
              (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
                (SELECT p_partkey FROM part))::BIGINT
         UNION ALL
         SELECT 'orders->customer',
              (SELECT count(*) FROM orders)::BIGINT,
              (SELECT count(*) FROM orders WHERE o_custkey NOT IN
                (SELECT c_custkey FROM customer))::BIGINT
         UNION ALL
         SELECT 'nation->region',
              (SELECT count(*) FROM nation)::BIGINT,
              (SELECT count(*) FROM nation WHERE n_regionkey NOT IN
                (SELECT r_regionkey FROM region))::BIGINT
         UNION ALL
         SELECT 'lineitem->orders_planted',
              (SELECT count(*) FROM lineitem)::BIGINT,
              (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
                (SELECT o_orderkey FROM orders
                 WHERE o_orderkey % 97 <> 0))::BIGINT""",
    "q325_join_strategy_advisor" -> {
      def arm(rel: String, child: String, key: String, parent: String,
          pcols: Seq[String]): String = {
        val row = pcols.map(c => s"coalesce($c::VARCHAR, '')")
          .mkString(" || '|' || ")
        s"""SELECT '$rel' AS relation,
               (SELECT count(*) FROM $child)::BIGINT AS child_rows,
               (SELECT count(DISTINCT $key) FROM $child)::BIGINT
                 AS n_keys,
               (SELECT max(c) FROM (SELECT count(*) AS c FROM $child
                  GROUP BY $key))::BIGINT AS max_key,
               (SELECT count(*) FROM $parent)::BIGINT AS parent_rows,
               (SELECT sum(length($row)) FROM $parent)::BIGINT
                 AS parent_bytes,
               CASE WHEN (SELECT sum(length($row)) FROM $parent)
                      < 10000000 THEN 'broadcast'
                    WHEN (SELECT max(c) FROM (SELECT count(*) AS c
                        FROM $child GROUP BY $key)) *
                      (SELECT count(DISTINCT $key) FROM $child) >
                      (SELECT count(*) FROM $child) * 10
                      THEN 'salted_smj'
                    ELSE 'smj' END AS rec_strategy"""
      }
      Seq(
        arm("lineitem->part", "lineitem", "l_partkey", "part",
          Seq("p_partkey", "p_name", "p_size")),
        arm("lineitem->orders", "lineitem", "l_orderkey", "orders",
          Seq("o_orderkey", "o_custkey", "o_orderstatus")),
        arm("orders->customer", "orders", "o_custkey", "customer",
          Seq("c_custkey", "c_name", "c_mktsegment"))
      ).mkString("\n         UNION ALL\n         ")
    },
    "q319_table_fingerprint" -> {
      def arm(tbl: String, cols: Seq[String]): String = {
        val row = cols.map(c => s"coalesce($c::VARCHAR, '')")
          .mkString(" || '|' || ")
        s"""SELECT '$tbl' AS tbl, count(*)::BIGINT AS n_rows,
               bit_xor(h)::BIGINT AS xor_fp,
               sum(h % 1073741824)::BIGINT AS sum_fp
            FROM (SELECT ('0x' || substr(md5($row), 1, 15))::BIGINT AS h
                  FROM $tbl)"""
      }
      Seq(
        arm("region", Seq("r_regionkey", "r_name")),
        arm("nation", Seq("n_nationkey", "n_name", "n_regionkey")),
        arm("supplier", Seq("s_suppkey", "s_name", "s_nationkey")),
        arm("part", Seq("p_partkey", "p_name", "p_size"))
      ).mkString("\n         UNION ALL\n         ")
    }
  )
}
