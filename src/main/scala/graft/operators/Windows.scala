package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Window functions — full kind coverage of the reference
  * (`Shared/sqldefs.h:143-195` in /root/reference: ROW_NUMBER, RANK,
  * DENSE_RANK, PERCENT_RANK, CUME_DIST, NTILE, LAG/LEAD, FIRST/LAST/
  * NTH_VALUE, framed MIN/MAX/AVG/SUM/COUNT, COUNT_IF/SUM_IF,
  * FORWARD_FILL/BACKWARD_FILL, CONDITIONAL_CHANGE_EVENT; frame bounds
  * `Shared/sqldefs.h:216-222` ROWS and RANGE).
  *
  * The reference materializes and sorts each partition and uses a
  * segment tree for O(log n) framed aggregates
  * (`QueryEngine/WindowContext.cpp:1238,1809`, `Utils/SegmentTree.h:61`);
  * Spark's WindowExec gives the same semantics with partition-parallel
  * sort — the shuffle is on the partition key, so at 100 TB the work
  * distributes across executors as long as partition keys have
  * cardinality ≫ executor count (true here: per-customer / per-user).
  * All orderings carry a unique tie-break key so results are
  * deterministic and oracle-comparable.
  */
object Windows {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // Framed aggregates: running sum (ROWS), moving avg (ROWS 2 PRECEDING),
    // RANGE frame over a numeric ordering, framed min/max/count.
    "q19_window_frames" -> ((s, d) => {
      val wo = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wRange = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(-50000L, 0L)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice"))
          .over(wo.rowsBetween(Window.unboundedPreceding, 0)).as("run_rev"),
        avg(col("o_totalprice"))
          .over(wo.rowsBetween(-2, 0)).as("mov_avg3"),
        min(col("o_totalprice"))
          .over(wo.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as("part_min"),
        count(lit(1))
          .over(wo.rowsBetween(-1, 1)).as("n_neighbors"),
        sum(col("o_totalprice")).over(wRange).as("range_sum"))
    }),

    // LAG / LEAD / FIRST_VALUE / LAST_VALUE / NTH_VALUE.
    "q20_window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        lag(col("o_totalprice"), 2, -1.0).over(w).as("prev2_dflt"),
        first(col("o_totalprice")).over(wf).as("first_price"),
        last(col("o_totalprice")).over(wf).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
    }),

    // FORWARD_FILL / BACKWARD_FILL (`Shared/sqldefs.h` kFORWARD_FILL):
    // last-non-null-so-far / next-non-null, as in the reference's
    // window fill kinds. Nulls injected on 'error' events.
    "q21_window_fill" -> ((s, d) => {
      val base = t(s, d, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")).as("v"))
      val wAsc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      base.select(
        col("event_id"), col("user_id"), col("v"),
        last(col("v"), ignoreNulls = true).over(wAsc).as("ffill"),
        last(col("v"), ignoreNulls = true).over(wDesc).as("bfill"))
    }),

    // NTILE / PERCENT_RANK / CUME_DIST + windowed COUNT_IF/SUM_IF
    // (sum(when...) rewrite per SURVEY §2.5).
    "q23_window_distribution" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        sum(when(col("o_orderpriority") === "1-URGENT", lit(1L))
          .otherwise(lit(0L)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("urgent_so_far"))
    }),

    // *_IN_FRAME value-function variants (`Shared/sqldefs.h:143-195`
    // LAG_IN_FRAME / LEAD_IN_FRAME / FIRST_VALUE_IN_FRAME /
    // LAST_VALUE_IN_FRAME / NTH_VALUE_IN_FRAME): value functions
    // evaluated against an EXPLICIT frame instead of the whole
    // partition. FIRST/LAST/NTH take the ROWS frame directly (empty
    // frame → NULL); LAG/LEAD_IN_FRAME(x, k) is the offset row iff it
    // falls inside the frame, expressed as the frame-membership
    // predicate over row_number — the identical formula on both
    // engines. The RANGE leg runs on the epoch-µs axis (1-hour trailing
    // frame), tie-safe because RANGE frames include all order-key peers.
    "q330_window_in_frame" -> ((s, d) => {
      val wp = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val w3 = wp.rowsBetween(-3, -1)
      val wr = Window.partitionBy(col("event_type"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      val rn = row_number().over(wp)
      val np = count(lit(1)).over(Window.partitionBy(col("event_type")))
      t(s, d, "events").select(
        col("event_id"), col("event_type"),
        first(col("value")).over(w3).as("fv_frame"),
        last(col("value")).over(w3).as("lv_frame"),
        nth_value(col("value"), 2).over(w3).as("nv2_frame"),
        when(rn > 2, lag(col("value"), 2).over(wp)).as("lag_in_frame"),
        when(np - rn >= 2, lead(col("value"), 2).over(wp))
          .as("lead_in_frame"),
        min(col("value")).over(wr).as("min_1h"),
        count(lit(1)).over(wr).as("n_1h"))
    }),

    // SQL:2016 frame EXCLUDE clause (EXCLUDE CURRENT ROW / GROUP /
    // TIES) — Spark has no EXCLUDE syntax, so each variant is derived
    // from two framed aggregates: full-frame minus the current row /
    // minus the peer-group sum (the CURRENT ROW..CURRENT ROW RANGE
    // frame IS the peer group) / plus the current row back for TIES.
    // NULL-on-empty matches the standard via count guards. Measures are
    // exact integers (floor(value·1000)) so the subtraction algebra is
    // exact on both engines; the oracle uses DuckDB's NATIVE EXCLUDE,
    // so this gates real standard semantics, not a shared rewrite.
    "q331_window_exclude" -> ((s, d) => {
      val day = date_trunc("day", col("ts"))
      val base = t(s, d, "events")
        .select(col("event_id"), col("event_type"), day.as("d"),
          floor(col("value") * 1000).cast("long").as("v"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wPeer = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rangeBetween(Window.currentRow, Window.currentRow)
      val cF = count(lit(1)).over(wCum)
      val cP = count(lit(1)).over(wPeer)
      val sF = sum(col("v")).over(wCum)
      val sP = sum(col("v")).over(wPeer)
      base.select(col("event_id"), col("event_type"), col("d"),
        col("v"),
        when(cF > 1, sF - col("v")).as("sum_excl_current"),
        when(cF > cP, sF - sP).as("sum_excl_group"),
        (sF - sP + col("v")).as("sum_excl_ties"),
        (cF - 1).as("n_excl_current"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // Ranking family over per-customer order history.
    "q18_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(row_number() OVER w AS INT) AS rn,
                CAST(rank() OVER w AS INT) AS rk,
                CAST(dense_rank() OVER w AS INT) AS drk
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC)""",
    "q19_window_frames" ->
      """SELECT o_custkey, o_orderkey,
                sum(o_totalprice) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS run_rev,
                avg(o_totalprice) OVER (wo ROWS BETWEEN 2 PRECEDING
                  AND CURRENT ROW) AS mov_avg3,
                min(o_totalprice) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING) AS part_min,
                count(*) OVER (wo ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                  AS n_neighbors,
                sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice
                  RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS range_sum
         FROM orders
         WINDOW wo AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC)""",
    "q20_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_totalprice, 1) OVER w AS next_price,
                lag(o_totalprice, 2, -1.0) OVER w AS prev2_dflt,
                first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
                last_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
                nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND UNBOUNDED FOLLOWING) AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)""",
    "q21_window_fill" ->
      """WITH base AS (
           SELECT event_id, user_id, ts,
                  CASE WHEN event_type = 'error' THEN NULL
                       ELSE value END AS v
           FROM events)
         SELECT event_id, user_id, v,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id
                  ORDER BY ts::TIMESTAMP ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id
                  ORDER BY ts::TIMESTAMP DESC, event_id DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bfill
         FROM base""",
    // CONDITIONAL_CHANGE_EVENT (`Shared/sqldefs.h:143-195`): running count
    // of changes of event_type per user — lag + running sum rewrite.
    "q22_window_cce" ->
      """WITH chg AS (
           SELECT event_id, user_id, ts,
                  CASE WHEN lag(event_type, 1) OVER w IS NULL THEN 0
                       WHEN lag(event_type, 1) OVER w <> event_type THEN 1
                       ELSE 0 END AS changed
           FROM events
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY ts::TIMESTAMP ASC, event_id ASC))
         SELECT event_id, user_id,
                (sum(changed) OVER (PARTITION BY user_id
                  ORDER BY ts::TIMESTAMP ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                  AS cce
         FROM chg""",
    "q23_window_distribution" ->
      """SELECT o_orderkey, o_orderstatus,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cdist,
                (sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                          ELSE 0 END) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW))::BIGINT AS urgent_so_far
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    "q330_window_in_frame" ->
      """SELECT event_id, event_type,
                first_value(value) OVER w3 AS fv_frame,
                last_value(value) OVER w3 AS lv_frame,
                nth_value(value, 2) OVER w3 AS nv2_frame,
                CASE WHEN row_number() OVER wp > 2
                     THEN lag(value, 2) OVER wp END AS lag_in_frame,
                CASE WHEN (count(*) OVER wpart) - (row_number() OVER wp)
                          >= 2
                     THEN lead(value, 2) OVER wp END AS lead_in_frame,
                min(value) OVER wr AS min_1h,
                (count(*) OVER wr)::BIGINT AS n_1h
         FROM events
         WINDOW
           wp AS (PARTITION BY event_type
                  ORDER BY ts::TIMESTAMP ASC, event_id ASC),
           w3 AS (PARTITION BY event_type
                  ORDER BY ts::TIMESTAMP ASC, event_id ASC
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
           wpart AS (PARTITION BY event_type),
           wr AS (PARTITION BY event_type
                  ORDER BY epoch_us(ts::TIMESTAMP)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "q331_window_exclude" ->
      """WITH base AS (
           SELECT event_id, event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS d,
                  floor(value * 1000)::BIGINT AS v
           FROM events)
         SELECT event_id, event_type, d, v,
                (sum(v) OVER (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   EXCLUDE CURRENT ROW))::BIGINT AS sum_excl_current,
                (sum(v) OVER (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   EXCLUDE GROUP))::BIGINT AS sum_excl_group,
                (sum(v) OVER (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   EXCLUDE TIES))::BIGINT AS sum_excl_ties,
                (count(*) OVER (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   EXCLUDE CURRENT ROW))::BIGINT AS n_excl_current
         FROM base"""
  )
}
