package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** The reference's flights benchmark query shapes
  * (`Benchmarks/queries/flights/Q001-Q017.sql` in /root/reference;
  * BASELINE.md): bare counts, filtered counts, extract/date_trunc
  * group-bys, and the flagship avg-metric-by-month (Q005:
  * `avg(arrdelay) GROUP BY date_trunc(month, dep_timestamp)`), mapped
  * onto the events fixture (value ↔ arrdelay, ts ↔ dep_timestamp,
  * event_type ↔ carrier). Each is scan + single partial/final aggregate.
  */
object FlightsParity {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // Q-style: count by (carrier, dayofweek extract).
    "q117_fl_carrier_dow" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"),
          dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("n"))),

    // Q017: two-key group with three averages (origin/dest pair panel);
    // the second metric derives from props length (events carries one
    // native numeric).
    "q273_fl_pair_multiavg" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"),
          expr("user_id div 15").as("dest_bucket"))
        .agg(avg(col("value")).as("avg_v"),
          avg(length(col("props"))).as("avg_w"),
          avg(col("value") + length(col("props"))).as("avg_vw"))),

    // Q014: the month x ISO-day-of-week heatmap under a range filter.
    "q276_fl_month_isodow" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("ts") >= lit("2024-01-04 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-28 00:00:00").cast("timestamp"))
        .groupBy(month(col("ts")).as("key0"),
          (weekday(col("ts")) + 1).as("key1"))
        .agg(count(lit(1)).as("color")))
  )

  val oracles: Seq[(String, String)] = Seq(
    // Q001-style: bare count.
    "q114_fl_count" ->
      """SELECT count(*) AS n FROM events""",
    // Q002-style: filtered count (predicate must push to the scan).
    "q115_fl_filtered_count" ->
      """SELECT count(*) AS n FROM events WHERE value > 50.0""",
    // Q005-style flagship: avg(metric) by month bucket.
    "q116_fl_avg_by_month" ->
      """SELECT date_trunc('month', ts::TIMESTAMP)::TIMESTAMP AS mon,
                avg(value) AS avg_value
         FROM events GROUP BY 1""",
    // DuckDB dayofweek: 0=Sunday..6=Saturday; Spark: 1..7.
    "q117_fl_carrier_dow" ->
      """SELECT event_type,
                (dayofweek(ts::TIMESTAMP) + 1)::INT AS dow,
                count(*) AS n
         FROM events GROUP BY 1, 2""",
    "q273_fl_pair_multiavg" ->
      """SELECT event_type, user_id // 15 AS dest_bucket,
                avg(value) AS avg_v,
                avg(length(props)) AS avg_w,
                avg(value + length(props)) AS avg_vw
         FROM events GROUP BY 1, 2""",
    // Q012/Q016: the dashboard scatter panel — a timestamp-range filter
    // with per-carrier avg x / avg y / count size.
    "q274_fl_dashboard" ->
      """SELECT event_type AS key0, avg(value) AS x,
                avg(length(props)) AS y, count(*)::BIGINT AS size
         FROM events
         WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts::TIMESTAMP < TIMESTAMP '2024-01-22 00:00:00'
         GROUP BY 1""",
    // Q011: selective filter + raw projection with LIMIT (the record
    // inspector). The reference's limit is orderless; the parity query
    // pins (ts, event_id) order so the hash gate is deterministic.
    "q275_fl_projection_limit" ->
      """SELECT event_id, user_id, ts::TIMESTAMP AS ts, value
         FROM events
         WHERE event_type = 'error' AND value > 30.0
         ORDER BY ts, event_id LIMIT 5000""",
    "q276_fl_month_isodow" ->
      """SELECT month(ts::TIMESTAMP)::INT AS key0,
                isodow(ts::TIMESTAMP)::INT AS key1,
                count(*)::BIGINT AS color
         FROM events
         WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-04 00:00:00'
           AND ts::TIMESTAMP < TIMESTAMP '2024-01-28 00:00:00'
         GROUP BY 1, 2"""
  )
}
