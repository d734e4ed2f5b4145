package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** The reference's headline benchmark query set, shape-for-shape —
  * Litwintschik taxi MQ01-MQ04 (`Benchmarks/queries/taxis/MQ01-MQ04.sql`
  * in /root/reference; BASELINE.md), mapped onto the events fixture:
  * event_type ↔ cab_type, user_id%10 ↔ passenger_count, value ↔
  * total_amount/trip_distance. These are the plans the reference's GPU
  * kernels race on; in Spark each is a single-pass partial/final
  * HashAggregate over the scan — the optimal shape at any scale.
  */
object TaxiParity {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // MQ06: SAMPLE_RATIO(r) + the same predicate. Production maps
    // SAMPLE_RATIO to the registered macro (xxhash64-keyed, q59); the
    // parity gate uses the engine-portable md5 hash at the same ratio
    // so the sampled COUNT replays exactly in both engines.
    "q278_taxi_mq06_sample_ratio" -> ((s, d) =>
      t(s, d, "events")
        .filter((Dedup.hash60(concat_ws("", lit("sr:"), col("event_id")))
          % 1000000L < lit((0.0138281891 * 1000000L).toLong)) &&
          col("value") >= 20.0 && col("value") <= 40.0)
        .agg(count(lit(1)).as("n")))
  )

  val oracles: Seq[(String, String)] = Seq(
    // MQ01: count by type.
    "q110_taxi_mq01" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY 1""",
    // MQ02: avg(amount) by passenger_count.
    "q111_taxi_mq02" ->
      """SELECT user_id % 10 AS pc, avg(value) AS avg_value
         FROM events GROUP BY 1""",
    // MQ03: count by (passenger_count, year).
    "q112_taxi_mq03" ->
      """SELECT user_id % 10 AS pc, year(ts::TIMESTAMP)::INT AS yr,
                count(*) AS n
         FROM events GROUP BY 1, 2""",
    // MQ04: count by (passenger_count, year, integer distance), ordered.
    "q113_taxi_mq04" ->
      """SELECT user_id % 10 AS pc, year(ts::TIMESTAMP)::INT AS yr,
                floor(value)::BIGINT AS dist, count(*) AS n
         FROM events GROUP BY 1, 2, 3""",
    // MQ05: deterministic pseudo-sample via the Knuth multiplicative
    // hash on the stable row id (`MOD(MOD(rowid, 2^32)*2654435761,
    // 2^32) < T`, the reference's literal formula with its own
    // threshold constant ~1.17%), under a bbox-style range predicate
    // (value band stands in for the dropoff box). The multiply is
    // 16-bit-split (2654435761 = 40503*65536 + 31153) so the mod-2^32
    // product never exceeds signed-64-bit range — a naive a*2654435761
    // overflows for a > ~3.47e9, which real 100 TB row ids reach
    // (Spark would wrap silently, DuckDB would abort). Pure integer
    // math — the oracle replays the sample bit-for-bit.
    "q277_taxi_mq05_rowid_sample" ->
      """SELECT count(*) AS n FROM events
         WHERE ((event_id % 4294967296) * 40503 % 4294967296 * 65536
                + (event_id % 4294967296) * 31153) % 4294967296
                 < 50391620
           AND value >= 20.0 AND value <= 40.0""",
    "q278_taxi_mq06_sample_ratio" ->
      """SELECT count(*) AS n FROM events
         WHERE ('0x' || substr(md5('sr:' || event_id), 1, 15))::BIGINT
                 % 1000000 < 13828
           AND value >= 20.0 AND value <= 40.0"""
  )
}
