package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Banded 1-D numeric range join — the Spark-native rewrite of the
  * reference's RangeJoinHashTable (`QueryEngine/JoinHashTable/
  * RangeJoinHashTable.cpp` in /root/reference): both sides are
  * floor-quantized at the radius, the probe side replicates to the ±1
  * neighbor buckets, the join is a plain equi-join on the bucket id, and
  * the exact predicate filters the survivors.
  *
  * Why it matters at 100 TB: a θ-join `|a.x - b.x| < r` has no equi-key,
  * so Catalyst can only plan BroadcastNestedLoopJoin (O(n·m), and the
  * build side must fit in memory). The banded form is a shuffled
  * equi-join: each row meets only its 3-bucket neighborhood, work is
  * O(matches), both sides stream, and AQE handles bucket skew. This is
  * the same trick Geo.q61 uses in 2-D (grid cells).
  */
object RangeJoin {

  type Q = (SparkSession, String) => DataFrame

  /** Join `a` × `b` on |ax − bx| < r. Column names of `a` and `b` must
    * be disjoint (standard for join inputs).
    */
  def bandJoin(a: DataFrame, ax: Column, b: DataFrame, bx: Column,
      r: Double): DataFrame = {
    require(r > 0, s"radius must be positive, got $r")
    val bandA = a.withColumn("__band", floor(ax / r).cast("long"))
    val bandB = b
      .withColumn("__b0", floor(bx / r).cast("long"))
      .withColumn("__band",
        explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)))
      .drop("__b0")
    bandA.join(bandB, "__band")
      .filter(abs(ax - bx) < r)
      .drop("__band")
  }

  val queries: Seq[(String, Q)] = Seq(
    // Numeric interval self-join: supplier pairs within 100.0 of each
    // other's account balance — banded, never all-pairs (contrast with
    // q11's reference-faithful loop join; PlanSpec pins the plan shape).
    "q75_range_band_join" -> ((s, d) => {
      val a = t(s, d, "supplier").select(
        col("s_suppkey").as("s1"), col("s_acctbal").as("bal1"))
      val b = t(s, d, "supplier").select(
        col("s_suppkey").as("s2"), col("s_acctbal").as("bal2"))
      bandJoin(a, col("bal1"), b, col("bal2"), 100.0)
        .filter(col("s1") < col("s2"))
        .select(col("s1"), col("s2"),
          (col("bal1") - col("bal2")).as("gap"))
    }),

    // Exact n-gram Jaccard on a small document slice, NO LSH pruning —
    // the DuckDB-checkable ground truth for the q41 LSH pipeline (same
    // shingle builder; the LSH path must only ever prune, never invent).
    "q76_jaccard_exact" -> ((s, d) => {
      val sh = Dedup.shingles(s, d).filter(col("doc_id") < 50)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("a_id"), col("sh"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh")), "sh")
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("c"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
          "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")),
          "b_id")
        .select(col("a_id"), col("b_id"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c")))
            .as("jaccard"))
    }),

    // INTERVAL OVERLAP join, banded: concurrent user sessions across
    // users. With bucket size B ≥ the longest interval, two overlapping
    // intervals start within B of each other, so the ±1-bucket banding
    // on START makes the overlap predicate an equi-join + filter — the
    // temporal analog of the distance range join, O(matches), never
    // all-pairs. B comes from one scalar max-duration aggregate.
    "q174_interval_overlap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val sess = t(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .filter(col("user_id") < 40)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_us").isNull, lit(0L))
            .when(col("ts_us") - col("prev_us") > 1800000000L, lit(1L))
            .otherwise(lit(0L)))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding,
            0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
        // Materialized once (the staged-metadata pattern): the band
        // statistic and BOTH join sides read this table, so the
        // windowed sessionization runs a single time and the 1-row
        // max-duration lookup is a cheap scan, not a third full pass.
        .localCheckpoint()
      val bMax = math.max(1L,
        sess.agg(max(col("e_us") - col("s_us"))).head().getLong(0))
      val a = sess.select(col("user_id").as("a_user"),
        col("s_us").as("a_s"), col("e_us").as("a_e"))
      val b = sess.select(col("user_id").as("b_user"),
        col("s_us").as("b_s"), col("e_us").as("b_e"))
      bandJoin(a, col("a_s").cast("double"), b, col("b_s").cast("double"),
          bMax.toDouble + 1.0)
        .filter(col("a_user") < col("b_user") &&
          col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        .groupBy(col("a_user"), col("b_user"))
        .agg(count(lit(1)).as("n_overlaps"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q75_range_band_join" ->
      """SELECT a.s_suppkey AS s1, b.s_suppkey AS s2,
                a.s_acctbal - b.s_acctbal AS gap
         FROM supplier a JOIN supplier b
           ON a.s_suppkey < b.s_suppkey
          AND abs(a.s_acctbal - b.s_acctbal) < 100.0""",
    // The same interval join written NAIVELY as abs(x-y) < r — the
    // GeoRangeJoinRule's 1-D pattern must rewrite it automatically
    // (PlanSpec pins no nested loop).
    "q105_num_range_rule" ->
      """SELECT a.s_suppkey AS s1, b.s_suppkey AS s2,
                a.s_acctbal - b.s_acctbal AS gap
         FROM supplier a JOIN supplier b
           ON a.s_suppkey < b.s_suppkey
          AND abs(a.s_acctbal - b.s_acctbal) < 100.0""",
    "q76_jaccard_exact" ->
      """WITH docs AS (
           SELECT doc_id,
                  regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')),
                    ' +') AS toks
           FROM documents WHERE doc_id < 50),
         idx AS (
           SELECT doc_id, toks,
                  unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
           FROM docs),
         sh AS (
           SELECT DISTINCT doc_id,
                  CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
                       ELSE toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  END AS sh
           FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id,
                c::DOUBLE / (na.n + nb.n - c) AS jaccard
         FROM inter
         JOIN sizes na ON na.doc_id = a_id
         JOIN sizes nb ON nb.doc_id = b_id""",
    "q174_interval_overlap" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us
           FROM events WHERE user_id < 40),
         marked AS (
           SELECT user_id, ts_us,
                  CASE WHEN lag(ts_us) OVER w IS NULL THEN 0
                       WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
                       ELSE 0 END AS is_new
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         sessions AS (
           SELECT user_id, ts_us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
           FROM marked),
         sess AS (
           SELECT user_id, session_id, min(ts_us) AS s_us,
                  max(ts_us) AS e_us
           FROM sessions GROUP BY user_id, session_id)
         SELECT a.user_id AS a_user, b.user_id AS b_user,
                count(*) AS n_overlaps
         FROM sess a JOIN sess b
           ON a.user_id < b.user_id
          AND a.s_us <= b.e_us AND b.s_us <= a.e_us
         GROUP BY 1, 2"""
  )
}
