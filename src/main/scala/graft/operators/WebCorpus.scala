package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Web-corpus curation + warehouse-history operators: the ingest-side
  * hygiene a crawled 100 TB pretraining corpus needs before any
  * content-level dedup (Dedup.scala) runs, plus the slowly-changing-
  * dimension bookkeeping of the warehouse around it.
  *
  * - q285 URL canonicalization + per-domain cap (C4 / RefinedWeb-style
  *   web curation, Raffel et al. 2020 / Penedo et al. 2023): lowercase
  *   scheme+host, strip www., tracking query strings, and fragments;
  *   URL-dedup on the canonical form; then cap each domain's
  *   contribution via deterministic smallest-hash selection — the
  *   crawl-diversity guard that stops one domain dominating the mix.
  * - q286 SCD Type-2 history build: collapse an ordered event stream
  *   (per-customer order statuses) into change-only rows with
  *   [valid_from, valid_to) validity windows and an is_current flag —
  *   the dimension-history operator every warehouse ships
  *   (Kimball SCD2), expressed as two per-key windows.
  * - q295 point-in-time join against that SCD2 history: facts resolve
  *   the dimension version valid AT their own timestamp — an equi-join
  *   on the dimension key with the validity window as an in-group
  *   filter, never a range shuffle.
  * - q287 time-decayed engagement score: half-life-weighted event sums
  *   where every term is an EXACTLY-representable dyadic double
  *   (integer cents x 0.5^n, n <= 20), so the aggregate is
  *   order-independent and engine-portable — the trick that makes a
  *   float decay hash-comparable without decimal gymnastics.
  *
  * Scale design (100 TB): q285 is one projection + two hash-shuffles
  * (canonical-url group, domain group); the per-domain cap is a
  * bounded-K window per domain key. q286 shuffles once on the
  * dimension key. q287 is one corpus scan + one user-keyed aggregate;
  * the reference hour anchor is a 1-row broadcast.
  */
object WebCorpus {

  type Q = (SparkSession, String) => DataFrame

  /** Max docs kept per registrable domain (politeness/diversity cap). */
  private val DomainCap = 8
  /** Decay: weight halves every 7 days, exponent clamped to 20 so each
    * term (cents * 2^-n) stays inside 53 significand bits => exact.
    */
  private val HalfLifeDays = 7L
  private val MaxExp = 20

  private def h60(c: Column): Column = Dedup.hash60(c)

  val queries: Seq[(String, Q)] = Seq(

    // URLs are synthesized deterministically from fixture columns
    // (mixed-case host, tracking params on every 3rd doc, fragments on
    // every 5th) — the operator under test is the canonicalizer, not
    // the generator. Canonical form: lowercase scheme+host, strip
    // leading www., drop ?query and #fragment, strip trailing slash.
    // Then: URL-level dedup (canonical -> min doc_id) and a
    // per-domain cap keeping the DomainCap smallest-hash docs.
    "q285_url_canonicalize_cap" -> ((s, d) => {
      val raw = t(s, d, "documents").select(col("doc_id"), col("lang"),
        concat(lit("HTTPS://WWW."), initcap(col("source")),
          lit(".Example.COM/"), col("lang"), lit("/p"),
          col("doc_id") % 7,
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&ref="), col("doc_id")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
      val canon = raw.withColumn("curl",
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("url")), "[?#].*$", ""),
            "^https?://www\\.", "https://"),
          "/$", ""))
        .withColumn("domain",
          regexp_extract(col("curl"), "^https://([^/]+)", 1))
      val urlDedup = canon.groupBy(col("domain"), col("curl"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_same_url"))
      val w = Window.partitionBy(col("domain"))
        .orderBy(h60(concat(lit("cap:"), col("doc_id"))).asc,
          col("doc_id").asc)
      val capped = urlDedup.withColumn("rk", row_number().over(w))
        .withColumn("kept", col("rk") <= DomainCap)
      capped.groupBy(col("domain"))
        .agg(sum(col("n_same_url")).as("n_docs"),
          count(lit(1)).as("n_distinct_urls"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_same_url") - 1).as("n_url_dups"))
    }),

    // SCD2: per-customer order-status history. Event order is
    // (o_orderdate, o_orderkey) — the tiebreak makes the history
    // deterministic; change-only rows survive (lag != status); each
    // row's validity is [valid_from, next change's valid_from), open
    // (null) for the current row.
    // Kept over its oracle SQL: WebCorpusSpec reads valid_from as a
    // TIMESTAMP_NTZ (o_orderdate's type); the oracle text's ::TIMESTAMP
    // cast makes it a session-zone TIMESTAMP through the engine.
    "q286_scd2_history" -> ((s, d) => {
      val ev = t(s, d, "orders").select(col("o_custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("ts"), col("o_orderkey"))
      val wo = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts").asc, col("o_orderkey").asc)
      val changes = ev
        .withColumn("prev", lag(col("status"), 1).over(wo))
        .filter(col("prev").isNull || col("prev") =!= col("status"))
      val wc = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts").asc, col("o_orderkey").asc)
      changes
        .withColumn("version", row_number().over(wc))
        .withColumn("valid_to", lead(col("ts"), 1).over(wc))
        .select(col("o_custkey"), col("version"), col("status"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    }),

    // Point-in-time (temporal) join against the q286 SCD2 history:
    // each order resolves its customer's status AS OF the order's own
    // timestamp — equi-join on the dimension key, validity-window
    // filter inside the key group ([valid_from, valid_to), open end).
    // The canonical SCD2 consumer: key-hash shuffle only, never a
    // range shuffle, because the window predicate rides the equi-join.
    // Kept over its oracle SQL: 301 vs 393 ms warm at sf0.1 (median, 4 of
    // 5 runs).
    "q295_pit_scd2_join" -> ((s, d) => {
      val ev = t(s, d, "orders").select(col("o_custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("ts"), col("o_orderkey"))
      val wo = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts").asc, col("o_orderkey").asc)
      val hist = ev
        .withColumn("prev", lag(col("status"), 1).over(wo))
        .filter(col("prev").isNull || col("prev") =!= col("status"))
        .withColumn("version", row_number().over(wo))
        .withColumn("valid_to", lead(col("ts"), 1).over(wo))
        .select(col("o_custkey").as("h_custkey"), col("version"),
          col("status").as("h_status"), col("ts").as("valid_from"),
          col("valid_to"))
      t(s, d, "orders").as("f")
        .join(hist,
          col("f.o_custkey") === col("h_custkey") &&
            col("valid_from") <= col("f.o_orderdate") &&
            (col("valid_to").isNull ||
              col("f.o_orderdate") < col("valid_to")),
          "left")
        .select(col("f.o_orderkey").as("o_orderkey"),
          col("f.o_custkey").as("o_custkey"),
          col("f.o_orderdate").as("ts"),
          col("h_status").as("status_asof"), col("version"))
    }),

    // Half-life-decayed engagement: score(u) = sum over events of
    // round(value*100) * 0.5^min(age_weeks, MaxExp), anchored at the
    // corpus max timestamp. cents <= ~2^15 and exponent <= 20 keep
    // every term exact in binary double => the sum is associative and
    // engine-identical; /100 + round(6) only at the very end.
    "q287_decayed_engagement" -> ((s, d) => {
      val ev = t(s, d, "events")
      val anchor = ev.agg(max(col("ts")).as("t_ref"))
      val scored = ev.crossJoin(broadcast(anchor))
        .withColumn("age_d",
          floor((unix_micros(col("t_ref")) - unix_micros(col("ts"))) /
            lit(86400000000L)))
        .withColumn("n",
          least(floor(col("age_d") / HalfLifeDays), lit(MaxExp.toLong)))
        .withColumn("term",
          round(col("value") * 100).cast("long") * pow(lit(0.5), col("n")))
      scored.groupBy(col("user_id"))
        .agg(round(sum(col("term")) / 100.0, 6).as("decayed_score"),
          count(lit(1)).as("n_events"))
        .orderBy(col("decayed_score").desc, col("user_id").asc)
        .limit(20)
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q285_url_canonicalize_cap" ->
      s"""WITH raw AS (
           SELECT doc_id, lang,
                  'HTTPS://WWW.' || upper(source[1]) || source[2:] ||
                  '.Example.COM/' || lang || '/p' || (doc_id % 7) ||
                  CASE WHEN doc_id % 3 = 0
                       THEN '?utm_source=feed&ref=' || doc_id ELSE '' END ||
                  CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
           FROM documents),
         canon AS (
           SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(lower(url), '[?#].*$$', ''),
                      '^https?://www\\.', 'https://'),
                    '/$$', '') AS curl
           FROM raw),
         canon2 AS (
           SELECT doc_id, curl,
                  regexp_extract(curl, '^https://([^/]+)', 1) AS domain
           FROM canon),
         url_dedup AS (
           SELECT domain, curl, min(doc_id) AS doc_id,
                  count(*) AS n_same_url
           FROM canon2 GROUP BY 1, 2),
         capped AS (
           SELECT domain, n_same_url,
                  row_number() OVER (PARTITION BY domain
                    ORDER BY ('0x' || substr(md5('cap:' || doc_id), 1, 15))
                      ::BIGINT ASC, doc_id ASC) AS rk
           FROM url_dedup)
         SELECT domain, sum(n_same_url)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_distinct_urls,
                sum(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END)::BIGINT
                  AS n_kept,
                sum(n_same_url - 1)::BIGINT AS n_url_dups
         FROM capped GROUP BY domain""",
    "q286_scd2_history" ->
      """WITH ev AS (
           SELECT o_custkey, o_orderstatus AS status,
                  o_orderdate::TIMESTAMP AS ts, o_orderkey
           FROM orders),
         changes AS (
           SELECT * FROM (
             SELECT o_custkey, status, ts, o_orderkey,
                    lag(status) OVER (PARTITION BY o_custkey
                      ORDER BY ts ASC, o_orderkey ASC) AS prev
             FROM ev)
           WHERE prev IS NULL OR prev <> status)
         SELECT o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY ts ASC, o_orderkey ASC)::INT AS version,
                status, ts AS valid_from,
                lead(ts) OVER (PARTITION BY o_custkey
                  ORDER BY ts ASC, o_orderkey ASC) AS valid_to,
                lead(ts) OVER (PARTITION BY o_custkey
                  ORDER BY ts ASC, o_orderkey ASC) IS NULL AS is_current
         FROM changes""",
    "q295_pit_scd2_join" ->
      """WITH ev AS (
           SELECT o_custkey, o_orderstatus AS status,
                  o_orderdate::TIMESTAMP AS ts, o_orderkey
           FROM orders),
         hist AS (
           SELECT o_custkey AS h_custkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY ts ASC, o_orderkey ASC)::INT AS version,
                  status AS h_status, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY o_custkey
                    ORDER BY ts ASC, o_orderkey ASC) AS valid_to
           FROM (
             SELECT * FROM (
               SELECT o_custkey, status, ts, o_orderkey,
                      lag(status) OVER (PARTITION BY o_custkey
                        ORDER BY ts ASC, o_orderkey ASC) AS prev
               FROM ev)
             WHERE prev IS NULL OR prev <> status))
         SELECT f.o_orderkey, f.o_custkey,
                f.o_orderdate::TIMESTAMP AS ts,
                h.h_status AS status_asof, h.version
         FROM orders f
         LEFT JOIN hist h
           ON h.h_custkey = f.o_custkey
          AND h.valid_from <= f.o_orderdate::TIMESTAMP
          AND (h.valid_to IS NULL
               OR f.o_orderdate::TIMESTAMP < h.valid_to)""",
    "q287_decayed_engagement" ->
      s"""WITH anchor AS (SELECT max(ts::TIMESTAMP) AS t_ref FROM events),
         scored AS (
           SELECT e.user_id,
                  round(e.value * 100)::BIGINT *
                  power(0.5, least((epoch_us(a.t_ref) -
                    epoch_us(e.ts::TIMESTAMP)) // 86400000000
                    // $HalfLifeDays, $MaxExp)) AS term
           FROM events e, anchor a)
         SELECT user_id, round(sum(term) / 100.0, 6) AS decayed_score,
                count(*)::BIGINT AS n_events
         FROM scored GROUP BY user_id
         ORDER BY decayed_score DESC, user_id ASC LIMIT 20"""
  )
}
