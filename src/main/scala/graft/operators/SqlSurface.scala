package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.HeavyEngine

/** Queries routed through the `HeavyEngine.sql` facade — the reference's
  * production entry path (`ThriftHandler/DBHandler.cpp:1285`
  * `sql_execute` in /root/reference). These exercise, as SQL text:
  *  - the registered extension functions (quarterday, week_sunday/
  *    week_saturday extract fields `QueryEngine/ExtractFromTime.h:77-98`,
  *    TRUNCATE `QueryEngine/ExtensionFunctions.hpp`,
  *    JAROWINKLER_SIMILARITY / LEVENSHTEIN `StringOps/StringOps.h:213`);
  *  - the string-op kinds from `Shared/sqldefs.h:92-141` that are Spark
  *    built-ins (INITCAP, OVERLAY, REPEAT, POSITION, LEFT/RIGHT,
  *    SPLIT_PART, TRANSLATE, URL_ENCODE, SPACE).
  *
  * Everything here is plain Catalyst SQL → the plans are identical to the
  * DataFrame-API equivalents (scan + project, fully codegen'd, no UDFs).
  */
object SqlSurface {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // Extract-field extensions over the event stream.
    "q62_extract_extended" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT event_id,
                  quarterday(ts) AS qd,
                  week_sunday(ts) AS wk_sun,
                  week_saturday(ts) AS wk_sat
           FROM events""")),

    // String-similarity functions over adjacent part-name pairs.
    "q63_string_similarity" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT a.p_partkey AS a_key,
                  jarowinkler_similarity(a.p_name, b.p_name) AS jw,
                  levenshtein(a.p_name, b.p_name) AS lev
           FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""")),

    // TRUNCATE with positive / negative digit counts.
    "q64_truncate" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT l_orderkey, l_linenumber,
                  truncate(l_extendedprice, 2) AS t2,
                  truncate(-l_extendedprice, 1) AS tn1,
                  truncate(l_extendedprice, -2) AS tm2
           FROM lineitem""")),

    // String-op completeness (built-in kinds the round-1 surface missed).
    "q65_string_complete" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT c_custkey,
                  initcap(lower(c_name)) AS ic,
                  overlay(c_name, 'XX', 2, 2) AS ov,
                  repeat(c_mktsegment, 2) AS rep2,
                  instr(c_name, '1') AS pos1,
                  left(c_name, 4) AS l4,
                  right(c_name, 3) AS r3,
                  split_part(c_name, '#', 2) AS nm2,
                  translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
                  url_encode(c_name) AS urlenc,
                  concat(space(2), c_mktsegment) AS padded
           FROM customer""")),

    // Regex function family (REGEXP_COUNT/SUBSTR/INSTR/REPLACE —
    // `Shared/sqldefs.h:92-141` regex kinds).
    "q102_regex_funcs" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT c_custkey,
                  regexp_count(c_name, '0') AS n0,
                  regexp_substr(c_name, '[0-9]+') AS digits,
                  regexp_instr(c_name, '[0-9]') AS dpos,
                  regexp_replace(c_name, '0+', '#') AS collapsed
           FROM customer""")),

    // TIME type policy (SURVEY §7.4): Spark has no TIME — the engine's
    // mapping is seconds-since-midnight, extracted from the timestamp.
    "q121_time_policy" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT event_id,
                  (hour(ts) * 3600 + minute(ts) * 60 + second(ts))
                    AS time_of_day_s,
                  date_format(ts, 'HH:mm:ss') AS time_str
           FROM events""")),

    // KEY_FOR_STRING over a DECLARED dictionary column: ids are the real
    // dense order-preserving dictionary ids (DictRegistry, built with
    // the q315 distributed rank plan), so id = dense_rank(value) - 1
    // exactly — the reference StringDictionary's ordering guarantee,
    // hash-gated against DuckDB's dense_rank. Subsumes the round-1-7
    // bijectivity contract (dense ids are trivially bijective).
    "q95_key_for_string" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      // Build-once: a (table, column, source)-identical re-declaration
      // is a registry no-op (round-8 bench paid the distributed build
      // on every pass).
      graft.functions.DictRegistry.declare(s, s.table("part"), "p_type",
        table = "part")
      eng.sql(
        """SELECT p_type, key_for_string(p_type) AS dict_id
           FROM (SELECT DISTINCT p_type FROM part)""")
    }),

    // Remaining string-op kinds from `Shared/sqldefs.h:92-141`: pad,
    // reverse, one-sided trims, BASE64 encode/decode round-trip.
    "q146_string_kinds" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT c_custkey,
                  lpad(c_mktsegment, 12, '*') AS lp,
                  rpad(c_mktsegment, 12, '-') AS rp,
                  reverse(c_name) AS rev,
                  ltrim(concat('  ', c_name)) AS lt,
                  rtrim(concat(c_name, '  ')) AS rt,
                  base64(cast(c_name AS BINARY)) AS b64,
                  cast(unbase64(base64(cast(c_name AS BINARY))) AS STRING)
                    AS b64_rt
           FROM customer""")),

    // Exact percentiles (sort-based), alongside q56's approx sketch —
    // the reference computes exact PERCENTILE via its sort path.
    // HeavyDB datetime aliases (DATEADD/DATEDIFF/DATEPART with TEXT
    // literal fields, `HeavyDBSqlOperatorTable.java`) — rewritten at
    // registration to Spark's timestampadd/timestampdiff/date_part
    // trees; Spark's own 2-arg datediff stays available under the
    // shadowed name.
    "q169_datetime_aliases" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT o_orderkey,
                  DATEADD('month', 2, o_orderdate) AS plus2m,
                  DATEADD('day', 45, o_orderdate) AS plus45d,
                  DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00',
                           o_orderdate) AS days_since,
                  CAST(DATEDIFF(o_orderdate, DATE '1995-01-01') AS INT)
                    AS spark_datediff,
                  CAST(DATEPART('year', o_orderdate) AS INT) AS yr,
                  CAST(DATEPART('month', o_orderdate) AS INT) AS mo
           FROM orders WHERE o_orderkey < 1000""")),

    "q147_exact_percentile" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT l_returnflag,
                  percentile(l_quantity, 0.5) AS p50,
                  percentile(l_quantity, 0.9) AS p90,
                  percentile(l_extendedprice, 0.25) AS price_p25
           FROM lineitem GROUP BY l_returnflag""")),

    // LLM_TRANSFORM (`Shared/sqldefs.h:134`) through the SQL surface —
    // deterministic template runtime (see functions.LlmTransform):
    // guided choice, identity expansion, and guided regex.
    "q136_llm_transform" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT doc_id,
                  llm_transform(text, 'Classify the tone',
                                'spark|hash|vector') AS tone,
                  llm_transform(substr(text, 1, 24), 'Echo') AS echoed,
                  llm_transform(text, 'Extract',
                                '/(scan|sort|merge)/') AS first_hit
           FROM documents""")),

    // Views (stored queries) + query through the view, with a broadcast
    // hint flowing through the facade (`QueryHint.h:65-90` analog —
    // Spark's hint framework).
    "q96_view_roundtrip" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("""CREATE OR REPLACE VIEW big_orders AS
                 SELECT o_orderkey, o_custkey, o_totalprice
                 FROM orders WHERE o_totalprice > 100000""")
      eng.sql("""SELECT /*+ BROADCAST(c) */ c.c_mktsegment,
                        count(*) AS n, sum(v.o_totalprice) AS total
                 FROM big_orders v JOIN customer c
                   ON c.c_custkey = v.o_custkey
                 GROUP BY c.c_mktsegment""")
    }),

    // MapType surface: JSON props parsed to MAP<STRING,BIGINT>,
    // augmented via map_concat, then map_keys / element_at /
    // map_filter with a (k, v) lambda — all codegen'd. The oracle
    // replays the VALUES (json_extract + arithmetic); the map
    // machinery itself is the Spark-side subject under test.
    "q354_map_ops" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT event_id,
                  size(m) AS n_keys,
                  concat_ws(',', sort_array(map_keys(m))) AS keys_csv,
                  element_at(m, 'k') AS k_val,
                  size(map_filter(m, (k, v) -> v > 50)) AS n_big
           FROM (SELECT event_id,
                        map_concat(from_json(props, 'map<string,bigint>'),
                                   map('uid', user_id)) AS m
                 FROM events)""")),

    // STRING_AGG / LISTAGG parity (ordered string aggregation): Spark
    // expresses it as concat_ws over sort_array(collect_list(..)) — the
    // aggregation stays a partial-merge hash aggregate (map-side
    // combine), the per-group sort is bounded by group size. The oracle
    // is DuckDB's native ORDER BY string_agg, so the gate checks real
    // ordered-aggregation semantics.
    "q334_string_agg" -> ((s, d) =>
      HeavyEngine(s, d).sql(
        """SELECT o_custkey,
                  concat_ws(',',
                    sort_array(collect_list(CAST(o_orderkey AS STRING))))
                    AS keys_csv,
                  count(*) AS n
           FROM orders WHERE o_custkey < 100
           GROUP BY o_custkey"""))
  )

  val oracles: Seq[(String, String)] = Seq(
    // Modern-dialect parity trio — each runs NATIVELY in both engines
    // (Spark 4 and DuckDB), so the oracle is the same statement:
    // GROUP BY ALL (q299), SQL-standard UNPIVOT (q300), correlated
    // LATERAL join (q301 — the per-row-subquery shape; Spark plans it
    // as a DomainJoin/rewritten equi-join, never a per-row re-scan).
    "q299_group_by_all" ->
      """SELECT l_returnflag, l_linestatus,
              count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY ALL""",
    // Measures are computed in DECIMAL before UNPIVOT: o_totalprice is a
    // 2-decimal quantity stored as a parquet double, so the 10% tax done in
    // binary lands on a .xx5 half-way point (e.g. 36197.50499…) where Spark
    // (shortest-repr HALF_UP) and DuckDB (binary round) disagree. Casting to
    // DECIMAL(18,2) first is unambiguous on both engines, and the decimal
    // multiply + round are then exact everywhere (same recipe as q32).
    "q300_unpivot" ->
      """SELECT o_orderkey, metric, CAST(round(val, 2) AS DOUBLE) AS val
         FROM (SELECT o_orderkey,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                      CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)) AS tax10
               FROM orders WHERE o_orderkey < 200)
         UNPIVOT (val FOR metric IN (price, tax10))""",
    "q301_lateral_join" ->
      """SELECT n.n_name, top.o_orderkey, top.o_totalprice
         FROM nation n
         JOIN LATERAL (
           SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2
         ) AS top ON true""",
    // DuckDB dayofweek: 0=Sunday..6=Saturday (Spark's dayofweek is
    // 1=Sunday..7=Saturday — hence the +1 / %7 shifts).
    "q62_extract_extended" ->
      """SELECT event_id,
                (hour(ts::TIMESTAMP) // 6 + 1)::INT AS qd,
                ((dayofyear(ts::TIMESTAMP)
                  + dayofweek(date_trunc('year', ts::TIMESTAMP)) - 1)
                  // 7 + 1)::INT AS wk_sun,
                ((dayofyear(ts::TIMESTAMP)
                  + ((dayofweek(date_trunc('year', ts::TIMESTAMP)) + 1) % 7)
                  - 1) // 7 + 1)::INT AS wk_sat
         FROM events""",
    "q63_string_similarity" ->
      """SELECT a.p_partkey AS a_key,
                round(jaro_winkler_similarity(a.p_name, b.p_name)
                      * 100)::INT AS jw,
                levenshtein(a.p_name, b.p_name)::INT AS lev
         FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""",
    "q64_truncate" ->
      """SELECT l_orderkey, l_linenumber,
                floor(l_extendedprice * pow(10.0, 2)) / pow(10.0, 2) AS t2,
                ceil(-l_extendedprice * pow(10.0, 1)) / pow(10.0, 1) AS tn1,
                floor(l_extendedprice * pow(10.0, -2)) / pow(10.0, -2) AS tm2
         FROM lineitem""",
    "q65_string_complete" ->
      """SELECT c_custkey,
                upper(substr(lower(c_name), 1, 1))
                  || substr(lower(c_name), 2) AS ic,
                substr(c_name, 1, 1) || 'XX' || substr(c_name, 4) AS ov,
                repeat(c_mktsegment, 2) AS rep2,
                strpos(c_name, '1')::INT AS pos1,
                left(c_name, 4) AS l4,
                right(c_name, 3) AS r3,
                split_part(c_name, '#', 2) AS nm2,
                translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
                replace(c_name, '#', '%23') AS urlenc,
                repeat(' ', 2) || c_mktsegment AS padded
         FROM customer""",
    "q121_time_policy" ->
      """SELECT event_id,
                (hour(ts::TIMESTAMP) * 3600 + minute(ts::TIMESTAMP) * 60
                 + second(ts::TIMESTAMP))::INT AS time_of_day_s,
                strftime(ts::TIMESTAMP, '%H:%M:%S') AS time_str
         FROM events""",
    "q102_regex_funcs" ->
      """SELECT c_custkey,
                len(regexp_extract_all(c_name, '0'))::INT AS n0,
                regexp_extract(c_name, '[0-9]+') AS digits,
                (length(regexp_replace(c_name, '[0-9].*$', '', 's'))
                  + 1)::INT AS dpos,
                regexp_replace(c_name, '0+', '#', 'g') AS collapsed
         FROM customer""",
    "q95_key_for_string" ->
      """SELECT p_type,
                (dense_rank() OVER (ORDER BY p_type) - 1)::BIGINT
                  AS dict_id
         FROM (SELECT DISTINCT p_type FROM part)""",
    "q146_string_kinds" ->
      """SELECT c_custkey,
                lpad(c_mktsegment, 12, '*') AS lp,
                rpad(c_mktsegment, 12, '-') AS rp,
                reverse(c_name) AS rev,
                ltrim('  ' || c_name) AS lt,
                rtrim(c_name || '  ') AS rt,
                to_base64(c_name::BLOB) AS b64,
                from_base64(to_base64(c_name::BLOB))::VARCHAR AS b64_rt
         FROM customer""",
    "q169_datetime_aliases" ->
      """SELECT o_orderkey,
                o_orderdate + INTERVAL 2 MONTH AS plus2m,
                o_orderdate + INTERVAL 45 DAY AS plus45d,
                date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                          o_orderdate) AS days_since,
                date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                          o_orderdate)::INT AS spark_datediff,
                date_part('year', o_orderdate)::INT AS yr,
                date_part('month', o_orderdate)::INT AS mo
         FROM orders WHERE o_orderkey < 1000""",
    "q147_exact_percentile" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.5) AS p50,
                quantile_cont(l_quantity, 0.9) AS p90,
                quantile_cont(l_extendedprice, 0.25) AS price_p25
         FROM lineitem GROUP BY l_returnflag""",
    "q136_llm_transform" ->
      """WITH q AS (
           SELECT doc_id,
                  'Classify the tone:' || chr(10) || text AS q1,
                  'Echo:' || chr(10) || substr(text, 1, 24) AS q2,
                  'Extract:' || chr(10) || text AS q3
           FROM documents)
         SELECT doc_id,
                CASE WHEN contains(lower(q1), 'spark') THEN 'spark'
                     WHEN contains(lower(q1), 'hash') THEN 'hash'
                     WHEN contains(lower(q1), 'vector') THEN 'vector'
                     ELSE 'spark' END AS tone,
                q2 AS echoed,
                regexp_extract(q3, '(scan|sort|merge)', 0) AS first_hit
         FROM q""",
    "q96_view_roundtrip" ->
      """SELECT c.c_mktsegment, count(*) AS n, sum(v.o_totalprice) AS total
         FROM (SELECT o_orderkey, o_custkey, o_totalprice
               FROM orders WHERE o_totalprice > 100000) v
         JOIN customer c ON c.c_custkey = v.o_custkey
         GROUP BY c.c_mktsegment""",
    // CUBE + GROUPING markers: completes the grouping-extension family
    // (q118 ROLLUP, q145 GROUPING SETS) with the full 2^k lattice and
    // the standard disambiguation function — gid distinguishes a
    // grouped-out dimension from a genuine NULL group value. The gid
    // bit order is computed explicitly (grouping(a)*2 + grouping(b)) so
    // both engines agree regardless of their internal grouping_id bit
    // conventions.
    "q333_cube_grouping" ->
      """SELECT l_returnflag, l_linestatus,
                (GROUPING(l_returnflag) * 2
                  + GROUPING(l_linestatus))::INT AS gid,
                count(*)::BIGINT AS n,
                sum(l_quantity)::BIGINT AS qty
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q334_string_agg" ->
      """SELECT o_custkey,
                string_agg(o_orderkey::VARCHAR, ','
                  ORDER BY o_orderkey::VARCHAR) AS keys_csv,
                count(*)::BIGINT AS n
         FROM orders WHERE o_custkey < 100
         GROUP BY o_custkey""",
    // INTERSECT ALL / EXCEPT ALL — the multiplicity-preserving set ops
    // q119's DISTINCT forms omit (bag semantics: a row occurring m and
    // n times survives min(m,n) / max(0,m−n) times). Catalyst plans
    // both as aggregates over per-side counts — one shuffle each, no
    // join — which is exactly the scalable bag-set-op plan.
    "q353_setops_all" ->
      """SELECT x, 'intersect_all' AS op FROM
           (SELECT l_suppkey % 100 AS x FROM lineitem
            WHERE l_linenumber = 1
            INTERSECT ALL
            SELECT s_suppkey % 100 AS x FROM supplier)
         UNION ALL
         SELECT x, 'except_all' AS op FROM
           (SELECT o_custkey % 50 AS x FROM orders
            WHERE o_orderkey < 500
            EXCEPT ALL
            SELECT c_custkey % 50 AS x FROM customer)""",
    "q354_map_ops" ->
      """SELECT event_id,
                2::INT AS n_keys,
                'k,uid' AS keys_csv,
                json_extract(props, '$.k')::BIGINT AS k_val,
                ((json_extract(props, '$.k')::BIGINT > 50)::INT
                 + (user_id > 50)::INT)::INT AS n_big
         FROM events""",
    // Bitwise + boolean aggregates (BIT_AND/OR/XOR, BOOL_AND/OR) —
    // the §2.4 aggregate-kind tail: permission-mask folding and
    // predicate rollups, exact integer/boolean on both engines.
    "q355_bitwise_aggs" ->
      """SELECT event_type,
                bit_and(event_id)::BIGINT AS band,
                bit_or(event_id)::BIGINT AS bor,
                bit_xor(event_id)::BIGINT AS bxor,
                bool_and(value > 0) AS all_pos,
                bool_or(value > 8) AS any_big
         FROM events GROUP BY event_type"""
  )
}
