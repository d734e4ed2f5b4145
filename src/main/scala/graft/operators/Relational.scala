package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Relational core: scan/project/filter/agg/join/sort/limit/union/subquery.
  *
  * Covers the reference's RA node set (`QueryEngine/RelAlgDag.h:43-56` in
  * /root/reference — RelScan/Project/Filter/Aggregate/Join/Sort/Union/Values)
  * and its join kinds (`Shared/sqldefs.h:252-260`: INNER, LEFT, SEMI, ANTI)
  * as declarative DataFrame plans: Catalyst supplies pushdown, pruning,
  * broadcast selection and whole-stage codegen that the reference gets from
  * its LLVM JIT (`QueryEngine/NativeCodegen.cpp`).
  *
  * Scale notes (100 TB): every query below is shuffle-minimal — filters and
  * projections reach the parquet scan; dimension joins broadcast; aggregates
  * are partial/final (map-side combine). Nothing collects to the driver.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // String function surface (`StringOps/StringOps.cpp` — LOWER/UPPER/
    // SUBSTR/LENGTH/REPLACE/CONCAT/LPAD/REVERSE/SPLIT_PART/POSITION).
    "q14_string_funcs" -> ((s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_brand")).as("lbrand"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_type"), lit(" "), lit("_")).as("type_u"),
        concat_ws(":", col("p_brand"), col("p_type")).as("brand_type"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"),
        reverse(col("p_brand")).as("brand_rev"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
        locate("a", col("p_name")).as("pos_a"))
    }),

    // LIKE / ILIKE / REGEXP (`Utils/StringLike.cpp:250`, `Utils/Regexp.cpp`).
    "q15_like_regex" -> ((s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        col("p_name").like("%a%").as("has_a"),
        col("p_name").ilike("%A%").as("has_a_i"),
        col("p_type").rlike("^[a-z]+ ").as("re_head"),
        col("p_name").startsWith("a").as("sw"),
        col("p_name").endsWith("s").as("ew"))
    }),

    // Date/time extraction + arithmetic (`QueryEngine/ExtractFromTime.h:77`,
    // `DateTruncate.h:27`, `DateAdd.h:42`).
    "q16_datetime" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofyear(col("o_orderdate")).as("doy"),
        hour(col("o_orderdate")).as("hh"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("mon_start"),
        date_trunc("week", col("o_orderdate")).as("wk_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_ts"),
        datediff(lit("1998-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_98"))
    }),

    // Math function surface (`QueryEngine/ExtensionFunctions.hpp`) incl.
    // WIDTH_BUCKET (`Analyzer/Analyzer.h:1242`).
    "q29_math_funcs" -> ((s, d) => {
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_v"),
        // ceil/floor return BIGINT in Spark but DOUBLE in DuckDB — pin a
        // common DOUBLE type so the oracle hash compare is type-stable.
        ceil(col("l_extendedprice")).cast("double").as("ceil_v"),
        floor(col("l_extendedprice")).cast("double").as("floor_v"),
        sqrt(col("l_quantity")).as("sqrt_v"),
        log(col("l_extendedprice")).as("ln_v"),
        log10(col("l_extendedprice")).as("log10_v"),
        pow(col("l_quantity"), 2.0).as("pow_v"),
        sin(col("l_discount")).as("sin_v"),
        atan2(col("l_quantity"), col("l_extendedprice")).as("atan2_v"),
        signum(col("l_discount") - 0.05).as("sign_v"),
        (col("l_quantity") % 7.0).as("mod_v"),
        width_bucket(col("l_quantity"), lit(0.0), lit(60.0), lit(6L))
          .as("wb"),
        graft.functions.GraftFunctions.truncate_num(col("l_extendedprice"), 1)
          .as("trunc_v"))
    }),

    // CAST surface incl. DECIMAL and TRY_CAST (`QueryEngine/CastIR.cpp`;
    // TRY_CAST in StringOps kind enum `Shared/sqldefs.h:92-141`).
    "q32_cast_decimal" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        // DECIMAL(14,2) is exercised, then compared as DOUBLE: engines
        // disagree on decimal→pandas object representation, not on value.
        col("o_totalprice").cast("decimal(14,2)").cast("double")
          .as("dec_price"),
        col("o_orderkey").cast("string").as("key_str"),
        expr("try_cast(o_orderpriority AS INT)").as("prio_int"),
        expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").as("prio_num"),
        col("o_orderdate").cast("date").as("od_date"))
    }),

    // JSON_VALUE (`StringOps/StringOps.h:614`) → get_json_object.
    "q33_json_extract" -> ((s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"))
    })
  )

  /** DuckDB-dialect oracle SQL, column-name and type aligned with the
    * Spark plans above (driver sorts columns by name before hashing).
    */
  val oracles: Seq[(String, String)] = Seq(
    // Scan + projection + filter pushdown (RelScan/RelProject/RelFilter).
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-06-01'""",
    // BETWEEN + IN-list predicates (InValues, `Analyzer/Analyzer.h:641`).
    "q02_filter_in_between" ->
      """SELECT l_returnflag, count(*) AS cnt, sum(l_extendedprice) AS sum_price
         FROM lineitem
         WHERE l_quantity BETWEEN 5 AND 15 AND l_returnflag IN ('A','R')
         GROUP BY l_returnflag""",
    // TPC-H Q1-style multi-aggregate group-by (GroupByPerfectHash analog,
    // `QueryEngine/GroupByAndAggregate.cpp:195`).
    "q03_agg_basic" ->
      """SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty,
                sum(l_extendedprice) AS sum_base_price,
                sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
                avg(l_quantity) AS avg_qty,
                avg(l_discount) AS avg_disc,
                count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    // COUNT(DISTINCT ...) — exact distinct (bitmap/set path in the
    // reference, `Descriptors/CountDistinctDescriptor.h:39`).
    "q04_agg_distinct" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS n_orders,
                count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem GROUP BY l_returnflag""",
    // COUNT_IF / SUM_IF (`Shared/sqldefs.h:87-88`).
    "q05_agg_conditional" ->
      """SELECT l_linestatus,
                count(*) FILTER (WHERE l_discount > 0.05) AS cnt_hi_disc,
                coalesce(sum(CASE WHEN l_discount > 0.05
                             THEN l_extendedprice ELSE 0.0 END), 0.0)
                  AS sum_hi_disc
         FROM lineitem GROUP BY l_linestatus""",
    // ORDER BY + LIMIT with deterministic tie-break → Catalyst
    // TakeOrderedAndProject (streaming top-k; `QueryEngine/StreamingTopN.cpp`
    // analog — no full sort at scale).
    "q06_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         LIMIT 20""",
    // Multi-way star join, dimensions broadcast (PerfectJoinHashTable
    // analog, `QueryEngine/JoinHashTable/PerfectJoinHashTable.cpp`).
    "q07_join_star" ->
      """SELECT r_name, count(*) AS n_orders, sum(o_totalprice) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    // LEFT OUTER JOIN with null-aware counting (JoinType::LEFT).
    "q08_join_left" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
                count(*) AS n_rows
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment""",
    // LEFT SEMI join = EXISTS subquery (JoinType::SEMI; Calcite
    // decorrelation `HeavyDBParser.java:286` → Catalyst does it natively).
    "q09_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_totalprice > 450000.0)""",
    // LEFT ANTI join = NOT EXISTS (JoinType::ANTI).
    "q10_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 450000.0)""",
    // Non-equi θ-join → BroadcastNestedLoopJoin (reference loop join,
    // `QueryEngine/LoopControlFlow/JoinLoop.h:56`, trivial-loop threshold
    // `Execute.cpp:91`). Only valid for a small build side — as here.
    "q11_join_theta" ->
      """SELECT a.s_suppkey AS s1, b.s_suppkey AS s2
         FROM supplier a JOIN supplier b ON a.s_acctbal < b.s_acctbal""",
    // UNION ALL (RelLogicalUnion, `QueryEngine/RelAlgDag.h:3136`).
    "q12_union_all" ->
      """SELECT c_custkey AS id, 'cust' AS kind FROM customer
         UNION ALL
         SELECT s_suppkey AS id, 'supp' AS kind FROM supplier""",
    // Statistical aggregates — STDDEV_POP/SAMP, VAR_POP/SAMP, CORR,
    // COVAR_POP/SAMP (reference: `Tests/ExecuteTest.cpp:2111-2189`,
    // convertlets in `java/calcite/.../StandardConvertletTable.java:232-246`).
    // Spark's built-ins are single-pass partial-merge aggregates (one
    // shuffle on the group key, map-side partials) — the same
    // co-moment streaming shape the reference codegens.
    "q176_stat_aggs" ->
      """SELECT l_returnflag,
                stddev_pop(l_quantity) AS sd_pop_qty,
                stddev_samp(l_quantity) AS sd_samp_qty,
                var_pop(l_quantity) AS var_pop_qty,
                var_samp(l_quantity) AS var_samp_qty,
                corr(l_quantity, l_extendedprice) AS corr_qp,
                covar_pop(l_quantity, l_extendedprice) AS covar_pop_qp,
                covar_samp(l_quantity, l_extendedprice) AS covar_samp_qp
         FROM lineitem GROUP BY l_returnflag""",
    // ROLLUP — a capability-add beyond the reference (HeavyDB has no
    // GROUPING SETS/ROLLUP/CUBE: absent from its Calcite config,
    // SURVEY §2.4); Spark provides them natively, so a user migrating
    // gains them for free.
    "q118_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                sum(l_quantity) AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    // INTERSECT / EXCEPT — also free in Spark, absent in the reference
    // (SURVEY §2.8: UNION ALL only).
    "q119_setops" ->
      """SELECT k, 'both' AS src FROM
           (SELECT c_custkey AS k FROM customer
            INTERSECT SELECT o_custkey FROM orders)
         UNION ALL
         SELECT k, 'cust_only' AS src FROM
           (SELECT c_custkey AS k FROM customer
            EXCEPT SELECT o_custkey FROM orders)""",
    // FULL OUTER + CROSS join — capability-adds beyond the reference
    // (JoinType enum `Shared/sqldefs.h:252-260` has INNER/LEFT/SEMI/ANTI
    // only; no FULL OUTER, and CROSS only as degenerate loop join).
    "q144_join_full_cross" ->
      """WITH perc AS (
           SELECT o_custkey, count(*) AS n_orders
           FROM orders GROUP BY o_custkey),
         f AS (
           SELECT count(*) AS n_all,
                  count(CASE WHEN o_custkey IS NULL THEN 1 END)
                    AS n_cust_only,
                  count(CASE WHEN c_custkey IS NULL THEN 1 END)
                    AS n_ord_only
           FROM customer FULL OUTER JOIN perc
             ON c_custkey = o_custkey),
         x AS (
           SELECT count(*) AS n_cross
           FROM region CROSS JOIN nation)
         SELECT * FROM f CROSS JOIN x""",
    // GROUPING SETS — same capability-add family as q118's ROLLUP
    // (absent from the reference's Calcite config; native in Spark).
    "q145_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '<all>') AS rf,
                coalesce(l_linestatus, '<all>') AS ls,
                count(*) AS n, sum(l_quantity) AS qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())""",
    // PIVOT — capability-add (no PIVOT in the reference's Calcite
    // config); conditional counts per pivot value keep the plan a
    // single two-phase aggregate (no distinct-values pre-scan).
    "q150_pivot" ->
      """SELECT user_id % 10 AS bucket,
                count(CASE WHEN event_type = 'click' THEN 1 END)
                  AS n_click,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                count(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS n_purchase,
                count(CASE WHEN event_type = 'signup' THEN 1 END)
                  AS n_signup,
                count(CASE WHEN event_type = 'error' THEN 1 END)
                  AS n_error
         FROM events GROUP BY user_id % 10""",
    // CASE / arithmetic expression surface (`QueryEngine/CaseIR.cpp`,
    // `ArithmeticIR.cpp`).
    "q13_case_arith" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN l_discount > 0.05 THEN 'HI'
                     WHEN l_discount > 0.02 THEN 'MID'
                     ELSE 'LO' END AS disc_band,
                l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                  AS charged
         FROM lineitem""",
    "q14_string_funcs" ->
      """SELECT p_partkey,
                upper(p_name) AS uname,
                lower(p_brand) AS lbrand,
                substr(p_name, 1, 5) AS prefix5,
                length(p_name)::INT AS name_len,
                replace(p_type, ' ', '_') AS type_u,
                p_brand || ':' || p_type AS brand_type,
                lpad(p_partkey::VARCHAR, 8, '0') AS key_pad,
                reverse(p_brand) AS brand_rev,
                split_part(p_type, ' ', 1) AS type_head,
                position('a' IN p_name)::INT AS pos_a
         FROM part""",
    "q15_like_regex" ->
      """SELECT p_partkey,
                p_name LIKE '%a%' AS has_a,
                p_name ILIKE '%A%' AS has_a_i,
                regexp_matches(p_type, '^[a-z]+ ') AS re_head,
                p_name LIKE 'a%' AS sw,
                p_name LIKE '%s' AS ew
         FROM part""",
    "q16_datetime" ->
      """SELECT o_orderkey,
                extract(year FROM o_orderdate)::INT AS yr,
                extract(month FROM o_orderdate)::INT AS mo,
                extract(day FROM o_orderdate)::INT AS dom,
                extract(doy FROM o_orderdate)::INT AS doy,
                extract(hour FROM o_orderdate)::INT AS hh,
                extract(quarter FROM o_orderdate)::INT AS qtr,
                date_trunc('month', o_orderdate)::TIMESTAMP AS mon_start,
                date_trunc('week', o_orderdate)::TIMESTAMP AS wk_start,
                o_orderdate + INTERVAL 30 DAY AS due_ts,
                date_diff('day', o_orderdate::DATE, DATE '1998-01-01')::INT
                  AS days_to_98
         FROM orders""",
    // date_trunc bucketed group-by — flights/taxi benchmark shape
    // (`Benchmarks/queries/flights/Q005.sql`, taxis MQ03).
    "q17_date_bucket_agg" ->
      """SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS mon,
                count(*) AS n, sum(o_totalprice) AS rev,
                avg(o_totalprice) AS avg_rev
         FROM orders GROUP BY 1""",
    // GROUP BY + HAVING.
    "q24_groupby_having" ->
      """SELECT l_suppkey, sum(l_quantity) AS total_qty, count(*) AS n
         FROM lineitem GROUP BY l_suppkey
         HAVING sum(l_quantity) > 5000.0""",
    // SELECT DISTINCT.
    "q25_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    // Uncorrelated scalar subquery (reference executes subqueries first,
    // `RelAlgExecutor.cpp:774`).
    "q26_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)""",
    // IN subquery → semi join after decorrelation.
    "q27_in_subquery" ->
      """SELECT c_custkey, c_nationkey FROM customer
         WHERE c_nationkey IN
           (SELECT n_nationkey FROM nation WHERE n_regionkey <= 1)""",
    // Correlated scalar subquery (manual decorrelation in the reference,
    // `HeavyDBParser.java:286-444`; Catalyst DecorrelateInnerQuery).
    "q28_correlated_subquery" ->
      """SELECT o.o_orderkey, o.o_totalprice FROM orders o
         WHERE o.o_totalprice >
           (SELECT 4 * avg(l.l_extendedprice) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey)""",
    "q29_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                abs(l_discount - 0.05) AS abs_v,
                ceil(l_extendedprice) AS ceil_v,
                floor(l_extendedprice) AS floor_v,
                sqrt(l_quantity) AS sqrt_v,
                ln(l_extendedprice) AS ln_v,
                log10(l_extendedprice) AS log10_v,
                pow(l_quantity, 2.0) AS pow_v,
                sin(l_discount) AS sin_v,
                atan2(l_quantity, l_extendedprice) AS atan2_v,
                (CASE WHEN l_discount - 0.05 > 0 THEN 1.0
                      WHEN l_discount - 0.05 < 0 THEN -1.0
                      ELSE 0.0 END)::DOUBLE AS sign_v,
                fmod(l_quantity, 7.0) AS mod_v,
                (CASE WHEN l_quantity < 0.0 THEN 0
                      WHEN l_quantity >= 60.0 THEN 7
                      ELSE floor((l_quantity - 0.0) / 10.0)::BIGINT + 1
                 END)::BIGINT AS wb,
                (floor(l_extendedprice * 10.0) / 10.0)::DOUBLE AS trunc_v
         FROM lineitem""",
    // VALUES list (RelLogicalValues, `QueryEngine/RelAlgDag.h:3038`).
    "q30_values" ->
      """SELECT * FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma'))
         AS v(id, name)""",
    // Deterministic MODE (`Shared/sqldefs.h:86`, `QueryEngine/AggMode.h`):
    // value-count hash map with explicit lowest-value tie-break so the
    // oracle can reproduce it exactly.
    "q31_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_prio FROM (
           SELECT o_orderstatus, o_orderpriority,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority) t
         WHERE rn = 1""",
    "q32_cast_decimal" ->
      """SELECT o_orderkey,
                (o_totalprice::DECIMAL(14,2))::DOUBLE AS dec_price,
                o_orderkey::VARCHAR AS key_str,
                TRY_CAST(o_orderpriority AS INT) AS prio_int,
                TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
                o_orderdate::DATE AS od_date
         FROM orders""",
    "q33_json_extract" ->
      """SELECT event_id,
                json_extract_string(props, '$.k') AS k_str,
                json_extract_string(props, '$.k')::INT AS k_int
         FROM events"""
  )
}
