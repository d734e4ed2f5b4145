package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.HeavyEngine

/** DDL/DML round-trips through the `HeavyEngine.sql` statement router —
  * SURVEY §2.12 (reference: `Parser/ParserNode.h:990-2110`,
  * UPDATE/DELETE `QueryEngine/StorageIOFacility.h:105`, COPY
  * `ImportExport/Importer.cpp` + `QueryExporterCSV.cpp`).
  *
  * Each query executes the full mutation sequence, then returns the
  * post-mutation SELECT; the DuckDB oracle replays the same mutations as
  * pure relational algebra (CTAS = filter, INSERT = union, UPDATE =
  * CASE-projection, DELETE = anti-filter) — results must hash-match.
  */
object DdlDml {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // CTAS → INSERT VALUES → UPDATE → DELETE → aggregate readback.
    "q66_crud_roundtrip" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP TABLE IF EXISTS crud_orders")
      eng.sql("""CREATE TABLE crud_orders AS
                 SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey < 1000""")
      eng.sql("""INSERT INTO crud_orders VALUES
                 (9000001, 'X', 500.0), (9000002, 'X', 2500.0)""")
      eng.sql("""UPDATE crud_orders SET o_totalprice = o_totalprice * 1.1
                 WHERE o_orderstatus = 'O'""")
      eng.sql("DELETE FROM crud_orders WHERE o_totalprice < 1000.0")
      eng.sql("""SELECT o_orderstatus, count(*) AS n,
                        round(sum(o_totalprice), 2) AS total
                 FROM crud_orders GROUP BY o_orderstatus""")
    }),

    // COPY TO csv → CREATE(schema) → COPY FROM csv → aggregate readback:
    // the CSV round-trip must preserve the parquet-loaded aggregates.
    "q67_copy_csv_roundtrip" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      val dir = graft.Stage.scratchDir("graft_copy")
      eng.sql(s"""COPY (SELECT l_orderkey, l_quantity, l_returnflag
                        FROM lineitem) TO '$dir/li_csv'""")
      eng.sql("DROP TABLE IF EXISTS csv_lineitem")
      eng.sql("""CREATE TABLE csv_lineitem
                 (l_orderkey BIGINT, l_quantity DOUBLE,
                  l_returnflag STRING)""")
      eng.sql(s"COPY csv_lineitem FROM '$dir/li_csv'")
      eng.sql("""SELECT l_returnflag, count(*) AS n,
                        round(sum(l_quantity), 2) AS qty
                 FROM csv_lineitem GROUP BY l_returnflag""")
    }),

    // ALTER TABLE lifecycle (`Catalog/DdlCommandExecutor.h:57-437`):
    // ADD COLUMN with default → RENAME COLUMN → DROP COLUMN → RENAME
    // TABLE, then select through the post-ALTER schema. The oracle
    // replays the schema evolution as plain projection algebra.
    "q129_alter_roundtrip" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP TABLE IF EXISTS alt_part")
      eng.sql("DROP TABLE IF EXISTS alt_part2")
      eng.sql("""CREATE TABLE alt_part AS
                 SELECT p_partkey, p_size, p_retailprice FROM part
                 WHERE p_partkey < 500""")
      eng.sql("ALTER TABLE alt_part ADD COLUMN markup DOUBLE DEFAULT 1.25")
      eng.sql("ALTER TABLE alt_part ADD COLUMN tag STRING")
      eng.sql("ALTER TABLE alt_part RENAME COLUMN p_retailprice TO base_price")
      eng.sql("ALTER TABLE alt_part DROP COLUMN p_size")
      eng.sql("ALTER TABLE alt_part RENAME TO alt_part2")
      eng.sql("""SELECT p_partkey, base_price, markup, tag,
                        base_price * markup AS marked
                 FROM alt_part2""")
    }),

    // CREATE FUNCTION lifecycle (`UdfCompiler/UdfCompiler.cpp`,
    // `RuntimeLibManager/` in /root/reference — runtime-registered user
    // functions; here SQL expression templates expanded at plan time):
    // two created functions, one calling through the other, used from a
    // plain SQL aggregate. The oracle inlines the same expressions —
    // results must hash-match, proving the macro expansion is exactly
    // the written expression and stays inside codegen.
    "q187_create_function" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("""CREATE OR REPLACE FUNCTION net_price(price, disc)
                 AS price * (1.0 - disc)""")
      eng.sql("""CREATE OR REPLACE FUNCTION taxed(p, t)
                 AS p * (1.0 + t)""")
      eng.sql("""SELECT l_returnflag,
                        round(sum(taxed(net_price(l_extendedprice,
                                                  l_discount), l_tax)), 2)
                          AS revenue,
                        count(*) AS n
                 FROM lineitem GROUP BY l_returnflag""")
    }),

    // Directory-partitioned table layout + partition-pruned readback
    // (`Catalog/TableDescriptor.h:53-67` options surface; the reference
    // skips fragments via min/max chunk metadata — a partition_key
    // layout makes the skip structural: pruned directories are never
    // listed, which is what survives a 100 TB corpus where per-file
    // footer checks alone would still cost a full listing). The gated
    // query pins result equality through the partitioned round-trip;
    // PlanSpec pins PartitionFilters on the scan.
    "q195_partition_pruning" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP TABLE IF EXISTS pdocs")
      eng.sql("""CREATE TABLE pdocs WITH (partition_key='lang') AS
                 SELECT doc_id, lang, length(text) AS text_len
                 FROM documents""")
      eng.sql("""SELECT lang, count(*) AS n, sum(doc_id) AS id_sum,
                        sum(text_len) AS len_sum
                 FROM pdocs WHERE lang IN ('en', 'de') GROUP BY lang""")
    }),

    // Result-set recycler through the reference's keep_result hint
    // (`QueryEngine/DataRecycler/`, `Tests/DataRecyclerTest.cpp`,
    // QueryHint.h kKeepResult): the hinted aggregate materializes once,
    // the identical re-issue is a recycler HIT whose physical plan is a
    // bare scan of the kept result (no aggregate re-execution), and a
    // different hinted query is a second MISS — (hits, misses, entries)
    // = (1, 2, 2). The recycled rows crossJoin the 1-row gate frame so
    // the values themselves stay hash-compared vs DuckDB.
    "q254_result_recycler" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      val q = """SELECT /*+ keep_result */ l_returnflag,
                        count(*) AS n, round(sum(l_quantity), 2) AS qty
                 FROM lineitem GROUP BY l_returnflag"""
      eng.sql(q)                 // miss: executes + stages the result
      val again = eng.sql(q)     // hit: served from the kept result
      eng.sql("""SELECT /*+ keep_result */ count(*) AS n
                 FROM orders""") // different plan: second miss
      val plan = again.queryExecution.executedPlan.toString
      val (h, m, e) = eng.recyclerStats
      again.crossJoin(
        s.range(1).select(
          lit(h == 1 && m == 2 && e == 2).as("recycler_counts_ok"),
          lit(plan.contains("FileScan parquet") &&
            !plan.contains("HashAggregate")).as("hit_plan_is_scan")))
    })
    ,

    // MERGE INTO (upsert DML, capability-add): CTAS a half-keyed
    // target, merge a source that both overlaps and extends it —
    // matched rows update (flag 'M', price accumulates), unmatched
    // insert (flag 'I') — then aggregate readback per flag. The oracle
    // replays the merge as a FULL OUTER join projection.
    "q296_merge_upsert" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP TABLE IF EXISTS merge_tgt")
      eng.sql("""CREATE TABLE merge_tgt AS
                 SELECT o_orderkey AS k, o_orderstatus AS st,
                        o_totalprice AS tp
                 FROM orders WHERE o_orderkey % 2 = 0""")
      eng.sql("""MERGE INTO merge_tgt t
                 USING (SELECT o_orderkey AS k, o_totalprice AS tp
                        FROM orders WHERE o_orderkey % 3 = 0) s
                 ON t.k = s.k
                 WHEN MATCHED THEN UPDATE SET st = 'M', tp = t.tp + s.tp
                 WHEN NOT MATCHED THEN INSERT (k, st, tp)
                 VALUES (s.k, 'I', s.tp)""")
      eng.sql("""SELECT st, count(*) AS n, sum(k) AS ksum,
                        round(sum(tp), 2) AS tpsum
                 FROM merge_tgt GROUP BY st""")
    }),

    // Materialized-view aggregate navigation (plans/MvRewrite.scala):
    // a (returnflag, linestatus) MV answers the coarser returnflag
    // roll-up by re-aggregating its partial sums/counts/extrema — the
    // fact table is never rescanned (DdlSpec pins the plan). Result
    // collected eagerly and the MV dropped so the session-global
    // rewrite registry never leaks into unrelated queries; sums are
    // over integral quantities, so MV re-aggregation is float-exact.
    "q320_mv_rewrite" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q320")
      eng.sql("DROP TABLE IF EXISTS mvb_q320")
      // MV over a DEDICATED managed base (never the shared fixture
      // view): a registered MV rewrites every matching aggregate in
      // the session, and unrelated queries also aggregate lineitem.
      eng.sql(
        """CREATE TABLE mvb_q320 AS
           SELECT l_returnflag, l_linestatus, l_quantity,
                  l_extendedprice
           FROM lineitem WHERE l_orderkey % 3 = 0""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q320 AS
           SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq,
                  count(*) AS cnt, max(l_extendedprice) AS mx
           FROM mvb_q320 GROUP BY l_returnflag, l_linestatus""")
      val out = eng.sql(
        """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
                  count(*) AS n, max(l_extendedprice) AS max_price
           FROM mvb_q320 GROUP BY l_returnflag""")
      val rows = out.collect().toSeq // 3 rows — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q320")
      eng.sql("DROP TABLE mvb_q320")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
    }),

    // Star-join MV navigation (round-10, MvRewrite.baseMatches): an MV
    // over fact⋈dim grouped by (o_orderpriority, l_returnflag) answers
    // the coarser priority roll-up over the SAME join by re-aggregating
    // its partial sums/counts/extrema — neither the fact table nor the
    // join is re-executed (DdlSpec pins the plan to a bare MV scan).
    // This is the recycler-serves-repeated-subplans contract
    // (reference: QueryEngine/DataRecycler/, RelAlgExecutor.cpp:1667)
    // lifted from identical-plan caching to the roll-up lattice above a
    // join. Dedicated managed bases keep the session registry from
    // rewriting unrelated fixture aggregates; results collected eagerly
    // (≤5 rows — bounded) before the MV is dropped.
    "q580_mv_join_rollup" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q580")
      eng.sql("DROP TABLE IF EXISTS mvf_q580")
      eng.sql("DROP TABLE IF EXISTS mvd_q580")
      eng.sql(
        """CREATE TABLE mvf_q580 AS
           SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
           FROM lineitem WHERE l_orderkey % 3 = 0""")
      eng.sql(
        """CREATE TABLE mvd_q580 AS
           SELECT o_orderkey, o_orderpriority FROM orders
           WHERE o_orderkey % 3 = 0""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q580 AS
           SELECT o_orderpriority, l_returnflag,
                  sum(l_quantity) AS sq, count(*) AS cnt,
                  max(l_extendedprice) AS mx
           FROM mvf_q580 JOIN mvd_q580 ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority, l_returnflag""")
      val out = eng.sql(
        """SELECT o_orderpriority, sum(l_quantity) AS sum_qty,
                  count(*) AS n, max(l_extendedprice) AS max_price
           FROM mvf_q580 JOIN mvd_q580 ON l_orderkey = o_orderkey
           GROUP BY o_orderpriority""")
      val rows = out.collect().toSeq // ≤5 rows — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q580")
      eng.sql("DROP TABLE mvf_q580")
      eng.sql("DROP TABLE mvd_q580")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .orderBy("o_orderpriority")
    }),

    // ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS (round-10): the
    // CBO stats contract — exact ndv/nulls/min/max per column plus the
    // table row count, computed in one aggregate pass, stored in the
    // managed catalog, stamped onto every scan (DdlSpec pins the
    // broadcast build-side FLIP these stats cause under
    // spark.sql.cbo.enabled, mirroring FromTableReordering.cpp:118).
    // The on-disk byte stat is encoding-dependent, so the gate output
    // carries rows/ndv/nulls/min/max only.
    "q581_analyze_stats" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP TABLE IF EXISTS t_q581")
      eng.sql(
        """CREATE TABLE t_q581 AS
           SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           WHERE o_orderkey % 5 = 0""")
      val out = eng.sql(
        """ANALYZE TABLE t_q581 COMPUTE STATISTICS
           FOR COLUMNS o_orderkey, o_orderpriority, o_totalprice""")
      val rows = out.collect().toSeq // 1 + 3 columns — bounded
        .map(r => if (r.getString(0) == "__table__")
          org.apache.spark.sql.Row("__rows__", r.getLong(1), 0L, "", "")
        else r)
      val schema = out.schema
      eng.sql("DROP TABLE t_q581")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .orderBy("col_name")
    }),

    // CBO join REORDER (round-11, one step past q581's build-side
    // flip — the full FromTableReordering.cpp:118 analog): a 3-table
    // join written fact⋈fanout-dim⋈tiny-dim in deliberately bad
    // textual order. With ANALYZE column stats + cbo.joinReorder
    // enabled, Spark's cost-based reorder must join the TINY dim
    // first (the textual order pays a fanout× intermediate); with the
    // flags off the textual order stands. Both plan shapes are
    // REQUIRED (a silent non-reorder fails the query, not just a
    // spec), and the aggregate result — order-invariant — is
    // hash-gated against DuckDB. DdlSpec pins the same flip.
    //
    // Round-12 rework (VERDICT r11 #1): the fanout dim is now a
    // deliberate, SF-invariant 12× replication of orders on the FULL
    // high-cardinality o_orderkey (est(f⋈d1)=12·|f| vs est(f⋈d2)=|f|
    // — the CBO asymmetry is decisive at every SF, and the
    // intermediate is bounded at 12·|lineitem| instead of the old
    // %50-keyed |lineitem|·|orders|/50 blow-up: 1.8 B rows at sf0.1).
    // The money sum runs in DECIMAL(18,2) on both engines and is
    // emitted as a fixed-scale string (the q300/q356 recipe) so the
    // hash no longer rides on FP partial-sum order.
    "q583_cbo_join_reorder" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      Seq("f_q583", "d1_q583", "d2_q583")
        .foreach(t => eng.sql(s"DROP TABLE IF EXISTS $t"))
      eng.sql(
        """CREATE TABLE f_q583 AS
           SELECT l_orderkey AS fk1, l_linenumber % 5 AS fk2,
                  l_quantity FROM lineitem WHERE l_orderkey % 10 = 0""")
      eng.sql(
        """CREATE TABLE d1_q583 AS
           SELECT o_orderkey AS k1,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS w
           FROM orders LATERAL VIEW explode(sequence(1, 12)) rep AS r
           WHERE o_orderkey % 10 = 0""")
      eng.sql(
        """CREATE TABLE d2_q583 AS
           SELECT explode(sequence(0, 4)) AS k2""")
      eng.sql("ANALYZE TABLE f_q583 COMPUTE STATISTICS FOR COLUMNS fk1, fk2")
      eng.sql("ANALYZE TABLE d1_q583 COMPUTE STATISTICS FOR COLUMNS k1")
      eng.sql("ANALYZE TABLE d2_q583 COMPUTE STATISTICS FOR COLUMNS k2")
      val q =
        """SELECT k2, count(*) AS n, round(sum(l_quantity), 2) AS sq,
                  CAST(CAST(sum(w) AS DECIMAL(38,2)) AS STRING) AS sw
           FROM f_q583 JOIN d1_q583 ON fk1 = k1
                       JOIN d2_q583 ON fk2 = k2
           GROUP BY k2"""
      // innermost join's leaf tables (the first join executed)
      def innermost(df: org.apache.spark.sql.DataFrame): Set[String] = {
        import org.apache.spark.sql.catalyst.plans.logical.Join
        import org.apache.spark.sql.execution.datasources.{
          HadoopFsRelation, LogicalRelation}
        val joins = df.queryExecution.optimizedPlan
          .collect { case j: Join => j }
        val deepest = joins.filter(j => j.children.forall(
          c => c.collectFirst { case jj: Join => jj }.isEmpty))
        deepest.flatMap(_.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).toSeq
            case _ => Seq.empty[String]
          }
        }.flatten).toSet.flatMap { (p: String) =>
          "(f|d1|d2)_q583".r.findFirstIn(p)
        }
      }
      val cboPrev = s.conf.get("spark.sql.cbo.enabled", "false")
      val reoPrev = s.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
      val out = try {
        s.conf.set("spark.sql.cbo.enabled", "false")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        val textual = innermost(eng.sql(q))
        require(textual == Set("f_q583", "d1_q583"),
          s"without CBO the textual join order must stand, got $textual")
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        val df = eng.sql(q)
        val reordered = innermost(df)
        require(reordered == Set("f_q583", "d2_q583"),
          s"CBO stats did not reorder the join, innermost = $reordered")
        val rows = df.collect().toSeq // ≤5 groups — bounded
        (rows, df.schema)
      } finally {
        s.conf.set("spark.sql.cbo.enabled", cboPrev)
        s.conf.set("spark.sql.cbo.joinReorder.enabled", reoPrev)
      }
      Seq("f_q583", "d1_q583", "d2_q583")
        .foreach(t => eng.sql(s"DROP TABLE $t"))
      s.createDataFrame(
        s.sparkContext.parallelize(out._1, 1), out._2)
        .withColumn("reorder_pinned", org.apache.spark.sql.functions.lit(true))
        .orderBy("k2")
    }),

    // MV roll-up-lattice navigation with a COST tie-break (round-11):
    // two MVs over the same base can both answer the coarse roll-up;
    // the rewrite must pick the SMALLER scan (Harinarayan/Rajaraman/
    // Ullman's lattice rule — MvRewrite.mvCost orders candidates by
    // scan bytes). The fine-grain MV (~300 groups) is registered FIRST
    // so a first-hit registry would serve it; the query REQUIREs the
    // coarse MV's scan (~3 groups) is the one in the plan, and the
    // re-aggregated result is hash-gated against DuckDB over the raw
    // table. Reference analog: the DataRecycler serves the cheapest
    // cached resolution (QueryEngine/DataRecycler/).
    "q584_mv_lattice" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q584_fine")
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q584_coarse")
      eng.sql("DROP TABLE IF EXISTS mvb_q584")
      eng.sql(
        """CREATE TABLE mvb_q584 AS
           SELECT l_returnflag AS g1, l_partkey % 100 AS g2,
                  l_quantity AS m
           FROM lineitem""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q584_fine AS
           SELECT g1, g2, sum(m) AS sm, count(*) AS cnt
           FROM mvb_q584 GROUP BY g1, g2""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q584_coarse AS
           SELECT g1, sum(m) AS sm, count(*) AS cnt
           FROM mvb_q584 GROUP BY g1""")
      val out = eng.sql(
        """SELECT g1, sum(m) AS sum_m, count(*) AS n
           FROM mvb_q584 GROUP BY g1""")
      val scans = out.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).mkString(",")
            case _ => ""
          }
      }.mkString(";")
      require(scans.contains("mv_q584_coarse") &&
        !scans.contains("mv_q584_fine") && !scans.contains("mvb_q584"),
        s"lattice tie-break did not pick the smallest MV scan: $scans")
      val rows = out.collect().toSeq // ≤3 flags — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q584_fine")
      eng.sql("DROP MATERIALIZED VIEW mv_q584_coarse")
      eng.sql("DROP TABLE mvb_q584")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .orderBy("g1")
    }),

    // Predicate-transparent MV roll-up (round-12, the natural next
    // lattice step after q584; reference analog: the DataRecycler
    // serving FILTERED sub-plans, `QueryEngine/DataRecycler/`): a
    // query filtering on an MV DIMENSION is answered by pushing the
    // predicate onto the MV scan — sound because base rows within one
    // MV group share the whole dim tuple, so a dim-only predicate
    // keeps or drops entire groups. The entry REQUIREs the plan to
    // read the MV (not the base) WITH the predicate, and REQUIREs a
    // measure-referencing filter to refuse the MV (the MvRewriteSpec
    // soundness discipline, enforced in the gated query itself).
    "q585_mv_filter_rollup" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q585")
      eng.sql("DROP TABLE IF EXISTS mvb_q585")
      eng.sql(
        """CREATE TABLE mvb_q585 AS
           SELECT l_returnflag AS g1, l_partkey % 100 AS g2,
                  l_quantity AS m
           FROM lineitem""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q585 AS
           SELECT g1, g2, sum(m) AS sm, count(*) AS cnt
           FROM mvb_q585 GROUP BY g1, g2""")
      def scans(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString).mkString(",")
              case _ => ""
            }
        }.mkString(";")
      val out = eng.sql(
        """SELECT g1, sum(m) AS sum_m, count(*) AS n
           FROM mvb_q585 WHERE g2 < 50 AND g2 <> 7 GROUP BY g1""")
      require(scans(out).contains("mv_q585") &&
        !scans(out).contains("mvb_q585"),
        s"dim-only filter was not served from the MV: ${scans(out)}")
      val refuse = eng.sql(
        """SELECT g1, count(*) AS n FROM mvb_q585
           WHERE m > 25 GROUP BY g1""")
      require(scans(refuse).contains("mvb_q585") &&
        !scans(refuse).contains("mv_q585"),
        "measure filter must refuse the MV (soundness)")
      val rows = out.collect().toSeq // ≤3 flags — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q585")
      eng.sql("DROP TABLE mvb_q585")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .withColumn("mv_filter_pinned", org.apache.spark.sql.functions.lit(true))
        .orderBy("g1")
    }),

    // AVG derivability over the MV lattice (round-12): an MV carrying
    // sum(m)+count(m) answers avg(m) as Sum(partial sums)/Sum(partial
    // counts) — the remaining decomposable aggregate after
    // SUM/COUNT/MIN/MAX. Nulls are exact (an all-null group's
    // (null, 0) partials null the division like the base avg);
    // DECIMAL avg is refused by design (scale re-rounding — the q300
    // class — MvRewriteSpec pins the refusal). The measure here is
    // integral-valued l_quantity, so the double division is
    // bit-identical on both engines. The entry REQUIREs the plan to
    // read the MV, not the base.
    "q586_mv_avg_rollup" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q586")
      eng.sql("DROP TABLE IF EXISTS mvb_q586")
      eng.sql(
        """CREATE TABLE mvb_q586 AS
           SELECT l_returnflag AS g1, l_linestatus AS g2,
                  l_quantity AS m
           FROM lineitem""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q586 AS
           SELECT g1, g2, sum(m) AS sm, count(m) AS cm, count(*) AS cnt
           FROM mvb_q586 GROUP BY g1, g2""")
      val out = eng.sql(
        """SELECT g1, round(avg(m), 6) AS avg_m, count(m) AS n_m
           FROM mvb_q586 GROUP BY g1""")
      val scans = out.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).mkString(",")
            case _ => ""
          }
      }.mkString(";")
      require(scans.contains("mv_q586") && !scans.contains("mvb_q586"),
        s"avg roll-up was not served from the MV: $scans")
      val rows = out.collect().toSeq // ≤3 flags — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q586")
      eng.sql("DROP TABLE mvb_q586")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .withColumn("mv_avg_pinned", org.apache.spark.sql.functions.lit(true))
        .orderBy("g1")
    }),

    // Incremental REFRESH MATERIALIZED VIEW (round-13, VERDICT #1 —
    // closing the MV loop): base mutations invalidate aggregate
    // navigation; REFRESH applies the base's delta to the MV table via
    // the q296 MERGE fast path and re-registers it. The entry drives
    // the PRODUCTION mode — an ingest batch appended with INSERT, then
    // `REFRESH MATERIALIZED VIEW`, which reads ONLY the appended files
    // plus the (tiny) MV: at 100 TB the refresh is priced by the batch,
    // never the standing corpus. In-plan REQUIREs pin all three phases:
    // the stale MV refuses to serve, the refresh reports the
    // append-incremental mode, and the refreshed MV serves the roll-up
    // (SUM/COUNT/MIN/MAX all merged exactly). Reference analog:
    // DataRecycler invalidation-vs-reuse + scheduled refresh
    // (`QueryEngine/DataRecycler/`, `Catalog/RefreshTimeCalculator.cpp`).
    "q587_mv_incremental_refresh" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q587")
      eng.sql("DROP TABLE IF EXISTS mvb_q587")
      eng.sql(
        """CREATE TABLE mvb_q587 AS
           SELECT l_returnflag AS g1, l_linestatus AS g2, l_quantity AS m
           FROM lineitem WHERE l_orderkey % 3 = 0""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q587 AS
           SELECT g1, g2, sum(m) AS sm, count(m) AS cm,
                  min(m) AS mn, max(m) AS mx, count(*) AS cnt
           FROM mvb_q587 GROUP BY g1, g2""")
      eng.sql(
        """INSERT INTO mvb_q587
           SELECT l_returnflag, l_linestatus, l_quantity + 5
           FROM lineitem WHERE l_orderkey % 3 = 1""")
      def scans(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString).mkString(",")
              case _ => ""
            }
        }.mkString(";")
      val stale = eng.sql(
        "SELECT g1, sum(m) AS sum_m FROM mvb_q587 GROUP BY g1")
      require(scans(stale).contains("mvb_q587") &&
        !scans(stale).contains("mv_q587"),
        "un-refreshed MV must not serve after a base INSERT")
      val mode = eng.sql("REFRESH MATERIALIZED VIEW mv_q587")
        .collect().head.getString(1)
      require(mode == "incremental (append)",
        s"expected append-incremental refresh, got: $mode")
      val out = eng.sql(
        """SELECT g1, sum(m) AS sum_m, min(m) AS min_m, max(m) AS max_m,
                  count(*) AS n
           FROM mvb_q587 GROUP BY g1""")
      require(scans(out).contains("mv_q587") &&
        !scans(out).contains("mvb_q587"),
        s"refreshed MV must serve the roll-up: ${scans(out)}")
      val rows = out.collect().toSeq // ≤3 flags — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q587")
      eng.sql("DROP TABLE mvb_q587")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .withColumn("mv_refresh_pinned",
          org.apache.spark.sql.functions.lit(true))
        .orderBy("g1")
    }),

    // REFRESH after a copy-on-write DELETE — the DIFF mode of the
    // incremental refresh (round-13): the delta is
    // inserted = cur EXCEPT ALL old / deleted = old EXCEPT ALL cur
    // against the recorded file snapshot, signed-aggregated at the
    // MV's grain and MERGEd into the MV table. The entry REQUIREs the
    // diff-incremental mode (not a rebuild) and that the refreshed MV
    // serves the post-delete roll-up.
    "q589_mv_refresh_after_delete" -> ((s, d) => {
      val eng = HeavyEngine(s, d)
      eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_q589")
      eng.sql("DROP TABLE IF EXISTS mvb_q589")
      // integral measure (floored money): the diff path's partial-sum
      // arithmetic is then EXACT, so t.sm + delta equals a direct
      // recompute bit-for-bit on both engines
      eng.sql(
        """CREATE TABLE mvb_q589 AS
           SELECT o_orderkey AS k, o_orderpriority AS g,
                  CAST(floor(o_totalprice) AS BIGINT) AS m
           FROM orders""")
      eng.sql(
        """CREATE MATERIALIZED VIEW mv_q589 AS
           SELECT g, sum(m) AS sm, count(m) AS cm, count(*) AS cnt
           FROM mvb_q589 GROUP BY g""")
      eng.sql("DELETE FROM mvb_q589 WHERE k % 7 = 0")
      val mode = eng.sql("REFRESH MATERIALIZED VIEW mv_q589")
        .collect().head.getString(1)
      require(mode == "incremental (diff)",
        s"expected diff-incremental refresh, got: $mode")
      val out = eng.sql(
        """SELECT g, sum(m) AS sum_m, count(*) AS n
           FROM mvb_q589 GROUP BY g""")
      def scans(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString).mkString(",")
              case _ => ""
            }
        }.mkString(";")
      require(scans(out).contains("mv_q589") &&
        !scans(out).contains("mvb_q589"),
        s"diff-refreshed MV must serve the roll-up: ${scans(out)}")
      val rows = out.collect().toSeq // ≤5 priorities — bounded
      val schema = out.schema
      eng.sql("DROP MATERIALIZED VIEW mv_q589")
      eng.sql("DROP TABLE mvb_q589")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), schema)
        .withColumn("mv_diff_pinned",
          org.apache.spark.sql.functions.lit(true))
        .orderBy("g")
    }),

    // The fingerprint-index lifecycle as pure SQL (round-13 — the DDL
    // surface over the q207/q588/q592/q593 machinery): CREATE
    // FINGERPRINT INDEX builds the standing bucketed index from a
    // managed corpus table; CLASSIFY runs the co-located dup-status
    // join; ALTER ... ADMIT grows the index idempotently; ALTER ...
    // RETRACT tombstones an erased source; OPTIMIZE applies tombstones
    // and compacts to one file per bucket; SHOW FINGERPRINT INDEXES
    // reports the physical state (the two boolean columns pin
    // tombstone-GC + compaction in-plan). Four classification stages,
    // each collected before the next mutation; the oracle replays the
    // whole evolution set-algebraically.
    "q594_fp_index_ddl" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val eng = HeavyEngine(s, d)
      eng.sql("DROP FINGERPRINT INDEX IF EXISTS fidx")
      eng.sql("DROP TABLE IF EXISTS fp_batch")
      eng.sql("DROP TABLE IF EXISTS fp_batch2")
      // WHERE builds the corpus index straight off the source table
      // (no staging CTAS); buckets=8 sizes the layout for the fixture
      // (production default = session parallelism, see Ddl scaladoc)
      eng.sql("""CREATE FINGERPRINT INDEX fidx ON documents(text)
                 WHERE source <> 'src19' WITH (buckets=8)""")
      eng.sql("""CREATE TABLE fp_batch AS
                 SELECT doc_id, text FROM documents
                 WHERE source = 'src19' AND doc_id % 40 = 19
                 UNION ALL
                 SELECT doc_id + 1000000 AS doc_id, text FROM documents
                 WHERE source <> 'src19' AND doc_id % 20 IN (3, 7)""")
      def cls(stage: String): org.apache.spark.sql.DataFrame = {
        val b = if (stage == "a_day1") "fp_batch" else "fp_batch2"
        eng.sql(s"CLASSIFY $b(doc_id, text) AGAINST fidx")
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("item_id")).cast("long").as("id_sum"))
          .select(lit(stage).as("stage"), col("status"), col("n_docs"),
            col("id_sum"))
      }
      val a = cls("a_day1").collect()
      eng.sql("ALTER FINGERPRINT INDEX fidx ADMIT FROM fp_batch(text)")
      eng.sql("""CREATE TABLE fp_batch2 AS
                 SELECT doc_id + 2000000 AS doc_id, text FROM fp_batch
                 UNION ALL
                 SELECT doc_id, text FROM documents
                 WHERE source = 'src19' AND doc_id % 40 = 39
                 UNION ALL
                 SELECT doc_id + 2500000 AS doc_id, text FROM documents
                 WHERE source = 'src19' AND doc_id % 120 = 39""")
      val b = cls("b_admitted").collect()
      eng.sql("""ALTER FINGERPRINT INDEX fidx RETRACT FROM
                 documents(text) WHERE source = 'src3'""")
      val c = cls("c_retracted").collect()
      def show(): org.apache.spark.sql.Row =
        eng.sql("SHOW FINGERPRINT INDEXES")
          .filter(col("index_name") === "fidx").collect()(0)
      val showBefore = show()
      eng.sql("OPTIMIZE FINGERPRINT INDEX fidx")
      val showAfter = show()
      val dDf = cls("d_gc")
      val spark2 = s
      import spark2.implicits._
      (a ++ b ++ c).toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
        .toDF("stage", "status", "n_docs", "id_sum")
        .unionAll(dDf)
        .withColumn("tombstones_cleared",
          lit(showBefore.getAs[Long]("n_tombstones") > 0L &&
            showAfter.getAs[Long]("n_tombstones") == 0L))
        .withColumn("compacted",
          lit(showAfter.getAs[Int]("n_files") <
            showBefore.getAs[Int]("n_files")))
        .orderBy(col("stage"), col("status"))
    }),

    // The standing VECTOR index as DDL (round-13 — q591's lifecycle
    // through the SQL surface, the vector sibling of q594): CREATE
    // VECTOR INDEX partitions the corpus by its sign-bit cell; ALTER
    // … ADMIT assigns the day-2 batch with the same quantizer and
    // appends idempotently (a REPLAYED admit adds nothing — pinned by
    // the in-plan boolean from SHOW counts); SEARCH … TOP 10 is the
    // multiprobe top-k whose candidate read is partition-pruned to
    // the probed cells. The oracle replays the full ranking.
    "q596_vector_index_ddl" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val eng = HeavyEngine(s, d)
      eng.sql("DROP VECTOR INDEX IF EXISTS vidx")
      eng.sql("DROP TABLE IF EXISTS vec_corpus")
      eng.sql("DROP TABLE IF EXISTS vec_batch")
      eng.sql("DROP TABLE IF EXISTS vec_probes")
      eng.sql("""CREATE TABLE vec_corpus AS
                 SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 10 <> 0""")
      eng.sql("""CREATE TABLE vec_batch AS
                 SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 10 = 0""")
      eng.sql("CREATE VECTOR INDEX vidx ON vec_corpus(vec_id, embedding)")
      eng.sql("ALTER VECTOR INDEX vidx ADMIT FROM vec_batch(vec_id, embedding)")
      def nVecs(): Long = eng.sql("SHOW VECTOR INDEXES")
        .filter(col("index_name") === "vidx")
        .collect()(0).getAs[Long]("n_vectors")
      val n1 = nVecs()
      // a replayed admit must add nothing
      eng.sql("ALTER VECTOR INDEX vidx ADMIT FROM vec_batch(vec_id, embedding)")
      val n2 = nVecs()
      eng.sql("""CREATE TABLE vec_probes AS
                 SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 125 = 0 AND vec_id < 5000""")
      eng.sql("SEARCH vec_probes(vec_id, embedding) AGAINST vidx TOP 10")
        .withColumn("admit_idempotent", lit(n1 == n2 && n1 > 0L))
        .orderBy(col("probe_id"), col("rank"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q296_merge_upsert" ->
      """WITH tgt AS (
           SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
           FROM orders WHERE o_orderkey % 2 = 0),
         src AS (
           SELECT o_orderkey AS k, o_totalprice AS tp
           FROM orders WHERE o_orderkey % 3 = 0),
         merged AS (
           SELECT coalesce(t.k, s.k) AS k,
                  CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN 'M'
                       WHEN t.k IS NOT NULL THEN t.st
                       ELSE 'I' END AS st,
                  CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL
                         THEN t.tp + s.tp
                       WHEN t.k IS NOT NULL THEN t.tp
                       ELSE s.tp END AS tp
           FROM tgt t FULL OUTER JOIN src s ON t.k = s.k)
         SELECT st, count(*)::BIGINT AS n, sum(k)::BIGINT AS ksum,
                round(sum(tp), 2) AS tpsum
         FROM merged GROUP BY st""",
    // QUALIFY clause (dialect sugar the modern engines ship;
    // HeavyEngine.splitQualify): filter on a window rank without a
    // subquery — top-2 orders per customer. DuckDB runs the SAME text
    // natively, so the oracle IS the query.
    "q297_qualify_clause" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey)::INT AS rn
         FROM orders
         QUALIFY rn <= 2
         ORDER BY o_custkey, rn LIMIT 100""",
    // WITH RECURSIVE through the engine (Spark 4's UnionLoop): bounded
    // 3-hop path enumeration over the event-transition graph — the
    // SQL-standard recursion the reference's Calcite layer parses but
    // its engine lacks; DuckDB replays the same recursion natively.
    // (The operator-level BFS siblings are q53/q137; this is the SQL
    // surface over the same graph.)
    "q298_recursive_cte" ->
      """WITH RECURSIVE reach(node, hops) AS (
           SELECT 'signup' AS node, 0 AS hops
           UNION ALL
           SELECT e.dst, r.hops + 1
           FROM reach r
           JOIN (SELECT DISTINCT src, dst FROM (
                   SELECT event_type AS src,
                          lead(event_type) OVER (PARTITION BY user_id
                            ORDER BY ts::TIMESTAMP, event_id) AS dst
                   FROM events)
                 WHERE dst IS NOT NULL) e ON e.src = r.node
           WHERE r.hops < 3)
         SELECT node, count(*)::BIGINT AS n_paths,
                min(hops)::INT AS first_hop
         FROM reach GROUP BY node""",
    "q254_result_recycler" ->
      """SELECT l_returnflag, count(*) AS n,
                round(sum(l_quantity), 2) AS qty,
                true AS recycler_counts_ok, true AS hit_plan_is_scan
         FROM lineitem GROUP BY l_returnflag""",
    "q66_crud_roundtrip" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT * FROM (VALUES (9000001::BIGINT, 'X', 500.0::DOUBLE),
                                 (9000002::BIGINT, 'X', 2500.0::DOUBLE))
             v(o_orderkey, o_orderstatus, o_totalprice)),
         upd AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderstatus = 'O'
                       THEN o_totalprice * 1.1
                       ELSE o_totalprice END AS o_totalprice
           FROM base),
         kept AS (SELECT * FROM upd WHERE NOT (o_totalprice < 1000.0))
         SELECT o_orderstatus, count(*) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM kept GROUP BY o_orderstatus""",
    "q67_copy_csv_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
                round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY l_returnflag""",
    "q129_alter_roundtrip" ->
      """SELECT p_partkey, p_retailprice AS base_price,
                1.25::DOUBLE AS markup, NULL::VARCHAR AS tag,
                p_retailprice * 1.25 AS marked
         FROM part WHERE p_partkey < 500""",
    "q187_create_function" ->
      """SELECT l_returnflag,
                round(sum((l_extendedprice * (1.0 - l_discount))
                          * (1.0 + l_tax)), 2) AS revenue,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q195_partition_pruning" ->
      """SELECT lang, count(*)::BIGINT AS n,
                sum(doc_id)::BIGINT AS id_sum,
                sum(length(text))::BIGINT AS len_sum
         FROM documents WHERE lang IN ('en', 'de') GROUP BY lang""",
    "q320_mv_rewrite" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
                count(*)::BIGINT AS n,
                max(l_extendedprice) AS max_price
         FROM lineitem WHERE l_orderkey % 3 = 0
         GROUP BY l_returnflag""",
    "q581_analyze_stats" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           WHERE o_orderkey % 5 = 0)
         SELECT * FROM (
           SELECT '__rows__' AS col_name, count(*)::BIGINT AS ndv_or_rows,
                  0::BIGINT AS nulls_or_bytes, '' AS min_val,
                  '' AS max_val
           FROM base
           UNION ALL
           SELECT 'o_orderkey', count(DISTINCT o_orderkey)::BIGINT,
                  sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0
                      END)::BIGINT,
                  min(o_orderkey)::VARCHAR, max(o_orderkey)::VARCHAR
           FROM base
           UNION ALL
           SELECT 'o_orderpriority',
                  count(DISTINCT o_orderpriority)::BIGINT,
                  sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
                      END)::BIGINT,
                  min(o_orderpriority), max(o_orderpriority)
           FROM base
           UNION ALL
           SELECT 'o_totalprice', count(DISTINCT o_totalprice)::BIGINT,
                  sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0
                      END)::BIGINT,
                  min(o_totalprice)::VARCHAR, max(o_totalprice)::VARCHAR
           FROM base)
         ORDER BY col_name""",
    "q580_mv_join_rollup" ->
      """SELECT o.o_orderpriority, sum(l.l_quantity) AS sum_qty,
                count(*)::BIGINT AS n,
                max(l.l_extendedprice) AS max_price
         FROM (SELECT l_orderkey, l_quantity, l_extendedprice
               FROM lineitem WHERE l_orderkey % 3 = 0) l
         JOIN (SELECT o_orderkey, o_orderpriority FROM orders
               WHERE o_orderkey % 3 = 0) o
           ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",
    "q583_cbo_join_reorder" ->
      """WITH f AS (
           SELECT l_orderkey AS fk1, l_linenumber % 5 AS fk2,
                  l_quantity FROM lineitem WHERE l_orderkey % 10 = 0),
         d1 AS (
           SELECT o_orderkey AS k1, o_totalprice::DECIMAL(18,2) AS w
           FROM orders CROSS JOIN generate_series(1, 12)
           WHERE o_orderkey % 10 = 0),
         d2 AS (
           SELECT range::INTEGER AS k2 FROM range(0, 5))
         SELECT k2, count(*)::BIGINT AS n,
                round(sum(l_quantity), 2) AS sq,
                sum(w)::DECIMAL(38,2)::VARCHAR AS sw, true AS reorder_pinned
         FROM f JOIN d1 ON fk1 = k1 JOIN d2 ON fk2 = k2
         GROUP BY k2 ORDER BY k2""",
    "q584_mv_lattice" ->
      """SELECT l_returnflag AS g1, sum(l_quantity) AS sum_m,
                count(*)::BIGINT AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q585_mv_filter_rollup" ->
      """SELECT l_returnflag AS g1, sum(l_quantity) AS sum_m,
                count(*)::BIGINT AS n, true AS mv_filter_pinned
         FROM lineitem
         WHERE l_partkey % 100 < 50 AND l_partkey % 100 <> 7
         GROUP BY 1 ORDER BY 1""",
    "q586_mv_avg_rollup" ->
      """SELECT l_returnflag AS g1, round(avg(l_quantity), 6) AS avg_m,
                count(l_quantity)::BIGINT AS n_m, true AS mv_avg_pinned
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q587_mv_incremental_refresh" ->
      """WITH b AS (
           SELECT l_returnflag AS g1, l_quantity AS m
           FROM lineitem WHERE l_orderkey % 3 = 0
           UNION ALL
           SELECT l_returnflag AS g1, l_quantity + 5 AS m
           FROM lineitem WHERE l_orderkey % 3 = 1)
         SELECT g1, sum(m) AS sum_m, min(m) AS min_m, max(m) AS max_m,
                count(*)::BIGINT AS n, true AS mv_refresh_pinned
         FROM b GROUP BY 1 ORDER BY 1""",
    "q589_mv_refresh_after_delete" ->
      """SELECT o_orderpriority AS g,
                sum(CAST(floor(o_totalprice) AS BIGINT))::BIGINT AS sum_m,
                count(*)::BIGINT AS n, true AS mv_diff_pinned
         FROM orders WHERE o_orderkey % 7 <> 0
         GROUP BY 1 ORDER BY 1""",
    // q594: the four-stage index evolution replayed set-algebraically —
    // a_day1 vs the pristine corpus fps, b_admitted vs corpus ∪ day-1
    // batch, c_retracted/d_gc vs that minus src3's fps; the two
    // physical booleans (tombstone GC, compaction) are literal trues.
    "q594_fp_index_ddl" ->
      """WITH fp AS (
           SELECT doc_id, source,
                  md5(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fp
           FROM documents),
         corpus0 AS (SELECT DISTINCT fp FROM fp WHERE source <> 'src19'),
         b1 AS (
           SELECT doc_id, fp FROM fp
           WHERE source = 'src19' AND doc_id % 40 = 19
           UNION ALL
           SELECT doc_id + 1000000, fp FROM fp
           WHERE source <> 'src19' AND doc_id % 20 IN (3, 7)),
         admitted AS (
           SELECT fp FROM corpus0 UNION SELECT fp FROM b1),
         b2 AS (
           SELECT doc_id + 2000000 AS doc_id, fp FROM b1
           UNION ALL
           SELECT doc_id, fp FROM fp
           WHERE source = 'src19' AND doc_id % 40 = 39
           UNION ALL
           SELECT doc_id + 2500000, fp FROM fp
           WHERE source = 'src19' AND doc_id % 120 = 39),
         retained AS (
           SELECT fp FROM admitted WHERE fp NOT IN (
             SELECT fp FROM fp WHERE source = 'src3')),
         canon1 AS (
           SELECT fp, min(doc_id) AS first_id FROM b1 GROUP BY fp),
         canon2 AS (
           SELECT fp, min(doc_id) AS first_id FROM b2 GROUP BY fp),
         sa AS (
           SELECT 'a_day1' AS stage, b.doc_id,
                  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
                       WHEN b.doc_id > k.first_id THEN 'dup_within_batch'
                       ELSE 'new' END AS status
           FROM b1 b LEFT JOIN corpus0 c ON c.fp = b.fp
           JOIN canon1 k ON k.fp = b.fp),
         sb AS (
           SELECT 'b_admitted' AS stage, b.doc_id,
                  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
                       WHEN b.doc_id > k.first_id THEN 'dup_within_batch'
                       ELSE 'new' END AS status
           FROM b2 b LEFT JOIN admitted c ON c.fp = b.fp
           JOIN canon2 k ON k.fp = b.fp),
         sc AS (
           SELECT 'c_retracted' AS stage, b.doc_id,
                  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
                       WHEN b.doc_id > k.first_id THEN 'dup_within_batch'
                       ELSE 'new' END AS status
           FROM b2 b LEFT JOIN retained c ON c.fp = b.fp
           JOIN canon2 k ON k.fp = b.fp),
         u AS (
           SELECT * FROM sa UNION ALL SELECT * FROM sb
           UNION ALL SELECT * FROM sc
           UNION ALL SELECT 'd_gc' AS stage, doc_id, status FROM sc)
         SELECT stage, status, count(*)::BIGINT AS n_docs,
                sum(doc_id)::BIGINT AS id_sum,
                true AS tombstones_cleared, true AS compacted
         FROM u GROUP BY 1, 2 ORDER BY 1, 2""",
    // q596: the multiprobe top-10 replayed over corpus ∪ batch (the
    // admitted index), q591's cand/rank recipe; the idempotency
    // boolean is a literal true.
    "q596_vector_index_ddl" ->
      """WITH base AS (
           SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         n AS (
           SELECT vec_id, x,
                  list_aggregate(list_transform(x, v -> v * v), 'sum')
                    AS n2,
                  (CASE WHEN x[1] > 0 THEN 1 ELSE 0 END
                   + CASE WHEN x[2] > 0 THEN 2 ELSE 0 END
                   + CASE WHEN x[3] > 0 THEN 4 ELSE 0 END
                   + CASE WHEN x[4] > 0 THEN 8 ELSE 0 END) AS cid
           FROM base),
         probes AS (
           SELECT vec_id AS p_id, x AS px, n2 AS p_n2, cid AS p_cid
           FROM n WHERE vec_id % 125 = 0 AND vec_id < 5000),
         pcells AS (
           SELECT p_id, px, p_n2,
                  unnest([p_cid, xor(p_cid, 1), xor(p_cid, 2),
                          xor(p_cid, 4), xor(p_cid, 8)]) AS cid
           FROM probes),
         cand AS (
           SELECT p.p_id, e.vec_id,
                  list_aggregate(list_transform(list_zip(p.px, e.x),
                      z -> z[1] * z[2]), 'sum') / sqrt(p.p_n2 * e.n2)
                    AS sim
           FROM n e JOIN pcells p
             ON e.cid = p.cid AND e.vec_id <> p.p_id)
         SELECT p_id AS probe_id, rank::INT AS rank, vec_id AS n_id,
                true AS admit_idempotent
         FROM (
           SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
             ORDER BY sim DESC, vec_id) AS rank FROM cand)
         WHERE rank <= 10 ORDER BY 1, 2"""
  )
}
