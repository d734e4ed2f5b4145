package graft

import org.scalatest.funsuite.AnyFunSuite

class DdlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("splitTop respects parens and quoted strings") {
    assert(Ddl.splitTop("a = f(x, y), b = 'p,q', c = 1") ==
      Seq("a = f(x, y)", "b = 'p,q'", "c = 1"))
  }

  test("CRUD round-trip: create, insert, update, delete, select") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_crud")
    eng.sql("CREATE TABLE t_crud (k BIGINT, v STRING, x DOUBLE)")
    eng.sql("INSERT INTO t_crud VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    eng.sql("INSERT INTO t_crud SELECT 3, 'c', 30.0")
    eng.sql("UPDATE t_crud SET x = x + 1.0 WHERE v = 'b'")
    eng.sql("DELETE FROM t_crud WHERE k = 1")
    val got = eng.sql("SELECT k, v, x FROM t_crud ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, "b", 21.0), (3L, "c", 30.0)))
    eng.sql("DROP TABLE t_crud")
  }

  test("DELETE with NULL-valued predicate keeps the row") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_null")
    eng.sql("CREATE TABLE t_null (k BIGINT, x DOUBLE)")
    eng.sql("INSERT INTO t_null VALUES (1, CAST(NULL AS DOUBLE)), (2, 5.0)")
    eng.sql("DELETE FROM t_null WHERE x < 10.0")
    val got = eng.sql("SELECT k FROM t_null").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L)) // NULL predicate → row survives DELETE
    eng.sql("DROP TABLE t_null")
  }

  test("DUMP/RESTORE round-trip and OPTIMIZE/VALIDATE") {
    val eng = HeavyEngine(spark, sf)
    val arch = Stage.scratchDir("graft_dump") + "/arch"
    eng.sql("DROP TABLE IF EXISTS t_dump")
    eng.sql("CREATE TABLE t_dump AS SELECT 1 AS k UNION ALL SELECT 2")
    eng.sql(s"DUMP TABLE t_dump TO '$arch'")
    eng.sql("UPDATE t_dump SET k = 99")
    eng.sql(s"RESTORE TABLE t_dump FROM '$arch'")
    val sum = eng.sql("SELECT sum(k) AS s FROM t_dump")
      .collect().head.getLong(0)
    assert(sum == 3L) // restored pre-UPDATE state
    eng.sql("OPTIMIZE TABLE t_dump")
    val v = eng.sql("VALIDATE TABLE t_dump").collect().head
    assert(v.getString(0) == "t_dump" && v.getLong(1) == 2L)
    eng.sql("DROP TABLE t_dump")
  }

  test("CTAS WITH shard_count/shard_key produces that many files") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_shard")
    eng.sql("""CREATE TABLE t_shard WITH (shard_count=4, shard_key=o_custkey)
               AS SELECT o_orderkey, o_custkey FROM orders""")
    val n = eng.sql("SELECT count(*) AS n FROM t_shard")
      .collect().head.getLong(0)
    assert(n > 0)
    val files = eng.sql(
      """SELECT count(*) AS f FROM
           (SELECT DISTINCT input_file_name() FROM t_shard)""")
      .collect().head.getLong(0)
    assert(files == 4L, s"expected 4 shard files, got $files")
    eng.sql("DROP TABLE t_shard")
  }

  test("SHOW TABLES / SHOW COLUMNS / SHOW CREATE TABLE") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_show")
    eng.sql("CREATE TABLE t_show (k BIGINT, v STRING)")
    val tables = eng.sql("SHOW TABLES").collect().map(_.getString(0))
    assert(tables.contains("t_show"))
    assert(tables.contains("part")) // fixture views are visible too
    val cols = eng.sql("SHOW COLUMNS FROM t_show").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(cols.toSeq == Seq(("k", "BIGINT"), ("v", "STRING")))
    val ddl = eng.sql("SHOW CREATE TABLE t_show")
      .collect().head.getString(0)
    assert(ddl == "CREATE TABLE t_show (k BIGINT, v STRING)")
    // DESCRIBE is the SHOW COLUMNS alias
    val desc = eng.sql("DESCRIBE t_show").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.toSeq == Seq(("k", "BIGINT"), ("v", "STRING")))
    eng.sql("DROP TABLE t_show")
  }

  test("ALTER TABLE add/drop/rename column and rename table") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_alter")
    eng.sql("DROP TABLE IF EXISTS t_alter2")
    eng.sql("CREATE TABLE t_alter (k BIGINT, x DOUBLE)")
    eng.sql("INSERT INTO t_alter VALUES (1, 2.0)")
    eng.sql("ALTER TABLE t_alter ADD COLUMN tag STRING")
    eng.sql("ALTER TABLE t_alter ADD COLUMN m DOUBLE DEFAULT 2.5")
    eng.sql("ALTER TABLE t_alter RENAME COLUMN x TO xx")
    eng.sql("ALTER TABLE t_alter DROP COLUMN k")
    eng.sql("ALTER TABLE t_alter RENAME TO t_alter2")
    val row = eng.sql("SELECT xx, tag, m FROM t_alter2").collect().head
    assert(row.getDouble(0) == 2.0)
    assert(row.isNullAt(1))    // ADD without DEFAULT backfills NULL
    assert(row.getDouble(2) == 2.5)
    // old name is gone, duplicate ADD is rejected
    intercept[Exception](eng.sql("SELECT * FROM t_alter").collect())
    intercept[IllegalArgumentException](
      eng.sql("ALTER TABLE t_alter2 ADD COLUMN m DOUBLE"))
    eng.sql("DROP TABLE t_alter2")
  }

  test("foreign table: snapshot at create, new files appear after REFRESH") {
    import spark.implicits._
    val eng = HeavyEngine(spark, sf)
    val dir = Stage.scratchDir("ft_src")
    Seq(1L, 2L).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    eng.sql(s"CREATE FOREIGN TABLE ft WITH (path='$dir', format='parquet')")
    def n: Long = eng.sql("SELECT count(*) AS n FROM ft")
      .collect().head.getLong(0)
    assert(n == 2L)
    Seq(3L, 4L, 5L).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    assert(n == 2L) // snapshot semantics: new files invisible pre-refresh
    eng.sql("REFRESH FOREIGN TABLE ft")
    assert(n == 5L)
    eng.sql("DROP FOREIGN TABLE ft")
  }

  test("scheduled refresh sweeps only due foreign tables") {
    import spark.implicits._
    val dir = Stage.scratchDir("ft_sched")
    Seq(1L).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    Ddl.createForeignTable(spark, "ft_s",
      Map("path" -> dir, "refresh_interval_s" -> "60"), nowMs = 1000L)
    Seq(2L).toDF("k").coalesce(1).write.mode("append").parquet(dir)
    assert(Ddl.refreshDueForeignTables(spark, nowMs = 31000L).isEmpty)
    assert(spark.table("ft_s").count() == 1L)
    assert(Ddl.refreshDueForeignTables(spark, nowMs = 61001L) == Seq("ft_s"))
    assert(spark.table("ft_s").count() == 2L)
    Ddl.route(spark, "DROP FOREIGN TABLE ft_s")
  }

  test("CTAS WITH partition_key prunes partitions on key filters") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_part")
    eng.sql("""CREATE TABLE t_part WITH (partition_key=o_orderstatus)
               AS SELECT o_orderkey, o_totalprice, o_orderstatus
               FROM orders""")
    val all = org.apache.spark.sql.graftbridge.ScanIntrospect
      .prunedFiles(eng.sql("SELECT * FROM t_part"))
    val pruned = org.apache.spark.sql.graftbridge.ScanIntrospect
      .prunedFiles(eng.sql(
        "SELECT * FROM t_part WHERE o_orderstatus = 'O'"))
    assert(all.nonEmpty && pruned.nonEmpty)
    assert(pruned.size < all.size,
      s"expected pruning: ${pruned.size} vs ${all.size}")
    assert(pruned.forall(_.contains("o_orderstatus=O")))
    // results still correct through the partitioned layout
    val n = eng.sql(
      "SELECT count(*) AS n FROM t_part WHERE o_orderstatus = 'O'")
      .collect().head.getLong(0)
    val want = eng.sql(
      "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'")
      .collect().head.getLong(0)
    assert(n == want)
    eng.sql("DROP TABLE t_part")
  }

  test("SHOW TABLE DETAILS / DATABASES / FUNCTIONS / TABLE FUNCTIONS") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_det")
    eng.sql("CREATE TABLE t_det AS SELECT p_partkey, p_size FROM part")
    eng.sql("COMMENT ON TABLE t_det IS 'part subset'")
    eng.sql("COMMENT ON COLUMN t_det.p_size IS 'size units'")
    val det = eng.sql("SHOW TABLE DETAILS t_det").collect().head
    assert(det.getAs[String]("table_name") == "t_det")
    assert(det.getAs[Long]("n_rows") > 0)
    assert(det.getAs[Int]("n_cols") == 2)
    assert(det.getAs[Int]("n_fragments") > 0)
    assert(det.getAs[Long]("size_bytes") > 0)
    assert(det.getAs[String]("comment") == "part subset")
    val colComment = eng.sql("SHOW COLUMNS FROM t_det").collect()
      .find(_.getString(0) == "p_size").get.getAs[String]("comment")
    assert(colComment == "size units")
    assert(eng.sql("SHOW DATABASES").collect().map(_.getString(0))
      .toSeq == Seq("graft"))
    val fns = eng.sql("SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.contains("st_equals") && fns.contains("ml_predict")
      && fns.contains("quarterday"))
    val tfs = eng.sql("SHOW TABLE FUNCTIONS").collect().map(_.getString(0))
    assert(tfs.contains("dbscan") && tfs.contains("tf_mandelbrot"))
    eng.sql("DROP TABLE t_det")
  }

  test("ALTER TABLE ALTER COLUMN TYPE rewrites with a cast") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_cast")
    eng.sql("CREATE TABLE t_cast (k BIGINT, v STRING)")
    eng.sql("INSERT INTO t_cast VALUES (1, '2.5'), (2, '7.25')")
    eng.sql("ALTER TABLE t_cast ALTER COLUMN v TYPE DOUBLE")
    val cols = eng.sql("SHOW COLUMNS FROM t_cast").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(cols.toSeq == Seq(("k", "BIGINT"), ("v", "DOUBLE")))
    val sum = eng.sql("SELECT sum(v) AS s FROM t_cast")
      .collect().head.getDouble(0)
    assert(math.abs(sum - 9.75) < 1e-12)
    eng.sql("DROP TABLE t_cast")
  }

  test("SHOW MODEL FEATURE DETAILS lists coefficients") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP MODEL IF EXISTS m_feat")
    eng.sql("""CREATE MODEL m_feat OF TYPE LINEAR_REG AS
               SELECT 1.0 + 2.0 * p_partkey + 3.0 * p_size,
                      p_partkey, p_size
               FROM part""")
    val rows = eng.sql("SHOW MODEL FEATURE DETAILS m_feat").collect()
      .map(r => (r.getString(1), r.getDouble(2))).toMap
    assert(math.abs(rows("intercept") - 1.0) < 1e-6)
    assert(math.abs(rows("p_partkey") - 2.0) < 1e-6)
    assert(math.abs(rows("p_size") - 3.0) < 1e-6)
    eng.sql("DROP MODEL m_feat")
  }

  test("foreign servers: create, show, alter, table-on-server, drop") {
    import spark.implicits._
    val eng = HeavyEngine(spark, sf)
    val base = Stage.scratchDir("srv_base")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/tbl")
    eng.sql("DROP SERVER IF EXISTS psrv")
    eng.sql(s"""CREATE SERVER psrv FOREIGN DATA WRAPPER parquet_file
                WITH (storage_type='LOCAL_FILE', base_path='$base')""")
    val servers = eng.sql("SHOW SERVERS").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(servers.contains(("psrv", "parquet_file")))
    val ddl = eng.sql("SHOW CREATE SERVER psrv").collect().head.getString(0)
    assert(ddl.contains("FOREIGN DATA WRAPPER parquet_file") &&
      ddl.contains(s"base_path='$base'"))
    eng.sql("CREATE FOREIGN TABLE srv_t SERVER psrv WITH (file_path='tbl')")
    assert(eng.sql("SELECT count(*) AS n FROM srv_t")
      .collect().head.getLong(0) == 2L)
    // ALTER SET changes the base path; a new table resolves against it
    val base2 = Stage.scratchDir("srv_base2")
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$base2/tbl")
    eng.sql(s"ALTER SERVER psrv SET (base_path='$base2')")
    eng.sql("CREATE FOREIGN TABLE srv_t2 SERVER psrv WITH (file_path='tbl')")
    assert(eng.sql("SELECT count(*) AS n FROM srv_t2")
      .collect().head.getLong(0) == 3L)
    eng.sql("ALTER SERVER psrv RENAME TO psrv2")
    assert(eng.sql("SHOW SERVERS").collect().map(_.getString(0))
      .contains("psrv2"))
    intercept[Exception](
      eng.sql("CREATE FOREIGN TABLE srv_t3 SERVER psrv WITH (file_path='tbl')"))
    eng.sql("DROP FOREIGN TABLE srv_t")
    eng.sql("DROP FOREIGN TABLE srv_t2")
    eng.sql("DROP SERVER psrv2")
    assert(!eng.sql("SHOW SERVERS").collect().map(_.getString(0))
      .contains("psrv2"))
  }

  test("query interrupt cancels a running job group") {
    val eng = HeavyEngine(spark, sf)
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration._
    val started = new java.util.concurrent.CountDownLatch(1)
    // a DEDICATED thread, not the shared global ExecutionContext:
    // Spark's job-group is an InheritableThreadLocal, so pool threads
    // forked while the group is set would inherit the forever-cancelled
    // "slow-q" group and poison unrelated suites' queries
    val done = Promise[Unit]()
    val runner = new Thread(() =>
      done.complete(scala.util.Try {
        eng.withInterrupt("slow-q") {
          started.countDown()
          // Unindexed cubic join (~10^14 combinations) — cannot finish
          // before the interrupt arrives.
          eng.sql(
            """SELECT count(*) FROM lineitem a CROSS JOIN lineitem b
               CROSS JOIN lineitem c
               WHERE a.l_quantity + b.l_quantity + c.l_quantity < 1""")
            .collect()
          ()
        }
      }))
    runner.start()
    started.await()
    Thread.sleep(500)
    eng.interrupt("slow-q")
    val err = intercept[Exception](Await.result(done.future, 60.seconds))
    assert(err.getMessage.toLowerCase.contains("cancel")
      || err.getCause != null)
    runner.join(10000)
  }

  test("schema-form CREATE WITH options routes; LIKELY/UNLIKELY identities") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_opts")
    eng.sql("CREATE TABLE t_opts (k BIGINT) WITH (fragment_size=1000)")
    eng.sql("INSERT INTO t_opts VALUES (7)")
    assert(eng.sql("SELECT count(*) AS n FROM t_opts WHERE LIKELY(k > 0)")
      .collect().head.getLong(0) == 1L)
    assert(eng.sql("SELECT count(*) AS n FROM t_opts WHERE UNLIKELY(k > 5)")
      .collect().head.getLong(0) == 1L)
    eng.sql("DROP TABLE t_opts")
  }

  test("UPDATE without WHERE touches every row") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_all")
    eng.sql("CREATE TABLE t_all AS SELECT 1 AS k UNION ALL SELECT 2")
    eng.sql("UPDATE t_all SET k = k * 10")
    val got = eng.sql("SELECT sum(k) AS s FROM t_all").collect().head.getLong(0)
    assert(got == 30L)
    eng.sql("DROP TABLE t_all")
  }

  test("UPDATE splits SET from WHERE at the top-level keyword, not at a " +
      "WHERE inside a string literal or subquery") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_upd_lit")
    eng.sql("CREATE TABLE t_upd_lit (k BIGINT, s STRING)")
    eng.sql("INSERT INTO t_upd_lit VALUES (1, 'x'), (2, 'y')")
    eng.sql("UPDATE t_upd_lit SET s = 'a WHERE b' WHERE k = 1")
    eng.sql("""UPDATE t_upd_lit SET s = 'q where' || (SELECT 'z' WHERE
               1 = 1) where k = 2""")
    eng.sql("UPDATE t_upd_lit SET s = s || ' where'")
    val got = eng.sql("SELECT k, s FROM t_upd_lit ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a WHERE b where"), (2L, "q wherez where")))
    eng.sql("DROP TABLE t_upd_lit")
  }

  test("CREATE FUNCTION lifecycle: create, call, replace, list, drop") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP FUNCTION IF EXISTS double_it")
    eng.sql("CREATE FUNCTION double_it(x) AS x * 2")
    assert(eng.sql("SELECT double_it(21) AS v").collect().head.getInt(0)
      == 42)
    // expands inside real queries (argument is a column, not a literal)
    assert(eng.sql(
      """SELECT max(double_it(p_size)) AS m FROM part""")
      .collect().head.getInt(0) ==
      eng.sql("SELECT max(p_size) * 2 AS m FROM part")
        .collect().head.getInt(0))
    // listed by SHOW FUNCTIONS next to the built-in extension surface
    val fns = eng.sql("SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.contains("double_it") && fns.contains("quarterday"))
    // plain CREATE on an existing name is refused; OR REPLACE swaps body
    intercept[Exception] { eng.sql("CREATE FUNCTION double_it(x) AS x") }
    eng.sql("CREATE OR REPLACE FUNCTION double_it(x) AS x * 3")
    assert(eng.sql("SELECT double_it(10) AS v").collect().head.getInt(0)
      == 30)
    // wrong arity fails at plan time
    intercept[Exception] { eng.sql("SELECT double_it(1, 2)").collect() }
    eng.sql("DROP FUNCTION double_it")
    intercept[Exception] { eng.sql("SELECT double_it(1)").collect() }
    // built-ins cannot be dropped; IF EXISTS tolerates missing names
    intercept[Exception] { eng.sql("DROP FUNCTION quarterday") }
    eng.sql("DROP FUNCTION IF EXISTS no_such_function")
  }
  test("MERGE INTO: matched-DELETE variant and null keys never match") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_merge")
    eng.sql("CREATE TABLE t_merge (k BIGINT, v STRING)")
    eng.sql("INSERT INTO t_merge VALUES (1, 'a'), (2, 'b'), " +
      "(CAST(NULL AS BIGINT), 'n')")
    // delete matched keys {2}; null-key row must survive (MERGE ON
    // null = null is not a match)
    eng.sql("MERGE INTO t_merge t USING " +
      "(SELECT CAST(2 AS BIGINT) AS k UNION ALL " +
      "SELECT CAST(NULL AS BIGINT)) s " +
      "ON t.k = s.k WHEN MATCHED THEN DELETE")
    val left = eng.sql("SELECT v FROM t_merge").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(left == Seq("a", "n"))
    // upsert: update 1, insert 9
    eng.sql("MERGE INTO t_merge t USING " +
      "(SELECT CAST(1 AS BIGINT) AS k, 'A' AS v UNION ALL " +
      "SELECT 9, 'I') s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val got = eng.sql("SELECT k, v FROM t_merge").collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(got == Set((Some(1L), "A"), (Some(9L), "I"), (None, "n")))
    eng.sql("DROP TABLE t_merge")
  }

  test("MERGE INTO equi fast path: cardinality window stays on the " +
      "source side; non-equi ON keeps the joined-relation window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_merge_eq")
    eng.sql("CREATE TABLE t_merge_eq (k BIGINT, d BIGINT, v STRING)")
    eng.sql("INSERT INTO t_merge_eq VALUES (1, 1, 'a'), (2, 2, 'b')")
    val src = spark.sql(
      "SELECT CAST(1 AS BIGINT) AS k, CAST(1 AS BIGINT) AS d, 'x' AS v")
    def windowsOverJoin(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: Window if w.collectFirst { case j: Join => j }.isDefined => w
      }.size
    // two-key equi ON: the only Window must sit BELOW the join (over
    // the bare source), so zero Window nodes contain a Join
    val equi = Ddl.mergePlan(spark, "t_merge_eq", src, "t.k = s.k AND t.d = s.d",
      Some(Seq("v" -> "s.v")), isDelete = false, None)
    assert(equi.queryExecution.optimizedPlan
      .collectFirst { case w: Window => w }.isDefined,
      "equi MERGE lost its cardinality check entirely")
    assert(windowsOverJoin(equi) == 0,
      "equi MERGE still windows over the full joined relation:\n" +
        equi.queryExecution.optimizedPlan)
    // non-equi ON falls back to the general joined-relation window
    val theta = Ddl.mergePlan(spark, "t_merge_eq", src, "t.k = s.k AND t.d <= s.d",
      Some(Seq("v" -> "s.v")), isDelete = false, None)
    assert(windowsOverJoin(theta) == 1,
      "non-equi MERGE must keep the per-target-row window:\n" +
        theta.queryExecution.optimizedPlan)
    // the equi fast path still REJECTS duplicate-key sources, and the
    // refusal aborts before any version swap
    val e = intercept[Exception] {
      eng.sql("MERGE INTO t_merge_eq t USING " +
        "(SELECT CAST(1 AS BIGINT) AS k, CAST(1 AS BIGINT) AS d, 'x' AS v " +
        "UNION ALL SELECT 1, 1, 'y') s " +
        "ON t.k = s.k AND t.d = s.d " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    }
    assert(e.getMessage.contains("multiple source rows"))
    assert(eng.sql("SELECT v FROM t_merge_eq ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"),
      "failed MERGE mutated the table")
    // a NON-EQUI cardinality violation is still caught by the fallback
    val e2 = intercept[Exception] {
      eng.sql("MERGE INTO t_merge_eq t USING " +
        "(SELECT CAST(1 AS BIGINT) AS k, CAST(1 AS BIGINT) AS d, 'x' AS v " +
        "UNION ALL SELECT 1, 0, 'y') s " +
        "ON t.k = s.k AND t.d >= s.d " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    }
    assert(e2.getMessage.contains("multiple source rows"))
    // and duplicate source keys that match NO target row stay legal:
    // both rows insert (SQL MERGE inserts every unmatched source row)
    eng.sql("MERGE INTO t_merge_eq t USING " +
      "(SELECT CAST(7 AS BIGINT) AS k, CAST(7 AS BIGINT) AS d, 'i1' AS v " +
      "UNION ALL SELECT 7, 7, 'i2') s " +
      "ON t.k = s.k AND t.d = s.d " +
      "WHEN NOT MATCHED THEN INSERT (k, d, v) VALUES (s.k, s.d, s.v)")
    assert(eng.sql("SELECT count(*) AS n FROM t_merge_eq WHERE k = 7")
      .collect().head.getLong(0) == 2L,
      "unmatched duplicate source keys must both insert")
    eng.sql("DROP TABLE t_merge_eq")
  }

  test("MERGE INTO guards: no-WHEN-clause MERGE is rejected before any " +
      "rewrite; reserved marker-name collisions refuse loudly") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_merge_g")
    eng.sql("CREATE TABLE t_merge_g (k BIGINT, v STRING)")
    eng.sql("INSERT INTO t_merge_g VALUES (1, 'a')")
    // invalid SQL:2003 — neither WHEN clause. Must reject up front,
    // NOT execute a no-op copy-on-write version swap (CREATE=v0,
    // INSERT=v1; a swap would mint v2 — readable via VERSION AS OF).
    val e = intercept[IllegalArgumentException] {
      eng.sql("MERGE INTO t_merge_g t USING " +
        "(SELECT CAST(1 AS BIGINT) AS k, 'x' AS v) s ON t.k = s.k")
    }
    assert(e.getMessage.contains("WHEN clause"))
    intercept[Exception] {
      eng.sql("SELECT * FROM t_merge_g VERSION AS OF 2").collect()
    }
    // a source column named like a reserved marker would be silently
    // REPLACED by withColumn — the plan must refuse instead
    val srcBad = spark.sql(
      "SELECT CAST(1 AS BIGINT) AS k, 'x' AS v, 2L AS __scnt")
    val e2 = intercept[IllegalArgumentException] {
      Ddl.mergePlan(spark, "t_merge_g", srcBad, "t.k = s.k",
        Some(Seq("v" -> "s.v")), isDelete = false, None)
    }
    assert(e2.getMessage.contains("__scnt") &&
      e2.getMessage.contains("reserved"))
    eng.sql("DROP TABLE t_merge_g")
  }

  test("QUALIFY: inline window predicate (no alias) also works") {
    val eng = HeavyEngine(spark, sf)
    val rows = eng.sql(
      """SELECT o_custkey, o_orderkey FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_orderkey) = 1""").collect()
    val nCust = Tables.t(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.length == nCust) // exactly one row per customer
    // and the kept row is each customer's min orderkey
    val minKeys = Tables.t(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.min("o_orderkey").as("mk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == minKeys(r.getLong(0))))
  }
  test("MV rewrite: roll-up query scans the MV, not the fact table, " +
      "and matches the base result; non-derivable queries untouched") {
    val eng = HeavyEngine(spark, sf)
    // MV over a DEDICATED managed base table, never the shared fixture
    // view — a session-registered MV rewrites every matching aggregate
    // in the session, and parallel suites also aggregate lineitem.
    eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_spec")
    eng.sql("DROP TABLE IF EXISTS mvb_spec")
    eng.sql(
      """CREATE TABLE mvb_spec AS
         SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice
         FROM lineitem WHERE l_orderkey % 3 = 0""")
    // independent truth captured BEFORE the MV exists (afterwards the
    // same SQL would itself be rewritten to the MV — circular)
    val wantRows = eng.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, count(*) AS n,
                max(l_extendedprice) AS mx
         FROM mvb_spec GROUP BY l_returnflag""")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2), r.getDouble(3))).toSet
    val reg = eng.sql(
      """CREATE MATERIALIZED VIEW mv_spec AS
         SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq,
                count(*) AS cnt, min(l_extendedprice) AS mn,
                max(l_extendedprice) AS mx
         FROM mvb_spec GROUP BY l_returnflag, l_linestatus""")
      .collect().head
    assert(reg.getAs[Boolean]("rewrite_registered"))
    val df = eng.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, count(*) AS n,
                max(l_extendedprice) AS mx
         FROM mvb_spec GROUP BY l_returnflag""")
    val plan = df.queryExecution.executedPlan.toString
    // rewritten: re-aggregates the MV's partial columns (sq/cnt/mx)...
    assert(plan.contains("sum(sq") && plan.contains("sum(cnt") &&
      plan.contains("max(mx"), "plan does not re-aggregate the MV")
    // ...and never reads the base table's raw measure columns
    assert(!plan.contains("l_quantity"),
      "rewritten plan still scans the base table")
    val got = df.collect().map(r => (r.getString(0),
      r.getAs[Double]("s"), r.getAs[Long]("n"),
      r.getAs[Double]("mx"))).toSet
    assert(got == wantRows, "MV roll-up diverges from base aggregation")
    // a non-derivable aggregate (DISTINCT) must NOT be rewritten
    val nd = eng.sql(
      """SELECT l_returnflag, count(DISTINCT l_extendedprice) AS d
         FROM mvb_spec GROUP BY l_returnflag""")
    val ndPlan = nd.queryExecution.executedPlan.toString
    assert(!ndPlan.contains("sum(sq") && ndPlan.contains("l_extendedprice"),
      "DISTINCT query was wrongly redirected to the MV")
    eng.sql("DROP MATERIALIZED VIEW mv_spec")
    // after the drop, the roll-up plans against the base table again
    val back = eng.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s
         FROM mvb_spec GROUP BY l_returnflag""")
    assert(back.queryExecution.executedPlan.toString
      .contains("l_quantity"))
    eng.sql("DROP TABLE mvb_spec")
  }

  test("MV rewrite: star-join roll-up is served from the join-MV as a " +
      "bare scan+agg; a different join condition is untouched") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_jspec")
    eng.sql("DROP TABLE IF EXISTS mvf_jspec")
    eng.sql("DROP TABLE IF EXISTS mvd_jspec")
    eng.sql(
      """CREATE TABLE mvf_jspec AS
         SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
         WHERE l_orderkey % 3 = 0""")
    eng.sql(
      """CREATE TABLE mvd_jspec AS
         SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 3 = 0""")
    // independent truth captured BEFORE the MV exists
    val wantRows = eng.sql(
      """SELECT o_orderpriority, sum(l_quantity) AS s, count(*) AS n
         FROM mvf_jspec JOIN mvd_jspec ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val reg = eng.sql(
      """CREATE MATERIALIZED VIEW mv_jspec AS
         SELECT o_orderpriority, l_returnflag, sum(l_quantity) AS sq,
                count(*) AS cnt
         FROM mvf_jspec JOIN mvd_jspec ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority, l_returnflag""").collect().head
    assert(reg.getAs[Boolean]("rewrite_registered"),
      "join-MV definition was not registered for rewrite")
    val df = eng.sql(
      """SELECT o_orderpriority, sum(l_quantity) AS s, count(*) AS n
         FROM mvf_jspec JOIN mvd_jspec ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""")
    val plan = df.queryExecution.executedPlan.toString
    // rewritten: re-aggregates the MV's partials, no fact scan, NO JOIN
    assert(plan.contains("sum(sq") && plan.contains("sum(cnt"),
      "plan does not re-aggregate the join-MV")
    assert(!plan.contains("l_quantity"),
      "rewritten plan still scans the fact table")
    assert(!plan.toLowerCase.contains("join"),
      "rewritten plan still executes the join")
    val got = df.collect().map(r => (r.getString(0),
      r.getAs[Double]("s"), r.getAs[Long]("n"))).toSet
    assert(got == wantRows, "join-MV roll-up diverges from the join")
    // a DIFFERENT join condition must not be redirected
    val other = eng.sql(
      """SELECT o_orderpriority, count(*) AS n
         FROM mvf_jspec JOIN mvd_jspec ON l_orderkey = o_orderkey + 1
         GROUP BY o_orderpriority""")
    assert(other.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"),
      "a mismatched join condition was wrongly served from the MV")
    eng.sql("DROP MATERIALIZED VIEW mv_jspec")
    eng.sql("DROP TABLE mvf_jspec")
    eng.sql("DROP TABLE mvd_jspec")
  }

  test("ANALYZE/CTAS statistics flip the broadcast build side under " +
      "spark.sql.cbo.enabled (file size lies, row count does not)") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_wide")
    eng.sql("DROP TABLE IF EXISTS t_narrow")
    // t_wide: many rows of a CONSTANT long string — dictionary+RLE
    // collapse the file to a few KB while the logical relation is tens
    // of MB. t_narrow: few rows of incompressible md5 text — a BIGGER
    // file than t_wide but a far smaller relation. File-size-based
    // planning (cbo off) must therefore broadcast the WRONG side; the
    // rowCount stats computed at CTAS flip it (cbo on) — the reference
    // keys its join order off table cardinalities the same way
    // (FromTableReordering.cpp:118).
    eng.sql(
      """CREATE TABLE t_wide AS
         SELECT l_orderkey % 100 AS k, repeat('x', 400) AS pad
         FROM lineitem""")
    eng.sql(
      """CREATE TABLE t_narrow AS
         SELECT o_orderkey % 100 AS k,
                concat(md5(CAST(o_orderkey AS STRING)),
                       md5(CAST(o_orderkey + 1 AS STRING)),
                       md5(CAST(o_orderkey + 2 AS STRING)),
                       md5(CAST(o_orderkey + 3 AS STRING))) AS tag
         FROM orders WHERE o_orderkey % 2 = 0""")
    def broadcastSide(): String = {
      val plan = eng.sql(
        """SELECT max(length(w.pad)) AS mp, max(length(n.tag)) AS mt
           FROM t_wide w JOIN t_narrow n ON w.k = n.k""")
        .queryExecution.executedPlan.toString
      val i = plan.indexOf("BroadcastExchange")
      assert(i >= 0, s"no broadcast exchange in plan:\n$plan")
      val rest = plan.substring(i)
      val (p, t) = (rest.indexOf("pad"), rest.indexOf("tag"))
      if (p >= 0 && (t < 0 || p < t)) "wide" else "narrow"
    }
    val cboPrev = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      assert(broadcastSide() == "wide",
        "without CBO the (misleadingly tiny) compressed file should be " +
          "the build side — fixture no longer exhibits the skew")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      assert(broadcastSide() == "narrow",
        "rowCount statistics did not flip the build side under CBO")
    } finally spark.conf.set("spark.sql.cbo.enabled", cboPrev)
    // column stats surface through ANALYZE + SHOW TABLE DETAILS
    val an = eng.sql(
      "ANALYZE TABLE t_narrow COMPUTE STATISTICS FOR COLUMNS k, tag")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(an("k").getLong(1) == 50,
      "ndv(k) should be 50 (even keys mod 100)")
    assert(an("tag").getLong(2) == 0L, "tag has no nulls")
    val det = eng.sql("SHOW TABLE DETAILS t_narrow").collect().head
    assert(det.getAs[Long]("stats_rows") == det.getAs[Long]("n_rows"))
    assert(det.getAs[Int]("analyzed_columns") == 2)
    eng.sql("DROP TABLE t_wide")
    eng.sql("DROP TABLE t_narrow")
  }

  test("CBO join reorder: ANALYZE column stats flip a 3-table join " +
      "order under cbo.joinReorder.enabled; textual order stands " +
      "without them") {
    // The q583 entry REQUIREs both plan shapes internally (innermost
    // join = fact⋈tiny-dim with stats+flags, fact⋈fanout-dim without)
    // and throws on any non-reorder — running it IS the plan pin.
    val df = SparkEntry.queries("q583_cbo_join_reorder")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 5, "expected one group per k2 value 0-4")
    assert(rows.forall(_.getAs[Boolean]("reorder_pinned")))
    // fanout sanity: every group joins >1 d1 row per fact row
    assert(rows.forall(r => r.getAs[Long]("n") > 0))
  }

  test("VERSION AS OF reads historical versions; VACUUM makes them " +
      "unreadable with a clear error") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_tt")
    eng.sql("CREATE TABLE t_tt AS SELECT 1 AS k UNION ALL SELECT 2")
    eng.sql("UPDATE t_tt SET k = k + 10")
    // v0 = {1,2}, v1 = {11,12}, current = v1
    val v0 = eng.sql("SELECT k FROM t_tt VERSION AS OF 0").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(v0 == Seq(1, 2))
    val v1 = eng.sql("SELECT sum(k)::BIGINT AS s FROM t_tt VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(v1 == 23L)
    // a historical and the current version can join in one query
    val joined = eng.sql(
      """SELECT count(*) AS n FROM t_tt a
         JOIN t_tt VERSION AS OF 0 b ON a.k = b.k + 10""").collect()
      .head.getLong(0)
    assert(joined == 2L)
    eng.sql("VACUUM t_tt")
    val err = intercept[IllegalArgumentException] {
      eng.sql("SELECT * FROM t_tt VERSION AS OF 0")
    }
    assert(err.getMessage.contains("VACUUM"))
    eng.sql("DROP TABLE t_tt")
  }

  test("incremental read: EXCEPT between table versions is the CDC " +
      "delta") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_inc")
    eng.sql("CREATE TABLE t_inc AS SELECT 1 AS k UNION ALL SELECT 2")
    eng.sql("UPDATE t_inc SET k = k + 10 WHERE k = 2") // v1: {1, 12}
    val added = eng.sql(
      """SELECT k FROM t_inc VERSION AS OF 1
         EXCEPT SELECT k FROM t_inc VERSION AS OF 0""")
      .collect().map(_.getInt(0)).toSeq
    val removed = eng.sql(
      """SELECT k FROM t_inc VERSION AS OF 0
         EXCEPT SELECT k FROM t_inc VERSION AS OF 1""")
      .collect().map(_.getInt(0)).toSeq
    assert(added == Seq(12) && removed == Seq(2))
    eng.sql("DROP TABLE t_inc")
  }

  test("VACUUM drops superseded versions, keeps the current one intact") {
    val eng = HeavyEngine(spark, sf)
    eng.sql("DROP TABLE IF EXISTS t_vac")
    eng.sql("CREATE TABLE t_vac AS SELECT 1 AS k UNION ALL SELECT 2")
    eng.sql("UPDATE t_vac SET k = k + 10")
    eng.sql("UPDATE t_vac SET k = k + 100")
    val r = eng.sql("VACUUM t_vac").collect().head
    assert(r.getAs[Long]("n_versions_removed") == 2L)
    // data must survive the vacuum exactly
    val got = eng.sql("SELECT k FROM t_vac").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(111, 112))
    // a second vacuum removes nothing
    assert(eng.sql("VACUUM t_vac").collect().head
      .getAs[Long]("n_versions_removed") == 0L)
    eng.sql("DROP TABLE t_vac")
  }

  test("fingerprint index DDL: refusals, IF EXISTS, idempotent admit, " +
      "re-create overwrites") {
    val eng = HeavyEngine(spark, sf)
    // refusals name the missing index
    for (stmt <- Seq(
        "ALTER FINGERPRINT INDEX nope ADMIT FROM documents(text)",
        "ALTER FINGERPRINT INDEX nope RETRACT FROM documents(text)",
        "OPTIMIZE FINGERPRINT INDEX nope",
        "CLASSIFY documents(doc_id, text) AGAINST nope")) {
      val e = intercept[IllegalArgumentException](eng.sql(stmt))
      assert(e.getMessage.contains("fingerprint index not found"),
        s"$stmt -> ${e.getMessage}")
    }
    // DROP IF EXISTS of an absent index is a no-op
    eng.sql("DROP FINGERPRINT INDEX IF EXISTS nope")
    eng.sql("DROP FINGERPRINT INDEX IF EXISTS spec_fidx")
    eng.sql("CREATE FINGERPRINT INDEX spec_fidx ON documents(text)")
    val n0 = eng.sql("SHOW FINGERPRINT INDEXES")
      .filter(org.apache.spark.sql.functions.col("index_name") ===
        "spec_fidx")
      .collect().head.getAs[Long]("n_fingerprints")
    assert(n0 > 0)
    // admitting the same rows is a no-op (idempotent anti-join)
    eng.sql("ALTER FINGERPRINT INDEX spec_fidx ADMIT FROM documents(text)")
    val n1 = eng.sql("SHOW FINGERPRINT INDEXES")
      .filter(org.apache.spark.sql.functions.col("index_name") ===
        "spec_fidx")
      .collect().head.getAs[Long]("n_fingerprints")
    assert(n1 == n0, s"replayed admit changed the index: $n0 -> $n1")
    // CREATE again overwrites (day-0 rebuild), not appends
    eng.sql("CREATE FINGERPRINT INDEX spec_fidx ON documents(text)")
    val n2 = eng.sql("SHOW FINGERPRINT INDEXES")
      .filter(org.apache.spark.sql.functions.col("index_name") ===
        "spec_fidx")
      .collect().head.getAs[Long]("n_fingerprints")
    assert(n2 == n0)
    eng.sql("DROP FINGERPRINT INDEX spec_fidx")
    assert(eng.sql("SHOW FINGERPRINT INDEXES")
      .filter(org.apache.spark.sql.functions.col("index_name") ===
        "spec_fidx").count() == 0)
  }

  test("vector index DDL: refusals, idempotent admit, partition layout") {
    import org.apache.spark.sql.functions._
    val eng = HeavyEngine(spark, sf)
    for (stmt <- Seq(
        "ALTER VECTOR INDEX nope ADMIT FROM embeddings(vec_id, embedding)",
        "SEARCH embeddings(vec_id, embedding) AGAINST nope TOP 5")) {
      val e = intercept[IllegalArgumentException](eng.sql(stmt))
      assert(e.getMessage.contains("vector index not found"))
    }
    eng.sql("DROP VECTOR INDEX IF EXISTS spec_vidx")
    eng.sql("CREATE VECTOR INDEX spec_vidx ON embeddings(vec_id, embedding)")
    def stats() = eng.sql("SHOW VECTOR INDEXES")
      .filter(col("index_name") === "spec_vidx").collect().head
    val n0 = stats().getAs[Long]("n_vectors")
    assert(n0 > 0 && stats().getAs[Long]("n_cells") > 1)
    // replayed admit of already-present vectors adds nothing
    eng.sql("ALTER VECTOR INDEX spec_vidx ADMIT FROM embeddings(vec_id, embedding)")
    assert(stats().getAs[Long]("n_vectors") == n0)
    // the SEARCH candidate scan is partition-pruned (cid=... dirs only)
    val res = eng.sql(
      "SEARCH embeddings(vec_id, embedding) AGAINST spec_vidx TOP 3")
    assert(res.columns.toSeq == Seq("probe_id", "rank", "n_id"))
    assert(res.groupBy(col("probe_id")).count()
      .agg(max(col("count"))).head().getLong(0) <= 3)
    eng.sql("DROP VECTOR INDEX spec_vidx")
    assert(eng.sql("SHOW VECTOR INDEXES")
      .filter(col("index_name") === "spec_vidx").count() == 0)
  }
}
