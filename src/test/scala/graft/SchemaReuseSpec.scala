package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Reads of parquet whose schema the engine knows (`KnownSchema`) run no
  * schema-inference job, and hand out the schema a schema-less read
  * would have inferred.
  */
class SchemaReuseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def inferred(path: String): StructType =
    spark.read.parquet(path).schema

  /** A fixture directory in the `Tables` layout: `orders`, and `events`
    * with `ts` as a naive timestamp (the TIMESTAMP_NTZ generation that
    * `Tables.t` normalises to TimestampType).
    */
  private lazy val fixtures: String = {
    val dir = Stage.scratchDir("schema_reuse_fixtures")
    spark.range(200).select(col("id").as("o_orderkey"),
        (col("id") % 17).as("o_custkey"),
        (col("id") * 1.5).as("o_totalprice"),
        when(col("id") % 3 === 0, "F").otherwise("O").as("o_orderstatus"))
      .write.parquet(s"$dir/orders.parquet")
    spark.range(100).select(col("id").as("event_id"),
        (col("id") % 7).as("user_id"),
        timestamp_seconds(col("id")).cast("timestamp_ntz").as("ts"),
        lit("view").as("event_type"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def run(stmt: String): DataFrame = Ddl.route(spark, stmt).get

  test("a repeated Tables.t runs no job and keeps the inferred schema, " +
      "with events.ts normalised") {
    for (n <- Seq("orders", "events")) {
      Tables.t(spark, fixtures, n) // the session's first read may infer
      val (df, jobs) = JobCounter(spark)(Tables.t(spark, fixtures, n))
      assert(jobs == 0, s"$n: $jobs jobs")
      val fresh = inferred(s"$fixtures/$n.parquet")
      val expected =
        if (n != "events") fresh
        else StructType(fresh.map(f =>
          if (f.name == "ts") StructField("ts", TimestampType) else f))
      assert(df.schema == expected, n)
    }
  }

  test("two Tables.t reads are distinct relations: a self-join resolves") {
    val a = Tables.t(spark, fixtures, "orders")
    val b = Tables.t(spark, fixtures, "orders")
    assert(a.queryExecution.analyzed.outputSet
      .intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == 200)
  }

  test("a fixture file rewritten in place with a new schema is inferred " +
      "again") {
    def onePart(df: DataFrame): Path = {
      val d = Stage.scratchDir("schema_reuse_src")
      df.coalesce(1).write.mode("overwrite").parquet(d)
      val s = Files.list(Paths.get(d))
      try s.filter(_.toString.endsWith(".parquet")).findFirst.get
      finally s.close()
    }
    val dir = Stage.scratchDir("schema_reuse_fixture")
    val file = Paths.get(s"$dir/tbl.parquet")
    Files.copy(onePart(spark.range(3).toDF("a")), file)
    assert(Tables.t(spark, dir, "tbl").schema == inferred(file.toString))
    assert(JobCounter.count(spark)(Tables.t(spark, dir, "tbl")) == 0)

    val next = spark.range(4)
      .select(col("id").cast("string").as("a"), (col("id") * 2).as("b"))
    Files.copy(onePart(next), file, StandardCopyOption.REPLACE_EXISTING)
    val (df, jobs) = JobCounter(spark)(Tables.t(spark, dir, "tbl"))
    assert(jobs == 1, "the rewritten file must be inferred again")
    assert(df.schema == inferred(file.toString))
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(df.count() == 4)
  }

  test("Stage runs only its write jobs and reads back the inferred " +
      "schema for non-nullable, struct and array columns") {
    val df = spark.range(20).select(col("id"),
      struct(col("id").as("k"), lit("x").as("tag")).as("s"),
      array(col("id"), col("id") + 1).as("arr"),
      map(lit("m"), col("id")).as("mp"))
    assert(!df.schema("id").nullable && !df.schema("s").nullable)
    val writeJobs = JobCounter.count(spark)(
      df.write.mode("overwrite").parquet(Stage.scratchDir("schema_reuse_w")))
    val (staged, jobs) = JobCounter(spark)(Stage(df, "schema_reuse"))
    assert(jobs == writeJobs, s"stage ran $jobs jobs, the write $writeJobs")
    val dir = Paths.get(new java.net.URI(staged.inputFiles.head)).getParent
    assert(staged.schema == inferred(dir.toString))
    assert(staged.filter(element_at(col("arr"), 2) === col("s.k") + 1)
      .count() == 20)
  }

  test("managed INSERT, UPDATE and DELETE each run one write job, and " +
      "every view keeps the inferred schema") {
    Tables.t(spark, fixtures, "orders").createOrReplaceTempView("sr_orders")
    def viewMatches(name: String): Unit =
      assert(spark.table(name).schema == inferred(Ddl.tablePath(name)), name)
    run("DROP TABLE IF EXISTS t_sr")
    run("""CREATE TABLE t_sr AS SELECT o_orderkey, o_custkey, o_totalprice
           FROM sr_orders WHERE o_orderkey % 7 = 0""")
    viewMatches("t_sr")
    // Before: 3 jobs each — an inference of the current version, the
    // write, an inference of the new version for the view.
    for (stmt <- Seq(
        """INSERT INTO t_sr SELECT o_orderkey, o_custkey, o_totalprice
           FROM sr_orders WHERE o_orderkey % 7 = 1""",
        "UPDATE t_sr SET o_totalprice = o_totalprice + 1 " +
          "WHERE o_custkey % 2 = 0",
        "DELETE FROM t_sr WHERE o_orderkey % 3 = 0")) {
      assert(JobCounter.count(spark)(run(stmt)) == 1, stmt)
      viewMatches("t_sr")
    }
    // a pinned historical version is a view over its own schema, built
    // without a job
    val (v0, jobs) = JobCounter(spark)(spark.sql(
      Ddl.rewriteTimeTravel(spark, "SELECT * FROM t_sr VERSION AS OF 0")))
    assert(jobs == 0)
    assert(v0.schema == spark.table("t_sr").schema)
    run("DROP TABLE t_sr")

    run("DROP TABLE IF EXISTS t_srp")
    run("""CREATE TABLE t_srp WITH (partition_key=o_orderstatus)
           AS SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM sr_orders""")
    viewMatches("t_srp")
    assert(spark.table("t_srp").columns.last == "o_orderstatus")
    assert(JobCounter.count(spark)(
      run("DELETE FROM t_srp WHERE o_totalprice < 100")) == 1)
    viewMatches("t_srp")
    run("DROP TABLE t_srp")

    run("DROP TABLE IF EXISTS t_srs")
    run("""CREATE TABLE t_srs (k BIGINT, s STRING, d DATE, ts TIMESTAMP,
           amt DECIMAL(10,2), tags ARRAY<STRING>)""")
    viewMatches("t_srs")
    run("""INSERT INTO t_srs SELECT 1, 'a', DATE '2024-01-02',
           TIMESTAMP '2024-01-02 03:04:05', 1.25, array('x')""")
    viewMatches("t_srs")
    run("DROP TABLE t_srs")
  }

  test("RESTORE of a dumped archive and vector-index reads run no " +
      "inference job") {
    val arch = Stage.scratchDir("schema_reuse_dump") + "/arch"
    run("DROP TABLE IF EXISTS t_srd")
    run("CREATE TABLE t_srd AS SELECT 1 AS k UNION ALL SELECT 2")
    run(s"DUMP TABLE t_srd TO '$arch'")
    run("UPDATE t_srd SET k = 99")
    assert(JobCounter.count(spark)(
      run(s"RESTORE TABLE t_srd FROM '$arch'")) == 1)
    assert(spark.table("t_srd").schema == inferred(arch))
    run("DROP TABLE t_srd")

    spark.range(200).select(col("id").as("vec_id"),
        array((1 to 6).map(i => cos(col("id") * i).cast("float")): _*)
          .as("embedding"))
      .createOrReplaceTempView("sr_emb")
    run("DROP VECTOR INDEX IF EXISTS sr_vidx")
    run("CREATE VECTOR INDEX sr_vidx ON sr_emb(vec_id, embedding)")
    val (show, jobs) = JobCounter(spark)(
      run("SHOW VECTOR INDEXES").filter(col("index_name") === "sr_vidx")
        .collect())
    assert(show.length == 1 && show.head.getAs[Long]("n_vectors") == 200)
    assert(jobs == 0, s"$jobs jobs")
    val hits = run("SEARCH sr_emb(vec_id, embedding) AGAINST sr_vidx TOP 3")
    assert(hits.groupBy(col("probe_id")).count()
      .agg(max(col("count"))).head().getLong(0) <= 3)
    run("DROP VECTOR INDEX sr_vidx")
  }
}
