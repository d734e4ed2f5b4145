package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.util.matching.Regex

/** DDL/DML over managed parquet tables — SURVEY §2.12.
  *
  * The reference classifies each statement up front
  * (`Parser/ParserWrapper.h:106-113` in /root/reference: is_ddl /
  * is_update_dml / is_ctas / is_itas / is_copy ...) and dispatches to
  * dedicated executors (CREATE `Parser/ParserNode.h:990`, CTAS :1173,
  * ITAS :1131, INSERT VALUES :2110, COPY :1464, UPDATE/DELETE through
  * `QueryEngine/StorageIOFacility.h:105`). This object is that router,
  * Spark-first:
  *
  *  - tables are versioned parquet directories under a session-scoped
  *    base dir, exposed as temp views (the in-engine catalog maps
  *    name → current version path, like the reference's epoch-numbered
  *    table storage);
  *  - CTAS / CREATE(schema) write v0; INSERT appends files to the
  *    current version (fragment append, `Fragmenter/
  *    InsertOrderFragmenter.cpp` — no rewrite, scale-safe);
  *  - UPDATE / DELETE are copy-on-write: the new version is written
  *    completely, then the catalog pointer swaps — readers of the old
  *    version are never disturbed and a failed rewrite leaves the table
  *    untouched (the reference's deleted-bitmap + epoch rollback,
  *    re-expressed for immutable parquet). At 100 TB the rewrite is
  *    bounded by partition pruning on the WHERE clause when the table is
  *    partitioned; the full-scan fallback here is the correct semantics
  *    at any scale, one job, no driver materialization;
  *  - COPY t FROM 'x.csv' / COPY (SELECT ...) TO 'dir' map to
  *    `spark.read.csv` (schema from the target table) and `df.write.csv`
  *    (`ImportExport/Importer.cpp`, `QueryExporterCSV.cpp`).
  *
  * Expressions inside statements (SET right-hand sides, WHERE clauses,
  * VALUES rows, source SELECTs) are handed to Catalyst via `expr`/`sql` —
  * this router only recognizes statement SHAPE, never re-implements
  * expression parsing.
  *
  * A relation's schema comes from what the engine already knows, not from
  * a footer re-read on every call: like the reference's catalog column
  * descriptors (`Catalog/ColumnDescriptor.h:33-48`), each table version
  * records its schema when it is written — the written frame's, or one
  * inference for a `partition_key` layout — and every scan of it
  * (`table`, the registered view, VERSION AS OF) passes that schema
  * (`KnownSchema`). An INSERT appends to the current version, so it keeps
  * its schema.
  */
object Ddl {

  // schemas: version → schema of every version written in this catalog
  // (VACUUM keeps only the current one)
  private case class Managed(baseDir: String, version: Int,
      schemas: Map[Int, StructType]) {
    def schema: StructType = schemas(version)
    def withSchema(s: StructType): Managed =
      copy(schemas = schemas.updated(version, s))
  }
  private val catalog = new ConcurrentHashMap[String, Managed]()

  private lazy val root: String = Stage.scratchDir("graft_tables")

  private def currentPath(m: Managed) = s"${m.baseDir}/v${m.version}"

  private def managed(name: String): Managed = {
    val m = catalog.get(name)
    require(m != null, s"table not found: $name")
    m
  }

  // ---- table-level statistics (CBO contract) --------------------------
  // The reference keys join ordering off per-table cardinalities
  // (`QueryEngine/FromTableReordering.cpp:118`); Spark's analog is
  // CatalogStatistics consumed under spark.sql.cbo.enabled. Managed
  // tables here are path-based (no session-catalog entry), so stats live
  // in this registry and are attached to every scan by stamping a
  // minimal CatalogTable onto the LogicalRelation — rowCount-derived
  // sizes then drive build-side/broadcast choices exactly like a
  // catalog table's. Basic stats (rows + bytes) are computed
  // automatically at CTAS and OPTIMIZE; column stats via
  // ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS. Any mutation
  // (DML rewrite, INSERT append) invalidates until re-ANALYZE.
  private case class ColStat(ndv: Long, nulls: Long, minV: Option[String],
      maxV: Option[String], avgLen: Long, maxLen: Long)
  private case class TableStats(rowCount: Long, sizeBytes: Long,
      cols: Map[String, ColStat])
  private val tableStats = new ConcurrentHashMap[String, TableStats]()

  private def dirParquetBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(Files.size).sum
    } finally s.close()
  }

  /** Exact row count from the parquet footers, read driver-side — no
    * Spark job. Every CTAS/mutation recomputes basic stats, so the old
    * `spark.read.parquet(dir).count()` scheduled one count job per DDL
    * statement across the whole DDL-lifecycle bench class; the footer
    * block counts are the same number the vectorized count reads,
    * without the scan tasks (guide §5 — keep the driver out of data
    * work, but metadata IS driver work).
    */
  private def dirParquetRows(dir: String): Long =
    filesParquetRows(listParquet(dir).toSeq)

  /** Same footer-count discipline for an explicit file list (a catalog
    * table's inputFiles — SHOW FINGERPRINT INDEXES was scheduling two
    * count jobs per SHOW for numbers the footers already hold).
    */
  private[graft] def filesParquetRows(files: Seq[String]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Rows (parquet-footer count, driver-side) + on-disk bytes. */
  private def computeBasicStats(spark: SparkSession, name: String)
      : TableStats = {
    val dir = currentPath(managed(name))
    val prev = Option(tableStats.get(name))
    val st = TableStats(dirParquetRows(dir),
      dirParquetBytes(dir),
      prev.map(_.cols).getOrElse(Map.empty))
    tableStats.put(name, st)
    st
  }

  /** Stamp registered statistics onto the scan so the optimizer sees
    * them (LogicalRelation.computeStats reads catalogTable.stats; with
    * cbo.enabled the rowCount-derived size replaces the raw file size).
    * min/max only ride along for types CatalogColumnStat can re-parse.
    */
  private def withStats(spark: SparkSession, name: String,
      df: DataFrame): DataFrame = {
    val st = tableStats.get(name)
    if (st == null) df
    else {
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.catalyst.catalog._
      import org.apache.spark.sql.types._
      def rangeSafe(dt: DataType): Boolean = dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      }
      val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val colStats = st.cols.collect {
        case (c, cs) if fieldType.contains(c) =>
          val safe = rangeSafe(fieldType(c))
          c -> CatalogColumnStat(
            distinctCount = Some(BigInt(cs.ndv)),
            min = if (safe) cs.minV else None,
            max = if (safe) cs.maxV else None,
            nullCount = Some(BigInt(cs.nulls)),
            avgLen = Some(cs.avgLen),
            maxLen = Some(cs.maxLen))
      }
      val ct = CatalogTable(
        identifier = TableIdentifier(name),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = df.schema,
        provider = Some("parquet"),
        stats = Some(CatalogStatistics(BigInt(st.sizeBytes),
          Some(BigInt(st.rowCount)), colStats)))
      val plan = df.queryExecution.analyzed.transform {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.copy(catalogTable = Some(ct))
      }
      org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, plan)
    }
  }

  private def registerView(spark: SparkSession, name: String): Unit =
    table(spark, name).createOrReplaceTempView(name)

  private def table(spark: SparkSession, name: String): DataFrame = {
    val m = managed(name)
    withStats(spark, name, KnownSchema.read(spark, m.schema, currentPath(m)))
  }

  /** Current version directory of a managed table. */
  private[graft] def tablePath(name: String): String =
    currentPath(managed(name))

  /** Rewrite `<table> VERSION AS OF <n>` references to temp views over
    * the pinned version directory — the time-travel read. Copy-on-write
    * keeps every superseded version on disk until VACUUM, so any
    * un-vacuumed epoch stays readable; a vacuumed or never-written
    * version errors with the reason.
    */
  def rewriteTimeTravel(spark: SparkSession, q: String): String =
    TimeTravelRef.replaceAllIn(q, m => {
      val (name, ver) = (m.group(1), m.group(2).toInt)
      val mg = managed(name)
      val dir = Paths.get(s"${mg.baseDir}/v$ver")
      require(mg.schemas.contains(ver) && Files.isDirectory(dir),
        s"version $ver of $name does not exist (never written, " +
          "or removed by VACUUM)")
      val view = s"${name}__v$ver"
      KnownSchema.read(spark, mg.schemas(ver), dir.toString)
        .createOrReplaceTempView(view)
      view
    })

  /** Write df as the next version of `name`, then swap the pointer.
    * Small versions (by optimizer statistics, no extra scan) collapse to
    * one file — version churn on small tables stays one-task-per-write;
    * large rewrites keep their full write parallelism.
    */
  private def swapIn(spark: SparkSession, name: String, df: DataFrame): Unit = {
    invalidateMvsOver(name)
    val m = nextVersion(name, df.schema)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sized = if (bytes < (64L << 20)) df.coalesce(1) else df
    sized.write.mode("overwrite").parquet(currentPath(m))
    catalog.put(name, m)
    tableStats.remove(name) // a rewrite stales stats until re-ANALYZE
    registerView(spark, name)
  }

  /** The catalog entry for the next version of `name` (v0 of a new
    * table), whose written frame has `schema`; the caller writes it, then
    * commits it with `catalog.put`.
    */
  private def nextVersion(name: String, schema: StructType): Managed =
    Option(catalog.get(name)).map(m => m.copy(version = m.version + 1))
      .getOrElse(Managed(s"$root/$name", 0, Map.empty)).withSchema(schema)

  /** HeavyDB-style table options (`Catalog/TableDescriptor.h:53-67`):
    * shard_count + shard_key → hash-repartition on the shard column
    * (co-locates shard-key joins, the reference's nShards); fragment_size
    * → maxRecordsPerFile (the 32M-row fragment unit,
    * `Fragmenter/FragmentDefaultValues.h:19`); partition_key →
    * directory-partitioned layout, so equality/IN filters on the key
    * prune whole partitions at planning time (the scan never lists
    * them — the analog of the reference's fragment skipping on
    * min/max metadata, made structural).
    */
  def createTableAs(spark: SparkSession, name: String, df: DataFrame,
      options: Map[String, String] = Map.empty): Unit = {
    val sharded = (options.get("shard_count").map(_.toInt),
        options.get("shard_key")) match {
      case (Some(n), Some(key)) => df.repartition(n, col(key))
      case (Some(n), None) => df.repartition(n)
      case _ => df
    }
    invalidateMvsOver(name)
    val written = nextVersion(name, sharded.schema)
    val path = currentPath(written)
    val writer0 = options.get("fragment_size").foldLeft(
      sharded.write.mode("overwrite"))(
      (w, fs) => w.option("maxRecordsPerFile", fs.toLong))
    val writer = options.get("partition_key").foldLeft(writer0)(
      (w, k) => w.partitionBy(k))
    writer.parquet(path)
    // a partitioned layout reads back with the key last, typed from the
    // directory names: its schema is the one thing the frame can't give
    catalog.put(name,
      if (options.contains("partition_key"))
        written.withSchema(KnownSchema.infer(spark, path))
      else written)
    tableStats.remove(name)
    // basic stats ride along with every CTAS (the reference computes
    // fragment metadata at load; ANALYZE adds column stats on demand)
    computeBasicStats(spark, name)
    registerView(spark, name)
  }

  def createTable(spark: SparkSession, name: String, schema: StructType): Unit =
    swapIn(spark, name,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema))

  /** INSERT: schema-align by position, then append files to the current
    * version directory (no rewrite).
    */
  def insertInto(spark: SparkSession, name: String, rows: DataFrame): Unit = {
    invalidateMvsOver(name)
    val m = managed(name)
    val target = table(spark, name).schema
    require(rows.schema.length == target.length,
      s"INSERT arity ${rows.schema.length} != table arity ${target.length}")
    // Positional rename first: VALUES-derived column names can contain
    // dots ("30.0") that attribute resolution would treat as nesting.
    val aligned = rows.toDF(target.fieldNames.toIndexedSeq: _*)
      .select(target.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    aligned.write.mode("append").parquet(currentPath(m))
    spark.catalog.refreshByPath(currentPath(m))
    tableStats.remove(name) // appended rows stale stats until re-ANALYZE
    registerView(spark, name)
  }

  /** UPDATE ... SET a = e1, b = e2 WHERE cond — copy-on-write rewrite. */
  def update(spark: SparkSession, name: String,
      assignments: Seq[(String, String)], where: Option[String]): Unit = {
    val df = table(spark, name)
    val cond = where.map(expr).getOrElse(lit(true))
    val updated = df.select(df.columns.map { c =>
      assignments.find(_._1.equalsIgnoreCase(c)) match {
        case Some((_, e)) =>
          when(cond, expr(e).cast(df.schema(c).dataType))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toSeq: _*)
    swapIn(spark, name, updated)
  }

  /** Pure conjunction of `t.col = s.col` / `s.col = t.col` equalities
    * → Some(source-side key column names); None for anything else
    * (parentheses, OR, inequality, same-side terms) — those take the
    * general cardinality-check path.
    */
  private val EquiTerm =
    """(?is)\s*([ts])\.(\w+)\s*=\s*([ts])\.(\w+)\s*""".r
  private[graft] def equiSourceKeys(onCond: String): Option[Seq[String]] = {
    if (onCond.exists(c => c == '(' || c == ')')) None
    else {
      val keys = onCond.split("(?i)\\s+AND\\s+").toSeq.map {
        case EquiTerm(a, ac, b, bc) if !a.equalsIgnoreCase(b) =>
          Some(if (a.equalsIgnoreCase("s")) ac else bc)
        case _ => None
      }
      if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.map(_.get))
      else None
    }
  }

  /** MERGE INTO — upsert as ONE full-outer join + projection
    * copy-on-write rewrite (the Delta/Iceberg MERGE plan shape).
    * Presence is tracked by marker columns, not key nullability, so
    * null join keys behave like SQL MERGE (never match).
    */
  def mergeInto(spark: SparkSession, name: String, src: DataFrame,
      onCond: String, updates: Option[Seq[(String, String)]],
      isDelete: Boolean,
      insert: Option[Seq[(String, String)]]): Unit = {
    val planned =
      mergePlan(spark, name, src, onCond, updates, isDelete, insert)
    try swapIn(spark, name, planned)
    catch {
      case e: Throwable
          if Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).take(8)
            .exists(c => Option(c.getMessage)
              .exists(_.contains("multiple source rows"))) =>
        throw new IllegalArgumentException(cardinalityMsg(name), e)
    }
  }

  private def cardinalityMsg(name: String): String =
    s"MERGE INTO $name: the ON condition matches multiple source rows " +
      "to one target row; de-duplicate the source on the merge keys"

  /** Build the MERGE rewrite plan (package-visible so specs can pin
    * its shape without committing a table version).
    *
    * SQL:2003 / lakehouse MERGE cardinality rule: a target row matched
    * by MORE THAN ONE source row is an error, not a silent duplication.
    * Round-11 fused the check into the rewrite job; this round adds the
    * EQUI fast path: when the ON condition is a pure conjunction of
    * `t.k = s.k` equalities, "one target row matched by >1 source rows"
    * is exactly "a MATCHED source row whose merge-key group has >1
    * source rows" — so the per-key count is computed on the SOURCE side
    * BEFORE the join (a window over the small source, whose hash
    * partitioning the equi-join reuses) instead of a window over the
    * full joined relation (which re-shuffled target+source bytes by a
    * synthetic key). Non-equi ON conditions keep the general
    * joined-relation window. Either way raise_error fires inside the
    * rewrite, aborting BEFORE swapIn commits the new version.
    *
    * The refusal applies to insert-only MERGE too (slightly stricter
    * than SQL:2003, which tolerates duplicate matches when no MATCHED
    * clause exists): in the full-outer COW rewrite a target row joined
    * to k source rows materializes k times, so the check is
    * load-bearing for the rewrite itself, not just the standard's
    * update-twice rule. Delta/Iceberg document the same refusal.
    */
  private[graft] def mergePlan(spark: SparkSession, name: String,
      src: DataFrame, onCond: String,
      updates: Option[Seq[(String, String)]], isDelete: Boolean,
      insert: Option[Seq[(String, String)]]): DataFrame = {
    val tgt = table(spark, name)
    // The rewrite's presence/identity markers are added with
    // withColumn, which silently REPLACES a same-named input column —
    // a user column named __scnt (say, as a merge key) would resolve
    // to the window count and corrupt the merge with no error. Refuse
    // the reserved names up front instead.
    val reserved = Set("__sp", "__sid", "__scnt", "__tp", "__tid", "__mc")
    for ((schema, side) <- Seq(src.schema -> "source", tgt.schema -> "target");
        f <- schema.fields if reserved.contains(f.name))
      throw new IllegalArgumentException(
        s"MERGE INTO $name: $side column `${f.name}` collides with a " +
          s"reserved MERGE marker name (${reserved.toSeq.sorted.mkString(", ")})")
    val cardMsg = cardinalityMsg(name)
    val srcKeys = equiSourceKeys(onCond)
    val srcTagged = src.withColumn("__sp", lit(1))
      .withColumn("__sid", monotonically_increasing_id())
    val srcPre = srcKeys match {
      case Some(ks) =>
        // Null merge keys group together here, but a null key never
        // joins (tp stays false for those rows), so an inflated __scnt
        // on the null group can never reach the raise_error predicate.
        srcTagged.withColumn("__scnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(ks.map(col): _*)))
      case None => srcTagged
    }
    val j = tgt.withColumn("__tp", lit(1))
      .withColumn("__tid", monotonically_increasing_id()).as("t")
      .join(srcPre.as("s"), expr(onCond), "full_outer")
    val tp = col("t.__tp").isNotNull
    val sp = col("s.__sp").isNotNull
    val updMap = updates.getOrElse(Nil)
      .map { case (k, v) => k.replaceAll("(?i)^t\\.", "") -> v }.toMap
    val insMap = insert.getOrElse(Nil).toMap
    val out = tgt.schema.fields.toSeq.map { f =>
      val keep = col(s"t.`${f.name}`")
      val upd = updMap.get(f.name).map(expr).getOrElse(keep)
      val ins = insMap.get(f.name).map(expr)
        .getOrElse(lit(null))
      when(tp && sp, if (isDelete) keep else upd)
        .when(tp && !sp, keep)
        .otherwise(ins)
        .cast(f.dataType).as(f.name)
    }
    val keepPred = (tp && !sp) ||
      (tp && sp && lit(!isDelete)) ||
      (!tp && sp && lit(insert.isDefined))
    val kept = srcKeys match {
      case Some(_) =>
        j.filter(
          when(tp && sp && col("s.__scnt") > 1,
            raise_error(lit(cardMsg)).cast("boolean"))
            .otherwise(keepPred))
      case None =>
        // General path: count each target's source matches with a
        // window keyed by target row id (insert-only rows get a unique
        // synthetic key so no window partition can skew).
        val wKey = when(tp, col("t.__tid")).otherwise(-col("s.__sid") - 1)
        val mcnt = count(when(tp && sp, 1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(wKey))
        j.withColumn("__mc", mcnt).filter(
          when(col("__mc") > 1, raise_error(lit(cardMsg)).cast("boolean"))
            .otherwise(keepPred))
    }
    kept.select(out: _*)
  }

  /** DELETE FROM ... WHERE cond — copy-on-write anti-filter. */
  def delete(spark: SparkSession, name: String, where: Option[String]): Unit = {
    val df = table(spark, name)
    // Keep rows where the predicate is not TRUE (NULL keeps the row —
    // SQL DELETE only removes rows whose WHERE evaluates to true).
    val kept = where.map(w => df.filter(!coalesce(expr(w), lit(false))))
      .getOrElse(df.limit(0))
    swapIn(spark, name, kept)
  }

  /** Withdraw automatic MV rewrite for any MV reading this table — a
    * mutated/re-created base must never be answered from a stale MV
    * (plans/MvRewrite.invalidateUnder). Dropping an MV's own table also
    * unregisters that MV by name.
    */
  private def invalidateMvsOver(name: String): Unit =
    Option(catalog.get(name)).foreach(m =>
      plans.MvRewrite.invalidateUnder(m.baseDir))

  // ---- incremental REFRESH MATERIALIZED VIEW (round-13, VERDICT #1) --
  // Base mutations INVALIDATE registered MVs (above) — without refresh,
  // a 100 TB warehouse would lose aggregate navigation after every
  // ingest batch and pay a full re-create. `REFRESH MATERIALIZED VIEW`
  // closes the loop: the MV definition + the base's file/version state
  // at build time are recorded here; refresh computes the base DELTA
  // since that state and applies it to the MV table via the q296 MERGE
  // fast path, then re-registers the MV for navigation. Reference
  // analog: the DataRecycler's invalidation-vs-reuse lifecycle
  // (`QueryEngine/DataRecycler/`) and scheduled refresh
  // (`Catalog/RefreshTimeCalculator.cpp`).
  //
  // Delta classification (per base table, exact in every mode):
  //  - same version + recorded files all present → PURE APPEND: the
  //    delta is ONLY the newly appended files — at 100 TB this reads
  //    one ingest batch plus the (tiny) MV, never the standing corpus;
  //  - version bumped (COW UPDATE/DELETE/MERGE) with the recorded
  //    files still on disk → DIFF: inserted = cur EXCEPT ALL old,
  //    deleted = old EXCEPT ALL cur (two scans — correct at any scale,
  //    priced like the rewrite that caused it);
  //  - recorded files vacuumed, multi-table base, or a definition
  //    outside MvShape → FULL REBUILD (correct, not incremental).
  // MIN/MAX are exact under appends (least/greatest merge) but NOT
  // incrementally maintainable under deletes — a removed extremum
  // cannot be reconstructed from partials — so delete-deltas on a
  // MIN/MAX-carrying MV take the rebuild path (documented refusal).
  // Likewise sum(m) without a paired count(m), and MVs without
  // count(*) (needed to retire emptied groups), rebuild on deletes.
  private case class MvDef(select: String,
      bases: Map[String, (Int, Set[String])],
      refreshIntervalMs: Option[Long] = None,
      lastRefreshMs: Long = 0L)
  private val mvCatalog = new ConcurrentHashMap[String, MvDef]()

  private def normPath(p: String): String =
    p.stripSuffix("/").replaceFirst("^file:/*", "/")

  private def listParquet(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Set.empty
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(q => q.toString.endsWith(".parquet") &&
            Files.isRegularFile(q))
          .map(_.toString).toSet
      } finally s.close()
    }
  }

  /** Managed tables the defining plan reads (leaf scan paths mapped
    * back through the catalog).
    */
  private def managedBasesOf(defDf: DataFrame): Seq[String] = {
    val paths = defDf.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).toSeq
          case _ => Seq.empty[String]
        }
    }.flatten.map(normPath)
    import scala.jdk.CollectionConverters._
    catalog.asScala.toSeq.collect {
      case (n, m) if paths.exists(pp => pp == normPath(currentPath(m)) ||
          pp.startsWith(normPath(m.baseDir) + "/")) => n
    }.sorted
  }

  def refreshMatView(spark: SparkSession, name: String,
      nowMs: Long = System.currentTimeMillis()): DataFrame = {
    val d = mvCatalog.get(name)
    require(d != null, s"materialized view not found: $name")
    d.bases.keys.foreach(b => require(catalog.get(b) != null,
      s"base table $b of materialized view $name no longer exists"))
    val mode = doRefresh(spark, name, d, nowMs)
    import spark.implicits._
    Seq((name, mode)).toDF("mv_name", "refresh_mode")
  }

  /** Scheduled-refresh sweep for MATERIALIZED VIEWS — the exact
    * counterpart of `refreshDueForeignTables` (reference:
    * `Catalog/RefreshTimeCalculator.cpp`): refresh every MV created
    * WITH (refresh_interval_s=N) whose interval has elapsed; returns
    * the refreshed names sorted. Deterministic via the explicit clock
    * for tests; a production deployment drives this from any scheduler
    * tick, and each due MV pays only its delta (append-incremental for
    * ingest batches), so the sweep's cost is the day's ingest, not the
    * warehouse.
    */
  def refreshDueMatViews(spark: SparkSession,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    import scala.jdk.CollectionConverters._
    mvCatalog.asScala.toSeq.collect {
      case (name, d) if d.refreshIntervalMs.exists(iv =>
          nowMs - d.lastRefreshMs >= iv) =>
        refreshMatView(spark, name, nowMs)
        name
    }.sorted
  }

  private def captureBaseState(baseNames: Iterable[String])
      : Map[String, (Int, Set[String])] =
    baseNames.map { b =>
      val m = catalog.get(b)
      b -> (m.version, listParquet(currentPath(m)))
    }.toMap

  private def doRefresh(spark: SparkSession, name: String,
      d: MvDef, nowMs: Long): String = {
    def reRegister(): Unit = {
      plans.MvRewrite.register(name, spark.sql(d.select),
        table(spark, name))
      mvCatalog.put(name, d.copy(bases = captureBaseState(d.bases.keys),
        lastRefreshMs = nowMs))
    }
    def rebuild(reason: String): String = {
      createTableAs(spark, name, spark.sql(d.select))
      reRegister()
      s"rebuilt ($reason)"
    }
    if (d.bases.size != 1) return rebuild("multi-table base")
    val shapeOpt = plans.MvRewrite.shapeOf(spark.sql(d.select))
    if (shapeOpt.isEmpty) return rebuild("unsupported definition shape")
    val sh = shapeOpt.get
    val (bName, (v0, files0)) = d.bases.head
    val m = catalog.get(bName)
    val curFiles = listParquet(currentPath(m))
    val pureAppend = m.version == v0 && files0.subsetOf(curFiles)
    val oldReadable =
      files0.nonEmpty && files0.forall(f => Files.isRegularFile(Paths.get(f)))
    val hasDel = !pureAppend
    if (hasDel && !oldReadable)
      return rebuild("base history vacuumed")
    if (hasDel && (sh.mins.nonEmpty || sh.maxs.nonEmpty))
      return rebuild("MIN/MAX not maintainable under deletes")
    if (hasDel && sh.cntStar.isEmpty)
      return rebuild("count(*) partial required under deletes")
    if (hasDel && !sh.sums.forall { case (_, c) =>
        sh.cnts.exists(_._2 == c) })
      return rebuild("sum without paired count under deletes")

    val baseSchema = table(spark, bName).schema
    val (insDf, delOpt): (DataFrame, Option[DataFrame]) =
      if (pureAppend) {
        val newFiles = (curFiles -- files0).toSeq.sorted
        if (newFiles.isEmpty) { reRegister(); return "noop" }
        (KnownSchema.read(spark, baseSchema, newFiles: _*), None)
      } else {
        val old =
          KnownSchema.read(spark, baseSchema, files0.toSeq.sorted: _*)
        val cur = table(spark, bName)
        (cur.exceptAll(old), Some(old.exceptAll(cur)))
      }
    val delta0 = delOpt match {
      case Some(del) => insDf.withColumn("__sign", lit(1L))
        .unionByName(del.withColumn("__sign", lit(-1L)))
      case None => insDf.withColumn("__sign", lit(1L))
    }
    val delta1 = sh.where.map(w => delta0.filter(expr(w)))
      .getOrElse(delta0)
    val sign = col("__sign")
    // Signed delta aggregate at the MV's grain: sum(m·sign) nulls out
    // exactly when the delta group's measure is all-null; count deltas
    // are signed non-null indicators; MIN/MAX only reach here on the
    // append path, where the plain extremum over new rows is exact.
    val aggCols: Seq[org.apache.spark.sql.Column] =
      sh.sums.map { case (out, c) =>
        sum(col(c) * sign).as(s"__d_$out") } ++
      sh.cnts.map { case (out, c) =>
        sum(when(col(c).isNotNull, sign).otherwise(lit(0L)))
          .as(s"__d_$out") } ++
      sh.mins.map { case (out, c) => min(col(c)).as(s"__d_$out") } ++
      sh.maxs.map { case (out, c) => max(col(c)).as(s"__d_$out") } ++
      sh.cntStar.map(out => sum(sign).as(s"__d_$out")).toSeq
    val deltaAgg = delta1
      .groupBy(sh.dims.map { case (o, c) => col(c).as(o) }: _*)
      .agg(aggCols.head, aggCols.tail: _*)
    // q296 MERGE fast path onto the MV table. Null-safe dim equality:
    // a NULL dim is a real MV group and must match its delta row.
    val onCond = sh.dims.map { case (o, _) => s"t.$o <=> s.$o" }
      .mkString(" AND ")
    val updates: Seq[(String, String)] =
      sh.sums.map { case (out, c) =>
        sh.cnts.find(_._2 == c) match {
          case Some((cmOut, _)) if hasDel =>
            // exact null restoration: when no non-null measure remains
            // in the group, the sum reverts to NULL
            out -> (s"CASE WHEN t.$cmOut + s.__d_$cmOut = 0 THEN NULL " +
              s"ELSE coalesce(t.$out, 0) + coalesce(s.__d_$out, 0) END")
          case _ =>
            out -> (s"CASE WHEN t.$out IS NULL AND s.__d_$out IS NULL " +
              s"THEN NULL " +
              s"ELSE coalesce(t.$out, 0) + coalesce(s.__d_$out, 0) END")
        }
      } ++
      sh.cnts.map { case (out, _) => out -> s"t.$out + s.__d_$out" } ++
      sh.mins.map { case (out, _) => out -> s"least(t.$out, s.__d_$out)" } ++
      sh.maxs.map { case (out, _) =>
        out -> s"greatest(t.$out, s.__d_$out)" } ++
      sh.cntStar.map(out => out -> s"t.$out + s.__d_$out").toSeq
    val inserts: Seq[(String, String)] =
      sh.dims.map { case (o, _) => o -> s"s.$o" } ++
      (sh.sums ++ sh.cnts ++ sh.mins ++ sh.maxs)
        .map { case (out, _) => out -> s"s.__d_$out" } ++
      sh.cntStar.map(out => out -> s"s.__d_$out").toSeq
    mergeInto(spark, name, deltaAgg, onCond, Some(updates),
      isDelete = false, Some(inserts))
    // groups fully emptied by deletions are retired (their partials
    // just reached cnt = 0)
    if (hasDel) delete(spark, name, Some(s"${sh.cntStar.get} = 0"))
    reRegister()
    if (hasDel) "incremental (diff)" else "incremental (append)"
  }

  def dropTable(spark: SparkSession, name: String): Unit = {
    invalidateMvsOver(name)
    plans.MvRewrite.unregister(name)
    catalog.remove(name)
    spark.catalog.dropTempView(name)
  }

  // ---- statement router ----------------------------------------------

  private val CreateAs: Regex =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\s*(?:WITH\s*\(([^)]*)\)\s*)?AS\s+(SELECT\b.*)""".r
  // CREATE MATERIALIZED VIEW — materializes the defining aggregate as a
  // managed table AND registers it for automatic aggregate-navigation
  // rewrite (plans/MvRewrite.scala): later queries aggregating the base
  // table on a subset of the MV's dimensions re-aggregate the MV scan.
  private val CreateMatView: Regex =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s*(?:WITH\s*\(([^)]*)\)\s*)?AS\s+(SELECT\b.*)""".r
  private val DropMatView: Regex =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val RefreshMatView: Regex =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*""".r
  private val RefreshDueMatViews: Regex =
    """(?is)\s*REFRESH\s+DUE\s+MATERIALIZED\s+VIEWS\s*""".r
  // ---- fingerprint dedup index (round-13, q594) ----------------------
  // The standing exact-dup index lifecycle (q207/q588/q590-q593) as
  // first-class DDL: a named index over any table's text column,
  // maintained by ADMIT (idempotent bucketed append), RETRACT
  // (tombstones — the GDPR path), OPTIMIZE (tombstone GC + one file
  // per bucket), and queried by CLASSIFY (per-row dup status via the
  // co-located retained view). Reference analog: the DDL-managed
  // index/dictionary surfaces of `Parser/ParserNode.h` — re-expressed
  // for the dedup-index shape a 100 TB ingest pipeline actually needs.
  // ADMIT/RETRACT/CLASSIFY accept an optional trailing WHERE over the
  // source table (handed to Catalyst via expr — statement shape only),
  // so "erase source X" / "classify today's slice" need no staging
  // CTAS. CREATE accepts WITH (buckets=N) to size the index layout
  // (default: session parallelism — the q282 guidance; a smaller count
  // trades probe-join parallelism for fewer files per maintenance op).
  private val CreateFpIndex: Regex =
    """(?is)\s*CREATE\s+FINGERPRINT\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*\(\s*(\w+)\s*\)\s*(?:WHERE\s+(.+?)\s*)??(?:WITH\s*\(([^)]*)\)\s*)?""".r
  private val AlterFpIndexAdmit: Regex =
    """(?is)\s*ALTER\s+FINGERPRINT\s+INDEX\s+(\w+)\s+ADMIT\s+FROM\s+(\w+)\s*\(\s*(\w+)\s*\)\s*(?:WHERE\s+(.+?))?\s*""".r
  private val AlterFpIndexRetract: Regex =
    """(?is)\s*ALTER\s+FINGERPRINT\s+INDEX\s+(\w+)\s+RETRACT\s+FROM\s+(\w+)\s*\(\s*(\w+)\s*\)\s*(?:WHERE\s+(.+?))?\s*""".r
  private val OptimizeFpIndex: Regex =
    """(?is)\s*OPTIMIZE\s+FINGERPRINT\s+INDEX\s+(\w+)\s*""".r
  private val DropFpIndex: Regex =
    """(?is)\s*DROP\s+FINGERPRINT\s+INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val ShowFpIndexes: Regex =
    """(?is)\s*SHOW\s+FINGERPRINT\s+INDEXES\s*""".r
  private val ClassifyAgainst: Regex =
    """(?is)\s*CLASSIFY\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s+AGAINST\s+(\w+)\s*(?:WHERE\s+(.+?))?\s*""".r
  // ---- vector index (round-13, q596) ---------------------------------
  // The q591 standing partitioned vector index as DDL: CREATE builds
  // the partitioned-by-cell layout under the deterministic sign-bit
  // coarse quantizer; ADMIT assigns a batch with the SAME quantizer (a
  // projection — no retrain) and appends idempotently, touching only
  // the batch's own cell directories; SEARCH is the multiprobe top-k
  // (own cell + Hamming-1 neighbors as a static partition filter).
  private val CreateVecIndex: Regex =
    """(?is)\s*CREATE\s+VECTOR\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*""".r
  private val AlterVecIndexAdmit: Regex =
    """(?is)\s*ALTER\s+VECTOR\s+INDEX\s+(\w+)\s+ADMIT\s+FROM\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*""".r
  private val DropVecIndex: Regex =
    """(?is)\s*DROP\s+VECTOR\s+INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val ShowVecIndexes: Regex =
    """(?is)\s*SHOW\s+VECTOR\s+INDEXES\s*""".r
  private val SearchAgainst: Regex =
    """(?is)\s*SEARCH\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s+AGAINST\s+(\w+)\s+TOP\s+(\d+)\s*""".r
  private val CreateView: Regex =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(SELECT\b.*)""".r
  private val DropView: Regex =
    """(?is)\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val CreateSchema: Regex =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\s*\((.*?)\)\s*(?:WITH\s*\(([^)]*)\)\s*)?""".r
  private val InsertValues: Regex =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s+VALUES\s+(.*)""".r
  private val InsertSelect: Regex =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s+(SELECT\b.*)""".r
  // SET and WHERE split at the top-level WHERE keyword (below), never at
  // one inside a string literal or a subquery
  private val Update: Regex =
    """(?is)\s*UPDATE\s+(\w+)\s+SET\s+(.*)""".r
  private val Delete: Regex =
    """(?is)\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*))?\s*""".r
  // MERGE INTO — the lakehouse upsert staple (capability-add beyond
  // the reference's UPDATE/DELETE, like INTERSECT/GROUPING SETS):
  //   MERGE INTO t USING (<src select>|<table>) [AS] s ON t.k = s.k
  //   WHEN MATCHED THEN {UPDATE SET c = expr, ... | DELETE}
  //   [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]
  // Executes as ONE full-outer join + projection copy-on-write rewrite
  // (the Delta/Iceberg MERGE plan shape); target rows never scan twice.
  // Both WHEN clauses are individually optional (SQL:2003 allows
  // insert-only and matched-only MERGE); the router REQUIREs at least
  // one — a MERGE with neither is invalid SQL and is rejected before
  // any copy-on-write work happens.
  private val MergeInto: Regex =
    ("""(?is)\s*MERGE\s+INTO\s+(\w+)\s+(?:AS\s+)?t\s+USING\s+(.*?)""" +
      """\s+ON\s+(.*?)""" +
      """(?:\s+WHEN\s+MATCHED\s+THEN\s+""" +
      """(?:UPDATE\s+SET\s+(.*?)|(DELETE)))?\s*""" +
      """(?:WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*""" +
      """\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*)?""").r
  private val Drop: Regex =
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val DumpTable: Regex =
    """(?is)\s*DUMP\s+TABLE\s+(\w+)\s+TO\s+'([^']+)'\s*""".r
  private val RestoreTable: Regex =
    """(?is)\s*RESTORE\s+TABLE\s+(\w+)\s+FROM\s+'([^']+)'\s*""".r
  private val OptimizeTable: Regex =
    """(?is)\s*OPTIMIZE\s+TABLE\s+(\w+)\s*""".r
  // ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c1, c2, ...] — the
  // CBO stats contract (reference: per-table cardinalities feeding
  // FromTableReordering.cpp:118). Basic stats are one metadata count;
  // column stats are one aggregate pass (ndv/nulls/min/max/len).
  private val AnalyzeTable: Regex =
    ("""(?is)\s*ANALYZE\s+TABLE\s+(\w+)\s+COMPUTE\s+STATISTICS""" +
      """(?:\s+FOR\s+COLUMNS\s+([\w\s,]+?))?\s*""").r
  private val ValidateTable: Regex =
    """(?is)\s*VALIDATE\s+TABLE\s+(\w+)\s*""".r
  // VACUUM <table> — drop all superseded copy-on-write versions of a
  // managed table, keeping only the current one (the lakehouse
  // retention command beside OPTIMIZE/VALIDATE; the reference's
  // analog is epoch-based rollback data, `Catalog/Catalog.cpp`
  // vacuums on checkpoint).
  private val VacuumTable: Regex =
    """(?is)\s*VACUUM\s+(?:TABLE\s+)?(\w+)\s*""".r
  // <table> VERSION AS OF <n> — time-travel read of a managed table's
  // historical copy-on-write version (the lakehouse snapshot-read
  // companion of VACUUM; the reference's epoch-based rollback keeps the
  // same superseded-version data, `Catalog/Catalog.cpp` table epochs).
  private val TimeTravelRef: Regex =
    """(?is)(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r
  private val CopyFrom: Regex =
    """(?is)\s*COPY\s+(\w+)\s+FROM\s+'([^']+)'\s*""".r
  private val CopyTo: Regex =
    """(?is)\s*COPY\s*\((.*)\)\s*TO\s+'([^']+)'\s*""".r
  // Foreign tables (`DataMgr/ForeignStorage/ForeignDataWrapperFactory
  // .cpp`, refresh `Catalog/RefreshTimeCalculator.cpp`): a foreign table
  // is a snapshot over an external directory — the file list is captured
  // at CREATE/REFRESH time (reading explicit files, not the directory),
  // so files that land later are invisible until REFRESH FOREIGN TABLE.
  private val CreateForeign: Regex =
    """(?is)\s*CREATE\s+FOREIGN\s+TABLE\s+(\w+)\s+WITH\s*\(([^)]*)\)\s*""".r
  // Foreign servers (`Catalog/DdlCommandExecutor.h:57-91`,
  // `Tests/CreateAndDropTableDdlTest.cpp:1367`): a server names a data
  // wrapper + base location; foreign tables reference it with a
  // relative file_path. Wrappers map to Spark formats
  // (delimited_file→csv, parquet_file→parquet, regex_parsed_file→text).
  private val CreateServer: Regex =
    """(?is)\s*CREATE\s+SERVER\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+FOREIGN\s+DATA\s+WRAPPER\s+(\w+)(?:\s+WITH\s*\(([^)]*)\))?\s*""".r
  private val DropServer: Regex =
    """(?is)\s*DROP\s+SERVER\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val ShowServers: Regex =
    """(?is)\s*SHOW\s+(?:FOREIGN\s+)?SERVERS\s*""".r
  private val ShowCreateServer: Regex =
    """(?is)\s*SHOW\s+CREATE\s+SERVER\s+(\w+)\s*""".r
  private val AlterServerSet: Regex =
    """(?is)\s*ALTER\s+SERVER\s+(\w+)\s+SET\s*\(([^)]*)\)\s*""".r
  private val AlterServerRename: Regex =
    """(?is)\s*ALTER\s+SERVER\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*""".r
  private val CreateForeignOnServer: Regex =
    """(?is)\s*CREATE\s+FOREIGN\s+TABLE\s+(\w+)\s+SERVER\s+(\w+)(?:\s+WITH\s*\(([^)]*)\))?\s*""".r
  private val RefreshForeign: Regex =
    """(?is)\s*REFRESH\s+FOREIGN\s+TABLE\s+(\w+)\s*""".r
  private val DropForeign: Regex =
    """(?is)\s*DROP\s+FOREIGN\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  // SHOW / ALTER (`Catalog/DdlCommandExecutor.h:57-437`): SHOW TABLES /
  // SHOW COLUMNS / SHOW CREATE TABLE introspection; ALTER column ops are
  // schema projections over the copy-on-write version machinery.
  private val ShowTables: Regex =
    """(?is)\s*SHOW\s+TABLES\s*""".r
  private val ShowColumns: Regex =
    """(?is)\s*(?:SHOW\s+COLUMNS\s+(?:FROM\s+)?|DESCRIBE\s+(?:TABLE\s+)?)(\w+)\s*""".r
  private val ShowCreate: Regex =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*""".r
  private val AlterRenameCol: Regex =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
  private val AlterRenameTable: Regex =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*""".r
  private val AlterAddCol: Regex =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+(\w+(?:\([\d,\s]*\))?)(?:\s+DEFAULT\s+(.+?))?\s*""".r
  private val AlterDropCol: Regex =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*""".r
  // ML model lifecycle (`java/calcite/.../ddl/SqlCreateModel.java`,
  // `Catalog/DdlCommandExecutor.h:289-344`): CREATE MODEL ... OF TYPE ...
  // AS SELECT target, predictors... [WITH (...)], SHOW MODELS,
  // SHOW MODEL DETAILS, EVALUATE MODEL [ON SELECT ...], DROP MODEL.
  private val CreateModel: Regex =
    """(?is)\s*CREATE\s+MODEL\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+OF\s+TYPE\s+(\w+)\s+AS\s+(SELECT\b.*?)(?:\s+WITH\s*\(([^)]*)\))?\s*""".r
  private val DropModel: Regex =
    """(?is)\s*DROP\s+MODEL\s+(?:IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val ShowModels: Regex =
    """(?is)\s*SHOW\s+MODELS\s*""".r
  private val ShowModelDetails: Regex =
    """(?is)\s*SHOW\s+MODEL\s+DETAILS\s+(\w+)\s*""".r
  private val EvaluateModel: Regex =
    """(?is)\s*EVALUATE\s+MODEL\s+(\w+)(?:\s+ON\s+(SELECT\b.*))?\s*""".r
  private val ShowModelFeatureDetails: Regex =
    """(?is)\s*SHOW\s+MODEL\s+FEATURE\s+DETAILS\s+(\w+)\s*""".r
  // Introspection breadth (`Catalog/DdlCommandExecutor.h:225-280`):
  // SHOW TABLE DETAILS (storage stats), SHOW DATABASES, SHOW FUNCTIONS
  // (the engine's extension surface), SHOW TABLE FUNCTIONS.
  private val ShowTableDetails: Regex =
    """(?is)\s*SHOW\s+TABLE\s+DETAILS(?:\s+(\w+))?\s*""".r
  private val ShowDatabases: Regex =
    """(?is)\s*SHOW\s+DATABASES\s*""".r
  // SUMMARIZE <table> — per-column profile (rows/nulls/distinct/min/
  // max) in one aggregate pass; the column-level deepening of SHOW
  // TABLE DETAILS' per-table stats (Profiling.profile).
  private val Summarize: Regex =
    """(?is)\s*SUMMARIZE\s+(\w+)\s*""".r
  private val ShowFunctions: Regex =
    """(?is)\s*SHOW\s+FUNCTIONS\s*""".r
  private val ShowTableFunctions: Regex =
    """(?is)\s*SHOW\s+TABLE\s+FUNCTIONS\s*""".r
  // COMMENT ON TABLE/COLUMN (`Catalog/DdlCommandExecutor.h:114`);
  // surfaced through SHOW TABLE DETAILS / SHOW COLUMNS.
  private val CommentTable: Regex =
    """(?is)\s*COMMENT\s+ON\s+TABLE\s+(\w+)\s+IS\s+'([^']*)'\s*""".r
  private val CommentColumn: Regex =
    """(?is)\s*COMMENT\s+ON\s+COLUMN\s+(\w+)\.(\w+)\s+IS\s+'([^']*)'\s*""".r
  // ALTER TABLE ALTER COLUMN ... TYPE ... — type-change column rewrite
  // (`Catalog/DdlCommandExecutor.h:131` AlterTableAlterColumnCommand).
  private val AlterColType: Regex =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+(\w+(?:\([\d,\s]*\))?)\s*""".r
  // Runtime UDF registration (`UdfCompiler/UdfCompiler.cpp`,
  // `RuntimeLibManager/` in /root/reference — there user C++ is compiled
  // and loaded at runtime; here the body is a SQL expression template
  // registered as a macro, expanded into codegen'd Catalyst trees at
  // every call site — no interpretation, no UDF black box):
  //   CREATE [OR REPLACE] FUNCTION name(p1, p2, ...) AS <expression>
  //   DROP FUNCTION [IF EXISTS] name
  // Created functions appear in SHOW FUNCTIONS alongside the built-in
  // extension surface; only created functions can be dropped.
  private val CreateFunction: Regex =
    """(?is)\s*CREATE\s+((?:OR\s+REPLACE\s+)?)FUNCTION\s+(\w+)\s*\(([^)]*)\)\s+AS\s+(.+?)\s*""".r
  private val DropFunction: Regex =
    """(?is)\s*DROP\s+FUNCTION\s+((?:IF\s+EXISTS\s+)?)(\w+)\s*""".r

  // created-function catalog: name → (params, body) — powers the
  // exists/replace checks and limits DROP FUNCTION to user functions.
  // Keyed per SparkSession (registration already lands in the session's
  // own functionRegistry): two engines in one JVM must not see each
  // other's names in the exists/DROP checks.
  private val udfCatalogs = new ConcurrentHashMap[
    String, ConcurrentHashMap[String, (Seq[String], String)]]()

  private def udfCatalog(spark: SparkSession)
      : ConcurrentHashMap[String, (Seq[String], String)] =
    udfCatalogs.computeIfAbsent(System.identityHashCode(spark).toString,
      _ => new ConcurrentHashMap[String, (Seq[String], String)]())

  // ---- comments + storage details ------------------------------------

  // key "table" or "table.column" → comment text
  private val comments = new ConcurrentHashMap[String, String]()

  private def tableDetails(spark: SparkSession, name: String)
      : (String, Long, Int, Int, Long, String, Long, Int) = {
    val m = managed(name)
    val files = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(currentPath(m)))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).toSeq
      finally s.close()
    }
    val df = table(spark, name)
    val st = Option(tableStats.get(name))
    (name, df.count(), df.schema.length, files.size, files.sum,
      comments.getOrDefault(name, ""),
      st.map(_.rowCount).getOrElse(-1L),
      st.map(_.cols.size).getOrElse(0))
  }

  /** The implemented table-function surface (SHOW TABLE FUNCTIONS —
    * `Catalog/DdlCommandExecutor.h:271`; names follow the reference's
    * `QueryEngine/TableFunctions/SystemFunctions/os/`).
    */
  private[graft] val tableFunctionNames: Seq[String] = Seq(
    "dbscan", "decision_tree_reg_fit", "gbt_reg_fit", "generate_series",
    "generate_random_strings", "kmeans", "linear_reg_fit", "pca_fit",
    "r2_score", "random_forest_reg_fit", "tf_compute_dwell_times",
    "tf_cross_section_1d", "tf_feature_self_similarity",
    "tf_feature_similarity", "tf_geo_rasterize", "tf_geo_rasterize_slope",
    "tf_cross_section_2d", "tf_graph_shortest_path",
    "tf_graph_shortest_paths_distances", "tf_mandelbrot",
    "tf_raster_contour_lines")

  // ---- foreign tables ------------------------------------------------

  private case class Foreign(path: String, format: String,
      options: Map[String, String], refreshIntervalMs: Option[Long],
      lastRefreshMs: Long)
  private val foreignCatalog = new ConcurrentHashMap[String, Foreign]()

  private case class Server(wrapper: String, options: Map[String, String])
  private val serverCatalog = new ConcurrentHashMap[String, Server]()

  private val wrapperFormats = Map(
    "delimited_file" -> "csv", "parquet_file" -> "parquet",
    "regex_parsed_file" -> "text")

  /** Resolve (server, WITH options) to the flat foreign-table options
    * our snapshot machinery takes: path = base_path/file_path, format
    * from the server's wrapper.
    */
  private def resolveServerTable(server: String,
      opts: Map[String, String]): Map[String, String] = {
    val sv = serverCatalog.get(server)
    require(sv != null, s"server not found: $server")
    val base = sv.options.getOrElse("base_path",
      throw new IllegalArgumentException(
        s"server $server has no base_path option"))
    val rel = opts.getOrElse("file_path", "")
    val format = wrapperFormats.getOrElse(sv.wrapper.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown data wrapper: ${sv.wrapper}"))
    (sv.options -- Seq("base_path", "storage_type")) ++ opts ++ Map(
      "path" -> (if (rel.isEmpty) base else s"$base/$rel"),
      "format" -> format) -- Seq("file_path")
  }

  private def parseOptions(opts: String): Map[String, String] =
    Option(opts).map(splitTop(_).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k.trim.toLowerCase ->
          v.trim.stripPrefix("'").stripSuffix("'"))
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  /** (Re-)snapshot a foreign table: list the directory NOW, register the
    * view over that explicit file list.
    */
  private def snapshotForeign(spark: SparkSession, name: String,
      f: Foreign, nowMs: Long): Unit = {
    val ext = if (f.format == "csv") ".csv" else ".parquet"
    val files = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(f.path))
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(ext)).toSeq.sorted
      finally s.close()
    }
    require(files.nonEmpty, s"foreign table $name: no $ext files in ${f.path}")
    val reader = f.options
      .filter { case (k, _) => k != "path" && k != "format" &&
        k != "refresh_interval_s" }
      .foldLeft(spark.read.format(f.format)) {
        case (r, (k, v)) => r.option(k, v) }
    val df = if (f.format == "csv") reader.option("inferSchema", "true")
      .load(files: _*) else reader.load(files: _*)
    df.createOrReplaceTempView(name)
    foreignCatalog.put(name, f.copy(lastRefreshMs = nowMs))
  }

  def createForeignTable(spark: SparkSession, name: String,
      options: Map[String, String],
      nowMs: Long = System.currentTimeMillis()): Unit = {
    val path = options.getOrElse("path",
      throw new IllegalArgumentException(
        s"CREATE FOREIGN TABLE $name requires a path option"))
    val f = Foreign(path, options.getOrElse("format", "parquet"), options,
      options.get("refresh_interval_s").map(_.toLong * 1000L), nowMs)
    snapshotForeign(spark, name, f, nowMs)
  }

  def refreshForeignTable(spark: SparkSession, name: String,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    val f = foreignCatalog.get(name)
    require(f != null, s"foreign table not found: $name")
    snapshotForeign(spark, name, f, nowMs)
  }

  /** Scheduled-refresh sweep (`RefreshTimeCalculator.cpp`): refresh every
    * foreign table whose refresh_interval_s has elapsed; returns the
    * refreshed names. Deterministic via the explicit clock for tests; a
    * production deployment drives this from any scheduler tick.
    */
  def refreshDueForeignTables(spark: SparkSession,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    import scala.jdk.CollectionConverters._
    foreignCatalog.asScala.toSeq.collect {
      case (name, f) if f.refreshIntervalMs.exists(iv =>
          nowMs - f.lastRefreshMs >= iv) =>
        snapshotForeign(spark, name, f, nowMs)
        name
    }.sorted
  }

  /** Split on top-level commas (parens/quotes respected). */
  private[graft] def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Route a statement; None means "not DDL/DML — plain query". */
  // ---- fingerprint-index registry + helpers ---------------------------
  private case class FpIdx(table: String, srcTable: String, srcCol: String)
  private val fpIndexes = new ConcurrentHashMap[String, FpIdx]()

  private def fpIdx(name: String): FpIdx = {
    val ix = fpIndexes.get(name.toLowerCase)
    require(ix != null, s"fingerprint index not found: $name")
    ix
  }

  /** Source rows for index DDL: a managed table if registered, else any
    * session-visible table/view (fixture views, temp views).
    */
  private def sourceDf(spark: SparkSession, name: String): DataFrame =
    if (catalog.containsKey(name)) table(spark, name)
    else spark.table(name)

  private def filteredSource(spark: SparkSession, src: String,
      where: String): DataFrame = {
    val base = sourceDf(spark, src)
    Option(where).map(w => base.filter(expr(w))).getOrElse(base)
  }

  private def fpsOf(spark: SparkSession, src: String, colName: String,
      where: String = null): DataFrame =
    filteredSource(spark, src, where)
      .select(operators.Dedup.docFingerprint(col(colName)).as("fp"))
      .distinct()

  // ---- vector-index registry + helpers --------------------------------
  // schema: the cid-partitioned layout's, inferred once at CREATE (ADMIT
  // appends the same columns)
  private case class VecIdx(dir: String, srcTable: String, idCol: String,
      vecCol: String, schema: StructType) {
    def scan(spark: SparkSession): DataFrame =
      KnownSchema.read(spark, schema, dir)
  }
  private val vecIndexes = new ConcurrentHashMap[String, VecIdx]()

  private def vecIdx(name: String): VecIdx = {
    val ix = vecIndexes.get(name.toLowerCase)
    require(ix != null, s"vector index not found: $name")
    ix
  }

  /** Distinct cell ids of an assigned batch — bounded metadata
    * (≤ 2^SignDims = 16 ints) collected to form the static partition
    * filter for cell-local reads.
    */
  private def cellsOf(assigned: DataFrame): Seq[Int] =
    assigned.select(col("cid")).distinct().collect().map(_.getInt(0)).toSeq

  def route(spark: SparkSession, stmt: String): Option[DataFrame] = {
    def done: Option[DataFrame] = Some(spark.emptyDataFrame)
    stmt match {
      case CreateFpIndex(name, src, colName, where, opts) =>
        val tbl =
          s"${operators.Dedup.bucketDb(spark)}.fpi_${name.toLowerCase}"
        val buckets = parseOptions(opts).get("buckets").map(_.toInt)
        operators.Dedup.writeFpTable(spark, tbl,
          fpsOf(spark, src, colName, where), buckets)
        fpIndexes.put(name.toLowerCase, FpIdx(tbl, src, colName))
        import spark.implicits._
        Some(Seq((name, tbl)).toDF("index_name", "index_table"))
      case AlterFpIndexAdmit(name, src, colName, where) =>
        operators.Dedup.admitToFpIndex(spark, fpIdx(name).table,
          fpsOf(spark, src, colName, where))
        done
      case AlterFpIndexRetract(name, src, colName, where) =>
        operators.Dedup.retractFromFpIndex(spark, fpIdx(name).table,
          fpsOf(spark, src, colName, where))
        done
      case OptimizeFpIndex(name) =>
        operators.Dedup.gcFpIndex(spark, fpIdx(name).table); done
      case DropFpIndex(name) =>
        fpIndexes.remove(name.toLowerCase) match {
          case null => () // IF EXISTS semantics: absent is a no-op
          case ix =>
            spark.sql(s"DROP TABLE IF EXISTS ${ix.table}")
            spark.sql(s"DROP TABLE IF EXISTS " +
              operators.Dedup.tombstoneTableOf(ix.table))
        }
        done
      case ShowFpIndexes() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        // bounded: one row per registered index, counts are index-side
        // aggregates (never collected corpus rows)
        // footer-based counts (round-14): the index and tombstone
        // tables are plain parquet whose footer record counts equal
        // count() exactly — the old shape scheduled two count jobs per
        // SHOW statement (guide §5: metadata is driver work)
        val rows = fpIndexes.asScala.toSeq.sortBy(_._1).map {
          case (name, ix) =>
            val ts = operators.Dedup.tombstoneTableOf(ix.table)
            val nTs =
              if (spark.catalog.tableExists(ts))
                filesParquetRows(spark.table(ts).inputFiles.toSeq)
              else 0L
            val idxFiles = spark.table(ix.table).inputFiles.toSeq
            (name, ix.srcTable, ix.srcCol, filesParquetRows(idxFiles),
              nTs, idxFiles.length)
        }
        Some(rows.toDF("index_name", "src_table", "src_col",
          "n_fingerprints", "n_tombstones", "n_files"))
      case CreateVecIndex(name, src, idCol, vecCol) =>
        val dir = Stage.scratchDir("vecidx_ddl")
        operators.AnnIvf.assignVectors(sourceDf(spark, src), idCol, vecCol)
          .write.mode("overwrite").partitionBy("cid").parquet(dir)
        vecIndexes.put(name.toLowerCase,
          VecIdx(dir, src, idCol, vecCol, KnownSchema.infer(spark, dir)))
        import spark.implicits._
        Some(Seq((name, dir)).toDF("index_name", "index_dir"))
      case AlterVecIndexAdmit(name, src, idCol, vecCol) =>
        val ix = vecIdx(name)
        val assigned =
          operators.AnnIvf.assignVectors(sourceDf(spark, src), idCol, vecCol)
        // idempotent: drop ids already present, checking ONLY the
        // batch's own cell partitions (partition-pruned read)
        val cells = cellsOf(assigned)
        val existing = ix.scan(spark)
          .filter(col("cid").isin(cells: _*)).select(col("vec_id"))
        assigned.join(existing, Seq("vec_id"), "left_anti")
          .write.mode("append").partitionBy("cid").parquet(ix.dir)
        done
      case DropVecIndex(name) =>
        vecIndexes.remove(name.toLowerCase) // dir reclaimed by Stage root
        done
      case ShowVecIndexes() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        // Zero jobs (round-14): n_vectors from parquet footers,
        // n_cells from the cid=N partition directories in the file
        // paths (partitionBy writes a file only when a row lands in
        // the cell, so path-distinct cids == countDistinct(cid)) —
        // the fused aggregate this replaces was still one scan job
        // per SHOW statement.
        val rows = vecIndexes.asScala.toSeq.sortBy(_._1).map {
          case (name, ix) =>
            val files = ix.scan(spark).inputFiles.toSeq
            val nCells = files
              .flatMap(f => "cid=-?\\d+".r.findFirstIn(f))
              .distinct.size.toLong
            (name, ix.srcTable, ix.vecCol, filesParquetRows(files),
              nCells, files.length)
        }
        Some(rows.toDF("index_name", "src_table", "vec_col", "n_vectors",
          "n_cells", "n_files"))
      case SearchAgainst(src, idCol, vecCol, name, kStr) =>
        val ix = vecIdx(name)
        val k = kStr.toInt
        def dotp(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          aggregate(zip_with(a, b, (u, v) => u * v), lit(0.0), _ + _)
        val probes = broadcast(
          operators.AnnIvf.assignVectors(sourceDf(spark, src), idCol,
            vecCol)
          .select(col("vec_id").as("p_id"), col("x").as("px"),
            col("n2").as("p_n2"), col("cid").as("p_cid")))
        val probeCells = probes.select(col("p_id"), col("px"),
          col("p_n2"),
          explode(operators.AnnIvf.probeCellsExpr(col("p_cid")))
            .as("cid"))
        val cells = cellsOf(probeCells)
        val cand = ix.scan(spark)
          .filter(col("cid").isin(cells: _*))
          .join(probeCells, "cid")
          .filter(col("vec_id") =!= col("p_id"))
          .select(col("p_id"), col("vec_id"),
            (dotp(col("px"), col("x")) / sqrt(col("p_n2") * col("n2")))
              .as("sim"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("p_id")).orderBy(col("sim").desc, col("vec_id"))
        Some(cand.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("p_id").as("probe_id"), col("rank"),
            col("vec_id").as("n_id")))
      case ClassifyAgainst(src, idCol, colName, name, where) =>
        val ix = fpIdx(name)
        // The 2-column batch fingerprint projection is consumed TWICE
        // per classify plan (the index join side and the canon
        // aggregate) and repeated classifies of an unchanged batch
        // table rebuild it per statement — 6 md5+text passes across
        // q594's three fp_batch2 classifies. Stage it once (round-14;
        // the docFps discipline): managed tables are copy-on-write
        // version paths, so Stage's sameResult key is version-
        // addressed — a mutated source stages fresh, an unchanged one
        // reuses the narrow stage.
        val b = graft.Stage(filteredSource(spark, src, where)
          .select(col(idCol).as("item_id"),
            operators.Dedup.docFingerprint(col(colName)).as("fp")),
          s"classify_fps_${src.toLowerCase}")
        val canon = b.groupBy(col("fp"))
          .agg(min(col("item_id")).as("first_id"))
        Some(b
          .join(operators.Dedup.retainedFpIndex(spark, ix.table)
            .withColumn("in_corpus", lit(1)).hint("merge"),
            Seq("fp"), "left")
          .join(canon, Seq("fp"))
          .select(col("item_id"),
            when(col("in_corpus").isNotNull, "dup_of_corpus")
              .when(col("item_id") > col("first_id"), "dup_within_batch")
              .otherwise("new").as("status")))
      case CreateMatView(name, opts, select) =>
        val defDf = spark.sql(select)
        createTableAs(spark, name, defDf)
        val reg = plans.MvRewrite.register(name, defDf, table(spark, name))
        // Record the definition + per-base (version, file set) so
        // REFRESH can compute the exact delta since this build; an
        // optional refresh_interval_s option opts the MV into the
        // scheduled sweep (refreshDueMatViews).
        mvCatalog.put(name, MvDef(select,
          captureBaseState(managedBasesOf(defDf).filterNot(_ == name)),
          parseOptions(opts).get("refresh_interval_s")
            .map(_.toLong * 1000L),
          System.currentTimeMillis()))
        import spark.implicits._
        Some(Seq((name, reg)).toDF("mv_name", "rewrite_registered"))
      case RefreshMatView(name) =>
        Some(refreshMatView(spark, name))
      case RefreshDueMatViews() =>
        // the scheduler tick as a statement: refresh every MV whose
        // WITH (refresh_interval_s=N) interval has elapsed
        import spark.implicits._
        Some(refreshDueMatViews(spark).toDF("mv_name"))
      case DropMatView(name) =>
        plans.MvRewrite.unregister(name)
        mvCatalog.remove(name)
        if (catalog.containsKey(name)) dropTable(spark, name)
        done
      case CreateAs(name, opts, select) =>
        createTableAs(spark, name, spark.sql(select), parseOptions(opts))
        done
      case CreateForeign(name, opts) =>
        createForeignTable(spark, name, parseOptions(opts)); done
      case CreateServer(name, wrapper, opts) =>
        require(wrapperFormats.contains(wrapper.toLowerCase),
          s"unknown data wrapper: $wrapper")
        serverCatalog.put(name, Server(wrapper.toLowerCase,
          parseOptions(opts)))
        done
      case DropServer(name) =>
        serverCatalog.remove(name); done
      case ShowServers() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        Some(serverCatalog.asScala.toSeq.sortBy(_._1)
          .map { case (n, sv) => (n, sv.wrapper,
            sv.options.toSeq.sorted.map(kv => s"${kv._1}=${kv._2}")
              .mkString(",")) }
          .toDF("server_name", "data_wrapper", "options"))
      case ShowCreateServer(name) =>
        import spark.implicits._
        val sv = serverCatalog.get(name)
        require(sv != null, s"server not found: $name")
        val opts = sv.options.toSeq.sorted
          .map(kv => s"${kv._1}='${kv._2}'").mkString(", ")
        Some(Seq(s"CREATE SERVER $name FOREIGN DATA WRAPPER " +
          s"${sv.wrapper} WITH ($opts)").toDF("create_stmt"))
      case AlterServerSet(name, opts) =>
        val sv = serverCatalog.get(name)
        require(sv != null, s"server not found: $name")
        serverCatalog.put(name,
          sv.copy(options = sv.options ++ parseOptions(opts)))
        done
      case AlterServerRename(from, to) =>
        val sv = serverCatalog.remove(from)
        require(sv != null, s"server not found: $from")
        serverCatalog.put(to, sv); done
      case CreateForeignOnServer(name, server, opts) =>
        createForeignTable(spark, name,
          resolveServerTable(server, parseOptions(opts)))
        done
      case RefreshForeign(name) =>
        refreshForeignTable(spark, name); done
      case DropForeign(name) =>
        foreignCatalog.remove(name)
        spark.catalog.dropTempView(name); done
      // Views are stored queries re-expanded at use (reference:
      // `Parser/ParserNode.h:1861` CreateViewStmt — Calcite re-expands).
      case CreateView(name, select) =>
        spark.sql(select).createOrReplaceTempView(name); done
      case DropView(name) =>
        spark.catalog.dropTempView(name); done
      // Schema-form CREATE accepts the same WITH options; storage
      // options (fragment_size, shard_count) shape WRITES, so on an
      // empty table they are recorded by accepting the statement — the
      // CTAS form applies them physically.
      case CreateSchema(name, colsDdl, _) =>
        createTable(spark, name, StructType.fromDDL(colsDdl)); done
      case InsertValues(name, values) =>
        insertInto(spark, name, spark.sql(s"SELECT * FROM VALUES $values"))
        done
      case InsertSelect(name, select) =>
        insertInto(spark, name, spark.sql(select)); done
      case MergeInto(name, using, onCond, sets, del, insCols, insVals) =>
        val srcDf = {
          val u = using.trim.replaceAll("(?is)\\s+(?:AS\\s+)?s\\s*$", "")
          val inner =
            if (u.startsWith("(")) u.stripPrefix("(").stripSuffix(")")
            else s"SELECT * FROM $u"
          spark.sql(inner)
        }
        val updates = Option(sets).map(s => splitTop(s).map { a =>
          val Array(k, v) = a.split("=", 2)
          (k.trim, v.trim)
        })
        val ins = (Option(insCols), Option(insVals)) match {
          case (Some(cs), Some(vs)) =>
            Some(cs.split(",").map(_.trim).toSeq.zip(
              splitTop(vs).map(_.trim)))
          case _ => None
        }
        // A MERGE with no WHEN clause at all is invalid SQL:2003 —
        // reject it up front rather than executing a no-op
        // copy-on-write rewrite (new version swap, stats drop, MV
        // invalidation) for a statement that can't change anything.
        require(updates.isDefined || Option(del).isDefined || ins.isDefined,
          s"MERGE INTO $name: at least one WHEN clause is required " +
            "(WHEN MATCHED THEN UPDATE/DELETE or " +
            "WHEN NOT MATCHED THEN INSERT)")
        mergeInto(spark, name, srcDf, onCond, updates,
          Option(del).isDefined, ins)
        done
      case Update(name, rest) =>
        val wi = HeavyEngine.topLevelIndexOf(rest, "WHERE", 0)
        val (sets, where) =
          if (wi < 0) (rest, None)
          else (rest.substring(0, wi), Some(rest.substring(wi + 5).trim))
        val assignments = splitTop(sets).map { a =>
          val Array(k, v) = a.split("=", 2)
          (k.trim, v.trim)
        }
        update(spark, name, assignments, where); done
      case Delete(name, where) =>
        delete(spark, name, Option(where)); done
      case Drop(name) =>
        dropTable(spark, name); done
      // DUMP/RESTORE (`Parser/ParserNode.h:1442/:1453`): archive = the
      // table's current version as parquet at the given path.
      // An archive this session dumped restores with its recorded schema;
      // any other is inferred once per file state (`KnownSchema.of`).
      case DumpTable(name, path) =>
        val df = table(spark, name)
        df.write.mode("overwrite").parquet(path)
        KnownSchema.remember(spark, path, df.schema); done
      case RestoreTable(name, path) =>
        swapIn(spark, name,
          KnownSchema.read(spark, KnownSchema.of(spark, path), path)); done
      // OPTIMIZE (`TableOptimizer.h:38`): compact small files — rewrite
      // the current version with right-sized partitions. Sizing comes
      // from the optimizer's statistics (parquet footer metadata), not
      // an extra full count scan.
      case OptimizeTable(name) =>
        val df = table(spark, name)
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val target = math.max(1, (bytes / (128L << 20)).toInt) // ~128MB
        swapIn(spark, name, df.repartition(target))
        computeBasicStats(spark, name) // compaction refreshes stats
        registerView(spark, name)
        done
      case AnalyzeTable(name, colsGroup) =>
        val basic = computeBasicStats(spark, name)
        val cols = Option(colsGroup).map(
          _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val df = table(spark, name)
        val colRows: Seq[(String, Long, Long, String, String)] =
          if (cols.isEmpty) Seq.empty
          else {
            import org.apache.spark.sql.types.StringType
            val ftype = df.schema.fields.map(f => f.name -> f.dataType).toMap
            cols.foreach(c => require(ftype.contains(c),
              s"ANALYZE: column $c not in $name"))
            val aggs = cols.flatMap { c =>
              val width: org.apache.spark.sql.Column =
                if (ftype(c) == StringType) ceil(avg(length(col(c))))
                else lit(ftype(c).defaultSize.toLong)
              Seq(countDistinct(col(c)).as(s"${c}__ndv"),
                sum(when(col(c).isNull, 1L).otherwise(0L))
                  .as(s"${c}__nulls"),
                min(col(c)).cast("string").as(s"${c}__min"),
                max(col(c)).cast("string").as(s"${c}__max"),
                coalesce(width.cast("long"),
                  lit(ftype(c).defaultSize.toLong)).as(s"${c}__avg"),
                (if (ftype(c) == StringType)
                   coalesce(max(length(col(c))).cast("long"), lit(0L))
                 else lit(ftype(c).defaultSize.toLong)).as(s"${c}__maxl"))
            }
            val r = df.agg(aggs.head, aggs.tail: _*).collect().head
            val newCols = cols.map { c =>
              c -> ColStat(r.getAs[Long](s"${c}__ndv"),
                r.getAs[Long](s"${c}__nulls"),
                Option(r.getAs[String](s"${c}__min")),
                Option(r.getAs[String](s"${c}__max")),
                r.getAs[Long](s"${c}__avg"),
                r.getAs[Long](s"${c}__maxl"))
            }.toMap
            tableStats.put(name,
              basic.copy(cols = basic.cols ++ newCols))
            newCols.toSeq.sortBy(_._1).map { case (c, cs) =>
              (c, cs.ndv, cs.nulls, cs.minV.getOrElse(""),
                cs.maxV.getOrElse(""))
            }
          }
        registerView(spark, name) // view now carries the new stats
        import spark.implicits._
        Some((("__table__", basic.rowCount, basic.sizeBytes, "", "")
          +: colRows)
          .toDF("col_name", "ndv_or_rows", "nulls_or_bytes", "min_val",
            "max_val"))
      // VALIDATE (`ParserNode.h:1277`): scan-and-count integrity check.
      case ValidateTable(name) =>
        val df = table(spark, name)
        val n = df.count()
        import spark.implicits._
        Some(Seq((name, n, df.schema.length))
          .toDF("table_name", "n_rows", "n_cols"))
      case VacuumTable(name) =>
        val m = managed(name)
        val keep = s"v${m.version}"
        val removed = {
          import scala.jdk.CollectionConverters._
          val s = Files.list(Paths.get(m.baseDir))
          val old = try s.iterator().asScala
            .filter(p => p.getFileName.toString.matches("v\\d+") &&
              p.getFileName.toString != keep).toList
          finally s.close()
          old.foreach { dir =>
            val walk = Files.walk(dir)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.delete(f))
            finally walk.close()
          }
          old.length.toLong
        }
        catalog.put(name, m.copy(schemas = Map(m.version -> m.schema)))
        import spark.implicits._
        Some(Seq((name, removed, keep)).toDF(
          "table_name", "n_versions_removed", "current_version"))
      // SHOW TABLES: every visible relation — managed tables + temp views
      // (the reference lists the catalog's physical + view entries).
      case ShowTables() =>
        import spark.implicits._
        Some(spark.catalog.listTables().collect().map(_.name).sorted.toSeq
          .toDF("table_name"))
      case ShowColumns(name) =>
        import spark.implicits._
        Some(spark.table(name).schema.fields.toSeq
          .map(f => (f.name, f.dataType.sql, f.nullable,
            comments.getOrDefault(s"$name.${f.name}", "")))
          .toDF("column_name", "data_type", "is_nullable", "comment"))
      case ShowCreate(name) =>
        import spark.implicits._
        val cols = spark.table(name).schema.fields
          .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        Some(Seq(s"CREATE TABLE $name ($cols)").toDF("create_stmt"))
      // ALTER column ops: a projection written as the next table version
      // (same copy-on-write swap as UPDATE/DELETE — readers of the old
      // version are undisturbed; at scale this is one distributed
      // rewrite, or a metadata-only change for engines with schema
      // evolution, which parquet-per-version makes explicit).
      case AlterRenameCol(name, from, to) =>
        swapIn(spark, name, table(spark, name).withColumnRenamed(from, to))
        done
      case AlterRenameTable(from, to) =>
        val m = catalog.remove(from)
        require(m != null, s"table not found: $from")
        catalog.put(to, m)
        spark.catalog.dropTempView(from)
        registerView(spark, to); done
      case AlterAddCol(name, colName, typeDdl, default) =>
        val df = table(spark, name)
        require(!df.columns.exists(_.equalsIgnoreCase(colName)),
          s"column already exists: $colName")
        val dt = StructType.fromDDL(s"$colName $typeDdl").head.dataType
        val value = Option(default).map(d => expr(d.trim))
          .getOrElse(lit(null)).cast(dt)
        swapIn(spark, name, df.withColumn(colName, value)); done
      case AlterDropCol(name, colName) =>
        val df = table(spark, name)
        require(df.columns.exists(_.equalsIgnoreCase(colName)),
          s"column not found: $colName")
        swapIn(spark, name, df.drop(colName)); done
      case CreateModel(name, mtype, select, opts) =>
        operators.Models.create(spark, name, mtype, select.trim,
          parseOptions(opts))
        done
      case DropModel(name) =>
        operators.Models.drop(name); done
      case ShowModels() =>
        Some(operators.Models.showModels(spark))
      case ShowModelDetails(name) =>
        Some(operators.Models.showModelDetails(spark, name))
      case EvaluateModel(name, on) =>
        import spark.implicits._
        Some(Seq(operators.Models.evaluate(spark, name, Option(on)))
          .toDF("r2"))
      case ShowModelFeatureDetails(name) =>
        Some(operators.Models.showModelFeatureDetails(spark, name))
      case ShowTableDetails(name) =>
        import spark.implicits._
        val names = Option(name).map(Seq(_)).getOrElse {
          import scala.jdk.CollectionConverters._
          catalog.keySet.asScala.toSeq.sorted
        }
        Some(names.map(tableDetails(spark, _))
          .toDF("table_name", "n_rows", "n_cols", "n_fragments",
            "size_bytes", "comment", "stats_rows", "analyzed_columns"))
      case ShowDatabases() =>
        import spark.implicits._
        Some(Seq("graft").toDF("database_name"))
      case Summarize(name) =>
        Some(operators.Profiling.profile(table(spark, name)))
      case ShowFunctions() =>
        import spark.implicits._
        import org.apache.spark.sql.catalyst.FunctionIdentifier
        val reg = spark.sessionState.functionRegistry
        Some(reg.listFunction()
          .filter(f => reg.lookupFunction(f)
            .exists(_.getClassName == "graft"))
          .map(_.funcName).sorted.toDF("function_name"))
      case ShowTableFunctions() =>
        import spark.implicits._
        Some(tableFunctionNames.toDF("table_function_name"))
      case CommentTable(name, txt) =>
        comments.put(name, txt); done
      case CommentColumn(name, colName, txt) =>
        comments.put(s"$name.$colName", txt); done
      case AlterColType(name, colName, typeDdl) =>
        val df = table(spark, name)
        require(df.columns.exists(_.equalsIgnoreCase(colName)),
          s"column not found: $colName")
        val dt = StructType.fromDDL(s"__c $typeDdl").head.dataType
        swapIn(spark, name, df.select(df.columns.map { cn =>
          if (cn.equalsIgnoreCase(colName)) col(cn).cast(dt).as(cn)
          else col(cn)
        }.toSeq: _*))
        done
      case CreateFunction(orReplace, name, params, body) =>
        val nm = name.toLowerCase
        require(orReplace.trim.nonEmpty || !udfCatalog(spark).containsKey(nm),
          s"function already exists: $nm (use CREATE OR REPLACE FUNCTION)")
        val ps = params.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        functions.GraftFunctions.registerSqlMacro(spark, nm, ps, body)
        udfCatalog(spark).put(nm, (ps, body))
        done
      case DropFunction(ifExists, name) =>
        import org.apache.spark.sql.catalyst.FunctionIdentifier
        val nm = name.toLowerCase
        if (udfCatalog(spark).remove(nm) != null)
          spark.sessionState.functionRegistry
            .dropFunction(FunctionIdentifier(nm))
        else require(ifExists.trim.nonEmpty,
          s"function not found or not a created function: $nm")
        done
      case CopyFrom(name, path) =>
        val schema = table(spark, name).schema
        insertInto(spark, name,
          spark.read.schema(schema).option("header", "true").csv(path))
        done
      case CopyTo(select, path) =>
        spark.sql(select).write.mode("overwrite")
          .option("header", "true").csv(path)
        done
      case _ => None
    }
  }
}
