package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap

/** Parquet scans whose schema the engine already knows.
  *
  * HeavyDB takes a column's type from its catalog
  * (`Catalog/ColumnDescriptor.h:33-48`, SURVEY §1.1) and never re-reads
  * chunk files to learn a schema at query time. A schema-less
  * `spark.read.parquet(path)` does exactly that: it runs one Spark job
  * (the footer merge) per call, even for a single file. So every read of
  * parquet whose schema the engine holds — a frame it just wrote, a
  * managed-table version, a fixture file it has already inferred — goes
  * through `read` with that schema and plans with no job.
  *
  * Only the `StructType` is ever kept, never a DataFrame: each call
  * builds a fresh relation with fresh attribute ids, so two reads of one
  * table self-join unambiguously.
  */
object KnownSchema {

  /** Scan `paths` as parquet with the given schema (no inference). */
  def read(spark: SparkSession, schema: StructType, paths: String*)
      : DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** The schema a schema-less read of `path` infers — one Spark job.
    * Only for parquet whose layout the writer's frame does not give:
    * a `partitionBy` write moves the partition columns last and types
    * them from the directory names.
    */
  def infer(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  // (session, path) → (file state the schema was taken at, schema)
  private val fileSchemas = new ConcurrentHashMap[
    (Int, String), (Seq[(String, Long, Long)], StructType)]()

  /** Name, length and modification time of the file at `path`, or of
    * each entry of the directory at `path`: a rewrite in place changes
    * it, a repeated read does not.
    */
  private def fileState(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val entries = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
    entries.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1)
  }

  /** Schema of parquet the engine did not write in this session (fixture
    * files, restored archives): inferred once per session and file
    * state, so a file rewritten in place is inferred again.
    */
  def of(spark: SparkSession, path: String): StructType = {
    val key = (System.identityHashCode(spark), path)
    // taken before inferring: a rewrite racing the inference leaves a
    // stale state behind, which the next call re-infers
    val state = fileState(spark, path)
    Option(fileSchemas.get(key)).filter(_._1 == state).map(_._2)
      .getOrElse {
        val schema = infer(spark, path)
        fileSchemas.put(key, (state, schema))
        schema
      }
  }

  /** Record the schema of parquet just written to `path` (a DUMP
    * archive), so a later `of` in this session needs no inference.
    */
  def remember(spark: SparkSession, path: String, schema: StructType)
      : Unit =
    fileSchemas.put((System.identityHashCode(spark), path),
      (fileState(spark, path), schema))
}
