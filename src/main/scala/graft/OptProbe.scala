package graft


/** Ad-hoc statement-level timing probe for the DDL-lifecycle queries
  * (round-13 optimization scratch tool; not part of the query surface).
  * Usage: OptProbe <sfDir> <which>
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val which = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus, "ERROR")
    val eng = HeavyEngine(spark, sfDir)
    def tsql(label: String, q: String): Unit = {
      val t0 = System.nanoTime()
      val df = eng.sql(q)
      df.write.mode("overwrite").format("noop").save()
      println(f"[probe] ${(System.nanoTime() - t0) / 1e9}%7.3f  $label")
    }
    def trun(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] ${(System.nanoTime() - t0) / 1e9}%7.3f  $label")
    }
    (1 to 2).foreach { pass =>
      println(s"== pass $pass ==")
      which match {
        case "q594" =>
          tsql("drop idx", "DROP FINGERPRINT INDEX IF EXISTS fidx")
          tsql("drop b1", "DROP TABLE IF EXISTS fp_batch")
          tsql("drop b2", "DROP TABLE IF EXISTS fp_batch2")
          tsql("create idx",
            """CREATE FINGERPRINT INDEX fidx ON documents(text)
               WHERE source <> 'src19' WITH (buckets=8)""")
          tsql("ctas b1",
            """CREATE TABLE fp_batch AS
               SELECT doc_id, text FROM documents
               WHERE source = 'src19' AND doc_id % 40 = 19
               UNION ALL
               SELECT doc_id + 1000000 AS doc_id, text FROM documents
               WHERE source <> 'src19' AND doc_id % 20 IN (3, 7)""")
          tsql("classify a", "CLASSIFY fp_batch(doc_id, text) AGAINST fidx")
          tsql("admit", "ALTER FINGERPRINT INDEX fidx ADMIT FROM fp_batch(text)")
          tsql("ctas b2",
            """CREATE TABLE fp_batch2 AS
               SELECT doc_id + 2000000 AS doc_id, text FROM fp_batch
               UNION ALL
               SELECT doc_id, text FROM documents
               WHERE source = 'src19' AND doc_id % 40 = 39
               UNION ALL
               SELECT doc_id + 2500000 AS doc_id, text FROM documents
               WHERE source = 'src19' AND doc_id % 120 = 39""")
          tsql("classify b", "CLASSIFY fp_batch2(doc_id, text) AGAINST fidx")
          tsql("retract",
            """ALTER FINGERPRINT INDEX fidx RETRACT FROM
               documents(text) WHERE source = 'src3'""")
          tsql("classify c", "CLASSIFY fp_batch2(doc_id, text) AGAINST fidx")
          tsql("show 1", "SHOW FINGERPRINT INDEXES")
          tsql("optimize", "OPTIMIZE FINGERPRINT INDEX fidx")
          tsql("show 2", "SHOW FINGERPRINT INDEXES")
          tsql("classify d", "CLASSIFY fp_batch2(doc_id, text) AGAINST fidx")
        case "q596" =>
          tsql("drop vidx", "DROP VECTOR INDEX IF EXISTS vidx")
          tsql("drop c", "DROP TABLE IF EXISTS vec_corpus")
          tsql("drop b", "DROP TABLE IF EXISTS vec_batch")
          tsql("drop p", "DROP TABLE IF EXISTS vec_probes")
          tsql("ctas corpus",
            """CREATE TABLE vec_corpus AS
               SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 10 <> 0""")
          tsql("ctas batch",
            """CREATE TABLE vec_batch AS
               SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 10 = 0""")
          tsql("create vidx",
            "CREATE VECTOR INDEX vidx ON vec_corpus(vec_id, embedding)")
          tsql("admit 1",
            "ALTER VECTOR INDEX vidx ADMIT FROM vec_batch(vec_id, embedding)")
          tsql("show 1", "SHOW VECTOR INDEXES")
          tsql("admit 2",
            "ALTER VECTOR INDEX vidx ADMIT FROM vec_batch(vec_id, embedding)")
          tsql("show 2", "SHOW VECTOR INDEXES")
          tsql("ctas probes",
            """CREATE TABLE vec_probes AS
               SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 125 = 0 AND vec_id < 5000""")
          tsql("search",
            "SEARCH vec_probes(vec_id, embedding) AGAINST vidx TOP 10")
        case "q593" =>
          trun("whole q593") {
            SparkEntry.queries("q593_fp_index_retraction")(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
          }
        case name =>
          trun(s"whole $name") {
            SparkEntry.queries(name)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
          }
      }
    }
    spark.stop()
  }
}
