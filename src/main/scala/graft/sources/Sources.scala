package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ArrowBridge
import graft.Tables
import graft.Tables.t

/** Source/sink surface beyond parquet+CSV — SURVEY §2.2 rows 17/18/21.
  *
  * - Regex-parsed text source: the reference's RegexParserDataWrapper
  *   (`DataMgr/ForeignStorage/RegexFileBufferParser.cpp` in
  *   /root/reference) exposes log files as tables. Spark-first:
  *   `spark.read.text` + `regexp_extract` projection — the regex runs
  *   codegen'd per partition, so a 100 TB log directory parses with the
  *   same scan parallelism as parquet (no pre-load step).
  * - Arrow result/ingest path: `sql_execute_df`
  *   (`QueryEngine/ArrowResultSetConverter.cpp`) — see ArrowBridge;
  *   serialization happens executor-side, partition-parallel.
  * - System/catalog tables: `InternalCatalogDataWrapper.cpp` exposes the
  *   catalog as queryable tables; here the session catalog's table and
  *   column metadata become DataFrames.
  */
object Sources {

  type Q = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Q)] = Seq(
    // Log lines → regex projection → aggregate: the full text-source
    // path (write side stands in for an external log producer).
    "q77_regex_source" -> ((s, d) => {
      val dir = graft.Stage.scratchDir("graft_logs") + "/events"
      t(s, d, "events").select(format_string(
          "ts=%d user=%d type=%s value=%s",
          unix_micros(col("ts")), col("user_id"),
          col("event_type"), col("value")).as("line"))
        .write.mode("overwrite").text(dir)
      s.read.text(dir).select(
          regexp_extract(col("value"), "user=(\\d+)", 1)
            .cast("long").as("user_id"),
          regexp_extract(col("value"), "type=(\\w+)", 1).as("event_type"),
          regexp_extract(col("value"), "value=([-0-9.eE]+)", 1)
            .cast("double").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("user_sum"),
          sum(col("v")).as("value_sum"))
    }),

    // Aggregate → Arrow IPC batches (executor-side) → deserialize →
    // result must be byte-for-byte the same relation.
    "q78_arrow_roundtrip" -> ((s, d) => {
      val agg = t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).as("total"))
      val batches = ArrowBridge.toArrowBatches(agg, maxRecordsPerBatch = 512)
      ArrowBridge.fromArrowBatches(s, batches, agg.schema.json)
    }),

    // Dict-encoding edge semantics (SURVEY §7.4): the reference runs
    // LIKE/ILIKE/equality/ordering over dictionary ids
    // (`StringDictionary/StringDictionaryProxy.cpp` in /root/reference);
    // in Spark the dictionary is parquet-storage-local and must be
    // SEMANTICALLY INVISIBLE. Pin it: the same text column written with
    // parquet dictionary encoding ON and OFF must produce identical
    // LIKE / ILIKE / equality / ordering / distinct results.
    "q138_dict_text" -> ((s, d) => {
      val base = t(s, d, "part")
        .select(col("p_partkey"), col("p_type"))
      def variant(name: String, dictEnable: Boolean): DataFrame = {
        val dir = graft.Stage.scratchDir(s"dict_$name")
        base.write.mode("overwrite")
          .option("parquet.enable.dictionary", dictEnable.toString)
          .parquet(dir)
        graft.KnownSchema.read(s, base.schema, dir)
          .agg(
            count(when(col("p_type").like("%BRASS%"), 1)).as("n_like"),
            count(when(col("p_type").ilike("%brass%"), 1)).as("n_ilike"),
            count(when(col("p_type") === "ECONOMY ANODIZED STEEL", 1))
              .as("n_eq"),
            count(when(col("p_type") < "M", 1)).as("n_lt"),
            count_distinct(col("p_type")).as("n_types"))
          .select(lit(name).as("variant"), col("*"))
      }
      variant("dict", dictEnable = true)
        .unionAll(variant("plain", dictEnable = false))
    }),

    // JSONL (newline-delimited JSON) round-trip — the de-facto
    // interchange format of LLM training-data pipelines (every open
    // corpus release ships .jsonl[.gz] shards). The reference's import
    // surface is COPY-based (`ImportExport/Importer.cpp`); Spark-first
    // this is a one-line schema-pinned `spark.read.json` whose parse
    // runs codegen'd per partition — a 100 TB JSONL directory scans
    // with the same parallelism as parquet. The aggregate carries an
    // md5-prefix text checksum so the hash gate proves the JSON
    // escape/unescape cycle is byte-lossless, not just row-count-safe.
    "q190_jsonl_source" -> ((s, d) => {
      val dir = graft.Stage.scratchDir("graft_jsonl") + "/docs"
      t(s, d, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .write.mode("overwrite").text(dir)
      s.read.schema("doc_id BIGINT, lang STRING, text STRING").json(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast("long")).cast("long").as("text_sum"))
    }),

    // Arrow fetch benchmark parity: the reference's arrow_flights suite
    // (`Benchmarks/queries/arrow_flights/Q001-Q005.sql`, driven by
    // `run_benchmark_arrow.py` over `sql_execute_df`) measures pulling a
    // WIDE multi-column row-set through the Arrow wire, not an
    // aggregate. Same shape here: every events column, deterministic
    // LIMIT, serialized to Arrow IPC batches executor-side and
    // deserialized back; the gate is a full-width checksum row (portable
    // md5 prefixes for strings, integer-scaled doubles, µs-exact ts
    // extent) computed AFTER the round trip, so any value the wire
    // mangles breaks the hash.
    "q249_arrow_fetch" -> ((s, d) => {
      val wide = t(s, d, "events").orderBy(col("event_id")).limit(1000)
      val back = ArrowBridge.fromArrowBatches(s,
        ArrowBridge.toArrowBatches(wide, maxRecordsPerBatch = 256),
        wide.schema.json)
      back.agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("event_id")).cast("long").as("id_sum"),
        sum(col("user_id")).cast("long").as("user_sum"),
        sum(conv(substring(md5(col("event_type")), 1, 8), 16, 10)
          .cast("long")).cast("long").as("type_sum"),
        sum(conv(substring(md5(col("props")), 1, 8), 16, 10)
          .cast("long")).cast("long").as("props_sum"),
        sum(floor(abs(col("value")) * 1000).cast("long")).cast("long")
          .as("value_sum"),
        min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"))
    }),

    // FSI append lifecycle parity: the reference's st-queries suite runs
    // pre-append / append / post-append passes over FSI tables
    // (`Benchmarks/st-queries/taxis-fsi-parquet-pre-append`,
    // `queries/fsi_append/taxis/Q01.sql`). Same lifecycle through the
    // Ddl layer: land 80% of events as parquet, CREATE FOREIGN TABLE,
    // count; land the rest — the count must NOT move (snapshot
    // semantics); REFRESH FOREIGN TABLE; count again. All three counts
    // in one gated row.
    "q250_fsi_append" -> ((s, d) => {
      val eng = graft.HeavyEngine(s, d)
      val dir = graft.Stage.scratchDir("ft_append")
      val name = "ft_ev_" + math.abs(dir.hashCode)
      val ev = t(s, d, "events")
      ev.filter(col("event_id") % 5 =!= 0)
        .write.mode("append").parquet(dir)
      eng.sql(s"CREATE FOREIGN TABLE $name WITH (path='$dir', format='parquet')")
      val pre = eng.sql(s"SELECT count(*) AS n FROM $name")
        .collect()(0).getLong(0)
      ev.filter(col("event_id") % 5 === 0)
        .write.mode("append").parquet(dir)
      val snap = eng.sql(s"SELECT count(*) AS n FROM $name")
        .collect()(0).getLong(0)
      eng.sql(s"REFRESH FOREIGN TABLE $name")
      eng.sql(s"""SELECT CAST($pre AS BIGINT) AS n_pre,
                         CAST($snap AS BIGINT) AS n_snapshot,
                         count(*) AS n_post
                  FROM $name""")
    }),

    // Catalog-as-table: fixture tables with their column counts.
    "q79_catalog_tables" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      Tables.names.sorted
        .map(n => (n, t(s, d, n).schema.length))
        .toDF("table_name", "n_cols")
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q249_arrow_fetch" ->
      """WITH f AS (SELECT * FROM events ORDER BY event_id LIMIT 1000)
         SELECT count(*) AS n,
                sum(event_id)::BIGINT AS id_sum,
                sum(user_id)::BIGINT AS user_sum,
                sum(('0x' || substr(md5(event_type), 1, 8))::BIGINT)::BIGINT
                  AS type_sum,
                sum(('0x' || substr(md5(props), 1, 8))::BIGINT)::BIGINT
                  AS props_sum,
                sum(floor(abs(value) * 1000)::BIGINT)::BIGINT AS value_sum,
                min(ts) AS ts_min, max(ts) AS ts_max
         FROM f""",
    "q250_fsi_append" ->
      """SELECT (SELECT count(*) FROM events
                 WHERE event_id % 5 <> 0)::BIGINT AS n_pre,
                (SELECT count(*) FROM events
                 WHERE event_id % 5 <> 0)::BIGINT AS n_snapshot,
                count(*)::BIGINT AS n_post
         FROM events""",
    "q77_regex_source" ->
      """SELECT event_type, count(*) AS n,
                sum(user_id)::BIGINT AS user_sum,
                sum(value) AS value_sum
         FROM events GROUP BY event_type""",
    "q78_arrow_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
         FROM orders GROUP BY o_orderstatus""",
    "q138_dict_text" ->
      """WITH m AS (
           SELECT count(CASE WHEN p_type LIKE '%BRASS%' THEN 1 END)
                    AS n_like,
                  count(CASE WHEN p_type ILIKE '%brass%' THEN 1 END)
                    AS n_ilike,
                  count(CASE WHEN p_type = 'ECONOMY ANODIZED STEEL'
                        THEN 1 END) AS n_eq,
                  count(CASE WHEN p_type < 'M' THEN 1 END) AS n_lt,
                  count(DISTINCT p_type) AS n_types
           FROM part)
         SELECT 'dict' AS variant, n_like, n_ilike, n_eq, n_lt, n_types
         FROM m
         UNION ALL
         SELECT 'plain' AS variant, n_like, n_ilike, n_eq, n_lt, n_types
         FROM m""",
    "q190_jsonl_source" ->
      """SELECT lang, count(*)::BIGINT AS n,
                sum(doc_id)::BIGINT AS id_sum,
                sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
                  AS text_sum
         FROM documents GROUP BY lang""",
    "q79_catalog_tables" ->
      """SELECT * FROM (VALUES
           ('customer', 5), ('documents', 5), ('embeddings', 3),
           ('events', 6), ('lineitem', 11), ('nation', 3),
           ('orders', 6), ('part', 6), ('region', 2), ('supplier', 4))
         v(table_name, n_cols)"""
  )
}
