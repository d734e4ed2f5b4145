package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Warehouse data-engineering operators: the layout / pruning / delta
  * machinery a 100 TB deployment runs AROUND its queries.
  *
  * - q255 Z-order clustering audit: Morton-interleaved sort keys vs
  *   natural (ingest-order) chunking, measured as zone-map chunk pruning
  *   for a 2-D box predicate. The reference clusters storage by fragment
  *   with per-chunk min/max metadata used for fragment skipping
  *   (`DataMgr/ChunkMetadata.h`, `QueryEngine/FragmentSkipping` via
  *   ExpressionRange); Z-order is the multi-column layout that makes
  *   those zone maps selective on MORE than the lead sort column.
  * - q256 Bloom-filter semi-join pruning: the shuffle-reduction sidecar
  *   for selective joins (Spark's own runtime row-filtering idea,
  *   `spark.sql.optimizer.runtime.bloomFilter.enabled`, re-expressed
  *   with an engine-portable md5 hash family so the filter — and its
  *   false-positive count — replays bit-for-bit in the oracle).
  * - q257 ROUGE-1/2 overlap eval between paired documents — the
  *   summarization/eval metric of a training-data pipeline, as exact
  *   integer n-gram multiset intersections.
  * - q258 corpus snapshot diff: added/removed/changed/unchanged between
  *   two fingerprinted snapshots — the ingest-audit operator that makes
  *   incremental pipelines (q207) reviewable.
  * - q259 incremental aggregate maintenance: base + delta partial
  *   aggregates merged and PROVEN equal to the full recompute (exact
  *   decimal arithmetic so merge order cannot drift) — the materialized
  *   -view refresh pattern that replaces full rescans at 100 TB.
  *
  * Scale notes: every query is one or two hash-shuffles over the fact
  * table; the Bloom filter and zone-map tables are bounded (137 words /
  * #chunks rows) and broadcast; nothing collects corpus-scale data.
  */
object DataOps {

  type Q = (SparkSession, String) => DataFrame

  /** Engine-portable 60-bit hash — the one Dedup.hash60 recipe (DuckDB
    * replays it as ('0x' || substr(md5(x),1,15))::BIGINT).
    */
  private def h60(c: Column): Column = Dedup.hash60(c)

  // ---- q255 helpers ------------------------------------------------
  /** Morton code: interleave the low 8 bits of x (even positions) and
    * y (odd positions) — pure integer bit math, identical in DuckDB.
    */
  private def morton8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private def mortonSqlExpr(x: String, y: String): String =
    (0 until 8).map { i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  // 2-D box predicate the zone maps are audited against. The y band
  // sits in [2, 5] because the supplier-key dimension only spans 0..9
  // at the smallest fixture — the box must select at every sf.
  private val (bxLo, bxHi, byLo, byHi) = (64, 127, 2, 5)

  val queries: Seq[(String, Q)] = Seq(

    // Z-order clustering layout audit. x = l_partkey % 256, y =
    // l_suppkey % 256; the Z-layout chunks rows by Morton-code range
    // (chunk = code >> 6: 64 codes per chunk — a 8x8 tile), the natural
    // layout chunks by ingest order (l_orderkey range, same chunk
    // count). Per chunk we keep the zone map (min/max of both dims) and
    // count how many chunks a box predicate must READ: a chunk is
    // skipped iff its zone map cannot overlap the box — exactly the
    // reference's fragment-skipping test. The Z-layout's tiles bound
    // BOTH dims, so it prunes on a predicate the natural layout cannot.
    // At 100 TB: chunk = parquet row-group / file; the Morton key is a
    // write-once sort column and this query is the audit that proves
    // the rewrite pays before you pay for it.
    "q255_zorder_layout" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select((col("l_partkey") % 256).as("x"),
          (col("l_suppkey") % 256).as("y"),
          col("l_orderkey"))
      val z = li.withColumn("chunk", shiftright(morton8(col("x"), col("y")), 6))
        .withColumn("layout", lit("zorder"))
      val mx = li.agg(max(col("l_orderkey")).as("mx"))
      val nat = li.crossJoin(broadcast(mx))
        .withColumn("chunk", expr("l_orderkey * 1024 div (mx + 1)"))
        .withColumn("layout", lit("natural"))
      val chunks = z.select(col("layout"), col("chunk"), col("x"), col("y"))
        .unionByName(nat.select(col("layout"), col("chunk"), col("x"), col("y")))
        .groupBy(col("layout"), col("chunk"))
        .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          count(lit(1)).as("n_rows"))
      val scanned = col("max_x") >= bxLo && col("min_x") <= bxHi &&
        col("max_y") >= byLo && col("min_y") <= byHi
      chunks.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(scanned, 1L).otherwise(0L)).as("chunks_scanned"),
          sum(when(scanned, col("n_rows")).otherwise(0L)).as("rows_scanned"))
        .withColumn("scan_frac",
          round(col("chunks_scanned") / col("n_chunks"), 4))
    }),

    // Bloom-filter semi-join pruning. Dim side = ECONOMY part keys;
    // the 4096-bit filter is stored as <=137 thirty-bit words (30-bit
    // masks keep every word positive in both engines' BIGINTs), built
    // with ONE aggregate over dim-key hashes and broadcast to the fact
    // scan. The k=3 probe bits come from Kirsch-Mitzenmacher double
    // hashing (bit_i = (h1 + i*step) mod m, both halves of ONE portable
    // md5), so the probe side computes a single hash per fact row and
    // tests all three bits inline through three broadcast joins — no
    // explode, no per-row re-aggregation, ZERO added shuffle on the
    // fact table. False negatives must be 0 (the correctness contract);
    // false positives are the measured cost of the 0.5 KB filter. At
    // 100 TB this is the map-side filter that keeps 90%+ of a selective
    // join's probe rows out of the shuffle. Sizing rule (measured in
    // SCALE.md): provision m at ~10 bits per dim key — the fixed
    // m=4096 here is sized for the sf0.1 dim and measurably saturates
    // at sf1 (pruning decays, correctness holds).
    "q256_bloom_join_prune" -> ((s, d) => {
      // ONE bit-derivation function serves build and probe sides — the
      // filter's correctness contract (false_neg = 0) is exactly that
      // both sides compute identical bits. h1 = low 12 bits of the
      // portable hash; step = 1 + (high bits % 4095) so the stride is
      // never 0 (mod 4096 the three bits stay distinct-ish).
      def bloomBits(h: Column): Seq[Column] = {
        val h1 = h % 4096
        val step = lit(1L) + shiftright(h, 30) % 4095
        (0 until 3).map(i => (h1 + lit(i) * step) % 4096)
      }
      def keyHash(key: Column): Column =
        h60(concat_ws(":", lit("bloom"), key))
      val dim = t(s, d, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey").as("k")).distinct()
      val words = dim
        .select(explode(array(bloomBits(keyHash(col("k"))): _*)).as("bit"))
        .select(expr("bit div 30").as("word"),
          expr("shiftleft(1L, cast(bit % 30 as int))").as("m"))
        .groupBy(col("word")).agg(expr("bit_or(m)").as("bits"))
      // Materialize the single md5 hash as a concrete column BEFORE the
      // per-bit derivations, so no join boundary re-evaluates it.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("h", keyHash(col("l_partkey")))
      val probed = bloomBits(col("h")).zipWithIndex
        .foldLeft(li) { case (df, (bitCol, i)) =>
          df.withColumn(s"bit$i", bitCol)
            .withColumn(s"word$i", expr(s"bit$i div 30"))
            .withColumn(s"m$i", expr(s"shiftleft(1L, cast(bit$i % 30 as int))"))
            .join(broadcast(words.select(col("word").as(s"word$i"),
              col("bits").as(s"bits$i"))), Seq(s"word$i"), "left")
        }
      val hitAll = (0 until 3).map(i =>
        col(s"bits$i").isNotNull &&
          col(s"bits$i").bitwiseAND(col(s"m$i")) =!= 0).reduce(_ && _)
      val flags = probed
        .withColumn("bloom_pass", hitAll)
        .join(broadcast(dim.withColumn("dim_hit", lit(1))),
          col("l_partkey") === col("k"), "left")
        .withColumn("is_match", col("dim_hit").isNotNull)
      flags.agg(
        count(lit(1)).as("n_probe"),
        sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("bloom_pass"),
        sum(when(col("is_match"), 1L).otherwise(0L)).as("exact_pass"),
        sum(when(col("bloom_pass") && !col("is_match"), 1L).otherwise(0L))
          .as("false_pos"),
        sum(when(col("is_match") && !col("bloom_pass"), 1L).otherwise(0L))
          .as("false_neg"))
        .withColumn("fp_rate", round(col("false_pos") /
          (col("n_probe") - col("exact_pass")), 6))
        .withColumn("pruned_frac", round(
          (col("n_probe") - col("bloom_pass")) / col("n_probe"), 4))
    }),

    // ROUGE-1/2 between paired documents (candidate = even doc_id,
    // reference = the next doc) — exact n-gram multiset overlap
    // (sum of min counts), precision/recall/F1. Tokenization is the
    // q248 normalization; bigrams are the per-row zip_with (no
    // cross-row shuffle to FORM grams, one join per n to intersect
    // them). Integer overlaps make the gate float-free; F1 is the one
    // rounded division chain, written identically in both engines.
    "q257_rouge_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("a", filter(
          split(regexp_replace(trim(lower(col("text"))), "[^a-z0-9 ]", ""),
            " +"), w => w =!= ""))
        .select(col("doc_id"), col("a"))
      val cand = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pair_id"), col("a").as("ca"))
      val ref = docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("a").as("ra"))
      // Staged once: the main select and both overlap passes (each of
      // which references it twice) otherwise re-embed the tokenize+join
      // subtree five times per materialization — tokenization is the
      // cost center and projections are not exchange-deduped.
      val pairs = graft.Stage(cand.join(ref, Seq("pair_id"))
        .filter(size(col("ca")) > 0 && size(col("ra")) > 0),
        "q257_pairs")
      def bigrams(c: Column): Column =
        zip_with(slice(c, lit(1), size(c) - 1), slice(c, lit(2), size(c) - 1),
          (x, y) => concat_ws(" ", x, y))
      def overlap(grams: Column => Column, n: String): DataFrame = {
        val cg = pairs.select(col("pair_id"),
            explode(grams(col("ca"))).as("g"))
          .groupBy(col("pair_id"), col("g")).agg(count(lit(1)).as("cc"))
        val rg = pairs.select(col("pair_id"),
            explode(grams(col("ra"))).as("g"))
          .groupBy(col("pair_id"), col("g")).agg(count(lit(1)).as("cr"))
        cg.join(rg, Seq("pair_id", "g"))
          .groupBy(col("pair_id"))
          .agg(sum(least(col("cc"), col("cr"))).as(s"o$n"))
      }
      def f1(o: Column, lc: Column, lr: Column): Column = {
        val p = o / lc
        val r = o / lr
        when(lc > 0 && lr > 0 && o > 0,
          round((lit(2.0) * p * r) / (p + r), 6)).otherwise(0.0)
      }
      pairs.select(col("pair_id"),
          size(col("ca")).cast("long").as("len_c1"),
          size(col("ra")).cast("long").as("len_r1"),
          greatest(size(col("ca")) - 1, lit(0)).cast("long").as("len_c2"),
          greatest(size(col("ra")) - 1, lit(0)).cast("long").as("len_r2"))
        .join(overlap(identity, "1"), Seq("pair_id"), "left")
        .join(overlap(bigrams, "2"), Seq("pair_id"), "left")
        .withColumn("o1", coalesce(col("o1"), lit(0L)))
        .withColumn("o2", coalesce(col("o2"), lit(0L)))
        .select(col("pair_id"), col("o1"), col("o2"),
          f1(col("o1"), col("len_c1"), col("len_r1")).as("rouge1_f1"),
          f1(col("o2"), col("len_c2"), col("len_r2")).as("rouge2_f1"))
    }),

    // Corpus snapshot diff: two deterministic snapshots of documents
    // (A drops hash%10==9, B drops a different 10% and rewrites a third
    // 10%), compared by content fingerprint into added / removed /
    // changed / unchanged. One full-outer join on doc_id over
    // fingerprint projections — the audit that turns "we re-ingested
    // the corpus" into reviewable counts. At 100 TB the fingerprint
    // tables are the manifest, not the data: this never touches text
    // twice.
    "q258_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(h60(concat_ws("", lit("snapA:"), col("doc_id"))) % 10 < 9)
        .select(col("doc_id"), md5(col("text")).as("fp_a"))
      val b = docs.filter(h60(concat_ws("", lit("snapB:"), col("doc_id"))) % 10 < 9)
        .select(col("doc_id"), md5(
          when(h60(concat_ws("", lit("mod:"), col("doc_id"))) % 10 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
          .as("fp_b"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("fp_a").isNull, "added")
            .when(col("fp_b").isNull, "removed")
            .when(col("fp_a") =!= col("fp_b"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }),

    // Pipeline lineage manifest: each curation stage (raw -> exact-
    // deduped -> curated) is reduced to a content-addressed fingerprint
    // — the bit_xor of per-row portable hashes over (doc_id, content).
    // XOR is commutative/associative, so the fingerprint is independent
    // of partitioning, task order, and engine — two runs (or two
    // engines) produced the same dataset iff the manifests match. This
    // is dataset versioning for the q200-style pipeline: at 100 TB the
    // manifest is one aggregate per stage, and reproducibility checks
    // compare 3 numbers instead of 3 corpora.
    "q279_lineage_manifest" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"),
          h60(concat_ws(":", col("doc_id"), md5(col("text")))).as("h"),
          md5(col("text")).as("fp"))
      val raw = docs
      val deduped = docs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
        .join(docs, col("keep_id") === col("doc_id"))
      val curated = deduped.filter(col("n_chars") >= 50)
      def manifest(df: DataFrame, stage: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("fingerprint"))
          .select(lit(stage).as("stage"), col("n_docs"), col("fingerprint"))
      manifest(raw, "raw")
        .unionByName(manifest(deduped, "deduped"))
        .unionByName(manifest(curated, "curated"))
    }),

    // Column encoding advisor — the sizing pass behind the reference's
    // string dictionaries and compressed chunks
    // (`StringDictionary/StringDictionary.cpp`, fixed-width dict ids;
    // `DataMgr/ChunkMetadata.h` per-chunk layout): for each candidate
    // string column, EXACT integer byte accounting of three physical
    // encodings, then the argmin recommendation.
    //   plain = sum of value lengths;
    //   dict  = distinct-value pool + n fixed-width ids, id width =
    //           ceil(log2(nd)) bits rounded up to whole bytes (computed
    //           via binary-string length — no float log);
    //   rle   = per-run head value + a 4-byte run length, runs counted
    //           WITHIN chunk boundaries (chunk = order group — runs
    //           never cross chunks, exactly like parquet pages inside
    //           row groups), so every window is partitioned by
    //           (column, chunk), never global.
    // One melt pass over the fact table: scan → explode to
    // (column, chunk, seq, value) → one partitioned window → one agg.
    "q308_encoding_advisor" -> ((s, d) => {
      // l_orderkey is constant inside its chunk (RLE should win),
      // l_returnflag/l_linestatus are tiny-vocab (dict ids, 1 byte),
      // l_shipdate is mid-cardinality, l_quantity numeric-as-string.
      val cols = Seq("l_orderkey", "l_returnflag", "l_linestatus",
        "l_shipdate", "l_quantity")
      val melted = t(s, d, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        explode(map(cols.flatMap { c =>
          // date-normalize the timestamp column so the rendered string
          // is fixture-generation-independent (µs vs ns physical type)
          val v = if (c == "l_shipdate") to_date(col(c)).cast("string")
                  else col(c).cast("string")
          Seq(lit(c), v)
        }: _*)).as(Seq("cname", "v")))
      // (ok, ln) is NOT unique in the fixture — order by (ln, v) so the
      // in-chunk sequence (and hence the run count) is deterministic.
      // (A per-chunk collect_list + HOF fold was tried in round 10 and
      // measured 4× SLOWER — string-array ObjectHashAggregate loses to
      // the codegen'd window lag; the win is staging the post-window
      // melt so BOTH aggregates below read it.)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cname"), col("ok"))
        .orderBy(col("ln"), col("v"))
      val runs = graft.Stage(melted.withColumn("head",
        coalesce(col("v") =!= lag(col("v"), 1).over(w), lit(true))),
        "q308_runs")
      // n_distinct rides the pool aggregate (already a distinct pass) —
      // a countDistinct beside the other aggs would Expand the full melt
      val base = runs.groupBy(col("cname")).agg(
        count(lit(1)).as("n_rows"),
        sum(length(col("v"))).as("plain_bytes"),
        sum(when(col("head"), 1L).otherwise(0L)).as("n_runs"),
        sum(when(col("head"), length(col("v")) + 4).otherwise(0L))
          .as("rle_bytes"))
      val pool = runs.select(col("cname"), col("v")).distinct()
        .groupBy(col("cname")).agg(
          count(lit(1)).as("n_distinct"),
          sum(length(col("v"))).as("pool_bytes"))
      base.join(pool, "cname")
        .withColumn("idx_bits", when(col("n_distinct") === 1, 0)
          .otherwise(length(bin(col("n_distinct") - 1))))
        .withColumn("dict_bytes",
          col("pool_bytes") + col("n_rows") *
            expr("(idx_bits + 7) DIV 8"))
        .withColumn("rec_encoding",
          when(col("plain_bytes") <= col("dict_bytes") &&
               col("plain_bytes") <= col("rle_bytes"), "plain")
            .when(col("dict_bytes") <= col("rle_bytes"), "dict")
            .otherwise("rle"))
        .select(col("cname"), col("n_rows"), col("n_distinct"),
          col("plain_bytes"), col("n_runs"), col("rle_bytes"),
          col("dict_bytes"), col("rec_encoding"))
    }),

    // GLOBAL order-preserving string dictionary — the real build path
    // behind the reference's StringDictionary
    // (`StringDictionary/StringDictionary.cpp`; KEY_FOR_STRING q95 is
    // the hash surrogate, this is the dense-id structure itself). The
    // classic distributed dense-rank assignment WITHOUT a global
    // window: range-partition the distinct values, rank within each
    // partition (partitioned window), then add broadcast per-partition
    // offsets — offset + local rank IS the global dense rank for ANY
    // range boundaries, because range partitioning totally orders the
    // partitions. Offsets are one #partitions-row collect (bounded
    // metadata, like the reference's dictionary segment headers).
    // id ∈ [0, D) dense and sorted — the property hash surrogates
    // cannot give (range predicates on ids = range predicates on
    // values).
    "q315_global_dict" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val vals = t(s, d, "lineitem")
        .select(to_date(col("l_shipdate")).cast("string").as("v"))
        .distinct()
      val parts = vals.repartitionByRange(8, col("v"))
        .withColumn("pid", spark_partition_id())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("v"))
      val ranked = graft.Stage(parts
        .withColumn("rn", row_number().over(w) - 1), "q315_ranked")
      val offsets = ranked.groupBy(col("pid"))
        .agg(count(lit(1)).as("c"))
        .collect().sortBy(_.getInt(0))
        .scanLeft((0, 0L)) { case ((_, acc), r) =>
          (r.getInt(0), acc + r.getLong(1))
        }
      val offDf = offsets.init.zip(offsets.tail)
        .map { case ((_, off), (pid, _)) => (pid, off) }
        .toSeq.toDF("pid", "off")
      ranked.join(broadcast(offDf), "pid")
        .select(col("v"), (col("off") + col("rn")).as("id"))
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "q255_zorder_layout" -> {
      val m = mortonSqlExpr("x", "y")
      s"""WITH li AS (
            SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y, l_orderkey
            FROM lineitem),
          z AS (
            SELECT 'zorder' AS layout, ($m) >> 6 AS chunk, x, y FROM li),
          nat AS (
            SELECT 'natural' AS layout,
                   (l_orderkey * 1024) //
                     ((SELECT max(l_orderkey) FROM li) + 1) AS chunk, x, y
            FROM li),
          chunks AS (
            SELECT layout, chunk, min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y,
                   count(*) AS n_rows
            FROM (SELECT * FROM z UNION ALL SELECT * FROM nat)
            GROUP BY layout, chunk)
          SELECT layout, count(*)::BIGINT AS n_chunks,
                 sum(CASE WHEN max_x >= $bxLo AND min_x <= $bxHi
                           AND max_y >= $byLo AND min_y <= $byHi
                          THEN 1 ELSE 0 END)::BIGINT AS chunks_scanned,
                 sum(CASE WHEN max_x >= $bxLo AND min_x <= $bxHi
                           AND max_y >= $byLo AND min_y <= $byHi
                          THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned,
                 round(sum(CASE WHEN max_x >= $bxLo AND min_x <= $bxHi
                                 AND max_y >= $byLo AND min_y <= $byHi
                                THEN 1 ELSE 0 END) / count(*), 4)
                   AS scan_frac
          FROM chunks GROUP BY layout"""
    },
    "q256_bloom_join_prune" ->
      """WITH dim AS (
           SELECT DISTINCT p_partkey AS k FROM part
           WHERE p_type = 'ECONOMY'),
         dh AS (
           SELECT ('0x' || substr(md5('bloom:' || k), 1, 15))::BIGINT
             AS h FROM dim),
         dbits AS (
           SELECT DISTINCT
                  (h % 4096 + i * (1 + (h >> 30) % 4095)) % 4096 AS bit
           FROM dh, (SELECT unnest([0, 1, 2]) AS i)),
         words AS (
           SELECT bit // 30 AS word,
                  bit_or(1::BIGINT << (bit % 30)::INT) AS bits
           FROM dbits GROUP BY bit // 30),
         probe AS (
           SELECT l_orderkey, l_linenumber, l_partkey,
                  ('0x' || substr(md5('bloom:' || l_partkey), 1, 15))
                    ::BIGINT AS h
           FROM lineitem),
         pbits AS (
           SELECT l_orderkey, l_linenumber, l_partkey,
                  (h % 4096) % 4096 AS bit0,
                  (h % 4096 + 1 * (1 + (h >> 30) % 4095)) % 4096 AS bit1,
                  (h % 4096 + 2 * (1 + (h >> 30) % 4095)) % 4096 AS bit2
           FROM probe),
         flags AS (
           SELECT p.l_orderkey, p.l_linenumber, p.l_partkey,
                  (w0.bits IS NOT NULL AND
                     (w0.bits & (1::BIGINT << (p.bit0 % 30)::INT)) <> 0)
                  AND (w1.bits IS NOT NULL AND
                     (w1.bits & (1::BIGINT << (p.bit1 % 30)::INT)) <> 0)
                  AND (w2.bits IS NOT NULL AND
                     (w2.bits & (1::BIGINT << (p.bit2 % 30)::INT)) <> 0)
                    AS bloom_pass,
                  p.l_partkey IN (SELECT k FROM dim) AS is_match
           FROM pbits p
           LEFT JOIN words w0 ON w0.word = p.bit0 // 30
           LEFT JOIN words w1 ON w1.word = p.bit1 // 30
           LEFT JOIN words w2 ON w2.word = p.bit2 // 30)
         SELECT count(*)::BIGINT AS n_probe,
                sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT
                  AS bloom_pass,
                sum(CASE WHEN is_match THEN 1 ELSE 0 END)::BIGINT
                  AS exact_pass,
                sum(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0
                  END)::BIGINT AS false_pos,
                sum(CASE WHEN is_match AND NOT bloom_pass THEN 1 ELSE 0
                  END)::BIGINT AS false_neg,
                round(sum(CASE WHEN bloom_pass AND NOT is_match THEN 1
                    ELSE 0 END) /
                  (count(*) - sum(CASE WHEN is_match THEN 1 ELSE 0 END)),
                  6) AS fp_rate,
                round((count(*) - sum(CASE WHEN bloom_pass THEN 1 ELSE 0
                  END)) / count(*), 4) AS pruned_frac
         FROM flags""",
    // Join-size estimation from per-key group statistics — the
    // cardinality stats a planner consults BEFORE running a join (the
    // reference sizes hash tables from expression ranges and needs
    // exactly these counts). |A self-join on k| = sum c(k)^2, computed
    // from one aggregate over the fact table; the key histogram also
    // yields the skew diagnostics (max key count, top-key fraction)
    // that drive the salted-join decision (q154/q237). No join is
    // executed: at 100 TB this one-pass estimate is what tells you the
    // self-join would explode BEFORE you pay for it.
    "q268_join_size_estimate" ->
      """WITH cnt AS (
           SELECT l_partkey, count(*)::BIGINT AS c FROM lineitem
           GROUP BY l_partkey),
         dim AS (
           SELECT DISTINCT p_partkey AS k FROM part
           WHERE p_type = 'ECONOMY')
         SELECT count(*)::BIGINT AS n_keys,
                sum(c)::BIGINT AS total_rows,
                max(c) AS max_key_cnt,
                sum(c * c)::BIGINT AS est_selfjoin_pairs,
                sum(CASE WHEN d.k IS NOT NULL THEN c ELSE 0 END)::BIGINT
                  AS est_dimjoin_rows,
                round(max(c) / sum(c), 6) AS skew_frac
         FROM cnt LEFT JOIN dim d ON d.k = cnt.l_partkey""",
    "q257_rouge_eval" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(string_split_regex(regexp_replace(
                    trim(lower(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
                    w -> w <> '') AS a
           FROM documents),
         pairs AS (
           SELECT c.doc_id AS pair_id, c.a AS ca, r.a AS ra
           FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
           WHERE c.doc_id % 2 = 0 AND len(c.a) > 0 AND len(r.a) > 0),
         cg1 AS (
           SELECT pair_id, unnest(ca) AS g FROM pairs),
         rg1 AS (
           SELECT pair_id, unnest(ra) AS g FROM pairs),
         o1 AS (
           SELECT c.pair_id, sum(least(c.cc, r.cr))::BIGINT AS o1
           FROM (SELECT pair_id, g, count(*) AS cc FROM cg1
                 GROUP BY pair_id, g) c
           JOIN (SELECT pair_id, g, count(*) AS cr FROM rg1
                 GROUP BY pair_id, g) r
             ON c.pair_id = r.pair_id AND c.g = r.g
           GROUP BY c.pair_id),
         cg2 AS (
           SELECT pair_id, z[1] || ' ' || z[2] AS g
           FROM (SELECT pair_id, unnest(list_zip(ca[:-2], ca[2:])) AS z
                 FROM pairs WHERE len(ca) >= 2)),
         rg2 AS (
           SELECT pair_id, z[1] || ' ' || z[2] AS g
           FROM (SELECT pair_id, unnest(list_zip(ra[:-2], ra[2:])) AS z
                 FROM pairs WHERE len(ra) >= 2)),
         o2 AS (
           SELECT c.pair_id, sum(least(c.cc, r.cr))::BIGINT AS o2
           FROM (SELECT pair_id, g, count(*) AS cc FROM cg2
                 GROUP BY pair_id, g) c
           JOIN (SELECT pair_id, g, count(*) AS cr FROM rg2
                 GROUP BY pair_id, g) r
             ON c.pair_id = r.pair_id AND c.g = r.g
           GROUP BY c.pair_id),
         base AS (
           SELECT pair_id, len(ca)::BIGINT AS len_c1,
                  len(ra)::BIGINT AS len_r1,
                  greatest(len(ca) - 1, 0)::BIGINT AS len_c2,
                  greatest(len(ra) - 1, 0)::BIGINT AS len_r2
           FROM pairs)
         SELECT b.pair_id,
                coalesce(o1.o1, 0)::BIGINT AS o1,
                coalesce(o2.o2, 0)::BIGINT AS o2,
                CASE WHEN b.len_c1 > 0 AND b.len_r1 > 0
                      AND coalesce(o1.o1, 0) > 0
                     THEN round((2.0 * (coalesce(o1.o1, 0) / b.len_c1)
                         * (coalesce(o1.o1, 0) / b.len_r1))
                       / ((coalesce(o1.o1, 0) / b.len_c1)
                         + (coalesce(o1.o1, 0) / b.len_r1)), 6)
                     ELSE 0.0 END AS rouge1_f1,
                CASE WHEN b.len_c2 > 0 AND b.len_r2 > 0
                      AND coalesce(o2.o2, 0) > 0
                     THEN round((2.0 * (coalesce(o2.o2, 0) / b.len_c2)
                         * (coalesce(o2.o2, 0) / b.len_r2))
                       / ((coalesce(o2.o2, 0) / b.len_c2)
                         + (coalesce(o2.o2, 0) / b.len_r2)), 6)
                     ELSE 0.0 END AS rouge2_f1
         FROM base b
         LEFT JOIN o1 ON o1.pair_id = b.pair_id
         LEFT JOIN o2 ON o2.pair_id = b.pair_id""",
    "q258_snapshot_diff" ->
      """WITH a AS (
           SELECT doc_id, md5(text) AS fp_a FROM documents
           WHERE ('0x' || substr(md5('snapA:' || doc_id), 1, 15))::BIGINT
             % 10 < 9),
         b AS (
           SELECT doc_id,
                  md5(CASE WHEN ('0x' || substr(md5('mod:' || doc_id),
                        1, 15))::BIGINT % 10 = 0
                       THEN text || ' v2' ELSE text END) AS fp_b
           FROM documents
           WHERE ('0x' || substr(md5('snapB:' || doc_id), 1, 15))::BIGINT
             % 10 < 9),
         j AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.fp_a IS NULL THEN 'added'
                       WHEN b.fp_b IS NULL THEN 'removed'
                       WHEN a.fp_a <> b.fp_b THEN 'changed'
                       ELSE 'unchanged' END AS status
           FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         SELECT status, count(*)::BIGINT AS n_docs,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM j GROUP BY status""",
    "q279_lineage_manifest" ->
      """WITH docs AS (
           SELECT doc_id, n_chars, md5(text) AS fp,
                  ('0x' || substr(md5(doc_id || ':' || md5(text)), 1, 15))
                    ::BIGINT AS h
           FROM documents),
         deduped AS (
           SELECT d.* FROM docs d
           JOIN (SELECT fp, min(doc_id) AS keep_id FROM docs GROUP BY fp)
             k ON k.keep_id = d.doc_id),
         curated AS (SELECT * FROM deduped WHERE n_chars >= 50)
         SELECT 'raw' AS stage, count(*)::BIGINT AS n_docs,
                bit_xor(h) AS fingerprint FROM docs
         UNION ALL
         SELECT 'deduped', count(*)::BIGINT, bit_xor(h) FROM deduped
         UNION ALL
         SELECT 'curated', count(*)::BIGINT, bit_xor(h) FROM curated""",
    // Incremental aggregate maintenance: per-customer order counts and
    // revenue as base (< 1997) + delta (>= 1997) partial aggregates
    // merged by re-aggregation, PROVEN equal to the full recompute.
    // Amounts aggregate as DECIMAL(18,2) so the merge is exact — the
    // float-sum order-dependence that normally breaks MV refresh
    // equality is designed out, in both engines. mism_total (cross-
    // joined 1-row audit) must be 0. At 100 TB: the delta is today's
    // partition; the base aggregate is storage, not compute.
    "q259_incremental_mv" ->
      """WITH o AS (
           SELECT o_custkey, o_orderdate,
                  o_totalprice::DECIMAL(18,2) AS tp FROM orders),
         base AS (
           SELECT o_custkey, count(*) AS cnt, sum(tp) AS tot FROM o
           WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY o_custkey),
         delta AS (
           SELECT o_custkey, count(*) AS cnt, sum(tp) AS tot FROM o
           WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY o_custkey),
         merged AS (
           SELECT o_custkey, sum(cnt)::BIGINT AS n_orders,
                  sum(tot) AS tot
           FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
           GROUP BY o_custkey),
         full_r AS (
           SELECT o_custkey, count(*)::BIGINT AS f_cnt, sum(tp) AS f_tot
           FROM o GROUP BY o_custkey),
         mism AS (
           SELECT sum(CASE WHEN m.n_orders IS NULL OR f.f_cnt IS NULL
                        OR m.n_orders <> f.f_cnt OR m.tot <> f.f_tot
                       THEN 1 ELSE 0 END)::BIGINT AS mism_total
           FROM merged m FULL OUTER JOIN full_r f
             ON m.o_custkey = f.o_custkey)
         SELECT m.o_custkey, m.n_orders,
                round(m.tot::DOUBLE, 2) AS total, mism.mism_total
         FROM merged m CROSS JOIN mism
         ORDER BY total DESC, o_custkey ASC
         LIMIT 20""",
    "q308_encoding_advisor" ->
      """WITH m AS (
           SELECT l_orderkey AS ok, l_linenumber AS ln,
                  'l_orderkey' AS cname, l_orderkey::VARCHAR AS v
           FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_returnflag',
                  l_returnflag FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_linestatus',
                  l_linestatus FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_shipdate',
                  l_shipdate::DATE::VARCHAR FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_quantity',
                  l_quantity::VARCHAR FROM lineitem),
         r AS (
           SELECT cname, v,
                  CASE WHEN lag(v) OVER (PARTITION BY cname, ok
                         ORDER BY ln, v) IS DISTINCT FROM v
                       THEN 1 ELSE 0 END AS head
           FROM m),
         base AS (
           SELECT cname, count(*) AS n_rows,
                  count(DISTINCT v) AS n_distinct,
                  sum(length(v))::BIGINT AS plain_bytes,
                  sum(head)::BIGINT AS n_runs,
                  sum(CASE WHEN head = 1 THEN length(v) + 4 ELSE 0 END)
                    ::BIGINT AS rle_bytes
           FROM r GROUP BY 1),
         pool AS (
           SELECT cname, sum(length(v))::BIGINT AS pool_bytes
           FROM (SELECT DISTINCT cname, v FROM m) GROUP BY 1),
         sized AS (
           SELECT b.cname, b.n_rows, b.n_distinct, b.plain_bytes,
                  b.n_runs, b.rle_bytes,
                  (p.pool_bytes + b.n_rows *
                    ((CASE WHEN b.n_distinct = 1 THEN 0
                           ELSE length(bin(b.n_distinct - 1)) END + 7)
                      // 8))::BIGINT AS dict_bytes
           FROM base b JOIN pool p ON b.cname = p.cname)
         SELECT cname, n_rows::BIGINT AS n_rows,
                n_distinct::BIGINT AS n_distinct, plain_bytes, n_runs,
                rle_bytes, dict_bytes,
                CASE WHEN plain_bytes <= dict_bytes
                      AND plain_bytes <= rle_bytes THEN 'plain'
                     WHEN dict_bytes <= rle_bytes THEN 'dict'
                     ELSE 'rle' END AS rec_encoding
         FROM sized""",
    "q315_global_dict" ->
      """SELECT v, (row_number() OVER (ORDER BY v) - 1)::BIGINT AS id
         FROM (SELECT DISTINCT l_shipdate::DATE::VARCHAR AS v
               FROM lineitem)"""
  )
}
