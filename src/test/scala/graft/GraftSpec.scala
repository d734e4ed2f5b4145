package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixture helpers for all specs. */
object SparkTestSession {
  lazy val spark: SparkSession =
    LocalSession("4", extra = Map("spark.app.name" -> "graft-test"))
}

class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("the registered inventory stays at the same 580 names") {
    // A mistyped oracle key would add a query; a deleted body with no
    // oracle text would drop one. The digest is the MD5 of the sorted
    // names joined by newlines.
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 580)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(md5 == "bc14f1fedcec1171530470f99480003c")
  }

  test("all queries execute and return non-empty results at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }
}

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import graft.functions.GraftFunctions._

  test("jarowinkler_similarity matches published values") {
    import spark.implicits._
    val df = Seq(
      ("MARTHA", "MARHTA"),   // 0.9611 -> 96
      ("DIXON", "DICKSONX"),  // 0.8133 -> 81
      ("abc", "abc"),         // 1.0    -> 100
      ("abc", "xyz")          // 0.0    -> 0
    ).toDF("a", "b")
    val got = df.select(jarowinkler_similarity(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(96, 81, 100, 0))
  }

  test("truncate_num chops toward zero") {
    import spark.implicits._
    val got = Seq((3.789, -3.789)).toDF("p", "n")
      .select(truncate_num(col("p"), 1), truncate_num(col("n"), 1))
      .collect().head
    assert(got.getDouble(0) == 3.7 && got.getDouble(1) == -3.7)
  }

  test("dot_product and cosine_similarity") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      dot_product(col("a"), col("b")),
      cosine_similarity(col("a"), col("a"))).collect().head
    assert(r.getDouble(0) == 8.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("quarterday buckets hours into 1..4") {
    import spark.implicits._
    val df = Seq("2024-01-01 00:30:00", "2024-01-01 06:30:00",
      "2024-01-01 12:30:00", "2024-01-01 23:30:00")
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    val got = df.select(quarterday(col("ts"))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(1, 2, 3, 4))
  }
}

/** Planted-duplicate fixtures: the dedup operators must find what we
  * planted and nothing else (exact + near-dup with one word changed).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    val d = Stage.scratchDir("graft_dedup")
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val near = base.replaceFirst("quick", "speedy")
    val docs = Seq(
      (0L, base, "en", "s", base.length.toLong),
      (1L, base, "en", "s", base.length.toLong),          // exact dup of 0
      (2L, near, "en", "s", near.length.toLong),          // near dup of 0
      (3L, "completely different content about spark catalyst optimizer rules and distributed shuffles in large clusters", "en", "s", 100L),
      (4L, "another unrelated document mentioning minhash banding and locality sensitive hashing for web scale corpora", "en", "s", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("exact dedup groups identical texts") {
    val dup = q("q40_dedup_exact").filter(col("n_copies") > 1).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("keep_id") == 0L)
    assert(dup.head.getAs[Long]("n_copies") == 2L)
  }

  test("ngram jaccard links exact and near duplicates") {
    val m = q("q41_dedup_ngram_jaccard").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    assert(m(1L) == 0L, s"exact dup not linked: $m")
    assert(m(2L) == 0L, s"near dup not linked: $m")
    assert(m(3L) == 3L && m(4L) == 4L, s"false positive: $m")
  }

  test("minhash lsh surfaces candidates for the planted cluster only") {
    val m = q("q42_dedup_minhash_lsh").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("rep_id"))).toMap
    assert(m(1L)._1 > 0 && m(1L)._2 == 0L)
    assert(m(2L)._1 > 0 && m(2L)._2 == 0L)
    assert(m(3L)._1 == 0 && m(4L)._1 == 0)
  }

  test("simhash: identical texts agree, near texts within 8 bits") {
    val m = q("q43_dedup_simhash").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(m(0L) == m(1L))
    val hamming = java.lang.Long.bitCount(m(0L) ^ m(2L))
    assert(hamming <= 8, s"near-dup hamming distance $hamming")
    val far = java.lang.Long.bitCount(m(0L) ^ m(3L))
    assert(far > 8, s"unrelated docs too close: $far")
  }

  test("hot LSH buckets are capped but stay fully linked via star pairs") {
    // 20 identical docs exceed HOT_BUCKET_CAP=16 in every (band,bucket):
    // the capped path must still link every copy to the representative.
    val d = Stage.scratchDir("graft_hot")
    import spark.implicits._
    val boiler = "standard web crawl boilerplate footer text " * 10
    val docs = (0L until 20L).map(i => (i, boiler, "en", "s", 100L)) ++
      Seq((20L, "a completely unrelated single document about catalyst",
        "en", "s", 50L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = SparkEntry.queries("q42_dedup_minhash_lsh")(spark, d)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("rep_id"))).toMap
    (1L until 20L).foreach { i =>
      assert(m(i)._1 > 0 && m(i)._2 == 0L, s"doc $i not linked: ${m(i)}")
    }
    assert(m(20L)._1 == 0L, s"unrelated doc gained candidates: ${m(20L)}")
  }

  test("langid marks english text as en") {
    val m = q("q45_langid").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred"))
      .toMap
    assert(m(0L) == "en")
  }
}
