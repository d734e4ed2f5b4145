package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Scale proof-point runner (round-5 VERDICT item 7): measures the
  * dedup pair stages and transitive grouping at 1x / 10x / 80x the
  * fixture corpus, so the "sub-quadratic at 100 TB" design claims carry
  * a measured growth curve instead of an argument. Results are recorded
  * in SCALE.md.
  *
  * The synthetic expansion re-keys each copy and prefixes a copy token
  * to the text, so the corpus stays mostly-distinct (shifted shingles)
  * rather than degenerating into an all-duplicates cluster — the
  * worst realistic shape for the LSH pair stage.
  *
  * Usage: runMain graft.operators.Scale <sf0.01dir> <sf0.1dir>
  */
object Scale {

  private def corpus(s: SparkSession, d: String, mult: Int): DataFrame = {
    val base = t(s, d, "documents").select(col("doc_id"), col("text"))
    if (mult == 1) base
    else (0 until mult).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        (if (i == 0) col("text")
         else concat(lit(s"v$i "), col("text"))).as("text"))
    }.reduce(_ unionByName _)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val (sf001, sf01) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus)
    val only = sys.env.get("GRAFT_SCALE_ONLY")
    val scales = Seq(
      ("docs_500", sf001, 1),
      ("docs_5k", sf01, 1),
      ("docs_40k", sf01, 8))
      .filter { case (l, _, _) => only.forall(_ == l) }
    scales.foreach { case (label, d, mult) =>
      val docs = corpus(spark, d, mult).localCheckpoint()
      val nDocs = docs.count()
      val (nSh, tSh) = timed(Dedup.shinglesOf(docs).count())
      // The quadratic-risk stage: LSH candidate pairs + exact-jaccard
      // verification restricted to them.
      val (nPairs, tPairs) = timed(Dedup.jaccardPairsOf(docs).count())
      // Transitive closure over the verified edge set.
      val (nGroups, tGroups) = timed(
        Dedup.dedupGroupsOf(docs).filter(!col("is_canonical")).count())
      println(s"""{"scale":"$label","n_docs":$nDocs,"n_shingles":$nSh,""" +
        s""""t_shingles_s":${f"$tSh%.2f"},"n_verified_pairs":$nPairs,""" +
        s""""t_pairs_s":${f"$tPairs%.2f"},"n_dropped_dups":$nGroups,""" +
        s""""t_groups_s":${f"$tGroups%.2f"}}""")
    }
    // IVF ANN at 1x and 4x embeddings (500 -> 2000 vectors).
    Seq(("emb_500", sf001), ("emb_2k", sf01))
      .filter { case (l, _) => only.forall(_ == l) }
      .foreach { case (label, d) =>
      val (row, tIvf) = timed(
        AnnIvf.queries.toMap.apply("q99_ann_ivf")(spark, d).collect().head)
      println(s"""{"scale":"$label","t_ivf_s":${f"$tIvf%.2f"},""" +
        s""""sublinear_scan":${row.getAs[Boolean]("sublinear_scan")},""" +
        s""""recall_ok":${row.getAs[Boolean]("recall_ok")}}""")
    }
    spark.stop()
  }
}
