package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 optimization covers: the guarded bounded-metadata collects
  * (VERDICT r13 #4) and the epoch-batched ConnectedComponents
  * convergence check (VERDICT r13 #6).
  */
class BoundedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("collectCapped returns every row under the cap") {
    val rows = Bounded.collectCapped(
      spark.range(10).toDF("id"), 16, "probe")
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("collectCapped fails loudly on an over-cap input instead of " +
      "collecting it") {
    val e = intercept[IllegalArgumentException] {
      Bounded.collectCapped(spark.range(100).toDF("id"), 16,
        "over-cap fixed-point input")
    }
    assert(e.getMessage.contains("bounded-metadata cap"))
    assert(e.getMessage.contains("over-cap fixed-point input"))
  }

  test("collectBounded: Some under the cap, None (fallback signal) over") {
    assert(Bounded.collectBounded(spark.range(5).toDF("id"), 16)
      .map(_.length) == Some(5))
    assert(Bounded.collectBounded(spark.range(100).toDF("id"), 16).isEmpty)
  }

  test("q541 fails loudly, naming its domain, when the event-type " +
      "transition matrix outgrows the driver-side fixed point") {
    // 100 event types in a hashed order: ~8k distinct transitions, past
    // the 4096-row cap of the (≤|types|²) matrix
    val dir = Stage.scratchDir("bounded_q541")
    spark.range(20000).select((col("id") % 40).as("user_id"),
        timestamp_seconds(col("id")).as("ts"), col("id").as("event_id"),
        concat(lit("t"), pmod(hash(col("id")), lit(100))).as("event_type"))
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q541_markov_attribution")(spark, dir)
    }
    assert(e.getMessage.contains("q541 event-type transition matrix"))
    assert(e.getMessage.contains("bounded-metadata cap (4096 rows)"))
  }
}

class CcEpochSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Chain 0-1-…-9 (diameter 9) plus a 3-clique {100,101,102}: the
    * accumulator-fused convergence check (the changed-count rides
    * inside each round's checkpoint job instead of a separate count
    * job) must compute identical components and stop at the first
    * unchanged round — pointer jumping stays O(log diameter).
    */
  test("fused convergence check computes the same components") {
    import spark.implicits._
    val chain = (0L until 9L).map(i => (i, i + 1))
    val clique = Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val undirected = (chain ++ clique).flatMap {
      case (a, b) => Seq((a, b), (b, a)) }
    val edges = undirected.toDF("a_id", "b_id")
    val nodes = ((0L to 9L) ++ (100L to 102L)).toDF("id")
    val got = operators.ConnectedComponents.run(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((0L to 9L).map(_ -> 0L) ++
      (100L to 102L).map(_ -> 100L)).toMap
    assert(got == want)
    // pointer jumping stays O(log diameter): the 10-chain must not
    // regress toward one round per hop, and the loop stops at the
    // first unchanged round (no trailing idempotent rounds)
    assert(operators.ConnectedComponents.lastRounds >= 2)
    assert(operators.ConnectedComponents.lastRounds <= 8)
  }
}
