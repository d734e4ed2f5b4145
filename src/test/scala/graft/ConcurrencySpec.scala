package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent query execution on one shared session — the reference's
  * `Tests/ParallelExecutorsTest.cpp` analog. Spark sessions are
  * thread-safe; results under concurrency must equal the serial runs
  * (catches shared mutable state in the engine layer: view
  * registration, function registry, Ddl catalog).
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("12 concurrent queries on a shared session match serial results") {
    val qs = Seq("q03_agg_basic", "q07_join_star", "q14_string_funcs",
      "q18_window_rank", "q27_in_subquery", "q40_dedup_exact")
    val serial = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, sf).count()).toMap
    val futures = (1 to 2).flatMap(_ => qs).map { q =>
      Future(q -> SparkEntry.queries(q)(spark, sf).count())
    }
    val results = Await.result(Future.sequence(futures), 300.seconds)
    results.foreach { case (q, n) =>
      assert(n == serial(q), s"$q: concurrent=$n serial=${serial(q)}")
    }
  }

  test("concurrent DDL on distinct tables does not interleave state") {
    val eng = HeavyEngine(spark, sf)
    val futures = (1 to 4).map { i =>
      Future {
        val t = s"t_conc_$i"
        eng.sql(s"DROP TABLE IF EXISTS $t")
        eng.sql(s"CREATE TABLE $t AS SELECT $i AS k UNION ALL SELECT ${i * 10}")
        eng.sql(s"UPDATE $t SET k = k + 1")
        val s0 = eng.sql(s"SELECT sum(k) AS s FROM $t")
          .collect().head.getLong(0)
        eng.sql(s"DROP TABLE $t")
        (i, s0)
      }
    }
    Await.result(Future.sequence(futures), 300.seconds).foreach {
      case (i, s0) => assert(s0 == (i + 1) + (i * 10 + 1).toLong)
    }
  }

  test("concurrent first engine construction on a fresh session sets it " +
    "up once and before any SQL runs") {
    val fresh = spark.newSession()
    val go = new java.util.concurrent.CountDownLatch(1)
    val futures = (1 to 8).map { _ =>
      Future {
        go.await()
        HeavyEngine(fresh, sf).sql(
          """SELECT quarterday(TIMESTAMP '2024-05-01 13:00:00') AS qd,
                    st_area(st_geomfromtext(
                      'POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))')) AS area""")
          .collect().head
      }
    }
    go.countDown()
    Await.result(Future.sequence(futures), 300.seconds).foreach { r =>
      assert(r.getInt(0) == 3 && r.getDouble(1) == 2.0, s"row $r")
    }
    val rules = fresh.experimental.extraOptimizations
    assert(rules.count(_.isInstanceOf[plans.GeoRangeJoinRule]) == 1, rules)
    assert(rules.count(_.isInstanceOf[plans.MvRewrite.MvRewriteRule]) == 1,
      rules)
  }
}
