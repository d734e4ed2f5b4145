package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Abs, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, PredicateHelper, Subtract}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.DoubleType
import graft.functions.STDistance

/** Optimizer rule: rewrite `a JOIN b ON st_distance(pa, pb) < r` (the
  * plan Catalyst can only execute as an O(n·m) BroadcastNestedLoopJoin)
  * into the bucketed range join — quantize both point columns to an
  * r-sized grid, replicate the probe side to its 3×3 neighbor cells,
  * equi-join on the cell id, then apply the exact distance predicate.
  *
  * This is the Spark-native analog of the reference's automatic range-
  * join acceleration (`QueryEngine/JoinHashTable/RangeJoinHashTable.cpp`
  * in /root/reference — built when the compiler recognizes
  * `ST_Distance(a,b) < r` join quals). Correctness: every pair within r
  * shares some neighbor cell (cell size = r), so candidates are a
  * superset and the exact filter finishes the job. At scale this turns
  * an un-shuffleable nested loop into a shuffled equi-join: O(matches),
  * both sides stream, AQE handles cell skew.
  *
  * The rewritten subtree is built with the DataFrame API over the join's
  * children (attribute ids of pass-through columns are preserved), then
  * projected back to the join's exact output attributes — so the parent
  * plan resolves unchanged.
  */
case class GeoRangeJoinRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), _)
        if !hasEquiKey(cond, l, r) =>
      // Only joins with NO equi-key qualify: with one, Catalyst already
      // plans a hash join and bucketing again would stack a redundant
      // 9× replication on top (e.g. a manually-bucketed grid join whose
      // exact distance filter got pushed into the join condition).
      val conjuncts = splitConjunctivePredicates(cond)
      // 2-D: st_distance(a, b) < r, in any orientation (mirrored
      // comparisons like `0.5 > st_distance(a, b)` included), with any
      // foldable positive radius (double/int literals, foldable
      // arithmetic — all evaluated here, matching the reference's
      // constant-folded range qual).
      val geoHit = conjuncts.collectFirst {
        case LessThan(d: STDistance, r) if radiusOf(r).isDefined =>
          (d, radiusOf(r).get)
        case LessThanOrEqual(d: STDistance, r) if radiusOf(r).isDefined =>
          (d, radiusOf(r).get)
        case GreaterThan(r, d: STDistance) if radiusOf(r).isDefined =>
          (d, radiusOf(r).get)
        case GreaterThanOrEqual(r, d: STDistance)
            if radiusOf(r).isDefined => (d, radiusOf(r).get)
      }
      // 1-D: abs(x - y) < r — the numeric interval join
      // (`RangeJoinHashTable.cpp` handles both the same way).
      val numHit = conjuncts.collectFirst {
        case LessThan(Abs(Subtract(x, y, _), _), r)
            if radiusOf(r).isDefined => (x, y, radiusOf(r).get)
        case LessThanOrEqual(Abs(Subtract(x, y, _), _), r)
            if radiusOf(r).isDefined => (x, y, radiusOf(r).get)
        case GreaterThan(r, Abs(Subtract(x, y, _), _))
            if radiusOf(r).isDefined => (x, y, radiusOf(r).get)
        case GreaterThanOrEqual(r, Abs(Subtract(x, y, _), _))
            if radiusOf(r).isDefined => (x, y, radiusOf(r).get)
      }
      geoHit.flatMap { case (d, rad) =>
        rewrite(j, l, r, d.left, d.right, rad, twoD = true)
      }.orElse(numHit.flatMap { case (x, y, rad) =>
        rewrite(j, l, r, x, y, rad, twoD = false)
      }).getOrElse(j)
  }

  /** Positive radius from any foldable numeric expression (a double or
    * integer literal, or foldable arithmetic the optimizer has not yet
    * collapsed — the rule runs in extraOptimizations, but pre-folded
    * shapes from programmatic plan construction must still match).
    */
  private def radiusOf(e: Expression): Option[Double] =
    if (!e.foldable) None
    else scala.util.Try(Cast(e, DoubleType).eval(null)).toOption match {
      case Some(d: Double) if d > 0 => Some(d)
      case _ => None
    }

  private def hasEquiKey(cond: Expression, l: LogicalPlan,
      r: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(x, y) =>
        (x.references.subsetOf(l.outputSet) &&
          y.references.subsetOf(r.outputSet)) ||
          (y.references.subsetOf(l.outputSet) &&
            x.references.subsetOf(r.outputSet))
      case _ => false
    }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
      da: Expression, db: Expression, rad: Double, twoD: Boolean)
      : Option[LogicalPlan] = {
    // Orient the operands to the join sides.
    val oriented =
      if (da.references.subsetOf(l.outputSet) &&
        db.references.subsetOf(r.outputSet)) Some((da, db))
      else if (db.references.subsetOf(l.outputSet) &&
        da.references.subsetOf(r.outputSet)) Some((db, da))
      else None
    oriented.map { case (pl, pr) =>
      def cellOf(p: Column): Column =
        if (twoD)
          struct(floor(p.getField("x") / rad).cast("long").as("cx"),
            floor(p.getField("y") / rad).cast("long").as("cy"))
        else
          struct(floor(p.cast("double") / rad).cast("long").as("cx"),
            lit(0L).as("cy"))
      val offs = if (twoD) -1 to 1 else 0 to 0
      val lDf = DatasetBridge.ofRows(spark, l)
        .withColumn("__gcell", cellOf(ColumnBridge.column(pl)))
      val offsets = array((-1 to 1).flatMap(dx => offs.map(dy =>
        struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
      val rDf = DatasetBridge.ofRows(spark, r)
        .withColumn("__gcell0", cellOf(ColumnBridge.column(pr)))
        .withColumn("__go", explode(offsets))
        .withColumn("__gcell", struct(
          (col("__gcell0.cx") + col("__go.dx")).as("cx"),
          (col("__gcell0.cy") + col("__go.dy")).as("cy")))
        .drop("__gcell0", "__go")
      // The full original condition re-applies exactly (the banded
      // equi-join only generates a candidate superset).
      val exactCond = splitConjunctivePredicates(j.condition.get)
        .map(ColumnBridge.column)
        .reduce(_ && _)
      val joined = lDf.join(rDf, "__gcell").filter(exactCond)
      // Project back to the join's exact output attributes (ids kept).
      val out = joined.select(
        j.output.map(a => ColumnBridge.column(a.asInstanceOf[Attribute])):
          _*)
      out.queryExecution.analyzed
    }
  }
}
