package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Native broadcast range (point-in-interval) join — the second full
  * custom-operator ladder next to [[AsOfJoinPlan]] (SURVEY §2 "as-of /
  * interval join"; the bucket-exploded equi-join formulation lives in
  * [[graft.ops.IntervalJoin]] and stays the oracle-anchored reference).
  *
  * Why: Spark plans `p.ts >= i.start AND p.ts < i.end` as a
  * BroadcastNestedLoopJoin — every fact row scans EVERY interval, O(|facts|
  * · |intervals|). When the interval side fits a broadcast (calendars,
  * campaign windows, maintenance periods — the common case), the right
  * structure is the one every range-join engine builds: intervals sorted
  * by start with a RUNNING MAX of end, probed per fact row by binary
  * search (last start ≤ p) + a walk-back that stops as soon as the prefix
  * max end drops to ≤ p — O(log n + matches) per row instead of O(n).
  * The bucket-exploded form remains the shuffle-based answer when the
  * interval side itself is data-sized.
  *
  * Semantics: INNER join on half-open containment start ≤ p < end (the
  * IntervalJoin contract). NULL point/bound values never match. Bound
  * expressions must be long-backed (LongType / TimestampType / NTZ —
  * micros under the hood), which covers every time/sequence domain the
  * engine uses.
  */
case class BroadcastRangeJoin(
    left: LogicalPlan, right: LogicalPlan,
    point: Expression, start: Expression, end: Expression)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BroadcastRangeJoin =
    copy(left = newLeft, right = newRight)
}

object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BroadcastRangeJoin(l, r, p, s, e) =>
      BroadcastRangeJoinExec(p, s, e, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class BroadcastRangeJoinExec(
    point: Expression, start: Expression, end: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  private def longBacked(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false
  }
  require(Seq(point, start, end).forall(e => longBacked(e.dataType)),
    "range join bounds must be long-backed (long/timestamp)")

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numProbes" -> SQLMetrics.createMetric(sparkContext,
      "number of probed rows"))

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastRangeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val numProbes = longMetric("numProbes")
    val lOut = left.output
    val rOut = right.output
    val p = point; val s = start; val e = end
    val broadcastRel = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      // per-partition index build over the broadcast interval table:
      // rows sorted by start, plus the prefix running-max of end — the
      // walk-back stop condition (≤ a few hundred intervals, built once)
      val sBound = BindReferences.bindReference(s, rOut)
      val eBound = BindReferences.bindReference(e, rOut)
      val rows = broadcastRel.value.flatMap { r =>
        val sv = sBound.eval(r); val ev = eBound.eval(r)
        if (sv == null || ev == null) None
        else Some((sv.asInstanceOf[Long], ev.asInstanceOf[Long], r))
      }.sortBy(t => (t._1, t._2))
      val starts = rows.map(_._1)
      val maxEndPrefix = new Array[Long](rows.length)
      var i = 0; var mx = Long.MinValue
      while (i < rows.length) {
        if (rows(i)._2 > mx) mx = rows(i)._2
        maxEndPrefix(i) = mx
        i += 1
      }
      val pBound = BindReferences.bindReference(p, lOut)
      val outProj = UnsafeProjection.create(output, lOut ++ rOut)
      val joined = new JoinedRow
      lIter.flatMap { lRow =>
        numProbes += 1
        val pv = pBound.eval(lRow)
        if (pv == null || rows.isEmpty) Iterator.empty
        else {
          val pl = pv.asInstanceOf[Long]
          // binary search: hi = last index with start <= pl
          var lo = 0; var hiEx = rows.length
          while (lo < hiEx) {
            val mid = (lo + hiEx) >>> 1
            if (starts(mid) <= pl) lo = mid + 1 else hiEx = mid
          }
          var idx = lo - 1
          val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          while (idx >= 0 && maxEndPrefix(idx) > pl) {
            val (_, ev2, rRow) = rows(idx)
            if (ev2 > pl) {
              numOut += 1
              buf += outProj(joined(lRow, rRow)).copy()
            }
            idx -= 1
          }
          buf.iterator
        }
      }
    }
  }
}

/** Public construction API for the native range join. */
object RangeNative {

  /** Join each `points` row to every `intervals` row whose half-open
    * [startCol, endCol) contains pointCol. The interval side is
    * broadcast — use [[graft.ops.IntervalJoin]] when it is data-sized.
    * Sides must not share attribute ids. */
  def joinRangeNative(points: DataFrame, intervals: DataFrame,
                      pointCol: String, startCol: String,
                      endCol: String): DataFrame = {
    val spark = points.sparkSession
    val lp = points.queryExecution.analyzed
    val rp = intervals.queryExecution.analyzed
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      "range-join sides share attribute ids; re-read one side from source")
    def attr(pl: LogicalPlan, n: String): Attribute =
      pl.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    GraftSqlBridge.ofRows(spark, BroadcastRangeJoin(lp, rp,
      attr(lp, pointCol), attr(rp, startCol), attr(rp, endCol)))
  }
}
