package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{UserDefinedAggregator, UserDefinedFunction}

/** The `private[sql]` doorways the graft library needs, and nothing else
  * from the internal surface:
  *
  *  - [[ofRows]] wraps a hand-built [[LogicalPlan]] (graft's custom
  *    operators, e.g. `graft.plans.AsOfJoin`) back into a public DataFrame.
  *    Spark exposes no public constructor for this; `classic.Dataset.ofRows`
  *    is the internal entry point every extension library shims like this.
  *  - [[scalaAggregator]] turns a typed `udaf(Aggregator)` into the Catalyst
  *    aggregate Spark's UDF registration builds for it, so
  *    `graft.plans.GraftExtensions` can inject it as a SQL function.
  *  - [[activeContext]] is the running SparkContext, if any, without
  *    starting one, for `GraftExtensions`' filesystem install.
  */
object GraftSqlBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def scalaAggregator(udaf: UserDefinedFunction, children: Seq[Expression]): Expression =
    ScalaAggregator(udaf.asInstanceOf[UserDefinedAggregator[_, _, _]], children)

  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive
}
