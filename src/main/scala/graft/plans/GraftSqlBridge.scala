package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedAggregator}

/** Minimal bridge into Spark's `private[sql]` surface, reachable only
  * from the `org.apache.spark.sql` namespace — the same pattern Spark
  * extension libraries use. Nothing else lives here. */
object GraftSqlBridge {
  /** A custom `LogicalPlan` as a `DataFrame` (`Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The aggregate expression of a typed `Aggregator` over `children` —
    * what `spark.udf.register(name, udaf(agg, enc))` builds, usable as
    * the builder of an injected SQL function. */
  def aggregate[IN, BUF, OUT](agg: Aggregator[IN, BUF, OUT],
      enc: Encoder[IN], children: Seq[Expression]): Expression =
    ScalaAggregator(UserDefinedAggregator(agg, enc), children)
}
