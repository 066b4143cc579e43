package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SessionState

/** Bridge into `private[sql]` session internals (same convention as
  * [[GraftColumnBridge]]).
  *
  * `reRoot` moves a DataFrame between two sessions that share one
  * SparkContext (e.g. the contraction loop's tuned child session and its
  * caller) WITHOUT the public-Row round trip: `createDataFrame(df.rdd, …)`
  * deserializes every InternalRow to an external Row and back, a full extra
  * pass over the data in each direction. The physical `InternalRow` RDD is
  * already context-scoped (sessions only own plans/confs, never data), so it
  * can be handed to the target session's planner as-is.
  *
  * `sessionState` and `ofRows` let a driver-side reader decode with the
  * session's own SQL and Hadoop configuration and hand its rows to the
  * planner as a logical plan (a `LocalRelation`), without converting them
  * to external Rows and back.
  */
object GraftSessionBridge {
  def reRoot(target: SparkSession, df: DataFrame): DataFrame = {
    val t = target.asInstanceOf[classic.SparkSession]
    val d = df.asInstanceOf[classic.Dataset[Row]]
    t.internalCreateDataFrame(d.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  def sessionState(spark: SparkSession): SessionState =
    spark.asInstanceOf[classic.SparkSession].sessionState

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
