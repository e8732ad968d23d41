package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** private[sql]-access bridge for graft's Catalyst rules (SURVEY §4.3):
  * lets an optimizer rule rebuild a matched subplan with the public
  * DataFrame API and hand the resolved result back to the optimizer.
  * Lives in the org.apache.spark.sql package solely to satisfy the
  * `private[sql]` qualifier on `Dataset.ofRows`; contains no Spark code.
  */
object GraftSqlBridge {
  /** Wrap an analyzed logical plan as a DataFrame on `session`. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** `c` typed nullable: a column that no optimizer rule narrows back to
    * non-null (`ExpressionUtils` is private[sql]). */
  def nullable(c: Column): Column = classic.ExpressionUtils.column(
    catalyst.expressions.KnownNullable(classic.ExpressionUtils.expression(c)))

  /** The analyzed logical plan of a DataFrame (no optimization pass). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Wrap an InternalRow RDD as a STREAMING DataFrame — the V1 source
    * fallback for plans with no file relation to re-tag (empty ranges);
    * `internalCreateDataFrame` is private[sql]. */
  def streamingDataFrame(session: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The physical RDD of a batch DataFrame (private[sql] queryExecution
    * on the classic Dataset). */
  def toRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Re-tag a batch DataFrame's file relations as streaming — what a V1
    * Source's getBatch must return. This is FileStreamSource's OWN
    * pattern (`LogicalRelation(..., isStreaming = true)`): because the
    * plan stays a logical file relation (never a pre-planned opaque RDD),
    * the engine's per-micro-batch optimization still pushes the query's
    * filters and projections into the parquet scan. Plans with no file
    * relation (empty ranges) fall back to a streaming-tagged empty RDD. */
  def asStreaming(session: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = analyzed(df).transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    if (plan.isStreaming) ofRows(session, plan)
    else streamingDataFrame(session, toRdd(df), df.schema)
  }
}
