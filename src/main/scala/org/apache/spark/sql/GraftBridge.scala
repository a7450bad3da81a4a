package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Public bridge to the `private[sql]` Column <-> Expression converters
  * (the standard technique third-party Spark extensions use to expose
  * custom Catalyst expressions as user-facing Columns on Spark 4.x).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The schema with every field (nested ones too) nullable — what
    * Spark's own file sources declare for a user-given read schema. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** DataFrame over a custom relation plan (private[sql] Dataset.ofRows);
    * used to expose the qtable's stats-skipping FileIndex as a plain
    * declarative DataFrame. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Rebatch a V1 streaming Sink's addBatch DataFrame: its logical plan
    * is streaming-tagged, so ordinary transformations on it re-analyze
    * and fail ("streaming sources must be executed with
    * writeStream.start()"). The standard sink pattern: run the already-
    * planned query once via toRdd and wrap the InternalRows as a plain
    * batch DataFrame (no driver materialization — rows stay
    * distributed; the copy detaches rows from codegen's reused
    * buffers). */
  /** Tag a batch DataFrame's rows as a STREAMING frame — what a V1
    * streaming Source's getBatch must return (MicroBatchExecution
    * splices the plan under the streaming execution). The row copy
    * detaches from codegen's reused buffers, as in [[rebatch]]. */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = true)
  }

  def rebatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = false)
  }
}
