package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable.ArrayBuffer

/** Public bridge to the `private[sql]` Column <-> Expression converters
  * (the standard technique third-party Spark extensions use to expose
  * custom Catalyst expressions as user-facing Columns on Spark 4.x),
  * and to the `private[spark]` pieces of Spark's own write path that
  * the driver append reuses.
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

  /** Spark's range-partition bounds (`RangePartitioner.determineBounds`)
    * over weighted candidate keys: at most `partitions - 1` bounds. */
  def rangeBounds(candidates: ArrayBuffer[(InternalRow, Float)], partitions: Int,
      ordering: Ordering[InternalRow]): Array[InternalRow] =
    org.apache.spark.RangePartitioner.determineBounds(candidates, partitions)(
      ordering, scala.reflect.classTag[InternalRow])

  /** The error a write with the `ErrorIfExists` save mode raises when its
    * output path exists. */
  def outputPathExists(path: Path): Throwable =
    errors.QueryCompilationErrors.outputPathAlreadyExistsError(path)

  /** Writes `df` into the new directory `dir` as
    * `df.write.options(options).parquet(dir)` does: a fresh plan of the
    * frame, one SQL execution, the session's committer class, file names,
    * `_SUCCESS` marker and `ErrorIfExists` refusal, through Spark's own
    * `FileFormatWriter`.
    * The one difference: the job and its stats tracker carry `hadoopConf`,
    * which every write task deserializes, where the save command builds
    * the session's full Hadoop conf with `options`. */
  def writeParquet(df: DataFrame, dir: String, options: Map[String, String],
      hadoopConf: Configuration): Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val out = new Path(dir)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(qualified)) throw outputPathExists(qualified)
    val qe = spark.sessionState.executePlan(df.queryExecution.analyzed)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val committer = FileCommitProtocol.instantiate(
        spark.sessionState.conf.fileCommitProtocolClass,
        jobId = java.util.UUID.randomUUID().toString,
        outputPath = qualified.toString)
      FileFormatWriter.write(spark, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, qe.optimizedPlan.output),
        hadoopConf, partitionColumns = Nil, bucketSpec = None,
        statsTrackers = Seq(new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics)),
        options = options + ("path" -> dir))
    }
  }
}
