package graft.jobs

import graft.format.DriverIO
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** A small append laid out and written on the driver, with no write job.
  *
  * [[AppendJob]]'s job path range-partitions the batch into `nFiles`
  * files by its layout keys: a sample job computes the bounds, a shuffle
  * moves the rows, and a write job writes each partition. For an input
  * of one partition, Spark's range sample holds every row while the
  * batch has at most [[sampleBound]] rows, and its bounds are then
  * exact. Here one collect brings the rows and their keys to the driver,
  * Spark's own `determineBounds` and tie rule place each row in a file,
  * and Spark's Parquet writer writes the files in this JVM
  * ([[DriverIO.write]]). A file keeps its rows in input
  * order, as the shuffle from one map task does, or in a stable sort by
  * the keys, as `sortWithinPartitions` does. So the files have the rows,
  * order, stats and bytes the job path writes.
  */
object LocalAppend {

  /** The most rows Spark's range sample over `nFiles` partitions holds
    * from an input of one partition: its per-partition reservoir size
    * (`RangePartitioner`). */
  def sampleBound(sampleSizePerPartition: Int, nFiles: Int): Long =
    math.ceil(3.0 * math.min(sampleSizePerPartition.toDouble * nFiles, 1e6)).toLong

  /** Writes `aligned` into `dir` as `nFiles` range files by `keys` (each
    * sorted by `keys` when `sorted`), as the job path would. Returns false,
    * having written nothing, when the batch does not qualify: its estimate
    * is over [[DriverIO.Cap]], its plan shuffles or has more than one
    * input partition, or it is empty, larger than the range sample or
    * collects over [[DriverIO.Cap]]. */
  def write(aligned: DataFrame, keys: Seq[Column], sorted: Boolean, nFiles: Int,
      dir: String): Boolean = {
    val spark = aligned.sparkSession
    if (aligned.queryExecution.optimizedPlan.stats.sizeInBytes > DriverIO.Cap) return false
    val plan = aligned.select(col("*") +: keys: _*).queryExecution.executedPlan
    // a plan that shuffles keeps the job path: an adaptive plan would run
    // its shuffle stages on execute(), and may still end in several
    // partitions
    if (plan.isInstanceOf[AdaptiveSparkPlanExec] || plan.exists(_.isInstanceOf[Exchange])) return false
    val input = plan.execute()
    if (input.getNumPartitions != 1) return false
    val bound = sampleBound(spark.sessionState.conf.rangeExchangeSampleSizePerPartition, nFiles)
    // one more row than the sample holds is enough to refuse the batch
    val rows = collectCapped(input, if (nFiles > 1) bound + 1 else Long.MaxValue) match {
      case Some(r) => r
      case None => return false
    }
    if (rows.isEmpty || (nFiles > 1 && rows.length > bound)) return false

    val n = plan.output.size - keys.size
    val refs = plan.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    }
    val keyRefs = refs.drop(n).map(r => r.copy(ordinal = r.ordinal - n))
    // the key rows and the ordering of a range exchange's sampler
    val keyOf = UnsafeProjection.create(refs.drop(n))
    val ordering = new LazilyGeneratedOrdering(keyRefs.map(SortOrder(_, Ascending)))
    val keyed: Array[InternalRow] = rows.map(r => keyOf(r).copy())
    val bounds =
      if (nFiles <= 1) Array.empty[InternalRow]
      else GraftBridge.rangeBounds(ArrayBuffer.from(keyed.map(_ -> 1.0f)),
        math.min(nFiles, keyed.length), ordering)

    val files = Array.fill(nFiles)(ArrayBuffer.empty[Int])
    keyed.indices.foreach(i => files(partition(keyed(i), bounds, ordering)) += i)
    val data = UnsafeProjection.create(refs.take(n))
    val laidOut = files.indices.filter(files(_).nonEmpty).map { p =>
      val order = if (sorted) files(p).sortBy(keyed(_))(ordering) else files(p)
      p -> order.iterator.map(i => data(rows(i)))
    }
    DriverIO.write(spark, DataTypeUtils.fromAttributes(plan.output.take(n)),
      dir, laidOut)
    true
  }

  /** At most `limit` rows of the one partition of `input`, in order, or
    * None once their bytes pass [[DriverIO.Cap]]: the task stops
    * there, so the driver never receives more. */
  private def collectCapped(input: RDD[InternalRow], limit: Long): Option[Array[InternalRow]] = {
    input.sparkContext.runJob(input, (it: Iterator[InternalRow]) => {
      val rows = ArrayBuffer.empty[InternalRow]
      var bytes = 0L
      while (bytes <= DriverIO.Cap && rows.length < limit && it.hasNext) {
        val r = it.next().asInstanceOf[UnsafeRow].copy()
        bytes += r.getSizeInBytes
        rows += r
      }
      if (bytes > DriverIO.Cap) None else Some(rows.toArray)
    }).head
  }

  /** `RangePartitioner.getPartition`: the number of bounds below `key`. */
  private def partition(key: InternalRow, bounds: Array[InternalRow],
      ordering: Ordering[InternalRow]): Int = {
    var (lo, hi) = (0, bounds.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ordering.gt(key, bounds(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }
}
