package graft.jobs

import graft.format.QTable
import graft.model.{ImageRow, Snapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Append rows to a qtable as a new snapshot.
  *
  * The bucket partition column is `pbucket` ([[JobPlanning.bucketOf]])
  * — an Iceberg-style hash-bucket transform, derived (never user-set) so
  * it can always be recomputed from the key. `filesPerBucket` controls
  * initial file granularity; tests deliberately write MANY small files so
  * the maintenance jobs have real work (FIXTURES.md §1).
  *
  * A batch is range-partitioned into `buckets x filesPerBucket` files.
  * A small batch of one input partition is laid out and written on the
  * driver ([[LocalAppend]]), with no Spark job but the collect; the
  * files are the ones the range shuffle and write job would write.
  *
  * `write.sort-on-append = true` (Iceberg `write.sort-order` analogue):
  * each batch is range-partitioned and sorted WITHIN the batch by the
  * table's sort key — the `sort.order` columns lexicographically, or the
  * north-rule image zkey — so appended files land with tight,
  * near-disjoint key ranges instead of id-slices. The steady-state
  * payoff is amortized clustering: per-file stats prune immediately and
  * an incremental cluster run has less to re-sort. A batch sort can
  * never replace clustering ACROSS batches (each batch spans the key
  * domain), which is exactly the LSM shape `cluster --incremental`
  * merges.
  */
object AppendJob {

  /** The batch sort key under `write.sort-on-append`: the `sort.order`
    * columns lexicographically, or the north-rule image zkey. */
  private def sortKeys(snap: Snapshot): Seq[org.apache.spark.sql.Column] = {
    val byName = snap.schemaFields.map(f => f.name -> f.phys).toMap
    snap.props.get("sort.order")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty) match {
      case Some(cs) => cs.map(c => col(byName.getOrElse(c,
        throw new IllegalArgumentException(s"sort.order names unknown column $c"))))
      case None => Seq(graft.expr.zfunctions.imageZKey(
        col("phash"), col("w"), col("h"), col("image_id"), hilbert = false))
    }
  }

  def append(table: QTable, rows: DataFrame, filesPerBucket: Int = 1,
      jobId: String = java.util.UUID.randomUUID().toString): Snapshot =
    write(table, rows, filesPerBucket, jobId, onDriver = true)

  /** [[append]], with the driver path ([[LocalAppend]]) allowed or not:
    * both write the same files. */
  private[graft] def write(table: QTable, rows: DataFrame, filesPerBucket: Int,
      jobId: String, onDriver: Boolean): Snapshot = {
    val snap = table.currentSnapshot
    val b = snap.buckets
    val dir = table.newDataDir(jobId, "append")
    val nFiles = math.max(1, b * filesPerBucket)
    val aligned = JobPlanning.alignToPhysical(
      rows.withColumn("pbucket", JobPlanning.bucketOf(b)),
      snap)
    // CHECK constraints veto the batch before any write (streaming
    // ingest and SQL INSERT route through here, so they are covered)
    Constraints.enforce(Constraints.logicalView(aligned, snap), snap, "append")
    val sortOn = snap.props.get("write.sort-on-append").contains("true")
    // range files on (pbucket, image_id), or on pbucket and the sort
    // key: a file holds a contiguous key range, so it may straddle two
    // buckets where a bucket splits across files
    val keys =
      if (sortOn) col("pbucket") +: sortKeys(snap) else Seq(col("pbucket"), col("image_id"))
    graft.format.DayPartition.fieldOf(snap) match {
      case Some(f) =>
        // days(ts) spec: EXACT-bin the batch on (day, bucket, subfile)
        // so no output file ever straddles a day — that per-file
        // invariant is what makes the column's min/max stats prune
        // date-range scans to O(days touched). Cost model is Iceberg's
        // fanout writer: a batch spanning D days writes >= D x B files
        // (bounded; a months-long backfill splits into batches). One
        // extra column-pruned pass computes the batch's day span
        // (JobPlanning.dayBins — shared with the merge/update/upsert
        // writers so no job erodes the date layout).
        val laidOut = JobPlanning.dayBins(aligned, f, b, filesPerBucket) match {
          case None =>
            // all-null partition source: no day to isolate, plain layout
            aligned.repartitionByRange(nFiles, col("pbucket"), col("image_id"))
          case Some(binned) =>
            // within a (day, bucket) cell, sort-on-append still applies;
            // otherwise sort by id so id stats stay tight per file
            if (sortOn) binned.sortWithinPartitions(sortKeys(snap): _*)
            else binned.sortWithinPartitions(col("image_id"))
        }
        graft.format.TableWrite.parquet(laidOut, dir)
      case None =>
        // a small one-partition batch is laid out and written on the
        // driver; anything else runs the range shuffle and a write job
        if (!(onDriver && LocalAppend.write(aligned, keys, sortOn, nFiles, dir))) {
          val ranged = aligned.repartitionByRange(nFiles, keys: _*)
          graft.format.TableWrite.parquet(
            if (sortOn) ranged.sortWithinPartitions(keys: _*) else ranged, dir)
        }
    }
    val files = table.harvest(dir)
    // append-only commit: parent manifests carried by reference, new files
    // land in fresh manifests — O(append) metadata, not O(table)
    table.commit(Some(snap), "append", files,
      Map("job-id" -> jobId, "appended-files" -> files.size.toString),
      reuseManifests = snap.manifests)
  }
}
