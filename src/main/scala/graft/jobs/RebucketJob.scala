package graft.jobs

import graft.format.QTable
import graft.model._
import org.apache.spark.sql.functions._

/** Partition-spec evolution: rewrite the table into a different hash
  * bucket count (Iceberg's spec-evolution analogue for the qtable's
  * single `bucket(image_id, B)` transform). Needed when a table outgrows
  * its creation-time bucket count — at 10^12 images a 32-bucket layout
  * would make every maintenance group multi-TB.
  *
  * One exact-bin shuffle moves every row to its (new bucket, sub-file)
  * partition — sub-files split each new bucket into ~targetFileBytes
  * outputs by a second hash, so file sizes stay right without a
  * sampling pass. Rows inside each output are sorted by phash so the
  * rewritten manifests carry tight ranges for pruning.
  *
  * Unlike compact/cluster this is inherently a whole-table rewrite with
  * one global shuffle, so lineage is a single group: resume of a killed
  * run restarts the write in a fresh attempt directory (the killed
  * attempt's files are orphans), and the commit is still atomic +
  * conflict-checked.
  */
class RebucketJob(
    table: QTable,
    newBuckets: Int,
    targetFileBytes: Long = 128L << 20,
    jobId: String = java.util.UUID.randomUUID().toString) {

  def run(): Snapshot = {
    require(newBuckets >= 1, "newBuckets must be >= 1")
    val snap = table.currentSnapshot
    require(newBuckets != snap.buckets,
      s"table already has ${snap.buckets} buckets")
    val entries = table.entries(snap)
    if (entries.isEmpty)
      return table.commit(Some(snap), "rebucket", Nil,
        Map("job-id" -> jobId, "buckets-before" -> snap.buckets.toString),
        bucketsOverride = Some(newBuckets))

    val totalBytes = entries.map(_.byteCount).sum
    val subPerBucket = math.max(1,
      math.round(totalBytes.toDouble / newBuckets / targetFileBytes).toInt)
    val nOut = newBuckets * subPerBucket

    // one group: the whole table, read and replaced
    val all = RewriteGroup("all", entries)
    val rewrite = new GroupRewrite(table, snap, jobId, "rebucket")
    val outputs = rewrite.run(Seq(all), concurrency = 1) { _ =>
      val bucket = JobPlanning.bucketOf(newBuckets)
      val sub = pmod(xxhash64(col("image_id"), lit("sub")), lit(subPerBucket.toLong)).cast("int")
      // decorated whole-table read: the rewrite folds every live
      // position and equality delete (the commit keeps none, no file
      // survives) and bakes initial defaults in (see CompactJob)
      val df = table.readEntriesForRewrite(snap, entries)
        .withColumn("pbucket", bucket)
      // day-partitioned tables re-bin on (day, newBucket, sub) so the
      // spec-evolution rewrite PRESERVES day isolation (JobPlanning
      // .dayBins — one column-pruned span pass, trivial next to the
      // full rewrite rebucket already is)
      val laid = graft.format.DayPartition.fieldOf(snap)
        .flatMap(f => JobPlanning.dayBins(df, f, newBuckets, subPerBucket))
        .map(_.sortWithinPartitions("pbucket", "phash"))
        .getOrElse(
          ExactShuffle.repartitionByBin(
            df.withColumn("__bin", col("pbucket") * subPerBucket + sub),
            nOut, col("__bin"))
            .drop("__bin")
            .sortWithinPartitions("pbucket", "phash"))
      JobPlanning.alignToPhysical(laid, snap)
    }
    rewrite.commit(Seq(all), outputs, Map(
      "buckets-before" -> snap.buckets.toString,
      "bytes-rewritten" -> totalBytes.toString),
      bucketsOverride = Some(newBuckets))
  }
}
