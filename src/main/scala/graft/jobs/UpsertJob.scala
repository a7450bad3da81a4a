package graft.jobs

import graft.format.QTable
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCAN-FREE whole-record UPSERT via equality deletes (Iceberg v2's
  * second delete flavor; the Flink/Iceberg streaming-writer shape).
  *
  * The MERGE paths — copy-on-write and even merge-on-read — must first
  * SCAN every candidate file to find the matched rows (CoW to rewrite
  * them, MOR to learn their (file, pos) addresses). At 10^12 rows a
  * per-batch candidate scan is the dominant cost of a streaming upsert
  * feed. This job writes instead:
  *
  *   1. one EQUALITY-delete file holding the batch's keys — killing
  *      every OLDER row of those keys by the sequence-number rule
  *      ([[EqDeleteFileEntry]]), without knowing (or reading) where
  *      they live;
  *   2. the batch's full rows as appended data files (delete-flagged
  *      rows contribute only their key);
  *   3. one append-style commit (parent manifests by reference).
  *
  * Total cost is O(batch) — no table read at all. The semantics are the
  * reference's own: deterministic-path last-writer-wins whole-record
  * replace (`eodhd_models.py:29-32`, SURVEY §2.2 K5) — which is why the
  * source must carry FULL rows (there is no old row on hand to patch, so
  * MergeJob's partial-update SET list cannot be offered here; use
  * `merge` when you need it).
  *
  * The read side pays a key anti-join until maintenance folds the debt:
  * compact plans eq-affected files as mandatory work, rewrites read
  * delete-applied, and [[QTable.retainEqDeletes]] drops entries no
  * surviving file is old enough to match.
  *
  * ANSI multi-match rule as in MergeJob: one source row per key, or the
  * batch is rejected (a distributed frame has no "last" row).
  */
class UpsertJob(
    table: QTable,
    jobId: String = java.util.UUID.randomUUID().toString,
    deleteCol: Option[String] = None) {

  def run(source0: DataFrame): Snapshot = {
    val snap = table.currentSnapshot
    deleteCol.foreach(c => require(source0.columns.contains(c),
      s"source is missing delete column $c"))

    val source = source0.cache()
    try {
      val srcCount = source.count()
      if (srcCount == 0) return snap
      val dupKeys = source.groupBy("image_id").count()
        .where(col("count") > 1).count()
      require(dupKeys == 0,
        s"upsert source has $dupKeys duplicated image_id(s); resolve last-wins upstream")

      // the batch's keys become one equality delete — an insert-only
      // key's delete kills nothing, maintenance folds it. Skipped when NO
      // existing file's id range overlaps the batch (metadata check; the
      // common case on a fresh table): the entry would be permanent
      // anti-join debt that can never match.
      val bounds = source.agg(min("image_id"), max("image_id")).head()
      val (keyMin, keyMax) = (bounds.getString(0), bounds.getString(1))
      val anyOverlap = table.entries(snap).exists(f =>
        QTable.utf8Leq(keyMin, f.imageIdMax) && QTable.utf8Leq(f.imageIdMin, keyMax))

      // the appended rows: full records, hash-bucketed like any append;
      // the small-batch shuffle AQE-coalesces down to a few files
      val notDeleteFlagged = deleteCol
        .map(c => !coalesce(col(c).cast("boolean"), lit(false)))
        .getOrElse(lit(true))
      val rows = JobPlanning.alignToPhysical(
        source.where(notDeleteFlagged).drop(deleteCol.toSeq: _*)
          .withColumn("pbucket", JobPlanning.bucketOf(snap.buckets)),
        snap)

      // one append-style delta commit: O(batch) metadata, the new eq
      // entry stamped with this commit's version (the strict-seq rule
      // keeps the rows appended here alive through their own delete)
      new RowLevelWrite(table, snap, jobId, "upsert").write(RowChange(inserts = Some(rows),
        deletedKeys = Some(source.select("image_id")).filter(_ => anyOverlap)),
        mergeOnRead = true) { c =>
        Map("source-rows" -> srcCount.toString,
          "rows-delete-flagged" -> (srcCount - source.where(notDeleteFlagged).count()).toString,
          "eq-delete-keys" -> c.eqDeleteKeys.toString,
          "files-rewritten" -> "0")
      }
    } finally source.unpersist()
  }
}

object UpsertJob {

  /** Target keys per equality-delete file: a key row is ~12 B, so this
    * keeps files in the tens of MB — one file for every sane batch,
    * range-split for a bulk backfill (a reader prunes split files by
    * their disjoint id ranges; same-commit splits share one seq, which
    * changes nothing in the strict-seq rule). */
  val TargetKeysPerFile: Long = 4L * 1000 * 1000

  /** Write an `image_id` key frame as equality-delete files into the new
    * directory `dir`, range-sorted ([[DeleteJob.writeSorted]]), and
    * return (entries, key count). Entries carry the seq SENTINEL —
    * [[QTable.commit]] stamps the committing version. (Nil, 0) for an
    * empty frame. */
  def writeEqDeleteFiles(table: QTable, keys: DataFrame,
      dir: String, targetRows: Long = TargetKeysPerFile): (Seq[EqDeleteFileEntry], Long) = {
    val (written, n) = DeleteJob.writeSorted(table, keys, table.eqDeleteSchema,
      Seq("image_id"), dir, targetRows)
    (written.map(w => EqDeleteFileEntry(path = w.path, rowCount = w.rows,
      byteCount = w.bytes, idMin = w.lo, idMax = w.hi,
      seq = DataFileEntry.UnstampedSeq)), n)
  }
}
