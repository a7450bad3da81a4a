package graft.jobs

import graft.format.QTable
import graft.model.{DeleteFileEntry, Snapshot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DELETE: mark the rows matching a predicate deleted, always
  * merge-on-read ([[RowLevelWrite]]): position deletes for the matched
  * rows instead of rewriting the files that hold them — commit cost
  * O(matched rows), not O(matched files' bytes). Deleting 40 rows spread
  * over 400 half-GB files writes a few-KB delete file where a rewrite
  * would move 200 GB: the difference between an interactive DELETE and
  * a maintenance window at 100 TB.
  *
  * Above the row path sits the METADATA fast path ([[StatsDelete]]):
  * files whose manifest stats prove every row matches the predicate are
  * dropped from the manifests without writing a delete row or reading a
  * byte. A whole-partition DELETE (a date range, a format class) on a
  * clustered table is then pure metadata work, with only the
  * range-boundary files paying position deletes.
  *
  * The predicate sees LOGICAL column names (schema evolution applies)
  * and runs against the delete-applied live view, so re-deleting an
  * already-deleted row is a no-op and recorded counts stay exact. The
  * scan goes through the manifest-backed stats-skipping
  * [[graft.format.QTableFileIndex]]: a predicate on
  * phash/pbucket/image_id pushes through the position projection and
  * the delete anti-join's left side into the scan node, so a targeted
  * DELETE opens only the files whose stats ranges (or blooms) can
  * match — at 10^12 rows, `WHERE image_id = x` must not scan the
  * table to delete one row. Inside surviving files parquet pushdown
  * skips row groups; `_metadata.row_index` positions remain absolute
  * under pushdown.
  */
class DeleteJob(
    table: QTable,
    jobId: String = java.util.UUID.randomUUID().toString) {

  def run(condition: Column): Snapshot = {
    val snap = table.currentSnapshot
    val all = table.entries(snap)
    if (all.isEmpty) return snap

    // METADATA-LEVEL fast path first: files whose stats PROVE every row
    // matches ([[StatsDelete]]) are dropped from the manifests outright
    // — no delete rows written, no data read. A whole-partition DELETE
    // (date range, format class) on a clustered 10^12-row table then
    // costs O(touched manifests); only boundary files pay the
    // position-delete scan below.
    val fieldsByName = snap.schemaFields.map(f => f.name -> f).toMap
    // resolve the predicate once against the LOGICAL schema (a zero-row
    // probe plan through the analyzer): StatsDelete then sees ordinary
    // AttributeReference/Literal trees, with the analyzer's type
    // coercions applied exactly as the scan below will apply them
    val resolvedPred: org.apache.spark.sql.catalyst.expressions.Expression =
      table.spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        snap.storedSchema)
        .where(condition).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal.FalseLiteral)
    // a file an EQUALITY delete can apply to is excluded from the
    // metadata drop: its stats count physical rows, but some are eq-dead
    // — dropping it would misreport "deleted-rows" (the kept path below
    // reads delete-applied, so those files stay exact)
    val eqAffected = table.eqAffectedNames(snap, all)
    val (dropped, kept) =
      all.partition(e => StatsDelete.allMatch(resolvedPred, e, fieldsByName) &&
        !eqAffected.contains(QTable.fileName(e.path)))
    val droppedNames = dropped.map(e => QTable.fileName(e.path)).toSet
    // live rows the drops delete = physical rows minus rows an earlier
    // position delete already killed in those files (counted exactly
    // from the delete files — O(delete rows), only when both exist)
    val droppedDead: Long =
      if (dropped.isEmpty || snap.deleteFiles.isEmpty) 0L
      else table.scan(snap.deleteFiles, table.deleteSchema)
        .where(substring_index(col("file_path"), "/", -1)
          .isin(droppedNames.toSeq: _*))
        .count()
    val droppedLive = dropped.map(_.rowCount).sum - droppedDead

    // the KEPT files' matching rows become position deletes: the scan
    // applies EXISTING deletes (already-dead rows must not be recorded
    // again) and initial defaults (`delete where col = <default>` must
    // hit the pre-evolution rows), then the predicate runs over logical
    // names and pushes into the stats-skipping scan
    def postImage(live: DataFrame): DataFrame =
      table.toLogical(live, snap).where(condition)
        .select(col("__gpath"), col("__gpos"), lit(RowLevelWrite.Dropped).as(RowLevelWrite.Status))
    new RowLevelWrite(table, snap, jobId, "delete").write(
      RowChange(kept, Some(postImage _), dropped = dropped), mergeOnRead = true) { c =>
      Map("deleted-rows" -> (droppedLive + c.positions).toString,
        "files-dropped" -> dropped.size.toString,
        "rows-dropped-with-files" -> droppedLive.toString,
        "new-delete-files" -> c.deleteFiles.toString,
        "files-scanned" -> c.filesScanned.toString,
        "files-total" -> c.filesTotal.toString)
    }
  }
}

object DeleteJob {

  /** Target rows per position-delete file (a (path,pos) row is ~100 B —
    * files land well under data-file size). */
  val TargetDeleteFileRows: Long = 4L * 1000 * 1000

  /** Write a `(file_path, pos)` frame as position-delete files into the
    * new directory `dir` ([[QTable.newAttemptDir]]), sorted by
    * (file_path, pos), and return (entries, total rows); see
    * [[writeSorted]]. */
  def writeDeleteFiles(table: QTable, hits: DataFrame, dir: String,
      targetRows: Long = TargetDeleteFileRows): (Seq[DeleteFileEntry], Long) = {
    val (written, n) = writeSorted(table, hits, table.deleteSchema,
      Seq("file_path", "pos"), dir, targetRows)
    (written.map(w => DeleteFileEntry(path = w.path, rowCount = w.rows,
      byteCount = w.bytes, dataPathMin = w.lo, dataPathMax = w.hi)), n)
  }

  /** One written delete file: rows, bytes and its first sort column's
    * range. */
  private[jobs] final case class Written(path: String, rows: Long, bytes: Long,
      lo: String, hi: String)

  /** Writes `rows0` into the new directory `dir`, range-partitioned and
    * sorted on `sortCols` at about `targetRows` rows a file, so a pruned
    * read touches few row groups. Returns each file and the row total;
    * the per-file ranges come from one small job over the written
    * files — O(rows), metadata-sized result. Writes nothing and returns
    * (Nil, 0) for an empty frame. */
  private[jobs] def writeSorted(table: QTable, rows0: DataFrame,
      schema: org.apache.spark.sql.types.StructType, sortCols: Seq[String],
      dir: String, targetRows: Long): (Seq[Written], Long) = {
    val rows = rows0.cache()
    try {
      val n = rows.count()
      if (n == 0) return (Nil, 0L)
      val nOut = math.max(1, (n / targetRows).toInt)
      graft.format.TableWrite.parquet(rows.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*), dir)
      val listed = graft.format.ParquetStats.listParquetFiles(dir, table.hadoopConf)
        .map(f => QTable.fileName(f.path) -> f).toMap
      val written = table.spark.read.schema(schema).parquet(dir)
        .groupBy(col("_metadata.file_path"))
        .agg(count(lit(1)), min(sortCols.head), max(sortCols.head))
        .collect().map { r =>
          val f = listed(QTable.fileName(r.getString(0)))
          Written(f.path, r.getLong(1), f.len, r.getString(2), r.getString(3))
        }.toSeq
      (written, n)
    } finally rows.unpersist()
  }
}
