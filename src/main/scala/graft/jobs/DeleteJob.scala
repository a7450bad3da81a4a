package graft.jobs

import graft.format.QTable
import graft.model.{DeleteFileEntry, Snapshot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merge-on-read DELETE: mark the rows matching a predicate deleted by
  * writing POSITION-DELETE files — `(file_path, pos)` rows — instead of
  * rewriting the data files that contain them (the copy-on-write path
  * MergeJob takes by default). Commit cost is O(matched rows), not
  * O(matched files' bytes): deleting 40 rows spread over 400 half-GB
  * files writes a few-KB delete file where CoW would rewrite 200 GB —
  * the difference between an interactive DELETE and a maintenance
  * window at 100 TB.
  *
  * Above the row path sits the METADATA fast path ([[StatsDelete]]):
  * files whose manifest stats prove every row matches the predicate are
  * dropped from the manifests without writing a delete row or reading a
  * byte — only manifests containing dropped entries are rewritten, the
  * rest carry by reference. A whole-partition DELETE (a date range, a
  * format class) on a clustered table is then pure metadata work, with
  * only the range-boundary files paying position deletes.
  *
  * The read side pays instead: every scan anti-joins the live delete
  * set ([[QTable.applyDeletes]]) until a rewrite job folds the deletes
  * into fresh data files (CompactJob plans delete-referenced files as
  * mandatory work; any full rewrite clears the set). That read/write
  * trade is exactly Iceberg v2's merge-on-read contract.
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

    // stats-skipping scan of the KEPT files with positions; apply
    // EXISTING deletes (already-dead rows must not be re-recorded),
    // then evaluate the predicate over logical names
    val (written, n, scanned, total) =
      if (kept.isEmpty) (Nil, 0L, 0, 0)
      else {
        val (base, index) = table.scanIndexed(kept, snap.physicalSchema)
        // defaults-aware: `delete where col = <default>` must hit the
        // pre-evolution rows the default makes match
        val live = table.decorateReadWithPos(base, snap, kept)
        val logical = snap.schemaFields.map(f => col(f.phys).as(f.name)) ++
          Seq(col("__gpath"), col("__gpos"))
        val hits = live.select(logical: _*).where(condition)
          .select(col("__gpath").as("file_path"), col("__gpos").as("pos"))
        val (w, cnt) = DeleteJob.writeDeleteFiles(table,
          hits, table.newDataDir(jobId, "deletes"))
        // observability (and the pruning's test hook): how many files
        // the stats-skipping index actually opened for this predicate
        val (sc, tot) = index.lastSelection
        (w, cnt, sc, tot)
      }
    if (n == 0 && dropped.isEmpty) return snap

    // delete entries whose referenced files ALL dropped fold away with
    // them; entries still touching a kept file are retained (their rows
    // against dropped files anti-join nothing — same rule rewrites use)
    val retained =
      if (dropped.isEmpty) snap.deleteFiles
      else table.retainDeletes(snap, table.deletePairs(snap), kept.map(_.path))

    // manifests: reuse every manifest untouched by the drops; rewrite
    // only touched ones minus their dropped entries — O(touched), the
    // shape that keeps a surgical DELETE cheap at 10^6 manifests
    val (reuse, rewritten) =
      if (dropped.isEmpty) (snap.manifests, Nil)
      else {
        val perManifest = snap.manifests.map(m => m -> table.readManifest(m).files)
        val (clean, touched) = perManifest.partition { case (_, fs) =>
          !fs.exists(f => droppedNames.contains(QTable.fileName(f.path)))
        }
        (clean.map(_._1), touched.flatMap(_._2)
          .filterNot(f => droppedNames.contains(QTable.fileName(f.path))))
      }

    table.commit(Some(snap), "delete", rewritten,
      Map("job-id" -> jobId,
        "deleted-rows" -> (droppedLive + n).toString,
        "files-dropped" -> dropped.size.toString,
        "rows-dropped-with-files" -> droppedLive.toString,
        "new-delete-files" -> written.size.toString,
        "files-scanned" -> scanned.toString,
        "files-total" -> total.toString),
      reuseManifests = reuse,
      deletesOverride = Some(retained ++ written),
      // eq entries applicable only to dropped files fold with them
      eqDeletesOverride = Some(table.retainEqDeletes(snap, kept)))
  }
}

object DeleteJob {

  /** Target rows per position-delete file (a (path,pos) row is ~100 B —
    * files land well under data-file size). */
  val TargetDeleteFileRows: Long = 4L * 1000 * 1000

  /** Write a `(file_path, pos)` frame as position-delete files under
    * `dir`, sorted by (file_path, pos) so a pruned read touches few row
    * groups, and return (entries, total rows). Per-file stats (rows +
    * referenced-path range) come from one small job over the written
    * files — O(delete rows), metadata-sized result. Writes nothing and
    * returns (Nil, 0) for an empty frame. */
  def writeDeleteFiles(table: QTable, hits0: DataFrame, dir: String,
      targetRows: Long = TargetDeleteFileRows): (Seq[DeleteFileEntry], Long) = {
    val hits = hits0.cache()
    try {
      val n = hits.count()
      if (n == 0) return (Nil, 0L)
      // a retried attempt (commit conflict, crash) overwrites its own
      // job-scoped dir — same contract as every rewrite job's cleanDir
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(table.hadoopConf)
      if (fs.exists(hp)) fs.delete(hp, true)
      val nOut = math.max(1, (n / targetRows).toInt)
      graft.format.TableWrite.parquet(
        hits.repartitionByRange(nOut, col("file_path"), col("pos"))
          .sortWithinPartitions("file_path", "pos"), dir)

      val conf = table.hadoopConf
      val sizes = graft.format.ParquetStats
        .listParquetWithMtime(dir, conf).map(_._1)
        .map(p => QTable.fileName(p) -> p).toMap
      val entries = table.spark.read.schema(table.deleteSchema).parquet(dir)
        .groupBy(col("_metadata.file_path").as("p"))
        .agg(count(lit(1)).as("n"), min("file_path").as("lo"),
          max("file_path").as("hi"))
        .collect().map { r =>
          val path = sizes(QTable.fileName(r.getString(0)))
          val hp = new org.apache.hadoop.fs.Path(path)
          DeleteFileEntry(path = path, rowCount = r.getLong(1),
            byteCount = hp.getFileSystem(conf).getFileStatus(hp).getLen,
            dataPathMin = r.getString(2), dataPathMax = r.getString(3))
        }.toSeq
      (entries, n)
    } finally hits.unpersist()
  }
}
