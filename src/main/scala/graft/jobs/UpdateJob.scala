package graft.jobs

import graft.format.QTable
import graft.model.Snapshot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Condition-driven UPDATE: `UPDATE t SET c1 = e1, ... WHERE cond`.
  *
  * This is NOT a MERGE in disguise: [[MergeJob]] is keyed by a SOURCE
  * of corrections and broadcasts its key set, which is the right shape
  * for a small correction batch but inverts at scale for a predicate
  * update — `UPDATE t SET caption = ... WHERE fmt = 'png'` may touch
  * half the table, and a broadcast of half the table's keys is a
  * driver/executor blowup. UpdateJob never materializes matched keys:
  *
  *  1. DISCOVERY — one stats-skipping scan ([[graft.format.QTableFileIndex]]
  *     prunes files whose manifest ranges/blooms cannot match the
  *     condition) aggregated per file: `(file, matched-row count)`.
  *     The collect is one row per MATCHED FILE, metadata-sized.
  *  2. WRITE — the matched files and one post-image (SET list applied
  *     to the rows matching the condition, every other row kept) go to
  *     [[RowLevelWrite]]: copy-on-write by default (a projection over
  *     the scan, so small groups of a plain table run on the driver),
  *     merge-on-read with `mergeOnRead = true`. All SET expressions evaluate against the
  *     OLD row (simultaneous-assignment SQL semantics: `SET w = h,
  *     h = w` swaps).
  *
  * SET expressions and the condition see LOGICAL column names (schema
  * evolution applies); values cast to the declared column type (ANSI:
  * incompatible casts fail fast). Assigning the primary key or the
  * derived partition column is refused. A NULL result of a SET
  * expression is stored as NULL — UPDATE is literal, unlike MergeJob's
  * null-means-keep partial-patch convention, because here the user
  * wrote the expression inline rather than shipping a sparse source.
  *
  * Commits as operation `update` (row-changing: the streaming source
  * fails/skips it, incremental scan refuses it, the changelog diffs it
  * generically like merge/delete). Under row lineage, updated rows
  * KEEP their `_row_id` on both strategies (the rewrite reads
  * materialize ids).
  */
class UpdateJob(
    table: QTable,
    jobId: String = java.util.UUID.randomUUID().toString,
    concurrency: Int = 4,
    mergeOnRead: Boolean = false) {

  def run(assignments: Seq[(String, Column)], condition: Column,
      failAfterGroups: Int = Int.MaxValue): Snapshot =
    run(assignments, condition, failAfterGroups, onDriver = true)

  /** [[run]], with the copy-on-write driver path allowed or not: both
    * write the same files. */
  private[graft] def run(assignments: Seq[(String, Column)], condition: Column,
      failAfterGroups: Int, onDriver: Boolean): Snapshot = {
    val snap = table.currentSnapshot
    val all = table.entries(snap)
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")

    val fieldsByName = snap.schemaFields.map(f => f.name -> f).toMap
    val setFields = assignments.map { case (c, v) =>
      require(c != "image_id", "cannot SET the primary key")
      require(c != "pbucket", "cannot SET the derived partition column")
      (fieldsByName.getOrElse(c,
        throw new IllegalArgumentException(s"unknown update column: $c")), v)
    }
    require(setFields.map(_._1.name).distinct.size == setFields.size,
      "duplicate assignment target")
    if (all.isEmpty) return snap

    // 1. discovery: stats-skipping scan, aggregated to (file, matches).
    // The index prunes files whose stats cannot satisfy the pushed
    // condition; the collect is one row per matched FILE.
    val (base, index) = table.scanIndexed(all, snap.physicalSchema)
    val live = table.toLogical(table.decorate(
      base.withColumn("__gpath", col("_metadata.file_path")), Some(snap), snap, all), snap)
    val perFile = live.where(condition)
      .groupBy("__gpath").agg(count(lit(1)).as("n")).collect()
    val (scanned, total) = index.lastSelection
    val matchedNames = perFile.map(r => QTable.fileName(r.getString(0))).toSet
    val matchedRows = perFile.map(_.getLong(1)).sum
    if (matchedRows == 0) return snap
    val affected = all.filter(f => matchedNames.contains(QTable.fileName(f.path)))

    // 2. the post-image applies the SET list in ONE select so every
    // expression sees the OLD row; rows outside the condition keep theirs
    def postImage(df: DataFrame): DataFrame = {
      val marked = RowLevelWrite.mark(table.toLogical(df, snap), lit(false), condition)
      val patched = col(RowLevelWrite.Status) === RowLevelWrite.Patched
      val extras = marked.columns
        .filterNot(snap.schemaFields.map(_.name).contains).map(col(_))
      val outCols = snap.schemaFields.map { f =>
        setFields.find(_._1.name == f.name) match {
          case Some((fd, value)) =>
            when(patched, value.cast(fd.sparkType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }
      marked.select(outCols ++ extras: _*)
    }
    new RowLevelWrite(table, snap, jobId, "update").write(
      RowChange(affected, Some(postImage _)), mergeOnRead, concurrency,
      failAfterGroups, onDriver) { c =>
      Map("rows-updated" -> matchedRows.toString,
        "files-scanned" -> scanned.toString,
        "files-total" -> total.toString,
        "files-rewritten" -> c.filesRewritten.toString) ++
        (if (mergeOnRead) Map("strategy" -> "merge-on-read",
          "new-delete-files" -> c.deleteFiles.toString)
        else Map("strategy" -> "copy-on-write"))
    }
  }
}
