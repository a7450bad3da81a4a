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
  *  2a. COPY-ON-WRITE (default): only files holding matched rows are
  *     rewritten, per bucket group, checkpointed and resumable like
  *     every rewrite job; unmatched files carry by reference. All SET
  *     expressions evaluate against the OLD row (simultaneous-
  *     assignment SQL semantics: `SET w = h, h = w` swaps), gated
  *     per row by the condition.
  *  2b. MERGE-ON-READ (`mergeOnRead = true`): matched rows' old
  *     versions become position deletes and their patched post-images
  *     append as new files — commit O(changed rows), no data file
  *     rewritten; reads pay the delete anti-join until a compact
  *     folds it (Iceberg v2's CoW/MOR dial, same as MERGE's).
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
      failAfterGroups: Int = Int.MaxValue): Snapshot = {
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
    val live = table.decorateReadWithPos(base, snap, all)
    val logical = snap.schemaFields.map(f => col(f.phys).as(f.name)) :+
      col("__gpath")
    val perFile = live.select(logical: _*).where(condition)
      .groupBy("__gpath").agg(count(lit(1)).as("n")).collect()
    val (scanned, total) = index.lastSelection
    val matchedNames = perFile.map(r => QTable.fileName(r.getString(0))).toSet
    val matchedRows = perFile.map(_.getLong(1)).sum
    if (matchedRows == 0) return snap
    val affected = all.filter(f => matchedNames.contains(QTable.fileName(f.path)))

    // applies the SET list in ONE select so every expression sees the
    // OLD row; non-matching rows (CoW rewrites carry them) keep theirs
    def applySets(logicalDf: DataFrame, gate: Column): DataFrame = {
      val extras = logicalDf.columns
        .filterNot(snap.schemaFields.map(_.name).contains).map(col(_))
      val outCols = snap.schemaFields.map { f =>
        setFields.find(_._1.name == f.name) match {
          case Some((fd, value)) =>
            when(gate, value.cast(fd.sparkType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }
      logicalDf.select(outCols ++ extras: _*)
    }
    def toLogical(df: DataFrame): DataFrame = {
      val physNames = snap.schemaFields.map(_.phys).toSet
      val extras = df.columns.filterNot(physNames.contains).map(col(_))
      df.select(snap.schemaFields.map(f => col(f.phys).as(f.name)) ++ extras: _*)
    }
    val summaryBase = Map(
      "job-id" -> jobId,
      "rows-updated" -> matchedRows.toString,
      "files-scanned" -> scanned.toString,
      "files-total" -> total.toString)

    // CHECK constraints veto the POST-IMAGES (old rows matching the
    // condition, SET applied) before either strategy writes — one extra
    // pass over the affected files, only when constraints exist
    if (Constraints.of(snap).nonEmpty)
      Constraints.enforce(applySets(
        toLogical(table.readEntriesForRewrite(snap, affected))
          .where(condition), lit(true))
        .select(snap.schemaFields.map(f => col(f.name)): _*),
        snap, "UPDATE")

    // ------------------------------------------------- merge-on-read
    if (mergeOnRead) {
      val matched = toLogical(table.readEntriesForRewriteWithPos(snap, affected))
        .where(condition).cache()
      try {
        val (delEntries, nDel) = DeleteJob.writeDeleteFiles(table,
          matched.select(col("__gpath").as("file_path"), col("__gpos").as("pos")),
          table.newAttemptDir(jobId, "deletes"))
        val patched = JobPlanning.alignToPhysical(
          applySets(matched, lit(true)).drop("__gpath", "__gpos"), snap)
        val out = JobPlanning.writeNewRows(table, jobId, patched, snap)
        return table.commit(Some(snap), "update", out,
          summaryBase ++ Map(
            "strategy" -> "merge-on-read",
            "rows-updated" -> nDel.toString,
            "new-delete-files" -> delEntries.size.toString,
            "files-rewritten" -> "0"),
          reuseManifests = snap.manifests,
          deletesOverride = Some(snap.deleteFiles ++ delEntries))
      } finally matched.unpersist()
    }

    // ------------------------------------------------- copy-on-write
    val groups = RewriteGroup.perBucket(affected, snap)
    val rewrite = new GroupRewrite(table, snap, jobId, "update")
    val rewritten = rewrite.run(groups, concurrency, failAfterGroups) { g =>
      JobPlanning.alignToPhysical(applySets(
        toLogical(table.readEntriesForRewrite(snap, g.replaces)), condition), snap)
        .coalesce(math.max(1, g.replaces.size))
    }
    rewrite.commit(groups, rewritten, summaryBase ++ Map(
      "strategy" -> "copy-on-write",
      "files-rewritten" -> affected.size.toString))
  }
}
