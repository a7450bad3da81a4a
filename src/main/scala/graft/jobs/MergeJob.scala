package graft.jobs

import graft.format.QTable
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** MERGE INTO keyed by image_id.
  *
  * Semantics (ANSI MERGE, the engine analogue of the reference's
  * deterministic-path last-writer-wins upsert, SURVEY §2.2 K5 and EP2):
  *   WHEN MATCHED AND source.<deleteCol>     THEN DELETE
  *   WHEN MATCHED                            THEN UPDATE SET <updateCols>
  *   WHEN NOT MATCHED AND NOT <deleteCol>    THEN INSERT (full row)
  *   WHEN NOT MATCHED BY SOURCE              THEN DELETE   (opt-in)
  *
  * `notMatchedBySourceDelete` turns the merge into a mirror sync: target
  * rows whose key the source never mentions are deleted, so afterwards
  * the table holds exactly the source's keys (the Delta/SQL:2003
  * NOT MATCHED BY SOURCE clause). The clause inverts the usual pruning
  * economics — ANY file holding a live row can carry an unmatched row,
  * so candidate discovery scans every live file once (one pass computes
  * both the matched and the unmatched file sets); with an EMPTY source
  * it deletes the whole table, which is the ANSI reading and is
  * spec-covered, not an accident. Under merge-on-read the unmatched
  * rows become position deletes (O(deleted rows), no rewrite), the
  * right shape when the mirror diverges by a fraction per sync.
  * `updateCols` is an arbitrary list of table columns (logical names;
  * the key itself is excluded). A NULL source value for an update column
  * keeps the target's value — partial-record patches, the shape the
  * reference's upsert payloads take (`eodhd_models.py:29-32` replaces
  * whole records; a column-list SET with null-passthrough subsumes it).
  * `deleteCol` names an optional boolean source column; a delete-flagged
  * row that matches nothing is a no-op (ANSI: no NOT MATCHED clause
  * fires for it).
  *
  * A source with more than one row per image_id is rejected up front
  * (ANSI MERGE's multi-match error): a distributed DataFrame has no row
  * order, so "last" writer is undefined — a caller wanting last-wins
  * resolves it first with a row_number window over an explicit sequence
  * column (the q11 operator).
  *
  * NULL source keys are rejected up front as well: a NULL matches no
  * target row, and inserting it would commit a NULL `image_id`, which
  * the table schema declares non-null.
  *
  * Planning is ONE driver collect of the source keys (and delete flags).
  * Every planner scalar comes from it exactly: row count, NULL and
  * multi-match checks, and the key bounds, in the UTF-8 order the
  * manifest stats use, that prune candidate files by id range. A second
  * collect joins the pruned candidates with a broadcast of those keys
  * and returns the matched (id, file) pairs, O(matches); matched files,
  * matched ids and the insert count all follow on the driver, with no
  * further Spark job before the first write.
  *
  * The matched files and one post-image over their live rows (SET
  * applied, delete-flagged and unmatched-by-source rows dropped) go to
  * [[RowLevelWrite]], which writes them copy-on-write (default: only
  * files holding a matched row rewrite, the inserts as one more group
  * of the same checkpointed pass) or merge-on-read (`mergeOnRead =
  * true`: matched rows position-deleted, post-images and inserts
  * appended).
  */
class MergeJob(
    table: QTable,
    jobId: String = java.util.UUID.randomUUID().toString,
    concurrency: Int = 4,
    updateCols: Seq[String] = Seq("caption"),
    deleteCol: Option[String] = None,
    mergeOnRead: Boolean = false,
    notMatchedBySourceDelete: Boolean = false,
    insertUnmatched: Boolean = true) {

  def run(source0: DataFrame, failAfterGroups: Int = Int.MaxValue): Snapshot = {
    val snap = table.currentSnapshot

    // resolve the SET list against the snapshot schema up front: target
    // files carry PHYSICAL (creation-time) names, sources logical names
    val fieldsByName = snap.schemaFields.map(f => f.name -> f).toMap
    // updateCols MAY be empty: a MERGE without a WHEN MATCHED UPDATE
    // clause (delete-only, insert-only, mirror-sync) — matched rows are
    // then never patched, and with no matched ACTION at all their files
    // are not even rewritten (the insert anti-join still needs them)
    require(!updateCols.contains("image_id"), "cannot SET the merge key")
    require(updateCols.nonEmpty || deleteCol.isDefined ||
      notMatchedBySourceDelete || insertUnmatched, "MERGE with no actions")
    val setFields = updateCols.map(c => fieldsByName.getOrElse(c,
      throw new IllegalArgumentException(s"unknown update column: $c")))
    deleteCol.foreach(c => require(source0.columns.contains(c),
      s"source is missing delete column $c"))
    updateCols.foreach(c => require(source0.columns.contains(c),
      s"source is missing update column $c"))

    val source = source0.cache()
    try merge(snap, setFields, source, failAfterGroups)
    finally source.unpersist()
  }

  private def merge(snap: Snapshot, setFields: Seq[FieldDef],
      source: DataFrame, failAfterGroups: Int): Snapshot = {
    val all = table.entries(snap)
    val delFlag = deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false)))

    // 1. ONE driver collect of the source keys answers every scalar the
    // planner needs, exactly. The discovery broadcast below gathers the
    // same rows on the driver, so this sets no new scale limit.
    val keyRows = source.select(col("image_id") +: delFlag.toSeq: _*).collect()
    val ids = keyRows.map(_.getString(0))
    val flagged = keyRows.map(r => delFlag.isDefined && r.getBoolean(1))
    // empty source: commit nothing, current snapshot is already correct —
    // UNLESS the mirror-sync clause is on, where an empty source means
    // "no key survives" and every live row deletes
    if (ids.isEmpty && !notMatchedBySourceDelete) return snap
    require(!ids.contains(null),
      "MERGE source has NULL image_id(s); the merge key image_id must be non-null")
    // ANSI MERGE multi-match check: one source row per key or error
    require(ids.distinct.length == ids.length,
      "MERGE source has duplicated image_id(s); resolve last-wins upstream")

    // 2. prune candidate files by image_id range overlap with the source,
    // compared in the unsigned UTF-8 order the manifest stats are
    // harvested in (String's UTF-16 order disagrees on supplementary
    // characters and would prune a file that holds a match). With the
    // NOT MATCHED BY SOURCE clause every live file is a candidate — an
    // unmatched row can live anywhere.
    val candidates =
      if (ids.isEmpty) Nil
      else {
        val srcMin = ids.reduce((a, b) => if (QTable.utf8Leq(a, b)) a else b)
        val srcMax = ids.reduce((a, b) => if (QTable.utf8Leq(a, b)) b else a)
        all.filter(f => QTable.utf8Leq(srcMin, f.imageIdMax) &&
          QTable.utf8Leq(f.imageIdMin, srcMax))
      }

    // the discovery read is delete-applied: a position-deleted row must
    // neither count as a match (else its file is needlessly rewritten)
    // nor suppress an INSERT of the same key (else the source row would
    // vanish — the merge-on-read resurrect/lose bug). `_metadata` must be
    // captured before the delete anti-join (Spark does not resolve it
    // through a join)
    def readLivePos(files: Seq[DataFileEntry]) =
      table.readEntriesForRewriteIndexed(snap, files)._1
    def keyFrame(keys: Seq[String]) = broadcast(
      source.sparkSession.createDataFrame(keys.map(Tuple1(_))).toDF("image_id"))
    val srcKeys = keyFrame(ids.toSeq)

    // 3. find the matched (id, file) pairs with ONE collect: the scan's
    // `__gpath` (= `_metadata.file_path`) names each row's file. The
    // result is O(matches): source rows times their table copies.
    // NOT MATCHED BY SOURCE instead classifies EVERY live file by whether
    // it holds matched rows, unmatched rows, or both — both kinds must
    // rewrite (CoW) or contribute delete positions (MOR); that collect is
    // one row per FILE plus its matched ids.
    val (matchedIds, matchedFiles, unmatchedFiles) =
      if (notMatchedBySourceDelete) {
        val perFile =
          if (all.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else readLivePos(all)
            .select(col("image_id"), col("__gpath"))
            .join(srcKeys.withColumn("_mm", lit(true)), Seq("image_id"), "left")
            .groupBy("__gpath")
            .agg(collect_set(when(col("_mm"), col("image_id"))).as("ids"),
              count(when(col("_mm").isNull, 1)).as("u"))
            .collect()
        (perFile.flatMap(_.getSeq[String](1)).toSet,
         perFile.filter(_.getSeq[String](1).nonEmpty)
           .map(r => QTable.fileName(r.getString(0))).toSet,
         perFile.filter(_.getLong(2) > 0).map(r => QTable.fileName(r.getString(0))).toSet)
      } else {
        val pairs =
          if (candidates.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else readLivePos(candidates)
            .select(col("image_id"), col("__gpath"))
            .join(srcKeys, Seq("image_id"))
            .collect()
        (pairs.map(_.getString(0)).toSet,
         pairs.map(r => QTable.fileName(r.getString(1))).toSet, Set.empty[String])
      }
    val affected =
      if (notMatchedBySourceDelete)
        all.filter { f =>
          val n = QTable.fileName(f.path)
          matchedFiles.contains(n) || unmatchedFiles.contains(n)
        }
      else candidates.filter(f => matchedFiles.contains(QTable.fileName(f.path)))

    // 4. inserts = source ids that matched nothing; a delete-flagged row
    //    that matched nothing is a no-op, not an insert. With no WHEN NOT
    //    MATCHED clause (`insertUnmatched = false`) unmatched source rows
    //    are simply ignored, per ANSI. Counted on the driver; the rows
    //    come from an anti-join against the matched ids, already known.
    val matchedKey = ids.map(matchedIds.contains)
    val insertCount =
      if (!insertUnmatched) 0L
      else ids.indices.count(i => !flagged(i) && !matchedKey(i)).toLong
    val insertRows = if (insertCount == 0) None else Some {
      val base = source.where(!delFlag.getOrElse(lit(false)))
        .drop(deleteCol.toSeq: _*)
      val rows =
        if (matchedIds.isEmpty) base
        else base.join(keyFrame(matchedIds.toSeq), Seq("image_id"), "left_anti")
      JobPlanning.alignToPhysical(
        rows.withColumn("pbucket", JobPlanning.bucketOf(snap.buckets)), snap)
    }
    // no matched ACTION at all (insert-only merge): matched ids are
    // discovered (the inserts exclude them) but their files are never
    // rewritten — the merge is a pure append of unmatched rows
    val noMatchedAction =
      setFields.isEmpty && deleteCol.isEmpty && !notMatchedBySourceDelete
    val updatedRows =
      if (noMatchedAction) 0L
      else ids.indices.count(i => !flagged(i) && matchedKey(i)).toLong

    // broadcast payload: key, one `_new_<phys>` per SET column (cast to
    // the declared type), the delete flag (null-safe, default false) and
    // the match indicator `_mm` (null after the left join = no source row)
    val updatesSrc = broadcast(source.select(
      col("image_id") +:
        (setFields.map(f => col(f.name).cast(f.sparkType).as(s"_new_${f.phys}")) ++
          delFlag.map(_.as("_del")).toSeq :+ lit(true).as("_mm")): _*))

    // WHEN MATCHED: delete-flagged rows drop, SET columns take the source
    // value where non-null; WHEN NOT MATCHED BY SOURCE THEN DELETE drops
    // every unmatched row; other unmatched rows are kept untouched
    def postImage(live: DataFrame): DataFrame = {
      val matched = col("_mm").isNotNull
      val dropped = (deleteCol.map(_ => matched && col("_del")).toSeq ++
        Seq(!matched).filter(_ => notMatchedBySourceDelete)).reduceOption(_ || _)
      val marked = RowLevelWrite.mark(live.join(updatesSrc, Seq("image_id"), "left"),
        dropped.getOrElse(lit(false)), matched)
      setFields.foldLeft(marked)((p, f) =>
        p.withColumn(f.phys, coalesce(col(s"_new_${f.phys}"), col(f.phys))))
        .drop(setFields.map(f => s"_new_${f.phys}") ++ Seq("_del", "_mm"): _*)
    }

    new RowLevelWrite(table, snap, jobId, "merge").write(
      RowChange(affected, Some(postImage _).filter(_ => !noMatchedAction), insertRows),
      mergeOnRead, concurrency, failAfterGroups) { c =>
      Map("source-rows" -> ids.length.toString,
        "rows-updated" -> updatedRows.toString,
        "rows-inserted" -> insertCount.toString,
        "rows-deleted" -> c.deletedRows.toString,
        "files-rewritten" -> c.filesRewritten.toString) ++
        (if (mergeOnRead) Map("strategy" -> "merge-on-read") else Map.empty)
    }
  }
}
