package graft.jobs

import graft.format.QTable
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Copy-on-write MERGE INTO keyed by image_id.
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
  * Copy-on-write (default): only data files that actually contain a
  * matched image_id are rewritten; every other file is carried into the
  * new snapshot by reference (a file whose matches are ALL deletes and
  * whose rewrite comes out empty simply contributes no output files).
  * Each partition group's rewrite joins a broadcast of the source; the
  * inserts write is one more group of the same checkpointed pass, so it
  * overlaps the rewrites.
  *
  * Merge-on-read (`mergeOnRead = true`): no data file is rewritten —
  * matched rows' old versions are POSITION-DELETED ([[DeleteJob]]
  * machinery) and the patched/inserted rows appended as new files, so
  * commit cost is O(changed rows) instead of O(matched files' bytes).
  * The right strategy when matches are sparse across huge files (the
  * 100 TB steady state); reads pay the delete anti-join until a
  * compact/cluster run folds the deletes. Both strategies produce the
  * same logical table (spec-asserted) — the trade is pure write-vs-read
  * amplification, Iceberg v2's CoW/MOR dial re-derived.
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

  /** The checkpoint group name of the inserts write; partition groups
    * are named `b<bucket>` or `d<day>-b<bucket>`, so it cannot collide. */
  private val InsertsGroup = "inserts"

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

    // every table-side read below is delete-applied: a position-deleted
    // row must neither count as a match (else its file is needlessly
    // rewritten) nor suppress an INSERT of the same key (else the source
    // row would vanish — the merge-on-read resurrect/lose bug).
    // Both variants are defaults-aware: a CoW rewrite of a matched
    // pre-evolution file must bake the initial default in, not null
    def readLive(files: Seq[DataFileEntry]) =
      table.readEntriesForRewrite(snap, files)
    // position-keeping variant: `_metadata` must be captured before the
    // delete anti-join (Spark does not resolve it through a join)
    def readLivePos(files: Seq[DataFileEntry]) =
      table.readEntriesForRewriteWithPos(snap, files)
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
           .map(r => normalizePath(r.getString(0))).toSet,
         perFile.filter(_.getLong(2) > 0).map(r => normalizePath(r.getString(0))).toSet)
      } else {
        val pairs =
          if (candidates.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else readLivePos(candidates)
            .select(col("image_id"), col("__gpath"))
            .join(srcKeys, Seq("image_id"))
            .collect()
        (pairs.map(_.getString(0)).toSet,
         pairs.map(r => normalizePath(r.getString(1))).toSet, Set.empty[String])
      }
    val affected =
      if (notMatchedBySourceDelete)
        all.filter { f =>
          val n = normalizePath(f.path)
          matchedFiles.contains(n) || unmatchedFiles.contains(n)
        }
      else candidates.filter(f => matchedFiles.contains(normalizePath(f.path)))

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
      JobPlanning.alignToPhysical(rows.withColumn("pbucket",
        pmod(xxhash64(col("image_id")), lit(snap.buckets.toLong)).cast("int")), snap)
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
    // the declared type), and the delete flag (null-safe, default false)
    val updatesSrc = broadcast(source.select(
      col("image_id") +:
        (setFields.map(f => col(f.name).cast(f.sparkType).as(s"_new_${f.phys}")) ++
          delFlag.map(_.as("_del")).toSeq ++
          // match indicator for the NOT MATCHED BY SOURCE filter: after
          // the left join, a null `_mm` row is an unmatched target row
          (if (notMatchedBySourceDelete) Seq(lit(true).as("_mm")) else Nil)): _*))

    // CHECK constraints veto the merge's NEW row content — matched
    // post-images (SET applied, delete-flagged rows excluded) plus
    // inserts — before either strategy writes anything. One extra pass
    // over the affected files + batch, only when constraints exist.
    if (Constraints.of(snap).nonEmpty) {
      val postImages =
        if (noMatchedAction || affected.isEmpty) None
        else Some {
          var p = readLive(affected).join(updatesSrc, Seq("image_id"))
          if (deleteCol.isDefined)
            p = p.where(!coalesce(col("_del"), lit(false))).drop("_del")
          if (notMatchedBySourceDelete) p = p.drop("_mm")
          setFields.foreach { f =>
            p = p.withColumn(f.phys,
              coalesce(col(s"_new_${f.phys}"), col(f.phys)))
              .drop(s"_new_${f.phys}")
          }
          JobPlanning.alignToPhysical(p, snap)
        }
      (postImages.toSeq ++ insertRows.toSeq).reduceOption(_.unionByName(_))
        .foreach(df => Constraints.enforce(Constraints.logicalView(df, snap), snap, "MERGE"))
    }

    // ------------------------------------------------- merge-on-read
    // MOR strategy: instead of rewriting every matched file, position-
    // delete the matched rows' OLD versions and append the patched/
    // inserted rows as new files — commit cost O(changed rows), the only
    // viable MERGE shape when matches are sparse across huge files. Data
    // manifests are carried by reference (append-style); reads pay the
    // delete anti-join until maintenance folds it. No per-group
    // checkpoint: the writes are small and the commit atomic — a killed
    // run leaves only orphans for the sweep.
    if (mergeOnRead) {
      // matched rows (with positions) exist only when some file matched;
      // an inserts-only merge skips straight to the append side
      val matched = if (affected.isEmpty || noMatchedAction) None else Some(
        readLivePos(affected)
          .join(updatesSrc, Seq("image_id"))
          .cache())
      try {
        val matchedPosOpt = matched.map(_.select(
          col("__gpath").as("file_path"), col("__gpos").as("pos")))
        // NOT MATCHED BY SOURCE under MOR: the unmatched rows' positions
        // delete too (and are never re-appended) — commit stays
        // O(changed rows) even when the clause empties most of a file
        val unmatchedPosOpt =
          if (!notMatchedBySourceDelete) None
          else {
            val uf = all.filter(f => unmatchedFiles.contains(normalizePath(f.path)))
            if (uf.isEmpty) None
            else Some(readLivePos(uf)
              .join(srcKeys, Seq("image_id"), "left_anti")
              .select(col("__gpath").as("file_path"), col("__gpos").as("pos")))
          }
        val (delEntriesM, matchedCount) = matchedPosOpt match {
          case None => (Nil, 0L)
          case Some(p) => DeleteJob.writeDeleteFiles(table, p,
            table.newAttemptDir(jobId, "deletes"))
        }
        val (delEntriesU, unmatchedCount) = unmatchedPosOpt match {
          case None => (Nil, 0L)
          case Some(p) => DeleteJob.writeDeleteFiles(table, p,
            table.newAttemptDir(jobId, "nmbs-deletes"))
        }
        val delEntries = delEntriesM ++ delEntriesU
        // patched post-images of non-delete-flagged matches (same SET
        // semantics as the CoW rewrite: null source value keeps target)
        val patchedOpt = matched.map { m =>
          var p = (if (deleteCol.isDefined)
              m.where(!coalesce(col("_del"), lit(false))).drop("_del")
            else m)
            .drop("__gpath", "__gpos", "_mm")
          setFields.foreach { f =>
            p = p.withColumn(f.phys, coalesce(col(s"_new_${f.phys}"), col(f.phys)))
              .drop(s"_new_${f.phys}")
          }
          JobPlanning.alignToPhysical(p, snap)
        }
        val newRows = (patchedOpt.toSeq ++ insertRows.toSeq).reduceOption(_.unionByName(_))
        val out = newRows match {
          case Some(rows) if matchedCount + insertCount > 0 =>
            JobPlanning.writeNewRows(table, jobId, rows, snap)
          case _ => Nil
        }
        if (matchedCount + unmatchedCount + insertCount == 0) return snap
        return table.commit(Some(snap), "merge", out, Map(
          "job-id" -> jobId,
          "strategy" -> "merge-on-read",
          "source-rows" -> ids.length.toString,
          "rows-updated" -> updatedRows.toString,
          "rows-inserted" -> insertCount.toString,
          "rows-deleted" ->
            (matchedCount + unmatchedCount - updatedRows).toString,
          "files-rewritten" -> "0"),
          reuseManifests = snap.manifests,
          deletesOverride = Some(snap.deleteFiles ++ delEntries))
      } finally matched.foreach(_.unpersist())
    }

    // 5. rewrite affected files per partition group and write the inserts
    // as one more group, all checkpointed and run concurrently. The insert
    // set depends on the affected files' LIVE rows, so that group reads
    // (and is identified by) those files while it replaces none — a stale
    // inserts output (written against a different live view) re-runs
    // instead of being silently reused.
    val rewriteSet =
      if (noMatchedAction) Nil else RewriteGroup.perBucket(affected, snap)
    // nothing to rewrite, nothing to insert: the table is already the
    // merge result — commit no version (insert-only merge whose source
    // rows all matched, or a matched-delete that matched nothing)
    if (rewriteSet.isEmpty && insertRows.isEmpty) {
      new Checkpoint(table, jobId).clear(); return snap
    }
    // the inserts group reads every affected file, so it starts in the
    // first wave and overlaps the file rewrites
    val insertGroup = insertRows.map(_ => RewriteGroup(InsertsGroup, Nil, affected)).toSeq
    val rewrite = new GroupRewrite(table, snap, jobId, "merge")
    val outputs = rewrite.run(insertGroup ++ rewriteSet, concurrency,
      failAfterGroups) { g =>
      // inserts land in their hash buckets; the layout repartitions by
      // bucket so a large batch spreads over the cluster (AQE coalesces
      // the shuffle down to a few files when the batch is tiny)
      if (g.name == InsertsGroup) JobPlanning.layoutNewRows(insertRows.get, snap)
      else {
        // WHEN MATCHED: delete-flagged rows drop out, SET columns take
        // the source value where non-null (left-join null = unmatched
        // row, which the same coalesce leaves untouched)
        var patched = readLive(g.replaces)
          .join(updatesSrc, Seq("image_id"), "left")
        // WHEN NOT MATCHED BY SOURCE THEN DELETE: only source-matched
        // rows survive the rewrite
        if (notMatchedBySourceDelete)
          patched = patched.where(col("_mm") === true).drop("_mm")
        if (deleteCol.isDefined)
          patched = patched.where(!coalesce(col("_del"), lit(false))).drop("_del")
        setFields.foreach { f =>
          patched = patched
            .withColumn(f.phys, coalesce(col(s"_new_${f.phys}"), col(f.phys)))
            .drop(s"_new_${f.phys}")
        }
        JobPlanning.alignToPhysical(patched, snap).coalesce(math.max(1, g.replaces.size))
      }
    }

    val rewrittenFiles = rewriteSet.flatMap(_.replaces)
    // target rows removed by WHEN MATCHED DELETE = input-vs-output row
    // delta of the rewritten groups (updates preserve row counts; any
    // position deletes folded by the rewrite count here too — they left
    // the physical files in this commit)
    val deletedRows = rewrittenFiles.map(_.rowCount).sum -
      outputs.filter(_.group != InsertsGroup).map(_.rowCount).sum
    rewrite.commit(insertGroup ++ rewriteSet, outputs, Map(
      "source-rows" -> ids.length.toString,
      "rows-updated" -> updatedRows.toString,
      "rows-inserted" -> insertCount.toString,
      "rows-deleted" -> deletedRows.toString,
      "files-rewritten" -> rewrittenFiles.size.toString))
  }

  /** Data file names are UUID-unique (Spark part files), so matching on
    * the name sidesteps scheme/slash differences between
    * `input_file_name()` URIs and manifest paths. */
  private def normalizePath(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)
}
