package graft.jobs

import graft.expr.{KeyLookup, KeyTable}
import graft.format.{DriverIO, QTable}
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

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
  * Planning is ONE Spark job, a collect of the source rows with their
  * delete flags and SET values ([[DriverIO.collectOrKeys]]). Every
  * planner scalar comes from it exactly: row count, NULL and
  * multi-match checks, and the key bounds, in the UTF-8 order the
  * manifest stats use, that prune candidate files by id range. While
  * the rows fit [[DriverIO.Cap]] the whole source stays on the driver:
  * the SET payload becomes one hashed key lookup ([[KeyLookup]], a
  * broadcast variable that launches no job) in the post-image, so a
  * post-image over a plain scan stays plain, and the inserts are laid
  * out from the held rows; the source columns are collected only when
  * such inserts can be written (copy-on-write with a WHEN NOT MATCHED
  * clause). A source over the cap keeps only its keys, and the
  * post-image joins a broadcast of the payload.
  *
  * Discovery reads the candidates' live `image_id`s and tests each
  * against the source keys: on the driver, with no job, when no live
  * delete applies to the candidates (the read is then a plain scan)
  * and they are few enough that the serial read beats a job; else one
  * collect of a join with a broadcast of the keys returns the matched
  * (id, file) pairs, O(matches). Matched files, matched ids and the
  * insert count all follow on the driver.
  *
  * The matched files and one post-image over their live rows (SET
  * applied, delete-flagged and unmatched-by-source rows dropped) go to
  * [[RowLevelWrite]], which writes them copy-on-write (default: only
  * files holding a matched row rewrite, the inserts as one more group
  * of the same checkpointed pass; small groups and held inserts on the
  * driver) or merge-on-read (`mergeOnRead = true`: matched rows
  * position-deleted, post-images and inserts appended).
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
  import MergeJob._

  def run(source0: DataFrame, failAfterGroups: Int = Int.MaxValue): Snapshot =
    run(source0, failAfterGroups, onDriver = true)

  /** [[run]], with the driver paths (payload lookup, discovery, group
    * and insert writes) allowed or not: both write the same files. */
  private[graft] def run(source0: DataFrame, failAfterGroups: Int, onDriver: Boolean): Snapshot = {
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
    try merge(snap, setFields, source, failAfterGroups, onDriver)
    finally source.unpersist()
  }

  private def merge(snap: Snapshot, setFields: Seq[FieldDef],
      source: DataFrame, failAfterGroups: Int, onDriver: Boolean): Snapshot = {
    val all = table.entries(snap)
    val delFlag = deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false)))

    // 1. ONE collect of the source answers every scalar the planner
    // needs, exactly. Its rows are the key, the payload (the delete flag
    // and one `_new_<phys>` per SET column, cast to the declared type)
    // and, when the driver may write inserts from them (copy-on-write
    // with a WHEN NOT MATCHED clause), the source columns; only the keys
    // come back when the rows pass the cap, and the keys alone were
    // always O(source rows)
    val payload = delFlag.map(_.as(Del)).toSeq ++
      setFields.map(f => col(f.name).cast(f.sparkType).as(s"_new_${f.phys}"))
    val insertsHeld = insertUnmatched && !mergeOnRead
    val collected = source.select((col("image_id") +: payload) ++
      (if (insertsHeld) source.columns.map(source(_)).toSeq else Nil): _*)
    val (whole, parts) = DriverIO.collectOrKeys(collected, 0 to delFlag.size)
    val keyRows = parts.flatten
    val ids = keyRows.map(r => if (r.isNullAt(0)) null else r.getUTF8String(0).toString)
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
    // the source rows the driver keeps: key, payload and, for inserts
    // it may write, source columns
    val held = Some(parts).filter(_ => whole && onDriver)

    // 2. prune candidate files by image_id range overlap with the source,
    // compared in the unsigned UTF-8 order the manifest stats are
    // harvested in (String's UTF-16 order disagrees on supplementary
    // characters and would prune a file that holds a match). With the
    // NOT MATCHED BY SOURCE clause every live file is a candidate — an
    // unmatched row can live anywhere.
    val candidates =
      if (notMatchedBySourceDelete) all
      else if (ids.isEmpty) Nil
      else {
        val srcMin = ids.reduce((a, b) => if (QTable.utf8Leq(a, b)) a else b)
        val srcMax = ids.reduce((a, b) => if (QTable.utf8Leq(a, b)) b else a)
        all.filter(f => QTable.utf8Leq(srcMin, f.imageIdMax) &&
          QTable.utf8Leq(f.imageIdMin, srcMax))
      }

    // 3. per candidate file, the source keys its live rows match and,
    // under NOT MATCHED BY SOURCE, whether it holds unmatched rows —
    // both kinds must rewrite (CoW) or contribute delete positions (MOR)
    val perFile =
      if (candidates.isEmpty) Map.empty[String, (Seq[String], Long)]
      else (if (onDriver) discoverOnDriver(snap, candidates, ids) else None)
        .getOrElse(discover(snap, candidates, ids))
    val matchedIds = perFile.valuesIterator.flatMap(_._1).toSet
    val affected = candidates.filter(f => perFile.get(QTable.fileName(f.path)).exists {
      case (m, unmatched) => m.nonEmpty || (notMatchedBySourceDelete && unmatched > 0)
    })

    // 4. inserts = source ids that matched nothing; a delete-flagged row
    //    that matched nothing is a no-op, not an insert. With no WHEN NOT
    //    MATCHED clause (`insertUnmatched = false`) unmatched source rows
    //    are simply ignored, per ANSI. Counted on the driver; the rows
    //    come from an anti-join against the matched ids, already known.
    val inserted = ids.indices.map(i => insertUnmatched && !flagged(i) && !matchedIds.contains(ids(i)))
    val insertCount = inserted.count(identity).toLong
    val insertRows = if (insertCount == 0) None else Some {
      val base = source.where(!delFlag.getOrElse(lit(false)))
        .drop(deleteCol.toSeq: _*)
      val rows =
        if (matchedIds.isEmpty) base
        else base.join(keyFrame(matchedIds.toSeq), Seq("image_id"), "left_anti")
      aligned(rows, snap)
    }
    // the same rows from the held source, aligned on the driver, per
    // source partition: the input partitions of the job path's inserts
    val heldInserts = held.filter(_ => insertsHeld && insertCount > 0).flatMap { ps =>
      val srcAt = 1 + payload.size
      val srcRow = UnsafeProjection.create(source.schema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(srcAt + i, f.dataType, f.nullable)
      })
      val starts = ps.scanLeft(0)(_ + _.length)
      val picked = ps.indices.map(p =>
        ps(p).indices.filter(i => inserted(starts(p) + i)).map(i => srcRow(ps(p)(i)).copy()))
      val local = DriverIO.frame(source.sparkSession, source.schema, picked.flatten)
      DriverIO.local(aligned(local.drop(deleteCol.toSeq: _*), snap)).map { rows =>
        val at = picked.scanLeft(0)(_ + _.size)
        picked.indices.map(p => rows.slice(at(p), at(p + 1)).toSeq)
      }
    }
    // no matched ACTION at all (insert-only merge): matched ids are
    // discovered (the inserts exclude them) but their files are never
    // rewritten — the merge is a pure append of unmatched rows
    val noMatchedAction =
      setFields.isEmpty && deleteCol.isEmpty && !notMatchedBySourceDelete
    val updatedRows =
      if (noMatchedAction) 0L
      else ids.indices.count(i => !flagged(i) && matchedIds.contains(ids(i))).toLong

    // each target row's matched source payload as one struct column, or
    // null where no source row matches: a key lookup into the held rows,
    // or a left join against a broadcast of the payload
    val byKey = held.filter(_ => !noMatchedAction).map { ps =>
      val fields = collected.schema.fields.slice(1, 1 + payload.size)
      val value = UnsafeProjection.create(fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(1 + i, f.dataType, f.nullable)
      })
      KeyTable(table.spark.sparkContext, ps.iterator.flatten, 0, StructType(fields), value)
    }
    val withSource: DataFrame => DataFrame = byKey match {
      case Some(t) => _.withColumn(Src, KeyLookup.column(col("image_id"), t))
      case None =>
        val bySource = broadcast(source.select(col("image_id"), struct(payload: _*).as(Src)))
        _.join(bySource, Seq("image_id"), "left")
    }

    // WHEN MATCHED: delete-flagged rows drop, SET columns take the source
    // value where non-null; WHEN NOT MATCHED BY SOURCE THEN DELETE drops
    // every unmatched row; other unmatched rows are kept untouched
    def postImage(live: DataFrame): DataFrame = {
      val matched = col(Src).isNotNull
      val dropped = (deleteCol.map(_ => matched && col(s"$Src.$Del")).toSeq ++
        Seq(!matched).filter(_ => notMatchedBySourceDelete)).reduceOption(_ || _)
      val marked = RowLevelWrite.mark(withSource(live), dropped.getOrElse(lit(false)), matched)
      setFields.foldLeft(marked)((p, f) =>
        p.withColumn(f.phys, coalesce(col(s"$Src._new_${f.phys}"), col(f.phys))))
        .drop(Src)
    }

    try new RowLevelWrite(table, snap, jobId, "merge").write(
      RowChange(affected, Some(postImage _).filter(_ => !noMatchedAction), insertRows,
        insertRows = heldInserts),
      mergeOnRead, concurrency, failAfterGroups, onDriver) { c =>
      Map("source-rows" -> ids.length.toString,
        "rows-updated" -> updatedRows.toString,
        "rows-inserted" -> insertCount.toString,
        "rows-deleted" -> c.deletedRows.toString,
        "files-rewritten" -> c.filesRewritten.toString) ++
        (if (mergeOnRead) Map("strategy" -> "merge-on-read") else Map.empty)
    } finally byKey.foreach(_.destroy())
  }

  /** A broadcast frame of `keys` under `image_id`. */
  private def keyFrame(keys: Seq[String]): DataFrame = broadcast(
    table.spark.createDataFrame(keys.map(Tuple1(_))).toDF("image_id"))

  /** New rows of a source frame with their bucket, on the physical schema. */
  private def aligned(rows: DataFrame, snap: Snapshot): DataFrame =
    JobPlanning.alignToPhysical(
      rows.withColumn("pbucket", JobPlanning.bucketOf(snap.buckets)), snap)

  /** [[discover]]'s result from the ids of `files`, read on the driver
    * with no job and tested against `ids`; None when a live delete
    * applies to the files (their live rows are then not their stored
    * rows) or they pass [[DriverDiscoverRows]] or [[DriverDiscoverFiles]].
    * The read holds only the matches and one count per file. */
  private def discoverOnDriver(snap: Snapshot, files: Seq[DataFileEntry],
      ids: Seq[String]): Option[Map[String, (Seq[String], Long)]] = {
    if (table.deletesApply(snap, files) || files.size > DriverDiscoverFiles ||
        files.map(_.rowCount).sum > DriverDiscoverRows) return None
    DriverIO.plain(table.scan(files, snap.physicalSchema).select(col("image_id"))
      .queryExecution.sparkPlan)
      .map { plan =>
        val keys = new java.util.HashSet[UTF8String]()
        ids.foreach(i => keys.add(UTF8String.fromString(i)))
        val found = scala.collection.mutable.HashMap.empty[String, (List[String], Long)]
        var (file, name) = (null: PartitionedFile, "")
        plan.read(plan.partitions.flatMap(_.files)) { (f, r) =>
          if (f ne file) { file = f; name = f.toPath.getName }
          val id = r.getUTF8String(0)
          val (m, u) = found.getOrElse(name, (Nil, 0L))
          found(name) = if (keys.contains(id)) (id.toString :: m, u) else (m, u + 1)
          true
        }
        found.toMap
      }
  }

  /** Per file of `files` that holds a live row, the source `ids` its
    * rows match and, under NOT MATCHED BY SOURCE, its unmatched row
    * count (0 otherwise), by file name: one collect of the live rows
    * joined with a broadcast of the keys. */
  private def discover(snap: Snapshot, files: Seq[DataFileEntry],
      ids: Seq[String]): Map[String, (Seq[String], Long)] = {
    // the read is delete-applied: a position-deleted row must neither
    // count as a match (else its file is needlessly rewritten) nor
    // suppress an INSERT of the same key (else the source row would
    // vanish — the merge-on-read resurrect/lose bug). The scan's
    // `__gpath` (= `_metadata.file_path`, captured before the delete
    // anti-join: Spark does not resolve `_metadata` through a join)
    // names each row's file
    val live = table.decorate(table.scan(files, snap.physicalSchema)
      .withColumn("__gpath", col("_metadata.file_path")), Some(snap), snap, files)
      .select(col("image_id"), col("__gpath"))
    if (notMatchedBySourceDelete)
      // one row per FILE plus its matched ids
      live.join(keyFrame(ids).withColumn("_mm", lit(true)), Seq("image_id"), "left")
        .groupBy("__gpath")
        .agg(collect_set(when(col("_mm"), col("image_id"))).as("ids"),
          count(when(col("_mm").isNull, 1)).as("u"))
        .collect()
        .map(r => QTable.fileName(r.getString(0)) -> (r.getSeq[String](1), r.getLong(2)))
        .toMap
    else
      // O(matches): source rows times their table copies
      live.join(keyFrame(ids), Seq("image_id")).collect()
        .groupBy(r => QTable.fileName(r.getString(1)))
        .map { case (f, rs) => f -> (rs.map(_.getString(0)).toSeq, 0L) }
  }
}

object MergeJob {
  /** The post-image's matched-source struct and its delete-flag field. */
  private val Src = "__src"
  private val Del = "__del"

  /** The most candidate rows, and files, whose ids MERGE's discovery
    * reads on the driver; past either the job's parallel read is faster.
    * On 4 cores (local[4]) the driver read cost about 1.45 ms per file
    * and 0.16 us per row, the job 100-185 ms: the driver won at 300k
    * rows in 8 and in 64 files (by 15 ms in 64) and lost at 1M
    * (`BENCH/discover_crossover.scala`, `BENCH/NOTES.md`). Not a memory
    * bound: the read holds only the matches. */
  private val DriverDiscoverRows = 1L << 18
  private val DriverDiscoverFiles = 64
}
