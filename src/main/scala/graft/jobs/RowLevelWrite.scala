package graft.jobs

import graft.format.{DriverIO, QTable}
import graft.model.{DataFileEntry, Snapshot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._

/** What one row-level statement changes, as [[RowLevelWrite]] takes it.
  *
  * `postImage` runs over the live rows of `affected` (physical schema,
  * deletes applied, defaults baked, `_row_id` when the table tracks
  * lineage, and the scan address `__gpath`/`__gpos` under merge-on-read)
  * and marks each row with [[RowLevelWrite.mark]] as kept, patched or
  * dropped; patched rows carry their new values under logical or
  * physical names. Only changed rows matter under merge-on-read, so a
  * post-image that runs there alone (DELETE's) may leave its kept rows
  * out and carry just the address of the rows it drops — its predicate
  * then still pushes into the scan. With no post-image the affected
  * files only decide the inserts (an insert-only MERGE): nothing is
  * rewritten or deleted.
  *
  * `inserts` are new rows (physical schema with `pbucket`), `dropped`
  * whole files removed at metadata level and `deletedKeys` an
  * `image_id` frame whose older rows an equality delete kills; the last
  * two are merge-on-read only. `insertRows` are the rows of `inserts`
  * when the caller holds them on the driver, as `UnsafeRow`s per
  * partition of the frame's input, in order: copy-on-write may then
  * write them there ([[JobPlanning.layoutNewRowsOnDriver]]). */
final case class RowChange(
    affected: Seq[DataFileEntry] = Nil,
    postImage: Option[DataFrame => DataFrame] = None,
    inserts: Option[DataFrame] = None,
    dropped: Seq[DataFileEntry] = Nil,
    deletedKeys: Option[DataFrame] = None,
    insertRows: Option[Seq[Seq[InternalRow]]] = None)

/** What a [[RowLevelWrite]] did, for the job's summary. `deletedRows`
  * is the live rows the statement removed: under copy-on-write the live
  * rows of the rewritten files minus the rows their rewrite kept, under
  * merge-on-read the position-deleted rows that were not re-appended as
  * post-images; rows already dead before the statement count under
  * neither. `filesScanned`/`filesTotal` are the files the merge-on-read
  * scan of the affected files opened, out of those it was given. */
final case class RowCounts(deletedRows: Long, positions: Long, deleteFiles: Int,
    eqDeleteKeys: Long, filesRewritten: Int, filesScanned: Int, filesTotal: Int)

/** The one row-level write behind MERGE, UPDATE, DELETE and upsert: a
  * job plans its affected files and post-image ([[RowChange]]), this
  * writes and commits them with either strategy — Iceberg v2's
  * copy-on-write / merge-on-read dial. Both produce the same logical
  * table; the trade is write against read amplification.
  *
  * Copy-on-write: only the affected files are rewritten, per bucket
  * group, through [[GroupRewrite]] — checkpointed, concurrent and
  * resumable like every rewrite job; every other file carries by
  * reference, and a file whose rows all drop contributes no output.
  * The inserts are one more group of the same pass, which reads the
  * affected files (their live rows decide which source rows insert) and
  * replaces none, so a stale inserts output re-runs instead of being
  * reused, and the write overlaps the rewrites. Small groups run on the
  * driver ([[graft.format.DriverIO]]) with no Spark job, into the files
  * the job path writes: a bucket group whose post-image is a plain scan
  * and whose files and rows fit [[graft.format.DriverIO.Cap]] is read,
  * marked and split as `coalesce(files)` splits it; inserts the caller
  * holds on the driver are laid out as the bucket repartition lays out
  * a batch it coalesces into one task. Groups with live deletes,
  * initial defaults or row lineage (their read is not a plain scan), a
  * post-image that joins (MERGE's broadcast of a payload over the cap),
  * a `maxRecordsPerFile` limit or rows over the cap, and inserts over
  * the coalescing bound or on a day-partitioned table, keep the job
  * path.
  *
  * Merge-on-read: no data file is rewritten. The changed rows' old
  * versions become position deletes — one `(file_path, pos)` write —
  * and the patched rows append with the inserts as new files, so the
  * commit costs O(changed rows) instead of O(affected files' bytes):
  * the right shape when matches are sparse across huge files. Reads pay
  * the delete anti-join ([[QTable.decorate]]) until a compact or
  * cluster folds it. Data manifests carry by reference; with whole-file
  * drops only the manifests holding a dropped entry are rewritten, and
  * delete entries left referencing no live file fold with them. No
  * per-group checkpoint: the writes are small and the commit atomic — a
  * killed run leaves only orphans for the sweep.
  *
  * CHECK constraints ([[Constraints]]) veto the patched rows and the
  * inserts on both strategies before any file is written. */
class RowLevelWrite(table: QTable, snap: Snapshot, jobId: String, op: String) {
  import RowLevelWrite._

  /** Writes `change` with the chosen strategy and commits it as `op`
    * with the job's summary (plus `job-id`); returns the snapshot
    * unchanged, committing nothing, when nothing changed.
    * `failAfterGroups` is the copy-on-write kill/resume test hook, and
    * `onDriver` allows its driver path (both write the same files). */
  def write(change: RowChange, mergeOnRead: Boolean, concurrency: Int = 4,
      failAfterGroups: Int = Int.MaxValue, onDriver: Boolean = true)(
      summary: RowCounts => Map[String, String]): Snapshot =
    if (mergeOnRead) delta(change, summary)
    else rewrite(change, concurrency, failAfterGroups, onDriver, summary)

  /** The rows of a marked frame that pass `keep`, on the physical schema. */
  private def rows(marked: DataFrame, keep: Column): DataFrame =
    JobPlanning.alignToPhysical(
      marked.where(keep).drop(Status, "__gpath", "__gpos"), snap)

  /** One constraint pass over the new row content, before any write. */
  private def veto(patched: => Option[DataFrame], inserts: Option[DataFrame]): Unit =
    if (Constraints.of(snap).nonEmpty)
      (patched.toSeq ++ inserts).reduceOption(_.unionByName(_)).foreach(df =>
        Constraints.enforce(Constraints.logicalView(df, snap), snap, op.toUpperCase))

  private def rewrite(change: RowChange, concurrency: Int, failAfterGroups: Int,
      onDriver: Boolean, summary: RowCounts => Map[String, String]): Snapshot = {
    require(change.dropped.isEmpty && change.deletedKeys.isEmpty,
      "whole-file drops and equality deletes are merge-on-read only")
    val post = change.postImage.filter(_ => change.affected.nonEmpty)
    veto(post.map(p => rows(p(table.readEntriesForRewrite(snap, change.affected)),
      col(Status) === Patched)), change.inserts)
    val groups = if (post.isEmpty) Nil else RewriteGroup.perBucket(change.affected, snap)
    val insertGroup = change.inserts.map(_ => RewriteGroup(InsertsGroup, Nil, change.affected)).toSeq
    // nothing to rewrite or insert: the table already is the result
    if (groups.isEmpty && insertGroup.isEmpty) {
      new Checkpoint(table, jobId).clear(); return snap
    }
    def kept(g: RewriteGroup): DataFrame =
      rows(post.get(table.readEntriesForRewrite(snap, g.replaces)), col(Status) =!= Dropped)
    // one output file per input file at most
    def files(g: RewriteGroup): Int = math.max(1, g.replaces.size)
    val rewrite = new GroupRewrite(table, snap, jobId, op)
    val outputs = rewrite.run(insertGroup ++ groups, concurrency, failAfterGroups,
      onDriver = (g, dir) => onDriver && (
        if (g.name == InsertsGroup) change.insertRows.exists(
          JobPlanning.layoutNewRowsOnDriver(change.inserts.get, _, snap, dir))
        else keptOnDriver(g, kept(g), files(g), dir))) { g =>
      // inserts land in their hash buckets; the layout repartitions by
      // bucket so a large batch spreads (AQE coalesces a tiny one)
      if (g.name == InsertsGroup) JobPlanning.layoutNewRows(change.inserts.get, snap)
      else kept(g).coalesce(files(g))
    }
    val rewritten = groups.flatMap(_.replaces)
    val removed = liveRows(rewritten) -
      outputs.filter(_.group != InsertsGroup).map(_.rowCount).sum
    rewrite.commit(insertGroup ++ groups, outputs, summary(RowCounts(removed,
      positions = 0L, deleteFiles = 0, eqDeleteKeys = 0L,
      filesRewritten = rewritten.size, filesScanned = 0, filesTotal = 0)))
  }

  /** A bucket group's kept rows, read, marked and written into `dir` on
    * the driver as `coalesce(files)` splits them ([[DriverIO.coalesce]];
    * partition 0 is written even when empty, as the job writes it).
    * Returns false, having written nothing, when its files or rows pass
    * [[DriverIO.Cap]], under a `maxRecordsPerFile` limit, or when its
    * plan is not a plain scan. */
  private def keptOnDriver(g: RewriteGroup, kept: => DataFrame, files: Int, dir: String): Boolean =
    g.bytes <= DriverIO.Cap && table.spark.sessionState.conf.maxRecordsPerFile <= 0 &&
      DriverIO.collect(kept).exists { case (output, parts) =>
        DriverIO.write(table.spark, DataTypeUtils.fromAttributes(output), dir,
          DriverIO.coalesce(parts.map(_.toSeq), files).zipWithIndex.collect {
            case (rows, p) if p == 0 || rows.nonEmpty => p -> rows.iterator
          })
        true
      }

  /** The live rows of `files`: their row counts when no delete applies
    * to them, else one count of their delete-applied read. */
  private def liveRows(files: Seq[DataFileEntry]): Long =
    if (!table.deletesApply(snap, files)) files.map(_.rowCount).sum
    else table.readEntriesForRewrite(snap, files).count()

  private def delta(change: RowChange, summary: RowCounts => Map[String, String]): Snapshot = {
    import change._
    // the changed rows with their addresses, cached: the counts, the
    // veto, the delete write and the post-image write all read them
    val scanned = postImage.filter(_ => affected.nonEmpty).map { p =>
      val (scan, index) = table.scanIndexed(affected, table.rewriteSchema(snap))
      val live = table.decorate(scan.withColumn("__gpath", col("_metadata.file_path"))
        .withColumn("__gpos", col("_metadata.row_index")), Some(snap), snap, affected)
      (p(live).where(col(Status) =!= Kept).cache(), index)
    }
    val changed = scanned.map(_._1)
    try {
      val patched = changed.map(_.where(col(Status) === Patched).count()).getOrElse(0L)
      val patchedRows = changed.filter(_ => patched > 0).map(rows(_, col(Status) === Patched))
      veto(patchedRows, inserts)
      val (posEntries, positions) = changed.map(c => DeleteJob.writeDeleteFiles(table,
        c.select(col("__gpath").as("file_path"), col("__gpos").as("pos")),
        table.newAttemptDir(jobId, "deletes"))).getOrElse((Nil, 0L))
      val (eqEntries, eqKeys) = deletedKeys.map(k => UpsertJob.writeEqDeleteFiles(table,
        k, table.newAttemptDir(jobId, "eq-deletes"))).getOrElse((Nil, 0L))
      if (positions == 0 && inserts.isEmpty && dropped.isEmpty && eqEntries.isEmpty) return snap
      val out = (patchedRows.toSeq ++ inserts).reduceOption(_.unionByName(_))
        .map(JobPlanning.writeNewRows(table, jobId, _, snap)).getOrElse(Nil)

      // whole-file drops: reuse every manifest they leave untouched and
      // rewrite the touched ones without them — O(touched manifests);
      // delete entries whose files all dropped fold away
      val names = dropped.map(e => QTable.fileName(e.path)).toSet
      def isDropped(f: DataFileEntry) = names.contains(QTable.fileName(f.path))
      val (reuse, carried, survivors) =
        if (dropped.isEmpty) (snap.manifests, Nil, None)
        else {
          val perManifest = snap.manifests.map(m => m -> table.readManifest(m).files)
          val (clean, touched) = perManifest.partition(!_._2.exists(isDropped))
          (clean.map(_._1), touched.flatMap(_._2).filterNot(isDropped),
            Some(perManifest.flatMap(_._2).filterNot(isDropped)))
        }
      val posDeletes = survivors.fold(snap.deleteFiles)(s =>
        table.retainDeletes(snap, table.deletePairs(snap), s.map(_.path)))
      val eqDeletes = survivors.fold(snap.eqDeleteFiles)(table.retainEqDeletes(snap, _))
      val (sc, tot) = scanned.fold((0, 0))(_._2.lastSelection)
      table.commit(Some(snap), op, carried ++ out,
        Map("job-id" -> jobId) ++ summary(RowCounts(positions - patched, positions,
          posEntries.size, eqKeys, filesRewritten = 0, filesScanned = sc, filesTotal = tot)),
        reuseManifests = reuse,
        deletesOverride = Some(posDeletes ++ posEntries),
        eqDeletesOverride = Some(eqDeletes ++ eqEntries))
    } finally changed.foreach(_.unpersist())
  }
}

object RowLevelWrite {
  /** The post-image's row mark column and its values. */
  val Status = "__row"
  val Kept = 0
  val Patched = 1
  val Dropped = 2

  /** The checkpoint group of the copy-on-write inserts; partition groups
    * are named `b<bucket>` or `d<day>-b<bucket>`, so it cannot collide. */
  private val InsertsGroup = "inserts"

  /** Marks each row of `df`: dropped where `dropped` holds, else patched
    * where `patched` holds, else kept. */
  def mark(df: DataFrame, dropped: Column, patched: Column): DataFrame =
    df.withColumn(Status,
      when(dropped, Dropped).when(patched, Patched).otherwise(Kept))

  /** The table's strategy for `op` (`merge` or `update`): merge-on-read
    * when the Iceberg property `write.<op>.mode` says so, read through
    * `prop`. */
  def mergeOnRead(prop: String => Option[String], op: String): Boolean =
    prop(s"write.$op.mode").contains("merge-on-read")
}
