package graft.jobs

import graft.format.{QTable, TableWrite}
import graft.model.{DataFileEntry, LineageEntry, Snapshot}
import org.apache.spark.sql.DataFrame

/** One group of a [[GroupRewrite]]. `name` keys its checkpoint entry and
  * its output directory; `replaces` are the data files its output
  * replaces in the commit; `reads` are the files whose live rows decide
  * that output. The two differ only for MERGE's inserts group, which
  * reads the affected files and replaces none. */
final case class RewriteGroup(name: String, replaces: Seq[DataFileEntry],
    reads: Seq[DataFileEntry]) {
  def bytes: Long = reads.map(_.byteCount).sum
}

object RewriteGroup {
  def apply(name: String, files: Seq[DataFileEntry]): RewriteGroup =
    RewriteGroup(name, files, files)

  /** One group per (day, bucket) of `files` ([[JobPlanning.dayCompartments]]),
    * named `b<bucket>` with its day's prefix, so a rewrite never writes
    * a day-straddling file. */
  def perBucket(files: Seq[DataFileEntry], snap: Snapshot): Seq[RewriteGroup] =
    JobPlanning.dayCompartments(snap, files).flatMap { case (prefix, sub) =>
      sub.groupBy(_.pbucketMin).toSeq.sortBy(_._1)
        .map { case (b, fs) => RewriteGroup(s"${prefix}b$b", fs.sortBy(_.path)) }
    }
}

/** The checkpointed group rewrite that compact, cluster, rebucket and
  * the copy-on-write side of [[RowLevelWrite]] run over one snapshot:
  *  1. [[run]] hands the groups to [[GroupRunner]] — concurrent,
  *     retried, largest first, and skipped where a `committed` lineage
  *     entry has the group's current identity;
  *  2. each attempt writes its group into its own fresh directory
  *     ([[QTable.newAttemptDir]]), on the driver where the job's driver
  *     writer takes the group, else from the frame the job builds for
  *     it with a write job; it harvests the directory
  *     and records `committed` lineage; a group that exhausts its
  *     retries records `failed` lineage. Nothing is deleted before a
  *     write: a crashed attempt's output is an orphan;
  *  3. [[commit]] carries every live file no group replaces, keeps the
  *     delete entries that still reference one, commits, and clears the
  *     checkpoint.
  * The jobs keep their planning and their row transforms. */
class GroupRewrite(table: QTable, snap: Snapshot, jobId: String, op: String) {

  private val ckpt = new Checkpoint(table, jobId)
  /** The [[Timing]] and `GRAFT_TIMING` name: `cluster` for both curves. */
  private val family = op.takeWhile(_ != '-')

  /** [[QTable.deletePairs]] of the snapshot (a Spark job when it has
    * position deletes): compaction plans with it, [[commit]] folds with
    * it. */
  lazy val deletePairs: Seq[(String, String)] = table.deletePairs(snap)

  /** A group's checkpoint identity: the files it reads plus the delete
    * files that apply to them. An output written before a concurrent
    * DELETE or upsert landed folded fewer deletes, so it re-runs. */
  private def identity(g: RewriteGroup): Seq[String] = {
    val paths = g.reads.map(_.path)
    paths ++ table.deleteInputsFor(snap, paths) ++
      table.eqDeleteInputsFor(snap, g.reads)
  }

  /** Rewrites each group from the frame `rows` builds for it, or on the
    * driver where `onDriver` writes the group's files into the attempt
    * directory it is given (returning false, having written nothing,
    * where it does not). `failAfterGroups` is [[GroupRunner]]'s
    * kill/resume test hook. */
  def run(groups: Seq[RewriteGroup], concurrency: Int,
      failAfterGroups: Int = Int.MaxValue,
      onDriver: (RewriteGroup, String) => Boolean = (_, _) => false)(
      rows: RewriteGroup => DataFrame): Seq[LineageEntry] =
    GroupRunner.run[RewriteGroup](groups, _.name, identity, ckpt.committed,
      failAfterGroups, concurrency,
      onFailure = gf => ckpt.commit(LineageEntry(jobId, op, gf.group,
        Nil, Nil, 0L, 0L, "failed", gf.attempts)),
      sizeOf = _.bytes) { g =>
      val dir = table.newAttemptDir(jobId, g.name)
      // the write time is the driver write's, or the write job's without
      // the frame's planning
      val tDriver = System.nanoTime()
      val job = if (onDriver(g, dir)) None else Some(rows(g))
      val t0 = if (job.isEmpty) tDriver else System.nanoTime()
      job.foreach(TableWrite.parquet(_, dir))
      val t1 = System.nanoTime()
      val path = if (job.isEmpty) "driver" else "job"
      val files = table.harvest(dir)
      val t2 = System.nanoTime()
      Timing.record(family, g.name, (t1 - t0) / 1e9)
      if (sys.env.contains("GRAFT_TIMING"))
        System.err.println(f"[timing] $family ${g.name}%-8s files=${g.reads.size}%3d " +
          f"bytes=${g.bytes / (1 << 20)}%5d MiB nOut=${files.size}%3d path=$path%-6s " +
          f"write=${(t1 - t0) / 1e9}%7.2fs harvest=${(t2 - t1) / 1e9}%6.2fs")
      val entry = LineageEntry(jobId, op, g.name, identity(g), files,
        files.map(_.rowCount).sum, files.map(_.byteCount).sum,
        "committed", attempt = 1)
      ckpt.commit(entry)
      entry
    }

  /** Commits `outputs` in place of the files `groups` replace. Every
    * other live file carries by reference, and a delete entry survives
    * only while a surviving file can hold a row it kills. The
    * checkpoint is cleared afterwards: a finished job id must never be
    * resumable against a later snapshot. */
  def commit(groups: Seq[RewriteGroup], outputs: Seq[LineageEntry],
      summary: Map[String, String],
      bucketsOverride: Option[Int] = None,
      propertiesOverride: Option[Map[String, String]] = None): Snapshot = {
    val replaced = groups.flatMap(_.replaces.map(_.path)).toSet
    val untouched = table.entries(snap).filterNot(f => replaced.contains(f.path))
    val committed = table.commit(Some(snap), op,
      untouched ++ outputs.flatMap(_.outputFiles),
      Map("job-id" -> jobId) ++ summary,
      bucketsOverride = bucketsOverride,
      deletesOverride = Some(
        if (untouched.isEmpty) Nil
        else table.retainDeletes(snap, deletePairs, untouched.map(_.path))),
      eqDeletesOverride = Some(table.retainEqDeletes(snap, untouched)),
      propertiesOverride = propertiesOverride)
    ckpt.clear()
    committed
  }
}
