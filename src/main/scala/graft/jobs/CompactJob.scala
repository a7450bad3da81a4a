package graft.jobs

import graft.format.QTable
import graft.model._

/** Small-file compaction: bin-pack files below the small-file threshold
  * into ~targetFileBytes outputs, one partition group (pbucket range) at a
  * time, each group checkpointed for idempotent resume.
  *
  * Scale notes (the part that must survive 100 TB):
  *  - planning is pure manifest metadata — no data scan;
  *  - the rewrite is a SHUFFLE-FREE scan-and-write: scan splits are sized
  *    to targetFileBytes (`spark.sql.files.maxPartitionBytes` pinned for
  *    the job), so every task reads ~target bytes of small files and
  *    writes exactly one right-sized output file. Parallelism is
  *    #outputFiles × #concurrent groups — it grows with the data, unlike
  *    a `coalesce(nOut)` plan whose read parallelism is capped at the
  *    output file count (the round-1 scaling bug);
  *  - untouched (already-large) files are carried into the new snapshot
  *    by reference, the copy-on-write analogue of the reference skipping
  *    re-compression of already-gzipped blobs
  *    (`google_cloud_storage_client.py:150-154`).
  */
class CompactJob(
    table: QTable,
    targetFileBytes: Long = 8L << 20,
    smallFileFraction: Double = 0.75,
    jobId: String = java.util.UUID.randomUUID().toString,
    concurrency: Int = 4,
    minGroupBytes: Long = -1L,
    bucketScope: Option[Set[Int]] = None) {

  private val threshold = (targetFileBytes * smallFileFraction).toLong

  /** Groups of small files keyed by partition bucket; only groups with
    * >= 2 small files have compaction work. Adjacent bucket groups are
    * coalesced until each carries enough bytes that per-group job
    * overhead amortizes — group count adapts to table size, so the same
    * planner works at 40 MB and at 100 TB.
    *
    * `bucketScope` restricts planning to the named buckets (files
    * outside ride into the new snapshot untouched, by reference): at
    * 100 TB nobody compacts the whole table in one run — maintenance
    * rolls bucket ranges across scheduler windows, and the analyze
    * report says which buckets carry the debt. */
  def plan(snap: Snapshot): Seq[RewriteGroup] = plan(snap, table.deletePairs(snap))

  /** `delPairs` = [[QTable.deletePairs]] of `snap`: files carrying
    * position deletes are MANDATORY compaction work regardless of size —
    * rewriting them (delete-applied) is what folds merge-on-read deletes
    * back into clean data files, so every read stops paying the
    * anti-join (Iceberg's delete-file-threshold rewrite criterion). A
    * group containing such a file runs even with a single member.
    * Files an EQUALITY delete can apply to (older seq, overlapping key
    * range — [[QTable.eqDeleteInputsFor]]'s rule) are mandatory for the
    * same reason: the rewrite reads delete-applied and its outputs get
    * a fresh seq above every live delete, which is what lets
    * [[QTable.retainEqDeletes]] drop the entries. */
  def plan(snap: Snapshot, delPairs: Seq[(String, String)]): Seq[RewriteGroup] = {
    val entries = table.entries(snap)
    val delRef = delPairs.map(_._2).toSet ++
      table.eqAffectedNames(snap, entries)
    def hasDeletes(e: DataFileEntry) =
      delRef.contains(graft.format.QTable.fileName(e.path))
    // shallow-clone localization: entries referencing files OUTSIDE the
    // table root ([[QTable.cloneTo]]) are mandatory work regardless of
    // size — a clone compact is the "localize before source cleanup"
    // operation, and a right-sized external file left by reference
    // would keep the clone hostage to the source's retention forever
    def isExternal(e: DataFileEntry) = !QTable.ownedBy(e.path, table.root)
    val small = entries
      .filter(e => e.byteCount < threshold || hasDeletes(e) || isExternal(e))
      .filter(e => bucketScope.forall(_.contains(e.pbucketMin)))
    // days(ts) partition spec: never merge files across days — group
    // work per (day, bucket) so compaction PRESERVES the date layout
    // (same-day files pack together; pre-spec straddlers form their own
    // compartment and stay straddlers until a spec-aware re-append)
    JobPlanning.dayCompartments(snap, small).flatMap { case (prefix, sub) =>
      val perBucket = sub.groupBy(_.pbucketMin).toSeq
        .filter { case (_, fs) =>
          fs.size >= 2 || fs.exists(hasDeletes) || fs.exists(isExternal) }
        .sortBy(_._1)
      JobPlanning.coalesceGroups(perBucket, targetFileBytes, minGroupBytes)
        .map { case (name, fs) => RewriteGroup(prefix + name, fs) }
    }
  }

  /** Run compaction; `failAfterGroups` is a test hook simulating a killed
    * driver after k committed groups. Returns the new snapshot. */
  def run(failAfterGroups: Int = Int.MaxValue): Snapshot = {
    val snap = table.currentSnapshot
    val rewrite = new GroupRewrite(table, snap, jobId, "compact")
    val plans = plan(snap, rewrite.deletePairs)
    if (plans.isEmpty) return snap

    // isolated session: split-size confs are session-scoped, so pinning
    // them here can never race another job planning scans on the shared
    // session (e.g. a concurrent MERGE under CommitRetry)
    val jobTable = new graft.format.QTable(table.root, table.spark.newSession())
    val outputs = JobPlanning.withScanSplitBytes(jobTable.spark, targetFileBytes) {
      // decorated read: rewriting a file folds its position deletes into
      // the output (a no-op join when the set is empty) and BAKES initial
      // defaults in — a raw scan would overwrite a live default with
      // stored nulls (the output file's seq postdates the add-column
      // commit)
      rewrite.run(plans, concurrency, failAfterGroups)(g =>
        jobTable.readEntriesForRewrite(snap, g.replaces))
    }
    // fold position deletes: every delete-referenced file in scope was
    // rewritten (delete-applied), so only entries still referencing a
    // surviving out-of-scope file stay — an unscoped run clears the set
    rewrite.commit(plans, outputs, Map(
      "files-rewritten" -> plans.map(_.replaces.size).sum.toString,
      "bytes-rewritten" -> plans.map(_.bytes).sum.toString,
      "groups" -> plans.size.toString))
  }
}
