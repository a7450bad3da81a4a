package graft.jobs

import graft.format.QTable
import graft.model.Snapshot
import org.apache.spark.sql.functions._

/** Consolidate the live position-delete files (Iceberg's
  * `rewrite_position_delete_files` analogue): many small DELETE / MOR
  * MERGE commits each add a delete file, and every scan opens all of
  * them — N tiny files of (file_path, pos) rows where one sorted file
  * would do. This job reads the live delete set, drops duplicate
  * addresses (two predicates may have marked the same row), rewrites it
  * as few right-sized files sorted by (file_path, pos), and commits
  * metadata-only (manifests carried by reference; data files untouched).
  *
  * Row-preserving by construction — the live row set is identical
  * before and after — so incremental scans and the changelog skip it
  * like compact. O(delete rows) total work; a no-op return when the
  * consolidation would not reduce the file count.
  *
  * This is the DELETE-side half of maintenance debt; the data-side half
  * (folding deletes into data files) belongs to compact/cluster, which
  * plan delete-referenced files as mandatory work.
  *
  * POSITION deletes only: equality-delete files cannot be merged without
  * tracking per-KEY sequence numbers (two entries at different seqs may
  * hold the same key, and collapsing them to one seq would change which
  * data files the key dies in) — their debt folds through compact
  * instead, which plans eq-affected files as mandatory work and lets
  * [[QTable.retainEqDeletes]] drop spent entries.
  */
class RewriteDeletesJob(
    table: QTable,
    jobId: String = java.util.UUID.randomUUID().toString) {

  def run(): Snapshot = {
    val snap = table.currentSnapshot
    val dels = snap.deleteFiles
    if (dels.size <= 1) return snap

    val all = table.scan(dels, table.deleteSchema)
      .select(col("file_path"), col("pos"))
      .distinct()
    val (written, n) = DeleteJob.writeDeleteFiles(table,
      all, table.newAttemptDir(jobId, "deletes"))
    if (written.size >= dels.size) return snap // nothing gained

    table.commit(Some(snap), "rewrite-deletes", Nil,
      Map("job-id" -> jobId,
        "delete-files-before" -> dels.size.toString,
        "deleted-rows" -> n.toString),
      reuseManifests = snap.manifests,
      deletesOverride = Some(written))
  }
}
