package graft

import graft.format.{Catalog, QTable, Tags}
import graft.jobs._
import graft.model.Snapshot
import graft.verify.ScanEquivalence
import org.apache.spark.sql.SparkSession

/** The one implementation of the maintenance verbs both front ends
  * share — the Iceberg stored-procedure shape (`CALL
  * system.rewrite_data_files`) as the single maintenance surface.
  * [[graft.Main]] parses argv into the argument map; `CALL
  * qtable.<verb>(...)` ([[graft.spark.QTableCallCommand]]) maps its
  * `snake_case` names to the same `kebab-case` keys (`target_mb => 4` is
  * `--target-mb 4`); both render the summary map [[run]] returns. A flag
  * given without a value reads `true`; `false` turns it off.
  *
  * Verbs and their arguments (CLI spelling; every table verb takes
  * `table` — a path or a catalog name — plus `branch`, and `staged` for
  * the committing ones):
  *  - compact [target-mb] [job-id] [concurrency] [scope B1,B2]
  *  - cluster [target-mb] [hilbert] [incremental] [by c1,c2] [job-id]
  *    [concurrency] [scope] — `by` persists as the sort.order property
  *  - expire [keep] [older-than-hours H] [dry-run] — dry-run prices the
  *    reclaim (`dead-*` counts), deletes nothing
  *  - rewrite-manifests [entries-per-manifest]
  *  - remove-orphans [grace-hours H] [dry-run]
  *  - analyze [target-mb] — the metadata-only debt report
  *  - maintain [target-mb] [hilbert] [incremental] [keep] [dry-run]
  *    [scope] [grace-hours] — compact, cluster, rewrite-manifests, the
  *    scan-equivalence gate, then expire and the orphan sweep;
  *    with `auto` one debt-driven tick instead, its dials
  *    [small-debt-ratio] [delete-row-ratio] [max-delete-files]
  *    [overlap-threshold] [entries-per-manifest] [max-versions]
  *  - set-constraint name expr / drop-constraint name
  *  - set-property key value / unset-property key
  *  - clone target — shallow clone
  *  - tag name [version] / untag name
  *  - rollback (to V | tag N | as-of-ts T)
  *  - register name table [catalog] / unregister name [catalog] /
  *    tables [catalog]
  *
  * Precedence for `target-mb`, `keep` and the `auto` dials: explicit
  * argument > table property (`write.target-mb`, `retention.keep-last`,
  * `auto.<dial>`) > built-in default. */
object Procedures {

  val verbs: Seq[String] = Seq(
    "compact", "cluster", "expire", "rewrite-manifests", "remove-orphans",
    "analyze", "maintain", "set-constraint", "drop-constraint",
    "set-property", "unset-property", "clone", "tag", "untag", "rollback",
    "register", "unregister", "tables")

  /** A scan-equivalence gate refused the destructive tail; `summary` is
    * the verb's report, with the rollback target when there is one. */
  final class GateFailed(val summary: Map[String, String])
    extends IllegalStateException(summary.getOrElse("note", summary.toString))

  /** The argument helpers every verb reads through, CLI-only ones too. */
  final class Args(verb: String, val opts: Map[String, String],
      spark: SparkSession) {

    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"$verb needs the '$k' argument"))

    def flag(k: String): Boolean = opts.get(k).exists(_.toBoolean)

    /** `table` is a path or a catalog name (see [[Catalog.resolveTableArg]]). */
    def tableRoot: String = Catalog.resolveTableArg(spark, req("table"))

    /** The handle jobs commit through: on `branch` when given (which
      * `branch` and `fast-forward` read as the ref they create or
      * publish). Under `staged` a job claims its commit but the version
      * hint stays put (write-audit-publish: `verify --staged`, then
      * `publish` or `abort-staged`); a branch is already an unpublished
      * line of history, so the two do not compose. */
    def table: QTable = {
      val t0 = QTable(tableRoot, spark)
      val t = opts.get("branch")
        .filterNot(_ => verb == "branch" || verb == "fast-forward")
        .map(t0.onBranch).getOrElse(t0)
      if (flag("staged")) t.staged else t
    }

    /** A main-head table property; None when the table does not exist
      * yet or the verb carries no table. */
    def tableProp(k: String): Option[String] =
      try QTable(tableRoot, spark).currentSnapshotOpt.flatMap(_.props.get(k))
      catch { case _: Exception => None }

    def targetBytes: Long = opts.get("target-mb")
      .orElse(tableProp("write.target-mb"))
      .map(_.toLong << 20).getOrElse(128L << 20)

    def keep: Int =
      opts.get("keep").orElse(tableProp("retention.keep-last")).getOrElse("2").toInt

    /** Fixed once per invocation: CommitRetry re-enters the job body on a
      * conflict, and a fresh id per attempt would orphan the losing
      * attempt's checkpoint instead of resuming it. */
    lazy val jobId: String =
      opts.getOrElse("job-id", java.util.UUID.randomUUID().toString)

    /** Group fan-out: the session's core count by default. */
    def concurrency: Int = opts.get("concurrency").map(_.toInt)
      .getOrElse(math.max(2, spark.sparkContext.defaultParallelism))

    /** `scope 0,3,5`: restrict a rewrite to the named buckets. */
    def bucketScope: Option[Set[Int]] =
      opts.get("scope").map(_.split(",").map(_.trim.toInt).toSet)

    def graceHours: String = opts.getOrElse("grace-hours", "24")

    def graceMs: Long = (graceHours.toDouble * 3600 * 1000).toLong

    def entriesPerManifest: Int = opts.getOrElse("entries-per-manifest", "512").toInt

    def catalogRoot: String = opts.get("catalog").orElse(Catalog.rootFor(spark))
      .getOrElse(throw new IllegalArgumentException("no catalog configured: " +
        s"pass catalog DIR or set ${Catalog.ConfKey} / ${Catalog.EnvKey}"))
  }

  def run(verb: String, opts: Map[String, String],
      spark: SparkSession): Map[String, String] = {
    val a = new Args(verb, opts, spark)
    verb match {
      case "compact" =>
        committed(CommitRetry.withCommitRetry()(new CompactJob(a.table,
          a.targetBytes, jobId = a.jobId, concurrency = a.concurrency,
          bucketScope = a.bucketScope).run()))

      case "cluster" =>
        // incremental: sort only files added since the last cluster
        // commit into a new sorted run; by c1,c2: cluster by 1-3 user
        // columns instead of the image zkey
        committed(CommitRetry.withCommitRetry()(new ClusterJob(a.table,
          a.targetBytes, hilbert = a.flag("hilbert"), jobId = a.jobId,
          concurrency = a.concurrency, bucketScope = a.bucketScope,
          incremental = a.flag("incremental"),
          sortBy = a.opts.get("by").map(_.split(",").toSeq.map(_.trim))).run()))

      case "expire" =>
        // older-than-hours: commits younger than the cutoff never expire
        val cutoff = a.opts.get("older-than-hours").map(h =>
          System.currentTimeMillis() - (h.toDouble * 3600 * 1000).toLong)
        val res = new ExpireSnapshotsJob(a.table)
          .run(a.keep, cutoff, dryRun = a.flag("dry-run"))
        val dead = if (res.dryRun) "dead" else "deleted"
        Map(
          "dry-run" -> res.dryRun.toString,
          "expired-versions" -> res.expiredVersions.mkString(","),
          s"$dead-data-files" -> res.deletedDataFiles.toString,
          s"$dead-manifests" -> res.deletedManifests.toString,
          "reclaimable-bytes" -> res.reclaimableBytes.toString) ++
          (if (res.externalSkipped == 0) Map.empty[String, String]
          else Map("external-files-skipped" -> res.externalSkipped.toString))

      case "rewrite-manifests" =>
        val snap = CommitRetry.withCommitRetry()(
          new RewriteManifestsJob(a.table).run(a.entriesPerManifest))
        committed(snap) + ("manifests-after" -> snap.manifests.size.toString)

      case "remove-orphans" =>
        val res = new RemoveOrphanFilesJob(a.table, a.graceMs).run(a.flag("dry-run"))
        Map("deleted" -> res.deleted.toString, "kept" -> res.kept.toString,
          "grace-hours" -> a.graceHours, "dry-run" -> a.flag("dry-run").toString)

      case "analyze" =>
        val r = new AnalyzeJob(a.table, a.targetBytes).run()
        Map(
          "version" -> r.version.toString,
          "operation" -> r.operation,
          "retained-versions" -> r.retainedVersions.toString,
          "tags" -> r.tags.toString,
          "files" -> r.files.toString,
          "total-bytes" -> r.totalBytes.toString,
          "avg-file-bytes" -> r.avgFileBytes.toString,
          "small-files" -> r.smallFiles.toString,
          "small-file-debt-bytes" -> r.smallFileDebtBytes.toString,
          "manifests" -> r.manifests.toString,
          "avg-entries-per-manifest" -> r.avgEntriesPerManifest.toString,
          "bloom-coverage" -> f"${r.bloomCoverage}%.3f",
          "ndv-coverage" -> f"${r.ndvCoverage}%.3f",
          "cluster-overlap" -> f"${r.clusterOverlap}%.2f",
          "worst-bucket-overlap" -> f"${r.worstBucketOverlap}%.2f",
          "schema-fields" -> r.schemaFields.toString,
          "delete-files" -> r.deleteFiles.toString,
          "delete-rows" -> r.deleteRows.toString,
          "eq-delete-files" -> r.eqDeleteFiles.toString,
          "eq-delete-keys" -> r.eqDeleteKeys.toString,
          "external-files" -> r.externalFiles.toString,
          "external-bytes" -> r.externalBytes.toString)

      case "maintain" =>
        // the steps chain commits; a staged first commit would hold the
        // claim the second needs — stage individual jobs instead
        require(!a.flag("staged"),
          "maintain does not compose with staged; stage individual jobs")
        if (a.flag("auto")) maintainTick(a) else maintainPass(a)

      case "set-constraint" =>
        // refused unless existing data satisfies it; thereafter every
        // new-row writer vetoes violating batches (only FALSE violates)
        val snap = CommitRetry.withCommitRetry()(
          Constraints.set(a.table, a.req("name"), a.req("expr")))
        Map("version" -> snap.version.toString,
          "name" -> a.req("name"), "expr" -> a.req("expr"))

      case "drop-constraint" =>
        val snap = CommitRetry.withCommitRetry()(
          Constraints.drop(a.table, a.req("name")))
        Map("version" -> snap.version.toString, "name" -> a.req("name"))

      case "set-property" =>
        val snap = CommitRetry.withCommitRetry()(
          a.table.setProperties(Map(a.req("key") -> a.req("value"))))
        Map("version" -> snap.version.toString,
          "key" -> a.req("key"), "value" -> a.req("value"))

      case "unset-property" =>
        val snap = CommitRetry.withCommitRetry()(
          a.table.unsetProperties(Seq(a.req("key"))))
        Map("version" -> snap.version.toString, "key" -> a.req("key"))

      case "clone" =>
        // see QTable.cloneTo for the version floor and file ownership
        committed(a.table.cloneTo(a.req("target")).currentSnapshot) +
          ("target" -> a.req("target"))

      case "tag" =>
        // immutable named snapshot ref; survives expiry until untagged
        val ref = Tags.create(a.table, a.req("name"),
          a.opts.get("version").map(_.toLong).getOrElse(-1L))
        Map("name" -> ref.name, "version" -> ref.version.toString,
          "created-at-ms" -> ref.createdAtMs.toString)

      case "untag" =>
        Map("name" -> a.req("name"),
          "deleted" -> Tags.delete(a.table, a.req("name")).toString)

      case "rollback" =>
        // not commit-retried: a lost race means another writer committed
        // after the operator chose the target, and a retry would discard it
        val t = a.table
        val to = RollbackJob.resolveTarget(
          t, a.opts.get("to"), a.opts.get("tag"), a.opts.get("as-of-ts"))
        committed(new RollbackJob(t).run(to)) + ("rolled-back-to" -> to.toString)

      case "register" =>
        // `table` is the raw root the name will point at
        Catalog.register(a.catalogRoot, a.req("name"), a.req("table"), spark)
        Map("catalog" -> a.catalogRoot, "name" -> a.req("name"),
          "table" -> a.req("table"))

      case "unregister" =>
        val removed = Catalog.unregister(a.catalogRoot, a.req("name"), spark)
        Map("catalog" -> a.catalogRoot, "name" -> a.req("name"),
          "removed" -> removed.toString)

      case "tables" =>
        Catalog.list(a.catalogRoot, spark).toMap

      case other => throw new IllegalArgumentException(
        s"not a shared verb: $other (have: ${verbs.mkString(", ")})")
    }
  }

  private def committed(s: Snapshot): Map[String, String] =
    s.summary + ("version" -> s.version.toString)

  /** One debt-driven tick: analyze (metadata-only), launch only the jobs
    * whose debt crossed its dial, gate, destructive tail. A clean table
    * commits nothing, so this can run on every scheduler tick. */
  private def maintainTick(a: Args): Map[String, String] = {
    def dial(k: String, dflt: String): String =
      a.opts.get(k).orElse(a.tableProp(s"auto.$k")).getOrElse(dflt)
    val cfg = AutoMaintain.Config(
      smallDebtRatio = dial("small-debt-ratio", "0.10").toDouble,
      deleteRowRatio = dial("delete-row-ratio", "0.02").toDouble,
      maxDeleteFiles = dial("max-delete-files", "16").toInt,
      overlapThreshold = dial("overlap-threshold", "1.5").toDouble,
      entriesPerManifest = dial("entries-per-manifest", "512").toInt,
      maxRetainedVersions = dial("max-versions", "12").toInt)
    val res =
      try AutoMaintain.run(a.table, a.targetBytes, cfg, a.jobId, a.concurrency,
        a.bucketScope, hilbert = a.flag("hilbert"), keep = a.keep,
        graceMs = a.graceMs, dryRun = a.flag("dry-run"))
      catch {
        case e: IllegalStateException => throw new GateFailed(Map("auto" -> "true",
          "scan-equivalent" -> "false", "note" -> e.getMessage))
      }
    Map(
      "auto" -> "true",
      "actions" -> (if (res.plan.isNoop) "(none)" else res.plan.actions.mkString(",")),
      "reasons" -> (if (res.plan.reasons.isEmpty) "(table clean)"
        else res.plan.reasons.mkString("; ")),
      "pre-version" -> res.preVersion.toString,
      "version" -> res.postVersion.toString,
      "scan-equivalent" -> res.scanEquivalent.map(_.toString).getOrElse("(no rewrites)"),
      "expired-versions" -> (if (res.expiredVersions.isEmpty) "(none)"
        else res.expiredVersions.mkString(",")),
      "orphans-deleted" -> res.orphansDeleted.toString,
      "dry-run" -> a.flag("dry-run").toString)
  }

  /** The composite pass (the OPTIMIZE+VACUUM analogue): compact ->
    * cluster -> rewrite-manifests -> gate -> expire -> orphan sweep, each
    * step its own commit under a step-scoped job id so a killed run
    * resumes the step it died in. The rewrites keep old snapshots as
    * rollback targets, and the scan-equivalence gate must pass before
    * the destructive tail runs. `dry-run` skips expiry and only counts
    * orphans. `scope` narrows both rewrites; the gate checks the full
    * table. */
  private def maintainPass(a: Args): Map[String, String] = {
    val t = a.table
    val pre = t.currentSnapshot
    val snapC = CommitRetry.withCommitRetry()(new CompactJob(t, a.targetBytes,
      jobId = s"${a.jobId}-compact", concurrency = a.concurrency,
      bucketScope = a.bucketScope).run())
    // incremental composes: the cluster then sorts exactly compact's
    // outputs and other post-cluster debt into a new run
    val snapZ = CommitRetry.withCommitRetry()(new ClusterJob(t, a.targetBytes,
      hilbert = a.flag("hilbert"), jobId = s"${a.jobId}-cluster",
      concurrency = a.concurrency, bucketScope = a.bucketScope,
      incremental = a.flag("incremental")).run())
    val snapM = CommitRetry.withCommitRetry()(
      new RewriteManifestsJob(t).run(a.entriesPerManifest))
    val (okV, badV) = ScanEquivalence.check(t.read(pre), t.read(snapM))
    if (!okV) throw new GateFailed(Map(
      "scan-equivalent" -> "false", "violations" -> badV.toString,
      "rollback-target" -> pre.version.toString,
      "note" -> "destructive tail skipped; rollback --to restores the pre-maintenance snapshot"))
    val dryRun = a.flag("dry-run")
    val ex = if (dryRun) None else Some(new ExpireSnapshotsJob(t).run(a.keep))
    val orph = new RemoveOrphanFilesJob(t, a.graceMs).run(dryRun)
    committed(snapM) ++ Map(
      "compact-version" -> snapC.version.toString,
      "cluster-version" -> snapZ.version.toString,
      "scan-equivalent" -> okV.toString,
      "violations" -> badV.toString,
      "dry-run" -> dryRun.toString,
      "expired-versions" -> ex.map(_.expiredVersions.mkString(",")).getOrElse("(dry-run)"),
      "orphans-deleted" -> orph.deleted.toString)
  }
}
