package graft.jobs

import graft.format.QTable
import graft.model.Snapshot

/** Roll the table back to an earlier retained snapshot.
  *
  * Implemented as a NEW commit that re-points at the target version's
  * manifest list (never by rewinding the version counter): history stays
  * linear and auditable, concurrent readers are unaffected, and the bad
  * snapshots remain inspectable until ExpireSnapshotsJob collects them —
  * the same forward-rollback Iceberg exposes as
  * `rollback_to_snapshot`. Metadata-only: no data file is touched.
  */
class RollbackJob(table: QTable) {

  def run(toVersion: Long): Snapshot = {
    val cur = table.currentSnapshot
    require(toVersion != cur.version, s"already at v$toVersion")
    require(table.listVersions.contains(toVersion),
      s"v$toVersion is not a retained snapshot (have: ${table.listVersions.mkString(",")})")
    val target = table.snapshotAt(toVersion)
    // bucket count must travel WITH the manifests being restored: rolling
    // back across a RebucketJob commit would otherwise pair old-layout
    // manifests with the new bucket count, and every later append/merge
    // would assign pbucket with the wrong modulus.
    // The SCHEMA deliberately does NOT roll back (Iceberg semantics:
    // rollback restores data, not schema): the head schema is kept, and
    // the physical-name invariant (files always store creation-time
    // names) makes any schema/manifest pairing readable.
    // the position-delete set travels WITH the manifests being restored:
    // carrying the head's deletes would keep rows dead that the target
    // snapshot has live (and vice versa after rolling back a delete)
    //
    // row lineage cannot roll back across its own enablement: the
    // target's manifests predate id stamping, so restoring them under a
    // lineage-on head would alias every file to id base 0. nextRowId
    // itself stays at the HEAD's high-water mark (commit carries the
    // parent's), so ids are never REUSED after an ordinary rollback.
    require(!(cur.rowLineage && !target.rowLineage),
      s"cannot roll back across enable-row-lineage: v$toVersion predates " +
        "id stamping (pick a target at or after the enable commit)")
    table.commit(Some(cur), "rollback", Nil,
      Map("rolled-back-to" -> toVersion.toString,
        "rolled-back-from" -> cur.version.toString),
      reuseManifests = target.manifests,
      bucketsOverride = Some(target.buckets),
      deletesOverride = Some(target.deleteFiles),
      eqDeletesOverride = Some(target.eqDeleteFiles))
  }
}

object RollbackJob {
  /** Resolve a rollback target from the CLI's three addressing modes:
    * explicit version, immutable tag name ("restore the release
    * snapshot"), or timestamp ("undo everything since noon") — the same
    * resolution surface the read-side time travel exposes. Exactly one
    * mode must be given. */
  def resolveTarget(t: QTable, to: Option[String], tag: Option[String],
                    asOfTs: Option[String]): Long = {
    require(Seq(to, tag, asOfTs).count(_.isDefined) == 1,
      "rollback needs exactly one of --to V, --tag N, --as-of-ts T")
    to.map(_.toLong)
      .orElse(tag.map(n => graft.format.Tags.ref(t, n).version))
      .orElse(asOfTs.map(ts =>
        t.snapshotAsOf(graft.spark.QTableSource.parseTs(ts)).version))
      .get
  }
}

/** Publish a branch to main: a NEW main commit re-pointing at the
  * branch head's manifests, schema, bucket count, and delete sets —
  * metadata-only, no data file touched (the same forward-commit shape
  * as rollback; history stays linear and auditable on main, the branch
  * keeps its own chain).
  *
  * TRUE fast-forward semantics (Iceberg's `fast_forward`): main's
  * current head must be an ANCESTOR of the branch head — if main
  * advanced past the fork, blindly adopting the branch would silently
  * discard main's newer commits; that case needs an explicit merge
  * (re-run the branch's changes against main, or roll main back first).
  *
  * Sequence-number soundness: the branch's data files and delete
  * entries are adopted WHOLESALE with their original seqs (a chain that
  * was internally consistent stays so); main's next commits stamp above
  * the fast-forward version, which exceeds every adopted seq. */
class FastForwardJob(table: QTable) {

  def run(branch: String): Snapshot = {
    val cur = table.currentSnapshot
    val bv = graft.format.Branches.head(table, branch)
    require(bv != cur.version, s"branch $branch is already at the main head")
    val target = table.snapshotAt(bv)
    // ancestry walk from the branch head down: main's head must be on it
    var s = target
    var ancestor = false
    while (!ancestor && s.parentVersion >= 0) {
      ancestor = s.parentVersion == cur.version
      if (!ancestor) s = try table.snapshotAt(s.parentVersion)
        catch { case _: Exception =>
          throw new IllegalStateException(
            s"cannot prove v${cur.version} is an ancestor of branch " +
              s"$branch (v$bv): the chain is expired below v${s.version} — " +
              "retain more history or merge explicitly") }
    }
    require(ancestor,
      s"main (v${cur.version}) is not an ancestor of branch $branch " +
        s"(v$bv): main advanced past the fork — merge explicitly instead")
    table.commit(Some(cur), "fast-forward", Nil,
      Map("from-branch" -> branch, "fast-forwarded-to" -> bv.toString),
      reuseManifests = target.manifests,
      bucketsOverride = Some(target.buckets),
      schemaOverride = Some(target.schemaFields),
      deletesOverride = Some(target.deleteFiles),
      eqDeletesOverride = Some(target.eqDeleteFiles),
      lastFieldIdOverride =
        Some(math.max(cur.highestFieldId, target.highestFieldId)),
      // publish adopts the branch's properties like its schema
      propertiesOverride = Some(target.props),
      // row-id high-water mark: max of both chains, so neither ref's
      // assigned ranges can ever be re-issued after the publish
      nextRowIdOverride =
        Some(math.max(cur.nextRowId, target.nextRowId)))
  }
}

/** Apply ONE commit's appended rows to main without publishing the
  * whole branch (Iceberg `cherrypick_snapshot` analogue): a new main
  * commit referencing exactly the data files the picked commit ADDED —
  * metadata-only, no data copied or rewritten, parent manifests reused
  * by reference (the ordinary cheap-append shape).
  *
  * Only APPEND commits are pickable — Iceberg's rule too: a
  * merge/delete/rewrite's file diff bakes in its own parent's content,
  * and replaying it onto a different head would resurrect or lose rows.
  * The picked entries are RE-STAMPED with the pick commit's data seq
  * (Iceberg re-commits the manifests as newly added): the rows are new
  * AS OF THE PICK, so a live equality delete on main (strictly-older
  * rule) does not retro-kill them and a later initial default does not
  * overwrite what they stored — exactly the semantics of appending the
  * same rows fresh.
  *
  * Refusals (each names the remedy): non-append source; a source
  * already on main's chain (re-adding its files would double rows — or
  * resurrect them if main later deleted); any picked file already live
  * on main (prior pick or fast-forward); bucket-count mismatch (a
  * rebucketed main would misplace the adopted files' pbucket layout);
  * field-level schema incompatibility (same id+physical name must carry
  * the same — or a widened — type on main; fields main lacks are
  * invisible, which is the standard evolution contract, but a RETYPED
  * id would silently reinterpret stored bytes, so it refuses). */
class CherryPickJob(table: QTable) {

  def run(version: Long): Snapshot = {
    val cur = table.currentSnapshot
    val target = table.snapshotAt(version)
    require(target.operation == "append",
      s"cherry-pick source v$version is a '${target.operation}' commit; " +
        "only append commits can be re-applied (their delta is " +
        "self-contained) — use fast-forward to publish a whole branch")
    // refuse a source already on main's chain
    var s = cur
    while (s.parentVersion >= 0 && s.version > version)
      s = try table.snapshotAt(s.parentVersion)
      catch { case _: Exception => throw new IllegalStateException(
        s"cannot prove v$version is off main's chain: history is " +
          s"expired below v${s.version} — retain more history") }
    require(s.version != version,
      s"v$version is already on main's chain — picking it again would " +
        "duplicate (or resurrect) its rows")
    require(target.buckets == cur.buckets,
      s"bucket-count mismatch: picked files are laid out for " +
        s"${target.buckets} buckets, main is at ${cur.buckets} — " +
        "rebucket the branch (or pick before rebucketing main)")
    // field-level schema compatibility on the fields the files may carry
    val mainById = cur.schemaFields.map(f => f.id -> f).toMap
    val widenOk = Map("int" -> "long", "float" -> "double")
    target.schemaFields.foreach { f =>
      mainById.get(f.id).foreach { m =>
        require(m.phys == f.phys &&
          (m.dtype == f.dtype || widenOk.get(f.dtype).contains(m.dtype)),
          s"schema conflict on field id ${f.id}: picked files wrote " +
            s"'${f.phys}: ${f.dtype}', main declares " +
            s"'${m.phys}: ${m.dtype}' — the adopted bytes would be " +
            "reinterpreted; evolve main (or the branch) first")
      }
    }
    val parent = table.snapshotAt(target.parentVersion)
    val parentManifests = parent.manifests.map(_.path).toSet
    val picked = target.manifests
      .filterNot(m => parentManifests.contains(m.path))
      .flatMap(m => table.readManifest(m).files)
    require(picked.nonEmpty, s"v$version added no data files")
    val live = table.entries(cur).map(_.path).toSet
    val dup = picked.filter(f => live.contains(f.path))
    require(dup.isEmpty,
      s"${dup.size} picked file(s) are already live on main (a prior " +
        "cherry-pick or fast-forward) — nothing to apply")
    // seq AND row-id base re-stamp: the rows are new as of the pick. A
    // branch's id ranges overlap main's post-fork assignments (each
    // chain advances nextRowId independently), so adopted ids must be
    // freshly issued from MAIN's high-water mark — fast-forward gets to
    // keep branch ids only because its ancestry check proves main never
    // advanced past the fork.
    table.commit(Some(cur), "cherry-pick",
      picked.map(_.copy(seq = graft.model.DataFileEntry.UnstampedSeq,
        firstRowId = graft.model.DataFileEntry.UnstampedRowId)),
      Map("cherry-picked-from" -> version.toString),
      reuseManifests = cur.manifests)
  }
}

/** Delete data files under the table root that no retained snapshot and
  * no live checkpoint references — the leftovers of crashed or abandoned
  * job attempts (a killed driver's half-written group output that was
  * never resumed). At 10^12-image scale leaked files are real money;
  * every lakehouse ships this (Iceberg `remove_orphan_files`).
  *
  * Safety: only files under `<root>/data` are candidates; anything
  * referenced by ANY retained snapshot version or recorded as output in
  * a live checkpoint lineage entry survives, and — like Iceberg's
  * `older_than` guard — files younger than `graceMs` are never touched:
  * an in-flight group writes its part files BEFORE its lineage entry
  * exists, so a zero-grace sweep racing that group would delete data
  * mid-write. Default grace is 24h; tests pass 0 on quiesced tables.
  *
  * Crashed and retried write attempts are what this sweep reclaims:
  * every attempt writes its own `data/<jobId>/<group>/<attempt-uuid>`
  * directory ([[QTable.newAttemptDir]]), and no writer deletes one.
  *
  * Scale: `<root>/data` holds one directory per job id, each listed
  * recursively, so above `distributeThreshold` job directories the
  * listing fans out as a Spark job (one task lists one job dir) and
  * candidates resolve
  * via an anti-join against the referenced/in-flight paths instead of a
  * driver-side Set — the sweep never materializes the file list on one
  * node. Deletes run in the same distributed pass.
  */
class RemoveOrphanFilesJob(table: QTable, graceMs: Long = 24L * 3600 * 1000,
    distributeThreshold: Int = 8) {

  final case class Result(deleted: Int, kept: Int)

  def run(dryRun: Boolean = false): Result = {
    val conf = table.hadoopConf
    val cutoff = System.currentTimeMillis() - graceMs
    import graft.format.ParquetStats

    val jobDirs = table.io.listDirNames(table.dataDir).map(n => s"${table.dataDir}/$n")

    // delete files live under data/<jobId>/deletes and are referenced
    // inline by snapshots — sweeping a live one would resurrect its rows
    val referenced: Seq[String] =
      table.listVersions.flatMap { v =>
        val s = table.snapshotAt(v)
        table.entries(s).map(_.path) ++ s.deleteFiles.map(_.path) ++
          s.eqDeleteFiles.map(_.path)
      }.distinct
    // outputs recorded by live (unfinished) job checkpoints
    val inFlight: Seq[String] =
      table.io.listDirNames(s"${table.metadataDir}/checkpoints")
        .flatMap(jobId => new Checkpoint(table, jobId).all)
        .flatMap(_.outputFiles.map(_.path))
        .distinct

    if (jobDirs.size < distributeThreshold) {
      // driver path: one recursive listing (mtime piggybacked), Set probe
      val onDisk = ParquetStats.listParquetFiles(table.dataDir, conf)
        .collect { case f if f.mtime <= cutoff => f.path }
      val keep = (referenced ++ inFlight).toSet
      var deleted = 0
      onDisk.foreach { p =>
        if (!keep.contains(p)) {
          if (!dryRun) {
            val hp = new org.apache.hadoop.fs.Path(p)
            if (hp.getFileSystem(conf).delete(hp, false)) deleted += 1
          } else deleted += 1
        }
      }
      Result(deleted, onDisk.size - deleted)
    } else {
      // distributed path: per-job-dir listing tasks -> anti-join against
      // the keep set -> distributed delete
      val spark = table.spark
      import spark.implicits._
      val props = ParquetStats.confProps(conf)
      val slices = math.min(jobDirs.size,
        math.max(2, spark.sparkContext.defaultParallelism * 2))
      val onDisk = spark.sparkContext.parallelize(jobDirs, slices)
        .mapPartitions { it =>
          val c = ParquetStats.confFromProps(props)
          it.flatMap(d => ParquetStats.listParquetFiles(d, c).map(f => (f.path, f.mtime)))
        }
        .toDF("path", "mtime")
        .where(org.apache.spark.sql.functions.col("mtime") <= cutoff)
        .select("path").cache()
      val total = onDisk.count()
      val keep = (referenced ++ inFlight).toDF("path")
      val candidates = onDisk.join(keep, Seq("path"), "left_anti")
      val deleted =
        if (dryRun) candidates.count().toInt
        else candidates.as[String].rdd.mapPartitions { it =>
          val c = ParquetStats.confFromProps(props)
          var n = 0
          it.foreach { p =>
            val hp = new org.apache.hadoop.fs.Path(p)
            if (hp.getFileSystem(c).delete(hp, false)) n += 1
          }
          Iterator.single(n)
        }.sum().toInt
      onDisk.unpersist()
      Result(deleted, total.toInt - deleted)
    }
  }
}
