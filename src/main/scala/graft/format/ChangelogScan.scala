package graft.format

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Row-level changelog (CDC) between two table versions — the surface
  * [[QTable.readIncremental]] deliberately refuses: a consumer that must
  * follow a table THROUGH merges and rollbacks, not just appends
  * (Delta's Change Data Feed / Iceberg's changelog scan, re-derived over
  * qtable metadata instead of logged change files).
  *
  * Emits one row per logical change in (fromV, toV], tagged
  * `_change_type` ∈ {insert, delete, update_preimage, update_postimage}
  * and `_commit_version` (the snapshot that introduced it). Ordering
  * within a commit is unspecified, as in Delta CDF.
  *
  * Scale shape — the walk is per-commit and each commit costs O(its own
  * touched files), never O(table):
  *  - row-preserving rewrites (compact/cluster/rebucket/
  *    rewrite-manifests/schema evolution) are skipped without reading a
  *    byte — the manifest diff may be huge but the LOGICAL row set is
  *    unchanged by construction (verified per-rewrite by ScanEquivalence);
  *  - appends resolve from the manifest diff alone (appends commit parent
  *    manifests by reference, so the diff is O(appended metadata)) and
  *    emit their files as inserts with NO join;
  *  - merges/rollbacks read only the files the commit removed (pre-image)
  *    and added (post-image) and diff them with one full-outer join on
  *    the primary key; copy-on-write copies (same key, identical row) are
  *    suppressed by a null-safe whole-row comparison, so a merge that
  *    rewrote a 512 MB file to patch 40 rows contributes 40 changes, not
  *    the file. The join shuffles only touched-file rows; AQE broadcasts
  *    the small side of a surgical merge.
  *
  * Net-diff caveat (same as Delta CDF): a key changed by k commits in the
  * range emits k changes — consumers wanting the net state read the `to`
  * snapshot instead.
  */
object ChangelogScan {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Ops whose commits never change the logical row set. Kept in sync
    * with [[QTable]]'s incremental-scan skip list by the changelog spec. */
  private[format] val RowPreserving: Set[String] = Set(
    "compact", "cluster-zorder", "cluster-hilbert", "rebucket",
    "rewrite-manifests", "rewrite-deletes", "add-column", "rename-column",
    "drop-column", "widen-column", "analyze-ndv", "set-properties",
    "enable-row-lineage")

  def changes(t: QTable, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changelog range reversed: v$fromV > v$toV")
    val spark = t.spark
    val to = t.snapshotAt(toV)
    val phys = to.physicalSchema

    // the chain (fromV, toV] is the PARENT-POINTER walk from toV down to
    // fromV (not an integer range: once branches exist, version numbers
    // are global across refs and a ref's history skips the numbers other
    // refs claimed). fromV must be an ancestor of toV on this chain.
    val chain = {
      val buf = List.newBuilder[graft.model.Snapshot]
      var s = t.snapshotAt(toV)
      var done = s.version <= fromV
      while (!done) {
        buf += s
        require(s.parentVersion >= fromV,
          s"v$fromV is not an ancestor of v$toV (the walk reached " +
            s"v${s.version} whose parent is v${s.parentVersion}) — " +
            "changelog endpoints must lie on one ref's chain")
        done = s.parentVersion == fromV || s.parentVersion < 0
        if (!done) s = t.snapshotAt(s.parentVersion)
      }
      buf.result().reverse
    }
    val parts: Seq[DataFrame] = chain.flatMap { s =>
      val v = s.version
      s.operation match {
        case op if RowPreserving.contains(op) || op == "create" => None
        case "clone" =>
          // clone-birth (parentVersion = -1): the cloned dataset IS the
          // commit's change — every LIVE row emits as an insert. Routed
          // through rowDiff with an empty removed side so the clone's
          // adopted position/equality deletes apply (entries alone would
          // over-emit killed rows); with no pre-side keys, suppression
          // never fires and the cost stays O(clone's live rows).
          Some(rowDiff(t, s, s, to,
            removed = Nil, added = t.entries(s).map(_.path).sorted, phys, v))
        case "append" | "cherry-pick" => // both add files, parent manifests by reference
          val parentManifests = t.snapshotAt(s.parentVersion)
            .manifests.map(_.path).toSet
          val ents = s.manifests.filterNot(m => parentManifests.contains(m.path))
            .flatMap(m => t.readManifest(m).files)
          // the changelog presents every commit under the TO endpoint's
          // schema, so TO's initial defaults apply to files predating
          // their add-column commit — same rule as read(to)
          Some(t.withInitialDefaults(t.scan(ents, phys), to, ents)
            .withColumn(ChangeTypeCol, lit("insert"))
            .withColumn(CommitVersionCol, lit(v)))
        case _ => // merge, rollback, delete, upsert — anything row-changing:
          // file-set diff, widened by delete changes of BOTH flavors
          val parent = t.snapshotAt(s.parentVersion)
          val entAfter = t.entries(s)
          val before = t.entries(parent).map(_.path).toSet
          val after = entAfter.map(_.path).toSet
          // data files present on BOTH sides whose applicable
          // position-delete set changed (a merge-on-read DELETE commit,
          // or a rollback across one, changes no data file at all):
          // their live rows differ, so they join the diff on both sides
          // — reads below are delete-applied per side, and the
          // identical-row suppression in rowDiff drops the untouched
          // majority. O(delete rows) metadata work, never O(table).
          val delBefore = t.deletePairs(parent).groupMap(_._2)(_._1)
          val delAfter = t.deletePairs(s).groupMap(_._2)(_._1)
          // same rule for EQUALITY deletes (an upsert commit): a carried
          // file whose applicable eq-delete set changed has different
          // live rows. The applicability test is metadata-only (seq +
          // key-range overlap); the pre-image read this forces is the
          // honest CDC cost of scan-free upserts — every overlapping
          // older file is a candidate until identical-row suppression
          // drops its untouched keys.
          val delChanged = (before intersect after).filter { p =>
            val n = QTable.fileName(p)
            delBefore.getOrElse(n, Nil).toSet != delAfter.getOrElse(n, Nil).toSet
          }.toSeq.sorted
          val eqChanged = entAfter
            .filter(e => before.contains(e.path))
            .filter(e => t.eqDeleteInputsFor(parent, Seq(e)).toSet !=
              t.eqDeleteInputsFor(s, Seq(e)).toSet)
            .map(_.path).filterNot(delChanged.contains).sorted
          val bothSides = delChanged ++ eqChanged
          Some(rowDiff(t, parent, s, to,
            removed = (before -- after).toSeq.sorted ++ bothSides,
            added = (after -- before).toSeq.sorted ++ bothSides,
            phys, v))
      }
    }

    val logical = to.schemaFields.map(f => col(f.phys).as(f.name)) ++
      Seq(col(ChangeTypeCol), col(CommitVersionCol))
    if (parts.isEmpty) {
      val out = StructType(to.storedSchema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType, nullable = false),
        StructField(CommitVersionCol, LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    } else parts.map(_.select(logical: _*)).reduce(_ union _)
  }

  /** Row-level diff of one commit: pre-image rows (files it removed, read
    * under the PARENT's delete set) full-outer-joined on the primary key
    * against post-image rows (files it added, under the commit's delete
    * set). image_id is a base field, so its physical name is stable
    * across every schema evolution. */
  private def rowDiff(t: QTable, parent: graft.model.Snapshot,
      s: graft.model.Snapshot, to: graft.model.Snapshot,
      removed: Seq[String], added: Seq[String],
      phys: StructType, v: Long): DataFrame = {
    val allCols = phys.fieldNames.toSeq
    def packed(paths: Seq[String], snap: graft.model.Snapshot,
        key: String, row: String) = {
      // images surface TO's initial defaults (the changelog's declared
      // schema — same per-file seq rule as read(to)) over SNAP's delete
      // set; the no-defaults branch keeps the historical pass-through
      val wanted = paths.toSet
      val ents = t.entries(snap).filter(e => wanted.contains(e.path))
      val live =
        if (t.defaultsFor(to, ents).isEmpty)
          t.applyDeletes(t.scan(ents, phys), snap, ents)
        else t.applyDefaults(
          t.applyDeletesWithPos(t.scan(ents, phys), snap, ents),
          to, ents).drop("__gpath", "__gpos")
      live.select(col("image_id").as(key), struct(allCols.map(col): _*).as(row))
    }
    val j = packed(removed, parent, "k_pre", "pre_row")
      .join(packed(added, s, "k_post", "post_row"),
        col("k_pre") === col("k_post"), "full_outer")
      // copied-on-write untouched rows: same key, bit-identical row
      .where(col("k_pre").isNull || col("k_post").isNull ||
        !(col("pre_row") <=> col("post_row")))
    def entry(ct: String, row: String) =
      struct(lit(ct).as("ct"), col(row).as("r"))
    j.select(explode(
        when(col("k_pre").isNull, array(entry("insert", "post_row")))
          .when(col("k_post").isNull, array(entry("delete", "pre_row")))
          .otherwise(array(entry("update_preimage", "pre_row"),
            entry("update_postimage", "post_row")))).as("e"))
      .select(col("e.r.*") +: Seq(col("e.ct").as(ChangeTypeCol),
        lit(v).as(CommitVersionCol)): _*)
  }
}
