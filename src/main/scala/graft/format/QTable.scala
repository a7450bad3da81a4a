package graft.format

import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** "qtable" — the from-scratch Iceberg-style table format.
  *
  * Layout:
  * {{{
  *   <root>/data/<jobId>/<group>/<attempt>/part-*.parquet
  *                                             immutable data and delete
  *                                             files, one fresh directory
  *                                             per write attempt (appends:
  *                                             <root>/data/<jobId>/append)
  *   <root>/metadata/v<N>.json                 snapshot (incl. manifest list)
  *   <root>/metadata/manifest-<uuid>.json      data-file manifests
  *   <root>/metadata/version-hint.text         current version pointer
  *   <root>/metadata/checkpoints/<jobId>/<group>.json  per-group lineage
  * }}}
  *
  * Commit protocol (snapshot isolation, upgraded from the reference's
  * last-writer-wins deterministic-path overwrite, SURVEY §2.2 K5):
  *  1. write all data files (immutable, job-scoped directory);
  *  2. write manifests;
  *  3. claim `v<N+1>.json` with CREATE_NEW — losing a race throws
  *     [[CommitConflictException]] (optimistic concurrency);
  *  4. flip `version-hint.text` via atomic rename.
  * A reader that resolved a Snapshot keeps a consistent view: its file
  * set is immutable until ExpireSnapshotsJob garbage-collects it.
  */
class CommitConflictException(msg: String) extends RuntimeException(msg)

class QTable(val root: String, val spark: SparkSession) extends Serializable {

  // single-task id lookups of this table's reads answer on the driver
  graft.spark.PointLookupStrategy.register(spark)

  /** Metadata storage (snapshots/manifests/hint/checkpoints) behind the
    * pluggable [[CommitIO]] commit protocol: plain paths use atomic
    * java.nio primitives, URI-scheme'd roots (file:, hdfs:, ...) resolve
    * through Hadoop FileSystem — mirroring the reference's object-store
    * sink boundary (`google_cloud_storage_client.py:40-74`). */
  @transient lazy val io: CommitIO = makeIO

  /** Overridable so a deployment (or the object-store contract spec) can
    * mount the metadata layer on a different store than the path scheme
    * implies — e.g. [[ObjectStoreCommitIO]] over a vendor SDK. */
  protected def makeIO: CommitIO = CommitIO.forPath(root, hadoopConf)

  def metadataDir: String = s"$root/metadata"
  def dataDir: String = s"$root/data"
  private def hintFile: String = s"$metadataDir/version-hint.text"
  private def versionFile(v: Long): String = s"$metadataDir/v$v.json"

  /** The ref this view reads and commits against ("main", or a branch
    * name under [[onBranch]]) — recorded in branch commits' summaries so
    * main's staged-version resolution never confuses a branch tip with a
    * write-audit-publish claim. */
  protected def refName: String = "main"

  def currentVersion: Long = {
    if (!io.exists(hintFile)) -1L
    else new String(io.readBytes(hintFile)).trim.toLong
  }

  /** A view of this table whose HEAD is the named branch (Iceberg
    * branches, [[Branches]]): reads resolve the branch head, commits
    * claim a global version number and advance the branch pointer —
    * main's hint (and every main reader) is untouched. Full table
    * semantics apply on the branch: snapshot isolation, optimistic
    * commit conflicts against the BRANCH head, checkpointed resume,
    * maintenance jobs. Publish with [[graft.jobs.FastForwardJob]].
    * Write-audit-publish staging is a main-head gate and does not
    * compose (a branch IS the generalized audit surface). */
  def onBranch(name: String): QTable = {
    require(Branches.exists(this, name), s"no such branch: $name")
    new QTable(root, spark) {
      override protected def refName: String = name
      override def currentVersion: Long = Branches.head(this, name)
      override protected def publishHint(v: Long): Unit =
        Branches.advance(this, name, v)
      override def staged: QTable =
        throw new UnsupportedOperationException(
          "staging gates the MAIN head; commit to the branch directly — " +
            "a branch is already an audited, unpublished line of history")
    }
  }

  def snapshotAt(v: Long): Snapshot =
    Json.fromBytes(io.readBytes(versionFile(v)), classOf[Snapshot])

  /** Timestamp time travel (Iceberg `FOR SYSTEM_TIME AS OF` analogue):
    * the snapshot that was current AT `tsMs` on THIS ref — the youngest
    * chain ancestor committed at or before the cutoff. A parent-pointer
    * walk, not a version-number scan: global version numbers interleave
    * branch commits, which must not answer main's history (and vice
    * versa). Throws if the chain (within the retained window) has no
    * commit that old. */
  def snapshotAsOf(tsMs: Long): Snapshot = {
    val retained = listVersions.toSet
    var v = currentVersion
    while (v >= 0 && retained.contains(v)) {
      val s = snapshotAt(v)
      if (s.timestampMs <= tsMs) return s
      v = s.parentVersion
    }
    throw new IllegalArgumentException(
      s"no retained snapshot on ref '$refName' at or before timestamp " +
        s"$tsMs (oldest retained commits may have been expired)")
  }

  def currentSnapshot: Snapshot = {
    val v = currentVersion
    require(v >= 0, s"table $root has no committed snapshot")
    snapshotAt(v)
  }

  def currentSnapshotOpt: Option[Snapshot] =
    if (currentVersion >= 0) Some(currentSnapshot) else None

  def listVersions: Seq[Long] =
    io.listNames(metadataDir)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted

  def readManifest(meta: ManifestMeta): ManifestData =
    Json.fromBytes(io.readBytes(s"$metadataDir/${meta.path}"), classOf[ManifestData])

  def entries(s: Snapshot): Seq[DataFileEntry] =
    s.manifests.flatMap(m => readManifest(m).files)

  /** Manifest- then file-level pruning by phash range and/or bucket —
    * the scan-planning analogue of predicate pushdown (SURVEY §2.1 S2). */
  def planFiles(s: Snapshot,
      phashRange: Option[(Long, Long)] = None,
      bucket: Option[Int] = None): Seq[DataFileEntry] = {
    def overlapL(lo: Long, hi: Long, mn: Long, mx: Long) = mx >= lo && mn <= hi
    val manifests = s.manifests.filter { m =>
      phashRange.forall { case (lo, hi) => overlapL(lo, hi, m.phashMin, m.phashMax) } &&
      bucket.forall(b => b >= m.pbucketMin && b <= m.pbucketMax)
    }
    manifests.flatMap(m => readManifest(m).files).filter { f =>
      phashRange.forall { case (lo, hi) => overlapL(lo, hi, f.phashMin, f.phashMax) } &&
      bucket.forall(b => b >= f.pbucketMin && b <= f.pbucketMax)
    }
  }

  /** Read a snapshot (or a pruned file subset) with the snapshot's
    * RECORDED schema — declared, never inferred, so no footer merge; data
    * files written before an addColumn lack the new column and surface
    * nulls for it (Iceberg-style metadata-only evolution). Files are read
    * under their PHYSICAL (creation-time) names and aliased to the
    * current logical names, so a renamed column reads old and new files
    * alike — the projection is a no-op when nothing was renamed. Live
    * deletes and initial defaults are applied — see [[decorate]].
    * Planned from the manifests through [[scan]], exactly as
    * [[readIndexed]]. */
  def read(s: Snapshot): DataFrame = readIndexed(s)._1

  /** Read a SUBSET of a snapshot's data files with position deletes
    * applied and logical column naming — the hybrid-planner primitive:
    * a metadata+scan planner ([[graft.jobs.StatsAggregate]]) answers
    * what it can from manifest stats and reads only the files it
    * cannot, through the exact same delete/rename semantics as a full
    * [[read]]. */
  def readSubset(s: Snapshot, files: Seq[DataFileEntry]): DataFrame =
    toLogical(decorate(scan(files, s.physicalSchema), Some(s), s, files), s)

  // ------------------------------------------ merge-on-read position deletes

  /** Row shape of a position-delete file: one row per deleted data row. */
  val deleteSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Scheme-insensitive path key for delete-file range pruning:
    * authority + URI path. Stored delete files and manifests may render
    * the SAME file as `file:///x`, `file:/x` or `/x` — lexicographic
    * compares must not see the scheme prefix. */
  private def pathKey(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    Option(u.getAuthority).getOrElse("") + u.getPath
  }

  /** The delete files that can reference any of `readPaths` (range
    * prune on the scheme-normalized referenced-path bounds). */
  private def neededDeletes(s: Snapshot, readPaths: Seq[String]): Seq[DeleteFileEntry] = {
    val dels = s.deleteFiles
    if (dels.isEmpty || readPaths.isEmpty) return Nil
    val qp = readPaths.map(pathKey)
    val (lo, hi) = (qp.min, qp.max)
    dels.filter(d => pathKey(d.dataPathMax) >= lo && pathKey(d.dataPathMin) <= hi)
  }

  // ------------------------------------------------------ read decoration

  /** The fields whose initial default applies to at least one of
    * `inputs` — i.e. some file in the read predates the add-column
    * commit. Empty in steady state (every pre-evolution file has been
    * rewritten), which is what keeps defaulted tables substitution-free
    * once maintenance catches up. */
  private def defaultsFor(s: Snapshot, inputs: Seq[DataFileEntry]): Seq[FieldDef] =
    s.schemaFields.filter(f => f.defaultOpt.nonEmpty &&
      inputs.exists(_.seq < f.defaultSeq))

  /** THE read decoration of a scan of `inputs`, the one read surface
    * of every reader, rewrite and row-level write:
    *  - `schema`'s initial defaults: rows of files whose data seq
    *    predates a defaulted column's add-column commit surface the
    *    default, later files keep their stored values — explicit nulls
    *    included (NOT a coalesce; Iceberg v3 `initial-default`);
    *  - row ids, when `df` carries `_row_id` ([[rewriteSchema]]): a
    *    stored id wins, null falls back to the file's `firstRowId` +
    *    physical position (Iceberg v3 `first_row_id + _pos`) — which
    *    also hands fresh ids to rows written without one (MERGE
    *    inserts), their file's base range being newly assigned;
    *  - the live position and equality deletes of `deletes` (None: rows
    *    as appended — the incremental and streaming reads).
    *
    * Defaults and row ids are projections over per-file constants the
    * scan serves as `_metadata` fields ([[QTableFileIndex]]), so neither
    * joins. Position deletes anti-join on (file NAME, `row_index`): part
    * file names are UUID-unique, and a delete file's stored path and the
    * scan's may qualify the same file with different schemes. Equality
    * deletes anti-join on the key with the Iceberg v2 sequence rule — a
    * row dies when its file's seq is strictly below the delete's — both
    * seqs read the same way. The delete sides are O(live delete rows)
    * and AQE broadcasts them when small, the steady state since
    * maintenance folds the debt; the paths of `inputs` prune delete
    * files whose referenced range cannot overlap the scan, so a scoped
    * rewrite of one bucket never reads other buckets' delete files.
    * Spark does not resolve `_metadata` through a join, so a caller that
    * needs a row's address (`__gpath`/`__gpos`) captures it on `df`.
    *
    * Returns `df` unchanged, plan preserved, when nothing applies.
    * While a pre-evolution file is live, a predicate on its defaulted
    * column tests the substituted value and never reaches parquet as a
    * pushed filter — required: a pushed `col = default` would drop the
    * rows the default makes match — while predicates on other columns
    * still push into the scan and its stats index; rewrites bake the
    * default in (their outputs postdate the add-column commit), after
    * which pushdown resumes. A rewrite that read raw physical files
    * would instead bake stored nulls over a live default. */
  def decorate(df: DataFrame, deletes: Option[Snapshot], schema: Snapshot,
      inputs: Seq[DataFileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, substring_index, when}
    def meta(field: String) = col(s"_metadata.$field")
    val seq = meta(QTableFileIndex.SeqField)
    val defaulted = defaultsFor(schema, inputs).foldLeft(df) { (acc, f) =>
      acc.withColumn(f.phys, when(seq < lit(f.defaultSeq),
        lit(f.default).cast(f.sparkType)).otherwise(col(f.phys)))
    }
    val projected =
      if (!df.columns.contains(QTable.RowIdCol)) defaulted
      else defaulted.withColumn(QTable.RowIdCol, coalesce(col(QTable.RowIdCol),
        meta(QTableFileIndex.FirstRowIdField) + meta("row_index")))
    val pos = deletes.toSeq.flatMap(neededDeletes(_, inputs.map(_.path)))
    val eq = deletes.toSeq.flatMap(_.eqDeleteFiles.filter(d => inputs.exists(eqApplies(d, _))))
    if (pos.isEmpty && eq.isEmpty) return projected
    val captured = projected
      .withColumn("__qname", substring_index(meta("file_path"), "/", -1))
      .withColumn("__qpos", meta("row_index"))
      .withColumn("__qseq", seq)
    val posApplied =
      if (pos.isEmpty) captured
      else captured.join(scan(pos, deleteSchema).select(
          substring_index(col("file_path"), "/", -1).as("__qname"), col("pos").as("__qpos")),
        Seq("__qname", "__qpos"), "left_anti")
    val eqApplied =
      if (eq.isEmpty) posApplied
      else posApplied.join(scan(eq, eqDeleteSchema)
          .select(col("image_id").as("__qkey"), seq.as("__qkseq")),
        col("image_id") === col("__qkey") && col("__qseq") < col("__qkseq"), "left_anti")
    eqApplied.drop("__qname", "__qpos", "__qseq")
  }

  /** A snapshot's data files as a raw physical relation (no deletes,
    * defaults or renames applied) — what [[graft.spark.QTableSource]]
    * serves — when that is exactly what [[read]] returns: no column to
    * alias, and no live delete or initial default for [[decorate]]. */
  private[graft] def plainRelation(s: Snapshot)
      : Option[(org.apache.spark.sql.execution.datasources.HadoopFsRelation, QTableFileIndex)] = {
    val ents = entries(s)
    if (s.hasRenames || deletesApply(s, ents) || defaultsFor(s, ents).nonEmpty) None
    else Some(relationOver(ents, s.physicalSchema))
  }

  // ------------------------------------------- row lineage (v3 _row_id)

  /** Enable row lineage (Iceberg v3 row ids): ONE commit that stamps
    * every live entry with its id range — rows read ids `firstRowId +
    * physical position` — and sets the `row.lineage` property so every
    * later commit stamps its fresh entries from [[Snapshot.nextRowId]].
    * All manifests rewrite once (O(entries) metadata); no data file is
    * read or touched. From here on, [[readEntriesForRewrite]] feeds
    * rewrites a materialized `_row_id` column which their outputs store
    * — how ids survive a re-sort — while appends stay virtual (base +
    * position), the cheap steady state. */
  def enableRowLineage(): Snapshot = {
    val snap = currentSnapshot
    require(!snap.rowLineage, "row lineage is already enabled")
    val all = entries(snap)
      .map(_.copy(firstRowId = DataFileEntry.UnstampedRowId))
    commit(Some(snap), "enable-row-lineage", all,
      Map("row-lineage" -> "enabled"),
      propertiesOverride = Some(snap.props + ("row.lineage" -> "true")))
  }

  /** The scan schema of a rewrite read: physical, plus a nullable
    * `_row_id` when `s` tracks row lineage — files that never
    * materialized the column surface null for it, which [[decorate]]
    * fills. */
  def rewriteSchema(s: Snapshot): org.apache.spark.sql.types.StructType =
    if (!s.rowLineage) s.physicalSchema
    else org.apache.spark.sql.types.StructType(s.physicalSchema.fields :+
      org.apache.spark.sql.types.StructField(QTable.RowIdCol,
        org.apache.spark.sql.types.LongType, nullable = true))

  /** Read a snapshot with its stable `_row_id` lineage column appended
    * to the logical schema (deletes + initial defaults applied as in
    * [[read]]). Requires lineage enabled on `s`. */
  def readWithRowId(s: Snapshot): DataFrame = {
    require(s.rowLineage,
      "row lineage is not enabled on this snapshot (enable-row-lineage)")
    import org.apache.spark.sql.functions.col
    readEntriesForRewrite(s, entries(s)).select(
      s.schemaFields.map(f => col(f.phys).as(f.name)) :+ col(QTable.RowIdCol): _*)
  }

  def readWithRowId(): DataFrame = readWithRowId(currentSnapshot)

  /** The read surface maintenance REWRITES use: [[decorate]] over
    * [[rewriteSchema]] — deletes folded, defaults baked and, when the
    * table tracks row lineage, a materialized `_row_id` column the
    * rewrite writes through to its output files (stored ids beat the
    * by-position fallback on the next read, so a re-sort cannot lose
    * them). */
  def readEntriesForRewrite(s: Snapshot, inputs: Seq[DataFileEntry]): DataFrame =
    decorate(scan(inputs, rewriteSchema(s)), Some(s), s, inputs)

  // ----------------------------------------------------- equality deletes

  /** Row shape of an equality-delete file: one key per deleted record —
    * every OLDER row (data-file seq below the delete's seq) of that
    * image_id is dead. */
  val eqDeleteSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("image_id",
        org.apache.spark.sql.types.StringType, nullable = false)))

  /** True when eq-delete `d` can kill a row of data file `f`: the file
    * is OLDER (strict seq rule — same-commit appends survive their own
    * delete, later re-inserts stay live) and the key ranges overlap. */
  private def eqApplies(d: EqDeleteFileEntry, f: DataFileEntry): Boolean =
    f.seq < d.seq && QTable.utf8Leq(d.idMin, f.imageIdMax) &&
      QTable.utf8Leq(f.imageIdMin, d.idMax)

  /** The equality-delete entries still needed once only `surviving`
    * data files remain live (a rewrite job's fold rule): an entry drops
    * when no surviving file is old enough (and key-range-overlapping
    * enough) for it to kill anything — rewritten outputs carry a fresh
    * seq above every live delete, so a full rewrite clears the set. */
  def retainEqDeletes(s: Snapshot,
      surviving: Seq[DataFileEntry]): Seq[EqDeleteFileEntry] =
    s.eqDeleteFiles.filter(d => surviving.exists(f => eqApplies(d, f)))

  /** The equality-delete files that can affect any of `reads` under `s`
    * — a rewrite group's checkpoint input identity must include these
    * (same contract as [[deleteInputsFor]]): the group's output folds
    * exactly these deletes, so an output written before a concurrent
    * upsert landed must not be reused. Group-sized inputs only — for a
    * per-file sweep over the whole table use [[eqAffectedNames]]. */
  def eqDeleteInputsFor(s: Snapshot, reads: Seq[DataFileEntry]): Seq[String] =
    s.eqDeleteFiles.filter(d => reads.exists(f => eqApplies(d, f))).map(_.path)

  /** Names of the data files among `files` that any live equality
    * delete can apply to — ONE pass with the delete bounds pre-decoded
    * to UTF8String, the shape table-wide planners (compaction's
    * mandatory-work classifier, the aggregate planner's dirty set) must
    * use: probing per file through [[eqDeleteInputsFor]] re-decodes
    * four strings per (file, delete) pair, which at 10^6 files is
    * planner time a metadata pass has no business spending. */
  def eqAffectedNames(s: Snapshot, files: Seq[DataFileEntry]): Set[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val eq = s.eqDeleteFiles
    if (eq.isEmpty) return Set.empty
    val bounds = eq.map(d => (d.seq,
      UTF8String.fromString(d.idMin), UTF8String.fromString(d.idMax)))
    files.iterator.filter { f =>
      val mn = UTF8String.fromString(f.imageIdMin)
      val mx = UTF8String.fromString(f.imageIdMax)
      bounds.exists { case (ds, lo, hi) =>
        f.seq < ds && lo.compareTo(mx) <= 0 && mn.compareTo(hi) <= 0 }
    }.map(f => QTable.fileName(f.path)).toSet
  }

  /** Paths of the delete files that can reference any of `paths` under
    * `s` — metadata-only (a range filter over the snapshot's entries).
    * A rewrite group's checkpoint input identity must include these: the
    * group's output folds exactly these deletes, so an output written
    * before a concurrent DELETE landed (same data files, different
    * delete set) is stale and must not be reused — the commit would
    * drop the "folded" entries and resurrect the deleted rows. */
  def deleteInputsFor(s: Snapshot, paths: Seq[String]): Seq[String] =
    neededDeletes(s, paths).map(_.path)

  /** Whether a live position or equality delete can kill a row of
    * `files` under `s` — metadata-only. When none can, the files' live
    * rows are their stored rows. */
  def deletesApply(s: Snapshot, files: Seq[DataFileEntry]): Boolean =
    neededDeletes(s, files.map(_.path)).nonEmpty || eqDeleteInputsFor(s, files).nonEmpty

  /** Distinct (delete-file name, referenced data-file name) pairs of a
    * snapshot's live delete set — the exact fold/planning input for
    * rewrite jobs (which data files carry deletes; which delete entries
    * still reference a surviving file). One small Spark job over the
    * delete files, O(delete rows); empty without a scan when there are
    * none. File NAMES (UUID-unique part files) sidestep scheme/slash
    * differences between stored URIs and manifest paths. */
  def deletePairs(s: Snapshot): Seq[(String, String)] = {
    val dels = s.deleteFiles
    if (dels.isEmpty) return Nil
    import org.apache.spark.sql.functions.col
    scan(dels, deleteSchema)
      .select(col("_metadata.file_path").as("d"), col("file_path").as("f"))
      .distinct().collect()
      .map(r => (QTable.fileName(r.getString(0)), QTable.fileName(r.getString(1))))
      .toSeq
  }

  /** The delete entries still needed once only `survivingPaths` remain
    * live (a rewrite job's fold rule): an entry is dropped when every
    * data file it references was rewritten — its rows were materialized
    * away by the delete-applied rewrite read. `pairs` is
    * [[deletePairs]] of the snapshot being rewritten. */
  def retainDeletes(s: Snapshot, pairs: Seq[(String, String)],
      survivingPaths: Iterable[String]): Seq[DeleteFileEntry] = {
    if (s.deleteFiles.isEmpty) return Nil
    val surviving = survivingPaths.map(QTable.fileName).toSet
    val liveDeleteNames = pairs.collect {
      case (d, f) if surviving.contains(f) => d
    }.toSet
    s.deleteFiles.filter(d => liveDeleteNames.contains(QTable.fileName(d.path)))
  }

  /** Alias a physical-schema frame to the snapshot's logical names;
    * columns outside the schema (scan address, `_row_id`) pass through.
    * A no-op when nothing was renamed. */
  def toLogical(df: DataFrame, s: Snapshot): DataFrame =
    if (!s.hasRenames) df
    else {
      import org.apache.spark.sql.functions.col
      val phys = s.schemaFields.map(_.phys).toSet
      df.select(s.schemaFields.map(f => col(f.phys).as(f.name)) ++
        df.columns.filterNot(phys.contains).map(col): _*)
    }

  /** THE table-read primitive: a parquet scan of recorded file entries
    * (data, position-delete or equality-delete) under a declared schema,
    * planned from the entries alone — the [[QTableFileIndex]] listing
    * synthesizes each file's status from its recorded size, so no read
    * stats or lists the filesystem. Over data files the index skips by
    * manifest stats (pushed filters on phash/pbucket/image_id and the
    * generic column stats); delete files are listed whole. Returns the
    * frame and the index (whose `lastSelection` exposes the skip ratio
    * for tests/metrics). */
  def scanIndexed(files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType): (DataFrame, QTableFileIndex) = {
    val (rel, index) = relationOver(files, schema)
    (org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel)), index)
  }

  /** [[scanIndexed]] without the index. */
  def scan(files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    scanIndexed(files, schema)._1

  /** The Catalyst relation behind [[scan]] and the `qtable` DataSource
    * ([[graft.spark.QTableSource]]): a parquet HadoopFsRelation whose
    * file listing is the manifest-backed [[QTableFileIndex]]. The schema
    * is declared nullable, as Spark's path-based reader declares it: a
    * file may hold nulls in a column the table declares non-null (an
    * UPDATE ... SET c = NULL writes them), and a non-null declaration
    * would let the optimizer fold `c IS NULL` to false. */
  private def relationOver(files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType)
      : (org.apache.spark.sql.execution.datasources.HadoopFsRelation, QTableFileIndex) = {
    val index = new QTableFileIndex(files)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = org.apache.spark.sql.GraftBridge.asNullable(schema),
      bucketSpec = None,
      fileFormat = new QTableParquetFormat(),
      options = Map.empty)(spark)
    (rel, index)
  }

  /** Read a snapshot through the Catalyst-integrated stats-skipping
    * [[QTableFileIndex]]: pushed filters on phash/pbucket/image_id prune
    * data files from manifest min/max ranges INSIDE the scan node — the
    * declarative equivalent of [[planFiles]], composing with column
    * pruning/joins/AQE, and listing never touches the filesystem.
    * Returns the DataFrame and the index (whose `lastSelection` exposes
    * the skip ratio for tests/metrics). [[read]] is this frame. */
  def readIndexed(s: Snapshot): (DataFrame, QTableFileIndex) = {
    val ents = entries(s)
    val (df, index) = scanIndexed(ents, s.physicalSchema)
    // deletes and initial defaults decorate the indexed scan (pushed
    // filters and stats skipping still reach the scan node below any
    // anti-join); renamed columns surface under logical names via a
    // projection the optimizer collapses into the scan (alias pushdown
    // keeps the stats skipping on phash/pbucket/image_id intact — those
    // are base fields whose physical names never change)
    (toLogical(decorate(df, Some(s), s, ents), s), index)
  }

  def readIndexed(): (DataFrame, QTableFileIndex) = readIndexed(currentSnapshot)

  def read(): DataFrame = read(currentSnapshot)

  /** Current effective schema (the head snapshot's, or the base schema on
    * an uncreated root). */
  def storedSchema: org.apache.spark.sql.types.StructType =
    currentSnapshotOpt.map(_.storedSchema).getOrElse(ImageRow.storedSchema)

  /** Raw physical scan of some of the CURRENT snapshot's data files, by
    * path (the bench's warm-up read): files under their
    * PHYSICAL names, no deletes or defaults applied. Planned from the
    * manifests like every other read; a path the snapshot does not
    * record is an error, never a silently shorter scan. */
  def readFiles(paths: Seq[String]): DataFrame = {
    val snap = currentSnapshot
    val byPath = entries(snap).map(e => e.path -> e).toMap
    scan(paths.map(p => byPath.getOrElse(p, throw new IllegalArgumentException(
      s"$p is not a live data file of version ${snap.version}"))), snap.physicalSchema)
  }

  /** Commit a new snapshot. `files` are chunked into NEW manifests,
    * sorted by (pbucket, phash) for manifest-level range pruning;
    * `reuseManifests` are carried by reference (the cheap append path —
    * an append at 10^12-image scale must not rewrite O(table) metadata).
    * Rewrite-style jobs pass the full file list and no reuse. */
  def commit(parent: Option[Snapshot], operation: String,
      files: Seq[DataFileEntry], extraSummary: Map[String, String] = Map.empty,
      entriesPerManifest: Int = 512,
      reuseManifests: Seq[ManifestMeta] = Nil,
      bucketsOverride: Option[Int] = None,
      schemaOverride: Option[Seq[FieldDef]] = None,
      deletesOverride: Option[Seq[DeleteFileEntry]] = None,
      eqDeletesOverride: Option[Seq[EqDeleteFileEntry]] = None,
      lastFieldIdOverride: Option[Int] = None,
      propertiesOverride: Option[Map[String, String]] = None,
      nextRowIdOverride: Option[Long] = None): Snapshot = {
    val parentV = parent.map(_.version).getOrElse(-1L)
    // stamp data sequence numbers BEFORE manifests are written: freshly
    // harvested entries (seq sentinel) get the version this commit will
    // claim; carried entries keep their creation seq. A lost commit race
    // throws below and the retried job re-harvests against the new head.
    val v = parentV + 1
    val stamped0 = files.map(f =>
      if (f.seq == DataFileEntry.UnstampedSeq) f.copy(seq = v) else f)
    // row lineage: fresh entries (sentinel) take the next id range, in
    // the same deterministic (pbucket, phash, path) order the manifests
    // store — a resumed job re-commits identical outputs, so the stamps
    // are stable across crash/retry. Carried entries keep their base.
    val lineageOn = propertiesOverride
      .orElse(parent.map(_.props)).getOrElse(Map.empty)
      .get("row.lineage").contains("true")
    var nextRid = nextRowIdOverride
      .getOrElse(parent.map(_.nextRowId).getOrElse(0L))
    val stamped =
      if (!lineageOn) stamped0
      else stamped0.sortBy(f => (f.pbucketMin, f.phashMin, f.path)).map { f =>
        if (f.firstRowId == DataFileEntry.UnstampedRowId) {
          val b = nextRid; nextRid += f.rowCount; f.copy(firstRowId = b)
        } else f
      }
    val sorted = stamped.sortBy(f => (f.pbucketMin, f.phashMin, f.path))
    val newManifests = sorted.grouped(math.max(1, entriesPerManifest)).map { group =>
      val name = s"manifest-${java.util.UUID.randomUUID()}.json"
      io.writeAtomic(s"$metadataDir/$name", Json.toBytes(ManifestData(group)))
      ManifestMeta(
        path = name,
        fileCount = group.size.toLong,
        rowCount = group.map(_.rowCount).sum,
        byteCount = group.map(_.byteCount).sum,
        pbucketMin = group.map(_.pbucketMin).min,
        pbucketMax = group.map(_.pbucketMax).max,
        phashMin = group.map(_.phashMin).min,
        phashMax = group.map(_.phashMax).max)
    }.toSeq
    val manifests = reuseManifests ++ newManifests

    // position deletes: carried from the parent by default (appends and
    // metadata-only commits never touch them); rewrite jobs override with
    // their folded set; DeleteJob/MOR merge with parent's ++ new entries.
    // "total-rows" stays the FILE row total — live rows = it minus
    // "total-delete-rows" (zero in steady state, maintenance folds them)
    val deletes = deletesOverride
      .orElse(parent.map(_.deleteFiles)).getOrElse(Nil)
    // equality deletes: same carry/override contract; fresh entries
    // (UpsertJob's sentinel) are stamped with this commit's version — the
    // strict seq rule is what lets the same commit's appended rows
    // survive their own delete
    val eqDels = eqDeletesOverride
      .orElse(parent.map(_.eqDeleteFiles)).getOrElse(Nil)
      .map(d => if (d.seq == DataFileEntry.UnstampedSeq) d.copy(seq = v) else d)
    val deleteSummary =
      (if (deletes.isEmpty) Map.empty[String, String]
      else Map(
        "total-delete-files" -> deletes.size.toString,
        "total-delete-rows" -> deletes.map(_.rowCount).sum.toString)) ++
      (if (eqDels.isEmpty) Map.empty[String, String]
      else Map(
        "total-eq-delete-files" -> eqDels.size.toString,
        "total-eq-delete-keys" -> eqDels.map(_.rowCount).sum.toString))
    // branch commits carry their ref name; main commits stay unmarked
    // (stagedVersion relies on the distinction, and main summaries keep
    // their historical shape)
    val refSummary =
      if (refName == "main") Map.empty[String, String]
      else Map("ref" -> refName)
    val summary = Map(
      "total-files" -> manifests.map(_.fileCount).sum.toString,
      "total-rows" -> manifests.map(_.rowCount).sum.toString,
      "total-bytes" -> manifests.map(_.byteCount).sum.toString) ++
      deleteSummary ++ refSummary ++ extraSummary
    val buckets = bucketsOverride
      .orElse(parent.map(_.buckets)).getOrElse(QTable.DefaultBuckets)
    // schema travels raw: an empty recorded schema (pre-evolution) stays
    // empty so old tables keep deserializing to the base schema. A fresh
    // initial default (addColumn's sentinel) is stamped with this
    // commit's version — the same clock as data-file seq stamps above,
    // so "file predates the default" is exactly "seq < defaultSeq"
    val schema = schemaOverride
      .orElse(parent.map(p => Option(p.schema).getOrElse(Nil))).getOrElse(Nil)
      .map(f => if (f.defaultSeq == DataFileEntry.UnstampedSeq)
        f.copy(defaultSeq = v) else f)
    // highest-ever field id rides every commit so a dropped column's id
    // is never reallocated (see Snapshot.highestFieldId); fast-forward
    // overrides with the max across BOTH chains — a branch-dropped id
    // must stay retired on main too
    val lastId = lastFieldIdOverride
      .getOrElse(parent.map(_.highestFieldId).getOrElse(0))
    // table properties ride every commit like the schema
    val props = propertiesOverride
      .orElse(parent.map(_.props)).getOrElse(Map.empty)
    commitSnapshot(parentV, operation, manifests, summary, buckets, schema,
      lastId, deletes, eqDels, props, nextRid)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` analogue):
    * a new INDEPENDENT table at `targetRoot` whose first snapshot
    * references this table's current live data/delete files — zero data
    * bytes copied; the only cost is rewriting the file-entry metadata
    * into the clone's own manifests (manifest names are a per-table
    * namespace, so they cannot carry by reference). The clone adopts
    * the schema (with its retired field ids), table properties
    * (constraints, maintenance policy), bucket count, and the
    * row-lineage high-water mark.
    *
    * Version numbering: the clone's first snapshot claims SOURCE
    * version + 1 with `parentVersion = -1` — a chain that simply starts
    * there, the same shape a table whose older history was expired
    * already has. Every later clone commit claims a strictly higher
    * number, so the cloned data/eq-delete SEQUENCE stamps keep their
    * meaning: an old cloned equality delete (seq ≤ source version) can
    * never kill rows appended to the clone (seq > source version).
    * Starting at v0 instead would invert that order and silently
    * swallow re-inserted keys.
    *
    * Isolation: writers never touch the other table's files — rewrites
    * write under their own root, and expiry skips (and reports) dead
    * entries outside the table root, so "compact the clone, then
    * expire it" frees only clone-local bytes. Caveat (exactly Delta's):
    * expiring the SOURCE can remove files a clone still references —
    * tag the cloned source version, or compact the clone (localizing
    * its data) before deep source cleanup. */
  def cloneTo(targetRoot: String): QTable = {
    val snap = currentSnapshot
    val t = new QTable(targetRoot, spark)
    require(!t.io.exists(t.metadataDir) ||
      t.io.listNames(t.metadataDir).isEmpty,
      s"clone target already exists: $targetRoot")
    t.io.mkdirs(t.metadataDir)
    t.io.mkdirs(t.dataDir)
    val sorted = entries(snap).sortBy(f => (f.pbucketMin, f.phashMin, f.path))
    val manifests = sorted.grouped(512).map { group =>
      val name = s"manifest-${java.util.UUID.randomUUID()}.json"
      t.io.writeAtomic(s"${t.metadataDir}/$name",
        Json.toBytes(ManifestData(group)))
      ManifestMeta(name, group.size.toLong, group.map(_.rowCount).sum,
        group.map(_.byteCount).sum, group.map(_.pbucketMin).min,
        group.map(_.pbucketMax).max, group.map(_.phashMin).min,
        group.map(_.phashMax).max)
    }.toSeq
    val deletes = snap.deleteFiles
    val eqDels = snap.eqDeleteFiles
    val summary = Map(
      "total-files" -> manifests.map(_.fileCount).sum.toString,
      "total-rows" -> manifests.map(_.rowCount).sum.toString,
      "total-bytes" -> manifests.map(_.byteCount).sum.toString,
      "source-table" -> root,
      "source-version" -> snap.version.toString) ++
      (if (deletes.isEmpty) Map.empty[String, String] else Map(
        "total-delete-files" -> deletes.size.toString,
        "total-delete-rows" -> deletes.map(_.rowCount).sum.toString)) ++
      (if (eqDels.isEmpty) Map.empty[String, String] else Map(
        "total-eq-delete-files" -> eqDels.size.toString,
        "total-eq-delete-keys" -> eqDels.map(_.rowCount).sum.toString))
    val v = snap.version + 1
    val cloneSnap = Snapshot(v, -1L, "clone", manifests, summary,
      snap.buckets, System.currentTimeMillis(), snap.schema,
      snap.highestFieldId, deletes, eqDels, snap.props, snap.nextRowId)
    require(t.io.writeNew(t.versionFile(v), Json.toBytes(cloneSnap)),
      s"concurrent clone already claimed v$v at $targetRoot")
    t.publishHint(v)
    t
  }

  /** Metadata-only property change (ALTER TABLE SET TBLPROPERTIES
    * analogue): the table carries its own policy — write targets,
    * retention, tracked NDV columns — so jobs and scheduler ticks read
    * one source of truth instead of repeating flags. Carried by every
    * commit like the schema; a set is itself a commit, so property
    * history is time-travelable and branch-scoped like everything else. */
  def setProperties(kv: Map[String, String]): Snapshot = {
    require(kv.nonEmpty, "no properties given")
    val snap = currentSnapshot
    // partition-spec evolution rides the property path; validate the
    // source column NOW (a typo must fail the ALTER, not every append)
    kv.get(DayPartition.Prop).foreach(DayPartition.validate(snap, _))
    commit(Some(snap), "set-properties", Nil,
      Map("set" -> kv.keys.toSeq.sorted.mkString(",")),
      reuseManifests = snap.manifests,
      propertiesOverride = Some(snap.props ++ kv))
  }

  def unsetProperties(keys: Seq[String]): Snapshot = {
    require(keys.nonEmpty, "no property keys given")
    val snap = currentSnapshot
    commit(Some(snap), "set-properties", Nil,
      Map("unset" -> keys.sorted.mkString(",")),
      reuseManifests = snap.manifests,
      propertiesOverride = Some(snap.props -- keys))
  }

  /** Current value of a table property, if the table exists and set. */
  def property(key: String): Option[String] =
    currentSnapshotOpt.flatMap(_.props.get(key))

  /** Metadata-only schema evolution: append a NULLABLE column. Old data
    * files are untouched and surface nulls for the new field; the field
    * id is allocated past every id EVER used (not just currently present)
    * so a drop + re-add can never alias an old column's data. Added
    * columns store under the id-suffixed physical name `<name>_fid<id>`:
    * with name-resolved parquet reads, that is what guarantees a
    * re-added same-name column never resurfaces a dropped column's
    * values (the role Iceberg's in-file field ids play).
    *
    * `default` (Iceberg v3 `initial-default` analogue) makes rows that
    * existed BEFORE this commit surface the given value instead of null
    * — decided per FILE by the data sequence number (seq < the
    * add-column commit's version = pre-evolution), so a row written
    * later with an explicit null stays null. Metadata-only: no file is
    * touched; rewrites (compact/cluster/merge CoW) bake the default
    * into their output, after which reads are substitution-free again
    * (see [[decorate]]). Restricted to primitive types whose
    * literal has an unambiguous string form. */
  def addColumn(name: String, dtype: String,
      default: Option[String] = None): Snapshot = {
    val snap = currentSnapshot
    val cur = snap.schemaFields
    // collision check covers PHYSICAL names too: a logical name equal to
    // another field's stored name would make alignToPhysical's phys-first
    // lookup bind the wrong input column — silent cross-column corruption
    require(!cur.exists(f => f.name == name || f.phys == name),
      s"column $name collides with an existing logical or stored name")
    require(name.nonEmpty && name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid column name: $name") // a dotted/spaced name would wedge
    // every later read's physical->logical projection
    // validate the DDL up front (fail at commit time, not first read)
    org.apache.spark.sql.types.DataType.fromDDL(dtype)
    default.foreach { v =>
      // validate the literal parses in the declared domain NOW — a bad
      // default must fail the ALTER, not every later read
      dtype match {
        case "int"              => v.toInt
        case "long" | "bigint"  => v.toLong
        case "float"            => v.toFloat
        case "double"           => v.toDouble
        case "boolean"          => v.toBoolean
        case "string"           => ()
        case other => throw new IllegalArgumentException(
          s"initial default unsupported for type $other " +
            "(allowed: int, long, float, double, boolean, string)")
      }
    }
    val id = snap.highestFieldId + 1
    val next = cur :+ FieldDef(id, name, dtype, nullable = true,
      physicalName = s"${name}_fid$id",
      default = default.orNull,
      // stamped with the commit's version in commit(), exactly like a
      // fresh data file's seq — the two stamps share one clock, which
      // is what makes the per-file pre/post decision exact
      defaultSeq = if (default.isDefined) DataFileEntry.UnstampedSeq else 0L)
    commit(Some(snap), "add-column", Nil,
      Map("added-column" -> (s"$name $dtype" +
        default.map(v => s" default $v").getOrElse(""))),
      reuseManifests = snap.manifests,
      schemaOverride = Some(next))
  }

  private def baseFieldIds: Set[Int] = FieldDef.defaults.map(_.id).toSet

  /** Metadata-only rename of an ADDED column: the physical name is fixed
    * at creation, so no data file is touched and reads alias old and new
    * files alike. Base fields (image_id, bytes, ..., pbucket) are the
    * engine's own key/stat columns and cannot be renamed. */
  def renameColumn(from: String, to: String): Snapshot = {
    val snap = currentSnapshot
    val cur = snap.schemaFields
    val f = cur.find(_.name == from).getOrElse(
      throw new IllegalArgumentException(s"no such column: $from"))
    require(!baseFieldIds.contains(f.id), s"cannot rename base column $from")
    require(!cur.exists(c => c.name == to || (c.id != f.id && c.phys == to)),
      s"column $to collides with an existing logical or stored name")
    require(to.nonEmpty && to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid column name: $to")
    requireNoConstraintOn(snap, from, "rename")
    requireNotPartitionSource(snap, from, "rename")
    val next = cur.map(c => if (c.id == f.id) c.copy(name = to) else c)
    commit(Some(snap), "rename-column", Nil,
      Map("renamed-column" -> s"$from -> $to"),
      reuseManifests = snap.manifests,
      schemaOverride = Some(next))
  }

  /** Metadata-only type widening of an ADDED column: `int -> long` and
    * `float -> double` (Iceberg's safe promotions). No data file is
    * touched — the parquet reader promotes old narrow-typed pages to the
    * declared type at scan time (verified by SchemaEvolutionSpec), and
    * rewrite jobs thereafter write the widened type. Stats skipping is
    * unaffected: the footer harvest already folds INT32/INT64 into one
    * "long" stat kind and FLOAT/DOUBLE into "double"
    * ([[ParquetStats]]), so pre- and post-widening files compare in the
    * same domain. Base fields are the engine's own key/stat columns
    * (typed into the maintenance plans) and cannot be widened. */
  def widenColumn(name: String, toType: String): Snapshot = {
    val snap = currentSnapshot
    val cur = snap.schemaFields
    val f = cur.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
    require(!baseFieldIds.contains(f.id), s"cannot widen base column $name")
    val legal = Map("int" -> Set("long"), "float" -> Set("double"))
    require(legal.getOrElse(f.dtype, Set.empty).contains(toType),
      s"cannot widen $name: ${f.dtype} -> $toType is not a safe promotion " +
        s"(allowed: int -> long, float -> double)")
    val next = cur.map(c => if (c.id == f.id) c.copy(dtype = toType) else c)
    commit(Some(snap), "widen-column",  Nil,
      Map("widened-column" -> s"$name ${f.dtype} -> $toType"),
      reuseManifests = snap.manifests,
      schemaOverride = Some(next))
  }

  /** Metadata-only drop of an ADDED column: data files keep the stored
    * values (invisible behind the declared read schema); the field id is
    * retired forever via [[Snapshot.highestFieldId]]. */
  def dropColumn(name: String): Snapshot = {
    val snap = currentSnapshot
    val cur = snap.schemaFields
    val f = cur.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
    require(!baseFieldIds.contains(f.id), s"cannot drop base column $name")
    requireNoConstraintOn(snap, name, "drop")
    requireNotPartitionSource(snap, name, "drop")
    commit(Some(snap), "drop-column", Nil,
      Map("dropped-column" -> name),
      reuseManifests = snap.manifests,
      schemaOverride = Some(cur.filterNot(_.id == f.id)))
  }

  /** CHECK-constraint predicates are SQL text over LOGICAL column names
    * (`constraint.<name>` properties), so dropping or renaming a column
    * one references would break every later writer's enforcement pass
    * with an analysis error instead of a policy decision. Refuse up
    * front: the user drops/redefines the constraint first, explicitly.
    * Identifier-token match — a column name inside a string literal is
    * a (safe) false refusal, never a false pass. */
  /** The day-partition spec references its source column by LOGICAL name
    * ([[DayPartition.Prop]]); dropping or renaming it would orphan the
    * spec. Unset the property (spec evolution) first, explicitly. */
  private def requireNotPartitionSource(snap: Snapshot, col: String,
      what: String): Unit =
    if (snap.props.get(DayPartition.Prop).contains(col))
      throw new IllegalArgumentException(
        s"cannot $what column $col: it is the ${DayPartition.Prop} " +
          "partition source — unset the property first")

  private def requireNoConstraintOn(snap: Snapshot, col: String,
      what: String): Unit = {
    // backtick counts as a BOUNDARY on both sides (not an identifier
    // char): a constraint written with quoted identifiers (`w` > 0) must
    // still match, or drop/rename would pass despite the guard and every
    // later writer's enforcement would fail at analysis (r5 advice fix)
    val re = java.util.regex.Pattern.compile(
      "(^|[^A-Za-z0-9_])" + java.util.regex.Pattern.quote(col) +
        "($|[^A-Za-z0-9_])")
    snap.props.foreach { case (k, v) =>
      if (k.startsWith("constraint.") && re.matcher(v).find())
        throw new IllegalArgumentException(
          s"cannot $what column $col: constraint " +
            s"'${k.stripPrefix("constraint.")}' CHECK ($v) references it " +
            "— drop the constraint first")
    }
  }

  private[format] def commitSnapshot(parentV: Long, operation: String,
      manifests: Seq[ManifestMeta], summary: Map[String, String],
      buckets: Int, schema: Seq[FieldDef] = Nil, lastFieldId: Int = 0,
      deletes: Seq[DeleteFileEntry] = Nil,
      eqDeletes: Seq[EqDeleteFileEntry] = Nil,
      properties: Map[String, String] = Map.empty,
      nextRowId: Long = 0L): Snapshot = {
    io.mkdirs(metadataDir)
    // guard: committing off a stale parent loses the race deterministically
    // (against THIS ref's head — a branch commit conflicts on the branch)
    val head = currentVersion
    if (head != parentV)
      throw new CommitConflictException(
        s"stale commit: parent v$parentV but ref '$refName' is at v$head")
    // write-audit-publish exclusivity: while a staged claim sits above
    // the main head, it owns main's commit window (before branches the
    // claim on head+1 enforced this for free; with global version
    // numbers the check is explicit). Branch commits are unaffected —
    // they advance their own ref, never the gated hint.
    if (refName == "main")
      stagedVersion.foreach(sv => throw new CommitConflictException(
        s"staged v$sv owns the commit window (publish or abort-staged first)"))
    // version numbers are GLOBAL across refs (branches share the v*.json
    // namespace): claim one past the highest ever committed, so a branch
    // tip and a main commit can never collide. On a branch-free table
    // this is exactly parentV + 1. Data-seq stamps (parentV + 1, applied
    // in commit() before manifests were written) may sit below the
    // claimed version — sound, because stamps still increase strictly
    // along every parent chain and cross-ref entries only meet through
    // fast-forward, which adopts the branch's files AND deletes wholesale.
    val v = math.max(parentV, listVersions.lastOption.getOrElse(-1L)) + 1
    val snap = Snapshot(v, parentV, operation, manifests, summary, buckets,
      System.currentTimeMillis(), schema, lastFieldId, deletes, eqDeletes,
      properties, nextRowId)
    if (!io.writeNew(versionFile(v), Json.toBytes(snap)))
      throw new CommitConflictException(s"concurrent commit already claimed v$v")
    publishHint(v)
    snap
  }

  /** Final step of the commit protocol: flip the version hint so readers
    * see the new snapshot. [[staged]] views override this to a no-op —
    * the write-audit-publish gate. */
  protected def publishHint(v: Long): Unit =
    io.writeAtomic(hintFile, v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // --------------------------------------------- write-audit-publish

  /** A view of this table whose commits STAGE instead of publish: the
    * job claims `v<head+1>.json` like any commit (so concurrent writers
    * conflict and wait — staging owns the single-writer window, which is
    * exactly what a maintenance audit gate wants) but the version hint
    * is not flipped, so every reader still resolves the pre-job
    * snapshot. Audit the staged snapshot explicitly (`snapshotAt`,
    * `verify --against`), then [[publishStaged]] to make it live or
    * [[abortStaged]] to discard it — Iceberg's WAP pattern re-derived
    * over the hint/claim commit protocol. */
  def staged: QTable = new QTable(root, spark) {
    override protected def publishHint(v: Long): Unit = ()
  }

  /** The claimed-but-unpublished version, if any. Versions above the
    * main head are either staged claims or BRANCH tips — branch commits
    * mark their summary with their ref name, so only unmarked ones
    * resolve here (publishing a branch is [[graft.jobs.FastForwardJob]],
    * never a hint flip past it). */
  def stagedVersion: Option[Long] = {
    val head = currentVersion
    listVersions.filter(_ > head)
      .filterNot(v => snapshotAt(v).summary.contains("ref"))
      .maxOption
  }

  /** Make the staged snapshot live. One atomic hint flip: readers that
    * resolved the old head keep their snapshot (isolation as usual). */
  def publishStaged(): Snapshot = {
    val v = stagedVersion.getOrElse(
      throw new IllegalStateException("nothing staged to publish"))
    publishHint(v)
    snapshotAt(v)
  }

  /** Discard the staged snapshot: delete the data files and manifests it
    * ADDED relative to its parent (shared/reused ones survive), then
    * release the version claim so writers can proceed. Safe after a
    * crashed audit: everything deleted is unreachable from the published
    * chain by construction. */
  def abortStaged(): Option[Long] = stagedVersion.map { v =>
    val snap = snapshotAt(v)
    val parent = snapshotAt(snap.parentVersion)
    val parentFiles = entries(parent).map(_.path).toSet ++
      parent.deleteFiles.map(_.path) ++ parent.eqDeleteFiles.map(_.path)
    val parentManifests = parent.manifests.map(_.path).toSet
    (entries(snap).map(_.path) ++ snap.deleteFiles.map(_.path) ++
        snap.eqDeleteFiles.map(_.path))
      .filterNot(parentFiles.contains)
      .foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(hadoopConf)
        if (fs.exists(hp)) fs.delete(hp, false)
      }
    snap.manifests.map(_.path).filterNot(parentManifests.contains)
      .foreach(m => io.delete(s"$metadataDir/$m"))
    io.delete(versionFile(v))
    v
  }

  /** Snapshot operations that preserve the logical row set (pure layout /
    * metadata rewrites) — an incremental append scan skips them. */
  private val RowPreservingOps: Set[String] = Set(
    "compact", "cluster-zorder", "cluster-hilbert", "rebucket",
    "rewrite-manifests", "rewrite-deletes", "add-column", "rename-column",
    "drop-column", "widen-column", "analyze-ndv", "set-properties",
    "enable-row-lineage")

  /** The data files the commits in (fromV, toV] of this ref APPENDED,
    * each with its commit's `timestampMs` — the one manifest-level walk
    * behind [[addedEntries]] and [[streamedEntriesWithTs]]. Appends
    * commit parent manifests BY REFERENCE (see [[commit]]/AppendJob), so
    * the diff is O(appended metadata), never O(table). A clone-birth
    * appends its whole manifest set (parentVersion = -1: no parent to
    * diff against; Delta-style clone-as-initial-snapshot); row-set-
    * preserving commits contribute nothing. Any other commit — rows
    * changed or removed, or a clone that adopted live delete files
    * (entries-as-appended would over-emit killed rows) — goes to
    * `changed`, which refuses it by throwing or skips it by returning. */
  private def appendedEntries(fromV: Long, toV: Long, scan: String)(
      changed: Snapshot => Unit): Seq[(DataFileEntry, Long)] = {
    require(fromV <= toV, s"$scan range reversed: v$fromV > v$toV")
    val buf = Seq.newBuilder[(DataFileEntry, Long)]
    var s = snapshotAt(toV)
    var done = s.version <= fromV
    while (!done) {
      // the parent loaded for an append's manifest diff is reused to
      // advance the walk — one snapshot read per hop, not two
      var loadedParent: Option[Snapshot] = None
      val added = s.operation match {
        case "append" | "cherry-pick" => // both add files, parent manifests by reference
          val parent = snapshotAt(s.parentVersion)
          loadedParent = Some(parent)
          val parentManifests = parent.manifests.map(_.path).toSet
          s.manifests.filterNot(m => parentManifests.contains(m.path))
        case "clone" if s.deleteFiles.isEmpty && s.eqDeleteFiles.isEmpty => s.manifests
        case op if op == "create" || RowPreservingOps.contains(op) => Nil
        case _ => changed(s); Nil
      }
      val ts = s.timestampMs
      buf ++= added.flatMap(m => readManifest(m).files).map(f => (f, ts))
      // stop at the range start or at table birth (no parent to walk to)
      done = s.parentVersion < 0 || s.parentVersion <= fromV
      if (!done) s = loadedParent.getOrElse(snapshotAt(s.parentVersion))
    }
    buf.result()
  }

  /** Iceberg-style incremental append scan planning: the data files ADDED
    * by each append in the chain (fromV, toV] — what lets a 10^12-row
    * table serve CDC-style consumers cheaply. `merge`/`rollback` change
    * or remove rows and cannot be expressed as an append delta, so the
    * walk refuses them (Iceberg's incremental scan makes the same
    * refusal for overwrite/delete), as it refuses a clone-birth that
    * adopted live deletes. */
  def addedEntries(fromV: Long, toV: Long): Seq[DataFileEntry] =
    appendedEntries(fromV, toV, "incremental") { s =>
      throw new IllegalArgumentException(
        if (s.operation == "clone")
          s"cannot incrementally read across clone-birth v${s.version}: " +
            "the clone adopted live delete files from its source, so " +
            "its initial rows are not expressible as plain appends — " +
            "use readChanges (CLI: changes), or compact the clone " +
            "first to fold the adopted deletes"
        else
          s"cannot incrementally read across a '${s.operation}' snapshot " +
            s"(v${s.version}): rows were changed or removed, not " +
            "appended — use readChanges (CLI: changes) for a " +
            "changelog that follows merges and rollbacks")
    }.map(_._1)

  /** [[addedEntries]]'s STREAMING-source variant: same manifest-level
    * walk over (fromV, toV], but row-changing commits either fail with
    * the streaming-specific remedy (restart with skip-change-commits,
    * or consume the changelog) or — when `skipChangeCommits` — are
    * skipped entirely, their changes NOT emitted (Delta's
    * skipChangeCommits semantics). Deterministic for a given range,
    * which is what makes checkpoint replay exactly-once. */
  def streamedEntries(fromV: Long, toV: Long,
      skipChangeCommits: Boolean): Seq[DataFileEntry] =
    streamedEntriesWithTs(fromV, toV, skipChangeCommits).map(_._1)

  /** [[streamedEntries]] with each entry paired with its commit's
    * `timestampMs` — the event-time input for the streaming source's
    * optional `_commit_ts` column (watermarked windowed aggregation
    * needs an event-time column, and the commit wall-clock is the
    * honest one a table-following feed has). */
  def streamedEntriesWithTs(fromV: Long, toV: Long,
      skipChangeCommits: Boolean): Seq[(DataFileEntry, Long)] =
    appendedEntries(fromV, toV, "streaming") { s =>
      if (!skipChangeCommits)
        throw new IllegalStateException(
          s"streaming read reached a '${s.operation}' commit (v${s.version}): rows " +
            "were changed, not appended. Restart with " +
            "option(\"skip-change-commits\", true) to skip such commits " +
            "(their changes are NOT emitted), or consume readChanges " +
            "(CLI: changes) for full CDC")
    }

  /** Read exactly the rows appended in (fromV, toV] — see
    * [[addedEntries]]. Uses the `to` snapshot's recorded schema (logical
    * names; files resolve under their physical names as in [[read]]) and
    * its initial defaults; deletes stay unapplied by contract
    * (incremental = rows as appended). */
  def readIncremental(fromV: Long, toV: Long): DataFrame = {
    val to = snapshotAt(toV)
    val ents = addedEntries(fromV, toV)
    toLogical(decorate(scan(ents, to.physicalSchema), None, to, ents), to)
  }

  /** Row-level changelog (CDC) over (fromV, toV] — unlike
    * [[readIncremental]] it follows merges and rollbacks, emitting
    * insert/delete/update_preimage/update_postimage rows tagged with the
    * committing version. See [[ChangelogScan]] for the per-commit cost
    * model (O(touched files), never O(table)). */
  def readChanges(fromV: Long, toV: Long): DataFrame =
    ChangelogScan.changes(this, fromV, toV)

  /** Files metadata table (Iceberg's `table$files` analogue): one row
    * per live data file of `s` with its manifest-recorded stats — layout
    * inspection, skew hunting, and debt queries WITHOUT opening a data
    * file ("which files hold phash range X", "how fragmented is bucket
    * 7", "what still predates the last upsert"). Metadata-sized by
    * construction: the rows ARE the planner's entries. */
  def filesDF(s: Snapshot): DataFrame = {
    // `external` = the file lives outside this table's root (a shallow-
    // clone reference, [[cloneTo]]): "what would a localizing compact
    // rewrite" / "what does this clone still borrow" in plain SQL
    val rows = entries(s).map(e => (e.path, e.rowCount, e.byteCount,
      e.pbucketMin, e.pbucketMax, e.phashMin, e.phashMax,
      e.imageIdMin, e.imageIdMax, e.seq, e.blooms.nonEmpty, e.firstRowId,
      !QTable.ownedBy(e.path, root)))
    spark.createDataFrame(rows).toDF("path", "row_count", "byte_count",
      "pbucket_min", "pbucket_max", "phash_min", "phash_max",
      "image_id_min", "image_id_max", "seq", "has_bloom", "first_row_id",
      "external")
  }

  def filesDF: DataFrame = filesDF(currentSnapshot)

  /** Partitions metadata table (Iceberg's `table$partitions` analogue):
    * file/row/byte totals and phash span per BUCKET SPAN from the
    * manifest entries — the skew/debt question ("which bucket is hot,
    * which needs maintenance") in one metadata-sized frame, zero data
    * opens. One row per distinct (pbucket_lo, pbucket_hi): the append
    * layout is a sorted range split, so boundary files legitimately
    * span adjacent buckets (pbucket_lo < pbucket_hi) until maintenance
    * re-bins them — reporting spans keeps every total EXACT and
    * conserving instead of guessing an attribution. Counts are STORED
    * rows (live merge-on-read delete debt is not subtracted — it is a
    * table-level quantity reported by analyze). */
  def partitionsDF(s: Snapshot): DataFrame = {
    val rows = entries(s)
      .groupBy(e => (e.pbucketMin, e.pbucketMax))
      .toSeq.map { case ((lo, hi), fs) =>
        (lo, hi, fs.size.toLong, fs.map(_.rowCount).sum,
          fs.map(_.byteCount).sum, fs.map(_.phashMin).min,
          fs.map(_.phashMax).max)
      }.sortBy(r => (r._1, r._2))
    spark.createDataFrame(rows).toDF("pbucket_lo", "pbucket_hi",
      "file_count", "row_count", "byte_count", "phash_min", "phash_max")
  }

  def partitionsDF: DataFrame = partitionsDF(currentSnapshot)

  /** Manifests metadata table (Iceberg's `table$manifests`): one row per
    * manifest of `s` with its range stats — the manifest-level pruning
    * inputs, queryable. */
  def manifestsDF(s: Snapshot): DataFrame = {
    val rows = s.manifests.map(m => (m.path, m.fileCount, m.rowCount,
      m.byteCount, m.pbucketMin, m.pbucketMax, m.phashMin, m.phashMax))
    spark.createDataFrame(rows).toDF("path", "file_count", "row_count",
      "byte_count", "pbucket_min", "pbucket_max", "phash_min", "phash_max")
  }

  def manifestsDF: DataFrame = manifestsDF(currentSnapshot)

  /** Snapshot-history metadata table (Iceberg's `snapshots` analogue):
    * one row per retained version with its commit summary totals. Built
    * driver-side from version files — metadata-sized by construction
    * (bounded by ExpireSnapshotsJob's retention), never touches data. */
  def historyDF: DataFrame = {
    val rows = listVersions.map { v =>
      val s = snapshotAt(v)
      (s.version, s.parentVersion, s.operation, s.timestampMs,
        s.summary.getOrElse("total-files", "0").toLong,
        s.summary.getOrElse("total-rows", "0").toLong,
        s.summary.getOrElse("total-bytes", "0").toLong)
    }
    spark.createDataFrame(rows).toDF("version", "parent_version",
      "operation", "committed_at_ms", "n_files", "total_rows", "total_bytes")
  }

  /** The data directory of a job's group: `data/<jobId>/<group>`. */
  def newDataDir(jobId: String, group: String): String =
    s"$dataDir/$jobId/$group"

  /** A fresh directory for one write attempt of a job's group,
    * `data/<jobId>/<group>/<attempt-uuid>`. No two attempts share one —
    * not a retry, a resume or a reused job id — so no writer deletes
    * before it writes: a crashed attempt's partial output is an orphan
    * that [[graft.jobs.RemoveOrphanFilesJob]] reclaims, and
    * [[TableWrite]]'s refusal of an existing directory is the only
    * guard. */
  def newAttemptDir(jobId: String, group: String): String =
    s"${newDataDir(jobId, group)}/${java.util.UUID.randomUUID()}"

  def hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** Stats-harvest every parquet file a job just wrote under `dir` —
    * driver-parallel for per-group batches, a Spark job above the
    * distribute threshold (whole-table rewrites at cluster scale). */
  def harvest(dir: String): Seq[DataFileEntry] = {
    val conf = hadoopConf
    // zero-row part files (Spark's writer emits one for partition 0 of
    // an exact-binned shuffle whose first bin is empty) carry no data
    // and no stats: committing them would pollute manifests with
    // entries every planner must special-case — skip them; the orphan
    // sweep reclaims the bytes
    ParquetStats.entriesFor(ParquetStats.listParquetFiles(dir, conf), spark, conf)
      .filter(_.rowCount > 0L)
  }
}

object QTable {
  val DefaultBuckets = 8

  /** Data/delete file names are UUID-unique Spark part files, so the
    * NAME identifies a file regardless of scheme/qualification — the
    * normalization every path-set comparison in the engine uses. */
  def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Normalized scheme://authority/path key for file-OWNERSHIP tests
    * (the shallow-clone guards in expire/compact/analyze/filesDF). A
    * bare `toUri.getPath` prefix test discards scheme and authority, so
    * a clone whose source lives on a different filesystem but the same
    * path string would be misclassified as table-local — and expire
    * could then delete the source's files through the clone (r5 advice
    * fix). Scheme-less paths normalize to an empty scheme/authority, so
    * same-filesystem layouts compare exactly as before. */
  def ownerKey(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    Option(u.getScheme).getOrElse("") + "://" +
      Option(u.getAuthority).getOrElse("") + u.getPath
  }

  /** True iff `path` lives under `root` on the SAME filesystem
    * (scheme + authority + path-prefix). Harvested entry paths are
    * recorded scheme-stripped ([[ParquetStats.listParquetFiles]]
    * records `getPath.toUri.getPath`), so an entry WITHOUT a scheme is
    * compared path-only against the root: a scheme-qualified table root
    * (`file:///x`, `s3a://...`) must still own its own harvested files —
    * otherwise every compact rewrites the whole table and expire never
    * deletes dead files (r5 advice fix). Entries that DO carry a scheme
    * (external references recorded fully-qualified) keep the full
    * scheme+authority comparison, preserving the cross-filesystem clone
    * guard. */
  def ownedBy(path: String, root: String): Boolean = {
    val u = new org.apache.hadoop.fs.Path(path).toUri
    if (u.getScheme == null) {
      val rootPath = new org.apache.hadoop.fs.Path(root).toUri.getPath
      u.getPath.startsWith(rootPath.stripSuffix("/") + "/")
    } else ownerKey(path).startsWith(ownerKey(root).stripSuffix("/") + "/")
  }

  /** The row-lineage column name (Iceberg v3 `_row_id`). */
  val RowIdCol = "_row_id"

  /** Unsigned UTF-8 order — the order the harvested id-range stats are
    * computed in; java's String.compareTo (UTF-16 code units) diverges
    * for supplementary characters, which would make eq-delete pruning
    * and retention unsound. */
  private[graft] def utf8Leq(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0

  def apply(root: String, spark: SparkSession): QTable = new QTable(root, spark)

  /** Create an empty table (v0 snapshot with no files). */
  def create(root: String, spark: SparkSession, buckets: Int = DefaultBuckets): QTable = {
    val t = new QTable(root, spark)
    t.io.mkdirs(t.metadataDir)
    t.io.mkdirs(t.dataDir)
    t.commitSnapshot(-1L, "create", Nil, Map("buckets" -> buckets.toString), buckets)
    t
  }
}
