package graft.model

import org.apache.spark.sql.types._

/** Core data model of the qtable engine.
  *
  * The row shape is mandated by the build brief (image+caption lakehouse
  * rows). The envelope/metadata split mirrors the reference's
  * payload-vs-metadata design (quanterra-pipeline
  * `src/models/data/eodhd_models.py:15-27`: typed envelope wrapping a
  * payload), re-expressed as table-format metadata (snapshots/manifests)
  * around Parquet data files.
  */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

object ImageRow {
  /** Fixed, validated-not-inferred schema (cf. reference CSV header
    * validation, `hargreaves_lansdown_models.py:24-46`). */
  val schema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("phash", LongType, nullable = false)
  ))

  /** On-disk schema: row columns + the stored bucket-partition column. */
  val storedSchema: StructType =
    schema.add(StructField("pbucket", IntegerType, nullable = false))
}

/** One column's min/max stats range, JSON-portable: values are stored as
  * strings with a `kind` tag ("long" | "double" | "string") so manifests
  * stay engine-independent JSON; absent when a file has no non-null value
  * for the column. */
final case class ColStat(kind: String, min: String, max: String)

/** What a scan needs of any file a snapshot records — data, position-
  * delete or equality-delete: its path and its commit-time size. Every
  * table read plans from these (see [[graft.format.QTableFileIndex]]),
  * so no read stats the filesystem to learn what the metadata holds. */
sealed trait FileEntry {
  def path: String
  def byteCount: Long
}

/** Per-data-file entry recorded in a manifest. min/max column stats are
  * harvested from Parquet footers at commit time and drive scan pruning
  * (the analogue of the reference pushing date-range params into its HTTP
  * reads, `eodhd_client.py:52-58`). The engine's own key/stat columns
  * (pbucket, phash, image_id) have dedicated fields; `colStats` carries
  * every OTHER primitive column — including schema-evolved ones, keyed by
  * their PHYSICAL (stored) name — so data skipping generalizes to added
  * columns without a format change. */
final case class DataFileEntry(
    path: String,
    rowCount: Long,
    byteCount: Long,
    pbucketMin: Int,
    pbucketMax: Int,
    phashMin: Long,
    phashMax: Long,
    imageIdMin: String,
    imageIdMax: String,
    colStats: Map[String, ColStat] = Map.empty,
    idBlooms: Seq[String] = Nil,
    colNulls: Map[String, String] = Map.empty,
    // base64 Datasketches-HLL sketch per PHYSICAL column name, attached
    // by the on-demand NdvSketchJob (the Iceberg ANALYZE/Puffin
    // analogue). Mergeable across files (register-wise), so table-level
    // approx-distinct is O(file entries) with zero data reads.
    ndv: Map[String, String] = Map.empty,
    // data sequence number = the version of the commit that WROTE this
    // file (Iceberg v2's data_sequence_number): equality deletes apply
    // only to files with a strictly smaller seq. 0 (what pre-eq manifests
    // deserialize) = "predates every equality delete" — exact, since such
    // files really were written before the feature existed. Harvest
    // produces [[DataFileEntry.UnstampedSeq]]; QTable.commit stamps the
    // claimed version; carried (untouched copy-on-write) entries keep
    // their original seq. Reads see it per row as the scan's
    // `_metadata.qtable_seq` constant (graft.format.QTableFileIndex).
    seq: Long = 0L,
    // row-lineage base (Iceberg v3 `first_row_id`): the file's rows get
    // stable ids `firstRowId + physical position` unless a materialized
    // `_row_id` value is stored for the row (rewrites materialize ids;
    // stored value wins, null falls back to base + position — which is
    // also how MERGE inserts inside a lineage table get fresh ids).
    // Interpreted ONLY when the snapshot carries the `row.lineage`
    // property: enable-row-lineage stamps every live entry, commit
    // stamps fresh entries from [[graft.model.Snapshot.nextRowId]], and
    // rollback refuses to cross the enable boundary — so a 0 from a
    // pre-lineage manifest is never read as an id. In-memory fresh
    // entries default to the [[DataFileEntry.UnstampedRowId]] sentinel.
    // Reads see it per row as `_metadata.qtable_first_row_id`.
    firstRowId: Long = DataFileEntry.UnstampedRowId) extends FileEntry {

  /** Null-safe accessor: entries from pre-colStats manifests deserialize
    * with null here and resolve to empty (no stats = never pruned). */
  def stats: Map[String, ColStat] = Option(colStats).getOrElse(Map.empty)

  /** EXACT per-column null count (physical name), present only when
    * every row group's footer recorded one — the soundness input for
    * whole-file proofs (StatsDelete's "every row matches", a non-null
    * column being the precondition for range proofs under SQL's
    * three-valued logic). Values are strings purely for JSON fidelity
    * (Jackson round-trips Map[String, Long] values as Ints below 2^31,
    * which erased-map lookups then miss). Absent/null (old manifests,
    * unset footer field) = unknown = never proven. */
  def knownNullCount(phys: String): Option[Long] =
    Option(colNulls).getOrElse(Map.empty).get(phys).map(_.toLong)

  /** Base64 split-block Bloom filters over `image_id`, one per row group
    * — point-lookup file skipping where min/max ranges go wide (a
    * Z-order-clustered file spans most of the id domain). Empty/null
    * (pre-bloom manifests, or files whose bloom could not be harvested)
    * = unknown = never pruned. ~5 KB per file at the default NDV against
    * ~512 MB of indexed image data: manifest-to-data overhead ≈ 1:10^5,
    * Iceberg's puffin-sidecar trade made inline because the entries are
    * chunked 512/manifest anyway. */
  def blooms: Seq[String] = Option(idBlooms).getOrElse(Nil)

  /** Null-safe NDV-sketch accessor (pre-sketch manifests deserialize
    * with null): physical column name -> base64 compact HLL sketch. */
  def ndvSketches: Map[String, String] = Option(ndv).getOrElse(Map.empty)
}

object DataFileEntry {
  /** seq sentinel on freshly-harvested entries: "stamp me with the
    * committing version" ([[graft.format.QTable.commit]]). */
  val UnstampedSeq: Long = -1L

  /** firstRowId sentinel on freshly-harvested entries: "assign my rows
    * the next id range" — stamped by QTable.commit when the table
    * carries the `row.lineage` property. */
  val UnstampedRowId: Long = -1L
}

/** One position-delete file (merge-on-read row deletes, the Iceberg v2
  * analogue): a parquet file of `(file_path: string, pos: long)` rows,
  * each marking one row of one DATA file as deleted. Readers apply the
  * live delete set as an anti-join on the file name and
  * `_metadata.row_index`; rewrite jobs fold deletes into the data files
  * they rewrite and drop entries that no longer reference a live file.
  *
  * `dataPathMin`/`dataPathMax` bound the referenced data-file paths
  * (as stored in the file, i.e. fully-qualified scan URIs) so a scoped
  * read or rewrite prunes delete files that cannot touch its inputs —
  * the role Iceberg's delete-manifest partition ranges play. Entries are
  * held inline in the snapshot (like the manifest list): steady-state
  * maintenance folds them away, so the list stays O(deletes since the
  * last rewrite), and a table that lets millions of delete files pile up
  * unfolded has a maintenance-debt problem no metadata layout fixes. */
final case class DeleteFileEntry(
    path: String,
    rowCount: Long,
    byteCount: Long,
    dataPathMin: String,
    dataPathMax: String) extends FileEntry

/** One EQUALITY-delete file (Iceberg v2's second delete flavor): a
  * parquet file of `image_id` keys, each killing EVERY older row of that
  * key. "Older" is the sequence-number rule: the delete applies to data
  * files whose [[DataFileEntry.seq]] is strictly below this entry's
  * `seq` (the version of the commit that added it).
  *
  * This is what makes a streaming UPSERT scan-free: position deletes
  * need the matched rows' (file, pos) addresses — a per-batch scan of
  * every candidate file — while an equality delete just records the
  * keys. [[graft.jobs.UpsertJob]] writes one per batch (delete all
  * older versions of the batch's keys) alongside the batch's appended
  * rows, so commit cost is O(batch) no matter how big the table is.
  *
  * The read side pays an extra anti-join (key match + seq comparison,
  * both seqs per-file `_metadata` constants of the scans, no lookup)
  * until compaction folds the debt: rewrites read delete-applied, their
  * outputs get a fresh seq above every live delete, and an entry whose
  * applicable files were all rewritten is dropped
  * ([[graft.format.QTable.retainEqDeletes]]).
  *
  * `idMin`/`idMax` bound the keys so scoped reads and the retention
  * rule prune by id-range overlap — the same role
  * [[DeleteFileEntry]]'s referenced-path bounds play. */
final case class EqDeleteFileEntry(
    path: String,
    rowCount: Long,
    byteCount: Long,
    idMin: String,
    idMax: String,
    seq: Long) extends FileEntry

/** Manifest file metadata held in the snapshot (an inlined manifest list,
  * Iceberg-style): range stats allow skipping whole manifests. */
final case class ManifestMeta(
    path: String,
    fileCount: Long,
    rowCount: Long,
    byteCount: Long,
    pbucketMin: Int,
    pbucketMax: Int,
    phashMin: Long,
    phashMax: Long)

/** The content of one manifest-*.json file. */
final case class ManifestData(files: Seq[DataFileEntry])

/** One field of the table schema as recorded in a snapshot. `id` is the
  * Iceberg-style stable field id: names can evolve, ids never do, so a
  * rename is a metadata edit that keeps reading old files. `dtype`
  * is Spark DDL (`string`, `binary`, `int`, `long`, ...).
  *
  * `physicalName` is the name data files actually store the field under,
  * fixed at field CREATION and immune to renames — the name-mapped
  * reader's substitute for Iceberg's in-file field ids: every file ever
  * written carries the creation-time name, so a rename never has to
  * rewrite data and a renamed read is a pure projection alias. Empty/null
  * (all base fields + pre-evolution snapshots) means "same as name".
  *
  * `default` is the Iceberg-v3-style INITIAL default: the value rows
  * that existed before the column did surface on read (files whose data
  * sequence number is below `defaultSeq`, the version of the add-column
  * commit). Files written at or after that commit store real values —
  * including explicit nulls, which stay null (this is NOT a coalesce).
  * Stored as a string literal typed by `dtype`; null = no default (the
  * pre-default behavior: old files surface nulls). `defaultSeq` rides
  * the same stamping protocol as [[DataFileEntry.seq]]. */
final case class FieldDef(id: Int, name: String, dtype: String, nullable: Boolean,
    physicalName: String = "", default: String = null, defaultSeq: Long = 0L) {
  def phys: String =
    if (physicalName == null || physicalName.isEmpty) name else physicalName
  def sparkType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL(dtype)
  /** Null-safe initial-default accessor (pre-default snapshots
    * deserialize with null here). */
  def defaultOpt: Option[String] = Option(default)

  /** The initial default as the declared type's JVM value — what every
    * row of a pre-evolution file (seq < defaultSeq) reads as. Parse is
    * validated at ALTER time ([[graft.format.QTable.addColumn]]). */
  def typedDefault: Option[Any] = defaultOpt.map(v => dtype match {
    case "int"             => v.toInt
    case "long" | "bigint" => v.toLong
    case "float"           => v.toFloat
    case "double"          => v.toDouble
    case "boolean"         => v.toBoolean
    case _                 => v
  })
}

object FieldDef {
  /** The mandated base schema with field ids 1..N. Snapshots written
    * before schema tracking carry no schema field and resolve to this. */
  def defaults: Seq[FieldDef] =
    graft.model.ImageRow.storedSchema.fields.zipWithIndex.map { case (f, i) =>
      FieldDef(i + 1, f.name, f.dataType.simpleString, f.nullable)
    }.toSeq

  /** Logical schema: current (user-facing) names. */
  def toStruct(fields: Seq[FieldDef]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.sparkType, f.nullable)))

  /** Physical schema: the names data files store (creation-time names). */
  def toPhysicalStruct(fields: Seq[FieldDef]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(fields.map(f =>
      org.apache.spark.sql.types.StructField(f.phys, f.sparkType, f.nullable)))
}

/** One committed table version. `parentVersion` is -1 for the first
  * snapshot. Readers that hold a Snapshot object are isolated: the file
  * set it references is immutable until ExpireSnapshots removes it.
  * `schema` is the evolved field list (empty/absent = the base schema —
  * snapshots from before schema tracking deserialize with null here). */
final case class Snapshot(
    version: Long,
    parentVersion: Long,
    operation: String,
    manifests: Seq[ManifestMeta],
    summary: Map[String, String],
    buckets: Int,
    timestampMs: Long,
    schema: Seq[FieldDef] = Nil,
    lastFieldId: Int = 0,
    deletes: Seq[DeleteFileEntry] = Nil,
    eqDeletes: Seq[EqDeleteFileEntry] = Nil,
    // table properties (Iceberg TBLPROPERTIES analogue): configuration
    // the table CARRIES — write targets, retention — so every job and
    // scheduler tick reads the same policy instead of repeating flags.
    // Changed by a metadata-only "set-properties" commit, carried by
    // every other commit like the schema.
    properties: Map[String, String] = Map.empty,
    // row-lineage high-water mark (Iceberg v3 `next-row-id`): the next
    // unassigned row id. Monotone along every chain — commits add the
    // row counts of the entries they stamp; rollback carries the HEAD's
    // value (never the target's) so ids are never reused after an undo;
    // fast-forward adopts the max of both chains. 0 (pre-lineage
    // snapshots) is exact: no id was ever assigned.
    nextRowId: Long = 0L) {

  /** Null-safe properties accessor (pre-properties snapshots
    * deserialize with null). */
  def props: Map[String, String] = Option(properties).getOrElse(Map.empty)

  /** True when this snapshot tracks row lineage (stable `_row_id`s) —
    * the gate for interpreting [[DataFileEntry.firstRowId]]. */
  def rowLineage: Boolean = props.get("row.lineage").contains("true")

  /** Live position-delete files (merge-on-read). Null-safe: snapshots
    * from before delete tracking deserialize with null here. */
  def deleteFiles: Seq[DeleteFileEntry] = Option(deletes).getOrElse(Nil)

  /** Live equality-delete files. Null-safe like [[deleteFiles]]. */
  def eqDeleteFiles: Seq[EqDeleteFileEntry] = Option(eqDeletes).getOrElse(Nil)

  /** Effective schema fields: recorded ones, else the base schema. */
  def schemaFields: Seq[FieldDef] = {
    val s = Option(schema).getOrElse(Nil)
    if (s.isEmpty) FieldDef.defaults else s
  }

  /** Highest field id EVER allocated (not just currently present): a
    * dropped column's id must never be reused, or a later re-add of the
    * same name could resurface the dropped column's stored data. 0 on
    * pre-evolution snapshots — callers max() with the current ids. */
  def highestFieldId: Int = math.max(lastFieldId, schemaFields.map(_.id).max)

  def storedSchema: org.apache.spark.sql.types.StructType =
    FieldDef.toStruct(schemaFields)

  /** The schema as data files store it (creation-time physical names). */
  def physicalSchema: org.apache.spark.sql.types.StructType =
    FieldDef.toPhysicalStruct(schemaFields)

  /** True when some field's user-facing name differs from its stored
    * name — the read path then needs an aliasing projection. */
  def hasRenames: Boolean = schemaFields.exists(f => f.phys != f.name)
}

/** Per-partition-group lineage record for resumable maintenance jobs.
  * status is "committed" once the group's output files are durable; a
  * resumed run (same jobId) skips committed groups (upgrades the
  * reference's idempotent deterministic-path overwrite, SURVEY §2.2 K5,
  * into real checkpointed resume). */
final case class LineageEntry(
    jobId: String,
    jobType: String,
    group: String,
    inputFiles: Seq[String],
    outputFiles: Seq[DataFileEntry],
    rowCount: Long,
    byteCount: Long,
    status: String,
    attempt: Int)
