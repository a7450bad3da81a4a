package graft.format

import graft.model.{DataFileEntry, EqDeleteFileEntry, FileEntry}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The file listing behind EVERY qtable read — the custom `FileIndex`
  * integration pattern Delta/Iceberg use. Data-file reads (`read`,
  * `readIndexed`, rewrite reads, incremental/changelog/streaming scans)
  * and delete-file reads (position and equality deletes) all plan from
  * manifest/snapshot entries through this index; none lists or stats
  * the filesystem. FileStatus objects are synthesized from the entries
  * (size is recorded at commit time), so planning a 10^12-image table's
  * scan is pure in-memory metadata work. A file that vanished out of
  * band fails the task that opens it, naming the file — never a
  * silently shorter result.
  *
  * Over data files the index also skips: Spark's `FileSourceStrategy`
  * hands every scan's pushed data filters to `listFiles`, and the index
  * answers with only the files whose manifest min/max ranges can
  * satisfy them. A user writing plain declarative
  * `table.readIndexed().where($"phash".between(a, b))` gets the same
  * file skipping the planner call `QTable.planFiles` does by hand, and
  * the skipping composes with every other Catalyst feature (column
  * pruning, AQE, joins). Delete files carry no such stats and are
  * always listed whole.
  *
  * Each listed file carries its entry's constants — data sequence
  * number and first row id — which [[QTableParquetFormat]] serves as
  * `_metadata` fields: per-file values a read projects like any column,
  * with no lookup join.
  *
  * Two indexes over the same files with the same constants are EQUAL
  * (as `InMemoryFileIndex` compares root paths), so two reads of one
  * snapshot match in exchange reuse and the `CacheManager`; a re-stamp
  * of the same paths (enable-row-lineage) is a different relation.
  */
class QTableFileIndex(entries: Seq[FileEntry]) extends FileIndex {

  /** (selected, total) of the last listFiles call — test/metrics hook. */
  @volatile var lastSelection: (Int, Int) = (entries.size, entries.size)

  /** Set by [[graft.spark.QTableSource]] ONLY when this relation is the
    * CURRENT MAIN HEAD of a table (no version/tag/branch/as-of-ts time
    * travel): the table root SQL `INSERT INTO` may append to. The
    * [[graft.spark.QTableExtensions]] resolution rule reroutes inserts
    * against such relations through the commit protocol (AppendJob);
    * None (every internal/time-traveled relation) makes the rule skip,
    * and Spark's fallback insert path then fails on the synthetic
    * rootPaths — a time-traveled view is never silently appendable. */
  @volatile var insertRoot: Option[String] = None

  override def rootPaths: Seq[HPath] =
    entries.map(e => new HPath(e.path)).take(1).toSeq

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = entries.map(_.byteCount).sum

  override def inputFiles: Array[String] = entries.map(_.path).toArray

  override def refresh(): Unit = ()

  private lazy val listing: Map[String, Map[String, Any]] =
    entries.iterator.map(e => e.path -> QTableFileIndex.constants(e)).toMap

  // the mutable test/DML hooks above take no part: they describe how a
  // relation is used, not what it reads
  override def equals(other: Any): Boolean = other match {
    case o: QTableFileIndex => listing == o.listing
    case _ => false
  }

  override def hashCode(): Int = listing.hashCode

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected = entries.filter {
      case e: DataFileEntry => dataFilters.forall(f => mayMatch(f, e))
      case _ => true
    }
    lastSelection = (selected.size, entries.size)
    val statuses = selected.map { e =>
      FileStatusWithMetadata(new FileStatus(e.byteCount, false, 1, 128L << 20, 0L,
        new HPath(e.path)), QTableFileIndex.constants(e))
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }

  // ---- conservative range evaluation against manifest min/max stats ----
  // Unknown predicate shapes return true (file kept): skipping must never
  // be unsound. Supported: And/Or/Not-free comparisons on the stats
  // columns (phash: long, pbucket: int, image_id: string), literal on
  // either side, plus IsNotNull (columns are non-null by schema).

  private def mayMatch(f: Expression, e: DataFileEntry): Boolean = f match {
    case And(l, r) => mayMatch(l, e) && mayMatch(r, e)
    case Or(l, r) => mayMatch(l, e) || mayMatch(r, e)
    // exact null counts (when harvested) prune null-ness predicates: a
    // file with zero nulls cannot match IS NULL; an all-null file
    // cannot match IS NOT NULL. Unknown count = kept (sound).
    case IsNull(a: AttributeReference) =>
      !e.knownNullCount(a.name).contains(0L)
    case IsNotNull(a: AttributeReference) =>
      !e.knownNullCount(a.name).contains(e.rowCount)
    case IsNotNull(_) => true
    // prefix predicate (LIKE 'P%' arrives as StartsWith after the
    // optimizer's LikeSimplification): matching strings occupy exactly
    // [P, succ(P)) in UTF-8 byte order, so the file may match iff its
    // range intersects that window. Truncated stats are outer bounds —
    // they only widen the window (sound).
    case StartsWith(a: AttributeReference, Literal(v, _)) if v != null =>
      range(a.name, e).forall { case (mn, mx) =>
        val p = v.toString
        cmp(mx, p).forall(_ >= 0) &&
          ParquetStats.prefixSuccessor(p).forall(up => cmp(mn, up).forall(_ < 0))
      }
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => geMax(a.name, v, e)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => gtMax(a.name, v, e)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => leMin(a.name, v, e)
    case LessThan(a: AttributeReference, Literal(v, _)) => ltMin(a.name, v, e)
    case EqualTo(a: AttributeReference, Literal(v, _)) =>
      geMax(a.name, v, e) && leMin(a.name, v, e) && bloomMay(a.name, v, e)
    // literal-on-left mirrors
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => leMin(a.name, v, e)
    case GreaterThan(Literal(v, _), a: AttributeReference) => ltMin(a.name, v, e)
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) => geMax(a.name, v, e)
    case LessThan(Literal(v, _), a: AttributeReference) => gtMax(a.name, v, e)
    case EqualTo(Literal(v, _), a: AttributeReference) =>
      geMax(a.name, v, e) && leMin(a.name, v, e) && bloomMay(a.name, v, e)
    // multi-point lookups: file kept iff SOME key may be present
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) =>
        geMax(a.name, v, e) && leMin(a.name, v, e) && bloomMay(a.name, v, e) }
    case InSet(a: AttributeReference, vs) =>
      vs.exists(v =>
        geMax(a.name, v, e) && leMin(a.name, v, e) && bloomMay(a.name, v, e))
    case _ => true
  }

  /** Bloom membership for id-equality predicates — the skipping layer
    * behind min/max where clustering widened per-file id ranges (see
    * [[BloomIndex]]). A row group may hold the key iff its bloom says so;
    * the FILE may iff any group may. No blooms recorded = unknown = kept.
    * Decoded filters are cached per file across the query's predicates. */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter]]()

  private def bloomMay(name: String, v: Any, e: DataFileEntry): Boolean =
    name != "image_id" || v == null || e.blooms.isEmpty || {
      val filters = bloomCache.computeIfAbsent(e.path,
        _ => e.blooms.map(BloomIndex.decode))
      filters.exists(f => BloomIndex.mightContain(f, v.toString))
    }

  /** stats range of column `name` in file `e`, as (min, max) if tracked:
    * the three dedicated key/stat columns, then the generic colStats map
    * (every other primitive column, incl. schema-evolved ones under their
    * physical names — which is what the scan's pushed filters reference,
    * since the relation schema is physical). */
  private def range(name: String, e: DataFileEntry): Option[(Any, Any)] = name match {
    case "phash" => Some((e.phashMin, e.phashMax))
    case "pbucket" => Some((e.pbucketMin, e.pbucketMax))
    case "image_id" => Some((e.imageIdMin, e.imageIdMax))
    case _ => e.stats.get(name).flatMap { s =>
      s.kind match {
        case "long" => Some((s.min.toLong, s.max.toLong))
        case "double" =>
          val (mn, mx) = (s.min.toDouble, s.max.toDouble)
          // NaN bounds carry no ordering information: keep the file
          if (mn.isNaN || mx.isNaN) None else Some((mn, mx))
        case "string" => Some((s.min, s.max))
        case _ => None
      }
    }
  }

  /** None for a type pair we cannot order — every may-match helper below
    * must then KEEP the file. A `=> 0` fallback would make the strict
    * comparators (gtMax/ltMin) return false and PRUNE on unknown types:
    * the unsound direction for a stats filter. */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Int, y: Long) => Some(java.lang.Long.compare(x.toLong, y))
    case (x: Long, y: Int) => Some(java.lang.Long.compare(x, y.toLong))
    case (x: Int, y: Int) => Some(Integer.compare(x, y))
    // timestamp/date predicates against INT64-micros / INT32-days stats
    // (the day-partition pruning path, [[DayPartition]]): source filters
    // carry java.sql or java.time values depending on
    // spark.sql.datetime.java8API.enabled — convert to the parquet
    // physical domain the harvest recorded
    case (x: Long, y: java.sql.Timestamp) => Some(java.lang.Long.compare(x,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(y)))
    case (x: Long, y: java.time.Instant) => Some(java.lang.Long.compare(x,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(y)))
    case (x: Long, y: java.sql.Date) => Some(java.lang.Long.compare(x,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(y).toLong))
    case (x: Long, y: java.time.LocalDate) =>
      Some(java.lang.Long.compare(x, y.toEpochDay))
    case (x: Double, y: Double) => cmpD(x, y)
    case (x: Double, y: Float) => cmpD(x, y.toDouble)
    case (x: Double, y: Int) => cmpD(x, y.toDouble)
    case (x: Double, y: Long) => cmpD(x, y.toDouble)
    // UTF-8 byte order — the order Parquet computed the stats in and the
    // order Spark's UTF8String comparisons evaluate filters in; Java's
    // UTF-16 String.compareTo diverges for supplementary characters
    case (x: String, y: UTF8String) => Some(UTF8String.fromString(x).compareTo(y))
    case (x: String, y: String) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case _ => None
  }

  /** Double comparison matching SQL filter semantics, not IEEE total
    * order: -0.0 == 0.0 (Double.compare would prune a file whose stats
    * are -0.0 against an = 0.0 filter), and NaN on either side carries no
    * pruning information (None => file kept). */
  private def cmpD(x: Double, y: Double): Option[Int] =
    if (x.isNaN || y.isNaN) None
    else if (x == y) Some(0)
    else Some(java.lang.Double.compare(x, y))

  // file may contain a row with col >= v  <=>  max >= v
  // (Option.forall: an incomparable type pair keeps the file — sound)
  private def geMax(name: String, v: Any, e: DataFileEntry): Boolean =
    range(name, e).forall { case (_, mx) => cmp(mx, v).forall(_ >= 0) }
  private def gtMax(name: String, v: Any, e: DataFileEntry): Boolean =
    range(name, e).forall { case (_, mx) => cmp(mx, v).forall(_ > 0) }
  // file may contain a row with col <= v  <=>  min <= v
  private def leMin(name: String, v: Any, e: DataFileEntry): Boolean =
    range(name, e).forall { case (mn, _) => cmp(mn, v).forall(_ <= 0) }
  private def ltMin(name: String, v: Any, e: DataFileEntry): Boolean =
    range(name, e).forall { case (mn, _) => cmp(mn, v).forall(_ < 0) }
}

object QTableFileIndex {
  /** `_metadata` field: the file's data sequence number (a delete
    * file's own for equality deletes, 0 for position deletes). */
  val SeqField = "qtable_seq"

  /** `_metadata` field: the file's row-lineage base, `firstRowId`
    * (-1 where none is stamped). */
  val FirstRowIdField = "qtable_first_row_id"

  private[format] def constants(e: FileEntry): Map[String, Any] = e match {
    case d: DataFileEntry => Map(SeqField -> d.seq, FirstRowIdField -> d.firstRowId)
    case d: EqDeleteFileEntry => Map(SeqField -> d.seq, FirstRowIdField -> -1L)
    case _ => Map(SeqField -> 0L, FirstRowIdField -> -1L)
  }
}

/** Parquet, with each file's [[QTableFileIndex]] constants declared as
  * `_metadata` fields, filled per file from the listing. */
class QTableParquetFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ Seq(QTableFileIndex.SeqField, QTableFileIndex.FirstRowIdField)
      .map(FileSourceConstantMetadataStructField(_, LongType, nullable = false))
}
