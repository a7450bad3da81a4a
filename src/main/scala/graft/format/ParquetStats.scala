package graft.format

import graft.model.DataFileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

/** Harvests per-file row counts and column min/max stats straight from
  * Parquet footers — no second data scan (the Iceberg approach). At
  * cluster scale this is O(files) tiny metadata reads, parallelized.
  */
object ParquetStats {

  /** A listed part file: the path a manifest records (scheme-stripped)
    * with the length and mtime its listing returned. */
  final case class Listed(path: String, len: Long, mtime: Long)

  /** The read options `ParquetFileReader.open(InputFile)` would build
    * for every file, built once per JVM: building them reads a fresh
    * default Hadoop `Configuration`, which parses `core-default.xml` and
    * `core-site.xml` again each time. */
  private lazy val readOptions: ParquetReadOptions = ParquetReadOptions.builder().build()

  /** One file's entry, with its own status call. */
  def entryFor(pathStr: String, conf: Configuration): DataFileEntry = {
    val hp = new HPath(pathStr)
    val st = hp.getFileSystem(conf).getFileStatus(hp)
    entryFor(Listed(pathStr, st.getLen, st.getModificationTime), conf)
  }

  /** One file's entry from its listing: no status call per file. */
  private def entryFor(file: Listed, conf: Configuration): DataFileEntry = {
    import graft.model.ColStat
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val pathStr = file.path
    val status = new FileStatus(file.len, false, 1, 0L, file.mtime, new HPath(pathStr))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf), readOptions)
    try {
      val footer = reader.getFooter
      var rows = 0L
      var pbMin = Int.MaxValue; var pbMax = Int.MinValue
      var phMin = Long.MaxValue; var phMax = Long.MinValue
      var idMin: String = null; var idMax: String = null
      // generic per-column ranges for every OTHER primitive column (incl.
      // schema-evolved ones, under their stored physical names)
      val longs = scala.collection.mutable.Map[String, (Long, Long)]()
      val doubles = scala.collection.mutable.Map[String, (Double, Double)]()
      val strings = scala.collection.mutable.Map[String, (String, String)]()
      // image_id blooms, one per row group; ALL groups must yield one or
      // the file records none (a partial bloom set could prune a file
      // whose uncovered group holds the key — unsound)
      val blooms = scala.collection.mutable.ArrayBuffer[String]()
      var bloomsComplete = true
      // exact per-column null counts (top-level columns): recorded only
      // when EVERY row group's footer set num_nulls — a partial count
      // could "prove" a column non-null while an uncovered group holds
      // nulls, the unsound direction for whole-file predicate proofs
      val nullsKnown = scala.collection.mutable.Map[String, Long]()
      val nullsUnknown = scala.collection.mutable.Set[String]()
      footer.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        if (bloomsComplete) BloomIndex.harvest(reader, block) match {
          case Some(b) => blooms += b
          case None => bloomsComplete = false
        }
        block.getColumns.asScala.foreach { col =>
          val name = col.getPath.toDotString
          val st = col.getStatistics
          if (col.getPath.size == 1) {
            if (st == null || !st.isNumNullsSet) nullsUnknown += name
            else nullsKnown(name) = nullsKnown.getOrElse(name, 0L) + st.getNumNulls
          }
          if (st != null && !st.isEmpty && st.hasNonNullValue) name match {
            case "pbucket" =>
              pbMin = math.min(pbMin, st.genericGetMin.asInstanceOf[Number].intValue())
              pbMax = math.max(pbMax, st.genericGetMax.asInstanceOf[Number].intValue())
            case "phash" =>
              phMin = math.min(phMin, st.genericGetMin.asInstanceOf[Number].longValue())
              phMax = math.max(phMax, st.genericGetMax.asInstanceOf[Number].longValue())
            case "image_id" =>
              val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              if (idMin == null || utf8Lt(mn, idMin)) idMin = mn
              if (idMax == null || utf8Lt(idMax, mx)) idMax = mx
            case _ if col.getPath.size == 1 =>
              val pt = col.getPrimitiveType
              pt.getPrimitiveTypeName match {
                case INT32 | INT64 =>
                  val mn = st.genericGetMin.asInstanceOf[Number].longValue()
                  val mx = st.genericGetMax.asInstanceOf[Number].longValue()
                  val cur = longs.getOrElse(name, (Long.MaxValue, Long.MinValue))
                  longs(name) = (math.min(cur._1, mn), math.max(cur._2, mx))
                case FLOAT | DOUBLE =>
                  val mn = st.genericGetMin.asInstanceOf[Number].doubleValue()
                  val mx = st.genericGetMax.asInstanceOf[Number].doubleValue()
                  val cur = doubles.getOrElse(name, (Double.MaxValue, Double.MinValue))
                  doubles(name) = (math.min(cur._1, mn), math.max(cur._2, mx))
                case BINARY
                  if pt.getLogicalTypeAnnotation ==
                    LogicalTypeAnnotation.stringType() =>
                  val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                  val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                  val cur = strings.get(name)
                  strings(name) = (
                    cur.map(c => if (utf8Lt(mn, c._1)) mn else c._1).getOrElse(mn),
                    cur.map(c => if (utf8Lt(c._2, mx)) mx else c._2).getOrElse(mx))
                case _ => // binary blobs / nested: no orderable stats
              }
            case _ =>
          }
        }
      }
      val colStats =
        longs.map { case (n, (mn, mx)) => n -> ColStat("long", mn.toString, mx.toString) } ++
        doubles.map { case (n, (mn, mx)) => n -> ColStat("double", mn.toString, mx.toString) } ++
        strings.flatMap { case (n, (mn, mx)) =>
          // Iceberg-style truncation so long strings never bloat manifests:
          // a truncated MIN is still a valid lower bound; a truncated MAX
          // must be bumped up (increment last char) to stay an upper bound
          truncMax(mx).map(m => n -> ColStat("string", truncMin(mn), m))
        }
      DataFileEntry(
        path = pathStr,
        rowCount = rows,
        byteCount = file.len,
        pbucketMin = if (pbMin == Int.MaxValue) 0 else pbMin,
        pbucketMax = if (pbMax == Int.MinValue) 0 else pbMax,
        phashMin = phMin,
        phashMax = phMax,
        imageIdMin = if (idMin == null) "" else idMin,
        imageIdMax = if (idMax == null) "" else idMax,
        colStats = colStats.toMap,
        idBlooms = if (bloomsComplete) blooms.toSeq else Nil,
        colNulls = (nullsKnown -- nullsUnknown)
          .map { case (n, v) => n -> v.toString }.toMap,
        seq = DataFileEntry.UnstampedSeq)
    } finally reader.close()
  }

  /** Unsigned UTF-8 byte order — the order Parquet computes string
    * min/max in AND the order Spark's UTF8String filter comparisons use.
    * Java's String.compareTo (UTF-16 code units) diverges for
    * supplementary characters, which would make pruning unsound. */
  private def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** String-stat truncation bound (Iceberg-style): recorded string
    * min/max at or above this length are BOUNDS, not exact values —
    * exactness-sensitive consumers (StatsAggregate's MIN/MAX answering)
    * must treat them as unusable and scan. Strictly below it they are
    * exact (truncation only engages past the bound). */
  private[graft] val MaxStatLen = 64

  /** Truncation boundary that never splits a surrogate pair (a lone
    * surrogate would make the manifest JSON unserializable and wedge the
    * commit): back off one char when the cut lands after a high
    * surrogate. */
  private def safeCut(s: String): Int = {
    var n = MaxStatLen
    if (Character.isHighSurrogate(s.charAt(n - 1))) n -= 1
    n
  }

  private def truncMin(s: String): String =
    if (s.length <= MaxStatLen) s else s.substring(0, safeCut(s))

  /** The least string ABOVE every string starting with prefix `p` (in
    * UTF-8 byte order = Spark's string comparison order), if one
    * exists: increment p's last incrementable char — skipping
    * surrogates, with the same U+D7FF -> U+E000 jump the stat-max bump
    * uses — and drop the tail. None when no char is incrementable
    * (prefix of all U+FFFF): callers then have no upper window bound.
    * Shared by prefix (LIKE 'P%' / startsWith) scan pruning and
    * whole-file delete proofs. */
  private[graft] def prefixSuccessor(p: String): Option[String] = {
    val t = p.toCharArray
    var i = t.length - 1
    while (i >= 0 && (t(i) == Char.MaxValue || Character.isSurrogate(t(i)))) i -= 1
    if (i < 0) None
    else {
      val next = if (t(i) == 0xD7FF.toChar) 0xE000.toChar else (t(i) + 1).toChar
      Some(new String(t, 0, i) + next)
    }
  }

  /** Upper bound after truncation: increment the last incrementable char
    * of the prefix — skipping the surrogate range (incrementing U+D7FF
    * must jump to U+E000, never produce a lone high surrogate) — or None if no
    * char can be incremented (stat dropped rather than recorded
    * unsoundly). Incrementing a scalar code point increases both UTF-16
    * and UTF-8 byte order, so the bound is valid under either. */
  private def truncMax(s: String): Option[String] =
    if (s.length <= MaxStatLen) Some(s)
    else {
      val t = s.substring(0, safeCut(s)).toCharArray
      var i = t.length - 1
      while (i >= 0 && (t(i) == Char.MaxValue || Character.isSurrogate(t(i)))) i -= 1
      if (i < 0) None
      else {
        val next = (t(i) + 1).toChar
        t(i) = if (Character.isSurrogate(next)) '\uE000' else next
        Some(new String(t, 0, i + 1))
      }
    }

  /** Below this many files a driver-parallel loop beats a Spark job's
    * scheduling overhead; at or above, footer harvesting ships to
    * executors (a group rewrite emits tens of files — driver-side; a
    * whole-table operation on a 10^9-file table must never serialize
    * footer I/O through one node). */
  val DistributeThreshold = 64

  /** Footer reads for a batch of listed files, parallelized on the
    * driver (cheap metadata I/O for per-group output batches). */
  def entriesFor(files: Seq[Listed], conf: Configuration): Seq[DataFileEntry] = {
    files.par.map(f => entryFor(f, conf)).seq.sortBy(_.path)
  }

  /** Footer reads sized by batch: small batches stay a driver loop, large
    * ones run as a small Spark job over the file list — O(files/executors)
    * wall time at cluster scale. */
  def entriesFor(files: Seq[Listed], spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, threshold: Int = DistributeThreshold): Seq[DataFileEntry] =
    if (files.size < threshold) entriesFor(files, conf)
    else {
      val props = confProps(conf)
      val slices = math.min(files.size,
        math.max(2, spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(files, slices)
        .mapPartitions { it =>
          val c = confFromProps(props)
          it.map(f => entryFor(f, c))
        }
        .collect().toSeq.sortBy(_.path)
    }

  /** Hadoop Configuration is not java-serializable; ship its effective
    * key/values and rebuild executor-side. */
  def confProps(conf: Configuration): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val it = conf.iterator()
    while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue }
    out.toSeq
  }

  def confFromProps(props: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** List the part-*.parquet files under a directory (recursive). */
  def listParquet(dir: String, conf: Configuration): Seq[String] =
    listParquetFiles(dir, conf).map(_.path)

  /** Recursive parquet listing with each file's length and mtime (one
    * listing call carries both — no per-file getFileStatus round trips).
    * A `listStatus` walk, not `fs.listFiles`: the latter's
    * `LocatedFileStatus` copies owner and permissions, which a local
    * filesystem without libhadoop loads by forking `ls -ld` per file.
    * Names starting with `_` or `.` are skipped: writers stage files
    * under such names until they are complete. */
  def listParquetFiles(dir: String, conf: Configuration): Seq[Listed] = {
    val hp = new HPath(dir)
    val fs = hp.getFileSystem(conf)
    if (!fs.exists(hp)) return Nil
    val out = scala.collection.mutable.ArrayBuffer[Listed]()
    def walk(p: HPath): Unit = fs.listStatus(p).foreach { f =>
      val n = f.getPath.getName
      if (f.isDirectory) walk(f.getPath)
      else if (f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        out += Listed(f.getPath.toUri.getPath, f.getLen, f.getModificationTime)
    }
    walk(hp)
    out.toSeq.sortBy(_.path)
  }
}
