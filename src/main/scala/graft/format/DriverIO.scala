package graft.format

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter, FileOutputFormat}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, PartitionedFileUtil, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import java.util.UUID
import scala.collection.mutable.ArrayBuffer

/** Small reads and writes done in the driver's own thread, with no Spark
  * job: point lookups ([[graft.spark.PointLookupExec]]), tiny appends
  * ([[graft.jobs.LocalAppend]]), small cluster groups
  * ([[graft.jobs.ClusterJob]]) and the row-level writes' small
  * copy-on-write groups, MERGE's discovery and its inserts
  * ([[graft.jobs.RowLevelWrite]], [[graft.jobs.MergeJob]]). One cap
  * bounds what any of them takes on; a read that is not plain or passes
  * the cap is refused, and the caller keeps its job path: a group with
  * live deletes, initial defaults or row lineage, a post-image that
  * joins, a `maxRecordsPerFile` limit.
  *
  * The read side runs a [[Plain]] plan: projections and filters over one
  * qtable `FileSourceScanExec`, with no exchange and no metadata column.
  * It reads the scan's files with the relation's own parquet reader and
  * evaluates the plan's expressions on each row, so it returns the rows
  * the plan's tasks would, split as the scan splits them. The write side
  * writes part files with Spark's Parquet writer, options and names, so
  * its files are the ones a write job writes. Rows that a job brings to
  * the driver pass the same cap ([[collectOrKeys]]), and [[frame]] and
  * [[local]] project rows the driver already holds. */
object DriverIO {

  /** The most bytes the driver takes on for one operation: the
    * `UnsafeRow` bytes of rows it collects, or the file bytes it reads.
    * It bounds what the driver holds; it is not a crossover. On 4 cores
    * the driver append took 0.42-0.74x the job path's time for
    * one-partition batches of about 7 MiB, and 0.51-0.79x at 11-26 MiB,
    * into 4, 64 and 128 files (`BENCH/NOTES.md`). */
  val Cap: Long = 8L << 20

  /** A plan the driver can run itself. `output` is the plan's output;
    * the rows [[read]] hands out are `UnsafeRow`s of it. */
  final class Plain private[DriverIO] (scan: FileSourceScanExec,
      val output: Seq[Attribute], steps: Seq[SparkPlan]) {

    /** The scan's files, split and packed as its RDD would read them. */
    def partitions: Seq[FilePartition] = filePartitions(scan)

    /** Feeds `each` the plan's rows of `files` in order, each with the
      * file it comes from, until `each` returns false; returns whether
      * every row was fed. A row is valid only during its call. */
    def read(files: Seq[PartitionedFile])(each: (PartitionedFile, InternalRow) => Boolean): Boolean = {
      val pipeline = compile()
      val readFile = reader(scan.relation, scan.requiredSchema)
      files.forall { f =>
        val rows = readFile(f)
        try rows.forall { r =>
          val out = pipeline(r)
          out == null || each(f, out)
        } finally rows match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }
    }

    /** Every row of the plan, copied, per partition of [[partitions]], or
      * None once their bytes pass [[Cap]]. */
    def collect(): Option[Seq[Array[InternalRow]]] = {
      var bytes = 0L
      val parts = ArrayBuffer.empty[Array[InternalRow]]
      val complete = partitions.forall { p =>
        val rows = ArrayBuffer.empty[InternalRow]
        val fits = read(p.files) { (_, r) =>
          val u = r.asInstanceOf[UnsafeRow].copy()
          bytes += u.getSizeInBytes
          rows += u
          bytes <= Cap
        }
        parts += rows.toArray
        fits
      }
      if (complete) Some(parts.toSeq) else None
    }

    /** The steps bottom-up, interpreted (no code generation per plan):
      * a row maps to the plan's output row, or to null when a filter
      * drops it. The last step is always a projection, so every output
      * row is an `UnsafeRow`. */
    private def compile(): InternalRow => InternalRow = {
      val fns = steps.map {
        case f: FilterExec =>
          val keep = Predicate.createInterpreted(BindReferences.bindReference(f.condition, f.child.output))
          (r: InternalRow) => if (keep.eval(r)) r else null
        case p: ProjectExec =>
          projection(p.projectList, p.child.output)
      } ++ (if (steps.lastOption.exists(_.isInstanceOf[ProjectExec])) Nil
            else Seq(projection(output, output)))
      (r: InternalRow) => fns.foldLeft(r)((acc, fn) => if (acc == null) null else fn(acc))
    }

    private def projection(exprs: Seq[Expression], input: Seq[Attribute]): InternalRow => InternalRow =
      InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(exprs, input))
  }

  /** The [[Plain]] form of `plan`, if it is one: `ProjectExec`s and
    * `FilterExec`s (through code-generation and columnar wrappers) over
    * one non-bucketed `FileSourceScanExec` of a qtable
    * ([[QTableFileIndex]]), with deterministic expressions that read no
    * metadata column, input-file function or subquery, in a session that
    * does not skip missing or corrupt files (the scan handles those in
    * its tasks; the driver read would fail instead). */
  def plain(plan: SparkPlan): Option[Plain] = {
    def walk(p: SparkPlan, above: List[SparkPlan]): Option[Plain] = p match {
      case s: FileSourceScanExec =>
        val rel = s.relation
        val conf = rel.sparkSession.sessionState.conf
        if (rel.location.isInstanceOf[QTableFileIndex] && !s.bucketedScan &&
            !s.output.exists(isMetadataCol) && !conf.ignoreMissingFiles &&
            !conf.ignoreCorruptFiles && above.forall(_.expressions.forall(driverSafe)))
          Some(new Plain(s, plan.output, above))
        else None
      case f: FilterExec => walk(f.child, f :: above)
      case pr: ProjectExec => walk(pr.child, pr :: above)
      case w: WholeStageCodegenExec => walk(w.child, above)
      case i: InputAdapter => walk(i.child, above)
      case c: ColumnarToRowExec => walk(c.child, above)
      case _ => None
    }
    walk(plan, Nil)
  }

  /** Every row of `df`, collected on the driver through its [[Plain]]
    * plan, with the plan's output, per partition of its scan; None when
    * the plan is not plain or its rows pass [[Cap]]. */
  def collect(df: DataFrame): Option[(Seq[Attribute], Seq[Array[InternalRow]])] =
    plain(df.queryExecution.sparkPlan).flatMap(p => p.collect().map(p.output -> _))

  /** The task partitions `coalesce(n)` forms, without a shuffle, over
    * input partitions `parts` that have no preferred location (as the
    * scans of a qtable have none), as Spark's `DefaultPartitionCoalescer`
    * forms them: `min(n, parts)` partitions, each a contiguous run of
    * the inputs in order. */
  def coalesce[A](parts: Seq[Seq[A]], n: Int): Seq[Seq[A]] = {
    val k = math.min(n, parts.size)
    (0 until k).map { i =>
      parts.slice((i.toLong * parts.size / k).toInt, ((i + 1).toLong * parts.size / k).toInt).flatten
    }
  }

  /** The rows of `df` per partition, in order, copied, with one Spark
    * job: whole (`true`) when every partition's rows fit its share of
    * [[Cap]] (`Cap / partitions`), else only the columns at ordinals
    * `keys` of every row. A task that passes its share sends only keys,
    * so the whole rows sent to the driver stay within [[Cap]] in all,
    * however many partitions `df` has; the keys are one row each. */
  def collectOrKeys(df: DataFrame, keys: Seq[Int]): (Boolean, Seq[Array[InternalRow]]) = {
    val output = df.queryExecution.executedPlan.output
    val all = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val keyRefs = keys.map(all)
    val rdd = df.queryExecution.toRdd
    val share = Cap / math.max(1, rdd.getNumPartitions)
    val parts = df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      val (copy, keyOnly) = (UnsafeProjection.create(all), UnsafeProjection.create(keyRefs))
      val rows = ArrayBuffer.empty[InternalRow]
      var bytes = 0L
      it.foreach { r =>
        if (bytes <= share) {
          val u = copy(r).copy()
          bytes += u.getSizeInBytes
          rows += u
          if (bytes > share) rows.mapInPlace(keyOnly(_).copy())
        } else rows += keyOnly(r).copy()
      }
      (bytes <= share, rows.toArray)
    })
    if (parts.forall(_._1)) (true, parts.map(_._2).toSeq)
    else {
      val keyOf = UnsafeProjection.create(keyRefs)
      (false, parts.map { case (whole, rows) =>
        if (whole) rows.map(keyOf(_).copy(): InternalRow) else rows
      }.toSeq)
    }
  }

  /** A frame over `rows` of `schema` that the driver holds: projections
    * and filters over it fold, in the optimizer, into rows the driver
    * computes ([[local]]). */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    GraftBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The rows of `df` as `UnsafeRow`s of its output, computed on the
    * driver with no job, when its optimized plan is one local relation
    * (a [[frame]] with projections and filters folded in); None
    * otherwise. */
  def local(df: DataFrame): Option[Array[InternalRow]] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation =>
      val toUnsafe = UnsafeProjection.create(l.output.map(_.dataType).toArray)
      Some(l.data.map(toUnsafe(_).copy()).toArray)
    case _ => None
  }

  private def isMetadataCol(a: Attribute): Boolean = a match {
    case r: AttributeReference => FileSourceMetadataAttribute.unapply(r).isDefined
    case _ => false
  }

  /** Evaluable on the driver with the same result as in a task. */
  private def driverSafe(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) && !e.exists {
      case _: InputFileName | _: InputFileBlockStart | _: InputFileBlockLength => true
      case a: AttributeReference => isMetadataCol(a)
      case _ => false
    }

  /** The file partitions the scan's RDD would have, split and packed as
    * `FileSourceScanExec` does for a non-bucketed scan. */
  private def filePartitions(scan: FileSourceScanExec): Seq[FilePartition] = {
    val rel = scan.relation
    val session = rel.sparkSession
    val listing = scan.selectedPartitions
    val maxSplit = FilePartition.maxSplitBytes(session, listing)
    val splits = listing.filePartitionIterator.flatMap { p =>
      p.files.flatMap { f =>
        val path = f.getPath
        PartitionedFileUtil.splitFiles(f, path,
          rel.fileFormat.isSplitable(session, rel.options, path), maxSplit, p.values)
      }
    }.toArray.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(session, splits.toSeq, maxSplit)
  }

  private type Reader = PartitionedFile => Iterator[InternalRow]

  /** Readers by session, then by read shape. A reader holds a broadcast
    * of its session's Hadoop conf, so it is only ever reused within that
    * session; the map holds sessions weakly, so a stopped session's
    * readers go with it. */
  private val readers = new java.util.WeakHashMap[SparkSession,
    java.util.LinkedHashMap[AnyRef, Reader]]()

  private val MaxShapes = 16

  /** The relation's row reader for `required`, built once per (session,
    * data schema, read schema, options, SQL conf). It takes no pushed
    * filters, so one reader serves every key; the index already pruned
    * the files by their manifest stats and blooms, and the plan's
    * filters run on the rows. */
  private def reader(rel: HadoopFsRelation, required: StructType): Reader = {
    val session = rel.sparkSession
    val key = (rel.fileFormat.getClass, rel.dataSchema, rel.partitionSchema, required,
      rel.options, session.sessionState.conf.getAllConfs)
    readers.synchronized {
      val shapes = readers.computeIfAbsent(session, _ =>
        new java.util.LinkedHashMap[AnyRef, Reader](MaxShapes, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, Reader]): Boolean =
            size() > MaxShapes
        })
      shapes.computeIfAbsent(key, _ =>
        rel.fileFormat.buildReaderWithPartitionValues(session, rel.dataSchema,
          rel.partitionSchema, required, Nil,
          rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
          session.sessionState.newHadoopConfWithOptions(rel.options)))
    }
  }

  /** Writes part files into the new directory `dir` on the driver, with
    * the Parquet writer, options and Hadoop conf a Spark write job uses:
    * `files` holds each file's task partition index and rows of
    * `schema`. The files get a job's names, bytes, modes, `.crc`
    * sidecars and `_SUCCESS` marker. Each is written under a hidden
    * name, which listings skip, and renamed into place once closed. An
    * existing `dir` is refused, as the job's `ErrorIfExists` save mode
    * does. */
  def write(spark: SparkSession, schema: StructType, dir: String,
      files: Seq[(Int, Iterator[InternalRow])]): Unit = TableWrite.withMicros(spark) {
    val options = TableWrite.writeOptions(spark.conf)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val out = new HPath(dir)
    val fs = out.getFileSystem(job.getConfiguration)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(qualified)) throw GraftBridge.outputPathExists(qualified)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, qualified)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, CaseInsensitiveMap(options), schema)
    val conf = job.getConfiguration
    fs.mkdirs(qualified)
    val jobUuid = UUID.randomUUID().toString
    val jobId = new JobID(jobUuid.take(8), 0)
    files.foreach { case (p, rows) =>
      val task = new TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID(jobId, TaskType.MAP, p), 0))
      val name = f"part-$p%05d-$jobUuid-c000" + factory.getFileExtension(task)
      val staged = new HPath(qualified, "." + name)
      val w = factory.newInstance(staged.toString, schema, task)
      try rows.foreach(w.write)
      catch { case e: Throwable =>
        try { w.close(); fs.delete(staged, false) } catch { case s: Throwable => e.addSuppressed(s) }
        throw e
      }
      w.close()
      if (!fs.rename(staged, new HPath(qualified, name)))
        throw new java.io.IOException(s"could not rename $staged to $name")
    }
    if (conf.getBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, true))
      fs.create(new HPath(qualified, FileOutputCommitter.SUCCEEDED_FILE_NAME), true).close()
  }
}
