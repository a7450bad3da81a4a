package graft.spark

import graft.format.QTableFileIndex
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileSourceStrategy, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** Point lookups without a Spark job. A collect of an id-equality read of
  * a qtable whose index-pruned selection packs into ONE file partition
  * under Spark's own split sizing runs a single task; most of its cost is
  * Spark's fixed per-job cost (the job submission and the Hadoop-conf
  * broadcast every file scan makes), not the read. This strategy plans
  * such a read as [[PointLookupExec]] over exactly the plan
  * `FileSourceStrategy` produces, and the node answers a root `collect()`
  * on the driver.
  *
  * It applies to a query whose root is a `Project`/`Filter` over a
  * qtable `HadoopFsRelation` (a [[QTableFileIndex]] listing) when
  *  - a filter conjunct is `image_id = lit`, `image_id IN (lits...)` or
  *    an `InSet` on `image_id`;
  *  - no expression references a `_metadata` column, an input-file
  *    function or a subquery, and every expression is deterministic;
  *  - the selection is one file partition, so no parallelism is lost
  *    (the split sizing is Spark's: `spark.sql.files.maxPartitionBytes`,
  *    the open cost and the default parallelism).
  *
  * Only the root of a query is matched (the planner wraps it in
  * `ReturnAnswer`): a lookup under a join, an aggregate or a write plans
  * exactly as without the strategy, with no extra operator between its
  * scan and its consumer. Reads with live deletes or initial defaults
  * capture `_metadata` below a join or projection, so they always run
  * the distributed plan. When the selection spans more than one
  * partition, the strategy returns `FileSourceStrategy`'s plan unchanged
  * (the scan's listing is then not repeated).
  *
  * Registered once per session: [[graft.format.QTable]] adds it to
  * `spark.experimental.extraStrategies` ([[register]]) and
  * [[QTableExtensions]] injects it as a planner strategy. */
object PointLookupStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(lookup @ ScanOperation(projects, stayUp, filters,
        l @ LogicalRelation(rel: HadoopFsRelation, _, _, false, None)))
        if rel.location.isInstanceOf[QTableFileIndex] && stayUp.isEmpty &&
          filters.exists(isIdPoint) && (projects ++ filters).forall(driverSafe) &&
          !l.output.exists(isMetadataCol) && !ignoresFiles(rel.sparkSession) =>
      FileSourceStrategy(lookup) match {
        case Seq(p) => p.collectFirst { case s: FileSourceScanExec => s } match {
          case Some(scan) if !scan.bucketedScan && filePartitions(scan).size <= 1 =>
            PointLookupExec(projects, filters, p) :: Nil
          case _ => p :: Nil
        }
        case _ => Nil
      }
    case _ => Nil
  }

  /** Add the strategy to the session's planner unless it is there
    * already, either from [[register]] or injected by [[QTableExtensions]]. */
  def register(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(this) &&
        !spark.sessionState.planner.extraPlanningStrategies.contains(this))
      exp.extraStrategies = exp.extraStrategies :+ this
  }

  private def isIdPoint(e: Expression): Boolean = e match {
    case EqualTo(a: AttributeReference, _: Literal) => a.name == "image_id"
    case EqualTo(_: Literal, a: AttributeReference) => a.name == "image_id"
    case In(a: AttributeReference, vs) =>
      a.name == "image_id" && vs.forall(_.isInstanceOf[Literal])
    case InSet(a: AttributeReference, _) => a.name == "image_id"
    case _ => false
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

  /** A scan that skips missing or corrupt files handles them in
    * `FileScanRDD`; the driver read would fail instead. */
  private def ignoresFiles(s: SparkSession): Boolean = {
    val c = s.sessionState.conf
    c.ignoreMissingFiles || c.ignoreCorruptFiles
  }

  /** The file partitions the scan's RDD would have, split and packed as
    * `FileSourceScanExec` does for a non-bucketed scan. */
  private[spark] def filePartitions(scan: FileSourceScanExec): Seq[FilePartition] = {
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
}

/** A qtable read that [[PointLookupStrategy]] found to run as one task,
  * at the root of its query. `child` is the plan `FileSourceStrategy`
  * produced, and `execute()` runs it (`toLocalIterator`, a cache fill).
  * `collect()` reads the scan's selected files on the driver, in
  * file-partition order, with the relation's own parquet reader, and
  * applies `filters` and `projects` to the rows: no job, no task, and
  * no Hadoop-conf broadcast per lookup (the reader
  * is built once per session and read shape, [[PointLookupExec.reader]]).
  * The scan's driver metrics (`numFiles`, `filesSize`) are posted as its
  * own execution would post them. */
case class PointLookupExec(projects: Seq[NamedExpression], filters: Seq[Expression],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  private def scan: FileSourceScanExec =
    child.collectFirst { case s: FileSourceScanExec => s }.get

  /** Post the scan's listing metrics once, as its `inputRDD` would
    * (`sendDriverMetrics` is protected in Scala, public in bytecode). */
  @transient private lazy val metricsSent: Unit =
    classOf[org.apache.spark.sql.execution.FileSourceScanLike]
      .getMethod("sendDriverMetrics").invoke(scan)

  override def executeCollect(): Array[InternalRow] = {
    val s = scan
    val parts = PointLookupStrategy.filePartitions(s)
    if (parts.size <= 1) readOnDriver(s, parts.flatMap(_.files))
    else super.executeCollect()
  }

  private def readOnDriver(s: FileSourceScanExec, files: Seq[PartitionedFile]): Array[InternalRow] = {
    metricsSent
    val keep = Predicate.createInterpreted(BindReferences.bindReference(
      filters.reduceOption(And).getOrElse(Literal.TrueLiteral), s.output))
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projects, s.output))
    val read = PointLookupExec.reader(s.relation, s.requiredSchema)
    val out = Array.newBuilder[InternalRow]
    files.foreach { f =>
      val rows = read(f)
      try rows.foreach(r => if (keep.eval(r)) out += project(r).copy())
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
    out.result()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PointLookupExec =
    copy(child = newChild)
}

object PointLookupExec {
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
    * the files by their manifest stats and blooms, and the caller
    * filters rows. */
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
}
