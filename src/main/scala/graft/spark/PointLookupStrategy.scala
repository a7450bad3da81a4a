package graft.spark

import graft.format.{DriverIO, QTableFileIndex}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}

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
  *  - the plan `FileSourceStrategy` produces for it is a
  *    [[DriverIO.plain]] plan: no expression references a `_metadata`
  *    column, an input-file function or a subquery, and every
  *    expression is deterministic;
  *  - the selection is one file partition, so no parallelism is lost
  *    (the split sizing is Spark's: `spark.sql.files.maxPartitionBytes`,
  *    the open cost and the default parallelism).
  *
  * Only the root of a query is matched (the planner wraps it in
  * `ReturnAnswer`): a lookup under a join, an aggregate or a write plans
  * exactly as without the strategy, with no extra operator between its
  * scan and its consumer. Reads with live deletes or initial defaults
  * capture `_metadata` below a join or projection, so they always run
  * the distributed plan. When the plan is not plain or the selection
  * spans more than one partition, the strategy returns
  * `FileSourceStrategy`'s plan unchanged (the scan's listing is then not
  * repeated).
  *
  * Registered once per session: [[graft.format.QTable]] adds it to
  * `spark.experimental.extraStrategies` ([[register]]) and
  * [[QTableExtensions]] injects it as a planner strategy. */
object PointLookupStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(lookup @ ScanOperation(_, stayUp, filters,
        LogicalRelation(rel: HadoopFsRelation, _, _, false, None)))
        if rel.location.isInstanceOf[QTableFileIndex] && stayUp.isEmpty &&
          filters.exists(isIdPoint) =>
      FileSourceStrategy(lookup) match {
        case Seq(p) => DriverIO.plain(p) match {
          case Some(d) if d.partitions.size <= 1 => PointLookupExec(p) :: Nil
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
}

/** A qtable read that [[PointLookupStrategy]] found to run as one task,
  * at the root of its query. `child` is the plan `FileSourceStrategy`
  * produced, and `execute()` runs it (`toLocalIterator`, a cache fill).
  * `collect()` runs it on the driver ([[DriverIO]]): the scan's selected
  * files are read in file-partition order with the relation's own parquet
  * reader, and the plan's filters and projections run on the rows. No
  * job, no task, and no Hadoop-conf broadcast per lookup (the reader is
  * built once per session and read shape). The scan's driver metrics
  * (`numFiles`, `filesSize`) are posted as its own execution would post
  * them. */
case class PointLookupExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  /** Post the scan's listing metrics once, as its `inputRDD` would
    * (`sendDriverMetrics` is protected in Scala, public in bytecode). */
  @transient private lazy val metricsSent: Unit =
    classOf[org.apache.spark.sql.execution.FileSourceScanLike]
      .getMethod("sendDriverMetrics").invoke(
        child.collectFirst { case s: FileSourceScanExec => s }.get)

  override def executeCollect(): Array[InternalRow] =
    DriverIO.plain(child).map(d => d -> d.partitions) match {
      case Some((d, parts)) if parts.size <= 1 =>
        metricsSent
        val out = Array.newBuilder[InternalRow]
        d.read(parts.flatMap(_.files)) { (_, r) => out += r.copy(); true }
        out.result()
      case _ => super.executeCollect()
    }

  override protected def withNewChildInternal(newChild: SparkPlan): PointLookupExec =
    copy(child = newChild)
}
