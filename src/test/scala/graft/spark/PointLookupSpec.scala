package graft.spark

import graft.TestSpark
import graft.format.QTable
import graft.jobs.{AppendJob, DeleteJob, UpdateJob}
import graft.synth.DataGen
import org.apache.spark.sql.{DataFrame, Row, TestSessions}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Id lookups whose selection runs as one task answer a root `collect()`
  * on the driver: no job, the rows of the distributed plan, and the
  * scan's `filesSize` metric still set. Every other read, and every
  * other action over such a read, plans as without the strategy.
  *
  * The reference for each lookup is the same frame through `rdd`: there
  * the lookup is not the root of the query, so it is planned with the
  * strategy off and runs as a job. */
class PointLookupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private def spark = TestSpark.spark

  private def id(i: Long): String = f"img$i%012d"

  /** 400 rows in 2 buckets x 2 files. */
  private def table(prefix: String): QTable = {
    val t = QTable.create(TestSpark.tmpDir(prefix), spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, 400, 42L, 2).toDF(), 2)
    t
  }

  private def lookup(t: QTable, ids: String*): DataFrame =
    t.readIndexed()._1.where(col("image_id").isin(ids: _*)).select("caption")

  private def planned(q: DataFrame): Boolean =
    find(q.queryExecution.executedPlan)(_.isInstanceOf[PointLookupExec]).isDefined

  /** `q`'s collected rows, after checking where it ran and that the
    * distributed plan returns the same rows. */
  private def rows(q: DataFrame, onDriver: Boolean): Seq[Row] = {
    val (got, jobs) = TestSpark.jobsDuring(q.collect().toSeq)
    assert(planned(q) == onDriver, q.queryExecution.executedPlan.toString)
    if (onDriver) assert(jobs.isEmpty, s"a driver lookup launched jobs: $jobs")
    else assert(jobs.nonEmpty)
    val (distributed, rddJobs) = TestSpark.jobsDuring(q.rdd.collect().toSeq)
    assert(rddJobs.nonEmpty)
    assert(got.map(_.toString).sorted == distributed.map(_.toString).sorted)
    got
  }

  /** The data file that holds each id. */
  private def fileOf(t: QTable): Map[String, (String, Long)] =
    t.read().select(col("image_id"), col("_metadata.file_name"), col("_metadata.file_size"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("hit and miss answer on the driver; an IN over two files runs the job") {
    val t = table("pl-hit")
    assert(t.entries(t.currentSnapshot).size == 4)
    assert(rows(lookup(t, id(7)), onDriver = true) == Seq(Row(DataGen.caption(7, 42L))))
    assert(rows(lookup(t, "img-absent"), onDriver = true).isEmpty)

    val files = fileOf(t)
    val other = (0L until 400L).map(id).find(i => files(i)._1 != files(id(7))._1).get
    assert(rows(lookup(t, id(7), other), onDriver = false).size == 2)
  }

  test("the scan reports the selected file's bytes; count and write plan as before") {
    val t = table("pl-metrics")
    val q = lookup(t, id(11))
    rows(q, onDriver = true)
    val scan = q.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metrics("filesSize").value == fileOf(t)(id(11))._2)
    assert(scan.metrics("numFiles").value == 1)

    val (n, countJobs) = TestSpark.jobsDuring(q.count())
    assert(n == 1 && countJobs.nonEmpty)
    val agg = q.groupBy().count()
    assert(TestSpark.jobsDuring(agg.collect())._2.nonEmpty && !planned(agg))

    val out = TestSpark.tmpDir("pl-write") + "/out"
    val (_, writeJobs) = TestSpark.jobsDuring(q.write.parquet(out))
    assert(writeJobs.nonEmpty)
    assert(spark.read.parquet(out).collect().toSeq == Seq(Row(DataGen.caption(11, 42L))))
  }

  test("a NULL caption and a renamed column read as the distributed plan does") {
    val t = table("pl-null")
    new UpdateJob(t).run(Seq("caption" -> lit(null).cast("string")), col("image_id") === id(5))
    assert(rows(lookup(t, id(5)), onDriver = true) == Seq(Row(null)))

    t.addColumn("alt_text", "string")
    AppendJob.append(t, DataGen.generate(spark, 20, 43L, 1).toDF()
      .withColumn("image_id", concat(lit("new-"), col("image_id")))
      .withColumn("alt_text", concat(lit("alt "), col("image_id"))), 1)
    t.renameColumn("alt_text", "alt")
    val q = t.readIndexed()._1.where(col("image_id") === "new-" + id(6)).select("alt", "caption")
    assert(rows(q, onDriver = true) == Seq(Row("alt new-" + id(6), DataGen.caption(6, 43L))))
  }

  test("defaults, live deletes and _metadata reads run the distributed plan") {
    val t = table("pl-fallback")
    val meta = t.readIndexed()._1.where(col("image_id") === id(3))
      .select(col("caption"), col("_metadata.file_name"))
    assert(rows(meta, onDriver = false).map(_.getString(0)) == Seq(DataGen.caption(3, 42L)))

    t.addColumn("views", "int", Some("7"))
    val views = t.readIndexed()._1.where(col("image_id") === id(3)).select("views")
    assert(rows(views, onDriver = false) == Seq(Row(7)))

    val plain = table("pl-deletes")
    new DeleteJob(plain).run(col("image_id") === id(4))
    assert(rows(lookup(plain, id(4)), onDriver = false).isEmpty)
    assert(rows(lookup(plain, id(8)), onDriver = false) == Seq(Row(DataGen.caption(8, 42L))))
  }

  test("the strategy is registered once per session, with or without the extensions") {
    val t = table("pl-register")
    QTable(t.root, spark)
    assert(spark.sessionState.planner.strategies.count(_ == PointLookupStrategy) == 1)

    val bare = TestSessions.withoutExtensions(spark)
    assert(!bare.sessionState.planner.strategies.contains(PointLookupStrategy))
    val t2 = QTable(t.root, bare)
    QTable(t.root, bare)
    assert(bare.sessionState.planner.strategies.count(_ == PointLookupStrategy) == 1)
    assert(bare.experimental.extraStrategies == Seq(PointLookupStrategy))
    assert(rows(lookup(t2, id(9)), onDriver = true) == Seq(Row(DataGen.caption(9, 42L))))
  }

  // stops the shared session: later specs get a fresh one from TestSpark
  test("a lookup in a session started after stop() builds a fresh reader") {
    val t = table("pl-restart")
    assert(rows(lookup(t, id(12)), onDriver = true) == Seq(Row(DataGen.caption(12, 42L))))
    val first = spark
    first.stop()
    assert(spark ne first)
    val again = QTable(t.root, spark)
    assert(rows(lookup(again, id(12)), onDriver = true) == Seq(Row(DataGen.caption(12, 42L))))
  }
}
