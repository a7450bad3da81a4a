package graft.spark

import graft.TestSpark
import graft.format.QTable
import graft.jobs.AppendJob
import graft.synth.DataGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicReference

/** A SQL MERGE or UPDATE that loses a commit race retries under the job
  * id of its first attempt, so the retry resumes that attempt's group
  * checkpoint and clears it on commit; a fresh id per attempt would leave
  * the first checkpoint behind, and the orphan sweep would keep its files
  * forever. The race is forced from inside the statement: a UDF commits a
  * property change to the same table the first time a task evaluates it,
  * after the job has read its snapshot and before it commits. */
class SqlDmlRetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def racedTable(view: String): QTable = {
    val t = QTable.create(TestSpark.tmpDir(view), spark, 2)
    AppendJob.append(t, DataGen.generate(spark, 200, 42L, 2).toDF(), 2)
    spark.udf.register("race_once",
      udf((s: String) => { SqlDmlRetrySpec.fire(); s }).asNondeterministic())
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view USING qtable " +
      s"OPTIONS (path '${t.root}')")
    SqlDmlRetrySpec.arm(() =>
      QTable(t.root, spark).setProperties(Map("raced" -> "true")))
    t
  }

  private def assertRetriedCleanly(t: QTable, operation: String): Unit = {
    assert(t.currentSnapshot.props.get("raced").contains("true"),
      "the competing commit never landed")
    assert(t.currentSnapshot.operation == operation)
    assert(t.io.listDirNames(s"${t.metadataDir}/checkpoints").isEmpty,
      "a lost attempt's checkpoint was left behind")
  }

  test("SQL MERGE retries a lost commit under its first job id") {
    val t = racedTable("race_m_imgs")
    t.read().where(col("phash") % 3 === 0)
      .select(col("image_id"), concat(lit("r: "), col("image_id")).as("caption"))
      .createOrReplaceTempView("race_m_src")
    spark.sql("""MERGE INTO race_m_imgs t
      USING (SELECT race_once(image_id) AS image_id, caption FROM race_m_src) s
      ON t.image_id = s.image_id
      WHEN MATCHED THEN UPDATE SET t.caption = s.caption""")
    assertRetriedCleanly(t, "merge")
    assert(t.read().where(col("phash") % 3 === 0 &&
      col("caption") =!= concat(lit("r: "), col("image_id"))).count() == 0)
    spark.catalog.dropTempView("race_m_src")
    spark.catalog.dropTempView("race_m_imgs")
  }

  test("SQL UPDATE retries a lost commit under its first job id") {
    val t = racedTable("race_u_imgs")
    spark.sql("UPDATE race_u_imgs SET w = w + 1 WHERE race_once(fmt) = 'png'")
    assertRetriedCleanly(t, "update")
    assert(t.currentSnapshot.summary("rows-updated").toLong ==
      t.read().where(col("fmt") === "png").count())
    spark.catalog.dropTempView("race_u_imgs")
  }
}

object SqlDmlRetrySpec {
  private val armed = new AtomicReference[() => Unit]()

  def arm(action: () => Unit): Unit = armed.set(action)

  /** Runs the armed action once, in whichever thread gets here first. */
  def fire(): Unit = Option(armed.getAndSet(null)).foreach(_())
}
