package graft.jobs

import graft.TestSpark
import graft.format.{DriverIO, QTable}
import graft.model.DataFileEntry
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Cluster groups under [[DriverIO.Cap]] are bounded, binned, sorted and
  * written on the driver, with no Spark job, and the files are the ones
  * the job path writes: the same names but for the write's UUIDs, and
  * the same bytes, `.crc` sidecars, `_SUCCESS` markers and harvested
  * entries. A group whose read is not a plain scan, or whose bytes pass
  * the cap, keeps the job path. */
class ClusterDriverSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val Target = 256L << 10

  /** 900 small-image rows in 3 buckets x 3 files: three groups of about
    * 1 MiB, four outputs each. */
  private def table(tag: String, rows: Long = 900, buckets: Int = 3,
      sizes: Array[Int] = DataGen.Sizes): QTable = {
    val t = QTable.create(TestSpark.tmpDir(tag), spark, buckets)
    AppendJob.append(t, DataGen.generate(spark, rows, 42L, 3, sizes).toDF(), filesPerBucket = 3)
    t
  }

  private def job(t: QTable, target: Long = Target): ClusterJob =
    new ClusterJob(t, targetFileBytes = target, jobId = "z", minGroupBytes = 1L)

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** The files a cluster run wrote, by path under its job directory with
    * the UUIDs cut out: part files, sidecars and markers per group. */
  private def written(t: QTable): Map[String, Array[Byte]] = {
    val root = Paths.get(t.newDataDir("z", ""))
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      Uuid.replaceAllIn(root.relativize(p).toString, "*") -> Files.readAllBytes(p)
    }.toMap
  }

  /** Live entries by file name with the UUID cut out, paths blanked. */
  private def entries(t: QTable): Map[String, DataFileEntry] =
    t.entries(t.currentSnapshot).map { e =>
      Uuid.replaceAllIn(QTable.fileName(e.path), "*") -> e.copy(path = "")
    }.toMap

  private def sameFiles(onDriver: QTable, onJob: QTable): Unit = {
    val (d, j) = (written(onDriver), written(onJob))
    assert(d.keySet == j.keySet)
    assert(d.keySet.count(_.endsWith(".parquet")) >= 6 && d.keySet.exists(_.endsWith("_SUCCESS")))
    d.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(bytes, j(name)), s"bytes of $name")
    }
    assert(entries(onDriver) == entries(onJob))
  }

  test("the bounds pass gives the job path's grids on the driver, with no job") {
    val t = table("cd-bounds")
    val snap = t.currentSnapshot
    val j = job(t)
    val plans = j.plan(snap)
    assert(plans.size == 3 && plans.forall(_.bytes < DriverIO.Cap))
    val zkey = graft.expr.zfunctions.imageZKey(
      col("phash"), col("w"), col("h"), col("image_id"), false)
    for (every <- Seq(1, 8)) {
      val (driver, jobs) = TestSpark.jobsDuring(j.boundsByGroup(snap, plans, zkey, every))
      assert(jobs.isEmpty, s"every $every: $jobs")
      val viaJob = j.boundsByGroup(snap, plans, zkey, every, onDriver = false)
      assert(driver.keySet == plans.map(_.group).toSet && driver.keySet == viaJob.keySet)
      driver.foreach { case (g, grid) =>
        assert(grid.toSeq == viaJob(g).toSeq, s"grid of $g, every $every")
      }
    }
  }

  test("groups under the cap are clustered on the driver with no job, into the job path's files") {
    val (d, j) = (table("cd-driver"), table("cd-job"))
    val pre = d.read(d.currentSnapshot)
    val (snap, jobs) = TestSpark.jobsDuring(job(d).run())
    assert(jobs.isEmpty, s"the driver path launched jobs: $jobs")
    job(j).run(Int.MaxValue, onDriver = false)
    sameFiles(d, j)
    assert(snap.operation == "cluster-zorder" && d.entries(snap).map(_.rowCount).sum == 900)
    val (ok, bad) = ScanEquivalence.check(pre, d.read(snap))
    assert(ok, s"$bad violations")
  }

  test("a group with a live position delete keeps the job path; the others do not") {
    val (d, j) = (table("cd-del-driver"), table("cd-del-job"))
    for (t <- Seq(d, j)) {
      val ids = t.read().where(col("pbucket") === 0).select("image_id").orderBy("image_id")
        .limit(3).collect().map(_.getString(0))
      new DeleteJob(t).run(col("image_id").isin(ids: _*))
    }
    val pre = d.read(d.currentSnapshot)
    val (snap, mixed) = TestSpark.shuffleBytesDuring(job(d).run())
    val (_, allJob) = TestSpark.shuffleBytesDuring(job(j).run(Int.MaxValue, onDriver = false))
    // only the group with the delete shuffles
    assert(mixed > 0 && mixed < allJob / 2, s"$mixed of $allJob shuffle bytes")
    sameFiles(d, j)
    assert(d.entries(snap).map(_.rowCount).sum == 897)
    val (ok, bad) = ScanEquivalence.check(pre, d.read(snap))
    assert(ok, s"$bad violations")
  }

  test("a group over the cap keeps the job path") {
    val t = table("cd-cap", rows = 700, buckets = 1, sizes = Array(96, 128))
    val plans = job(t, 2L << 20).plan(t.currentSnapshot)
    assert(plans.size == 1 && plans.head.bytes > DriverIO.Cap)
    val pre = t.read(t.currentSnapshot)
    val (snap, shuffled) = TestSpark.shuffleBytesDuring(job(t, 2L << 20).run())
    assert(shuffled > 0 && t.entries(snap).size > 1)
    val (ok, bad) = ScanEquivalence.check(pre, t.read(snap))
    assert(ok, s"$bad violations")
  }
}
