package graft.jobs

import graft.TestSpark
import graft.format.{DriverIO, QTable}
import graft.model.DataFileEntry
import graft.synth.DataGen
import org.apache.spark.TestListenerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Copy-on-write MERGE and UPDATE groups under [[DriverIO.Cap]] are read,
  * marked and written on the driver, and MERGE's inserts are laid out
  * there, with no Spark job; the files are the ones the job path writes:
  * the same names but for the write's UUIDs, and the same bytes, `.crc`
  * sidecars, `_SUCCESS` markers and harvested entries. A group whose
  * read is not a plain scan, and a source whose rows pass the cap, keep
  * the job path. */
class RowLevelDriverSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** 900 rows in 3 buckets x 3 files. */
  private def table(tag: String, rows: Long = 900, buckets: Int = 3,
      sizes: Array[Int] = DataGen.Sizes, filesPerBucket: Int = 3): QTable = {
    val t = QTable.create(TestSpark.tmpDir(tag), spark, buckets)
    AppendJob.append(t, DataGen.generate(spark, rows, 42L, 3, sizes).toDF(), filesPerBucket)
    t
  }

  /** Caption fixes for about 1% of 900 rows, 4 inserts and a delete flag
    * on every third fix, in 3 partitions. */
  private def source(n: Long = 900): DataFrame =
    DataGen.correctionsDF(spark, n, 7L, inserts = 4)
      .withColumn("is_delete", pmod(xxhash64(col("image_id")), lit(3)) === 0 &&
        col("image_id") < lit(f"img$n%012d"))
      .repartition(3, col("image_id"))

  private def merge(t: QTable, src: DataFrame, onDriver: Boolean) =
    new MergeJob(t, "m", updateCols = Seq("caption"), deleteCol = Some("is_delete"))
      .run(src, Int.MaxValue, onDriver)

  private def update(t: QTable, onDriver: Boolean) =
    new UpdateJob(t, "m").run(
      Seq("caption" -> concat(lit("u: "), col("image_id")), "w" -> (col("w") + 1)),
      col("fmt") === "png", Int.MaxValue, onDriver)

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** The files the job wrote, by path under its job directory with the
    * UUIDs cut out: part files, sidecars and markers per group. */
  private def written(t: QTable): Map[String, Array[Byte]] = {
    val root = Paths.get(t.newDataDir("m", ""))
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      Uuid.replaceAllIn(root.relativize(p).toString, "*") -> Files.readAllBytes(p)
    }.toMap
  }

  /** Live entries by file name with the UUID cut out, paths blanked. */
  private def entries(t: QTable): Map[String, DataFileEntry] =
    t.entries(t.currentSnapshot).map { e =>
      Uuid.replaceAllIn(QTable.fileName(e.path), "*") -> e.copy(path = "")
    }.toMap

  private def sameFiles(onDriver: QTable, onJob: QTable, parts: Int): Unit = {
    val (d, j) = (written(onDriver), written(onJob))
    assert(d.keySet == j.keySet)
    assert(d.keySet.count(_.endsWith(".parquet")) >= parts && d.keySet.exists(_.endsWith("_SUCCESS")))
    d.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(bytes, j(name)), s"bytes of $name")
    }
    assert(entries(onDriver) == entries(onJob))
  }

  private def bag(t: QTable): DataFrame = t.read().drop("pbucket")

  private def sameBag(a: DataFrame, b: DataFrame): Boolean = {
    def sorted(df: DataFrame) = df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
    sorted(a).exceptAll(sorted(b)).isEmpty && sorted(b).exceptAll(sorted(a)).isEmpty
  }

  /** The rows `pre` holds after [[merge]] of `src`: flagged matches
    * gone, other matches with the source caption, unmatched unflagged
    * source rows inserted. */
  private def merged(pre: DataFrame, src: DataFrame): DataFrame = {
    val fixes = src.where(!col("is_delete")).select(col("image_id"), col("caption").as("fix"))
    pre.drop("pbucket")
      .join(src.where(col("is_delete")).select("image_id"), Seq("image_id"), "left_anti")
      .join(fixes, Seq("image_id"), "left")
      .withColumn("caption", coalesce(col("fix"), col("caption"))).drop("fix")
      .unionByName(src.where(!col("is_delete")).drop("is_delete")
        .join(pre.select("image_id"), Seq("image_id"), "left_anti"), allowMissingColumns = true)
  }

  test("MERGE groups and inserts run on the driver, into the job path's files") {
    val (d, j) = (table("rd-merge-driver"), table("rd-merge-job"))
    val src = source().cache()
    val pre = d.read(d.currentSnapshot).cache()
    val snap = merge(d, src, onDriver = true)
    merge(j, src, onDriver = false)
    assert(snap.summary("rows-inserted") == "4" && snap.summary("rows-deleted").toLong > 0)
    assert(written(d).keySet.exists(_.startsWith("inserts/")))
    sameFiles(d, j, parts = 4)
    assert(d.currentSnapshot.summary - "job-id" == j.currentSnapshot.summary - "job-id")
    assert(sameBag(bag(d), merged(pre, src)))
    src.unpersist()
  }

  test("UPDATE groups run on the driver, into the job path's files") {
    val (d, j) = (table("rd-update-driver"), table("rd-update-job"))
    val snap = update(d, onDriver = true)
    update(j, onDriver = false)
    assert(snap.summary("files-rewritten").toInt >= 3)
    sameFiles(d, j, parts = 3)
    assert(d.currentSnapshot.summary - "job-id" == j.currentSnapshot.summary - "job-id")
    assert(sameBag(bag(d), bag(j)))
    assert(bag(d).where(col("fmt") === "png" && !col("caption").startsWith("u: ")).isEmpty)
  }

  test("a small MERGE into a plain table runs one job, an UPDATE only its discovery") {
    val t = table("rd-jobs")
    val src = DataGen.correctionsDF(spark, 900, 7L, inserts = 4)
    val (m, mergeJobs) = TestSpark.jobsDuring(new MergeJob(t, "m1").run(src))
    assert(m.summary("rows-inserted") == "4" && m.summary("files-rewritten").toInt > 0)
    assert(mergeJobs.size == 1, s"the merge launched ${mergeJobs.size} jobs: $mergeJobs")

    val snap = t.currentSnapshot
    val cond = col("fmt") === "png"
    // the update's discovery: its live rows matching the condition, per file
    val (_, discovery) = TestSpark.jobsDuring {
      val all = t.entries(snap)
      val (base, _) = t.scanIndexed(all, snap.physicalSchema)
      t.toLogical(t.decorate(base.withColumn("__gpath", col("_metadata.file_path")),
        Some(snap), snap, all), snap).where(cond)
        .groupBy("__gpath").agg(count(lit(1))).collect()
    }
    val (u, updateJobs) = TestSpark.jobsDuring(
      new UpdateJob(t, "u1").run(Seq("caption" -> lit("x")), cond))
    assert(u.summary("files-rewritten").toInt > 0)
    assert(updateJobs.map(_._2) == discovery.map(_._2),
      s"the update launched $updateJobs, its discovery $discovery")
  }

  test("discovery on a table with no deletes reads no row index") {
    val t = table("rd-discover-pos")
    val src = source().cache()
    val (_, plans) = TestSpark.plansDuring {
      merge(t, src, onDriver = false)
      update(t, onDriver = false)
    }
    src.unpersist()
    assert(plans.count(_.contains("__gpath")) == 2,
      s"expected the merge's and the update's discovery scans:\n${plans.mkString("\n")}")
    assert(!plans.exists(_.contains("_tmp_metadata_row_index")),
      s"a copy-on-write statement read row indexes:\n${plans.mkString("\n")}")
  }

  test("groups with live deletes, defaults or row lineage keep the job path") {
    val decorations: Seq[(String, QTable => Unit)] = Seq(
      "position delete" -> { t =>
        val ids = t.read().where(col("pbucket") === 0).select("image_id").orderBy("image_id")
          .limit(3).collect().map(_.getString(0))
        new DeleteJob(t).run(col("image_id").isin(ids: _*))
      },
      "equality delete" -> { t =>
        new UpsertJob(t).run(t.read().drop("pbucket").orderBy("image_id").limit(2))
      },
      "initial default" -> (t => t.addColumn("views", "int", Some("7"))),
      "row lineage" -> (t => t.enableRowLineage()))
    for ((name, decorate) <- decorations) {
      val (d, j) = (table("rd-deco-driver"), table("rd-deco-job"))
      Seq(d, j).foreach(decorate)
      val src = source().cache()
      val pre = d.read(d.currentSnapshot).cache()
      val (_, jobs) = TestSpark.jobsDuring(merge(d, src, onDriver = true))
      assert(jobs.size > 1, s"$name: every group ran on the driver")
      merge(j, src, onDriver = false)
      sameFiles(d, j, parts = 1)
      assert(sameBag(bag(d), merged(pre, src)), s"$name: the merge differs from the model")
      assert(d.currentSnapshot.summary - "job-id" == j.currentSnapshot.summary - "job-id", name)
      pre.unpersist(); src.unpersist()
    }
  }

  test("a source over the cap keeps the broadcast join and gives the same table") {
    val (d, j) = (table("rd-cap-driver", rows = 700, buckets = 1, sizes = Array(96, 128)),
      table("rd-cap-job", rows = 700, buckets = 1, sizes = Array(96, 128)))
    def fixes(t: QTable) = t.read().drop("pbucket")
      .withColumn("caption", concat(lit("fixed: "), col("image_id")))
      .withColumn("is_delete", lit(false))
    assert(fixes(d).select(sum(length(col("bytes")))).head().getLong(0) > DriverIO.Cap)
    val (snap, jobs) = TestSpark.jobsDuring(merge(d, fixes(d), onDriver = true))
    assert(jobs.size > 2, s"an over-cap source ran ${jobs.size} jobs")
    merge(j, fixes(j), onDriver = false)
    assert(snap.summary("rows-updated") == "700")
    sameFiles(d, j, parts = 1)
    assert(sameBag(bag(d), bag(j)))
    assert(bag(d).where(!col("caption").startsWith("fixed: ")).isEmpty)
  }

  test("a many-partition source sends the driver at most the cap of whole rows") {
    // 16 partitions of about 1 MiB each: each fits the cap, all of them
    // pass it; the driver may receive the cap of whole rows and the keys.
    // One file per table: the append's range split of a batch this size
    // is sampled, and two tables could split it differently
    val tables @ Seq(d, j) = Seq("rd-parts-driver", "rd-parts-job").map(
      table(_, rows = 1400, buckets = 1, sizes = Array(96, 128), filesPerBucket = 1))
    val fixes = tables.map(_.read().drop("pbucket").repartition(16)
      .withColumn("caption", concat(lit("fixed: "), col("image_id")))
      .withColumn("is_delete", lit(false)).cache())
    assert(fixes.head.select(sum(length(col("bytes")))).head().getLong(0) > 2 * DriverIO.Cap)
    TestListenerBridge.withConf(spark.sparkContext, "spark.driver.maxResultSize",
        s"${(DriverIO.Cap >> 20) + 1}m") {
      merge(d, fixes(0), onDriver = true)
      merge(j, fixes(1), onDriver = false)
    }
    assert(d.currentSnapshot.summary("rows-updated") == "1400")
    sameFiles(d, j, parts = 1)
    assert(sameBag(bag(d), bag(j)))
    fixes.foreach(_.unpersist())
  }
}
