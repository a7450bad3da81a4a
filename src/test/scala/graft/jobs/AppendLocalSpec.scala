package graft.jobs

import graft.TestSpark
import graft.format.{DayPartition, DriverIO, ParquetStats, QTable}
import graft.model.DataFileEntry
import graft.synth.DataGen
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A small append of one input partition is laid out and written on the
  * driver ([[LocalAppend]]) with one Spark job, the collect, and its
  * files are the ones the job path writes: the same names but for the
  * write's UUID, and the same bytes, `.crc` sidecars, `_SUCCESS` marker
  * and harvested entries. Every other batch runs the job path. */
class AppendLocalSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val Buckets = 4

  private def table(tag: String, props: Map[String, String] = Map.empty): QTable = {
    val t = QTable.create(TestSpark.tmpDir(tag), spark, buckets = Buckets)
    if (props.nonEmpty) t.setProperties(props)
    t
  }

  /** `n` rows of small images in `parts` input partitions. */
  private def batch(n: Long, seed: Long, parts: Int = 1): DataFrame =
    DataGen.generate(spark, n, seed, parts, Array(8, 16, 24)).toDF()

  /** The number of Spark jobs `body` starts. */
  private def jobs(body: => Any): Int = TestSpark.jobsDuring(body)._2.size

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** The files of one append directory, by name with the write's UUID
    * cut out: part files, their `.crc` sidecars and the `_SUCCESS` marker. */
  private def written(dir: String): Map[String, Array[Byte]] =
    Files.list(Paths.get(dir)).iterator().asScala.map { p =>
      Uuid.replaceAllIn(p.getFileName.toString, "*") -> Files.readAllBytes(p)
    }.toMap

  /** Harvested entries of one append, by file name with the UUID cut out. */
  private def entries(t: QTable): Map[String, DataFileEntry] =
    t.entries(t.currentSnapshot).map { e =>
      Uuid.replaceAllIn(QTable.fileName(e.path), "*") -> e.copy(path = "", seq = 0L)
    }.toMap

  /** Appends `rows` to two fresh tables, on the driver and by the job
    * path, and checks that both wrote the same files. */
  private def sameFiles(rows: DataFrame, fpb: Int, props: Map[String, String],
      label: String): Unit = {
    val (local, job) = (table("al-local", props), table("al-job", props))
    assert(jobs(AppendJob.append(local, rows, fpb, "a")) == 1, s"$label: driver path")
    assert(jobs(AppendJob.write(job, rows, fpb, "a", onDriver = false)) == 3, s"$label: job path")
    val (l, j) = (written(local.newDataDir("a", "append")), written(job.newDataDir("a", "append")))
    assert(l.keySet == j.keySet, s"$label: file names")
    assert(l.keySet.contains("_SUCCESS") && l.keySet.count(_.endsWith(".parquet")) >= 1, label)
    l.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(bytes, j(name)), s"$label: bytes of $name")
    }
    assert(entries(local) == entries(job), s"$label: harvested entries")
    assert(local.read().count() == rows.count(), label)
  }

  test("the driver path writes the job path's files") {
    val sorts = Seq(
      "unsorted" -> Map.empty[String, String],
      "sort.order" -> Map("write.sort-on-append" -> "true", "sort.order" -> "w,h"),
      "zkey" -> Map("write.sort-on-append" -> "true"))
    for ((sort, props) <- sorts; fpb <- Seq(1, 2); n <- Seq(1L, 3L, 16L, 300L))
      sameFiles(batch(n, 60L + n), fpb, props, s"$sort, $fpb per bucket, $n rows")
  }

  test("a 16-row append from one file starts one job; the job path starts three") {
    val dir = TestSpark.tmpDir("al-input")
    batch(16, 7L, 4).coalesce(1).write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir)
    val (local, job) = (table("al-one"), table("al-three"))
    assert(jobs(AppendJob.append(local, input, 1)) == 1)
    assert(jobs(AppendJob.write(job, input, 1, "j", onDriver = false)) == 3)
    assert(local.read().count() == 16 && entries(local) == entries(job))
    // a CHECK constraint runs its aggregate, then the driver path
    val (checked, unchecked) = (table("al-check"), table("al-check-job"))
    Constraints.set(checked, "w-positive", "w > 0")
    assert(jobs(AppendJob.append(checked, batch(16, 13L), 1)) == 1 + 1)
    AppendJob.write(unchecked, batch(16, 13L), 1, "c", onDriver = false)
    assert(checked.read().count() == 16 && entries(checked) == entries(unchecked))
  }

  test("an INSERT ... SELECT with an aggregate keeps the job path without running its input") {
    batch(16, 21L, parts = 2).createOrReplaceTempView("al_src")
    val select = "SELECT image_id, max(bytes), max(w), max(h), max(fmt), max(caption), " +
      "max(phash) FROM al_src GROUP BY image_id"
    val grouped = spark.sql(select).toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    // the shuffling plan is refused before any of its stages runs
    val dir = s"${TestSpark.tmpDir("al-agg")}/out"
    assert(jobs(assert(!LocalAppend.write(grouped, Seq(col("image_id")), sorted = false, 4, dir))) == 0)
    assert(!Files.exists(Paths.get(dir)))
    // through SQL, the insert starts the jobs the job path starts
    val (viaSql, viaJob) = (table("al-agg-sql"), table("al-agg-job"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW al_dst USING qtable OPTIONS (path '${viaSql.root}')")
    try {
      val inserted = jobs(spark.sql(s"INSERT INTO al_dst $select"))
      assert(inserted == jobs(AppendJob.write(viaJob, grouped, 1, "g", onDriver = false)))
      assert(viaSql.read().count() == 16 && entries(viaSql).keySet == entries(viaJob).keySet)
    } finally {
      spark.catalog.dropTempView("al_dst")
      spark.catalog.dropTempView("al_src")
    }
  }

  test("other batches keep the job path") {
    // more than one input partition
    assert(jobs(AppendJob.append(table("al-parts"), batch(16, 8L, parts = 2), 1)) == 3)
    // a size estimate over the bound: a LogicalRDD is estimated at
    // spark.sql.defaultSizeInBytes
    val rdd = batch(16, 9L)
    val opaque = spark.createDataFrame(rdd.rdd, rdd.schema)
    assert(opaque.rdd.getNumPartitions == 1)
    assert(opaque.queryExecution.optimizedPlan.stats.sizeInBytes > DriverIO.Cap)
    assert(jobs(AppendJob.append(table("al-estimate"), opaque, 1)) == 3)
    // more rows than the range sample holds: collected, then refused
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    spark.conf.set(key, "2")
    try {
      assert(LocalAppend.sampleBound(2, Buckets) == 24)
      val t = table("al-sample")
      assert(jobs(AppendJob.append(t, batch(25, 10L), 1)) == 1 + 3)
      assert(t.read().count() == 25)
      assert(jobs(AppendJob.append(t, batch(24, 11L), 1)) == 1)
    } finally spark.conf.unset(key)
    // a days(ts) table
    val days = table("al-days")
    days.addColumn("ts", "long")
    days.setProperties(Map(DayPartition.Prop -> "ts"))
    assert(jobs(AppendJob.append(days, batch(16, 12L).withColumn("ts", lit(86400000L)), 1)) > 1)
    assert(days.read().count() == 16)
    // an empty batch
    val empty = table("al-empty")
    AppendJob.append(empty, batch(16, 14L).where(lit(false)), 1)
    assert(empty.read().count() == 0)
  }

  test("a rerun with the same job id refuses on both paths") {
    for (onDriver <- Seq(true, false)) {
      val t = table("al-rerun")
      AppendJob.write(t, batch(16, 15L), 1, "same", onDriver)
      val e = intercept[AnalysisException] {
        AppendJob.write(t, batch(16, 16L), 1, "same", onDriver)
      }
      assert(e.getCondition == "PATH_ALREADY_EXISTS", e.getMessage)
      assert(t.read().count() == 16 && t.currentVersion == 1L)
    }
  }

  test("a part file is harvested only once it is complete") {
    val t = table("al-partial")
    AppendJob.append(t, batch(16, 17L), 1, "p")
    val schema = StructType(Seq(StructField("n", LongType)))
    val dir = t.newDataDir("f", "append")
    val row = InternalRow(1L)
    def failing: Iterator[InternalRow] =
      Iterator(row, row) ++ Iterator.continually[InternalRow](throw new IllegalStateException("boom"))
    // the second file fails half-way: its staged file is removed and the
    // first, complete file is the only one listed
    val e = intercept[IllegalStateException] {
      DriverIO.write(spark, schema, dir, Seq(0 -> Iterator(row), 1 -> failing))
    }
    assert(e.getMessage == "boom")
    val names = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.count(_.endsWith(".parquet")) == 1 && names.exists(_.startsWith("part-00000-")),
      names.toString)
    // a staged file a crash left behind is not listed either
    Files.write(Paths.get(dir, ".part-00002-staged-c000.zstd.parquet"), Array[Byte](1, 2, 3))
    val harvested = t.harvest(dir)
    assert(harvested.map(e => QTable.fileName(e.path).take(11)) == Seq("part-00000-"))
    assert(harvested.head.rowCount == 1)
  }

  test("a batch whose collected rows pass the cap takes the job path, holding at most the cap") {
    // a typed `map` plan is estimated by default field sizes, far below
    // its image payload
    val rows = DataGen.generate(spark, 600, 21L, 1, Array(96, 128)).toDF()
    assert(rows.queryExecution.optimizedPlan.stats.sizeInBytes < DriverIO.Cap / 8)
    assert(rows.agg(sum(length(col("bytes")))).head().getLong(0) > DriverIO.Cap)
    val (local, job) = (table("al-cap-local"), table("al-cap-job"))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => results.add(m.resultSize))
    }
    org.apache.spark.TestListenerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try assert(jobs(AppendJob.append(local, rows, 1, "a")) == 1 + 3)
    finally {
      org.apache.spark.TestListenerBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(results.asScala.max <= DriverIO.Cap, results)
    assert(jobs(AppendJob.write(job, rows, 1, "a", onDriver = false)) == 3)
    val (l, j) = (written(local.newDataDir("a", "append")), written(job.newDataDir("a", "append")))
    assert(l.keySet == j.keySet && l.forall { case (n, b) => java.util.Arrays.equals(b, j(n)) })
    assert(local.read().count() == 600)
  }

  test("a timestamp column is written as INT64 micros with stats") {
    val t = table("al-ts")
    val before = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    t.addColumn("evt", "timestamp")
    val rows = batch(16, 18L).withColumn("evt",
      timestamp_micros(lit(1700000000000000L) + substring(col("image_id"), 4, 12).cast("long")))
    assert(jobs(AppendJob.append(t, rows, 1)) == 1)
    val phys = t.currentSnapshot.schemaFields.find(_.name == "evt").get.phys
    val es = t.entries(t.currentSnapshot)
    val conf = t.hadoopConf
    es.foreach { e =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(e.path), conf))
      try {
        val pt = reader.getFooter.getFileMetaData.getSchema.getType(Array(phys): _*).asPrimitiveType()
        assert(pt.getPrimitiveTypeName == PrimitiveTypeName.INT64)
        assert(pt.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS))
      } finally reader.close()
      val st = e.stats(phys)
      assert(st.kind == "long" && st.min.toLong >= 1700000000000000L && st.min.toLong <= st.max.toLong)
    }
    assert(spark.conf.getOption("spark.sql.parquet.outputTimestampType") == before,
      "the write left the session's timestamp type changed")
  }

  test("footer harvest with shared read options matches per-file reads field for field") {
    val t = table("al-harvest")
    t.addColumn("evt", "timestamp")
    t.addColumn("note", "string")
    t.renameColumn("note", "memo")
    val long = "x" * 80
    def rows(n: Long, seed: Long, parts: Int) = batch(n, seed, parts)
      .withColumn("evt", timestamp_seconds(lit(1700000000L) + substring(col("image_id"), 4, 12).cast("long")))
      .withColumn("memo", when(substring(col("image_id"), -1, 1).cast("int") % 3 === 0, lit(null)).otherwise(concat(lit(long), col("image_id"))))
    AppendJob.append(t, rows(40, 19L, 1), 2)
    AppendJob.append(t, rows(40, 20L, 3), 2)
    val conf = t.hadoopConf
    val listed = ParquetStats.listParquetFiles(t.dataDir, conf)
    val shared = ParquetStats.entriesFor(listed, conf)
    val perFile = listed.map(f => ParquetStats.entryFor(f.path, conf))
    assert(shared.size == listed.size && shared.size >= 4)
    assert(shared == perFile.sortBy(_.path))
    assert(listed.map(_.len) == perFile.map(_.byteCount))

    val memo = t.currentSnapshot.schemaFields.find(_.name == "memo").get.phys
    val evt = t.currentSnapshot.schemaFields.find(_.name == "evt").get.phys
    assert(shared.forall(_.blooms.nonEmpty))
    assert(shared.exists(_.colNulls.get(memo).exists(_.toLong > 0)))
    assert(shared.forall(e => e.stats(memo).min.length == ParquetStats.MaxStatLen))
    assert(shared.forall(_.stats(evt).kind == "long"))
  }
}
