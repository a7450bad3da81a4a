package graft.format

import graft.TestSpark
import graft.synth.DataGen
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** Spark's commit protocol, recording the size of the Hadoop conf each
  * write task receives (tasks run in this JVM under `local[...]`). */
class ConfProbeCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def setupTask(ctx: TaskAttemptContext): Unit = {
    ConfProbeCommitProtocol.taskConfSizes.add(ctx.getConfiguration.size())
    super.setupTask(ctx)
  }
}

object ConfProbeCommitProtocol {
  val taskConfSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

/** [[TableWrite.parquet]] writes what `df.write.options(writeOptions)
  * .parquet(dir)` writes, byte for byte, while its tasks receive the
  * lean Hadoop conf instead of the session's full one. */
class TableWriteSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val TsKey = "spark.sql.parquet.outputTimestampType"

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The write `TableWrite.parquet` replaces, with the same options and
    * INT64 micros timestamps. */
  private def reference(df: DataFrame, dir: String): Unit =
    withConf(TsKey, "TIMESTAMP_MICROS") {
      df.write.options(TableWrite.writeOptions(spark.conf)).parquet(dir)
    }

  /** Each file of `dir` by name with the write's UUID cut out: (POSIX
    * mode, bytes), and the directory's own mode under "." . */
  private def written(dir: String): Map[String, (String, Seq[Byte])] = {
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    Files.list(Paths.get(dir)).iterator().asScala.map { p =>
      Uuid.replaceAllIn(p.getFileName.toString, "*") ->
        (mode(p), Files.readAllBytes(p).toSeq)
    }.toMap + ("." -> (mode(Paths.get(dir)), Seq.empty[Byte]))
  }

  /** Writes `df` both ways into fresh directories and checks the files. */
  private def sameFiles(df: DataFrame, label: String): String = {
    val root = TestSpark.tmpDir("tw")
    val (lean, ref) = (s"$root/lean", s"$root/ref")
    TableWrite.parquet(df, lean)
    reference(df, ref)
    val (l, r) = (written(lean), written(ref))
    assert(l.keySet == r.keySet, s"$label: file names")
    assert(l.keySet.contains("_SUCCESS") && l.keySet.contains("._SUCCESS.crc") &&
      l.keySet.exists(n => n.endsWith(".parquet") && l.keySet.contains(s".$n.crc")),
      s"$label: ${l.keySet}")
    l.foreach { case (name, (mode, bytes)) =>
      assert(mode == r(name)._1, s"$label: mode of $name")
      assert(bytes == r(name)._2, s"$label: bytes of $name")
    }
    lean
  }

  private def frame(n: Long, parts: Int): DataFrame =
    DataGen.generate(spark, n, 31L, parts, Array(8, 16, 24)).toDF()

  test("files, sidecars, marker and modes equal the DataFrameWriter's") {
    val plain = frame(120, 3)
    sameFiles(plain, "plain")
    withConf("spark.sql.adaptive.enabled", "true") {
      val shuffled = plain.repartition(col("w"))
      assert(shuffled.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
      val dir = sameFiles(shuffled, "AQE-shuffled")
      // the coalesced shuffle writes fewer files than its 8 partitions
      assert(Files.list(Paths.get(dir)).iterator().asScala
        .count(_.toString.endsWith(".parquet")) < 8)
    }
    sameFiles(plain.withColumn("zkey", xxhash64(col("image_id")))
      .repartition(3, col("fmt")).sortWithinPartitions(col("zkey"), col("image_id"))
      .drop("zkey"), "sorted within partitions")
    val empty = sameFiles(plain.where(lit(false)), "empty")
    assert(spark.read.parquet(empty).count() == 0)
  }

  test("a timestamp column is written as INT64 micros, and the session conf restored") {
    val before = spark.conf.getOption(TsKey)
    val dir = sameFiles(frame(40, 2).withColumn("evt", timestamp_seconds(col("w") * 1000L)),
      "timestamp")
    assert(spark.conf.getOption(TsKey) == before)
    val conf = spark.sparkContext.hadoopConfiguration
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).foreach { p =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf))
        try {
          val pt = reader.getFooter.getFileMetaData.getSchema.getType(Array("evt"): _*).asPrimitiveType()
          assert(pt.getPrimitiveTypeName == PrimitiveTypeName.INT64)
          assert(pt.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS))
        } finally reader.close()
      }
  }

  test("an existing directory is refused with PATH_ALREADY_EXISTS, writing nothing") {
    val dir = TestSpark.tmpDir("tw-exists")
    val e = intercept[AnalysisException](TableWrite.parquet(frame(8, 1), dir))
    assert(e.getCondition == "PATH_ALREADY_EXISTS", e.getMessage)
    assert(Files.list(Paths.get(dir)).count() == 0)
  }

  test("write tasks receive the lean conf under the session's commit protocol") {
    def taskConfSizes(write: String => Unit): Seq[Int] = {
      ConfProbeCommitProtocol.taskConfSizes.clear()
      withConf("spark.sql.sources.commitProtocolClass",
        classOf[ConfProbeCommitProtocol].getName) {
        write(TestSpark.tmpDir("tw-probe") + "/out")
      }
      ConfProbeCommitProtocol.taskConfSizes.asScala.toSeq
    }
    val df = frame(24, 2)
    val lean = taskConfSizes(TableWrite.parquet(df, _))
    val full = taskConfSizes(reference(df, _))
    assert(lean.size == 2 && full.size == 2, s"tasks: $lean, $full")
    assert(lean.forall(_ < 100), s"lean task confs: $lean")
    assert(full.forall(_ > 500), s"full task confs: $full")
  }

  test("the lean conf plus the *-default.xml values reproduces the full conf") {
    val options = TableWrite.writeOptions(spark.conf)
    val full = spark.sessionState.newHadoopConfWithOptions(options)
    val lean = TableWrite.leanHadoopConf(spark, options)
    val keys = full.iterator().asScala.map(_.getKey).toSet
    val defaultSources = keys.flatMap(k => full.getPropertySources(k).toSeq)
      .filter(_.endsWith("-default.xml"))
    assert(defaultSources.contains("core-default.xml"), defaultSources)
    val defaults = new Configuration(false)
    defaultSources.toSeq.sorted.foreach(defaults.addResource(_: String))
    assert(lean.size < 100 && full.size > 500, s"lean ${lean.size}, full ${full.size}")
    assert(lean.iterator().asScala.map(_.getKey).toSet.subsetOf(keys))
    keys.foreach { k =>
      assert(Option(lean.getRaw(k)).orElse(Option(defaults.getRaw(k))).contains(full.getRaw(k)), k)
    }
    options.foreach { case (k, v) => assert(lean.getRaw(k) == v, k) }
  }
}
