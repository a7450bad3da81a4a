package graft.jobs

import graft.TestSpark
import graft.format.{NioLocalFileSystem, QTable}
import graft.synth.DataGen
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The engine writes and harvests table files, on the driver too, and
  * reads a driver lookup's file, without starting a process. On a host without
  * libhadoop, Hadoop's local filesystem forks a `chmod` for every file,
  * `.crc` sidecar and directory it creates and an `ls -ld` for every
  * file a located listing returns; a JFR recording of
  * `jdk.ProcessStart` events over a maintenance sequence pins that none
  * of those forks comes back. The files the engine writes keep the
  * modes and checksum sidecars of a plain Spark parquet write. */
class NoForkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ProbeArg = "graft-nofork-probe"

  /** Frames that mark a process start as the engine's: its own code,
    * Spark's file writer and the Hadoop output committer. */
  private def engineFrame(cls: String): Boolean =
    cls.startsWith("graft.") || cls.contains("FileFormatWriter") ||
      cls.contains("FileOutputCommitter")

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  /** Process starts recorded while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("nofork", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  /** The first few recorded starts, each with its command and stack. */
  private def shown(events: Seq[RecordedEvent]): String =
    events.take(3).map(e => e.getString("command") + "\n  " +
      frames(e).take(24).mkString("\n  ")).mkString("\n")

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** (data-file modes, directory modes) under `root`, after checking that
    * every part file has its `.crc` sidecar and reads back through the
    * checksummed local filesystem (which verifies the sidecar). */
  private def layout(root: Path): (Set[String], Set[String]) = {
    val all = Files.walk(root).iterator().asScala.toSeq.filterNot(_ == root)
    val parts = all.filter(p => p.getFileName.toString.endsWith(".parquet") &&
      !p.getFileName.toString.startsWith("."))
    assert(parts.nonEmpty, s"no part files under $root")
    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    parts.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no .crc for $p")
      val in = local.open(new HPath(p.toString))
      try in.readAllBytes() finally in.close()
    }
    (parts.map(mode).toSet, all.filter(Files.isDirectory(_)).map(mode).toSet)
  }

  /** An id lookup answered on the driver, which opens the data file in
    * this JVM rather than in a task. */
  private def driverLookup(t: QTable, i: Long): Unit = {
    val q = t.readIndexed()._1.where(col("image_id") === f"img$i%012d").select("caption")
    assert(q.collect().length == 1)
    assert(q.queryExecution.executedPlan.exists(_.isInstanceOf[graft.spark.PointLookupExec]),
      "the lookup did not answer on the driver")
  }

  /** 16 rows from id `from` in one input partition: an append the
    * driver lays out and writes itself, with one job (the collect). */
  private def driverAppend(t: QTable, from: Long): Unit = {
    import spark.implicits._
    val rows = spark.range(from, from + 16, 1, 1).map(i => DataGen.imageRow(i, 48L)).toDF()
    val jobs = TestSpark.jobsDuring(AppendJob.append(t, rows, 2))._2
    assert(jobs.size == 1, s"the append did not run on the driver: $jobs")
  }

  test("append, compact, cluster, merge and remove-orphans start no process") {
    val t = QTable.create(TestSpark.tmpDir("nofork"), spark, buckets = 2)
    val n = 400L
    // warm the session and classes outside the recording
    AppendJob.append(t, DataGen.generate(spark, n, 42L, 4).toDF(), 3)
    val events = processStarts {
      // a process the spec starts itself: proves the recording sees
      // process starts and their stacks in this JVM
      new ProcessBuilder("true", ProbeArg).start().waitFor()
      AppendJob.append(t, DataGen.generate(spark, n + 64, 43L, 2).toDF()
        .where(col("image_id") >= f"img$n%012d"), 3)
      driverAppend(t, n + 100)
      new CompactJob(t, targetFileBytes = 8L << 20, minGroupBytes = 1L).run()
      new ClusterJob(t, targetFileBytes = 64L << 10, minGroupBytes = 1L).run()
      new MergeJob(t).run(DataGen.correctionsDF(spark, n + 64, 42L, inserts = 3))
      new RemoveOrphanFilesJob(t, graceMs = 0L).run()
      driverLookup(t, 5)
    }
    val (probe, rest) = events.partition(_.getString("command").contains(ProbeArg))
    assert(probe.size == 1 && frames(probe.head).exists(_.startsWith(getClass.getName)),
      s"the recording did not capture the probe process with its stack: $probe")
    val engine = rest.filter(e => frames(e).exists(engineFrame))
    assert(engine.size == 0, "process starts from the write/harvest path, e.g.:\n" + shown(engine))
    assert(t.read().count() == n + 64 + 16 + 3)
  }

  test("a file: root's metadata writes start no process") {
    // warm the session and classes outside the recording
    AppendJob.append(QTable.create(TestSpark.tmpDirUri("nofork-warm"), spark, buckets = 2),
      DataGen.generate(spark, 100, 45L, 2).toDF(), 2)
    var t: QTable = null
    val events = processStarts {
      t = QTable.create(TestSpark.tmpDirUri("nofork-uri"), spark, buckets = 2)
      AppendJob.append(t, DataGen.generate(spark, 100, 45L, 2).toDF(), 3)
      driverAppend(t, 100)
      new CompactJob(t, targetFileBytes = 8L << 20, minGroupBytes = 1L).run()
      driverLookup(t, 5)
    }
    val engine = events.filter(e => frames(e).exists(engineFrame))
    assert(engine.isEmpty, "process starts on a file: root, e.g.:\n" + shown(engine))
    assert(t.root.startsWith("file:") && t.read().count() == 116)
  }

  test("in-process permissions set the modes Hadoop's chmod sets") {
    val dir = Paths.get(TestSpark.tmpDir("nofork-perm"))
    val conf = spark.sessionState.newHadoopConf()
    val (nio, stock) = (new NioLocalFileSystem.Raw, new RawLocalFileSystem)
    nio.setConf(conf); stock.setConf(conf)
    Seq("0", "400", "640", "644", "755", "777", "123", "1777").foreach { octal =>
      val m = Integer.parseInt(octal, 8)
      val (a, b) = (dir.resolve(s"nio-$m"), dir.resolve(s"stock-$m"))
      Seq(a, b).foreach(Files.createDirectory(_))
      nio.setPermission(new HPath(a.toString), new FsPermission(m.toShort))
      stock.setPermission(new HPath(b.toString), new FsPermission(m.toShort))
      assert(Files.getAttribute(a, "unix:mode") == Files.getAttribute(b, "unix:mode"),
        s"mode $octal")
    }
  }

  test("engine-written files keep a plain Spark write's modes and .crc sidecars") {
    val t = QTable.create(TestSpark.tmpDir("nofork-modes"), spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, 200, 44L, 4).toDF(), 3)
    new CompactJob(t, targetFileBytes = 8L << 20, minGroupBytes = 1L).run()
    driverAppend(t, 200)
    val sibling = Paths.get(TestSpark.tmpDir("nofork-plain"))
    DataGen.generate(spark, 200, 44L, 4).toDF().repartition(3)
      .write.parquet(sibling.resolve("plain").toString)

    // directories below data/ (and below the sibling's temp root) are
    // the writer's; the roots themselves are not
    val engine = layout(Paths.get(t.dataDir))
    val plain = layout(sibling)
    assert(engine == ((Set("rw-r--r--"), Set("rwxr-xr-x"))), s"engine files and dirs: $engine")
    assert(plain == engine, s"a plain Spark write gives $plain, the engine $engine")
  }
}
