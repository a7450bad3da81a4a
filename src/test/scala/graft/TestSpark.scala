package graft

import org.apache.spark.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One shared local session for the whole suite (scalatest runs suites in
  * one JVM; Spark local mode = driver-only). A spec that stops it gets a
  * fresh one on the next call. */
object TestSpark {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) session = build()
    session
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.spark.QTableExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh temporary directory, deleted with everything in it when the
    * JVM exits. */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tmpTrees.add(d)
    d.toString
  }

  /** The [[tmpDir]] trees, deleted recursively by one shutdown hook
    * (`File.deleteOnExit` deletes only empty directories). The walk
    * never enters a build-once query fixture root (`graft_q*_v*`). */
  private val tmpTrees = new ConcurrentLinkedQueue[Path]()
  private val FixtureRoot = "graft_q.*_v[0-9]+".r
  sys.addShutdownHook(tmpTrees.forEach(deleteTree(_)))

  private def deleteTree(root: Path): Unit =
    try Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (FixtureRoot.matches(d.getFileName.toString)) FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = quietly(f)
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = quietly(d)
    }) catch { case _: IOException => }

  private def quietly(p: Path): FileVisitResult = {
    try Files.deleteIfExists(p) catch { case _: IOException => }
    FileVisitResult.CONTINUE
  }

  /** file:-scheme URI variant: routes the table's metadata layer through
    * the Hadoop-FileSystem CommitIO impl instead of the java.nio one. */
  def tmpDirUri(prefix: String): String = "file:" + tmpDir(prefix)

  /** `body` run with `listener` on the bus, which has delivered every
    * event of `body`'s jobs when this returns. */
  private def listening[A](listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    TestListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      TestListenerBridge.drainListenerBus(sc)
      a
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs started while `body` runs, as (description, task count of
    * each stage). */
  def jobsDuring[A](body: => A): (A, Seq[(String, Seq[Int])]) = {
    val seen = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    val a = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        seen.add((desc, e.stageInfos.map(_.numTasks)))
      }
    })(body)
    (a, seen.asScala.toSeq)
  }

  /** The physical plan descriptions of the SQL executions started while
    * `body` runs. */
  def plansDuring[A](body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val a = listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.physicalPlanDescription)
        case _ =>
      }
    })(body)
    (a, seen.asScala.toSeq)
  }

  /** Bytes the tasks that end while `body` runs write to shuffle. */
  def shuffleBytesDuring[A](body: => A): (A, Long) = {
    val written = new java.util.concurrent.atomic.AtomicLong()
    val a = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(body)
    (a, written.get)
  }
}
