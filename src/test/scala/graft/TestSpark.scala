package graft

import org.apache.spark.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One shared local session for the whole suite (scalatest runs suites in
  * one JVM; Spark local mode = driver-only). */
object TestSpark {
  lazy val spark: SparkSession = {
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

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** file:-scheme URI variant: routes the table's metadata layer through
    * the Hadoop-FileSystem CommitIO impl instead of the java.nio one. */
  def tmpDirUri(prefix: String): String = "file:" + tmpDir(prefix)

  /** The jobs started while `body` runs, as (description, task count of
    * each stage). */
  def jobsDuring[A](body: => A): (A, Seq[(String, Seq[Int])]) = {
    val sc = spark.sparkContext
    TestListenerBridge.drainListenerBus(sc)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        seen.add((desc, e.stageInfos.map(_.numTasks)))
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      TestListenerBridge.drainListenerBus(sc)
      (a, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
