package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call made by the client. `startMs`/`endMs` are epoch milliseconds,
  * the clock Spark stamps task events with, so tasks can be attributed to
  * the call whose window contains them; `seconds` is the monotonic
  * duration. `parent` is the enclosing span's id, -1 for a cycle. */
final case class Span(id: Int, parent: Int, name: String, cycle: Int,
    startMs: Long, endMs: Long, startNs: Long, seconds: Double)

/** Metrics of one finished Spark task, as the listener saw them. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, fetchWaitMs: Long, outputBytes: Long)

/** Task-end listener registered by the benchmark, never by the program. */
final class TaskLog extends SparkListener {
  private val q = new ConcurrentLinkedQueue[TaskRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) q.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.shuffleReadMetrics.fetchWaitTime, m.outputMetrics.bytesWritten))
  }

  def tasks: Seq[TaskRec] = q.asScala.toSeq
}

/** Spans of one run. The client is single-threaded and makes one call at
  * a time, so a stack gives each span its parent. Spans stay in memory
  * and are written out once, when the run ends. */
final class Tracer(val runId: String) {
  val spans = ArrayBuffer[Span]()
  val tasks = ArrayBuffer[TaskRec]()
  private var stack: List[Int] = Nil
  var cycle = 0

  def begin(name: String): Int = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), name, cycle,
      System.currentTimeMillis(), 0L, System.nanoTime(), 0.0)
    stack = id :: stack
    id
  }

  /** Closes span `id` (a no-op for -1) and every span opened inside it. */
  def end(id: Int): Unit = if (id >= 0) {
    val s = spans(id)
    spans(id) = s.copy(endMs = System.currentTimeMillis(),
      seconds = (System.nanoTime() - s.startNs) / 1e9)
    stack = stack.dropWhile(_ != id).drop(1)
  }

  def span[T](name: String)(f: => T): T = {
    val id = begin(name)
    try f finally end(id)
  }

  /** Tasks launched inside the span's window. */
  def tasksOf(s: Span): Seq[TaskRec] =
    tasks.filter(t => t.launchMs >= s.startMs && t.launchMs <= s.endMs).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val ts = tasksOf(s)
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""cycle":${s.cycle},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""seconds":${s.seconds},"tasks":${ts.size},""" +
        s""""task_run_s":${ts.map(_.runMs).sum / 1e3},""" +
        s""""shuffle_write_bytes":${ts.map(_.shuffleWriteBytes).sum}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
