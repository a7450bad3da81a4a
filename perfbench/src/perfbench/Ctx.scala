package perfbench

import graft.format.QTable
import graft.jobs.{ExpireSnapshotsJob, RewriteManifestsJob, Timing}
import graft.model.{DataFileEntry, Snapshot}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** State of one benchmark run: the cycle clock, every timed sample, the
  * operation counters and the tracer. The client is one thread making
  * one call at a time (a closed loop with one client). */
final class Ctx(val seed: Long, val runDir: Path, val cacheDir: Path,
    val tracer: Tracer, val tracing: Boolean) {

  /** Where every table under test lives (see [[Inputs.stage]]). */
  val stageDir: Path = runDir.resolve("stage")
  var traced = false
  /** The current cycle is the run's warm-up: timed, but left out. */
  var warming = false
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()
  /** Durations of every timed call, by call name, over all cycles. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** One map of named values per finished cycle. */
  val cycles = ArrayBuffer[(Boolean, mutable.LinkedHashMap[String, Double])]()
  /** Run-level values measured outside the cycles. */
  val extra = mutable.LinkedHashMap[String, Double]()
  var synthSeconds = 0.0
  var warmUpWall = 0.0
  private var cur = mutable.LinkedHashMap[String, Double]()
  private var cycleT0, workT0 = 0L
  private var setupSpan, teardownSpan = -1

  def put(k: String, v: Double): Unit = cur(k) = v
  def add(k: String, v: Double): Unit = cur(k) = cur.getOrElse(k, 0.0) + v
  /** Warm-up cycles keep no samples; traced runs keep only those of
    * their traced cycles. */
  def sample(k: String, v: Double): Unit =
    if (!warming && (!tracing || traced)) samples.getOrElseUpdate(k, ArrayBuffer[Double]()) += v

  def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** A call into the program: counted as an operation, timed, and traced
    * in a traced cycle. Group samples the jobs leave in `Timing` are
    * drained after every call so none leaks into the next. */
  def call[T](name: String)(f: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try if (traced) tracer.span(name)(f) else f
    catch { case e: Throwable => fail(s"$name threw $e"); throw e }
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      sample(name, secs)
      add(s"t.$name", secs)
      Timing.drain().foreach(g => sample(s"$name.group", g.seconds))
    }
  }

  /** Benchmark-side work inside a cycle (checks, accounting): not an
    * operation, but timed and traced so the spans cover the cycle. */
  def probe[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try if (traced) tracer.span(name)(f) else f
    finally sample(name, (System.nanoTime() - t0) / 1e9)
  }

  /** A correctness check: a false `ok` counts as a failed operation. */
  def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  // ------------------------------------------------------------- cycles

  /** One cycle: set-up (session start, staging, warm-up) until the
    * workload calls [[setupDone]], timed work until [[workDone]]. */
  def cycle(i: Int, traceIt: Boolean, warmUp: Boolean)(body: => Unit): Unit = {
    traced = traceIt
    warming = warmUp
    tracer.cycle = i
    cur = mutable.LinkedHashMap[String, Double]()
    cycleT0 = System.nanoTime()
    val root = if (traced) tracer.begin("cycle") else -1
    setupSpan = if (traced) tracer.begin("setup") else -1
    teardownSpan = -1
    try body
    catch { case e: Throwable =>
      if (!problems.exists(_.contains(e.toString))) fail(s"cycle $i aborted: $e")
    } finally {
      if (traced) { tracer.end(teardownSpan); tracer.end(root) }
      put("wall_s", (System.nanoTime() - cycleT0) / 1e9)
      if (warmUp) warmUpWall = cur("wall_s") else cycles += ((traceIt, cur))
      traced = false
      warming = false
    }
  }

  def setupDone(): Unit = {
    put("setup_s", (System.nanoTime() - cycleT0) / 1e9)
    if (traced) tracer.end(setupSpan)
    workT0 = System.nanoTime()
  }

  def workDone(): Unit = {
    put("cycle_s", (System.nanoTime() - workT0) / 1e9)
    teardownSpan = if (traced) tracer.begin("teardown") else -1
  }

  // ------------------------------------------------------------ sessions

  /** A fresh local session per cycle, so set-up is measured every cycle
    * and no cached state carries from one cycle to the next. Settings are
    * the fat-row configuration the engine's own entry points use. */
  def withSession[T](cpus: Int)(f: SparkSession => T): T = {
    val local = runDir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val log = if (traced) {
      val l = new TaskLog
      s.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    try f(s)
    finally {
      log.foreach { l =>
        PerfbenchBridge.drainListenerBus(s.sparkContext)
        tracer.tasks ++= l.tasks
      }
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      Main.delTree(local)
    }
  }

  // ------------------------------------------------------- table helpers

  /** Entries of `snap`, with the row count checked against `rows`: the
    * row-conservation check after every commit. */
  def entries(t: QTable, snap: Snapshot, rows: Long, after: String): Seq[DataFileEntry] = {
    val es = probe("format.qtable.entries")(t.entries(snap))
    sample("format.qtable.manifests", snap.manifests.size)
    sample("format.qtable.files", es.size)
    val n = es.map(_.rowCount).sum
    expect(n == rows, s"row count after $after: $n, expected $rows")
    es
  }

  /** Accounts one rewriting commit. Keys under `n.` are counts that must
    * repeat exactly from cycle to cycle. */
  def rewrite(job: String, snap: Snapshot, before: Seq[DataFileEntry],
      after: Seq[DataFileEntry]): Unit = {
    val (written, rewritten, filesOut, filesIn) = diff(before, after)
    add("rewrite_bytes", rewritten)
    val counts = Seq("files_in" -> filesIn.toDouble, "files_out" -> filesOut.toDouble,
      "bytes_rewritten" -> rewritten.toDouble, "bytes_written" -> written.toDouble) ++
      Seq("groups", "source-rows").flatMap(k =>
        snap.summary.get(k).map(v => k.replace('-', '_') -> v.toDouble))
    counts.foreach { case (k, v) =>
      add(s"n.$job.$k", v)
      sample(s"jobs.$job.$k", v)
    }
  }

  def verified(violations: Long, rows: Long): Unit = {
    put("n.verify.violations", violations)
    sample("verify.violations", violations)
    sample("verify.rows_compared", rows)
    expect(violations == 0, s"scan equivalence: $violations violations")
  }

  /** Manifest rewrite, expiry down to the current snapshot, and the check
    * that the current snapshot still reads every row. */
  def maintainMetadata(t: QTable, rows: Long): Unit = {
    val before = t.currentSnapshot.manifests.size
    val m = call("jobs.rewrite_manifests.run")(new RewriteManifestsJob(t).run())
    entries(t, m, rows, "rewrite-manifests")
    val r = call("jobs.expire.run")(new ExpireSnapshotsJob(t).run(1))
    Seq("rewrite_manifests.manifests_before" -> before.toDouble,
      "rewrite_manifests.manifests_after" -> m.manifests.size.toDouble,
      "expire.deleted_files" -> r.deletedDataFiles.toDouble,
      "expire.reclaimable_bytes" -> r.reclaimableBytes.toDouble).foreach { case (k, v) =>
      put(s"n.$k", v)
      sample(s"jobs.$k", v)
    }
    readable(t, rows)
  }

  /** Bytes under the table root against the bytes of live data files. */
  def space(t: QTable): Unit = probe("check.space") {
    put("n.space_bytes", diskBytes(t.root))
    put("live_bytes", t.entries(t.currentSnapshot).map(_.byteCount).sum)
  }

  /** Bytes of files in `after` and not in `before` (written), and the
    * reverse (rewritten away). */
  def diff(before: Seq[DataFileEntry], after: Seq[DataFileEntry]): (Long, Long, Int, Int) = {
    val (b, a) = (before.map(_.path).toSet, after.map(_.path).toSet)
    val added = after.filterNot(e => b.contains(e.path))
    val removed = before.filterNot(e => a.contains(e.path))
    (added.map(_.byteCount).sum, removed.map(_.byteCount).sum, added.size, removed.size)
  }

  /** Point lookup through the stats-skipping index; the caption must be
    * the one most recently written for the id. */
  def lookup(t: QTable, id: String, expected: String): Unit = {
    val (rows, sel, all, bytesRead) = call("format.read.lookup") {
      val (df, index) = t.readIndexed()
      val q = df.where(col("image_id").isin(id)).select("caption")
      val rows = q.collect().map(_.getString(0)).toSeq
      val (sel, all) = index.lastSelection
      (rows, sel, all, Main.scanBytes(q))
    }
    sample("format.read.files_scanned", sel)
    sample("format.read.files_pruned_frac", if (all == 0) 0.0 else 1.0 - sel.toDouble / all)
    sample("format.read.bytes_read", bytesRead)
    expect(rows == Seq(expected),
      s"lookup $id returned ${rows.mkString("[", ",", "]")}, expected [$expected]")
  }

  /** Bytes of every file under a table root: data, deletes and metadata. */
  def diskBytes(root: String): Long =
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The current snapshot is still readable: a full read counts `rows`. */
  def readable(t: QTable, rows: Long): Unit = {
    val n = probe("check.readable")(t.read().count())
    expect(n == rows, s"current snapshot reads $n rows, expected $rows")
  }
}
