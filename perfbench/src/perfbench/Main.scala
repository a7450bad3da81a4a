package perfbench

import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point. One run: make or find the workload's inputs for the
  * seed, then repeat the workload's cycle until `--seconds` have passed,
  * and print one JSON line of named values plus the operation counts.
  *
  * With `--trace 1` the run alternates untraced and traced cycles: the
  * traced ones record spans and Spark task metrics and give the per-layer
  * values; the difference in cycle time between the two kinds is the
  * tracing overhead. End-to-end values come from `--trace 0` runs only.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --build ID   |   Main --selftest --work DIR --build ID */
object Main {
  val Workloads: Seq[Workload] = Seq(SmallfileMerge, IngestChurn)
  /** A run makes at least this many measured cycles, whatever `--seconds`
    * says, after one warm-up cycle that is left out: it fills the JVM's
    * class, JIT and code-generation caches. A traced run makes two
    * untraced and two traced cycles. */
  val MinCycles = 3
  val MinTracedCycles = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val runDir = work.resolve("run")
    delTree(runDir)
    Files.createDirectories(runDir)
    val cacheDir = work.resolve("cache").resolve(a("build"))
    pruneCache(work.resolve("cache"), a("build"))
    val memGb = memAvailableGb()
    System.err.println(f"[perfbench] MemAvailable=$memGb%.1f GB, working set on " +
      s"${fsType(work)} at $work")
    val (ok, out) = try {
      if (a.contains("selftest")) SelfTest.run(new Ctx(42L, runDir, cacheDir, new Tracer("selftest"), false))
      else run(a, runDir, cacheDir)
    } finally delTree(runDir)
    println(out)
    System.out.flush()
    // the JVM must not linger on non-daemon threads Spark may leave
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  private def run(a: Map[String, String], runDir: Path, cacheDir: Path): (Boolean, String) = {
    val w = Workloads.find(_.name == a("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val runId = s"${w.name}-s$seed-${System.currentTimeMillis()}"
    val ctx = new Ctx(seed, runDir, cacheDir, new Tracer(runId), tracing)
    Files.createDirectories(cacheDir)

    w.prepare(ctx)
    ctx.cycle(-1, traceIt = false, warmUp = true)(w.cycle(ctx))
    resetPeakRss()
    val t0 = System.nanoTime()
    var i = 0
    // traced runs interleave untraced (U) and traced (T) cycles as
    // U T T U ..., so a drift from cycle to cycle cancels out of the
    // overhead estimate; they end on a whole group of four
    def tracedCycle(i: Int) = tracing && (i % 4 == 1 || i % 4 == 2)
    while (i < (if (tracing) MinTracedCycles else MinCycles) ||
        (System.nanoTime() - t0) / 1e9 < seconds || (tracing && i % 4 != 0)) {
      ctx.cycle(i, tracedCycle(i), warmUp = false)(w.cycle(ctx))
      i += 1
    }
    if (tracing) {
      w.finish(ctx)
      ctx.tracer.write(runDir.getParent.resolve("traces").resolve(s"$runId.jsonl"))
    }
    determinism(ctx)
    val values = if (tracing) Metrics.perLayer(ctx) else Metrics.endToEnd(ctx)
    (ctx.failed == 0, result(ctx, values))
  }

  /** Counts (keys under `n.`) must repeat exactly in every cycle that
    * measured them: each cycle runs the same calls on the same input. */
  private def determinism(ctx: Ctx): Unit = {
    val keys = ctx.cycles.flatMap(_._2.keys).distinct.filter(_.startsWith("n."))
    keys.foreach { k =>
      val vs = ctx.cycles.flatMap(_._2.get(k)).distinct
      ctx.expect(vs.size <= 1, s"count $k differs between cycles: ${vs.mkString(", ")}")
    }
  }

  def result(ctx: Ctx, values: Seq[(String, Double)], info: Seq[(String, String)] = Nil): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val vs = values.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    val notes = (Metrics.notes(ctx) ++ info ++ ctx.problems.zipWithIndex.map {
      case (p, i) => s"problem$i" -> p }).map { case (k, v) =>
      s""""$k":"${v.map(c => if (c < ' ' || c == '"' || c == '\\') ' ' else c)}"""" }.mkString(",")
    s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"cycles":${ctx.cycles.size},"values":{$vs},"notes":{$notes}}"""
  }

  // ------------------------------------------------------------ helpers

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes the executed plan's file scans report reading. */
  def scanBytes(q: DataFrame): Double = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(q.queryExecution.executedPlan)
      .flatMap(_.metrics.get("filesSize")).map(_.value.toDouble).sum
  }

  def delTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  /** Keep the cached inputs of the current build only, and of its 24
    * most recently used seeds (about 50 MB each). */
  private def pruneCache(cache: Path, build: String): Unit = if (Files.isDirectory(cache)) {
    Files.list(cache).iterator().asScala.filter(_.getFileName.toString != build).foreach(delTree)
    val mine = cache.resolve(build)
    if (Files.isDirectory(mine)) {
      val seeds = Files.list(mine).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".ready"))
        .groupBy(p => p.getFileName.toString.replaceAll(".*-s(-?\\d+)\\.ready$", "$1"))
        .toSeq.sortBy(-_._2.map(Files.getLastModifiedTime(_).toMillis).max)
      seeds.drop(24).flatMap(_._2).foreach { ready =>
        delTree(mine.resolve(ready.getFileName.toString.stripSuffix(".ready")))
        Files.deleteIfExists(ready)
      }
    }
  }

  def memAvailableGb(): Double =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemAvailable")).map(_.split("\\s+")(1).toDouble / (1 << 20))
      .getOrElse(Double.NaN)

  /** Filesystem type of the mount holding `p` ("tmpfs" means RAM). */
  def fsType(p: Path): String =
    Files.readAllLines(Paths.get("/proc/mounts")).asScala.map(_.split(" "))
      .filter(m => p.toString == m(1) || p.toString.startsWith(m(1).stripSuffix("/") + "/"))
      .sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")

  /** Restart the peak resident set count, so it covers measured cycles
    * only, not input synthesis (Linux: writing 5 to clear_refs). */
  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: java.io.IOException => }

  /** The process's peak resident set (VmHWM). */
  def peakRssBytes(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble * 1024).getOrElse(0.0)
}
