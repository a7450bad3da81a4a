package perfbench

import Main.median

/** Turns a run's samples, cycle values and trace into named values. The
  * names and units are declared in BENCHMARK.json. */
object Metrics {

  /** The highest of these percentiles with at least ten samples beyond
    * it, by nearest rank; the sample maximum when there are fewer than 20. */
  private val Percentiles = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    Percentiles.find(p => s.size * (1 - p / 100) >= 10) match {
      case Some(p) => (s(math.ceil(p / 100 * s.size).toInt - 1), s"p$p of ${s.size}")
      case None => (if (s.isEmpty) 0.0 else s.last, s"max of ${s.size}")
    }
  }

  private def samples(ctx: Ctx, names: String*): Seq[Double] =
    names.flatMap(n => ctx.samples.getOrElse(n, Nil))

  private def med(ctx: Ctx, names: String*): Double = median(samples(ctx, names: _*))

  /** Median over the given cycles of a per-cycle value, where present. */
  private def perCycle(cycles: Seq[collection.Map[String, Double]])(f: collection.Map[String, Double] => Option[Double]): Double =
    median(cycles.flatMap(f(_)))

  private def ratio(m: collection.Map[String, Double], a: String, b: String): Option[Double] =
    for (x <- m.get(a); y <- m.get(b) if y > 0) yield x / y

  private def rewriteSeconds(m: collection.Map[String, Double]): Option[Double] = {
    val ts = Seq("compact", "cluster", "merge").flatMap(j => m.get(s"t.jobs.$j.run"))
    if (ts.isEmpty) None else Some(ts.sum)
  }

  def endToEnd(ctx: Ctx): Seq[(String, Double)] = {
    val cs = ctx.cycles.map(_._2).toSeq
    val lookups = samples(ctx, "format.read.lookup").map(_ * 1e3)
    Seq(
      "setup_s" -> perCycle(cs)(_.get("setup_s")),
      "cycle_s" -> perCycle(cs)(_.get("cycle_s")),
      "rewrite_gbps" -> perCycle(cs)(m =>
        for (b <- m.get("rewrite_bytes"); s <- rewriteSeconds(m)) yield b / 1e9 / s),
      "verify_s" -> perCycle(cs)(m => {
        val ts = Seq("verify.check", "verify.check_merged").flatMap(k => m.get(s"t.$k"))
        if (ts.isEmpty) None else Some(ts.sum)
      }),
      "lookup_ms_p50" -> median(lookups),
      "lookup_ms_tail" -> tail(lookups)._1,
      "write_amp" -> perCycle(cs)(m => m.get("user_bytes").map(u =>
        Seq("append", "compact", "cluster").flatMap(j => m.get(s"n.$j.bytes_written")).sum / u)),
      "space_amp" -> perCycle(cs)(ratio(_, "n.space_bytes", "live_bytes")),
      "peak_rss_gb" -> Main.peakRssBytes() / 1e9)
  }

  /** Human-readable notes printed beside the values. */
  def notes(ctx: Ctx): Seq[(String, String)] = {
    val l = tail(samples(ctx, "format.read.lookup"))._2
    val a = tail(samples(ctx, "jobs.append.run"))._2
    Seq("lookup_tail" -> l, "append_tail" -> a,
      "synth_s" -> f"${ctx.synthSeconds}%.2f",
      "warm_up_wall_s" -> f"${ctx.warmUpWall}%.2f",
      "cycle_walls_s" -> ctx.cycles.map(c => f"${c._2.getOrElse("wall_s", 0.0)}%.2f").mkString(" "))
  }

  def perLayer(ctx: Ctx): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val spans = tr.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    /** Median over the spans called `n` of a value of their tasks. */
    def taskMed(n: String)(f: Seq[TaskRec] => Double): Double =
      median(named(n).map(s => f(tr.tasksOf(s))))
    def maxOf(n: String) = samples(ctx, n) match { case Nil => 0.0; case xs => xs.max }
    val traced = ctx.cycles.filter(_._1).map(_._2).toSeq
    val untraced = ctx.cycles.filterNot(_._1).map(_._2).toSeq
    val cycleSpans = named("cycle")

    // time from the start of a cluster run to the first stage that writes output
    def prepass(s: Span): Double = {
      val ts = tr.tasksOf(s)
      val firstWriter = ts.filter(_.outputBytes > 0).sortBy(_.launchMs).headOption
      firstWriter.map(w => (ts.filter(_.stageId == w.stageId).map(_.launchMs).min - s.startMs) / 1e3)
        .getOrElse(0.0)
    }
    // DS2-style skew of the stage with the most task time in a cycle
    def skew(s: Span): Double = {
      val byStage = tr.tasksOf(s).groupBy(_.stageId).values.filter(_.size >= 2)
      if (byStage.isEmpty) 0.0 else {
        val top = byStage.maxBy(_.map(_.runMs).sum).map(t => (t.finishMs - t.launchMs).toDouble)
        val m = median(top)
        if (m > 0) top.max / m else 0.0
      }
    }
    def childrenSeconds(s: Span) = spans.filter(_.parent == s.id).map(_.seconds).sum
    val tracedCycle = perCycle(traced)(_.get("cycle_s"))
    val untracedCycle = perCycle(untraced)(_.get("cycle_s"))
    val appendMs = samples(ctx, "jobs.append.run").map(_ * 1e3)

    Seq(
      "jobs.compact.plan_ms" -> med(ctx, "jobs.compact.plan") * 1e3,
      "jobs.compact.run_s" -> med(ctx, "jobs.compact.run"),
      "jobs.compact.groups" -> med(ctx, "jobs.compact.groups"),
      "jobs.compact.files_in" -> med(ctx, "jobs.compact.files_in"),
      "jobs.compact.files_out" -> med(ctx, "jobs.compact.files_out"),
      "jobs.compact.bytes_rewritten" -> med(ctx, "jobs.compact.bytes_rewritten"),
      "jobs.compact.group_s_median" -> med(ctx, "jobs.compact.run.group"),
      "jobs.compact.group_s_max" -> maxOf("jobs.compact.run.group"),
      "jobs.compact.shuffle_write_bytes" -> taskMed("jobs.compact.run")(_.map(_.shuffleWriteBytes).sum),
      "jobs.cluster.plan_ms" -> med(ctx, "jobs.cluster.plan") * 1e3,
      "jobs.cluster.run_s" -> med(ctx, "jobs.cluster.run"),
      "jobs.cluster.bytes_rewritten" -> med(ctx, "jobs.cluster.bytes_rewritten"),
      "jobs.cluster.group_s_median" -> med(ctx, "jobs.cluster.run.group"),
      "jobs.cluster.group_s_max" -> maxOf("jobs.cluster.run.group"),
      "jobs.cluster.prepass_s" -> median(named("jobs.cluster.run").map(prepass)),
      "jobs.cluster.shuffle_write_bytes" -> taskMed("jobs.cluster.run")(_.map(_.shuffleWriteBytes).sum),
      "jobs.cluster.spill_bytes" -> taskMed("jobs.cluster.run")(_.map(_.spillBytes).sum),
      "jobs.cluster.fetch_wait_s" -> taskMed("jobs.cluster.run")(_.map(_.fetchWaitMs).sum / 1e3),
      "jobs.rewrite.scaling_eff_1to4" -> ctx.extra.getOrElse("jobs.rewrite.scaling_eff_1to4", 0.0),
      "jobs.merge.run_s_p50" -> med(ctx, "jobs.merge.run"),
      "jobs.merge.run_s_max" -> maxOf("jobs.merge.run"),
      "jobs.merge.files_rewritten" -> med(ctx, "jobs.merge.files_in"),
      "jobs.merge.bytes_rewritten" -> med(ctx, "jobs.merge.bytes_rewritten"),
      "jobs.merge.source_rows" -> med(ctx, "jobs.merge.source_rows"),
      "jobs.merge.write_amp" -> median(samples(ctx, "jobs.merge.bytes_written")
        .zip(samples(ctx, "jobs.merge.source_bytes")).map { case (w, b) => w / b }),
      "jobs.append.run_ms_p50" -> median(appendMs),
      "jobs.append.run_ms_tail" -> tail(appendMs)._1,
      "jobs.append.files_written" -> med(ctx, "jobs.append.files_written"),
      "jobs.rewrite_manifests.run_ms" -> med(ctx, "jobs.rewrite_manifests.run") * 1e3,
      "jobs.rewrite_manifests.manifests_before" -> med(ctx, "jobs.rewrite_manifests.manifests_before"),
      "jobs.rewrite_manifests.manifests_after" -> med(ctx, "jobs.rewrite_manifests.manifests_after"),
      "jobs.expire.run_ms" -> med(ctx, "jobs.expire.run") * 1e3,
      "jobs.expire.deleted_files" -> med(ctx, "jobs.expire.deleted_files"),
      "jobs.expire.reclaimable_bytes" -> med(ctx, "jobs.expire.reclaimable_bytes"),
      "format.qtable.entries_ms" -> med(ctx, "format.qtable.entries") * 1e3,
      "format.qtable.plan_files_ms" -> med(ctx, "format.qtable.plan_files") * 1e3,
      "format.qtable.manifests" -> maxOf("format.qtable.manifests"),
      "format.qtable.files" -> maxOf("format.qtable.files"),
      "format.read.lookup_ms" -> med(ctx, "format.read.lookup") * 1e3,
      "format.read.files_scanned" -> med(ctx, "format.read.files_scanned"),
      "format.read.files_pruned_frac" -> med(ctx, "format.read.files_pruned_frac"),
      "format.read.bytes_read" -> med(ctx, "format.read.bytes_read"),
      "verify.check_s" -> med(ctx, "verify.check", "verify.check_merged"),
      "verify.rows_compared" -> med(ctx, "verify.rows_compared"),
      "verify.violations" -> (samples(ctx, "verify.violations") :+ 0.0).max,
      "verify.shuffle_write_bytes" -> median((named("verify.check") ++ named("verify.check_merged"))
        .map(s => tr.tasksOf(s).map(_.shuffleWriteBytes).sum.toDouble)),
      "spark.run_s" -> median(cycleSpans.map(s => tr.tasksOf(s).map(_.runMs).sum / 1e3)),
      "spark.cpu_s" -> median(cycleSpans.map(s => tr.tasksOf(s).map(_.cpuNs).sum / 1e9)),
      "spark.gc_s" -> median(cycleSpans.map(s => tr.tasksOf(s).map(_.gcMs).sum / 1e3)),
      "spark.tasks" -> median(cycleSpans.map(s => tr.tasksOf(s).size.toDouble)),
      "spark.task_s_max_over_median" -> median(cycleSpans.map(skew)),
      "synth.generate_s" -> ctx.synthSeconds,
      "trace.cycle_s" -> tracedCycle,
      "trace.untraced_cycle_s" -> untracedCycle,
      "trace.overhead_s" -> (tracedCycle - untracedCycle),
      "trace.covered_frac" -> median(cycleSpans.map(s => childrenSeconds(s) / s.seconds)),
      "trace.untraced_s" -> median(cycleSpans.map(s => s.seconds - childrenSeconds(s))))
  }
}
