package graft.jobs

import graft.TestSpark
import graft.format.QTable
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.scalatest.funsuite.AnyFunSuite

class ClusterJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(n: Long, buckets: Int = 2): QTable = {
    val t = QTable.create(TestSpark.tmpDir("cluster"), spark, buckets)
    AppendJob.append(t, DataGen.generate(spark, n, 42L, 8).toDF(), filesPerBucket = 4)
    t
  }

  /** Sum of per-file phash spans, normalized — lower = better clustered. */
  private def phashSpanScore(t: QTable, snap: graft.model.Snapshot): Double = {
    val es = t.entries(snap)
    es.map(e => (e.phashMax - e.phashMin).toDouble / Long.MaxValue).sum / es.size
  }

  test("z-order rewrite: scan equivalent, phash ranges tighten, pruning improves") {
    val t = freshTable(1500)
    val pre = t.currentSnapshot
    val preDf = t.read(pre)
    val preScore = phashSpanScore(t, pre)
    val preFilesPerProbe = probePruning(t, pre)

    val snap = new ClusterJob(t, targetFileBytes = 60L << 10).run()
    assert(snap.operation == "cluster-zorder")
    assert(t.entries(snap).map(_.rowCount).sum == 1500)

    val (ok, bad) = ScanEquivalence.check(preDf, t.read(snap))
    assert(ok, s"$bad violations after clustering")

    // clustering must tighten per-file phash ranges vs the append layout
    val postScore = phashSpanScore(t, snap)
    assert(postScore < preScore,
      f"phash span score did not improve: pre=$preScore%.4f post=$postScore%.4f")

    // manifest-stat pruning: narrow phash probes must scan a smaller
    // fraction of table rows after clustering than before
    val postFilesPerProbe = probePruning(t, snap)
    assert(postFilesPerProbe < preFilesPerProbe,
      s"pruned row fraction regressed: $postFilesPerProbe >= $preFilesPerProbe")
    assert(postFilesPerProbe < 0.5,
      s"clustered probes still scan ${postFilesPerProbe} of the table")
  }

  /** Avg fraction of table ROWS in files matched by narrow phash probes
    * placed inside the live phash domain. Random layout => ~1.0 (every
    * file's min/max spans the domain); clustered => << 1. */
  private def probePruning(t: QTable, snap: graft.model.Snapshot): Double = {
    val es = t.entries(snap)
    val totalRows = es.map(_.rowCount).sum.toDouble
    val lo = es.map(_.phashMin).min
    val hi = es.map(_.phashMax).max
    val span = hi - lo
    val width = math.max(1L, span / 256)
    val probes = Seq(0.2, 0.5, 0.8).map(f => lo + (span * f).toLong)
    probes.map { p =>
      t.planFiles(snap, phashRange = Some((p, p + width)))
        .map(_.rowCount).sum.toDouble / totalRows
    }.sum / probes.size
  }

  test("hilbert variant also passes scan equivalence") {
    val t = freshTable(400)
    val preDf = t.read(t.currentSnapshot)
    val snap = new ClusterJob(t, targetFileBytes = 60L << 10, hilbert = true).run()
    assert(snap.operation == "cluster-hilbert")
    val (ok, bad) = ScanEquivalence.check(preDf, t.read(snap))
    assert(ok, s"$bad violations after hilbert clustering")
  }

  test("kill/resume on cluster job") {
    val t = freshTable(600)
    val jobId = "cluster-resume"
    intercept[RuntimeException] {
      new ClusterJob(t, targetFileBytes = 60L << 10, jobId = jobId, minGroupBytes = 1L).run(failAfterGroups = 1)
    }
    val committedBefore = new Checkpoint(t, jobId).committed
    assert(committedBefore.size == 1)
    val firstOutputs = committedBefore.values.head.outputFiles.map(_.path).toSet
    val snap = new ClusterJob(t, targetFileBytes = 60L << 10, jobId = jobId, minGroupBytes = 1L).run()
    assert(firstOutputs.subsetOf(t.entries(snap).map(_.path).toSet),
      "resume must not rewrite the committed group")
    assert(new Checkpoint(t, jobId).committed.isEmpty,
      "checkpoint dir must be cleared after the final snapshot commit")
    assert(t.entries(snap).map(_.rowCount).sum == 600)
  }

  test("boundary planning at 5000 groups: broadcast lookup join, no plan blowup") {
    import org.apache.spark.sql.functions._
    // 5000 groups of one sampled file each — the 100 TB group-count shape.
    // The old when-chain built a 5000-deep nested CASE here and died in
    // analysis; the lookup join keeps plan size O(1) in group count.
    val nGroups = 5000
    val lookup = (0 until nGroups).map(g => (s"f$g", s"b$g"))
    val rows = spark.range(0, 50000)
      .select(concat(lit("f"), (col("id") % nGroups).cast("string")).as("file"),
        (col("id") * 2654435761L).as("zkey"))
    val grid = Array(0.25, 0.5, 0.75)
    val q = ClusterJob.groupQuantiles(rows, lookup, grid)
    assert(q.size == nGroups)
    assert(q.values.forall(_.length == grid.length))
    // spot-check one group's quantiles are within that group's domain
    val g0 = rows.where(col("file") === "f0").agg(min("zkey"), max("zkey")).head()
    assert(q("b0").forall(v => v >= g0.getLong(0) && v <= g0.getLong(1)))
  }

  test("quantile grids: each group's grid is the grid of its own sampled files alone") {
    import org.apache.spark.sql.functions.col
    // range-appended files straddle bucket edges, so with one group per
    // bucket a bucket holds rows of two groups' files
    val t = QTable.create(TestSpark.tmpDir("cluster-grid"), spark, 8)
    AppendJob.append(t, DataGen.generate(spark, 1200, 42L, 8).toDF(), filesPerBucket = 2)
    val snap = t.currentSnapshot
    val job = new ClusterJob(t, targetFileBytes = 60L << 10, minGroupBytes = 1L)
    val plans = job.plan(snap)
    val groupsOfBucket = plans.flatMap(p => p.inputs
      .flatMap(e => e.pbucketMin to e.pbucketMax).distinct.map(_ -> p.group))
      .groupBy(_._1)
    assert(plans.size == 8 && groupsOfBucket.values.exists(_.size > 1),
      "the layout has no bucket shared by two groups")
    val zkey = graft.expr.zfunctions.imageZKey(
      col("phash"), col("w"), col("h"), col("image_id"), false)
    for (every <- Seq(1, 2)) {
      val grids = job.boundsByGroup(snap, plans, zkey, every)
      assert(grids.keySet == plans.map(_.group).toSet)
      plans.foreach { p =>
        val own = job.boundsByGroup(snap, Seq(p), zkey, every)(p.group)
        assert(grids(p.group).toSeq == own.toSeq, s"grid of ${p.group}, every $every")
      }
    }
  }

  test("grid batching: tiny gridBatchGroups gives the same clustering as one batch") {
    // 8 buckets, minGroupBytes=1 => one group per bucket => 8 groups;
    // gridBatchGroups=3 forces 3 quantile batches. The batched run must
    // be scan-equivalent and cluster as well as the single-batch run —
    // this is the driver-memory-bounded path for the 10^5-group shape.
    def build(tag: String): QTable = {
      val t = QTable.create(TestSpark.tmpDir(s"cluster-gb-$tag"), spark, 8)
      AppendJob.append(t, DataGen.generate(spark, 1200, 42L, 8).toDF(), filesPerBucket = 2)
      t
    }
    val one = build("one")
    val many = build("many")
    val preDf = one.read()
    val s1 = new ClusterJob(one, targetFileBytes = 60L << 10, minGroupBytes = 1L).run()
    val sN = new ClusterJob(many, targetFileBytes = 60L << 10, minGroupBytes = 1L,
      gridBatchGroups = 3).run()
    assert(s1.summary("groups") == "8" && sN.summary("groups") == "8")
    val (ok, bad) = ScanEquivalence.check(preDf, many.read(sN))
    assert(ok, s"$bad violations after batched clustering")
    // percentile_approx sketches merge in partition order, so batch
    // composition shifts boundaries slightly — quality must match within
    // a few percent (boundary error skews file sizes, never correctness)
    val score1 = phashSpanScore(one, s1)
    val scoreN = phashSpanScore(many, sN)
    assert(math.abs(score1 - scoreN) <= 0.05 * math.max(score1, scoreN),
      f"batched run clustered differently: $score1%.6f vs $scoreN%.6f")
    assert(many.entries(sN).map(_.rowCount).sum == 1200)
  }

  test("skew: heavy near-dup phash cluster does not hotspot one output file") {
    val t = freshTable(2000)
    val snap = new ClusterJob(t, targetFileBytes = 40L << 10).run()
    val es = t.entries(snap)
    // with ~10% of rows in one near-dup cluster sharing a phash region,
    // the salted (zkey, tiebreak) range partitioning must keep the max
    // file row count within a sane multiple of the mean
    val counts = es.map(_.rowCount)
    val mean = counts.sum.toDouble / counts.size
    assert(counts.max <= mean * 4,
      s"skewed file: max=${counts.max} mean=$mean%.1f files=${counts.size}")
  }

  /** Sum of per-file spans of a colStats column, normalized by the table
    * span — lower = better clustered on that column. */
  private def colSpanScore(t: QTable, snap: graft.model.Snapshot,
      phys: String): Double = {
    val rs = t.entries(snap).flatMap(_.stats.get(phys))
      .map(s => (s.min.toDouble, s.max.toDouble))
    val span = rs.map(_._2).max - rs.map(_._1).min
    rs.map { case (lo, hi) => (hi - lo) / span }.sum / rs.size
  }

  test("cluster --by user columns: spans tighten on them, property persists") {
    val t = freshTable(1500)
    val pre = t.currentSnapshot
    val preDf = t.read(pre)
    val preW = colSpanScore(t, pre, "w")

    val snap = new ClusterJob(t, targetFileBytes = 60L << 10,
      sortBy = Some(Seq("w", "h"))).run()
    assert(snap.summary("sort-order") == "w,h")
    assert(snap.props("sort.order") == "w,h", "explicit --by must persist")
    val (ok, bad) = ScanEquivalence.check(preDf, t.read(snap))
    assert(ok, s"$bad violations after --by clustering")
    val postW = colSpanScore(t, snap, "w")
    assert(postW < preW, s"w spans must tighten: $preW -> $postW")

    // a later DEFAULT run keeps clustering by the carried property
    AppendJob.append(t, DataGen.generate(spark, 300, 7L, 4).toDF(), 2)
    val snap2 = new ClusterJob(t, targetFileBytes = 60L << 10).run()
    assert(snap2.summary("sort-order") == "w,h")

    // analyze's overlap metric follows the leading sort column: the
    // freshly clustered table must read near-disjoint (low overlap)
    val rep = new AnalyzeJob(t, 60L << 10).run()
    assert(rep.clusterOverlap < 3.0,
      s"overlap on leading sort column too high: ${rep.clusterOverlap}")
  }

  test("cluster --by a string column orders by its 7-byte prefix") {
    val t = freshTable(800)
    val pre = t.read(t.currentSnapshot)
    val snap = new ClusterJob(t, targetFileBytes = 60L << 10,
      sortBy = Some(Seq("caption"))).run()
    val (ok, bad) = ScanEquivalence.check(pre, t.read(snap))
    assert(ok, s"$bad violations")
    // per-file caption ranges must be near-disjoint within a bucket:
    // count pairwise overlaps through the same prefix the key used
    val byBucket = t.entries(snap).filter(e => e.pbucketMin == e.pbucketMax)
      .groupBy(_.pbucketMin)
    val overlapping = byBucket.values.flatMap { fs =>
      val rs = fs.flatMap(_.stats.get("caption"))
        .map(s => (graft.expr.ZOrder.strPrefixLong(s.min),
          graft.expr.ZOrder.strPrefixLong(s.max))).sortBy(_._1)
      rs.sliding(2).collect { case Seq((_, hi1), (lo2, _)) if lo2 < hi1 => 1 }
    }.sum
    val total = byBucket.values.map(_.size).sum
    assert(overlapping <= total / 2,
      s"$overlapping of $total files overlap on caption after --by caption")
  }

  test("cluster --by refuses unknown, stat-less and partition columns") {
    val t = freshTable(200)
    intercept[IllegalArgumentException] {
      new ClusterJob(t, 60L << 10, sortBy = Some(Seq("nope"))).run() }
    intercept[IllegalArgumentException] {
      new ClusterJob(t, 60L << 10, sortBy = Some(Seq("pbucket"))).run() }
    intercept[IllegalArgumentException] {
      new ClusterJob(t, 60L << 10, sortBy = Some(Seq("bytes"))).run() }
    intercept[IllegalArgumentException] {
      new ClusterJob(t, 60L << 10,
        sortBy = Some(Seq("w", "h", "caption", "fmt"))).run() }
  }
}
