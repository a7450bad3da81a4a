package graft.jobs

import graft.expr.zfunctions._
import graft.format.QTable
import graft.model._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order / Hilbert clustering rewrite.
  *
  * Per partition group (pbucket range):
  *  1. a CHEAP key-only pass — a column-pruned scan of (phash, w, h,
  *     image_id), never touching the fat `bytes` column — computes
  *     approximate quantiles of the clustering key (the same
  *     sketch-based boundary estimation `repartitionByRange` would do,
  *     but over ~1% of the bytes);
  *  2. the single FULL scan computes the key with the custom Catalyst
  *     expression [[graft.expr.ZOrderKey]], assigns each row its
  *     quantile bin, and [[ExactShuffle.repartitionByBin]] moves it in
  *     one hash shuffle to exactly its bin's partition (no
  *     RangePartitioning sample job — that would decode every image
  *     TWICE);
  *  3. sortWithinPartitions(zkey, tiebreak) + write: ~targetFileBytes
  *     files whose narrow per-file phash ranges land in the rewritten
  *     manifests and drive scan pruning.
  *
  * Skew: phash is heavily skewed (near-duplicate clusters — by design in
  * the synthetic data, and in any real image corpus). Fixed-width zkey
  * ranges would put every near-dup in one reducer; quantile-derived bins
  * adapt the boundaries to the observed distribution, and the uniform
  * xxhash64(image_id) bits interleaved INTO the zkey break pure-tie mass
  * apart (salting built into the key), with AQE as the runtime backstop.
  */
class ClusterJob(
    table: QTable,
    targetFileBytes: Long = 8L << 20,
    hilbert: Boolean = false,
    jobId: String = java.util.UUID.randomUUID().toString,
    concurrency: Int = 4,
    minGroupBytes: Long = -1L,
    gridBatchGroups: Int = ClusterJob.GridBatchGroups,
    bucketScope: Option[Set[Int]] = None,
    incremental: Boolean = false,
    sortBy: Option[Seq[String]] = None) {

  final case class Plan(group: String, inputs: Seq[DataFileEntry],
      compartment: String = "") {
    def bytes: Long = inputs.map(_.byteCount).sum
  }

  /** `bucketScope` restricts the rewrite to the named buckets — the
    * rolling-maintenance control (see [[CompactJob.plan]]); out-of-scope
    * files carry into the new snapshot by reference.
    *
    * `incremental` restricts it further to files ADDED since the last
    * cluster commit (the LSM compromise): the previous run's outputs —
    * still sorted and mutually disjoint — carry by reference, and only
    * the append/merge debt is sorted into a NEW run. At 100 TB this is
    * the difference between absorbing a day's 1 TB of appends with a
    * 1 TB rewrite and re-sorting the whole table; the cost is one more
    * sorted run per tick for range scans to probe (the analyze overlap
    * metric counts exactly this), until a periodic FULL run merges the
    * runs back to one. */
  def plan(snap: Snapshot): Seq[Plan] = {
    val lastRun: Set[String] =
      if (!incremental) Set.empty
      else lastClusterOutputs(snap).getOrElse(Set.empty)
    val inScope = table.entries(snap)
      .filter(e => bucketScope.forall(_.contains(e.pbucketMin)))
      .filterNot(e => lastRun.contains(QTable.fileName(e.path)))
    def groupsOf(sub: Seq[DataFileEntry], prefix: String): Seq[Plan] = {
      val perBucket = sub.groupBy(_.pbucketMin).toSeq.sortBy(_._1)
      JobPlanning.coalesceGroups(perBucket, targetFileBytes, minGroupBytes)
        .map { case (name, fs) => Plan(prefix + name, fs, prefix) }
    }
    // days(ts) spec: the clustering sort runs WITHIN each day (group
    // per (day, bucket)) — Iceberg's partition-outer / sort-order-inner
    // composition, so a full cluster never erodes date pruning
    graft.format.DayPartition.fieldOf(snap) match {
      case None => groupsOf(inScope, "")
      case Some(f) =>
        inScope.groupBy(e => graft.format.DayPartition.entryDay(f, e)).toSeq
          .sortBy(_._1.getOrElse(Long.MinValue))
          .flatMap { case (d, fs) =>
            groupsOf(fs, d.map(x => s"d$x-").getOrElse("dx-")) }
    }
  }

  /** File names live in the most recent cluster-* snapshot on the
    * parent chain — the files an incremental run may skip (those of
    * them still live are the previous sorted runs). None when no
    * cluster commit is reachable (then incremental = full). The walk is
    * O(chain) metadata and stops defensively at expired versions. */
  private def lastClusterOutputs(snap: Snapshot): Option[Set[String]] = {
    var v = snap
    while (true) {
      if (v.operation.startsWith("cluster-"))
        return Some(table.entries(v).map(e => QTable.fileName(e.path)).toSet)
      if (v.parentVersion < 0) return None
      v = try table.snapshotAt(v.parentVersion)
      catch { case _: Exception => return None }
    }
    None // unreachable
  }

  private def jobType = if (hilbert) "cluster-hilbert" else "cluster-zorder"

  /** Effective sort columns: explicit `--by` beats the table-carried
    * `sort.order` property beats the built-in image key (None). */
  private def effectiveSortCols(snap: Snapshot): Option[Seq[String]] =
    sortBy.orElse(snap.props.get("sort.order")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty))

  /** Clustering key for this run — the north-rule image key by default,
    * or a Z-order/Hilbert interleave of 1-3 USER columns (`cluster --by
    * c1,c2` / table property `sort.order`), each range-normalized to 21
    * bits using bounds read from the MANIFEST stats of the planned
    * inputs (zero extra scan): long/double stats scale linearly, string
    * stats through the order-preserving 7-byte prefix, phash through the
    * unsigned-hash map. Fewer than 3 columns pad with constant-zero
    * planes (interleaving against a constant is order-preserving), so
    * one kernel serves every arity. NULLs in evolved nullable columns
    * normalize to 0 (sort first). Only stats-covered primitive columns
    * qualify — the same set the skipping index can prune on, which is
    * the point of clustering by them. */
  private def sortKeyFor(snap: Snapshot, inputs: Seq[DataFileEntry]): Column =
    effectiveSortCols(snap) match {
      case None =>
        imageZKey(col("phash"), col("w"), col("h"), col("image_id"), hilbert)
      case Some(cs) =>
        require(cs.size <= 3, s"cluster --by takes 1-3 columns, got ${cs.size}")
        val byName = snap.schemaFields.map(f => f.name -> f).toMap
        val comps = cs.map { c =>
          val f = byName.getOrElse(c, throw new IllegalArgumentException(
            s"unknown sort column: $c"))
          val comp: Column = c match {
            case "pbucket" => throw new IllegalArgumentException(
              "pbucket is the partition key; clustering already groups by it")
            case "image_id" =>
              norm_range21(str_prefix_long(col(f.phys)),
                graft.expr.ZOrder.strPrefixLong(inputs.map(_.imageIdMin).min),
                graft.expr.ZOrder.strPrefixLong(inputs.map(_.imageIdMax).max))
            case "phash" => norm_hash21(col(f.phys))
            case _ =>
              val stats = inputs.flatMap(_.stats.get(f.phys))
              require(stats.nonEmpty, s"no manifest stats for sort column " +
                s"'$c' — only stats-covered primitive columns can cluster")
              stats.head.kind match {
                case "long" => norm_range21(col(f.phys).cast("long"),
                  stats.map(_.min.toLong).min, stats.map(_.max.toLong).max)
                case "double" => norm_double21(col(f.phys),
                  stats.map(_.min.toDouble).min, stats.map(_.max.toDouble).max)
                case "string" =>
                  norm_range21(str_prefix_long(col(f.phys)),
                    stats.map(s => graft.expr.ZOrder.strPrefixLong(s.min)).min,
                    stats.map(s => graft.expr.ZOrder.strPrefixLong(s.max)).max)
                case k => throw new IllegalArgumentException(
                  s"cannot cluster by '$c' (stat kind $k)")
              }
          }
          coalesce(comp, lit(0L))
        }
        val padded = comps.padTo(3, lit(0L))
        if (hilbert) hilbert_key(padded(0), padded(1), padded(2))
        else zorder_key(padded(0), padded(1), padded(2))
    }

  /** Quantile grid resolution for bin boundaries (boundaries for nOut
    * bins are read off the grid, so one pass serves every group). */
  private val QuantileGrid = 128

  /** ONE column-pruned pass over a FILE SAMPLE of the snapshot computes a
    * per-group zkey quantile grid: scan only (pbucket, phash, w, h,
    * image_id) — never the fat `bytes` column — and aggregate percentile
    * sketches grouped by rewrite group. Per-group boundary jobs would
    * cost one extra Spark job per group; this is O(1) jobs regardless of
    * group count, the kind of constant that matters with 10^5 groups at
    * 100 TB. Sampling every 2nd file per group is sound because
    * pre-cluster files are id-range slices whose (phash, w*h, id-hash)
    * key components are independent of the slicing key — each file is a
    * near-uniform sample of its group's key distribution; boundary error
    * only skews output file sizes a few percent, never correctness. */
  private def boundsByGroup(snap: Snapshot, plans: Seq[Plan],
      zkeyCol: Column, sampleEvery: Int): Map[String, Array[Long]] = {
    // every 8th file per group (min 1): pre-cluster files are id-range
    // slices independent of the key components, so each is a near-uniform
    // sample; one ~17k-row file per group is ample for a 128-point grid
    // (boundary error only skews output file sizes a few percent, never
    // correctness or file counts), and r6 measurement showed the pass is
    // fixed-cost dominated — halving the scanned bytes vs r5's every-4th
    // trims the serial pre-pass without moving the estimate. Under
    // write.sort-on-append the premise inverts — appended files are KEY
    // slices, so skipping files skips key ranges — and the caller passes
    // sampleEvery = 1 (every file; the pass is still column-pruned).
    val sampled = plans.flatMap(_.inputs.sortBy(_.path).zipWithIndex
      .collect { case (f, i) if i % sampleEvery == 0 => f })
    val grid = (1 until QuantileGrid).map(_.toDouble / QuantileGrid).toArray
    val rows = table.scan(sampled, snap.physicalSchema)
      .select(col("pbucket"), zkeyCol.as("zkey"))
    ClusterJob.groupQuantiles(rows, ClusterJob.bucketGroupLookup(plans.map(p =>
      (p.group, p.inputs.map(_.pbucketMin).min, p.inputs.map(_.pbucketMax).max))), grid)
  }

  def run(failAfterGroups: Int = Int.MaxValue): Snapshot = {
    val snap = table.currentSnapshot
    val plans = plan(snap)
    if (plans.isEmpty) return snap
    // position-delete fold input: which delete entries reference which
    // files (cluster rewrites every in-scope file, so in-scope deletes
    // fold; quantile sampling stays delete-oblivious — dead rows skew
    // boundary estimates marginally, never correctness)
    val delPairs = table.deletePairs(snap)

    val ckpt = new Checkpoint(table, jobId)
    // isolated session with AQE off for the group rewrites: the exact-bin
    // shuffle already pins its partitioning (AQE cannot coalesce or
    // skew-split it), so AQE's per-stage materialize-and-replan barrier on
    // the single DAGScheduler event loop is pure serialized overhead —
    // measurable when many short group jobs run concurrently at high
    // parallelism. Session-scoped so nothing else on the shared session
    // is affected.
    val jobTable = new graft.format.QTable(table.root, table.spark.newSession())
    jobTable.spark.conf.set("spark.sql.adaptive.enabled", "false")
    // quantile grids are computed PER BATCH of groups so the collected
    // map stays driver-bounded: at the 10^5-groups-at-100 TB shape one
    // global collect would hold ~100 MB of grids at once; batching keeps
    // it at gridBatchGroups x 127 longs (~4 MB) while the per-batch pass
    // still scans only that batch's sampled files (total scan work is
    // unchanged, job count grows O(groups / batch) — a constant few even
    // at 10^5 groups). Checkpointed resume is unaffected: groups commit
    // individually and `already` is re-read per batch.
    val zkeyCol = sortKeyFor(snap, plans.flatMap(_.inputs))
    val sampleEvery =
      if (snap.props.get("write.sort-on-append").contains("true")) 1 else 8
    // batches never span day compartments: the bucket->group quantile
    // lookup assumes one group per bucket within a pass, and two days'
    // groups share bucket ranges — a mixed batch would pool both days'
    // rows into each group's grid (sizes skew; the per-compartment pass
    // stays exact because it scans only that compartment's files)
    val outputs = plans.groupBy(_.compartment).toSeq.sortBy(_._1)
      .flatMap(_._2.grouped(math.max(1, gridBatchGroups)))
      .flatMap { batch =>
      val tB0 = System.nanoTime()
      val grids = boundsByGroup(snap, batch, zkeyCol, sampleEvery)
      if (sys.env.contains("GRAFT_TIMING"))
        System.err.println(f"[timing] cluster-bounds ${(System.nanoTime() - tB0) / 1e9}%6.2fs (${batch.size} groups)")
      runBatch(snap, batch, grids, zkeyCol, ckpt, jobTable, failAfterGroups)
    }.toSeq

    // out-of-scope files (bucketScope) carry by reference — an unscoped
    // run's plan covers every entry, making this the empty set
    val rewrittenInputs = plans.flatMap(_.inputs.map(_.path)).toSet
    val untouched = table.entries(snap)
      .filterNot(f => rewrittenInputs.contains(f.path))
    val committed = table.commit(Some(snap), jobType,
      untouched ++ outputs.flatMap(_.outputFiles), Map(
        "job-id" -> jobId,
        "bytes-rewritten" -> plans.map(_.bytes).sum.toString,
        "groups" -> plans.size.toString,
        "sort-order" -> effectiveSortCols(snap).map(_.mkString(",")).getOrElse("image-zkey")),
      deletesOverride =
        Some(table.retainDeletes(snap, delPairs, untouched.map(_.path))),
      eqDeletesOverride = Some(table.retainEqDeletes(snap, untouched)),
      // an explicit --by becomes the table-carried sort order, so the
      // next default run (and maintain --auto, and analyze's overlap
      // metric) keep clustering the same way
      propertiesOverride = sortBy.map(cs => snap.props + ("sort.order" -> cs.mkString(","))))
    ckpt.clear()
    committed
  }

  private def runBatch(snap: Snapshot, batch: Seq[Plan],
      grids: Map[String, Array[Long]], zkeyCol: Column,
      ckpt: Checkpoint, jobTable: graft.format.QTable,
      failAfterGroups: Int): Seq[LineageEntry] = {
    // live file names of the snapshot being rewritten: cleanDir refuses
    // to delete them (see [[cleanDir]])
    val liveNames = table.entries(snap).map(e => QTable.fileName(e.path)).toSet
    // delete files join the checkpoint input identity (see CompactJob):
    // a group output predating a concurrent DELETE must not be reused
    def groupInputs(p: Plan): Seq[String] = {
      val paths = p.inputs.map(_.path)
      paths ++ table.deleteInputsFor(snap, paths) ++
        table.eqDeleteInputsFor(snap, p.inputs)
    }
    GroupRunner.run[Plan](batch, _.group, groupInputs,
      ckpt.committed, failAfterGroups, concurrency,
      onFailure = gf => ckpt.commit(LineageEntry(jobId, jobType, gf.group,
        Nil, Nil, 0L, 0L, "failed", gf.attempts)),
      sizeOf = _.bytes) { p =>
      val dir = table.newDataDir(jobId, p.group)
      cleanDir(dir, liveNames)
      val nOut = math.max(1, math.round(p.bytes.toDouble / targetFileBytes).toInt)
      // decorated read: the rewrite folds position deletes away and
      // bakes initial defaults in (see CompactJob)
      val keyed = jobTable.readEntriesForRewrite(snap, p.inputs)
        .withColumn("zkey", zkeyCol)
        .withColumn("tiebreak", xxhash64(col("image_id")))

      val t0 = System.nanoTime()
      val clustered =
        if (nOut == 1) keyed.coalesce(1)
        else {
          // boundaries for nOut bins read off the precomputed grid (or a
          // direct per-group quantile job for the rare nOut > grid case)
          // a group absent from the grid (no rows in its sampled files —
          // only possible for a degenerate near-empty group) degrades to
          // a single bin, which is the correct layout for it anyway
          val grid = grids.getOrElse(p.group, Array.fill(QuantileGrid - 1)(Long.MaxValue))
          val bounds: Seq[Long] =
            if (nOut <= QuantileGrid)
              (1 until nOut).map(i => grid(i * QuantileGrid / nOut - 1))
            else jobTable.scan(p.inputs, snap.physicalSchema)
              .select(zkeyCol.as("zkey"))
              .stat.approxQuantile("zkey", (1 until nOut).map(_.toDouble / nOut).toArray, 0.001)
              .map(_.toLong).toSeq
          ExactShuffle.repartitionByBin(
            keyed.withColumn("__bin", ExactShuffle.binByBounds(col("zkey"), bounds)),
            nOut, col("__bin")).drop("__bin")
        }
      graft.format.TableWrite.parquet(clustered
        .sortWithinPartitions(col("zkey"), col("tiebreak"))
        .drop("zkey", "tiebreak"), dir)
      val t1 = System.nanoTime()
      val files = table.harvest(dir)
      val t2 = System.nanoTime()
      Timing.record("cluster", p.group, (t1 - t0) / 1e9)
      if (sys.env.contains("GRAFT_TIMING"))
        System.err.println(f"[timing] cluster ${p.group}%-8s files=${p.inputs.size}%3d " +
          f"bytes=${p.bytes / (1 << 20)}%5d MiB nOut=$nOut%3d " +
          f"write=${(t1 - t0) / 1e9}%7.2fs harvest=${(t2 - t1) / 1e9}%6.2fs")
      val entry = LineageEntry(jobId, jobType,
        p.group, groupInputs(p), files,
        files.map(_.rowCount).sum, files.map(_.byteCount).sum,
        "committed", attempt = 1)
      ckpt.commit(entry)
      entry
    }
  }

  /** Clear a group's output dir before (re)writing it — refusing to
    * delete files the current snapshot references (a job-id reused
    * after its first run committed points here at the table's LIVE
    * files; see [[CompactJob.cleanDir]] for the full hazard note).
    * Genuine kill/resume passes: uncommitted partials are never live. */
  private def cleanDir(dir: String, liveNames: Set[String]): Unit = {
    val hp = new HPath(dir)
    val fs = hp.getFileSystem(table.hadoopConf)
    if (fs.exists(hp)) {
      fs.listStatus(hp).map(_.getPath.getName).find(liveNames.contains)
        .foreach { f => throw new IllegalStateException(
          s"refusing to clear $dir: it holds live table file $f — " +
            s"job-id '$jobId' collides with a previously COMMITTED run's " +
            "output directory; re-run with a fresh job-id") }
      fs.delete(hp, true)
    }
  }
}

object ClusterJob {

  /** Groups per quantile-grid batch: bounds the driver-held grid map at
    * ~batch x 127 longs (~4 MB) regardless of total group count. */
  val GridBatchGroups = 4096

  /** (pbucket -> group) rows for a broadcast lookup join. Groups are
    * disjoint contiguous bucket ranges, so the expansion is exactly one
    * row per bucket — small data (a 10^5-bucket table is ~10^5 rows of
    * (int, short string), a few MB broadcast). A `when`-chain expression
    * over the same mapping would be one nested CASE per group: at the
    * 10^5-group scale the 100 TB estimate implies, a 10^5-deep Catalyst
    * expression tree blows analysis/codegen stack limits long before data
    * volume matters — the join keeps the PLAN O(1) in group count. */
  private[jobs] def bucketGroupLookup(
      groups: Seq[(String, Int, Int)]): Seq[(Int, String)] =
    groups.flatMap { case (g, lo, hi) => (lo to hi).map(b => (b, g)) }

  /** Per-group zkey quantile grids via ONE aggregation: join the (pbucket,
    * zkey) rows against the small broadcast bucket->group lookup, then
    * percentile sketches grouped by group name. Plan size is independent
    * of group count. */
  private[jobs] def groupQuantiles(
      rows: org.apache.spark.sql.DataFrame,
      lookup: Seq[(Int, String)],
      grid: Array[Double]): Map[String, Array[Long]] = {
    import org.apache.spark.sql.functions.{percentile_approx => pctApprox}
    val spark = rows.sparkSession
    val lookupDf = broadcast(
      spark.createDataFrame(lookup).toDF("pbucket", "g"))
    rows.join(lookupDf, Seq("pbucket"))
      .groupBy("g")
      .agg(pctApprox(col("zkey"), lit(grid), lit(10000)).as("q"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .toMap
  }
}
