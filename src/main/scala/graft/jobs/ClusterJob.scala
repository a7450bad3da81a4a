package graft.jobs

import graft.expr.zfunctions._
import graft.format.{DriverIO, QTable}
import graft.model._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile.PercentileDigest
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._

/** Z-order / Hilbert clustering rewrite.
  *
  * Per partition group (pbucket range):
  *  1. a CHEAP key-only pass — a column-pruned scan of (phash, w, h,
  *     image_id), never touching the fat `bytes` column — computes
  *     approximate quantiles of the clustering key (the same
  *     sketch-based boundary estimation `repartitionByRange` would do,
  *     but over ~1% of the bytes). When the sampled files fit
  *     [[DriverIO.Cap]] the pass reads them on the driver and folds
  *     each group into Spark's own `percentile_approx` digest; above
  *     the cap it is one aggregation job;
  *  2. the single FULL scan computes the key with the custom Catalyst
  *     expression [[graft.expr.ZOrderKey]], assigns each row its
  *     quantile bin, and [[ExactShuffle.repartitionByBin]] moves it in
  *     one hash shuffle to exactly its bin's partition (no
  *     RangePartitioning sample job — that would decode every image
  *     TWICE);
  *  3. sortWithinPartitions(zkey, tiebreak) + write: ~targetFileBytes
  *     files whose narrow per-file phash ranges land in the rewritten
  *     manifests and drive scan pruning.
  * A group whose read is a plain scan (no live deletes, initial
  * defaults or row lineage) and whose rows fit [[DriverIO.Cap]] runs 2
  * and 3 on the driver instead: the same bins and sort, and files
  * written under the names the shuffle's partitions would give them,
  * with no job. Groups with more bins than the quantile grid holds, a
  * `maxRecordsPerFile` limit, or rows over the cap keep the job path.
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
    def rewriteGroup: RewriteGroup = RewriteGroup(group, inputs)
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
    // days(ts) spec: the clustering sort runs WITHIN each day (group
    // per (day, bucket)) — Iceberg's partition-outer / sort-order-inner
    // composition, so a full cluster never erodes date pruning
    JobPlanning.dayCompartments(snap, inScope).flatMap { case (prefix, sub) =>
      val perBucket = sub.groupBy(_.pbucketMin).toSeq.sortBy(_._1)
      JobPlanning.coalesceGroups(perBucket, targetFileBytes, minGroupBytes)
        .map { case (name, fs) => Plan(prefix + name, fs, prefix) }
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
    * per-group zkey quantile grid: scan only (phash, w, h, image_id) and
    * the file name — never the fat `bytes` column — and aggregate percentile
    * sketches grouped by rewrite group. Per-group boundary jobs would
    * cost one extra Spark job per group; this is O(1) jobs regardless of
    * group count, the kind of constant that matters with 10^5 groups at
    * 100 TB. Sampling every 2nd file per group is sound because
    * pre-cluster files are id-range slices whose (phash, w*h, id-hash)
    * key components are independent of the slicing key — each file is a
    * near-uniform sample of its group's key distribution; boundary error
    * only skews output file sizes a few percent, never correctness. */
  private[jobs] def boundsByGroup(snap: Snapshot, plans: Seq[Plan],
      zkeyCol: Column, sampleEvery: Int, onDriver: Boolean = true): Map[String, Array[Long]] = {
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
    // Each sampled row feeds the grid of the group that owns its file:
    // a file may straddle a bucket edge, so two groups can share a bucket
    val t0 = System.nanoTime()
    val sampled = plans.flatMap(p => p.inputs.sortBy(_.path).zipWithIndex
      .collect { case (f, i) if i % sampleEvery == 0 => f -> p.group })
    val grid = (1 until QuantileGrid).map(_.toDouble / QuantileGrid).toArray
    val groupOf = sampled.map { case (f, g) => QTable.fileName(f.path) -> g }
    val rows = table.scan(sampled.map(_._1), snap.physicalSchema)
    val onDriverPlan =
      if (onDriver && sampled.map(_._1.byteCount).sum <= DriverIO.Cap)
        DriverIO.plain(rows.select(zkeyCol.as("zkey")).queryExecution.sparkPlan)
      else None
    val grids = onDriverPlan match {
      case Some(p) => ClusterJob.driverQuantiles(p, groupOf.toMap, grid)
      case None => ClusterJob.groupQuantiles(
        rows.select(col("_metadata.file_name").as("file"), zkeyCol.as("zkey")), groupOf, grid)
    }
    if (sys.env.contains("GRAFT_TIMING"))
      System.err.println(f"[timing] cluster-bounds ${(System.nanoTime() - t0) / 1e9}%6.2fs " +
        s"(${plans.size} groups, path=${if (onDriverPlan.isDefined) "driver" else "job"})")
    grids
  }

  def run(failAfterGroups: Int = Int.MaxValue): Snapshot = run(failAfterGroups, onDriver = true)

  /** [[run]], with the driver paths (the bounds pass and the groups)
    * allowed or not: both write the same files. */
  private[graft] def run(failAfterGroups: Int, onDriver: Boolean): Snapshot = {
    val snap = table.currentSnapshot
    val plans = plan(snap)
    if (plans.isEmpty) return snap
    // in-scope position deletes fold (cluster rewrites every in-scope
    // file); quantile sampling stays delete-oblivious — dead rows skew
    // boundary estimates marginally, never correctness
    val rewrite = new GroupRewrite(table, snap, jobId, jobType)
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
    // batches follow day compartments, so each pass scans one
    // compartment's files
    val outputs = plans.groupBy(_.compartment).toSeq.sortBy(_._1)
      .flatMap(_._2.grouped(math.max(1, gridBatchGroups)))
      .flatMap { batch =>
        val grids = boundsByGroup(snap, batch, zkeyCol, sampleEvery, onDriver)
        rewrite.run(batch.map(_.rewriteGroup), concurrency, failAfterGroups,
          onDriver = (g, dir) =>
            onDriver && clusteredOnDriver(snap, g, grids, zkeyCol, jobTable, dir))(
          g => clustered(snap, g, grids, zkeyCol, jobTable))
      }

    // out-of-scope files (bucketScope) carry by reference — an unscoped
    // run's plan covers every entry
    rewrite.commit(plans.map(_.rewriteGroup), outputs, Map(
      "bytes-rewritten" -> plans.map(_.bytes).sum.toString,
      "groups" -> plans.size.toString,
      "sort-order" -> effectiveSortCols(snap).map(_.mkString(",")).getOrElse("image-zkey")),
      // an explicit --by becomes the table-carried sort order, so the
      // next default run (and maintain --auto, and analyze's overlap
      // metric) keep clustering the same way
      propertiesOverride = sortBy.map(cs => snap.props + ("sort.order" -> cs.mkString(","))))
  }

  /** The number of ~targetFileBytes outputs of a group. */
  private def outputsOf(g: RewriteGroup): Int =
    math.max(1, math.round(g.bytes.toDouble / targetFileBytes).toInt)

  /** A group's decorated rows (the rewrite folds position deletes away
    * and bakes initial defaults in, see CompactJob) with their
    * clustering key and tiebreak as the last two columns. */
  private def keyed(snap: Snapshot, g: RewriteGroup, zkeyCol: Column,
      jobTable: QTable): org.apache.spark.sql.DataFrame =
    jobTable.readEntriesForRewrite(snap, g.replaces)
      .withColumn("zkey", zkeyCol)
      .withColumn("tiebreak", xxhash64(col("image_id")))

  /** The upper bounds of a group's `nOut <= QuantileGrid` bins, read off
    * its grid. A group absent from the grid (no rows in its sampled
    * files — only possible for a degenerate near-empty group) degrades
    * to a single bin, which is the correct layout for it anyway. */
  private def binBounds(g: RewriteGroup, nOut: Int,
      grids: Map[String, Array[Long]]): Seq[Long] = {
    val grid = grids.getOrElse(g.name, Array.fill(QuantileGrid - 1)(Long.MaxValue))
    (1 until nOut).map(i => grid(i * QuantileGrid / nOut - 1))
  }

  /** A group's rows binned into ~targetFileBytes outputs by clustering
    * key and sorted within each. */
  private def clustered(snap: Snapshot, g: RewriteGroup,
      grids: Map[String, Array[Long]], zkeyCol: Column,
      jobTable: QTable): org.apache.spark.sql.DataFrame = {
    val nOut = outputsOf(g)
    val rows = keyed(snap, g, zkeyCol, jobTable)
    val binned =
      if (nOut == 1) rows.coalesce(1)
      else {
        // boundaries for nOut bins read off the precomputed grid (or a
        // direct per-group quantile job for the rare nOut > grid case)
        val bounds: Seq[Long] =
          if (nOut <= QuantileGrid) binBounds(g, nOut, grids)
          else jobTable.scan(g.replaces, snap.physicalSchema)
            .select(zkeyCol.as("zkey"))
            .stat.approxQuantile("zkey", (1 until nOut).map(_.toDouble / nOut).toArray, 0.001)
            .map(_.toLong).toSeq
        ExactShuffle.repartitionByBin(
          rows.withColumn("__bin", ExactShuffle.binByBounds(col("zkey"), bounds)),
          nOut, col("__bin")).drop("__bin")
      }
    binned.sortWithinPartitions(col("zkey"), col("tiebreak")).drop("zkey", "tiebreak")
  }

  /** [[clustered]]'s files, laid out and written into `dir` on the
    * driver ([[DriverIO]]): each row goes to its bin as
    * [[ExactShuffle.binByBounds]] places it (a NULL key in the last bin),
    * each bin is stably sorted by (zkey, tiebreak) with Spark's own
    * ordering, and bin `p` is written as task partition `p`, so the files
    * get the names, rows and bytes the exact shuffle and write job give
    * them (partition 0 is written even when empty, as the job writes it).
    * Returns false, having written nothing, for a group with more bins
    * than the grid, under a `maxRecordsPerFile` limit, whose files or
    * collected rows pass [[DriverIO.Cap]], or whose read is not a plain
    * scan (live deletes, initial defaults, row lineage). */
  private def clusteredOnDriver(snap: Snapshot, g: RewriteGroup,
      grids: Map[String, Array[Long]], zkeyCol: Column, jobTable: QTable,
      dir: String): Boolean = {
    val nOut = outputsOf(g)
    if (nOut > QuantileGrid || g.bytes > DriverIO.Cap ||
        jobTable.spark.sessionState.conf.maxRecordsPerFile > 0) return false
    val (output, rows) = DriverIO.collect(keyed(snap, g, zkeyCol, jobTable)) match {
      case Some((o, parts)) => (o, parts.flatten)
      case None => return false
    }
    val n = output.size - 2
    val bounds = binBounds(g, nOut, grids).toArray
    val bins = Array.fill(nOut)(scala.collection.mutable.ArrayBuffer.empty[InternalRow])
    rows.foreach { r =>
      val bin =
        if (r.isNullAt(n)) bounds.length
        else {
          val key = r.getLong(n)
          val i = bounds.indexWhere(key <= _)
          if (i < 0) bounds.length else i
        }
      bins(bin) += r
    }
    val refs = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val ordering = new LazilyGeneratedOrdering(refs.drop(n).map(SortOrder(_, Ascending)))
    val data = UnsafeProjection.create(refs.take(n))
    DriverIO.write(jobTable.spark, DataTypeUtils.fromAttributes(output.take(n)), dir,
      bins.indices.filter(p => p == 0 || bins(p).nonEmpty)
        .map(p => p -> bins(p).sorted(ordering).iterator.map(data)))
    true
  }
}

object ClusterJob {

  /** Groups per quantile-grid batch: bounds the driver-held grid map at
    * ~batch x 127 longs (~4 MB) regardless of total group count. */
  val GridBatchGroups = 4096

  /** Per-group zkey quantile grids via ONE aggregation: join the (file,
    * zkey) rows against the small broadcast (file name -> group) lookup,
    * one row per sampled file, then percentile sketches grouped by group
    * name. A `when`-chain expression over the same mapping would be one
    * nested CASE per group: at the 10^5-group scale the 100 TB estimate
    * implies, a 10^5-deep Catalyst expression tree blows analysis/codegen
    * stack limits long before data volume matters — the join keeps the
    * PLAN O(1) in group count. */
  private[jobs] def groupQuantiles(
      rows: org.apache.spark.sql.DataFrame,
      lookup: Seq[(String, String)],
      grid: Array[Double]): Map[String, Array[Long]] = {
    import org.apache.spark.sql.functions.{percentile_approx => pctApprox}
    val spark = rows.sparkSession
    val lookupDf = broadcast(
      spark.createDataFrame(lookup).toDF("file", "g"))
    rows.join(lookupDf, Seq("file"))
      .groupBy("g")
      .agg(pctApprox(col("zkey"), lit(grid), lit(10000)).as("q"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .toMap
  }

  /** [[groupQuantiles]] on the driver: `keys` is a [[DriverIO]] plan
    * whose one output column is the zkey, and each non-null key of a
    * file feeds its group's `PercentileDigest`, as `percentile_approx`
    * at accuracy 10000 folds it (relative error 1/10000, values added as
    * doubles, results read back as longs). A group with no key gets no
    * grid, as it gets no aggregate row. */
  private[jobs] def driverQuantiles(keys: DriverIO.Plain, groupOf: Map[String, String],
      grid: Array[Double]): Map[String, Array[Long]] = {
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, PercentileDigest]
    keys.read(keys.partitions.flatMap(_.files)) { (f, r) =>
      if (!r.isNullAt(0))
        digests.getOrElseUpdate(groupOf(f.toPath.getName), new PercentileDigest(1.0 / 10000))
          .add(r.getLong(0).toDouble)
      true
    }
    digests.map { case (g, d) => g -> d.getPercentiles(grid).map(_.toLong).toArray }.toMap
  }
}
