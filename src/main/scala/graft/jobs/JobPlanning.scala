package graft.jobs

import graft.model.DataFileEntry
import org.apache.spark.sql.SparkSession

/** Shared planning helpers for the maintenance jobs. */
object JobPlanning {

  /** The bucket of each row over `buckets` buckets, the format's one
    * hash layout: `pbucket = pmod(xxhash64(image_id), buckets)`. */
  def bucketOf(buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(xxhash64(col("image_id")), lit(buckets.toLong)).cast("int")
  }

  /** Exact (day, bucket, subfile) bins for a PHYSICAL-schema frame on a
    * day-partitioned table ([[graft.format.DayPartition]]): every
    * output partition covers exactly one (day, bucket) cell, so no
    * written file ever straddles a day — the invariant that keeps
    * date-range pruning exact. Costs one column-pruned min/max pass
    * over the frame (cheap for the small new-row batches most writers
    * produce). None when the partition source is entirely null in this
    * frame (callers fall back to their plain layout; such rows carry no
    * day to isolate). The sub-file hash is salted — `pmod(xxhash64(id),
    * fpb)` is a deterministic function of `pbucket = pmod(xxhash64(id),
    * B)` whenever the moduli share factors. */
  def dayBins(aligned: org.apache.spark.sql.DataFrame,
      f: graft.model.FieldDef, buckets: Int,
      filesPerBucket: Int): Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    val day = graft.format.DayPartition.dayExpr(f)
    val mm = aligned.agg(min(day), max(day)).head()
    if (mm.isNullAt(0)) None
    else {
      val (d0, d1) = (mm.getLong(0), mm.getLong(1))
      val span = d1 - d0 + 1
      require(span * buckets * filesPerBucket <= 32768,
        s"write spans $span days x $buckets buckets x $filesPerBucket files " +
          "> 32768 output cells — split the backfill into smaller batches")
      val fpb = filesPerBucket.toLong
      val sub = pmod(xxhash64(col("image_id"), lit("sub")), lit(fpb))
      val dayIdx = day - lit(d0)
      // null days get their own trailing fpb-cell block (rare rows)
      val bin = when(day.isNull, lit(span * buckets * fpb) + sub)
        .otherwise((dayIdx * lit(buckets.toLong) + col("pbucket")) * lit(fpb) + sub)
      val nBins = (span * buckets * fpb + fpb).toInt
      Some(ExactShuffle.repartitionByBin(aligned, nBins, bin))
    }
  }

  /** New-row write layout shared by every writer that creates data
    * files OUTSIDE the append path (MERGE inserts and MOR post-images,
    * UPDATE MOR post-images, upsert batches): day-binned when the
    * table carries the `partition.days` spec — so merges and updates
    * never erode the date layout — else the historical hash
    * repartition by bucket. */
  def layoutNewRows(aligned: org.apache.spark.sql.DataFrame,
      snap: graft.model.Snapshot): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.format.DayPartition.fieldOf(snap)
      .flatMap(f => dayBins(aligned, f, snap.buckets, 1))
      .map(_.sortWithinPartitions(col("image_id")))
      .getOrElse(aligned.repartition(col("pbucket")))
  }

  /** [[layoutNewRows]]' file for `aligned`, written into `dir` on the
    * driver ([[graft.format.DriverIO]]) from `rows`: the frame's rows, as
    * `UnsafeRow`s, per partition of its input, in order. Adaptive
    * execution coalesces the bucket repartition of a batch whose shuffle
    * bytes stay under its minimum partition size into one task, which
    * reads each input partition's rows shuffle partition by shuffle
    * partition (`pmod(murmur3(pbucket), shuffle partitions)`), in the
    * order that partition wrote them; that task writes part file 0.
    * Returns false, having written nothing, on a day-partitioned table,
    * with adaptive execution or its coalescing off, under a
    * `maxRecordsPerFile` limit, or for rows whose bytes pass half that
    * minimum size (a margin for the shuffle's codec framing and its
    * rounded block sizes), which keep the job path. */
  def layoutNewRowsOnDriver(aligned: org.apache.spark.sql.DataFrame,
      rows: Seq[Seq[org.apache.spark.sql.catalyst.InternalRow]],
      snap: graft.model.Snapshot, dir: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeRow}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.internal.SQLConf
    val conf = aligned.sparkSession.sessionState.conf
    // the smaller of the configured minimum and the fifth of the advisory
    // size Spark's coalescing takes in its test mode
    val minPartition = math.min(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE),
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) / 5)
    val bytes = rows.iterator.flatten.map(_.asInstanceOf[UnsafeRow].getSizeInBytes + 4L).sum
    if (graft.format.DayPartition.fieldOf(snap).isDefined || !conf.adaptiveExecutionEnabled ||
        !conf.coalesceShufflePartitionsEnabled || conf.maxRecordsPerFile > 0 ||
        bytes == 0 || 2 * bytes > minPartition) return false
    val output = aligned.queryExecution.optimizedPlan.output
    val b = output.indexWhere(_.name == "pbucket")
    val shufflePartition = HashPartitioning(
      Seq(BoundReference(b, output(b).dataType, output(b).nullable)),
      conf.numShufflePartitions).partitionIdExpression
    val ordered = rows.iterator.flatMap(_.sortBy(shufflePartition.eval(_).asInstanceOf[Int]))
    graft.format.DriverIO.write(aligned.sparkSession,
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(output), dir,
      Seq(0 -> ordered))
    true
  }

  /** Writes `aligned` laid out by [[layoutNewRows]] into a fresh attempt
    * directory of the job's `rows` group and harvests the files. */
  def writeNewRows(table: graft.format.QTable, jobId: String,
      aligned: org.apache.spark.sql.DataFrame,
      snap: graft.model.Snapshot): Seq[DataFileEntry] = {
    val dir = table.newAttemptDir(jobId, "rows")
    graft.format.TableWrite.parquet(layoutNewRows(aligned, snap), dir)
    table.harvest(dir)
  }

  /** Project a writer's frame onto the snapshot's PHYSICAL schema (the
    * write-side half of metadata-only schema evolution). Columns may
    * arrive under logical names (user append/merge sources) or physical
    * names (rewrite scans via `QTable.scan`); columns the input has under
    * neither (e.g. a MERGE source predating an addColumn) become typed
    * nulls. Every data file is written with physical (creation-time)
    * names — the invariant that makes renameColumn a pure metadata
    * operation. */
  def alignToPhysical(df: org.apache.spark.sql.DataFrame,
      snap: graft.model.Snapshot): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    // schema enforcement: an input column matching NO schema field (a
    // typo, or a stale pre-rename name) must fail, not be silently
    // dropped while its field gets null-filled. `_row_id` is the hidden
    // lineage column (when the table tracks it): carried through when a
    // rewrite's read materialized it, typed-null otherwise — a null id
    // resolves to the file's fresh base + position on read, which is
    // exactly how MERGE inserts get their ids.
    val rowIdCol = graft.format.QTable.RowIdCol
    val known = snap.schemaFields.flatMap(f => Seq(f.name, f.phys)).toSet ++
      (if (snap.rowLineage) Set(rowIdCol) else Set.empty[String])
    val unknown = df.columns.filterNot(known.contains)
    require(unknown.isEmpty,
      s"writer frame has columns not in the table schema: " +
        s"${unknown.mkString(", ")}")
    val lineageCols =
      if (!snap.rowLineage) Nil
      else if (have.contains(rowIdCol)) Seq(col(rowIdCol))
      else Seq(lit(null).cast("long").as(rowIdCol))
    val cols = lineageCols ++ snap.schemaFields.toIndexedSeq.map { f =>
      // cast to the DECLARED type: after a widen-column commit an input
      // may still carry the narrow type (a user append, or a scan of
      // pre-widening files) — files written from here on must store the
      // widened type. Matching types make the cast a no-op; ANSI mode
      // (Spark 4 default) fails fast on genuinely incompatible inputs.
      if (have.contains(f.phys)) col(f.phys).cast(f.sparkType)
      else if (have.contains(f.name)) col(f.name).cast(f.sparkType).as(f.phys)
      // typed-null fill is ONLY for nullable (schema-evolved) fields; a
      // source missing a required base column is malformed and must fail
      // fast, not silently commit null keys/stats
      else if (f.nullable) lit(null).cast(f.sparkType).as(f.phys)
      else throw new IllegalArgumentException(
        s"writer frame is missing required column '${f.name}' " +
          s"(have: ${df.columns.mkString(", ")})")
    }
    df.select(cols: _*)
  }

  /** Pin Parquet scan splits to `bytes` for the duration of `body` (and
    * restore the session confs after): every scan task then covers
    * ~`bytes` of input regardless of core count, which makes a plain
    * scan-and-write produce target-sized files with task parallelism
    * proportional to data size. openCost is floored low because inputs
    * are many small files, and minPartitionNum is pinned to 1 so
    * `totalBytes/defaultParallelism` can never shrink splits below the
    * target on a big cluster (which would re-fragment the output). */
  def withScanSplitBytes[T](spark: SparkSession, bytes: Long)(body: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set("spark.sql.files.maxPartitionBytes", bytes.toString)
    conf.set("spark.sql.files.openCostInBytes", (64L << 10).toString)
    conf.set("spark.sql.files.minPartitionNum", "1")
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `files` per day on a day-partitioned table, each day with its
    * group-name prefix (`d<day>-`, or `dx-` for files with no single
    * day) in day order; else one compartment with prefix "". */
  def dayCompartments(snap: graft.model.Snapshot,
      files: Seq[DataFileEntry]): Seq[(String, Seq[DataFileEntry])] =
    graft.format.DayPartition.fieldOf(snap) match {
      case None => Seq("" -> files)
      case Some(f) =>
        files.groupBy(e => graft.format.DayPartition.entryDay(f, e)).toSeq
          .sortBy(_._1.getOrElse(Long.MinValue))
          .map { case (d, fs) => d.map(x => s"d$x-").getOrElse("dx-") -> fs }
    }

  /** Coalesce per-bucket file groups into rewrite groups that each carry
    * at least ~4x the target file size (so one group = one Spark job
    * with several tasks, and job-launch overhead amortizes). Buckets are
    * merged ADJACENT-only, keeping each group a contiguous pbucket range
    * so group outputs still cover disjoint, prunable bucket ranges.
    *
    * This is the knob that keeps the planner scale-proportional: at
    * 100 TB every bucket is huge and groups are 1:1 with buckets; on a
    * small table many buckets fold into one job.
    */
  def coalesceGroups(perBucket: Seq[(Int, Seq[DataFileEntry])],
      targetFileBytes: Long,
      minGroupBytes: Long = -1L): Seq[(String, Seq[DataFileEntry])] = {
    if (perBucket.isEmpty) return Nil
    val minBytes = if (minGroupBytes > 0) minGroupBytes else targetFileBytes * 4
    val out = scala.collection.mutable.ArrayBuffer[(String, Seq[DataFileEntry])]()
    var curBuckets = scala.collection.mutable.ArrayBuffer[Int]()
    var curFiles = scala.collection.mutable.ArrayBuffer[DataFileEntry]()
    var curBytes = 0L

    def flush(): Unit = if (curFiles.nonEmpty) {
      val name =
        if (curBuckets.size == 1) s"b${curBuckets.head}"
        else s"b${curBuckets.head}-${curBuckets.last}"
      out += name -> curFiles.sortBy(_.path).toSeq
      curBuckets = scala.collection.mutable.ArrayBuffer[Int]()
      curFiles = scala.collection.mutable.ArrayBuffer[DataFileEntry]()
      curBytes = 0L
    }

    perBucket.foreach { case (b, fs) =>
      curBuckets += b
      curFiles ++= fs
      curBytes += fs.map(_.byteCount).sum
      if (curBytes >= minBytes) flush()
    }
    flush()
    out.toSeq
  }
}
