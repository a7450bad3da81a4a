package graft

import graft.format.QTable
import graft.jobs._
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.spark.sql.SparkSession

/** spark-submit entrypoint: one subcommand per maintenance job (mirrors
  * the reference's flow-per-pipeline deployment layout, `prefect.yaml`
  * deployments — each job independently schedulable).
  *
  * The maintenance verbs `CALL qtable.*` shares — compact, cluster,
  * expire, rewrite-manifests, remove-orphans, analyze, maintain, the
  * constraint, property and tag verbs, clone, rollback and the catalog
  * verbs — run through [[Procedures]], which lists their arguments:
  *   spark-submit --class graft.Main <jar> compact --table T --target-mb 4 --scope 0,1
  * The CLI-only verbs read their arguments through the same helpers.
  * Every verb prints one JSON line per result, `job` first.
  *
  * Usage:
  *   spark-submit --class graft.Main <jar> synth   --table T --rows N [--buckets B] [--files-per-bucket F] [--seed S]
  *   spark-submit --class graft.Main <jar> merge   --table T (--source DIR | --rows N [--inserts K]) [--set c1,c2] [--delete-col C] [--mor] [--sync] [--job-id J]   (--sync = WHEN NOT MATCHED BY SOURCE THEN DELETE)
  *   spark-submit --class graft.Main <jar> upsert  --table T (--source DIR | --rows N [--inserts K]) [--delete-col C] [--job-id J]   (scan-free whole-record upsert via equality deletes)
  *   spark-submit --class graft.Main <jar> delete  --table T --where 'SQL predicate'   (merge-on-read position deletes)
  *   spark-submit --class graft.Main <jar> update  --table T --set 'c1 = expr[; c2 = expr]' [--where 'SQL predicate'] [--mor]   (condition-driven UPDATE: CoW matched files, or MOR with --mor)
  *   spark-submit --class graft.Main <jar> stream  --table T (--source DIR | --rows N) [--follow] [--checkpoint D]
  *   spark-submit --class graft.Main <jar> stream  --table T --upsert [--eq] (--source DIR | --rows N) [--set c1,c2] [--delete-col C] [--seq-col C]   (streaming upsert per micro-batch: MOR MERGE, or scan-free equality deletes with --eq)
  *   spark-submit --class graft.Main <jar> rebucket --table T --buckets B [--target-mb M]
  *   spark-submit --class graft.Main <jar> add-column --table T --name N [--type string] [--default V]   (--default: Iceberg-v3-style initial default for pre-existing rows)
  *   spark-submit --class graft.Main <jar> rename-column --table T --from OLD --to NEW
  *   spark-submit --class graft.Main <jar> drop-column --table T --name N
  *   spark-submit --class graft.Main <jar> widen-column --table T --name N --type long
  *   spark-submit --class graft.Main <jar> enable-row-lineage --table T   (stable per-row _row_id; rewrites preserve ids by materializing them)
  *   spark-submit --class graft.Main <jar> rewrite-deletes --table T   (consolidate position-delete files)
  *   spark-submit --class graft.Main <jar> verify  --table T [--against V | --against-tag N | --against-table DIR] [--sample F] [--staged]   (--against-table: cross-table equivalence, the shallow-clone audit)
  *   spark-submit --class graft.Main <jar> lookup  --table T --id IMG_ID
  *   spark-submit --class graft.Main <jar> history --table T
  *   spark-submit --class graft.Main <jar> files   --table T [--version V | --tag N | --as-of-ts T] [--branch B] [--out DIR]   (metadata table: one row per live data file)
  *   spark-submit --class graft.Main <jar> manifests --table T [--version V | --tag N] [--branch B] [--out DIR]
  *   spark-submit --class graft.Main <jar> partitions --table T [--version V | --tag N] [--branch B] [--out DIR]   (per-bucket totals + phash span — the skew report)
  *   spark-submit --class graft.Main <jar> incremental --table T --from V [--to V]
  *   spark-submit --class graft.Main <jar> changes --table T (--from V | --from-tag N) [--to V | --to-tag N] [--out DIR]
  *   spark-submit --class graft.Main <jar> agg     --table T [--cols c1,c2] [--ndv c1,c2] [--version V | --tag N | --as-of-ts T]   (metadata-only count/min/max; --ndv = approx distinct from manifest HLL sketches; T = epoch ms or ISO-8601 instant)
  *   spark-submit --class graft.Main <jar> analyze-ndv --table T --cols c1,c2 [--lgk K]   (ANALYZE: attach per-file NDV sketches, reads only unsketched files)
  *   spark-submit --class graft.Main <jar> <compact|cluster|merge|rebucket|rewrite-manifests|...> --staged   (write-audit-publish)
  *   spark-submit --class graft.Main <jar> publish --table T
  *   spark-submit --class graft.Main <jar> abort-staged --table T
  *   spark-submit --class graft.Main <jar> constraints --table T
  *   spark-submit --class graft.Main <jar> properties --table T
  *   spark-submit --class graft.Main <jar> tags    --table T
  *   spark-submit --class graft.Main <jar> branch  --table T --name N [--at V]   (writable ref; pass --branch N to any job to commit against it)
  *   spark-submit --class graft.Main <jar> branches --table T
  *   spark-submit --class graft.Main <jar> drop-branch --table T --name N
  *   spark-submit --class graft.Main <jar> fast-forward --table T --branch N   (publish the branch to main; main must be an ancestor)
  *   spark-submit --class graft.Main <jar> cherry-pick --table T --version V    (apply one append commit's files to main without publishing its branch)
  *   spark-submit --class graft.Main <jar> describe --table T
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)
    val builder = SparkSession.builder()
      .appName(s"graft-$cmd")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // fat-binary-row table tuning (see Bench.scala / README):
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
    // spark-submit injects spark.master; fall back to local[*] when the
    // CLI is launched directly (e.g. sbt runMain)
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --catalog DIR on ANY command scopes name resolution to that
    // catalog for the run (same key the session conf / env set)
    opts.get("catalog").foreach(spark.conf.set(graft.format.Catalog.ConfKey, _))
    // --table (a path or a catalog name), --branch, --staged, --job-id,
    // --concurrency, --scope and the flag > table property > default
    // precedence read through the registry's helpers
    val a = new Procedures.Args(cmd, opts, spark)

    try cmd match {
      case shared if Procedures.verbs.contains(shared) =>
        report(cmd, Procedures.run(cmd, opts, spark))

      case "synth" =>
        val rows = a.req("rows").toLong
        val buckets = opts.getOrElse("buckets", "8").toInt
        val fpb = opts.getOrElse("files-per-bucket", "8").toInt
        val seed = opts.getOrElse("seed", "42").toLong
        val root = a.req("table")
        val t0 = QTable(root, spark)
        val tc = if (t0.currentVersion >= 0) t0 else QTable.create(root, spark, buckets)
        // --branch: append against the named ref (synth resolves its own
        // handle for table creation, so the shared accessor doesn't apply)
        val t = opts.get("branch").map(tc.onBranch).getOrElse(tc)
        val snap = CommitRetry.withCommitRetry()(
          AppendJob.append(t, DataGen.generate(spark, rows, seed).toDF(), fpb))
        report("synth", snap.summary ++ Map("version" -> snap.version.toString))

      case "merge" =>
        // source: --source <parquet dir> (real corrections), else the
        // synthetic fixture; --set col1,col2 picks the UPDATE SET list,
        // --delete-col names a boolean source column for MATCHED deletes
        val corr = opts.get("source") match {
          case Some(p) => spark.read.parquet(p)
          case None => DataGen.correctionsDF(spark, a.req("rows").toLong,
            opts.getOrElse("seed", "42").toLong,
            opts.getOrElse("inserts", "5").toInt)
        }
        val setCols = opts.get("set").map(_.split(",").toSeq.map(_.trim))
          .getOrElse(Seq("caption"))
        val snap = CommitRetry.withCommitRetry()(
          new MergeJob(a.table, a.jobId, concurrency = a.concurrency,
            updateCols = setCols, deleteCol = opts.get("delete-col"),
            mergeOnRead = a.flag("mor") || RowLevelWrite.mergeOnRead(a.tableProp, "merge"),
            notMatchedBySourceDelete = a.flag("sync")).run(corr))
        report("merge", snap.summary ++ Map("version" -> snap.version.toString))

      case "upsert" =>
        // scan-free whole-record upsert (equality deletes): the batch's
        // keys land as ONE delete file killing every older row version,
        // its rows as appended files — commit cost O(batch), zero table
        // reads; compact folds the key-delete debt
        val src = opts.get("source") match {
          case Some(p) => spark.read.parquet(p)
          case None => DataGen.correctionsDF(spark, a.req("rows").toLong,
            opts.getOrElse("seed", "42").toLong,
            opts.getOrElse("inserts", "5").toInt)
        }
        val snap = CommitRetry.withCommitRetry()(
          new UpsertJob(a.table, a.jobId, deleteCol = opts.get("delete-col")).run(src))
        report("upsert", snap.summary ++ Map("version" -> snap.version.toString))

      case "delete" =>
        // merge-on-read row deletes: --where is a SQL predicate over the
        // table's logical columns; commit cost is O(matched rows) — the
        // data files holding them are untouched until a compact folds
        val cond = org.apache.spark.sql.functions.expr(a.req("where"))
        val snap = CommitRetry.withCommitRetry()(
          new DeleteJob(a.table, a.jobId).run(cond))
        report("delete", snap.summary ++ Map("version" -> snap.version.toString))

      case "update" =>
        // condition-driven UPDATE (no source): --set "c1 = expr[; c2 =
        // expr]" assignments over logical columns, --where gates rows;
        // CoW by default (only matched files rewrite), --mor position-
        // deletes old versions and appends post-images (O(changed rows))
        val sets = a.req("set").split(";").toSeq.map { asg =>
          val m = "^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=(.+)$".r
            .findFirstMatchIn(asg).getOrElse(throw new IllegalArgumentException(
              s"malformed assignment '$asg' (want: col = expr)"))
          m.group(1) -> org.apache.spark.sql.functions.expr(m.group(2))
        }
        val cond = opts.get("where")
          .map(org.apache.spark.sql.functions.expr)
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        val snap = CommitRetry.withCommitRetry()(
          new UpdateJob(a.table, a.jobId, concurrency = a.concurrency,
            mergeOnRead = a.flag("mor") || RowLevelWrite.mergeOnRead(a.tableProp, "update"))
            .run(sets, cond))
        report("update", snap.summary ++ Map("version" -> snap.version.toString))

      case "stream" =>
        // Structured Streaming ingest: tail --source DIR of parquet row
        // files into the table (AvailableNow = drain-and-stop backfill;
        // --follow tails until killed). Without --source, synthesize
        // --rows into a temp dir first so the surface is self-driving.
        val root = a.req("table")
        val t0 = QTable(root, spark)
        val tc = if (t0.currentVersion >= 0) t0
          else QTable.create(root, spark, opts.getOrElse("buckets", "8").toInt)
        val t = opts.get("branch").map(tc.onBranch).getOrElse(tc)
        val srcDir = opts.get("source").getOrElse {
          val d = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
          // append mode streams fresh rows; upsert mode streams a
          // corrections feed (updates to existing ids + a few inserts)
          val rows =
            if (a.flag("upsert"))
              DataGen.correctionsDF(spark, a.req("rows").toLong,
                opts.getOrElse("seed", "42").toLong,
                opts.getOrElse("inserts", "5").toInt)
            else DataGen.generate(spark, a.req("rows").toLong,
              opts.getOrElse("seed", "42").toLong).toDF()
          rows.write.mode("overwrite").parquet(d)
          d
        }
        val src = spark.readStream
          .schema(graft.model.ImageRow.schema)
          .option("maxFilesPerTrigger",
            opts.getOrElse("max-files-per-trigger", "4"))
          .parquet(srcDir)
        val streamName = opts.getOrElse("name", "cli-stream")
        def mkSink: (org.apache.spark.sql.DataFrame, Long) => Unit =
          if (a.flag("upsert"))
            new graft.streaming.StreamingUpsert(t, streamName,
              updateCols = opts.get("set").map(_.split(",").toSeq.map(_.trim))
                .getOrElse(Nil),
              deleteCol = opts.get("delete-col"),
              seqCol = opts.get("seq-col"),
              equality = a.flag("eq")).sink
          else new graft.streaming.StreamingAppend(t, streamName,
            filesPerBucket = opts.getOrElse("files-per-bucket", "1").toInt).sink
        // resume-able checkpoint only makes sense for a REAL --source; a
        // synthesized one-shot source gets a fresh temp checkpoint
        val ckpt = opts.getOrElse("checkpoint",
          if (opts.contains("source")) s"$root/_stream_ckpt"
          else java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString)
        val trigger =
          if (a.flag("follow"))
            org.apache.spark.sql.streaming.Trigger.ProcessingTime(1000L)
          else org.apache.spark.sql.streaming.Trigger.AvailableNow()
        val q = src.writeStream
          .queryName(streamName)
          .option("checkpointLocation", ckpt)
          .trigger(trigger)
          .foreachBatch(mkSink)
          .start()
        q.awaitTermination()
        val cur = t.currentSnapshot
        report("stream", cur.summary ++ Map("version" -> cur.version.toString,
          "batches" -> q.recentProgress.length.toString))

      case "rebucket" =>
        val snap = CommitRetry.withCommitRetry()(new RebucketJob(a.table,
          a.req("buckets").toInt, a.targetBytes, a.jobId).run())
        report("rebucket", snap.summary ++ Map("version" -> snap.version.toString,
          "buckets" -> snap.buckets.toString))

      case "add-column" =>
        val snap = CommitRetry.withCommitRetry()(
          a.table.addColumn(a.req("name"), opts.getOrElse("type", "string"),
            opts.get("default")))
        report("add-column", snap.summary ++ Map("version" -> snap.version.toString,
          "schema" -> snap.schemaFields.map(f => s"${f.name}:${f.dtype}").mkString(",")))

      case "enable-row-lineage" =>
        // stable per-row ids (Iceberg v3 row lineage): one metadata
        // commit stamps every live file's id range; rewrites thereafter
        // materialize _row_id so ids survive re-sorts
        val snap = CommitRetry.withCommitRetry()(a.table.enableRowLineage())
        report("enable-row-lineage", snap.summary ++ Map(
          "version" -> snap.version.toString,
          "next-row-id" -> snap.nextRowId.toString))

      case "rename-column" =>
        val snap = CommitRetry.withCommitRetry()(
          a.table.renameColumn(a.req("from"), a.req("to")))
        report("rename-column", snap.summary ++ Map("version" -> snap.version.toString,
          "schema" -> snap.schemaFields.map(f => s"${f.name}:${f.dtype}").mkString(",")))

      case "drop-column" =>
        val snap = CommitRetry.withCommitRetry()(a.table.dropColumn(a.req("name")))
        report("drop-column", snap.summary ++ Map("version" -> snap.version.toString,
          "schema" -> snap.schemaFields.map(f => s"${f.name}:${f.dtype}").mkString(",")))

      case "widen-column" =>
        val snap = CommitRetry.withCommitRetry()(
          a.table.widenColumn(a.req("name"), a.req("type")))
        report("widen-column", snap.summary ++ Map("version" -> snap.version.toString,
          "schema" -> snap.schemaFields.map(f => s"${f.name}:${f.dtype}").mkString(",")))

      case "lookup" =>
        // point lookup THROUGH the stats-skipping FileIndex: the filter is
        // pushed into the scan and manifest ranges prune the files read
        val id = a.req("id")
        val (df, index) = a.table.readIndexed()
        val rows = df.where(org.apache.spark.sql.functions.col("image_id") === id)
          .selectExpr("image_id", "w", "h", "fmt", "phash", "pbucket",
            "length(bytes) AS n_bytes")
          .collect()
        val (sel, all) = index.lastSelection
        rows.foreach { r =>
          report("lookup", Map(
            "image_id" -> r.getString(0), "w" -> r.getInt(1).toString,
            "h" -> r.getInt(2).toString, "fmt" -> r.getString(3),
            "phash" -> r.getLong(4).toString, "pbucket" -> r.getInt(5).toString,
            "n_bytes" -> r.getInt(6).toString,
            "files-scanned" -> sel.toString, "files-total" -> all.toString))
        }
        if (rows.isEmpty) {
          report("lookup", Map("image_id" -> id, "found" -> "false",
            "files-scanned" -> sel.toString, "files-total" -> all.toString))
          sys.exit(1)
        }

      case "rewrite-deletes" =>
        // consolidate accumulated position-delete files (metadata-only
        // for the data; O(delete rows) total work)
        val snap = CommitRetry.withCommitRetry()(
          new RewriteDeletesJob(a.table, a.jobId).run())
        report("rewrite-deletes",
          snap.summary ++ Map("version" -> snap.version.toString))

      case "verify" =>
        // --branch: audit a branch head before fast-forwarding it (the
        // branch workflow's gate); --staged: audit the claimed-but-
        // unpublished snapshot (the WAP gate) — else the published head
        val t0 = QTable(a.tableRoot, spark)
        val t = opts.get("branch").map(t0.onBranch).getOrElse(t0)
        val cur =
          if (a.flag("staged"))
            t.snapshotAt(t.stagedVersion.getOrElse(
              throw new IllegalStateException("nothing staged to verify")))
          else t.currentSnapshot
        val against = opts.get("against").map(_.toLong)
          .orElse(opts.get("against-tag").map(n => graft.format.Tags.ref(t, n).version))
          .getOrElse(cur.parentVersion)
        require(against >= 0 || opts.contains("against-table"),
          "no parent snapshot to verify against; pass --against V")
        // --sample F: deterministic keyed sample of both sides — the
        // 100 TB mode (a full check shuffles the fat bytes column twice)
        val frac = opts.get("sample").map(_.toDouble).getOrElse(1.0)
        require(frac > 0 && frac <= 1.0, "--sample must be in (0, 1]")
        // --against-table DIR: CROSS-table equivalence (the shallow-clone
        // audit — "does this clone still read exactly like its source",
        // before or after localization), instead of an ancestor version
        val pre = opts.get("against-table") match {
          case Some(other) => QTable(other, spark).read()
          case None => t.read(t.snapshotAt(against))
        }
        val (ok, bad) = ScanEquivalence.check(pre, t.read(cur), sampleFraction = frac)
        report("verify", Map(
          "against-version" -> opts.get("against-table")
            .getOrElse(against.toString),
          "current-version" -> cur.version.toString,
          "sample-fraction" -> frac.toString,
          "scan-equivalent" -> ok.toString,
          "violations" -> bad.toString))
        if (!ok) sys.exit(1)

      case "files" | "manifests" | "partitions" =>
        // metadata tables (Iceberg table$files / table$manifests /
        // table$partitions): layout inspection with zero data-file opens
        // — summary line here, full rows to --out parquet for ad-hoc SQL
        val t = a.table
        val metaSnap = opts.get("version").map(v => t.snapshotAt(v.toLong))
          .orElse(opts.get("tag").map(n =>
            t.snapshotAt(graft.format.Tags.ref(t, n).version)))
          .orElse(opts.get("as-of-ts").map(ts =>
            t.snapshotAsOf(graft.spark.QTableSource.parseTs(ts))))
          .getOrElse(t.currentSnapshot)
        val df = cmd match {
          case "files" => t.filesDF(metaSnap)
          case "manifests" => t.manifestsDF(metaSnap)
          case _ => t.partitionsDF(metaSnap)
        }
        opts.get("out").foreach(dir => df.write.mode("overwrite").parquet(dir))
        val agg = df.selectExpr("count(*)", "sum(row_count)", "sum(byte_count)",
          "min(byte_count)", "max(byte_count)").head()
        report(cmd, Map(
          "version" -> metaSnap.version.toString,
          "entries" -> agg.getLong(0).toString,
          "total-rows" -> agg.getLong(1).toString,
          "total-bytes" -> agg.getLong(2).toString,
          "min-bytes" -> agg.getLong(3).toString,
          "max-bytes" -> agg.getLong(4).toString,
          "written" -> opts.getOrElse("out", "")))

      case "history" =>
        // snapshot-history metadata table (Iceberg `snapshots` analogue)
        a.table.historyDF.orderBy("version").collect().foreach { r =>
          report("history", Map(
            "version" -> r.getLong(0).toString,
            "parent-version" -> r.getLong(1).toString,
            "operation" -> r.getString(2),
            "committed-at-ms" -> r.getLong(3).toString,
            "n-files" -> r.getLong(4).toString,
            "total-rows" -> r.getLong(5).toString,
            "total-bytes" -> r.getLong(6).toString))
        }

      case "incremental" =>
        // CDC-style incremental append scan over (from, to]
        val t = a.table
        val from = a.req("from").toLong
        val to = opts.get("to").map(_.toLong).getOrElse(t.currentVersion)
        val added = t.addedEntries(from, to)
        report("incremental", Map(
          "from-version" -> from.toString, "to-version" -> to.toString,
          "added-files" -> added.size.toString,
          "added-rows" -> added.map(_.rowCount).sum.toString,
          "added-bytes" -> added.map(_.byteCount).sum.toString))

      case "publish" =>
        val snap = QTable(a.tableRoot, spark).publishStaged()
        report("publish", snap.summary ++ Map(
          "version" -> snap.version.toString,
          "operation" -> snap.operation))

      case "abort-staged" =>
        val aborted = QTable(a.tableRoot, spark).abortStaged()
        report("abort-staged", Map(
          "aborted-version" -> aborted.map(_.toString).getOrElse("none")))

      case "agg" =>
        // metadata-only COUNT/MIN/MAX from manifest stats; hybrid
        // scan-fallback keeps it exact (deletes, missing/truncated stats)
        val cols = opts.get("cols")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        // --version V / --tag N / --as-of-ts T: aggregate a pinned
        // snapshot (version, tag, or timestamp time travel)
        val t = a.table
        val aggSnap = opts.get("version").map(v => t.snapshotAt(v.toLong))
          .orElse(opts.get("tag").map(n =>
            t.snapshotAt(graft.format.Tags.ref(t, n).version)))
          .orElse(opts.get("as-of-ts").map(ts =>
            t.snapshotAsOf(graft.spark.QTableSource.parseTs(ts))))
          .getOrElse(t.currentSnapshot)
        // --ndv c1,c2: merged approx-distinct from the manifest sketches
        // (composes with --cols exact aggregates in one report)
        val ndvCols = opts.get("ndv")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        require(cols.nonEmpty || ndvCols.nonEmpty,
          "pass --cols (exact count/min/max) and/or --ndv (approx distinct)")
        val exact =
          if (cols.isEmpty) Map.empty[String, String]
          else {
            val r = StatsAggregate.run(t, aggSnap, cols)
            val row = r.df.collect().head
            Map(
              "files-total" -> r.filesTotal.toString,
              "files-from-stats" -> r.filesFromStats.toString,
              "files-scanned" -> r.filesScanned.toString) ++
              r.df.columns.zipWithIndex.map { case (c, i) =>
                c -> String.valueOf(row.get(i))
              }
          }
        val approx =
          if (ndvCols.isEmpty) Map.empty[String, String]
          else {
            val n = NdvEstimate.run(t, aggSnap, ndvCols)
            Map(
              "ndv-files-from-sketch" -> n.filesFromSketch.toString,
              "ndv-files-scanned" -> n.filesScanned.toString,
              "ndv-delete-debt-rows" -> n.deleteDebtRows.toString) ++
              n.estimates.map { case (c, v) => s"ndv-$c" -> v.toString }
          }
        report("agg", exact ++ approx)

      case "analyze-ndv" =>
        // on-demand ANALYZE: attach per-file HLL sketches for the named
        // columns; only not-yet-sketched files are read (O(new data)).
        // Column list can live on the table (set-property ndv.columns)
        val cols = opts.get("cols").orElse(a.tableProp("ndv.columns"))
          .getOrElse(throw new IllegalArgumentException(
            "pass --cols c1,c2 or set-property --key ndv.columns"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val t = a.table
        val preV = t.currentVersion
        val snap = CommitRetry.withCommitRetry()(new NdvSketchJob(t, cols,
          lgK = opts.getOrElse("lgk", "12").toInt).run())
        val noop = snap.version == preV
        report("analyze-ndv", Map(
          "version" -> snap.version.toString,
          "files-sketched" -> (if (noop) "0"
            else snap.summary.getOrElse("files-sketched", "0")),
          "ndv-cols" -> (if (noop) "(already analyzed)"
            else snap.summary.getOrElse("ndv-cols", ""))))

      case "properties" =>
        report("properties", a.table.currentSnapshot.props)

      case "constraints" =>
        report("constraints", Constraints.of(a.table.currentSnapshot).toMap)

      case "branch" =>
        // writable named ref (Iceberg branch): fork at --at (default:
        // main head); commit to it by passing --branch N to any job
        val name = a.req("name")
        val ref = graft.format.Branches.create(a.table, name,
          opts.get("at").map(_.toLong).getOrElse(-1L))
        report("branch", Map("name" -> ref.name,
          "version" -> ref.version.toString))

      case "branches" =>
        graft.format.Branches.list(a.table).foreach(r =>
          report("branches", Map("name" -> r.name,
            "version" -> r.version.toString)))

      case "drop-branch" =>
        val name = a.req("name")
        val existed = graft.format.Branches.delete(a.table, name)
        report("drop-branch", Map("name" -> name, "deleted" -> existed.toString))

      case "fast-forward" =>
        // publish a branch to main (main must be an ancestor of the
        // branch head — a metadata-only forward commit)
        val snap = CommitRetry.withCommitRetry()(
          new FastForwardJob(a.table).run(a.req("branch")))
        report("fast-forward", snap.summary ++ Map(
          "version" -> snap.version.toString))

      case "cherry-pick" =>
        // apply ONE append commit (typically a branch tip) onto main
        // without publishing the whole branch — metadata-only adoption
        // of its added files, re-stamped as new rows of this commit
        val snap = CommitRetry.withCommitRetry()(
          new CherryPickJob(a.table).run(a.req("version").toLong))
        report("cherry-pick", snap.summary ++ Map(
          "version" -> snap.version.toString))

      case "tags" =>
        graft.format.Tags.list(a.table).foreach(r =>
          report("tags", Map("name" -> r.name,
            "version" -> r.version.toString,
            "created-at-ms" -> r.createdAtMs.toString)))

      case "changes" =>
        // row-level CDC over (from, to] — follows merges and rollbacks,
        // unlike `incremental` (which refuses them by design); endpoints
        // address by version or by tag name ("what changed since the
        // last training release")
        val t = a.table
        val from = opts.get("from-tag")
          .map(n => graft.format.Tags.ref(t, n).version)
          .getOrElse(a.req("from").toLong)
        val to = opts.get("to-tag")
          .map(n => graft.format.Tags.ref(t, n).version)
          .orElse(opts.get("to").map(_.toLong))
          .getOrElse(t.currentVersion)
        val ch = t.readChanges(from, to)
        opts.get("out").foreach(dir =>
          ch.write.mode("overwrite").parquet(dir))
        val counts = ch.groupBy("_change_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        report("changes", Map(
          "from-version" -> from.toString, "to-version" -> to.toString,
          "inserts" -> counts.getOrElse("insert", 0L).toString,
          "deletes" -> counts.getOrElse("delete", 0L).toString,
          "updates" -> counts.getOrElse("update_postimage", 0L).toString,
          "written" -> opts.getOrElse("out", "")))

      case "describe" =>
        val t = a.table
        val s = t.currentSnapshot
        val es = t.entries(s)
        report("describe", s.summary ++ Map(
          "version" -> s.version.toString,
          "operation" -> s.operation,
          "manifests" -> s.manifests.size.toString,
          "files" -> es.size.toString,
          "avg-file-bytes" ->
            (if (es.isEmpty) "0" else (es.map(_.byteCount).sum / es.size).toString),
          "versions" -> t.listVersions.mkString(",")))

      case other =>
        System.err.println(s"unknown command: $other\n$usage"); sys.exit(2)
    } catch {
      case f: Procedures.GateFailed => report(cmd, f.summary); sys.exit(1)
    } finally spark.stop()
  }

  /** One JSON line: `job` first, then the keys in sorted order. */
  private[graft] def render(cmd: String, kv: Map[String, String]): String = {
    val out = new java.io.StringWriter()
    val g = graft.format.Json.mapper.getFactory.createGenerator(out)
    g.writeStartObject()
    g.writeStringField("job", cmd)
    kv.toSeq.sortBy(_._1).foreach { case (k, v) => g.writeStringField(k, v) }
    g.writeEndObject()
    g.close()
    out.toString
  }

  private def report(cmd: String, kv: Map[String, String]): Unit =
    println(render(cmd, kv))

  /** `--k v` pairs; a `--k` with no value reads "true". */
  private[graft] def parseOpts(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --option, got $a")
      val k = a.stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(k) = args(i + 1); i += 2
      } else { m(k) = "true"; i += 1 }
    }
    m.toMap
  }

  private val cliVerbs = Seq("synth", "merge", "upsert", "delete", "update",
    "rewrite-deletes", "stream", "rebucket", "add-column", "rename-column",
    "drop-column", "widen-column", "enable-row-lineage", "verify", "lookup",
    "history", "incremental", "changes", "analyze-ndv", "agg", "files",
    "manifests", "partitions", "properties", "constraints", "tags", "branch",
    "branches", "drop-branch", "fast-forward", "cherry-pick", "publish",
    "abort-staged", "describe")

  private val usage = "usage: graft.Main <" +
    (cliVerbs ++ Procedures.verbs).mkString("|") + "> --table PATH [options]"
}
