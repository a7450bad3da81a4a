package graft.spark

import graft.format.{QTable, Tags}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** The idiomatic Spark read surface for qtables:
  *
  * {{{
  *   spark.read.format("qtable").load("/path/to/table")               // head
  *   spark.read.format("qtable").option("version", 7).load(path)      // time travel
  *   spark.read.format("qtable").option("tag", "release-1").load(path)
  *   // and in SQL:
  *   CREATE TEMPORARY VIEW imgs USING qtable OPTIONS (path '...', tag 'release-1')
  * }}}
  *
  * Resolves to the same manifest-backed stats-skipping relation as
  * [[QTable.readIndexed]] — predicate pushdown, bloom-tested id
  * equality, column pruning, and whole-stage codegen all apply, and
  * listing never touches the filesystem. The snapshot is resolved ONCE
  * at relation creation, so a registered view is snapshot-isolated like
  * any other reader.
  *
  * A snapshot the raw file relation cannot serve — RENAMED columns
  * (need the physical->logical aliasing projection) or live
  * merge-on-read deletes (need the anti-joins) — falls back to
  * [[QTableDecoratedScan]]: the full `QTable.read` DataFrame wrapped as
  * a `PrunedFilteredScan`, so reads always work; the fast-path relation
  * returns once maintenance folds the deletes.
  */
class QTableSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  /** Streaming source: `spark.readStream.format("qtable").load(path)`
    * follows the table's commit log — each micro-batch is the rows
    * appended in a version range, resolved at manifest level
    * ([[graft.streaming.QTableStreamSource]]). Row-preserving
    * maintenance emits nothing; row-changing commits fail unless
    * `option("skip-change-commits", true)`. */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val path = QTableSource.resolvePath(parameters, ctx.sparkSession)
    require(schema.isEmpty, "qtable streams its recorded table schema; " +
      "a user-specified schema is not supported")
    val t0 = QTable(path, ctx.sparkSession)
    val t = parameters.get("branch").map(t0.onBranch).getOrElse(t0)
    val base = graft.streaming.QTableStreamSource.schemaFor(t)
    // `with-commit-ts`: append the event-time column (each row stamped
    // with its append commit's wall-clock) for watermarked windowed
    // aggregation over the feed
    val full =
      if (!parameters.getOrElse("with-commit-ts", "false").toBoolean) base
      else base.add(org.apache.spark.sql.types.StructField("_commit_ts",
        org.apache.spark.sql.types.TimestampType, nullable = true))
    (shortName(), full)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = QTableSource.resolvePath(parameters, ctx.sparkSession)
    new graft.streaming.QTableStreamSource(ctx, path,
      skipChangeCommits =
        parameters.getOrElse("skip-change-commits", "false").toBoolean,
      branch = parameters.get("branch"),
      withCommitTs =
        parameters.getOrElse("with-commit-ts", "false").toBoolean)
  }

  /** Streaming sink: `df.writeStream.format("qtable").option(
    * "checkpointLocation", ...).start(path)` — each micro-batch lands
    * through [[graft.streaming.StreamingAppend]]'s idempotent sink, so
    * the exactly-once batch-id dedup, snapshot isolation, and
    * maintenance-under-live-stream guarantees all apply without
    * foreachBatch wiring. `query-name` option keys the dedup (defaults
    * to the path's last segment); Append output mode only (a qtable is
    * an append-log of snapshots; aggregations complete their state
    * before a merge job upserts them). */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"qtable streaming sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "qtable manages its own bucket partitioning; partitionBy is not supported")
    val path = QTableSource.resolvePath(parameters, ctx.sparkSession)
    val queryName = parameters.getOrElse("query-name",
      path.split('/').filter(_.nonEmpty).lastOption.getOrElse("qtable-sink"))
    val fpb = parameters.getOrElse("files-per-bucket", "1").toInt
    val ingest = new graft.streaming.StreamingAppend(
      QTable(path, ctx.sparkSession), queryName, fpb)
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit =
        // the V1 addBatch frame carries a streaming plan; rebatch it so
        // the append's ordinary transformations can run (foreachBatch —
        // the StreamingAppend.start path — receives batch frames already)
        ingest.sink(org.apache.spark.sql.GraftBridge.rebatch(data), batchId)
      override def toString: String = s"QTableSink($path)"
    }
  }

  override def shortName(): String = "qtable"

  /** Write side: `df.write.format("qtable").mode("append").save(path)`
    * is an [[graft.jobs.AppendJob]] commit — snapshot-isolated, O(append)
    * metadata, optimistic-concurrency-retried. Only Append is supported:
    * Overwrite would be a whole-table replace (use the maintenance jobs
    * or rollback), and ErrorIfExists/Ignore predicate on table existence,
    * which `QTable.create` owns. The `files-per-bucket` option sizes the
    * append's range partitioning (default 1). */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    require(mode == SaveMode.Append,
      s"qtable sink supports SaveMode.Append only, got $mode " +
        "(create tables with QTable.create / the synth CLI)")
    val path = QTableSource.resolvePath(parameters, ctx.sparkSession)
    val t = QTable(path, ctx.sparkSession)
    val fpb = parameters.getOrElse("files-per-bucket", "1").toInt
    graft.jobs.CommitRetry.withCommitRetry()(
      graft.jobs.AppendJob.append(t, data, filesPerBucket = fpb))
    createRelation(ctx, parameters)
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = QTableSource.resolvePath(parameters, ctx.sparkSession)
    val t = QTable(path, ctx.sparkSession)
    require(Seq("version", "tag", "branch", "as-of-ts").count(parameters.contains) <= 1,
      "pass at most one of version, tag, branch, as-of-ts")
    val snap = parameters.get("tag") match {
      case Some(tag) => t.snapshotAt(Tags.ref(t, tag).version)
      case None => parameters.get("branch") match {
        case Some(b) => t.snapshotAt(graft.format.Branches.head(t, b))
        case None => parameters.get("version") match {
          case Some(v) => t.snapshotAt(v.toLong)
          case None => parameters.get("as-of-ts") match {
            // timestamp time travel: epoch millis or ISO-8601 instant
            case Some(ts) => t.snapshotAsOf(QTableSource.parseTs(ts))
            case None => t.currentSnapshot
          }
        }
      }
    }
    // metadata tables (Iceberg's table$files / table$manifests /
    // table$snapshots): OPTIONS (meta 'files') serves the snapshot's
    // manifest entries as a queryable relation — layout inspection in
    // SQL with zero data-file opens, metadata-sized by construction
    parameters.get("meta") match {
      case Some(which) =>
        val df = which match {
          case "files" => t.filesDF(snap)
          case "manifests" => t.manifestsDF(snap)
          case "partitions" => t.partitionsDF(snap)
          case "history" => t.historyDF
          // row-level CDC as a SQL view: OPTIONS (meta 'changes',
          // from '2' [, to '5']) — insert/delete/update pre/post images
          // tagged with the committing version (the `changes` CLI
          // surface, queryable; `to` defaults to the addressed
          // snapshot, so version/tag/branch addressing composes)
          case "changes" =>
            val from = parameters.getOrElse("from",
              throw new IllegalArgumentException("meta 'changes' requires " +
                "a from version: OPTIONS (meta 'changes', from '2')"))
            t.readChanges(from.toLong,
              parameters.get("to").map(_.toLong).getOrElse(snap.version))
          case other => throw new IllegalArgumentException(
            s"unknown meta table '$other' " +
              "(files | manifests | partitions | history | changes)")
        }
        return new BaseRelation with TableScan {
          override def sqlContext: SQLContext = ctx
          override def schema: org.apache.spark.sql.types.StructType = df.schema
          override def buildScan(): org.apache.spark.rdd.RDD[Row] = df.rdd
          override def toString: String = s"QTableMeta($path, $which)"
        }
      case None => ()
    }
    // decorated-read FALLBACK: a snapshot whose read is not its raw
    // HadoopFsRelation (renamed columns need the physical->logical
    // aliasing projection, live deletes the anti-joins, pre-evolution
    // files their initial defaults) — instead of refusing, wrap the full
    // [[QTable.read]] DataFrame as a PrunedFilteredScan: column pruning
    // and best-effort filter pushdown flow INTO the inner plan (whose
    // stats-skipping FileIndex still prunes files), and Spark
    // re-applies every filter above a V1 source, so unconverted
    // predicates stay correct. Head-of-main fallbacks stay DML-capable
    // (the rules match on dmlRoot and the jobs reload at head).
    val headOfMain = Seq("version", "tag", "branch", "as-of-ts").forall(!parameters.contains(_))
    t.plainRelation(snap) match {
      case Some((rel, index)) =>
        // SQL INSERT INTO: only a head-of-main relation is appendable (a
        // time-traveled or branch view must never take writes aimed at
        // main's head). QTableExtensions reroutes inserts on this marker.
        if (headOfMain) index.insertRoot = Some(path)
        rel
      case None =>
        new QTableDecoratedScan(ctx, t.read(snap), s"QTableDecorated($path, v${snap.version})",
          dmlRoot = Some(path).filter(_ => headOfMain))
    }
  }
}

object QTableSource {
  /** Timestamp option parsing: epoch millis, or an ISO-8601 instant
    * ("2026-08-19T10:00:00Z") for humans. */
  private[graft] def parseTs(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else java.time.Instant.parse(s).toEpochMilli

  /** Table addressing for every relation/source/sink entry point:
    * `path '<dir>'` wins; `name '<n>'` resolves through the persistent
    * catalog ([[graft.format.Catalog]], root from the
    * `spark.graft.catalog` conf or `GRAFT_CATALOG`) — so
    * `CREATE TEMPORARY VIEW v USING qtable OPTIONS (name 'imgs')`
    * works in any session pointed at the catalog. */
  private[graft] def resolvePath(parameters: Map[String, String],
      spark: org.apache.spark.sql.SparkSession): String =
    parameters.get("path").orElse(
      parameters.get("name").map { n =>
        val root = graft.format.Catalog.rootFor(spark).getOrElse(
          throw new IllegalArgumentException(
            s"OPTIONS (name '$n') needs a catalog: set the " +
              s"${graft.format.Catalog.ConfKey} conf or ${graft.format.Catalog.EnvKey}"))
        graft.format.Catalog.resolve(root, n, spark).getOrElse(
          throw new IllegalArgumentException(
            s"no table named '$n' in catalog $root"))
      }).getOrElse(throw new IllegalArgumentException(
      "qtable needs OPTIONS (path '<table dir>') or (name '<catalog name>')"))
}

/** V1 relation over a DECORATED read (renames aliased, deletes
  * anti-joined): requested columns project into the inner DataFrame and
  * convertible filters apply to it — both reach the inner plan's
  * stats-skipping scan — while Spark's V1 contract re-evaluates every
  * filter above the source, so unconverted predicates cost nothing in
  * correctness. */
private[spark] class QTableDecoratedScan(ctx: SQLContext, df: DataFrame,
    label: String,
    /** Table root DML over this view may target (head-of-main only) —
      * the [[QTableFileIndex.insertRoot]] analogue, so SQL DML keeps
      * working when a deletes/renames snapshot fell back to this
      * relation (the jobs reload the table at head regardless). */
    val dmlRoot: Option[String] = None) extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.sources._

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = df.schema
  override def toString: String = label

  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(df)(_.where(_))
    (if (requiredColumns.isEmpty) filtered
     else filtered.select(requiredColumns.map(col).toSeq: _*)).rdd
  }
}
