package graft.streaming

import graft.format.QTable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

/** qtable as a Structured Streaming SOURCE —
  * `spark.readStream.format("qtable").load(path)` — the read-side twin
  * of the streaming sink: a consumer follows the table's commit log,
  * each micro-batch carrying exactly the rows APPENDED in a version
  * range (Delta's streaming-from-a-table pattern re-derived over qtable
  * snapshots).
  *
  * Offsets are table VERSIONS ([[LongOffset]]): `getOffset` is the
  * current version — an O(1) hint-file read — and `getBatch(a, b)`
  * resolves the appended files of `(a, b]` at MANIFEST level (the
  * [[QTable.streamedEntries]] walk, the incremental-scan machinery):
  * O(appended metadata) per batch, never O(table), and deterministic
  * for a given range — which is what makes checkpoint replay
  * exactly-once.
  *
  * Commit-type semantics (the contract a table-following consumer
  * needs, mirroring Delta's source):
  *  - appends emit their added files' rows;
  *  - row-preserving rewrites (compact/cluster/rebucket/manifests/
  *    schema evolution) emit NOTHING — unlike Delta, which re-emits
  *    compacted files unless told otherwise, the operation tag in the
  *    snapshot lets this source skip them exactly;
  *  - row-CHANGING commits (merge/delete/rollback) FAIL the stream by
  *    default — silently dropping changes would be wrong both ways.
  *    `option("skip-change-commits", true)` skips them (their changes
  *    are not emitted); full change propagation is the changelog's job
  *    ([[QTable.readChanges]]).
  *
  * Schema is pinned at source creation (mid-stream column adds surface
  * after a restart; earlier files read nulls for later columns).
  * Retention interplay: the walk needs the consumed range's snapshots
  * retained — size `expire --keep/--older-than-hours` to cover the
  * slowest consumer's lag. */
class QTableStreamSource(ctx: SQLContext, path: String,
    skipChangeCommits: Boolean, branch: Option[String] = None,
    withCommitTs: Boolean = false) extends Source {

  /** `branch` follows the named ref's head instead of main — streaming
    * an audit branch (offsets are still global version numbers; the
    * batch walk is the ref's parent chain, so main's interleaved
    * commits never leak into it). */
  private val table = {
    val t = QTable(path, ctx.sparkSession)
    branch.map(t.onBranch).getOrElse(t)
  }

  /** Snapshot pinned at source construction: defines the streaming
    * schema AND which initial defaults the source substitutes — one
    * consistent view, immune to schema commits racing the stream. */
  private val pinnedSnap = table.currentSnapshot

  /** The data columns as stored; `_commit_ts` (when asked for) rides on
    * top as an EVENT-TIME column — each row stamped with its append
    * commit's wall-clock, which is what
    * `withWatermark("_commit_ts", ...)` + windowed aggregation need
    * from a table-following feed. */
  private val baseSchema: StructType = QTableStreamSource.schemaFor(pinnedSnap)

  override val schema: StructType =
    if (!withCommitTs) baseSchema
    else baseSchema.add(org.apache.spark.sql.types.StructField(
      "_commit_ts", org.apache.spark.sql.types.TimestampType, nullable = true))

  override def getOffset: Option[Offset] = {
    val v = table.currentVersion
    if (v < 0) None else Some(LongOffset(v))
  }

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset after restart
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index, timestamp_millis}
    val fromV = start.map(versionOf).getOrElse(-1L)
    val toV = versionOf(end)
    val entsTs = table.streamedEntriesWithTs(fromV, toV, skipChangeCommits)
    val ents = entsTs.map(_._1)
    if (ents.isEmpty)
      return org.apache.spark.sql.GraftBridge.asStreaming(
        ctx.sparkSession.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
    // pinned source schema: later-added columns stay invisible until a
    // restart; files predating an added column read nulls (name-mapped)
    // — unless the column carries an initial default, which substitutes
    // per file exactly as in batch reads
    val rows = table.decorate(table.scan(ents, baseSchema), None, pinnedSnap, ents)
    val df =
      if (!withCommitTs) rows
      else {
        // a commit time is not a file-entry constant: the name->commit-ts
        // lookup is a broadcast bounded by the batch's file count
        val tsDf = broadcast(ctx.sparkSession.createDataFrame(
          entsTs.map { case (f, ts) => (QTable.fileName(f.path), ts) })
          .toDF("__tsname", "__tsms"))
        rows.withColumn("__tsname", substring_index(col("_metadata.file_path"), "/", -1))
          .join(tsDf, Seq("__tsname"), "left")
          .withColumn("_commit_ts", timestamp_millis(col("__tsms")))
          .drop("__tsname", "__tsms")
      }
    org.apache.spark.sql.GraftBridge.asStreaming(
      df.select(schema.fieldNames.map(col).toSeq: _*))
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"QTableStreamSource($path)"
}

object QTableStreamSource {
  /** The streaming schema of a table at `path` — its current logical
    * schema, with the same fail-fast constraints as the batch relation
    * (renamed tables need the aliasing projection only the library API
    * attaches). */
  def schemaFor(table: QTable): StructType = schemaFor(table.currentSnapshot)

  def schemaFor(snap: graft.model.Snapshot): StructType = {
    require(!snap.hasRenames,
      "this table has renamed columns; stream it via the library API " +
        "(the DataSource source cannot attach the aliasing projection)")
    snap.storedSchema
  }
}
