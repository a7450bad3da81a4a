package graft.jobs

import graft.format.{ParquetStats, QTable}
import graft.model.{DataFileEntry, FieldDef, Snapshot}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Metadata-only COUNT(*) / COUNT(col) / MIN / MAX: answers table-level
  * aggregates from the manifest's per-file stats instead of scanning
  * data — the Iceberg/Trino "optimize metadata queries" move. On a
  * 10^12-row table a `SELECT count(*), min(w), max(w)` is O(manifest
  * entries) driver work (metadata the planner already holds) instead of
  * a 100 TB scan. COUNT(col) comes from the exact per-file null counts
  * the footer harvest records ([[DataFileEntry.knownNullCount]]).
  *
  * Exactness is the contract, so the planner is a HYBRID: every file
  * whose recorded stats cannot answer the requested columns EXACTLY is
  * read through [[QTable.readSubset]] (deletes + renames applied) and
  * its scanned partial is combined with the metadata partials. A file
  * falls back to scan when any of these hold:
  *
  *  - a merge-on-read position delete touches it ([[QTable.deletePairs]]
  *    names the referenced files exactly): a deleted row may have
  *    carried the recorded min/max, and the stats know nothing of it;
  *  - a requested column has no usable stat: no recorded min/max
  *    (pre-stats manifest, or a column added after the file was
  *    written) or no recorded null count — EXCEPT when the null count
  *    alone proves the column all-null in the file (contributes its
  *    zero count and null min/max with no read);
  *  - a requested STRING column's stat hits the Iceberg-style
  *    truncation bound ([[ParquetStats.MaxStatLen]]): truncated values
  *    are valid BOUNDS for pruning but not exact values (the truncated
  *    max is bumped ABOVE the real one). Strictly shorter stats are
  *    exact. The dedicated image_id range is never truncated;
  *  - a requested column is FLOAT/DOUBLE: parquet-mr's double stats
  *    skip NaN (plain `<`/`>` comparisons never admit it), while SQL
  *    MAX orders NaN greatest — a file holding NaN would answer wrong,
  *    and no footer field says whether one does. Iceberg solves this by
  *    writing its own NaN value counts; until this engine's writers do,
  *    float/double aggregates stay scan-side (stats still PRUNE them
  *    fine — pruning only needs bounds).
  *
  * Partials are combined by Spark itself (a LocalRelation of per-file
  * metadata rows unioned with the fallback scan's aggregate row, then
  * one global agg), so string collation, null handling, and numeric
  * semantics are exactly the engine's — nothing is re-implemented on
  * the driver. Steady state on a maintained table: zero files scanned
  * (compaction folds deletes away and rewrites refresh stats).
  */
object StatsAggregate {

  final case class Result(
      df: DataFrame,
      filesTotal: Int,
      filesFromStats: Int,
      filesScanned: Int)

  /** Aggregate `count(*)` plus `count/min/max` of each named logical
    * column over the snapshot's live rows. Output row schema:
    * `count_star: long, <col>_count: long, <col>_min, <col>_max`
    * (min/max in the declared logical types). */
  def run(table: QTable, s: Snapshot, cols: Seq[String]): Result = {
    val spark = table.spark
    val fieldsByName = s.schemaFields.map(f => f.name -> f).toMap
    val fields: Seq[FieldDef] = cols.map { c =>
      val f = fieldsByName.getOrElse(c,
        throw new IllegalArgumentException(s"unknown column: $c"))
      f.sparkType match {
        case IntegerType | LongType | FloatType | DoubleType | StringType => f
        case t => throw new IllegalArgumentException(
          s"unsupported aggregate column type for $c: ${t.simpleString} " +
            "(orderable primitives only)")
      }
    }
    require(!cols.contains("pbucket"),
      "pbucket is an internal partition column; aggregate data columns")

    val entries = table.entries(s)
    // exact set of data files a live position delete references, plus
    // files a live EQUALITY delete can apply to (older seq, overlapping
    // key range) — either flavor means recorded stats overcount live rows
    val deleted: Set[String] =
      table.deletePairs(s).map(_._2).toSet ++
        table.eqAffectedNames(s, entries)

    val schema = StructType(
      StructField("count_star", LongType, nullable = false) +:
        fields.flatMap(f => Seq(
          StructField(s"${f.name}_count", LongType, nullable = false),
          StructField(s"${f.name}_min", f.sparkType, nullable = true),
          StructField(s"${f.name}_max", f.sparkType, nullable = true))))

    val (statFiles, scanFiles) = entries.partition { e =>
      !deleted.contains(QTable.fileName(e.path)) &&
        fields.forall(f => statTriple(e, f).isDefined)
    }

    val metaRows: Seq[Row] = statFiles.map { e =>
      Row.fromSeq(e.rowCount +: fields.flatMap { f =>
        val (cnt, mn, mx) = statTriple(e, f).get
        Seq(cnt, mn, mx)
      })
    }
    val metaDf = spark.createDataFrame(metaRows.asJava, schema)

    val parts =
      if (scanFiles.isEmpty) metaDf
      else {
        val scanned = table.readSubset(s, scanFiles)
        val aggs = count(lit(1)).cast("long").as("count_star") +:
          fields.flatMap(f => Seq(
            count(col(f.name)).cast("long").as(s"${f.name}_count"),
            min(col(f.name)).cast(f.sparkType).as(s"${f.name}_min"),
            max(col(f.name)).cast(f.sparkType).as(s"${f.name}_max")))
        metaDf.unionByName(scanned.agg(aggs.head, aggs.tail: _*))
      }

    val finalAggs = coalesce(sum(col("count_star")), lit(0L)).as("count_star") +:
      fields.flatMap(f => Seq(
        coalesce(sum(col(s"${f.name}_count")), lit(0L)).as(s"${f.name}_count"),
        min(col(s"${f.name}_min")).as(s"${f.name}_min"),
        max(col(s"${f.name}_max")).as(s"${f.name}_max")))
    Result(
      df = parts.agg(finalAggs.head, finalAggs.tail: _*),
      filesTotal = entries.size,
      filesFromStats = statFiles.size,
      filesScanned = scanFiles.size)
  }

  /** The EXACT (non-null count, min, max) of field `f` in file `e` per
    * its recorded stats, or None when they cannot answer exactly (see
    * class doc). min/max are returned as the DECLARED logical type's
    * JVM representation, ready for a LocalRelation row. */
  private def statTriple(e: DataFileEntry, f: FieldDef): Option[(Long, Any, Any)] = {
    if (e.rowCount == 0L) return Some((0L, null, null)) // no rows: neutral
    // initial default: a file predating the column's add-column commit
    // surfaces the default for EVERY row (the read path's per-file seq
    // rule) — exact virtual stats with zero reads: count = rowCount,
    // min = max = the typed default. Takes priority over the recorded
    // stats checks below, which the file (correctly) has none of
    if (f.defaultOpt.nonEmpty && e.seq < f.defaultSeq) {
      val v = f.typedDefault.get
      return Some((e.rowCount, v, v))
    }
    val nulls = e.knownNullCount(f.phys)
    // all-null proof: zero non-null values, min/max contribute nothing —
    // answered even though (correctly) no min/max stat was recorded
    if (nulls.contains(e.rowCount)) return Some((0L, null, null))
    if (nulls.isEmpty) return None // COUNT(col) needs the exact null count
    val cnt = e.rowCount - nulls.get
    f.sparkType match {
      case FloatType | DoubleType => None // NaN-blind parquet stats
      case _ if f.phys == "phash" =>
        // Long.MaxValue/MinValue sentinels mean "no stats harvested"
        if (e.phashMin > e.phashMax) None
        else Some((cnt, e.phashMin, e.phashMax))
      case _ if f.phys == "image_id" =>
        // dedicated range, never truncated; "" is the no-stats sentinel
        if (e.imageIdMin == null || e.imageIdMin.isEmpty ||
          e.imageIdMax == null || e.imageIdMax.isEmpty) None
        else Some((cnt, e.imageIdMin, e.imageIdMax))
      case t =>
        e.stats.get(f.phys).flatMap { st =>
          (st.kind, t) match {
            case ("long", LongType) => Some((cnt, st.min.toLong, st.max.toLong))
            case ("long", IntegerType) => Some((cnt, st.min.toInt, st.max.toInt))
            case ("string", StringType)
              // at the truncation bound the value is a bound, not exact
              if st.min.length < ParquetStats.MaxStatLen &&
                st.max.length < ParquetStats.MaxStatLen =>
              Some((cnt, st.min, st.max))
            case _ => None
          }
        }
    }
  }
}
