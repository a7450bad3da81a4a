package graft.jobs

import graft.format.QTable
import graft.model.{DataFileEntry, FieldDef, Snapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.Base64

/** Per-file NDV (distinct-count) sketches in the manifests — the
  * engine's Iceberg `ANALYZE TABLE` / Puffin analogue, on Spark's
  * bundled Datasketches HLL (`hll_sketch_agg` / `hll_union_agg`, both
  * codegen'd aggregates; the sketch bytes are the standard mergeable
  * compact HLL format).
  *
  * Two halves:
  *  - [[NdvSketchJob]] (on demand, `analyze-ndv`): computes one compact
  *    HLL sketch per (file, tracked column) by scanning ONLY the files
  *    that do not carry one yet — O(new data) per run, O(0) on an
  *    already-analyzed table — and commits them as a metadata-only
  *    snapshot (data files untouched, carried entries keep their seq,
  *    exactly the rewrite-manifests commit shape).
  *  - [[NdvEstimate]] (at query time, `agg --ndv`): register-wise-merges
  *    the per-file sketches across the snapshot — O(file entries)
  *    metadata work, ZERO data reads on an analyzed table. Files
  *    missing a sketch (written after the last analyze) fall back to a
  *    scan of exactly those files, sketched on the fly and unioned, so
  *    the estimate always covers the full snapshot.
  *
  * Semantics: the estimate is over STORED rows. Live merge-on-read
  * delete debt (position rows / equality keys) makes it an UPPER bound
  * on the live distinct count until a compact folds the debt; the
  * estimate result reports the outstanding debt so callers can see the
  * bound's slack. Standard HLL error applies (~1.6% at the default
  * lgK=12 — the Datasketches published relative standard error
  * 1.04/sqrt(2^lgK)).
  *
  * Size budget: a compact HLL_4 sketch at lgK=12 is ~2 KB (~2.7 KB
  * base64), per tracked column per file. At 128 MB target files that is
  * manifest-to-data overhead ≈ 1:50000 per column — the same trade the
  * inline image_id blooms already make, and it is opt-in per column.
  */
object NdvStats {

  /** Columns NDV supports: what `hll_sketch_agg` accepts. */
  private[jobs] def resolve(s: Snapshot, cols: Seq[String]): Seq[FieldDef] = {
    val byName = s.schemaFields.map(f => f.name -> f).toMap
    require(cols.nonEmpty, "no columns given")
    cols.map { c =>
      val f = byName.getOrElse(c,
        throw new IllegalArgumentException(s"unknown column: $c"))
      f.sparkType match {
        case IntegerType | LongType | StringType | BinaryType => f
        case t => throw new IllegalArgumentException(
          s"unsupported NDV column type for $c: ${t.simpleString} " +
            "(int/long/string/binary only — hll_sketch_agg's domain)")
      }
    }
  }

  /** Raw physical read of a file subset: requested physical columns only
    * (absent-in-file physical columns read as null, which the sketch agg
    * ignores — correct: that file stores no values of the column). */
  private[jobs] def readPhysical(t: QTable, fields: Seq[FieldDef],
      files: Seq[DataFileEntry]) =
    t.scan(files, StructType(
      fields.map(f => StructField(f.phys, f.sparkType, nullable = true))))

  /** An empty compact sketch — what an all-null (or absent) column in a
    * file records, so the file never re-enters the pending set. */
  private[jobs] def emptySketch(lgK: Int): Array[Byte] =
    new org.apache.datasketches.hll.HllSketch(lgK).toCompactByteArray

  /** The DECLARED names of every column any live file carries a sketch
    * for — what a refresh (AutoMaintain's ndv dial) re-analyzes.
    * Sketches are keyed by physical name; columns dropped from the
    * schema since they were analyzed are skipped. */
  def trackedColumns(s: Snapshot, entries: Seq[DataFileEntry]): Seq[String] = {
    val physToName = s.schemaFields.map(f => f.phys -> f.name).toMap
    entries.flatMap(_.ndvSketches.keys).distinct.sorted
      .flatMap(physToName.get)
  }
}

/** Compute-and-commit half: attach sketches for `cols` (declared names)
  * to every live file entry missing one. */
class NdvSketchJob(
    table: QTable,
    cols: Seq[String],
    lgK: Int = 12,
    batchFiles: Int = 4096) {

  def run(): Snapshot = {
    val snap = table.currentSnapshot
    val fields = NdvStats.resolve(snap, cols)
    val entries = table.entries(snap)
    val pending = entries.filter(e =>
      fields.exists(f => !e.ndvSketches.contains(f.phys)))
    if (pending.isEmpty) return snap

    // per-batch Spark jobs bound the collected sketch volume on the
    // driver (files x cols x ~2 KB per batch), the gridBatchGroups move
    val computed = scala.collection.mutable.Map[String, Map[String, String]]()
    pending.grouped(batchFiles).foreach { batch =>
      val aggs = fields.map(f =>
        hll_sketch_agg(col(f.phys), lit(lgK)).as(f.phys))
      val rows = NdvStats.readPhysical(table, fields, batch)
        .withColumn("_file", col("_metadata.file_path"))
        .groupBy("_file")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      rows.foreach { r =>
        val name = QTable.fileName(r.getString(0))
        computed(name) = fields.zipWithIndex.map { case (f, i) =>
          val bytes =
            if (r.isNullAt(i + 1)) NdvStats.emptySketch(lgK)
            else r.getAs[Array[Byte]](i + 1)
          f.phys -> Base64.getEncoder.encodeToString(bytes)
        }.toMap
      }
    }

    // O(touched manifests): manifests whose files all carry sketches
    // already are reused by reference — an incremental analyze on a
    // 10^9-file table rewrites only the manifests holding new files
    val pendingNames = pending.map(e => QTable.fileName(e.path)).toSet
    val perManifest = snap.manifests.map(m => m -> table.readManifest(m).files)
    val (clean, touched) = perManifest.partition { case (_, fs) =>
      fs.forall(f => !pendingNames.contains(QTable.fileName(f.path)))
    }
    val enriched = touched.flatMap(_._2).map { e =>
      computed.get(QTable.fileName(e.path)) match {
        case Some(sk) => e.copy(ndv = e.ndvSketches ++ sk)
        case None => e
      }
    }
    table.commit(Some(snap), "analyze-ndv", enriched, Map(
      "files-sketched" -> pending.size.toString,
      "manifests-reused" -> clean.size.toString,
      "ndv-cols" -> fields.map(_.name).mkString(","),
      "ndv-lgk" -> lgK.toString),
      reuseManifests = clean.map(_._1))
  }
}

/** Query half: merged approx-distinct per column from the manifests. */
object NdvEstimate {

  final case class Result(
      estimates: Map[String, Long],
      filesTotal: Int,
      filesFromSketch: Int,
      filesScanned: Int,
      deleteDebtRows: Long)

  def run(table: QTable, s: Snapshot, cols: Seq[String]): Result = {
    val spark = table.spark
    import spark.implicits._
    val fields = NdvStats.resolve(s, cols)
    val entries = table.entries(s)

    val (sketched, unsketched) = entries.partition(e =>
      fields.forall(f => e.ndvSketches.contains(f.phys)))

    // one (col, sketch) frame: stored per-file sketches...
    val stored = sketched.flatMap(e => fields.map(f =>
      (f.name, Base64.getDecoder.decode(e.ndvSketches(f.phys)))))
    val storedDf = spark.createDataset(stored).toDF("col", "sk")
    // ...unioned with on-the-fly sketches of the not-yet-analyzed files
    // (exactly those files are scanned; an analyzed table scans nothing)
    val parts =
      if (unsketched.isEmpty) storedDf
      else {
        val raw = NdvStats.readPhysical(table, fields, unsketched)
        val scanned = fields.map { f =>
          raw.agg(hll_sketch_agg(col(f.phys), lit(12)).as("sk"))
            .select(lit(f.name).as("col"), col("sk"))
        }.reduce(_ unionByName _)
        storedDf.unionByName(scanned)
      }

    val merged = parts
      .filter(col("sk").isNotNull)
      .groupBy("col")
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), lit(true))).as("ndv"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    Result(
      estimates = fields.map(f => f.name -> merged.getOrElse(f.name, 0L)).toMap,
      filesTotal = entries.size,
      filesFromSketch = sketched.size,
      filesScanned = unsketched.size,
      deleteDebtRows = s.deleteFiles.map(_.rowCount).sum +
        s.eqDeleteFiles.map(_.rowCount).sum)
  }
}
