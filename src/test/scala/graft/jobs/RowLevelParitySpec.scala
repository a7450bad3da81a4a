package graft.jobs

import graft.TestSpark
import graft.format.QTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Characterization of the row-level writes: MERGE (SET with a delete
  * flag, NOT MATCHED BY SOURCE, insert-only) and UPDATE under both
  * strategies, plus DELETE and upsert, on one table that carries every
  * read decoration at once — a live position delete, a live equality
  * delete, an initial default and row lineage. Copy-on-write and
  * merge-on-read must read back the same bag of rows, and both must
  * equal a small Scala model of the statement; updated rows keep their
  * `_row_id`; each commit's summary (its own keys, not the snapshot
  * totals) is pinned literally; a constraint veto writes no file. */
class RowLevelParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (caption, w, views) by key number; the key is [[id]]. */
  private type Model = Map[Int, (String, Int, Option[Int])]

  private def id(i: Int): String = f"k$i%02d"

  /** One source/append row: key number `i` (w = i + 1, phash = i),
    * caption, evolved `views` column and delete flag. */
  private final case class Rec(i: Int, caption: String, views: Option[Int] = None,
      del: Boolean = false)

  private val Fields = Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("views", IntegerType, nullable = true),
    StructField("del", BooleanType, nullable = true))
  private val BaseCols = Fields.take(7).map(_.name)

  private def frame(recs: Seq[Rec], cols: Seq[String]): DataFrame = {
    val fs = Fields.filter(f => cols.contains(f.name))
    val rows = recs.map { r =>
      Row.fromSeq(fs.map(_.name).map {
        case "image_id" => id(r.i)
        case "bytes" => Array(r.i.toByte)
        case "w" => r.i + 1
        case "h" => 1
        case "fmt" => if (r.i % 2 == 0) "png" else "jpeg"
        case "caption" => r.caption
        case "phash" => r.i.toLong
        case "views" => r.views.map(Int.box).orNull
        case "del" => r.del
      })
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fs))
  }

  /** One bucket, five data files: k00-k23 in three files appended before
    * `views` was added with initial default 7, k24-k31 after it with
    * views = i, then row lineage, a position delete of k05 and an
    * upsert of k10 (an equality delete of the old row plus a new file
    * holding caption up10, views 70). */
  private def base(): QTable = {
    val t = QTable.create(TestSpark.tmpDir("rowlevel"), spark, buckets = 1)
    Seq(0 until 8, 8 until 16, 16 until 24).foreach(r =>
      AppendJob.append(t, frame(r.map(i => Rec(i, f"c$i%02d")), BaseCols)))
    t.addColumn("views", "int", Some("7"))
    AppendJob.append(t, frame((24 until 32).map(i => Rec(i, f"c$i%02d", Some(i))),
      BaseCols :+ "views"))
    t.enableRowLineage()
    new DeleteJob(t, "base-delete").run(col("image_id") === id(5))
    new UpsertJob(t, "base-upsert").run(
      frame(Seq(Rec(10, "up10", Some(70))), BaseCols :+ "views"))
    val s = t.currentSnapshot
    assert(s.deleteFiles.size == 1 && s.eqDeleteFiles.size == 1 && s.rowLineage)
    assert(t.entries(s).size == 5)
    t
  }

  private val BaseModel: Model =
    (0 until 32).map(i => i -> ((f"c$i%02d", i + 1, Some(if (i < 24) 7 else i)))).toMap -
      5 + (10 -> (("up10", 11, Some(70))))

  private def bag(t: QTable): Seq[(String, String, Int, Option[Int])] =
    t.read().select("image_id", "caption", "w", "views").collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq.sorted

  private def modelBag(m: Model): Seq[(String, String, Int, Option[Int])] =
    m.toSeq.map { case (i, (c, w, v)) => (id(i), c, w, v) }.sorted

  private def sameBag(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def rowIds(t: QTable): Map[String, Long] =
    t.readWithRowId().select("image_id", "_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The job's own summary keys (the snapshot totals depend on file
    * bytes and delete-file counts, which are layout, not semantics). */
  private def own(summary: Map[String, String]): Map[String, String] =
    summary.filterNot(_._1.startsWith("total-"))

  /** Runs `job` on a fresh base table per strategy and checks the two
    * read back the same rows, equal to `want`, keep the `_row_id` of
    * `kept` keys, and commit the pinned summaries. */
  private def parity(want: Model, keptIds: Seq[Int], cow: Map[String, String],
      mor: Map[String, String])(job: (QTable, Boolean) => graft.model.Snapshot): Unit = {
    val runs = Seq(false, true).map { onRead =>
      val t = base()
      val before = rowIds(t)
      val snap = job(t, onRead)
      assert(snap.version == t.currentVersion)
      assert(bag(t) == modelBag(want), s"mergeOnRead=$onRead differs from the model")
      val after = rowIds(t)
      keptIds.foreach(i => assert(after(id(i)) == before(id(i)),
        s"mergeOnRead=$onRead moved the _row_id of ${id(i)}"))
      assert(after.values.toSeq.distinct.size == after.size)
      (t, snap)
    }
    val Seq((tc, sc), (tm, sm)) = runs
    assert(sameBag(tc.read(), tm.read()), "copy-on-write and merge-on-read differ")
    assert(own(sc.summary) == cow)
    assert(own(sm.summary) == mor)
  }

  private def mergeSrcCols = BaseCols ++ Seq("views", "del")

  test("MERGE with SET and a delete flag: both strategies equal the model") {
    val src = Seq(Rec(1, "m01", Some(100)), Rec(10, "m10"), Rec(3, "x03", del = true),
      Rec(25, "m25", Some(250)), Rec(5, "m05", Some(55)), Rec(40, "n40", Some(40)),
      Rec(41, "n41", del = true))
    val want = BaseModel - 3 + (1 -> (("m01", 2, Some(100)))) +
      (10 -> (("m10", 11, Some(70)))) + (25 -> (("m25", 26, Some(250)))) +
      (5 -> (("m05", 6, Some(55)))) + (40 -> (("n40", 41, Some(40))))
    parity(want, Seq(1, 10, 25),
      cow = Map("job-id" -> "rl-merge", "source-rows" -> "7", "rows-updated" -> "3",
        "rows-inserted" -> "2", "rows-deleted" -> "1", "files-rewritten" -> "3"),
      mor = Map("job-id" -> "rl-merge", "strategy" -> "merge-on-read",
        "source-rows" -> "7", "rows-updated" -> "3", "rows-inserted" -> "2",
        "rows-deleted" -> "1", "files-rewritten" -> "0")) { (t, onRead) =>
      new MergeJob(t, "rl-merge", updateCols = Seq("caption", "views"),
        deleteCol = Some("del"), mergeOnRead = onRead).run(frame(src, mergeSrcCols))
    }
  }

  test("MERGE with NOT MATCHED BY SOURCE DELETE: both strategies equal the model") {
    val keep = Seq(2, 10) ++ (20 until 32)
    val src = keep.map(i => Rec(i, f"s$i%02d")) :+ Rec(50, "s50")
    val want = keep.map(i => i -> BaseModel(i).copy(_1 = f"s$i%02d")).toMap +
      (50 -> (("s50", 51, None)))
    parity(want, keep,
      cow = Map("job-id" -> "rl-sync", "source-rows" -> "15", "rows-updated" -> "14",
        "rows-inserted" -> "1", "rows-deleted" -> "17", "files-rewritten" -> "5"),
      mor = Map("job-id" -> "rl-sync", "strategy" -> "merge-on-read",
        "source-rows" -> "15", "rows-updated" -> "14", "rows-inserted" -> "1",
        "rows-deleted" -> "17", "files-rewritten" -> "0")) { (t, onRead) =>
      new MergeJob(t, "rl-sync", notMatchedBySourceDelete = true,
        mergeOnRead = onRead).run(frame(src, BaseCols :+ "views"))
    }
  }

  test("insert-only MERGE: both strategies equal the model, no file rewritten") {
    val src = Seq(Rec(7, "i07", Some(1)), Rec(5, "i05", Some(5)), Rec(60, "i60", Some(60)))
    val want = BaseModel + (5 -> (("i05", 6, Some(5)))) + (60 -> (("i60", 61, Some(60))))
    parity(want, Seq(7),
      cow = Map("job-id" -> "rl-insert", "source-rows" -> "3", "rows-updated" -> "0",
        "rows-inserted" -> "2", "rows-deleted" -> "0", "files-rewritten" -> "0"),
      mor = Map("job-id" -> "rl-insert", "strategy" -> "merge-on-read",
        "source-rows" -> "3", "rows-updated" -> "0", "rows-inserted" -> "2",
        "rows-deleted" -> "0", "files-rewritten" -> "0")) { (t, onRead) =>
      new MergeJob(t, "rl-insert", updateCols = Nil, mergeOnRead = onRead)
        .run(frame(src, BaseCols :+ "views"))
    }
  }

  test("UPDATE over defaulted rows: both strategies equal the model, ids kept") {
    val hit = (0 until 24).filter(i => i != 5 && i != 10 && i % 2 == 1)
    val want = BaseModel ++ hit.map(i => i -> ((s"u-${id(i)}", (i + 1) * 10, Some(7))))
    parity(want, hit,
      cow = Map("job-id" -> "rl-update", "strategy" -> "copy-on-write",
        "rows-updated" -> "11", "files-scanned" -> "5", "files-total" -> "5",
        "files-rewritten" -> "3"),
      mor = Map("job-id" -> "rl-update", "strategy" -> "merge-on-read",
        "rows-updated" -> "11", "files-scanned" -> "5", "files-total" -> "5",
        "new-delete-files" -> "1", "files-rewritten" -> "0")) { (t, onRead) =>
      new UpdateJob(t, "rl-update", mergeOnRead = onRead).run(
        Seq("caption" -> concat(lit("u-"), col("image_id")), "w" -> col("w") * 10),
        col("views") === 7 && col("w") % 2 === 0)
    }
  }

  test("DELETE drops a provable file and position-deletes the rest") {
    val t = base()
    val snap = new DeleteJob(t, "rl-delete").run(
      (col("views") === 7 && col("image_id") >= id(16)) || col("image_id") === id(1))
    assert(bag(t) == modelBag(BaseModel -- (16 until 24) - 1))
    assert(own(snap.summary) == Map("job-id" -> "rl-delete", "deleted-rows" -> "9",
      "files-dropped" -> "1", "rows-dropped-with-files" -> "8",
      "new-delete-files" -> "1", "files-scanned" -> "2", "files-total" -> "4"))
  }

  test("upsert replaces, inserts and deletes whole records") {
    val t = base()
    val snap = new UpsertJob(t, "rl-upsert", deleteCol = Some("del")).run(frame(
      Seq(Rec(2, "u02", Some(2)), Rec(70, "u70", Some(70)), Rec(3, "x03", del = true)),
      mergeSrcCols))
    assert(bag(t) == modelBag(BaseModel - 3 + (2 -> (("u02", 3, Some(2)))) +
      (70 -> (("u70", 71, Some(70))))))
    assert(own(snap.summary) == Map("job-id" -> "rl-upsert", "source-rows" -> "3",
      "rows-delete-flagged" -> "1", "eq-delete-keys" -> "3", "files-rewritten" -> "0"))
  }

  test("a vetoed MERGE or UPDATE writes no file under either strategy") {
    def files(t: QTable, jobId: String): Long = {
      val d = Paths.get(t.root, "data", jobId)
      if (!Files.exists(d)) 0L else Files.walk(d).filter(Files.isRegularFile(_)).count()
    }
    for (onRead <- Seq(false, true)) {
      val t = base()
      Constraints.set(t, "no-bad", "caption NOT LIKE 'bad%'")
      val v = t.currentVersion
      intercept[IllegalStateException] {
        new MergeJob(t, "rl-veto-merge", mergeOnRead = onRead)
          .run(frame(Seq(Rec(1, "bad01"), Rec(45, "n45")), BaseCols))
      }
      intercept[IllegalStateException] {
        new UpdateJob(t, "rl-veto-update", mergeOnRead = onRead)
          .run(Seq("caption" -> lit("bad")), col("image_id") === id(1))
      }
      assert(t.currentVersion == v, s"mergeOnRead=$onRead committed a vetoed write")
      assert(files(t, "rl-veto-merge") == 0 && files(t, "rl-veto-update") == 0,
        s"mergeOnRead=$onRead wrote files before its veto")
    }
  }
}
