package graft.jobs

import graft.TestSpark
import graft.format.QTable
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MergeJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(n: Long, buckets: Int = 4): QTable = {
    val t = QTable.create(TestSpark.tmpDir("merge"), spark, buckets)
    AppendJob.append(t, DataGen.generate(spark, n, 42L, 8).toDF(), filesPerBucket = 4)
    t
  }

  test("copy-on-write MERGE: updates applied, inserts added, rest untouched") {
    val n = 1000L
    val t = freshTable(n)
    val pre = t.currentSnapshot
    val preDf = t.read(pre).cache()
    val corr = DataGen.correctionsDF(spark, n, 42L, inserts = 5).cache()
    val nCorr = corr.count()
    assert(nCorr > 5, "fixture should contain some updates")

    val snap = new MergeJob(t).run(corr)
    assert(snap.operation == "merge")
    val post = t.read(snap)

    // row count grew by exactly the inserts
    assert(post.count() == n + 5)
    // every correction id carries the corrected caption
    val wrong = post.join(corr.select(col("image_id"), col("caption").as("want")),
      Seq("image_id")).where(col("caption") =!= col("want")).count()
    assert(wrong == 0, s"$wrong corrected captions missing")
    // full oracle: expected = pre upserted with corrections
    val (ok, bad) = ScanEquivalence.checkMerged(preDf, post, corr)
    assert(ok, s"$bad violations vs merged expectation")

    // copy-on-write: files without matches are carried by reference
    val prePaths = t.entries(pre).map(_.path).toSet
    val postPaths = t.entries(snap).map(_.path).toSet
    val carried = prePaths.intersect(postPaths)
    assert(carried.nonEmpty, "merge rewrote every file — not copy-on-write")
    val summary = snap.summary
    assert(summary("rows-inserted") == "5")
    assert(summary("files-rewritten").toInt < prePaths.size)
    preDf.unpersist(); corr.unpersist()
  }

  test("merge with no matches only inserts") {
    val t = freshTable(200, buckets = 2)
    val preCount = t.read().count()
    import spark.implicits._
    val onlyNew = DataGen.generate(spark, 3, 99L, 1)
      .map(r => r.copy(image_id = "zzz-" + r.image_id)).toDF()
    val snap = new MergeJob(t).run(onlyNew)
    assert(t.read(snap).count() == preCount + 3)
    assert(snap.summary("rows-updated") == "0")
  }

  test("empty source is a no-op: same snapshot, no new version") {
    val t = freshTable(100, buckets = 2)
    val pre = t.currentSnapshot
    val empty = DataGen.generate(spark, 1, 1L, 1).toDF().limit(0)
    val snap = new MergeJob(t).run(empty)
    assert(snap.version == pre.version, "empty merge must not commit")
  }

  test("duplicate source image_ids are rejected (ANSI multi-match)") {
    val t = freshTable(100, buckets = 2)
    val one = DataGen.generate(spark, 1, 42L, 1).toDF()
    val dup = one.union(one)
    val ex = intercept[IllegalArgumentException] { new MergeJob(t).run(dup) }
    assert(ex.getMessage.contains("duplicated image_id"))
  }

  test("multi-column SET: arbitrary update list, null source value keeps target") {
    val n = 600L
    val t = freshTable(n, buckets = 2)
    val pre = t.read().cache()
    import spark.implicits._
    // patch caption AND w for ~1/3 of rows; every 2nd patch carries a
    // NULL w (partial update: the target's w must survive)
    val picks = pre.select("image_id", "caption", "w").orderBy("image_id")
      .limit(90).collect().zipWithIndex
      .map { case (r, i) =>
        (r.getString(0), "patched: " + r.getString(1),
          if (i % 2 == 0) Some(r.getInt(2) + 1000) else None)
      }.toSeq
    val corr = picks.toDF("image_id", "caption", "w")
    val snap = new MergeJob(t, updateCols = Seq("caption", "w")).run(corr)
    val post = t.read(snap)
    assert(post.count() == n, "pure update must preserve row count")
    val joined = post.join(
      corr.select(col("image_id"), col("caption").as("want_c"), col("w").as("want_w")),
      Seq("image_id")).cache()
    assert(joined.where(col("caption") =!= col("want_c")).count() == 0)
    assert(joined.where(col("want_w").isNotNull && col("w") =!= col("want_w"))
      .count() == 0, "non-null source w not applied")
    // null-source rows kept their ORIGINAL w (< 1000 shift marker)
    val origW = pre.select(col("image_id"), col("w").as("orig_w"))
    assert(joined.where(col("want_w").isNull).join(origW, Seq("image_id"))
      .where(col("w") =!= col("orig_w")).count() == 0,
      "null source w must keep the target value")
    assert(snap.summary("rows-updated") == "90")
    assert(snap.summary("rows-deleted") == "0")
    pre.unpersist(); joined.unpersist()
  }

  test("WHEN MATCHED DELETE: flagged rows removed, unmatched delete is a no-op") {
    val n = 500L
    val t = freshTable(n, buckets = 2)
    val pre = t.read().cache()
    import spark.implicits._
    val ids = pre.select("image_id").orderBy("image_id").limit(40)
      .as[String].collect().toSeq
    val (delIds, updIds) = ids.splitAt(20)
    val corrRows =
      delIds.map(id => (id, "ignored", true)) ++
      updIds.map(id => (id, "kept: " + id, false)) ++
      Seq(("zzz-no-such-row", "ghost", true), // unmatched delete: no-op
          ("zzz-new-row", "fresh insert", false))
    // inserts need full rows: join the flags onto generated full rows for
    // the fresh id, literal partial rows elsewhere (updates/deletes only
    // touch existing files, so caption-only content is enough there)
    val corr = corrRows.toDF("image_id", "caption", "is_delete")
      .withColumn("bytes", lit(Array[Byte](1, 2, 3)))
      .withColumn("w", lit(1)).withColumn("h", lit(1))
      .withColumn("fmt", lit("png")).withColumn("phash", lit(0L))
    val snap = new MergeJob(t, updateCols = Seq("caption"),
      deleteCol = Some("is_delete")).run(corr)
    val post = t.read(snap).cache()
    // n - 20 deletes + 1 insert (the ghost delete must not insert)
    assert(post.count() == n - 20 + 1,
      s"expected ${n - 20 + 1} rows, got ${post.count()}")
    assert(post.where(col("image_id").isin(delIds: _*)).count() == 0,
      "delete-flagged matched rows must be gone")
    assert(post.where(col("image_id") === "zzz-no-such-row").count() == 0,
      "unmatched delete row must not be inserted")
    assert(post.where(col("image_id") === "zzz-new-row").count() == 1)
    val wrong = post.join(corr.where(!col("is_delete"))
      .select(col("image_id"), col("caption").as("want")), Seq("image_id"))
      .where(col("caption") =!= col("want")).count()
    assert(wrong == 0, s"$wrong updates missing after delete-merge")
    assert(snap.summary("rows-deleted") == "20")
    assert(snap.summary("rows-inserted") == "1")
    assert(snap.summary("rows-updated") == "20")
    // untouched rows carry original captions
    val untouchedWrong = post.where(!col("image_id").isin(ids: _*) &&
      col("image_id") =!= "zzz-new-row")
      .join(pre.select(col("image_id"), col("caption").as("orig")), Seq("image_id"))
      .where(col("caption") =!= col("orig")).count()
    assert(untouchedWrong == 0)
    pre.unpersist(); post.unpersist()
  }

  test("NOT MATCHED BY SOURCE DELETE (sync): table converges to the source keys") {
    val n = 500L
    val t = freshTable(n)
    val base = t.read().cache()
    // keep ~60% of the keys (caption refreshed), add 5 fresh inserts —
    // afterwards the table must hold EXACTLY these keys
    val kept = base.where(pmod(xxhash64(col("image_id")), lit(5)) < 3)
      .withColumn("caption", concat(lit("sync: "), col("image_id")))
      .drop("pbucket").cache()
    import spark.implicits._
    val fresh = DataGen.generate(spark, 5, 91L, 1)
      .map(r => r.copy(image_id = "zzz-sync-" + r.image_id)).toDF()
    val src = kept.unionByName(fresh).cache()
    val srcN = src.count()
    assert(srcN < n && srcN > 5)

    val snap = new MergeJob(t, notMatchedBySourceDelete = true).run(src)
    val post = t.read(snap).cache()
    assert(post.count() == srcN, "post-sync table must hold exactly the source keys")
    assert(post.join(src.select("image_id"), Seq("image_id"), "left_anti").count() == 0)
    assert(src.select("image_id")
      .join(post.select("image_id"), Seq("image_id"), "left_anti").count() == 0)
    val wrong = post.join(src.select(col("image_id"), col("caption").as("want")),
      Seq("image_id")).where(col("caption") =!= col("want")).count()
    assert(wrong == 0, s"$wrong synced captions wrong")
    assert(snap.summary("rows-deleted").toLong == n - (srcN - 5))
    base.unpersist(); kept.unpersist(); src.unpersist(); post.unpersist()
  }

  test("sync under merge-on-read: same logical table, zero files rewritten") {
    val n = 400L
    val tCow = freshTable(n)
    val tMor = freshTable(n)
    def mkSrc(t: QTable) = t.read()
      .where(pmod(xxhash64(col("image_id")), lit(4)) === 0)
      .withColumn("caption", concat(lit("sync2: "), col("image_id")))
      .drop("pbucket")
    val sCow = new MergeJob(tCow, notMatchedBySourceDelete = true).run(mkSrc(tCow))
    val sMor = new MergeJob(tMor, notMatchedBySourceDelete = true,
      mergeOnRead = true).run(mkSrc(tMor))
    assert(sMor.summary("files-rewritten") == "0")
    assert(sMor.deleteFiles.nonEmpty, "MOR sync must land position deletes")
    // both strategies converge to the same logical table
    val a = tCow.read(sCow).select("image_id", "caption")
    val b = tMor.read(sMor).select("image_id", "caption")
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // maintenance folds the sync deletes like any others
    val folded = new CompactJob(tMor, targetFileBytes = 8L << 20).run()
    assert(folded.deleteFiles.isEmpty)
    assert(tMor.read(folded).select("image_id", "caption").exceptAll(b).count() == 0)
  }

  test("sync with an empty source deletes every row (ANSI reading)") {
    val t = freshTable(120, buckets = 2)
    val empty = t.read().drop("pbucket").limit(0)
    val snap = new MergeJob(t, notMatchedBySourceDelete = true).run(empty)
    assert(t.read(snap).count() == 0)
    // without the clause an empty source stays a no-op
    val t2 = freshTable(120, buckets = 2)
    val v = t2.currentVersion
    new MergeJob(t2).run(t2.read().drop("pbucket").limit(0))
    assert(t2.currentVersion == v)
  }

  test("merge is resumable per group") {
    val n = 800L
    val t = freshTable(n)
    val corr = DataGen.correctionsDF(spark, n, 42L, inserts = 2).cache()
    val jobId = "merge-resume"
    // the inserts write runs first, then one file-rewrite group
    intercept[RuntimeException] {
      new MergeJob(t, jobId = jobId).run(corr, failAfterGroups = 2)
    }
    val before = new Checkpoint(t, jobId).committed
    assert(before.keySet.contains("inserts") && before.size == 2, before.keySet)
    val snap = new MergeJob(t, jobId = jobId).run(corr)
    val preDf = t.read(t.snapshotAt(snap.version - 1))
    val (ok, bad) = ScanEquivalence.checkMerged(preDf, t.read(snap), corr)
    assert(ok, s"$bad violations after resumed merge")
    // the rerun reused both committed outputs instead of rewriting them
    val live = t.entries(snap).map(_.path).toSet
    before.values.flatMap(_.outputFiles).foreach(f =>
      assert(live.contains(f.path), s"committed output ${f.path} was not reused"))
    assert(snap.summary("rows-inserted") == "2")
    corr.unpersist()
  }

  test("planning launches at most 3 jobs before the first group write") {
    val n = 800L
    val t = freshTable(n)
    val corr = DataGen.correctionsDF(spark, n, 42L, inserts = 4)
    // failAfterGroups = 0 stops the run right before its first group
    // write, so every job seen here is a planning job
    val (_, jobs) = TestSpark.jobsDuring(intercept[RuntimeException] {
      new MergeJob(t, jobId = "merge-plan-jobs").run(corr, failAfterGroups = 0)
    })
    assert(jobs.size <= 3, s"merge planning launched ${jobs.size} jobs: $jobs")
    // the same merge still runs to a correct result
    val pre = t.currentSnapshot
    val snap = new MergeJob(t, jobId = "merge-plan-jobs").run(corr)
    assert(snap.summary("rows-inserted") == "4")
    assert(snap.summary("rows-updated").toLong > 0)
    val (ok, bad) = ScanEquivalence.checkMerged(t.read(pre), t.read(snap), corr)
    assert(ok, s"$bad violations vs merged expectation")
  }

  test("candidate pruning compares ids in UTF-8 order, as the manifest stats do") {
    // U+1F600 sorts BELOW U+FFFF in UTF-16 code units but ABOVE it in
    // UTF-8 bytes: a UTF-16 range check prunes the only file holding the
    // matched id, and the update turns into a second row for that key
    val smile = "x\uD83D\uDE00"
    val t = QTable.create(TestSpark.tmpDir("merge-utf8"), spark, 1)
    import spark.implicits._
    val rows = DataGen.generate(spark, 2, 42L, 1).collect()
    AppendJob.append(t, Seq(rows(0).copy(image_id = smile)).toDF(), filesPerBucket = 1)
    assert(t.entries(t.currentSnapshot).size == 1)
    val src = Seq(rows(0).copy(image_id = smile, caption = "fixed"),
      rows(1).copy(image_id = "x\uFFFF")).toDF()
    val snap = new MergeJob(t).run(src)
    assert(snap.summary("rows-updated") == "1")
    assert(snap.summary("rows-inserted") == "1")
    val post = t.read(snap).select("image_id", "caption").as[(String, String)]
      .collect().toSeq
    assert(post.size == 2, post)
    assert(post.toMap == Map(smile -> "fixed", "x\uFFFF" -> rows(1).caption))
  }

  test("NULL source keys are rejected up front, naming the key column") {
    val t = freshTable(100, buckets = 2)
    val v0 = t.currentVersion
    import spark.implicits._
    val row = t.read().limit(1).drop("pbucket").as[graft.model.ImageRow].head()
    // alone (no non-null bound exists) and next to a normal update
    val sources = Seq(
      Seq(row.copy(image_id = null)),
      Seq(row.copy(image_id = null), row.copy(caption = "patched")))
    sources.foreach { rs =>
      val ex = intercept[IllegalArgumentException] { new MergeJob(t).run(rs.toDF()) }
      assert(ex.getMessage.contains("NULL image_id"), ex.getMessage)
    }
    assert(t.currentVersion == v0, "a rejected merge must not commit")
    assert(t.read().where(col("image_id").isNull).count() == 0)
  }

  test("insertUnmatched=false: unmatched source rows are ignored (ANSI no-insert)") {
    val t = freshTable(300, buckets = 2)
    // 5 matched corrections + 4 unmatched rows that must NOT insert
    val upd = t.read().limit(5).drop("pbucket")
      .withColumn("caption", concat(lit("u: "), col("image_id")))
    import spark.implicits._
    val ghost = DataGen.generate(spark, 4, 9L, 1)
      .map(r => r.copy(image_id = "zz-" + r.image_id)).toDF().drop("pbucket")
    val snap = new MergeJob(t, insertUnmatched = false).run(upd.unionByName(ghost))
    assert(t.read(snap).count() == 300, "no insert may happen")
    assert(t.read(snap).where(col("image_id").startsWith("zz-")).count() == 0)
    assert(snap.summary("rows-inserted") == "0")
    assert(t.read(snap).where(col("caption").startsWith("u: ")).count() == 5)
  }

  test("empty updateCols: delete-only merge keeps non-flagged matched rows intact") {
    val t = freshTable(400, buckets = 2)
    val pre = t.read().cache()
    // flag ~1/4 of the keys for deletion; the rest matched but untouched
    val src = pre.select(col("image_id"),
      (pmod(xxhash64(col("image_id")), lit(4)) === 0).as("kill"))
    val nKill = src.where(col("kill")).count()
    assert(nKill > 0)
    val snap = new MergeJob(t, updateCols = Nil, deleteCol = Some("kill"),
      insertUnmatched = false).run(src)
    val post = t.read(snap)
    assert(post.count() == 400 - nKill)
    // surviving rows bit-identical (no update clause ran)
    val surviving = pre.where(pmod(xxhash64(col("image_id")), lit(4)) =!= 0)
    assert(post.exceptAll(surviving).count() == 0)
    assert(surviving.exceptAll(post).count() == 0)
    pre.unpersist()
  }

  test("no matched action: insert-only merge never rewrites matched files") {
    val t = freshTable(300, buckets = 2)
    val pre = t.currentSnapshot
    import spark.implicits._
    // half the source matches (must be ignored AND not rewritten),
    // half is new (must append)
    val newRows = DataGen.generate(spark, 4, 7L, 1)
      .map(r => r.copy(image_id = "ins-" + r.image_id)).toDF()
    val src = t.read().limit(6).drop("pbucket").unionByName(newRows.drop("pbucket"))
    val snap = new MergeJob(t, updateCols = Nil).run(src)
    assert(snap.summary("files-rewritten") == "0")
    assert(snap.summary("rows-inserted") == "4")
    assert(snap.summary("rows-updated") == "0")
    assert(t.read(snap).count() == 304)
    // every pre file carried by reference
    assert(t.entries(pre).map(_.path).toSet
      .subsetOf(t.entries(snap).map(_.path).toSet))
  }

  test("insert-only merge whose source fully matches commits nothing") {
    val t = freshTable(200, buckets = 2)
    val v0 = t.currentVersion
    val snap = new MergeJob(t, updateCols = Nil)
      .run(t.read().limit(10).drop("pbucket"))
    assert(snap.version == v0, "fully-matched insert-only merge must be a no-op")
  }
}
