package graft.jobs

import graft.TestSpark
import graft.format.QTable
import graft.synth.DataGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equality deletes (Iceberg v2's second delete flavor): the scan-free
  * UpsertJob, the sequence-number rule, read-side application, folding
  * by the rewrite jobs, and the metadata lifecycle (rollback / expiry /
  * orphans / changelog / aggregates / DataSource). */
class EqDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh(n: Long, buckets: Int = 4, filesPerBucket: Int = 2): QTable = {
    val t = QTable.create(TestSpark.tmpDir("eqdel"), spark, buckets)
    AppendJob.append(t, DataGen.generate(spark, n, 42L, 8).toDF(),
      filesPerBucket = filesPerBucket)
    t
  }

  /** A full-row upsert batch: whole-record replacements for ids ending
    * in `updSuffix`, delete flags for ids ending in `delSuffix`, plus
    * `inserts` brand-new rows — the shape a CDC feed lands. */
  private def batch(t: QTable, updSuffix: String, tag: String,
      delSuffix: Option[String] = None, inserts: Int = 0) = {
    val base = t.read().drop("pbucket")
    val upd = base.where(col("image_id").endsWith(updSuffix))
      .withColumn("caption", concat(lit(tag + ": "), col("image_id")))
      .withColumn("is_delete", lit(false))
    val del = delSuffix.map(s =>
      base.where(col("image_id").endsWith(s))
        .withColumn("is_delete", lit(true))).toSeq
    val ins =
      if (inserts == 0) Nil
      else Seq(DataGen.generate(spark, inserts, tag.hashCode.toLong, 1).toDF()
        .withColumn("image_id", concat(lit(s"zzz-$tag-"), col("image_id")))
        .withColumn("is_delete", lit(false)))
    (Seq(upd) ++ del ++ ins).reduce(_ unionByName _)
  }

  test("scan-free upsert: replace/insert/delete without rewriting or scanning data files") {
    val t = fresh(600)
    val v0 = t.currentSnapshot

    val s1 = new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "2", "u0", delSuffix = Some("8"), inserts = 3))
    assert(s1.operation == "upsert")
    assert(s1.summary("files-rewritten") == "0")
    assert(s1.eqDeleteFiles.nonEmpty)
    // append-style commit: every pre-upsert data file carried by reference
    assert(t.entries(v0).map(_.path).toSet.subsetOf(t.entries(s1).map(_.path).toSet))
    // the new data files carry this commit's sequence number; the carried
    // ones keep their creation seq below the delete's
    val maxDelSeq = s1.eqDeleteFiles.map(_.seq).max
    assert(maxDelSeq == s1.version)
    val oldPaths = t.entries(v0).map(_.path).toSet
    t.entries(s1).foreach { e =>
      if (oldPaths.contains(e.path)) assert(e.seq < maxDelSeq)
      else assert(e.seq == s1.version)
    }

    // semantics: 600 - 60 flagged + 3 inserts; updates replaced whole-record
    assert(t.read().count() == 543)
    assert(t.read().where(col("caption").startsWith("u0: ")).count() == 60)
    assert(t.read().where(col("image_id").endsWith("8")).count() == 0)
    assert(t.read().where(col("image_id").startsWith("zzz-u0-")).count() == 3)
    // the indexed (Catalyst FileIndex) read path applies them too
    assert(t.readIndexed()._1.count() == 543)
    // snapshot isolation: the pre-upsert snapshot is untouched
    assert(t.read(v0).count() == 600)
    assert(t.read(v0).where(col("caption").startsWith("u0: ")).count() == 0)
  }

  test("sequence rule: rows appended after a key's delete survive it") {
    val t = fresh(300, buckets = 2)
    // upsert 1 deletes every id ending in 5
    new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "1", "u1", delSuffix = Some("5")))
    assert(t.read().where(col("image_id").endsWith("5")).count() == 0)

    // re-append some of the DELETED keys: newer seq -> must be live
    import spark.implicits._
    val readd = DataGen.generate(spark, 300, 42L, 1)
      .filter(_.image_id.endsWith("5")).limit(7)
      .map(r => r.copy(caption = "re-added")).toDF()
    AppendJob.append(t, readd)
    assert(t.read().where(col("caption") === "re-added").count() == 7,
      "rows appended after the delete were killed by it — seq rule broken")

    // upsert 2 replaces a subset again: latest write wins over both the
    // original rows and upsert 1's replacements
    new UpsertJob(t, deleteCol = Some("is_delete")).run(batch(t, "1", "u2"))
    assert(t.read().where(col("caption").startsWith("u2: ")).count() == 30)
    assert(t.read().where(col("caption").startsWith("u1: ")).count() == 0)
    // no duplicate live keys anywhere
    assert(t.read().groupBy("image_id").count().where(col("count") > 1).count() == 0)
  }

  test("compact folds equality deletes and plans eq-affected files as mandatory work") {
    val t = fresh(600)
    // with a tiny target every file is "large": no compactable debt
    assert(new CompactJob(t, targetFileBytes = 1024).plan(t.currentSnapshot).isEmpty)

    new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "3", "fold", delSuffix = Some("9"), inserts = 2))
    val live = t.read().select("image_id", "caption").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted

    // the same planner now rewrites the eq-affected files
    assert(new CompactJob(t, targetFileBytes = 1024).plan(t.currentSnapshot).nonEmpty,
      "files an equality delete applies to must be mandatory compaction work")

    val sC = new CompactJob(t, targetFileBytes = 8L << 20).run()
    assert(sC.eqDeleteFiles.isEmpty, "unscoped compact must fold every eq delete")
    val post = t.read(sC).select("image_id", "caption").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    assert(post.toSeq == live.toSeq)
    // cluster likewise folds (fresh fixture)
    val t2 = fresh(300, buckets = 2)
    new UpsertJob(t2, deleteCol = Some("is_delete"))
      .run(batch(t2, "4", "z", delSuffix = Some("7")))
    val live2 = t2.read().count()
    val sZ = new ClusterJob(t2, targetFileBytes = 8L << 20).run()
    assert(sZ.eqDeleteFiles.isEmpty)
    assert(t2.read(sZ).count() == live2)
  }

  test("upsert matches the CoW merge semantics on the same whole-record source") {
    def build(): QTable = fresh(500)
    val (t1, t2) = (build(), build())
    val corr = batch(t1, "6", "same", delSuffix = Some("0"), inserts = 4).cache()
    try {
      new UpsertJob(t1, deleteCol = Some("is_delete")).run(corr)
      // CoW MERGE with SET = every data column = whole-record replace
      val sets = t2.storedSchema.fieldNames.toSeq
        .filterNot(c => c == "image_id" || c == "pbucket")
      new MergeJob(t2, updateCols = sets, deleteCol = Some("is_delete")).run(corr)
      val a = t1.read().select("image_id", "caption", "w", "phash")
      val b = t2.read().select("image_id", "caption", "w", "phash")
      assert(a.count() == b.count())
      assert(a.exceptAll(b).count() == 0)
      assert(b.exceptAll(a).count() == 0)
    } finally corr.unpersist()
  }

  test("rollback restores pre-upsert rows; changelog follows the upsert") {
    val t = fresh(300, buckets = 2)
    val v0 = t.currentVersion
    val s1 = new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "2", "cdc", delSuffix = Some("7"), inserts = 2))

    // changelog across the upsert: 30 updates (pre+post), 30 deletes,
    // 2 inserts — suppression drops the untouched majority
    val ch = t.readChanges(v0, s1.version)
    assert(ch.where(col("_change_type") === "update_postimage").count() == 30)
    assert(ch.where(col("_change_type") === "update_preimage").count() == 30)
    assert(ch.where(col("_change_type") === "delete").count() == 30)
    assert(ch.where(col("_change_type") === "insert").count() == 2)

    val sRb = new RollbackJob(t).run(v0)
    assert(t.read(sRb).count() == 300)
    assert(t.read(sRb).where(col("caption").startsWith("cdc: ")).count() == 0)
    assert(t.read(sRb).where(col("image_id").endsWith("7")).count() == 30,
      "rollback must restore upsert-deleted rows")
  }

  test("expiry and orphan sweep keep live eq-delete files, sweep dead ones") {
    val t = fresh(200, buckets = 2)
    val s1 = new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "3", "gc", delSuffix = Some("9")))
    val eqPath = s1.eqDeleteFiles.head.path
    val live = t.read().count()

    new RemoveOrphanFilesJob(t, graceMs = 0L).run()
    assert(new java.io.File(eqPath).exists(),
      "orphan sweep deleted a live equality-delete file")
    assert(t.read().count() == live)

    // fold, then expire everything before the fold: the eq file is now
    // unreachable and must die with its snapshots
    new CompactJob(t, targetFileBytes = 8L << 20).run()
    val res = new ExpireSnapshotsJob(t).run(keepLast = 1)
    assert(res.expiredVersions.contains(s1.version))
    assert(!new java.io.File(eqPath).exists(), "expired eq-delete file not swept")
    assert(t.read().count() == live)
  }

  test("metadata aggregates fall back to scan on eq-affected files and stay exact") {
    val t = fresh(400)
    new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "1", "agg", delSuffix = Some("4")))
    val live = t.read().count()
    val r = StatsAggregate.run(t, t.currentSnapshot, Seq("w"))
    assert(r.filesScanned > 0, "eq-affected files must not answer from stats")
    assert(r.df.collect().head.getLong(0) == live)
    // after the fold the same aggregate is metadata-only again
    new CompactJob(t, targetFileBytes = 8L << 20).run()
    val r2 = StatsAggregate.run(t, t.currentSnapshot, Seq("w"))
    assert(r2.filesScanned == 0)
    assert(r2.df.collect().head.getLong(0) == live)
  }

  test("resume after crash does not reuse a group output that predates an upsert") {
    val t = fresh(600)
    intercept[RuntimeException] {
      new CompactJob(t, targetFileBytes = 8L << 20, jobId = "crash-eq",
        minGroupBytes = 1L).run(failAfterGroups = 1)
    }
    assert(new Checkpoint(t, "crash-eq").committed.nonEmpty)

    new UpsertJob(t, deleteCol = Some("is_delete")).run(batch(t, "4", "crash"))
    val live = t.read().where(col("caption").startsWith("crash: ")).count()
    assert(live == 60)

    val sC = new CompactJob(t, targetFileBytes = 8L << 20, jobId = "crash-eq",
      minGroupBytes = 1L).run()
    assert(sC.eqDeleteFiles.isEmpty)
    assert(t.read(sC).where(col("caption").startsWith("crash: ")).count() == 60,
      "resumed compact reused a pre-upsert group output — old rows resurrected")
    assert(t.read(sC).count() == 600)
  }

  test("streaming upsert --eq: exactly-once, scan-free commits per batch") {
    val t = fresh(300, buckets = 2)
    val up = new graft.streaming.StreamingUpsert(t, "eq-spec",
      deleteCol = Some("is_delete"), equality = true)

    up.sink(batch(t, "1", "b0", delSuffix = Some("2"), inserts = 1), 0L)
    val s0 = t.currentSnapshot
    assert(s0.operation == "upsert")
    assert(t.read().count() == 271) // 300 - 30 deleted + 1 insert
    assert(t.read().where(col("caption").startsWith("b0: ")).count() == 30)

    up.sink(batch(t, "1", "b1", inserts = 1), 1L)
    assert(t.read().where(col("caption").startsWith("b1: ")).count() == 30)
    assert(t.read().where(col("caption").startsWith("b0: ")).count() == 0)

    // replay of batch 1 is a no-op (exactly-once across crash replay)
    val v = t.currentVersion
    up.sink(batch(t, "1", "b1-replayed", inserts = 1), 1L)
    assert(t.currentVersion == v)

    // whole-record is inherent: updateCols is rejected up front
    intercept[IllegalArgumentException] {
      new graft.streaming.StreamingUpsert(t, "bad", updateCols = Seq("caption"),
        equality = true)
    }

    // maintenance folds the accumulated key-delete debt
    val sC = new CompactJob(t, targetFileBytes = 8L << 20).run()
    assert(sC.eqDeleteFiles.isEmpty)
    assert(t.read().count() == 272)
  }

  test("bulk key batches split into range-disjoint delete files; reads apply all of them") {
    val t = fresh(300, buckets = 2)
    val (entries, n) = UpsertJob.writeEqDeleteFiles(t,
      t.read().select("image_id"),
      t.newDataDir("split-test", "eq-deletes"), targetRows = 50)
    assert(n == 300)
    assert(entries.size >= 4, s"expected a range split, got ${entries.size} file(s)")
    val sorted = entries.sortBy(_.idMin)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.idMax <= b.idMin,
        s"split files overlap: ${a.idMax} vs ${b.idMin}")
      case _ => ()
    }
    // committing them (same-commit seq stamp on every split) kills every
    // older row through the multi-file read path
    val snap = t.currentSnapshot
    val c = t.commit(Some(snap), "upsert", Nil,
      Map("job-id" -> "split-test"),
      reuseManifests = snap.manifests,
      eqDeletesOverride = Some(snap.eqDeleteFiles ++ entries))
    assert(c.eqDeleteFiles.forall(_.seq == c.version))
    assert(t.read(c).count() == 0)
  }

  test("eq anti-join broadcasts the key side and never shuffles the data") {
    val t = fresh(400)
    new UpsertJob(t, deleteCol = Some("is_delete"))
      .run(batch(t, "2", "plan", delSuffix = Some("6")))
    val df = t.read()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the key-delete set is KB-sized vs a TB-scale data side: the eq
    // anti-join must broadcast (both sides' seqs are per-file scan
    // constants, no lookup join) — shuffling the table is the bug that
    // would not survive 100 TB
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast left-anti eq-delete application, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"eq-delete application shuffled the data side:\n$plan")
  }

  test("DataSource reads apply live eq deletes via the fallback; insert-only upsert skips the delete file") {
    val t = fresh(200, buckets = 2)
    // insert-only batch whose keys overlap NO existing file: the delete
    // entry would be permanent dead weight, so it is skipped entirely
    import spark.implicits._
    val ins = DataGen.generate(spark, 3, 7L, 1)
      .map(r => r.copy(image_id = "zzz-new-" + r.image_id)).toDF()
    val sIns = new UpsertJob(t).run(ins)
    assert(sIns.eqDeleteFiles.isEmpty,
      "non-overlapping insert-only upsert must not record a delete entry")
    assert(t.read().count() == 203)
    assert(spark.read.format("qtable").load(t.root).count() == 203)

    // an overlapping upsert records one; the DataSource serves it
    // through the decorated-scan fallback (anti-joins applied), and
    // the fast path takes over again once a compact folds the deletes
    new UpsertJob(t, deleteCol = Some("is_delete")).run(batch(t, "3", "ds"))
    assert(spark.read.format("qtable").load(t.root).count() == t.read().count())
    new CompactJob(t, targetFileBytes = 8L << 20).run()
    assert(spark.read.format("qtable").load(t.root).count() == t.read().count())
  }
}
