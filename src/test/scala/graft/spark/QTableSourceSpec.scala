package graft.spark

import graft.TestSpark
import graft.format.{QTable, Tags}
import graft.jobs.{AppendJob, ClusterJob, MergeJob}
import graft.synth.DataGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** spark.read.format("qtable"): equality with the library read path,
  * version/tag time travel, SQL USING views, pushdown through the
  * manifest index, and the documented renamed-table refusal. */
class QTableSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh(n: Long): QTable = {
    val t = QTable.create(TestSpark.tmpDir("dsrc"), spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, n, 42L, 2).toDF(), 2)
    t
  }

  test("format(qtable) head read equals QTable.read; version and tag time-travel") {
    val t = fresh(300)
    Tags.create(t, "rel-1")                                    // pins v1
    val corr = DataGen.correctionsDF(spark, 300, 42L, inserts = 4)
    new MergeJob(t).run(corr)                                  // v2

    val head = spark.read.format("qtable").load(t.root)
    assert(head.count() == 304)
    assert(head.select("image_id").except(
      t.read().select("image_id")).count() == 0)

    val v1 = spark.read.format("qtable").option("version", "1").load(t.root)
    assert(v1.count() == 300)
    val byTag = spark.read.format("qtable").option("tag", "rel-1").load(t.root)
    assert(byTag.count() == 300)
    assert(byTag.select("image_id").except(v1.select("image_id")).count() == 0)

    intercept[IllegalArgumentException] {
      spark.read.format("qtable").option("tag", "rel-1")
        .option("version", "1").load(t.root)
    }
  }

  test("as-of-ts option: timestamp time travel on the main chain") {
    val t = fresh(120)                                         // v1
    val ts1 = t.currentSnapshot.timestampMs
    Thread.sleep(5) // commit timestamps must strictly order for the probe
    AppendJob.append(t, DataGen.generate(spark, 30, 7L, 1).toDF()
      .withColumn("image_id", concat(lit("b-"), col("image_id"))), 1) // v2
    val ts2 = t.currentSnapshot.timestampMs
    assert(ts2 > ts1)

    // cutoff exactly at v1's commit: v1 answers (youngest at-or-before)
    assert(t.snapshotAsOf(ts1).version == 1L)
    assert(spark.read.format("qtable").option("as-of-ts", ts1.toString)
      .load(t.root).count() == 120)
    // between the commits: still v1; at/after v2: v2
    assert(t.snapshotAsOf((ts1 + ts2) / 2).version == 1L)
    assert(t.snapshotAsOf(ts2).version == 2L)
    // ISO-8601 form parses (far future resolves to the head)
    assert(spark.read.format("qtable")
      .option("as-of-ts", "2200-01-01T00:00:00Z").load(t.root).count() == 150)
    // before the first commit: refused, with the expiry caveat
    intercept[IllegalArgumentException] { t.snapshotAsOf(ts1 - 100000) }
    intercept[IllegalArgumentException] {
      spark.read.format("qtable").option("as-of-ts", ts1.toString)
        .option("version", "1").load(t.root)
    }
  }

  test("branch option reads the branch head; main load is unaffected") {
    val t = fresh(150)
    graft.format.Branches.create(t, "exp")
    AppendJob.append(t.onBranch("exp"),
      DataGen.generate(spark, 10, 5L, 1).toDF()
        .withColumn("image_id",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("br-"),
            org.apache.spark.sql.functions.col("image_id"))))
    assert(spark.read.format("qtable").load(t.root).count() == 150)
    val br = spark.read.format("qtable").option("branch", "exp").load(t.root)
    assert(br.count() == 160)
    intercept[IllegalArgumentException] {
      spark.read.format("qtable").option("branch", "exp")
        .option("version", "1").load(t.root)
    }
  }

  test("meta tables: files/manifests/history queryable through the source") {
    val t = fresh(200)
    new graft.jobs.CompactJob(t, targetFileBytes = 8L << 20).run()
    val snap = t.currentSnapshot
    val entries = t.entries(snap)

    assert(t.filesDF.count() == entries.size)
    assert(t.filesDF.selectExpr("sum(row_count)").head().getLong(0) == 200)

    val files = spark.read.format("qtable").option("meta", "files").load(t.root)
    assert(files.count() == entries.size)
    // queryable like any relation: layout questions in SQL, no data opens
    files.createOrReplaceTempView("qfiles")
    val hot = spark.sql(
      "SELECT count(*) FROM qfiles WHERE pbucket_min = 0 AND byte_count > 0")
    assert(hot.head().getLong(0) == entries.count(_.pbucketMin == 0))

    val manifests = spark.read.format("qtable")
      .option("meta", "manifests").load(t.root)
    assert(manifests.count() == snap.manifests.size)

    // partitions: one exact row per bucket span, totals conserve (the
    // per-file bookkeeping itself is q44's DuckDB-oracled check)
    val parts = spark.read.format("qtable")
      .option("meta", "partitions").load(t.root)
    val booked = parts.selectExpr("pbucket_lo", "pbucket_hi", "row_count")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val expected = entries.groupBy(e => (e.pbucketMin, e.pbucketMax))
      .map { case (k, fs) => k -> fs.map(_.rowCount).sum }
    assert(booked == expected, s"partitions table $booked vs entries $expected")
    assert(booked.values.sum == 200L)
    val history = spark.read.format("qtable")
      .option("meta", "history").load(t.root)
    assert(history.count() == t.listVersions.size)

    // meta respects snapshot addressing (pre-compact layout via version)
    val old = spark.read.format("qtable").option("meta", "files")
      .option("version", "1").load(t.root)
    assert(old.count() == t.entries(t.snapshotAt(1)).size)
    assert(old.count() > files.count(), "compaction should shrink the file count")

    intercept[IllegalArgumentException] {
      spark.read.format("qtable").option("meta", "nope").load(t.root).count()
    }
  }

  test("SQL: CREATE TEMPORARY VIEW USING qtable, snapshot-isolated") {
    val t = fresh(200)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qsrc_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    assert(spark.sql("SELECT count(*) FROM qsrc_imgs").head().getLong(0) == 200)
    // the view resolved its snapshot at creation: a later append is not
    // visible through it (snapshot isolation), but is through a re-read
    import spark.implicits._
    AppendJob.append(t, DataGen.generate(spark, 10, 7L, 2)
      .map(r => r.copy(image_id = "z-" + r.image_id)).toDF(), 1)
    assert(spark.sql("SELECT count(*) FROM qsrc_imgs").head().getLong(0) == 200)
    assert(spark.read.format("qtable").load(t.root).count() == 210)
    spark.catalog.dropTempView("qsrc_imgs")
  }

  test("SQL INSERT INTO a qtable view routes through the commit protocol") {
    val t = fresh(150)
    val v0 = t.currentVersion
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qins_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    import spark.implicits._
    DataGen.generate(spark, 7, 55L, 1)
      .map(r => r.copy(image_id = "ins-" + r.image_id)).toDF()
      .createOrReplaceTempView("qins_src")
    // 7-column by-position insert (pbucket derived, never user-set)
    spark.sql("INSERT INTO qins_imgs " +
      "SELECT image_id, bytes, w, h, fmt, caption, phash FROM qins_src")
    // a real append COMMIT: version advanced, rows visible via the
    // library read, manifests/stats harvested (describe-able)
    assert(t.currentVersion == v0 + 1)
    assert(t.currentSnapshot.operation == "append")
    assert(t.read().where(col("image_id").startsWith("ins-")).count() == 7)
    assert(t.entries(t.currentSnapshot).forall(_.rowCount > 0))

    // explicit column list: any order, mapped by name
    spark.sql("INSERT INTO qins_imgs (caption, image_id, phash, fmt, h, w, bytes) " +
      "SELECT caption, concat('byname-', image_id), phash, fmt, h, w, bytes " +
      "FROM qins_src")
    assert(t.read().where(col("image_id").startsWith("byname-")).count() == 7)

    // INSERT OVERWRITE must refuse (history-discarding), and the table
    // is untouched by the failed statement
    val vBefore = t.currentVersion
    val e = intercept[Exception] {
      spark.sql("INSERT OVERWRITE TABLE qins_imgs " +
        "SELECT image_id, bytes, w, h, fmt, caption, phash FROM qins_src")
    }
    assert(e.getMessage.contains("append-only"))
    assert(t.currentVersion == vBefore)
    spark.catalog.dropTempView("qins_imgs")
    spark.catalog.dropTempView("qins_src")
  }

  test("SQL DELETE FROM a qtable view routes through DeleteJob") {
    val t = fresh(400)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qdel_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    val v0 = t.currentVersion
    val preOther = t.read().where(!col("image_id").endsWith("7")).count()
    spark.sql("DELETE FROM qdel_imgs WHERE image_id LIKE '%7'")
    assert(t.currentVersion == v0 + 1)
    assert(t.currentSnapshot.operation == "delete")
    assert(t.read().where(col("image_id").endsWith("7")).count() == 0)
    assert(t.read().count() == preOther, "non-matching rows must survive")
    // the registered view is snapshot-isolated: it still reads pre-delete
    assert(spark.sql("SELECT count(*) FROM qdel_imgs").head().getLong(0) == 400)
    // a second DELETE through the SAME (now stale) view still works:
    // like the CLI, the command re-loads the table at head — the view
    // is only the name-resolution handle, never the target snapshot
    spark.sql("DELETE FROM qdel_imgs WHERE fmt = 'png'")
    assert(t.currentVersion == v0 + 2)
    assert(t.currentSnapshot.operation == "delete")
    assert(t.read().where(col("fmt") === "png").count() == 0)
    spark.catalog.dropTempView("qdel_imgs")
  }

  test("SQL UPDATE of a qtable view routes through UpdateJob") {
    val t = fresh(300)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qupd_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    val v0 = t.currentVersion
    val matched = t.read().where(col("fmt") === "png").count()
    spark.sql("UPDATE qupd_imgs SET caption = concat('sql: ', image_id), " +
      "w = w + 10 WHERE fmt = 'png'")
    assert(t.currentVersion == v0 + 1)
    assert(t.currentSnapshot.operation == "update")
    assert(t.currentSnapshot.summary("rows-updated").toLong == matched)
    assert(t.read().count() == 300, "UPDATE must preserve row count")
    assert(t.read().where(col("fmt") === "png" &&
      col("caption") =!= concat(lit("sql: "), col("image_id"))).count() == 0)
    // condition-less UPDATE through the same (stale) view still commits
    spark.sql("UPDATE qupd_imgs SET h = h + 1")
    assert(t.currentVersion == v0 + 2)
    spark.catalog.dropTempView("qupd_imgs")
  }

  test("SQL MERGE INTO a qtable view routes through MergeJob") {
    val t = fresh(300)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qm_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    // source: corrections for ~1/3 of the keys + 3 fresh full rows
    val upd = t.read().where(col("phash") % 3 === 0)
      .withColumn("caption", concat(lit("m: "), col("image_id")))
      .drop("pbucket")
    val nUpd = upd.count()
    val ins = graft.synth.DataGen.generate(spark, 3, 5L, 1).toDF()
      .withColumn("image_id", concat(lit("sqlm-"), col("image_id")))
      .drop("pbucket")
    upd.unionByName(ins).createOrReplaceTempView("qm_src")
    val v0 = t.currentVersion
    spark.sql("""MERGE INTO qm_imgs t USING qm_src s
      ON t.image_id = s.image_id
      WHEN MATCHED THEN UPDATE SET t.caption = s.caption
      WHEN NOT MATCHED THEN INSERT *""")
    assert(t.currentVersion == v0 + 1)
    assert(t.currentSnapshot.operation == "merge")
    assert(t.currentSnapshot.summary("rows-updated").toLong == nUpd)
    assert(t.currentSnapshot.summary("rows-inserted") == "3")
    assert(t.read().count() == 303)
    assert(t.read().where(col("phash") % 3 === 0 &&
      !col("image_id").startsWith("sqlm-") &&
      col("caption") =!= concat(lit("m: "), col("image_id"))).count() == 0)
    spark.catalog.dropTempView("qm_src")
    spark.catalog.dropTempView("qm_imgs")
  }

  test("SQL MERGE without NOT MATCHED ignores unmatched; DELETE clause fires") {
    val t = fresh(200)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qm2_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    // matched rows: kill flagged ones, refresh the rest; plus one
    // unmatched row that must NOT insert (no NOT MATCHED clause)
    val src = t.read().limit(8)
      .select(col("image_id"), concat(lit("d: "), col("image_id")).as("caption"),
        (col("phash") % 2 === 0).as("kill"))
      .unionByName(spark.sql(
        "SELECT 'ghost-row' image_id, 'x' caption, true kill"))
    src.createOrReplaceTempView("qm2_src")
    val nKill = src.where(col("kill") && col("image_id") =!= "ghost-row").count()
    spark.sql("""MERGE INTO qm2_imgs t USING qm2_src s
      ON t.image_id = s.image_id
      WHEN MATCHED AND s.kill THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.caption = s.caption""")
    assert(t.read().count() == 200 - nKill, "kills applied, ghost not inserted")
    assert(t.read().where(col("caption").startsWith("d: ")).count() == 8 - nKill)
    // unsupported shape is refused with the supported-grammar message
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO qm2_imgs t USING qm2_src s
        ON t.caption = s.caption
        WHEN MATCHED THEN UPDATE SET t.caption = s.caption""")
    }
    assert(e.getMessage.contains("unsupported merge condition") ||
      Option(e.getCause).exists(_.getMessage.contains("unsupported merge condition")),
      s"got: ${e.getMessage}")
    spark.catalog.dropTempView("qm2_src")
    spark.catalog.dropTempView("qm2_imgs")
  }

  test("write.update.mode=merge-on-read routes SQL UPDATE to MOR") {
    val t = fresh(200)
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qmor_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    spark.sql("UPDATE qmor_imgs SET caption = 'mor' WHERE fmt = 'png'")
    assert(t.currentSnapshot.operation == "update")
    assert(t.currentSnapshot.summary("strategy") == "merge-on-read")
    assert(t.currentSnapshot.summary("files-rewritten") == "0")
    spark.catalog.dropTempView("qmor_imgs")
  }

  test("SQL VERSION AS OF / TIMESTAMP AS OF over a qtable view") {
    val t = fresh(100) // v1
    val ts1 = t.currentSnapshot.timestampMs
    AppendJob.append(t, DataGen.generate(spark, 20, 3L, 1).toDF()
      .withColumn("image_id", concat(lit("tt-"), col("image_id"))), 1) // v2
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qtt_imgs USING qtable " +
      s"OPTIONS (path '${t.root}')")
    assert(spark.sql("SELECT count(*) FROM qtt_imgs").head().getLong(0) == 120)
    assert(spark.sql("SELECT count(*) FROM qtt_imgs VERSION AS OF 1")
      .head().getLong(0) == 100)
    assert(spark.sql(
      s"SELECT count(*) FROM qtt_imgs TIMESTAMP AS OF ${ts1}")
      .head().getLong(0) == 100)
    // ISO-instant literal form
    val iso = java.time.Instant.ofEpochMilli(ts1).toString
    assert(spark.sql(
      s"SELECT count(*) FROM qtt_imgs TIMESTAMP AS OF '$iso'")
      .head().getLong(0) == 100)
    spark.catalog.dropTempView("qtt_imgs")
  }

  test("SQL INSERT into a time-traveled view is refused, not misrouted") {
    val t = fresh(100)
    AppendJob.append(t, DataGen.generate(spark, 10, 9L, 1).toDF(), 1)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qins_v1 USING qtable " +
      s"OPTIONS (path '${t.root}', version '1')")
    val v = t.currentVersion
    // the rule skips (no insertRoot marker); Spark's fallback insert
    // path then fails on the synthetic rootPaths — either way no commit
    intercept[Exception] {
      spark.sql("SELECT 1").sparkSession.sql(
        "INSERT INTO qins_v1 SELECT image_id, bytes, w, h, fmt, caption, phash " +
          "FROM qins_v1")
    }
    assert(t.currentVersion == v, "a time-traveled view must never take appends")
    spark.catalog.dropTempView("qins_v1")
  }

  test("pushdown: id-equality through the source prunes files via the manifest index") {
    val t = fresh(2000)
    new ClusterJob(t, targetFileBytes = 1L << 20).run()
    import spark.implicits._
    val id = t.read().select("image_id").orderBy("image_id")
      .limit(1000).as[String].collect().last
    val df = spark.read.format("qtable").load(t.root)
      .where(col("image_id") === id)
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val read = scans.head.metrics("numFiles").value
    val total = t.entries(t.currentSnapshot).size
    assert(total >= 4, s"fixture needs several files, got $total")
    assert(read < total,
      s"source scan read $read of $total files — manifest index not engaged")
  }

  test("SQL: an id lookup on a qtable view plans PointLookupExec and answers without a job") {
    val t = fresh(200)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW qsrc_lookup USING qtable " +
      s"OPTIONS (path '${t.root}')")
    val id = "img000000000042"
    val q = spark.sql(s"SELECT caption FROM qsrc_lookup WHERE image_id = '$id'")
    val (rows, jobs) = TestSpark.jobsDuring(q.collect().toSeq)
    assert(q.queryExecution.executedPlan.exists(_.isInstanceOf[PointLookupExec]),
      q.queryExecution.executedPlan.toString)
    assert(jobs.isEmpty, s"the lookup launched $jobs")
    assert(rows.map(_.getString(0)) == Seq(DataGen.caption(42, 42L)))
    assert(rows == t.read().where(col("image_id") === id).select("caption").rdd.collect().toSeq)
    spark.catalog.dropTempView("qsrc_lookup")
  }

  test("write side: mode(append).save is an AppendJob commit; other modes refused") {
    val t = fresh(100)                                         // v1
    import spark.implicits._
    DataGen.generate(spark, 30, 9L, 2)
      .map(r => r.copy(image_id = "w-" + r.image_id)).toDF()
      .write.format("qtable").mode("append").save(t.root)      // v2
    assert(t.currentVersion == 2)
    assert(t.currentSnapshot.operation == "append")
    assert(t.read().count() == 130)
    assert(spark.read.format("qtable").load(t.root)
      .where(col("image_id").startsWith("w-")).count() == 30)
    intercept[IllegalArgumentException] {
      DataGen.generate(spark, 1, 1L, 1).toDF()
        .write.format("qtable").mode("overwrite").save(t.root)
    }
  }

  test("streaming sink: writeStream.format(qtable) lands exactly-once appends") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = QTable.create(TestSpark.tmpDir("dsink"), spark, buckets = 2)
    val src = MemoryStream[graft.model.ImageRow]
    val q = src.toDF().writeStream
      .format("qtable")
      .option("checkpointLocation", TestSpark.tmpDir("dsink-ckpt"))
      .option("query-name", "dsink-spec")
      .start(t.root)
    try {
      src.addData(DataGen.generate(spark, 25, 3L, 2)
        .as[graft.model.ImageRow](
          org.apache.spark.sql.Encoders.product[graft.model.ImageRow])
        .collect().toSeq: _*)
      q.processAllAvailable()
      assert(t.read().count() == 25)
      val appends = t.listVersions.map(t.snapshotAt)
        .filter(_.summary.get("job-id").exists(_.startsWith("stream-dsink-spec-b")))
      assert(appends.size == 1, "one micro-batch, one snapshot")
    } finally q.stop()
    // unsupported shapes are refused up front
    intercept[IllegalArgumentException] {
      src.toDF().writeStream.format("qtable")
        .outputMode("complete")
        .option("checkpointLocation", TestSpark.tmpDir("dsink-ckpt2"))
        .start(t.root)
    }
  }

  test("renamed tables read through the decorated-scan fallback") {
    val t = fresh(50)
    t.addColumn("alt", "string")
    t.renameColumn("alt", "alt_text")
    val df = spark.read.format("qtable").load(t.root)
    assert(df.columns.contains("alt_text"))
    assert(df.count() == 50)
    assert(df.select("image_id").except(
      t.read().select("image_id")).count() == 0)
  }

  test("snapshots with live MOR deletes read through the fallback, filters apply") {
    val t = fresh(300)
    new graft.jobs.DeleteJob(t).run(col("image_id").endsWith("7"))
    assert(t.currentSnapshot.deleteFiles.nonEmpty, "fixture needs live deletes")
    val lib = t.read()
    val view = s"mor_${System.nanoTime()}"
    spark.sql(s"CREATE TEMPORARY VIEW $view USING qtable OPTIONS (path '${t.root}')")
    assert(spark.sql(s"SELECT count(*) FROM $view").head().getLong(0) == lib.count())
    // deleted rows are invisible through SQL; filters flow into the plan
    assert(spark.sql(
      s"SELECT count(*) FROM $view WHERE image_id LIKE '%7'").head().getLong(0) == 0)
    val pngSql = spark.sql(
      s"SELECT image_id FROM $view WHERE fmt = 'png'").count()
    assert(pngSql == lib.where(col("fmt") === "png").count())
    // DML through the fallback view still routes to the jobs at head
    val preCount = lib.count()
    spark.sql(s"DELETE FROM $view WHERE image_id LIKE '%3'")
    assert(t.currentSnapshot.operation == "delete")
    assert(t.read().where(col("image_id").endsWith("3")).count() == 0)
    assert(t.read().count() < preCount)
  }

  test("meta 'changes' serves the row-level CDC changelog in SQL") {
    val t = fresh(200)                                            // v1
    new MergeJob(t).run(
      DataGen.correctionsDF(spark, 200, 42L, inserts = 3))        // v2
    val view = s"chg_${System.nanoTime()}"
    spark.sql(s"CREATE TEMPORARY VIEW $view USING qtable OPTIONS " +
      s"(path '${t.root}', meta 'changes', from '1')")
    val byType = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM $view GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lib = t.readChanges(1L, 2L).groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == lib, s"SQL $byType vs library $lib")
    assert(byType("insert") == 3)
    assert(byType("update_postimage") == byType("update_preimage"))
  }

  test("CALL qtable.* procedures run maintenance from pure SQL") {
    val t = fresh(400)
    def call(sql: String): Map[String, String] = spark.sql(sql).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val pre = t.read()

    val c = call(s"CALL qtable.compact(table => '${t.root}', target_mb => 4)")
    assert(c("version") == "2")
    val (ok, bad) = graft.verify.ScanEquivalence.check(pre, t.read())
    assert(ok, s"$bad violations after CALL compact")

    val z = call(
      s"CALL qtable.cluster(table => '${t.root}', target_mb => 4, by => 'w,h')")
    assert(z("sort-order") == "w,h")
    assert(t.currentSnapshot.props("sort.order") == "w,h")

    val a = call(s"CALL qtable.analyze(table => '${t.root}')")
    assert(a("files").toInt > 0)

    call(s"CALL qtable.set_constraint(table => '${t.root}', " +
      "name => 'w-pos', expr => 'w > 0')")
    assert(t.currentSnapshot.props("constraint.w-pos") == "w > 0")

    call(s"CALL qtable.tag(table => '${t.root}', name => 'call-rel')")
    assert(Tags.list(t).exists(_.name == "call-rel"))
    call(s"CALL qtable.untag(table => '${t.root}', name => 'call-rel')")
    assert(!Tags.list(t).exists(_.name == "call-rel"))

    val e = call(
      s"CALL qtable.expire(table => '${t.root}', keep => 1, dry_run => true)")
    assert(e("dry-run") == "true")
    assert(t.currentSnapshot.version == 4, "dry-run must not expire")

    val cloneRoot = graft.TestSpark.tmpDir("call-clone")
    val cl = call(s"CALL qtable.clone(table => '${t.root}', " +
      s"target => '$cloneRoot/t')")
    assert(cl("source-version") == "4")
    assert(QTable(s"$cloneRoot/t", spark).read().count() == 400)

    // SQL-standard '' escapes inside a quoted CALL argument (r5 advice
    // fix): the stored predicate must carry SINGLE quotes and parse
    call(s"CALL qtable.set_constraint(table => '${t.root}', " +
      "name => 'fmt-known', expr => 'fmt IN (''png'', ''jpeg'')')")
    assert(t.currentSnapshot.props("constraint.fmt-known") ==
      "fmt IN ('png', 'jpeg')")
    call(s"CALL qtable.drop_constraint(table => '${t.root}', " +
      "name => 'fmt-known')")

    intercept[Exception] {
      spark.sql(s"CALL qtable.nope(table => '${t.root}')") }
    // a CALL outside the qtable namespace falls through to the delegate
    intercept[Exception] { spark.sql("CALL other.thing(1)") }
  }
}
