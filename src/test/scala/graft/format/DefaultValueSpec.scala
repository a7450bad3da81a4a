package graft.format

import graft.TestSpark
import graft.jobs.{AppendJob, CompactJob, DeleteJob, MergeJob, StatsAggregate}
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Initial defaults on addColumn (Iceberg v3 `initial-default` analogue):
  * rows that existed before the column did surface the default; rows
  * written after store real values — INCLUDING explicit nulls, which
  * stay null (not a coalesce). The pre/post decision is per FILE via the
  * data sequence number, so rewrites must BAKE the default into their
  * output (their files postdate the add-column commit) and reads go
  * substitution-free once maintenance catches up. */
class DefaultValueSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 60 pre-evolution rows, then views:int default 7, then 30 explicit
    * rows of which the "nul-" third store an explicit NULL. */
  private def fixture(prefix: String): QTable = {
    val t = QTable.create(TestSpark.tmpDir(prefix), spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, 60, 42L, 2).toDF(), 2) // v1
    t.addColumn("views", "int", Some("7")) // v2, metadata-only
    AppendJob.append(t, explicit, 1) // v3
    t
  }

  private def explicit =
    DataGen.generate(spark, 30, 99L, 1).toDF()
      .withColumn("image_id", concat(lit("new-"), col("image_id")))
      .withColumn("views",
        when(pmod(xxhash64(col("image_id")), lit(3)) === 0, lit(null))
          .otherwise(lit(100)).cast("int"))

  test("old rows surface the default; explicit nulls stay null") {
    val t = fixture("dv1")
    val snap = t.currentSnapshot
    val f = snap.schemaFields.find(_.name == "views").get
    assert(f.defaultOpt.contains("7"))
    assert(f.defaultSeq == 2L, "defaultSeq must be the add-column commit")
    assert(t.entries(snap).count(_.seq < f.defaultSeq) > 0,
      "fixture must hold live pre-evolution files")

    val df = t.read()
    assert(df.where(col("image_id").startsWith("img") &&
      col("views") === 7).count() == 60, "pre-evolution rows read the default")
    val explicitNulls = df.where(col("image_id").startsWith("new-") &&
      col("views").isNull).count()
    assert(explicitNulls > 0, "fixture must store some explicit nulls")
    assert(df.where(col("views").isNull).count() == explicitNulls,
      "only explicitly-stored nulls stay null")
    // the filter-pushdown trap: a predicate on the defaulted column must
    // match the substituted rows (a pushed physical filter would drop
    // every pre-evolution row before substitution)
    assert(t.read().where(col("views") === 7).count() == 60)
    assert(t.read().where(col("views") === 100).count() ==
      30 - explicitNulls)
    // time travel: the pre-add snapshot has no such column at all
    assert(!t.read(t.snapshotAt(1L)).columns.contains("views"))
  }

  test("rewrites bake the default in; reads go substitution-free") {
    val t = fixture("dv2")
    val pre = t.read()
    new CompactJob(t, targetFileBytes = 8L << 20).run()
    // compact may carry already-sized files by reference; a rebucket is
    // a guaranteed whole-table rewrite -> steady state in one commit
    val c = new graft.jobs.RebucketJob(t, newBuckets = 4).run()
    val (ok, bad) = ScanEquivalence.check(pre, t.read(c))
    assert(ok, s"$bad violations rewriting across a live default")
    // every output file postdates the add-column commit -> steady state
    val f = c.schemaFields.find(_.name == "views").get
    assert(t.entries(c).forall(_.seq >= f.defaultSeq))
    // the default is now PHYSICAL: a raw undecorated scan of the
    // rewritten files (no substitution) shows the stored 7s
    val raw = t.scan(t.entries(c), c.physicalSchema)
    assert(raw.where(col(f.phys) === 7).count() == 60)
    // and the decorated read is the identity pass-through again: no
    // per-file constant referenced, no join
    val plan = t.read(c).queryExecution.optimizedPlan
    assert(!plan.toString.contains("_metadata"), s"steady-state read uses metadata:\n$plan")
    assert(plan.collectFirst { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      s"steady-state read joins:\n$plan")
  }

  test("merge CoW rewrite of a matched pre-evolution file keeps defaults") {
    val t = fixture("dv3")
    val pre = t.read()
    val hit = pre.where(col("image_id").startsWith("img"))
      .select("image_id").limit(5).collect().map(_.getString(0)).toSeq
    val corrections = pre.where(col("image_id").isin(hit: _*))
      .withColumn("caption", concat(lit("fixed "), col("image_id")))
    new MergeJob(t).run(corrections)
    val post = t.read()
    // the rewritten file's untouched columns carry the BAKED default
    assert(post.where(col("image_id").isin(hit: _*) &&
      col("views") === 7).count() == 5)
    assert(post.where(col("views") === 7).count() == 60)
    // CDC images across the merge surface the default too
    val changes = t.readChanges(3L, t.currentVersion)
    assert(changes.where(col("_change_type") === "update_postimage" &&
      col("views") =!= 7).count() == 0)
  }

  test("DELETE where col = default drops pre-evolution files at METADATA level") {
    val t = fixture("dv4")
    val preFiles = {
      val f = t.currentSnapshot.schemaFields.find(_.name == "views").get
      t.entries(t.currentSnapshot).count(_.seq < f.defaultSeq)
    }
    val del = new DeleteJob(t).run(col("views") === 7)
    // every pre-evolution file is PROVEN all-default by the virtual
    // stats (min = max = 7, zero nulls) -> whole-file metadata drops,
    // zero delete rows written (b2's explicit rows are 100s and nulls)
    assert(del.summary("files-dropped").toInt == preFiles)
    assert(del.summary.get("total-delete-files").forall(_ == "0"))
    val post = t.read()
    assert(post.where(col("views") === 7).count() == 0)
    assert(post.where(col("image_id").startsWith("img")).count() == 0,
      "every pre-evolution row matched the default and must be gone")
    assert(post.where(col("image_id").startsWith("new-")).count() == 30,
      "explicit rows (100s and nulls) must survive")
  }

  test("metadata aggregates answer a live default with ZERO scans") {
    val t = fixture("dv5")
    val r = StatsAggregate.run(t, t.currentSnapshot, Seq("views"))
    val row = r.df.collect().head
    val explicitNulls = t.read().where(col("views").isNull).count()
    assert(row.getAs[Long]("count_star") == 90L)
    assert(row.getAs[Long]("views_count") == 90L - explicitNulls)
    assert(row.getAs[Int]("views_min") == 7)
    assert(row.getAs[Int]("views_max") == 100)
    // pre-evolution files answer from virtual default stats, explicit
    // files from their harvested stats + exact null counts
    assert(r.filesScanned == 0,
      s"expected pure-metadata answer, scanned ${r.filesScanned}")
  }

  test("incremental scan surfaces defaults for pre-evolution appends") {
    val t = fixture("dv6")
    // (v0, v1] = the pre-evolution append, read under the head schema
    val inc = t.readIncremental(0L, t.currentVersion)
    assert(inc.where(col("views") === 7).count() == 60)
  }

  test("defaults and row ids read as projections: no join, no broadcast") {
    val t = fixture("dv8")
    t.enableRowLineage()
    val snap = t.currentSnapshot
    val f = snap.schemaFields.find(_.name == "views").get
    assert(t.entries(snap).exists(_.seq < f.defaultSeq),
      "fixture must hold live pre-evolution files")
    // the model: pre-evolution rows read the default, later rows their
    // stored values; the ids are the stamped ranges, 0 until 90
    val model = DataGen.generate(spark, 60, 42L, 2).toDF()
      .select(col("image_id"), lit(7).as("views"))
      .unionByName(explicit.select("image_id", "views"))
    for (df <- Seq(t.read(), t.readWithRowId())) {
      val views = df.select("image_id", "views")
      assert(views.exceptAll(model).isEmpty && model.exceptAll(views).isEmpty)
      df.collect()
      val logical = df.queryExecution.optimizedPlan
      assert(logical.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
        s"the decorated read joins:\n$logical")
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Broadcast"), s"the decorated read broadcasts:\n$physical")
    }
    val ids = t.readWithRowId().select("_row_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 90L))
  }

  test("validation: bad literals and unsupported types fail the ALTER") {
    val t = QTable.create(TestSpark.tmpDir("dv7"), spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, 10, 1L, 1).toDF(), 1)
    intercept[NumberFormatException](t.addColumn("n", "int", Some("seven")))
    intercept[IllegalArgumentException](
      t.addColumn("b", "binary", Some("00")))
    // failed ALTERs must not have committed
    assert(t.currentVersion == 1L)
  }
}
