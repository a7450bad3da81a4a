package graft.format

import graft.TestSpark
import graft.jobs._
import graft.model.DataFileEntry
import graft.synth.DataGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row lineage (Iceberg v3 `_row_id` analogue): enable-row-lineage
  * stamps every live file's id range, commits stamp fresh entries from
  * the snapshot's nextRowId, rows read ids `firstRowId + position`
  * unless a rewrite materialized them — which is what makes ids SURVIVE
  * re-sorts. Updates keep their id, inserts get fresh ones, rollback
  * never reuses ranges, cherry-picked rows are re-issued from main's
  * high-water mark. */
class RowLineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def prefixed(n: Long, seed: Long, tag: String) =
    DataGen.generate(spark, n, seed, 2).toDF()
      .withColumn("image_id", concat(lit(tag + "-"), col("image_id")))

  private def idMap(t: QTable): Map[String, Long] =
    t.readWithRowId().select("image_id", "_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("enable stamps live files; ids are unique, dense, and extend on append") {
    val t = QTable.create(TestSpark.tmpDir("rl1"), spark, buckets = 2)
    AppendJob.append(t, prefixed(100, 1L, "a"), filesPerBucket = 2)
    val en = t.enableRowLineage()
    assert(en.rowLineage && en.nextRowId == 100L)
    assert(t.entries(en).forall(_.firstRowId >= 0L))

    val m1 = idMap(t)
    assert(m1.values.toSeq.sorted == (0L until 100L))

    AppendJob.append(t, prefixed(40, 2L, "b"))
    val s2 = t.currentSnapshot
    assert(s2.nextRowId == 140L)
    val m2 = idMap(t)
    assert(m2.values.toSeq.distinct.size == 140)
    // pre-existing rows keep their ids; new rows take the next range
    assert(m1.forall { case (k, v) => m2(k) == v })
    assert(m2.filter(_._1.startsWith("b-")).values.forall(v => v >= 100L && v < 140L))
    // plain read() stays id-free (hidden column)
    assert(!t.read().columns.contains("_row_id"))
  }

  test("compact, cluster, and rebucket preserve ids exactly (materialization)") {
    val t = QTable.create(TestSpark.tmpDir("rl2"), spark, buckets = 2)
    AppendJob.append(t, prefixed(200, 3L, "a"), filesPerBucket = 3)
    t.enableRowLineage()
    val before = idMap(t)

    new CompactJob(t, targetFileBytes = 8L << 20).run()
    assert(idMap(t) == before, "compact must not move ids")
    new ClusterJob(t, targetFileBytes = 8L << 20).run()
    assert(idMap(t) == before, "a re-sort must not move ids")
    new RebucketJob(t, newBuckets = 4).run()
    assert(idMap(t) == before, "rebucket must not move ids")
    // rewritten files carry MATERIALIZED ids: raw scan shows stored values
    val s = t.currentSnapshot
    val ext = org.apache.spark.sql.types.StructType(s.physicalSchema.fields :+
      org.apache.spark.sql.types.StructField("_row_id",
        org.apache.spark.sql.types.LongType, nullable = true))
    val stored = t.scan(t.entries(s), ext)
    assert(stored.where(col("_row_id").isNull).count() == 0)
  }

  test("merge: updates keep their id, inserts get fresh ones, deletes vanish (CoW and MOR)") {
    for (mor <- Seq(false, true)) {
      val t = QTable.create(TestSpark.tmpDir(s"rl3$mor"), spark, buckets = 2)
      AppendJob.append(t, prefixed(120, 4L, "a"), filesPerBucket = 2)
      t.enableRowLineage()
      val before = idMap(t)
      val updKeys = before.keys.filter(_.endsWith("1")).toSeq.sorted.take(10)
      val src = prefixed(120, 4L, "a").where(col("image_id").isin(updKeys: _*))
        .withColumn("caption", concat(lit("upd "), col("image_id")))
        .withColumn("is_delete", lit(false))
        .drop("pbucket")
        .unionByName(prefixed(5, 5L, "ins").drop("pbucket")
          .withColumn("is_delete", lit(false)))
        .unionByName(prefixed(120, 4L, "a")
          .where(col("image_id").endsWith("2")).limit(4).drop("pbucket")
          .withColumn("is_delete", lit(true)))
      new MergeJob(t, deleteCol = Some("is_delete"), mergeOnRead = mor).run(src)
      val after = idMap(t)
      // updated rows: same id as before
      updKeys.foreach(k => assert(after(k) == before(k),
        s"update must keep the row id (mor=$mor)"))
      // inserts: fresh ids above the pre-merge high-water mark
      val insIds = after.filter(_._1.startsWith("ins-")).values
      assert(insIds.size == 5 && insIds.forall(_ >= 120L))
      // uniqueness across the whole table
      assert(after.values.toSeq.distinct.size == after.size)
      // deleted keys are gone
      assert(after.keys.count(_.startsWith("a-")) == 120 - 4)
    }
  }

  test("position deletes keep survivors' ids; rollback never reuses ranges") {
    val t = QTable.create(TestSpark.tmpDir("rl4"), spark, buckets = 2)
    AppendJob.append(t, prefixed(80, 6L, "a"), filesPerBucket = 1)
    t.enableRowLineage()
    val enableV = t.currentVersion
    val before = idMap(t)
    new DeleteJob(t).run(col("image_id").endsWith("3"))
    val after = idMap(t)
    assert(after.forall { case (k, v) => before(k) == v })
    assert(!after.keys.exists(_.endsWith("3")))

    // ordinary rollback: ids of the restored rows return, and a NEW
    // append draws from the head's high-water mark, never reusing ranges
    AppendJob.append(t, prefixed(20, 7L, "b"))
    val hwm = t.currentSnapshot.nextRowId
    new RollbackJob(t).run(enableV)
    assert(t.currentSnapshot.nextRowId == hwm,
      "rollback must carry the head's nextRowId")
    AppendJob.append(t, prefixed(10, 8L, "c"))
    val m = idMap(t)
    assert(m.filter(_._1.startsWith("c-")).values.forall(_ >= hwm))
    assert(m.values.toSeq.distinct.size == m.size)

    // rollback across the enable commit refuses
    intercept[IllegalArgumentException](new RollbackJob(t).run(1L))
  }

  test("cherry-pick re-issues ids from main's high-water mark") {
    val t = QTable.create(TestSpark.tmpDir("rl5"), spark, buckets = 2)
    AppendJob.append(t, prefixed(60, 9L, "a"), filesPerBucket = 1)
    t.enableRowLineage()
    Branches.create(t, "feed")
    val dev = t.onBranch("feed")
    AppendJob.append(dev, prefixed(25, 10L, "cp"))
    val pickV = dev.currentVersion
    // main advances: its ids overlap the branch's independent range
    AppendJob.append(t, prefixed(25, 11L, "m"))
    new CherryPickJob(t).run(pickV)
    val m = idMap(t)
    assert(m.size == 110 && m.values.toSeq.distinct.size == 110,
      "adopted branch ids must not collide with main's")
    assert(m.filter(_._1.startsWith("cp-")).values.forall(_ >= 85L),
      "picked rows draw fresh ids above main's high-water mark")
  }

  test("lineage off: readWithRowId refuses, nothing else changes") {
    val t = QTable.create(TestSpark.tmpDir("rl6"), spark, buckets = 2)
    AppendJob.append(t, prefixed(10, 12L, "a"))
    intercept[IllegalArgumentException](t.readWithRowId())
    assert(!t.read().columns.contains("_row_id"))
    assert(t.entries(t.currentSnapshot)
      .forall(_.firstRowId == DataFileEntry.UnstampedRowId))
  }
}
