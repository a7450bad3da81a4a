package graft.format

import graft.TestSpark
import graft.jobs.AppendJob
import graft.synth.DataGen
import org.scalatest.funsuite.AnyFunSuite

class QTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("create / append / read roundtrip with footer-harvested stats") {
    val root = TestSpark.tmpDirUri("qtable-rt")
    val t = QTable.create(root, spark, buckets = 4)
    assert(t.currentVersion == 0)
    assert(t.currentSnapshot.operation == "create")

    val rows = DataGen.generate(spark, 300, seed = 42L, parallelism = 4).toDF()
    val snap = AppendJob.append(t, rows, filesPerBucket = 3)
    assert(snap.version == 1)
    val entries = t.entries(snap)
    assert(entries.nonEmpty)
    assert(entries.map(_.rowCount).sum == 300)
    // stats sanity: buckets within range, id ranges ordered
    entries.foreach { e =>
      assert(e.pbucketMin >= 0 && e.pbucketMax < 4)
      assert(e.imageIdMin <= e.imageIdMax)
      assert(e.phashMin <= e.phashMax)
      assert(e.byteCount > 0)
    }
    val back = t.read(snap)
    assert(back.count() == 300)
    assert(back.columns.toSet ==
      Set("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "pbucket"))
    // multiple small files per bucket => compaction has work
    assert(entries.size >= 8, s"expected many files, got ${entries.size}")
  }

  test("optimistic concurrency: stale parent commit fails") {
    val root = TestSpark.tmpDirUri("qtable-occ")
    val t = QTable.create(root, spark, buckets = 2)
    val base = t.currentSnapshot
    AppendJob.append(t, DataGen.generate(spark, 20, 42L, 2).toDF()) // v1
    intercept[CommitConflictException] {
      t.commit(Some(base), "append", Nil) // base is stale (v0), table at v1
    }
  }

  test("planFiles prunes by bucket and phash range") {
    val root = TestSpark.tmpDirUri("qtable-prune")
    val t = QTable.create(root, spark, buckets = 4)
    val snap = AppendJob.append(t, DataGen.generate(spark, 400, 42L, 4).toDF(),
      filesPerBucket = 2)
    val all = t.entries(snap)
    val b0 = t.planFiles(snap, bucket = Some(0))
    assert(b0.nonEmpty && b0.size < all.size)
    assert(b0.forall(f => f.pbucketMin <= 0 && f.pbucketMax >= 0))
    // a phash range matching only one file's stats prunes the rest
    val probe = all.head
    val pr = t.planFiles(snap, phashRange = Some((probe.phashMin, probe.phashMin)))
    assert(pr.exists(_.path == probe.path))
    assert(pr.size <= all.size)
  }

  test("distributed footer harvest equals the driver-side loop") {
    val root = TestSpark.tmpDirUri("qtable-dharv")
    val t = QTable.create(root, spark, buckets = 4)
    AppendJob.append(t, DataGen.generate(spark, 200, 42L, 4).toDF(), filesPerBucket = 4)
    val conf = t.hadoopConf
    val files = ParquetStats.listParquetFiles(t.dataDir, conf)
    assert(files.size >= 16)
    val driverSide = ParquetStats.entriesFor(files, conf)
    // threshold forced below the batch size => the Spark-job path runs
    val sparkSide = ParquetStats.entriesFor(files, spark, conf, threshold = 4)
    assert(sparkSide == driverSide)
    // and above the batch size => the driver path runs, same answer
    assert(ParquetStats.entriesFor(files, spark, conf, threshold = 10000) == driverSide)
  }

  test("version listing and snapshot lineage chain") {
    val root = TestSpark.tmpDirUri("qtable-vers")
    val t = QTable.create(root, spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, 30, 42L, 2).toDF())
    AppendJob.append(t, DataGen.generate(spark, 30, 43L, 2).toDF())
    assert(t.listVersions == Seq(0L, 1L, 2L))
    assert(t.snapshotAt(2).parentVersion == 1L)
    assert(t.snapshotAt(1).parentVersion == 0L)
  }
}
