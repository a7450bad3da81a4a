package graft.jobs

import graft.TestSpark
import graft.format.QTable
import graft.model.Snapshot
import graft.synth.DataGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** Every writing job run twice with ONE job id on overlapping rows. The
  * second run's output directory names the first run's, which by then
  * holds live table files: a writer that cleared its directory before
  * writing deleted them. Each case asserts that every data, delete and
  * equality-delete file of the current snapshot exists and the table
  * reads, after both runs, and that the second run either commits or
  * (append) refuses loudly, leaving the snapshot as it was. */
class JobIdReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Id = "reused"

  /** A job run: the table and the run's ordinal (1 or 2). `added`:
    * the rows a second run adds, where the job conserves rows. */
  private case class Reuse(job: String, run: (QTable, Int) => Snapshot,
      refuses: Boolean = false, added: Option[Long] = None)

  /** One bucket and two files, so every rewrite plans the same group
    * name in both runs. */
  private def table(): QTable = {
    val t = QTable.create(TestSpark.tmpDir("reuse"), spark, buckets = 1)
    AppendJob.append(t, DataGen.generate(spark, 400, 42L, 4).toDF(), filesPerBucket = 2)
    t
  }

  /** ~1% caption corrections of existing ids plus two inserts: the
    * second run matches the first run's outputs, inserts included. */
  private def corrections = DataGen.correctionsDF(spark, 400, 42L, inserts = 2)
  private val sets = Seq("caption" -> concat(lit("u: "), col("caption")))
  private val pngs = col("fmt") === "png"

  private val cases = Seq(
    Reuse("merge (copy-on-write)", (t, _) => new MergeJob(t, Id).run(corrections)),
    Reuse("merge (merge-on-read)", (t, _) =>
      new MergeJob(t, Id, mergeOnRead = true).run(corrections)),
    Reuse("update (copy-on-write)", (t, _) => new UpdateJob(t, Id).run(sets, pngs)),
    Reuse("update (merge-on-read)", (t, _) =>
      new UpdateJob(t, Id, mergeOnRead = true).run(sets, pngs)),
    Reuse("upsert", (t, _) => new UpsertJob(t, Id).run(corrections)),
    // ids ending in 7 both times (dead after the first), plus new ones
    Reuse("delete --where", (t, i) => new DeleteJob(t, Id).run(
      col("image_id").endsWith("7") || col("image_id").endsWith(i.toString))),
    Reuse("rewrite-deletes", { (t, i) =>
      new DeleteJob(t).run(col("image_id").endsWith(i.toString))
      new DeleteJob(t).run(col("image_id").endsWith((i + 4).toString))
      new RewriteDeletesJob(t, Id).run()
    }),
    Reuse("rebucket", (t, _) => new RebucketJob(t,
      newBuckets = if (t.currentSnapshot.buckets == 1) 2 else 1, jobId = Id).run(),
      added = Some(0L)),
    // fresh small files each time, so the second run has work in b0
    Reuse("compact", { (t, i) =>
      AppendJob.append(t, DataGen.generate(spark, 100, 7L + i, 2).toDF(), filesPerBucket = 2)
      new CompactJob(t, 8L << 20, jobId = Id, minGroupBytes = 1L).run()
    }, added = Some(100L)),
    Reuse("cluster", (t, _) =>
      new ClusterJob(t, 8L << 20, jobId = Id, minGroupBytes = 1L).run(),
      added = Some(0L)),
    Reuse("append", (t, i) => AppendJob.append(t,
      DataGen.generate(spark, 50, 7L + i, 2).toDF(), jobId = Id),
      refuses = true, added = Some(0L)))

  /** Every file the current snapshot references exists, and it reads. */
  private def assertIntact(t: QTable, after: String): Unit = {
    val s = t.currentSnapshot
    val missing = (t.entries(s).map(_.path) ++ s.deleteFiles.map(_.path) ++
        s.eqDeleteFiles.map(_.path))
      .filterNot(p => new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath).exists)
    assert(missing.isEmpty, s"after $after, live files are gone: $missing")
    assert(t.read(s).count() > 0, s"after $after, the table reads no rows")
  }

  cases.foreach { c =>
    test(s"reused job id: ${c.job}") {
      val t = table()
      c.run(t, 1)
      assert(t.currentSnapshot.summary.get("job-id").contains(Id),
        "the first run committed nothing")
      assertIntact(t, "the first run")
      val (v1, rows1) = (t.currentVersion, t.read().count())
      val second = Try(c.run(t, 2))
      assertIntact(t, "the second run")
      c.added.foreach(n => assert(t.read().count() == rows1 + n, "rows lost or gained"))
      if (c.refuses)
        assert(second.isFailure && t.currentVersion == v1,
          s"the second run must refuse and commit nothing: $second")
      else {
        assert(second.isSuccess, s"the second run failed: ${second.fold(_.toString, _ => "")}")
        assert(t.currentVersion > v1 && t.currentSnapshot.summary.get("job-id").contains(Id),
          "the second run committed nothing")
      }
    }
  }
}
