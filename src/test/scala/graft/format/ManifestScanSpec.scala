package graft.format

import graft.TestSpark
import graft.TestSpark.jobsDuring
import graft.jobs.{AppendJob, CompactJob}
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every table read plans from manifest entries: building a read launches
  * no Spark job however many files the snapshot holds (no filesystem
  * listing), a data file that vanished out of band fails reads and
  * rewrites loudly, and two reads of one snapshot are the same relation
  * to Catalyst. */
class ManifestScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A table whose only snapshot holds more files than Spark's parallel
    * listing threshold (32 paths) — the shape where a path-based read
    * launched a one-task-per-file listing job. */
  private def manyFileTable(): QTable = {
    val t = QTable.create(TestSpark.tmpDir("qms"), spark, buckets = 4)
    AppendJob.append(t, DataGen.generate(spark, 600, 11L, 8).toDF(), filesPerBucket = 10)
    val n = t.entries(t.currentSnapshot).size
    assert(n > 32, s"need more files than the listing threshold, got $n")
    t
  }

  test("building read(s) over more than 32 files launches no job") {
    val t = manyFileTable()
    val s = t.currentSnapshot
    val (_, jobs) = jobsDuring(t.read(s))
    assert(jobs.isEmpty, s"read(s) launched ${jobs.size} job(s): $jobs")
  }

  test("scan equivalence over a many-file snapshot runs no listing job") {
    val t = manyFileTable()
    val pre = t.currentSnapshot
    val files = t.entries(pre).size
    new CompactJob(t, targetFileBytes = 1L << 20).run()
    val post = t.currentSnapshot
    // a low open cost packs many small files into each scan task, so a
    // stage with exactly one task per input file can only be a per-path
    // listing job
    val sess = spark.newSession()
    sess.conf.set("spark.sql.files.openCostInBytes", (8L << 10).toString)
    val ts = QTable(t.root, sess)
    val ((ok, bad), jobs) =
      jobsDuring(ScanEquivalence.check(ts.read(pre), ts.read(post)))
    assert(ok, s"$bad violations")
    assert(jobs.nonEmpty, "the check itself must have run")
    val listing = jobs.filter { case (desc, stages) =>
      desc.contains("Listing leaf files") || stages.contains(files) }
    assert(listing.isEmpty, s"listing job(s) over the $files-file snapshot: $listing")
  }

  test("a data file deleted out of band fails reads and rewrites, naming the file") {
    assert(!spark.conf.get("spark.sql.files.ignoreMissingFiles").toBoolean)
    val t = manyFileTable()
    val s = t.currentSnapshot
    val victim = t.entries(s).head
    val hp = new HPath(victim.path)
    assert(hp.getFileSystem(t.hadoopConf).delete(hp, false))
    val name = QTable.fileName(victim.path)
    def failsNaming(what: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString(" | ")
      assert(messages.contains(name), s"$what failed without naming $name: $messages")
    }
    failsNaming("read().count()")(t.read().count())
    // the victim's own minimum id: stats skipping keeps exactly the file
    // that must be opened
    failsNaming("readIndexed lookup")(
      t.readIndexed()._1.where(col("image_id") === victim.imageIdMin).count())
    failsNaming("CompactJob.run")(new CompactJob(t, targetFileBytes = 1L << 20).run())
    assert(t.currentSnapshot.version == s.version, "a failed compaction must not commit")
  }

  test("a self-join of two reads of one snapshot reuses the exchange") {
    val t = manyFileTable()
    val s = t.currentSnapshot
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val ts = QTable(t.root, sess)
    val joined = ts.read(s).join(ts.read(s), "image_id")
    val plan = joined.queryExecution.executedPlan
    assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty,
      s"no reused exchange — the two reads did not match:\n$plan")
    assert(joined.count() == t.read(s).count())
  }
}
