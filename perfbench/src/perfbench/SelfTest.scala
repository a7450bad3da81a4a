package perfbench

import graft.format.QTable
import graft.jobs.{AppendJob, CompactJob}
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Shows that the benchmark's correctness checks catch a corrupted table:
  * after a compaction, one caption in one output file is altered on disk.
  * The scan-equivalence check must then report a violation, and the
  * lookup check must flag the id, where both passed before the change. */
object SelfTest {
  def run(ctx: Ctx): (Boolean, String) = ctx.withSession(4) { spark =>
    Main.delTree(ctx.stageDir)
    val t = QTable.create(ctx.stageDir.toString, spark, 4)
    AppendJob.append(t, DataGen.generate(spark, 64, 42L, 0, Array(16)).toDF(), 4)
    val pre = t.currentSnapshot
    val post = new CompactJob(t, 16L << 20).run()
    val (_, clean) = ScanEquivalence.check(t.read(pre), t.read(post))

    val victim = t.entries(post).head.path
    val file = spark.read.parquet(victim)
    val id = file.select("image_id").head().getString(0)
    val caption = DataGen.caption(id.drop(3).toLong, 42L)
    val tmp = ctx.runDir.resolve("altered")
    file.withColumn("caption",
      when(col("image_id") === id, concat(col("caption"), lit(" (altered)")))
        .otherwise(col("caption")))
      .coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val target = Paths.get(victim)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    // the local filesystem's checksum file would reject the new bytes
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))

    val (_, altered) = ScanEquivalence.check(t.read(pre), t.read(post))
    val before = ctx.failed
    ctx.lookup(t, id, caption)
    val flagged = ctx.failed - before
    // the deliberate failure is the expected outcome, not a run failure
    ctx.failed = before
    ctx.problems.clear()
    val ok = clean == 0 && altered >= 1 && flagged == 1
    if (!ok) ctx.fail(s"self-test: clean=$clean altered=$altered lookup-flagged=$flagged")
    (ok, Main.result(ctx, Seq("clean_violations" -> clean.toDouble,
      "altered_violations" -> altered.toDouble, "lookup_flagged" -> flagged.toDouble),
      Seq("altered_id" -> id)))
  }
}
