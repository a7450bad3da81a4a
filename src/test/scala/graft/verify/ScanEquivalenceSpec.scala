package graft.verify

import graft.TestSpark
import graft.codec.{ImageCodec, Psnr}
import graft.format.QTable
import graft.jobs.{AppendJob, ClusterJob, CompactJob, MergeJob}
import graft.synth.DataGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sampled verify mode: deterministic keyed sampling selects the
  * SAME ids on both sides, so equivalence checking stays sound inside
  * the sample — the 100 TB alternative to shuffling the fat bytes
  * column of the whole table twice. */
class ScanEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(n: Long) = DataGen.generate(spark, n, 42L, 4).toDF().cache()

  test("keyed sample picks the same id subset on both sides, clean pair passes") {
    val df = rows(2000)
    val frac = 0.2
    val sampled = ScanEquivalence.keyedSample(df, frac).count()
    // hash-uniform: ~frac of rows, generous tolerance
    assert(sampled > 2000 * frac * 0.5 && sampled < 2000 * frac * 1.8,
      s"sample of $sampled rows is not ~${2000 * frac}")
    // identity comparison under sampling passes
    val (ok, bad) = ScanEquivalence.check(df, df, sampleFraction = frac)
    assert(ok, s"$bad violations on identical frames")
    df.unpersist()
  }

  test("corruption and missing rows INSIDE the sample are caught") {
    val df = rows(1000)
    val frac = 0.3
    // pick one id that IS in the keyed sample
    val victim = ScanEquivalence.keyedSample(df, frac)
      .select("image_id").orderBy("image_id").head().getString(0)
    val corrupted = df.withColumn("caption",
      when(col("image_id") === victim, lit("CORRUPTED")).otherwise(col("caption")))
    val v1 = ScanEquivalence.violations(df, corrupted, sampleFraction = frac)
      .collect()
    assert(v1.length == 1 && v1.head.getString(0) == victim &&
      v1.head.getString(1) == "caption_mismatch")
    // a sampled-out corruption is (by design) not seen at this fraction
    val outsider = df.join(ScanEquivalence.keyedSample(df, frac)
      .select("image_id"), Seq("image_id"), "left_anti")
      .select("image_id").orderBy("image_id").head().getString(0)
    val corruptedOutside = df.withColumn("caption",
      when(col("image_id") === outsider, lit("CORRUPTED")).otherwise(col("caption")))
    assert(ScanEquivalence.check(df, corruptedOutside, sampleFraction = frac)._1)
    // missing row inside the sample is caught as missing_in_post
    val missing = df.where(col("image_id") =!= victim)
    val v2 = ScanEquivalence.violations(df, missing, sampleFraction = frac).collect()
    assert(v2.length == 1 && v2.head.getString(1) == "missing_in_post")
    df.unpersist()
  }

  test("fraction 1.0 is the exact full check") {
    val df = rows(300)
    val (ok, bad) = ScanEquivalence.check(df, df, sampleFraction = 1.0)
    assert(ok && bad == 0)
    val (ok2, bad2) = ScanEquivalence.check(df, df.limit(299))
    assert(!ok2 && bad2 == 1)
    df.unpersist()
  }

  test("a caption or fmt that turns NULL, or stops being NULL, is a mismatch") {
    val df = rows(200)
    val Seq(a, b, c) = df.select("image_id").orderBy("image_id").head(3).map(_.getString(0)).toSeq
    def nulled(column: String, ids: String*) = df.withColumn(column,
      when(col("image_id").isin(ids: _*), lit(null).cast("string")).otherwise(col(column)))
    def issues(pre: org.apache.spark.sql.DataFrame, post: org.apache.spark.sql.DataFrame) =
      ScanEquivalence.violations(pre, post).collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val noCaptionA = nulled("caption", a)
    assert(issues(df, noCaptionA) == Set(a -> "caption_mismatch"), "value -> NULL")
    assert(issues(noCaptionA, df) == Set(a -> "caption_mismatch"), "NULL -> value")
    assert(issues(noCaptionA, noCaptionA).isEmpty, "NULL on both sides is equal")
    assert(ScanEquivalence.check(df, nulled("caption", b, c)) == ((false, 2L)))
    assert(issues(df, nulled("fmt", a)) == Set(a -> "fmt_mismatch"), "fmt value -> NULL")
    df.unpersist()
  }

  private def issues(pre: DataFrame, post: DataFrame): Seq[(String, String)] =
    ScanEquivalence.violations(pre, post).collect().map(r => r.getString(0) -> r.getString(1))
      .toSeq.sorted

  /** `df` with `column` of the row `id` replaced by `value`. */
  private def patched(df: DataFrame, id: String, column: String, value: org.apache.spark.sql.Column) =
    df.withColumn(column, when(col("image_id") === id, value).otherwise(col(column)))

  private def firstOf(df: DataFrame, fmt: String): String =
    df.where(col("fmt") === fmt).select("image_id").orderBy("image_id").head().getString(0)

  private def bytesOf(df: DataFrame, id: String): Array[Byte] =
    df.where(col("image_id") === id).select("bytes").head().getAs[Array[Byte]](0)

  test("one flipped byte in a png row is a png_bytes_mismatch") {
    val df = rows(200)
    val id = firstOf(df, "png")
    val flip = udf { (b: Array[Byte]) =>
      val c = b.clone(); c(c.length / 2) = (c(c.length / 2) ^ 1).toByte; c }
    val post = patched(df, id, "bytes", flip(col("bytes")))
    assert(issues(df, post) == Seq(id -> "png_bytes_mismatch"))
    assert(ScanEquivalence.check(df, post) == ((false, 1L)))
    // a NULL fmt has no lossy codec to excuse a difference
    val noFmt = patched(df, id, "fmt", lit(null).cast("string"))
    assert(issues(noFmt, patched(noFmt, id, "bytes", flip(col("bytes")))) ==
      Seq(id -> "png_bytes_mismatch"))
    df.unpersist()
  }

  test("a changed caption, a dropped row and a duplicated row keep their labels") {
    val df = rows(200)
    val Seq(a, b, c) = df.select("image_id").orderBy("image_id").head(3).map(_.getString(0)).toSeq
    val recaptioned = patched(df, a, "caption", lit("changed"))
    assert(issues(df, recaptioned) == Seq(a -> "caption_mismatch"))
    assert(ScanEquivalence.check(df, recaptioned) == ((false, 1L)))
    val dropped = df.where(col("image_id") =!= b)
    assert(issues(df, dropped) == Seq(b -> "missing_in_post"))
    assert(ScanEquivalence.check(df, dropped) == ((false, 1L)))
    // the extra copy has no pre row to stand for
    val duplicated = df.unionByName(df.where(col("image_id") === c))
    assert(issues(df, duplicated) == Seq(c -> "missing_in_pre"))
    assert(ScanEquivalence.check(df, duplicated) == ((false, 1L)))
    df.unpersist()
  }

  test("two distinct rows under one id, unchanged, pass") {
    val df = rows(200)
    val id = firstOf(df, "png")
    val twice = df.unionByName(patched(df.where(col("image_id") === id), id, "caption",
      lit("a second row")))
    val shuffled = twice.repartition(3, col("caption"))
    assert(issues(twice, shuffled).isEmpty)
    assert(ScanEquivalence.check(twice, shuffled) == ((true, 0L)))
    df.unpersist()
  }

  test("a jpeg re-encoded at >= 40 dB passes through the payload comparison") {
    val df = rows(200)
    val id = firstOf(df, "jpeg")
    val reencode = udf { (b: Array[Byte]) =>
      val d = ImageCodec.decode(b); ImageCodec.encode(d.pixels, d.w, d.h, "jpeg") }
    val post = patched(df, id, "bytes", reencode(col("bytes"))).cache()
    val (before, after) = (bytesOf(df, id), bytesOf(post, id))
    assert(!java.util.Arrays.equals(before, after) && Psnr.ofBytes(before, after) >= 40.0)
    val (result, jobs) = TestSpark.jobsDuring(ScanEquivalence.check(df, post))
    assert(result == ((true, 0L)))
    assert(jobs.size > 1, s"the digests differ, so the payload comparison must run: $jobs")
    post.unpersist(); df.unpersist()
  }

  test("NULL bytes on both sides pass; a value turning NULL is a bytes mismatch") {
    val df = rows(200)
    val (png, jpeg) = (firstOf(df, "png"), firstOf(df, "jpeg"))
    val nullBytes = patched(patched(df, png, "bytes", lit(null).cast("binary")),
      jpeg, "bytes", lit(null).cast("binary"))
    assert(issues(nullBytes, nullBytes).isEmpty)
    assert(ScanEquivalence.check(nullBytes, nullBytes) == ((true, 0L)))
    assert(issues(df, nullBytes) ==
      Seq(png -> "png_bytes_mismatch", jpeg -> "psnr_below_threshold").sorted)
    assert(ScanEquivalence.check(nullBytes, df) == ((false, 2L)))
    df.unpersist()
  }

  test("lossy bytes that do not decode are psnr_below_threshold") {
    val df = rows(200)
    val id = firstOf(df, "jpeg")
    val post = patched(df, id, "bytes", lit(Array[Byte](1, 2, 3)))
    assert(issues(df, post) == Seq(id -> "psnr_below_threshold"))
    assert(ScanEquivalence.check(df, post) == ((false, 1L)))
    df.unpersist()
  }

  test("lossy bytes that decode to other dimensions are psnr_below_threshold") {
    val df = rows(200)
    val id = firstOf(df, "jpeg")
    val tiny = ImageCodec.encode(Array.fill(64)(0x336699), 8, 8, "jpeg")
    val post = patched(df, id, "bytes", lit(tiny))
    assert(issues(df, post) == Seq(id -> "psnr_below_threshold"))
    assert(ScanEquivalence.check(df, post) == ((false, 1L)))
    df.unpersist()
  }

  test("checkMerged reports a correction the merge did not apply") {
    val df = rows(300)
    val corr = DataGen.correctionsDF(spark, 300, 42L, inserts = 2).cache()
    val merged = df.join(corr.select(col("image_id"), col("caption").as("_c")), Seq("image_id"), "left")
      .withColumn("caption", coalesce(col("_c"), col("caption"))).drop("_c")
      .unionByName(corr.join(df.select("image_id"), Seq("image_id"), "left_anti"))
    assert(ScanEquivalence.checkMerged(df, merged, corr) == ((true, 0L)))
    val missed = corr.join(df.select("image_id"), Seq("image_id")).select("image_id")
      .orderBy("image_id").head().getString(0)
    val stale = patched(merged, missed, "caption", lit("stale"))
    assert(ScanEquivalence.checkMerged(df, stale, corr) == ((false, 1L)))
    corr.unpersist(); df.unpersist()
  }

  test("a passing check is one job, and verify shuffles no payload") {
    val t = QTable.create(TestSpark.tmpDir("verify-shape"), spark, buckets = 4)
    val n = 1024L
    AppendJob.append(t, DataGen.generate(spark, n, 42L, 8).toDF(), 4)
    val pre = t.currentSnapshot
    new CompactJob(t, targetFileBytes = 8L << 20, minGroupBytes = 1L).run()
    val z = new ClusterJob(t, targetFileBytes = 8L << 20, minGroupBytes = 1L).run()
    val ((ok, bad), jobs) = TestSpark.jobsDuring(ScanEquivalence.check(t.read(pre), t.read(z)))
    assert(ok, s"$bad violations")
    assert(jobs.size == 1, s"a passing check launched ${jobs.size} jobs: $jobs")
    val ((okC, _), checkBytes) =
      TestSpark.shuffleBytesDuring(ScanEquivalence.check(t.read(pre), t.read(z)))
    assert(okC && checkBytes < (64L << 10), s"check wrote $checkBytes shuffle bytes")

    val corr = DataGen.correctionsDF(spark, n, 42L, inserts = 3)
    val m = new MergeJob(t).run(corr)
    val ((okM, badM), mergedBytes) =
      TestSpark.shuffleBytesDuring(ScanEquivalence.checkMerged(t.read(z), t.read(m), corr))
    assert(okM, s"$badM violations vs merged expectation")
    assert(mergedBytes < (64L << 10), s"checkMerged wrote $mergedBytes shuffle bytes")
  }
}
