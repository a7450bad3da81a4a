package graft.verify

import graft.TestSpark
import graft.synth.DataGen
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
}
