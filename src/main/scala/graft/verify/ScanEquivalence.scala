package graft.verify

import graft.codec.Psnr
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Post-maintenance scan-equivalence oracle (north rule): full-table
  * pre/post join on image_id; captions must match exactly; image bytes
  * must be bit-equal for lossless fmt and decode to PSNR >= threshold for
  * lossy fmt. Fully distributed — never collects row data to the driver
  * (the `bytes` column is fat; SURVEY §7.3).
  */
object ScanEquivalence {

  /** Deterministic KEYED sample: keep rows whose image_id hash falls in
    * the first `fraction` of the hash space. Hash-keyed (not Bernoulli
    * `sample()`) so BOTH sides of a pre/post comparison select exactly
    * the same ids — missing-row detection stays sound inside the
    * sample. This is the 100 TB verify mode: the full-outer join
    * shuffles the fat `bytes` column twice, so a full-table check at
    * petabyte scale costs a table-sized shuffle; a 1% keyed sample cuts
    * that 100x while catching any systematic corruption almost surely
    * and each individual bad row with p = fraction. */
  private val SampleSpace = 1000000L
  def keyedSample(df: DataFrame, fraction: Double): DataFrame =
    if (fraction >= 1.0) df
    else df.where(
      pmod(xxhash64(col("image_id")), lit(SampleSpace)) <
        lit(math.max(1L, (fraction * SampleSpace).toLong)))

  /** Rows that violate equivalence; empty => pass. `sampleFraction` < 1
    * checks a deterministic keyed subset (see [[keyedSample]]). */
  def violations(pre: DataFrame, post: DataFrame, psnrDb: Double = 40.0,
      sampleFraction: Double = 1.0): DataFrame = {
    val psnrUdf = udf((a: Array[Byte], b: Array[Byte]) => Psnr.ofBytes(a, b))
    val (preS, postS) =
      (keyedSample(pre, sampleFraction), keyedSample(post, sampleFraction))

    val l = preS.select(
      col("image_id"),
      col("bytes").as("pre_bytes"),
      col("fmt").as("pre_fmt"),
      col("caption").as("pre_caption"))
    val r = postS.select(
      col("image_id"),
      col("bytes").as("post_bytes"),
      col("fmt").as("post_fmt"),
      col("caption").as("post_caption"))

    val joined = l.join(r, Seq("image_id"), "full_outer")
    val issue = when(col("pre_bytes").isNull, lit("missing_in_pre"))
      .when(col("post_bytes").isNull, lit("missing_in_post"))
      // null-safe: a caption or fmt that turns NULL (or stops being
      // NULL) is a mismatch, where `=!=` would yield NULL and pass it
      .when(!(col("pre_caption") <=> col("post_caption")), lit("caption_mismatch"))
      .when(!(col("pre_fmt") <=> col("post_fmt")), lit("fmt_mismatch"))
      .when(col("pre_fmt") === "png" && col("pre_bytes") =!= col("post_bytes"),
        lit("png_bytes_mismatch"))
      .when(col("pre_fmt") =!= "png" &&
        psnrUdf(col("pre_bytes"), col("post_bytes")) < lit(psnrDb),
        lit("psnr_below_threshold"))
      .otherwise(lit(null))

    joined.withColumn("issue", issue)
      .where(col("issue").isNotNull)
      .select("image_id", "issue")
  }

  /** Convenience boolean gate + violation count. */
  def check(pre: DataFrame, post: DataFrame, psnrDb: Double = 40.0,
      sampleFraction: Double = 1.0): (Boolean, Long) = {
    val n = violations(pre, post, psnrDb, sampleFraction).count()
    (n == 0, n)
  }

  /** Same check, ignoring expected caption updates: equivalence modulo a
    * corrections table (for MERGE verification: updated ids must carry
    * the corrected caption, all others must be untouched).
    *
    * Shuffle shape (guide §2.3/§3.1): the expected view is built as
    * (pre LEFT JOIN broadcast(corrections)) ∪ (corrections ANTI pre) —
    * row-for-row the old full-outer coalesce, but the fat `bytes`
    * column of `pre` is never shuffled to build it (the broadcast is
    * the same small-source assumption MergeJob itself makes, and the
    * anti join moves only projected ids). The final pre/post full-outer
    * inside [[check]] still shuffles both tables once each — the floor
    * for a key-aligned byte comparison — so the whole verification
    * moves the payload twice instead of three times. */
  def checkMerged(pre: DataFrame, post: DataFrame, corrections: DataFrame,
      psnrDb: Double = 40.0): (Boolean, Long) = {
    val corr = corrections.select(col("image_id"), col("caption").as("_corr_caption"),
      col("bytes").as("_corr_bytes"), col("fmt").as("_corr_fmt"))
    // matched/unmatched target rows: corrected caption wins, target
    // bytes/fmt win (MERGE only patches captions; corr bytes/fmt are
    // insert payloads)
    val updated = pre.join(broadcast(corr), Seq("image_id"), "left")
      .select(col("image_id"),
        coalesce(col("_corr_caption"), col("caption")).as("caption"),
        col("bytes"), col("fmt"))
    // inserts: correction keys absent from the target — ids only cross
    // the exchange, never payloads
    val inserted = corr.join(pre.select("image_id"), Seq("image_id"), "left_anti")
      .select(col("image_id"), col("_corr_caption").as("caption"),
        col("_corr_bytes").as("bytes"), col("_corr_fmt").as("fmt"))
    check(updated.unionByName(inserted), post, psnrDb)
  }
}
