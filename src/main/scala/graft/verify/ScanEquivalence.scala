package graft.verify

import graft.codec.Psnr
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** Post-maintenance scan-equivalence oracle (north rule): pre and post
  * must hold the same multiset of rows, where captions and fmt match
  * exactly and image bytes are bit-equal for lossless fmt and decode to
  * PSNR >= threshold for lossy fmt.
  *
  * Fingerprint first. Each row's `(image_id, caption, fmt, bytes)` maps
  * row-locally to two independent 64-bit hashes. Each side's digest is
  * its row count plus the wrapping sums of both hashes: an incremental
  * multiset hash (Clarke et al.), so bag equivalence needs no join. Both
  * digests fold per partition over the union of the two scans and reduce
  * on the driver, so a passing [[check]] is one scan job with no exchange
  * and the fat `bytes` column never leaves its task. Maintenance jobs
  * copy bytes verbatim, so equal digests are the passing case.
  *
  * Payload only where the digests differ. An aggregation over ids and
  * hashes finds the ids whose `(image_id, fingerprint)` multiplicity
  * differs, and only their rows go through the payload comparison: it
  * cancels identical copies, pairs each id's leftovers and labels every
  * violation, so PSNR (a lossy re-encode at >= threshold passes) and the
  * issue labels stay exact. Row data is never collected to the driver
  * (the `bytes` column is fat; SURVEY §7.3).
  */
object ScanEquivalence {

  /** Deterministic KEYED sample: keep rows whose image_id hash falls in
    * the first `fraction` of the hash space. Hash-keyed (not Bernoulli
    * `sample()`) so BOTH sides of a pre/post comparison select exactly
    * the same ids — missing-row detection stays sound inside the
    * sample. This is the 100 TB verify mode: a 1% keyed sample hashes
    * and compares 100x fewer rows while catching any systematic
    * corruption almost surely and each individual bad row with
    * p = fraction. */
  private val SampleSpace = 1000000L
  def keyedSample(df: DataFrame, fraction: Double): DataFrame =
    if (fraction >= 1.0) df
    else df.where(
      pmod(xxhash64(col("image_id")), lit(SampleSpace)) <
        lit(math.max(1L, (fraction * SampleSpace).toLong)))

  /** Leading input of the second hash chain: the same inputs under
    * another seed. */
  private val Salt = 0x5ca9e3a1d0c7b64fL

  /** Above this many differing ids the payload comparison covers every
    * row instead of an `IN` list of them. */
  private val MaxPinnedIds = 100000

  /** Row-local: the `bytes` payload reduced to two 64-bit hashes and its
    * NULL flag, next to the columns the comparison reads. */
  private def withByteHashes(df: DataFrame): DataFrame = df.select(
    col("image_id"), col("caption"), col("fmt"), col("bytes"),
    xxhash64(col("bytes")).as("_b1"), xxhash64(lit(Salt), col("bytes")).as("_b2"),
    col("bytes").isNull.as("_bnull"))

  private def thin(df: DataFrame): DataFrame = withByteHashes(df).drop("bytes")

  /** Adds the row fingerprint `(_h1, _h2)`. Spark's hashes skip NULL
    * inputs, so each column hashes a sentinel and a flag word records
    * which columns were NULL: NULL and a value never collide. */
  private def fingerprinted(df: DataFrame): DataFrame = {
    val keys = Seq("image_id", "caption", "fmt")
    val nulls = (keys.map(col(_).isNull) :+ col("_bnull")).zipWithIndex
      .map { case (isNull, i) => when(isNull, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ + _)
    val fields = keys.map(k => coalesce(col(k), lit(""))) ++ Seq(col("_b1"), col("_b2"), nulls)
    df.withColumn("_h1", xxhash64(fields: _*))
      .withColumn("_h2", xxhash64(lit(Salt) +: fields: _*))
  }

  /** Whether both fingerprint multisets have the same digest: row count
    * and wrapping sums of `_h1` and `_h2`, folded per partition over the
    * union of the two sides and reduced on the driver. One job and no
    * exchange for two plain scans; a SQL `sum` would cost an exchange and
    * throws on overflow under ANSI mode. */
  private def sameDigest(expected: DataFrame, actual: DataFrame): Boolean = {
    val rows = expected.select(lit(0), col("_h1"), col("_h2"))
      .union(actual.select(lit(1), col("_h1"), col("_h2")))
    val d = rows.queryExecution.toRdd.mapPartitions { it =>
      val acc = new Array[Long](6)
      it.foreach { r =>
        val o = 3 * r.getInt(0)
        acc(o) += 1
        acc(o + 1) += r.getLong(1)
        acc(o + 2) += r.getLong(2)
      }
      Iterator.single(acc)
    }.fold(new Array[Long](6))((a, b) => Array.tabulate(6)(i => a(i) + b(i)))
    d.take(3).sameElements(d.drop(3))
  }

  /** Ids whose `(image_id, fingerprint)` multiplicity differs between the
    * sides: an aggregation over ids and hashes only. */
  private def differingIds(expected: DataFrame, actual: DataFrame): DataFrame =
    expected.select(col("image_id"), col("_h1"), col("_h2"), lit(1).as("_d"))
      .union(actual.select(col("image_id"), col("_h1"), col("_h2"), lit(-1).as("_d")))
      .groupBy("image_id", "_h1", "_h2").agg(sum("_d").as("_d"))
      .where(col("_d") =!= 0).select("image_id").distinct()

  /** Equal digests pass as `(true, 0)`. Otherwise `payloadIssues`, given
    * a row filter down to the differing ids, yields the violations. */
  private def verdict(expected: DataFrame, actual: DataFrame)(
      payloadIssues: (DataFrame => DataFrame) => DataFrame): (Boolean, Long) = {
    if (sameDigest(expected, actual)) return (true, 0L)
    val ids = differingIds(expected, actual).limit(MaxPinnedIds + 1).collect()
      .map(_.getString(0))
    val within: DataFrame => DataFrame =
      if (ids.length > MaxPinnedIds) identity
      else {
        val in = col("image_id").isin(ids.filter(_ != null): _*)
        df => df.where(if (ids.contains(null)) in || col("image_id").isNull else in)
      }
    val n = payloadIssues(within).count()
    (n == 0, n)
  }

  /** Bytes that do not decode, or decode to other dimensions, are below
    * any threshold. */
  private def lossyPsnr(a: Array[Byte], b: Array[Byte]): Double =
    try Psnr.ofBytes(a, b) catch { case NonFatal(_) => Double.NegativeInfinity }

  /** The payload comparison, `(image_id, issue)` per violation. The n-th
    * copy of a fingerprint on one side cancels the n-th copy on the
    * other; the leftovers of an id pair up in (caption, fmt) order, and a
    * leftover with no partner is missing on the other side. Presence
    * comes from a per-side marker, never from a NULL payload. */
  private def issues(pre: DataFrame, post: DataFrame, psnrDb: Double): DataFrame = {
    val psnrUdf = udf(lossyPsnr _)
    val copyKey = Seq("image_id", "_h1", "_h2", "_copy")
    def numbered(df: DataFrame) = fingerprinted(withByteHashes(df)).withColumn("_copy",
      row_number().over(Window.partitionBy("image_id", "_h1", "_h2").orderBy("_h1")))
    def leftover(a: DataFrame, b: DataFrame) = a.join(
      b.select(copyKey.map(k => col(k).as(s"_o$k")): _*),
      copyKey.map(k => col(k) <=> col(s"_o$k")).reduce(_ && _), "left_anti")
    val byPair = Window.partitionBy("image_id").orderBy("caption", "fmt", "_h1", "_h2")
    def side(df: DataFrame, s: String) = df.select(col("image_id").as(s"${s}_id"),
      row_number().over(byPair).as(s"${s}_k"), lit(true).as(s"in_$s"),
      col("caption").as(s"${s}_caption"), col("fmt").as(s"${s}_fmt"),
      col("bytes").as(s"${s}_bytes"))

    val (l, r) = (numbered(pre), numbered(post))
    val joined = side(leftover(l, r), "pre").join(side(leftover(r, l), "post"),
      col("pre_id") <=> col("post_id") && col("pre_k") === col("post_k"), "full_outer")
    // png is lossless; a NULL fmt has no lossy codec to excuse a difference
    val lossless = coalesce(col("pre_fmt") === "png", lit(true))
    val issue = when(col("in_pre").isNull, lit("missing_in_pre"))
      .when(col("in_post").isNull, lit("missing_in_post"))
      // null-safe: a caption or fmt that turns NULL (or stops being
      // NULL) is a mismatch, where `=!=` would yield NULL and pass it
      .when(!(col("pre_caption") <=> col("post_caption")), lit("caption_mismatch"))
      .when(!(col("pre_fmt") <=> col("post_fmt")), lit("fmt_mismatch"))
      .when(lossless && !(col("pre_bytes") <=> col("post_bytes")), lit("png_bytes_mismatch"))
      .when(!lossless && psnrUdf(col("pre_bytes"), col("post_bytes")) < lit(psnrDb),
        lit("psnr_below_threshold"))
    joined.select(coalesce(col("pre_id"), col("post_id")).as("image_id"), issue.as("issue"))
      .where(col("issue").isNotNull)
  }

  /** Rows that violate equivalence; empty => pass. `sampleFraction` < 1
    * checks a deterministic keyed subset (see [[keyedSample]]). Runs the
    * payload comparison over every row; [[check]] runs it only where the
    * digests differ. */
  def violations(pre: DataFrame, post: DataFrame, psnrDb: Double = 40.0,
      sampleFraction: Double = 1.0): DataFrame =
    issues(keyedSample(pre, sampleFraction), keyedSample(post, sampleFraction), psnrDb)

  /** Boolean gate + violation count: one digest pass, and the payload
    * comparison only over the ids whose fingerprints differ. */
  def check(pre: DataFrame, post: DataFrame, psnrDb: Double = 40.0,
      sampleFraction: Double = 1.0): (Boolean, Long) = {
    val (l, r) = (keyedSample(pre, sampleFraction), keyedSample(post, sampleFraction))
    verdict(fingerprinted(thin(l)), fingerprinted(thin(r))) { within =>
      issues(within(l), within(r), psnrDb)
    }
  }

  /** Same check, ignoring expected caption updates: equivalence modulo a
    * corrections table (for MERGE verification: updated ids must carry
    * the corrected caption, all others must be untouched).
    *
    * The expected side is `pre` with each row's bytes already hashed
    * row-locally: a left join patches the corrected captions, correction
    * rows whose id `pre` lacks are the inserts, and the fingerprint is
    * taken after the patch. Only ids, captions, fmt and hashes cross an
    * exchange; the join strategy is Spark's own choice. */
  def checkMerged(pre: DataFrame, post: DataFrame, corrections: DataFrame,
      psnrDb: Double = 40.0): (Boolean, Long) = {
    val corr = corrections.select("image_id", "caption", "bytes", "fmt")
    // matched/unmatched target rows: corrected caption wins, target
    // bytes/fmt win (MERGE only patches captions; corr bytes/fmt are
    // insert payloads)
    def expected(p: DataFrame, c: DataFrame): DataFrame = {
      val updated = p.join(c.select(col("image_id"), col("caption").as("_corr_caption")),
        Seq("image_id"), "left")
        .withColumn("caption", coalesce(col("_corr_caption"), col("caption")))
        .drop("_corr_caption")
      updated.unionByName(c.join(p.select("image_id"), Seq("image_id"), "left_anti"))
    }
    verdict(fingerprinted(expected(thin(pre), thin(corr))), fingerprinted(thin(post))) {
      within => issues(expected(within(pre.select(corr.columns.map(col): _*)), within(corr)),
        within(post), psnrDb)
    }
  }
}
