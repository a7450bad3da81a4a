package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, GraftBridge, RuntimeConfig, SparkSession}

import scala.jdk.CollectionConverters._

/** The one data-file write path: every job funnels here so table files
  * uniformly carry the image_id bloom (sized by `spark.graft.bloom.ndv`,
  * default 4096 ≈ rows in a target-sized file — an UNDERestimate only
  * raises the false-positive rate, never unsounds pruning; disable with
  * `spark.graft.bloom.enabled=false`, or env `GRAFT_BLOOM_OFF=1` for
  * A/B bench runs that cannot thread a conf). Measured free at bench
  * scale: 100k-row/64-file write and harvest times are identical with
  * and without the bloom (BENCH/NOTES.md round-4 addendum). */
object TableWrite {
  private val tsKey = "spark.sql.parquet.outputTimestampType"

  /** Per-session in-flight write count + the pre-engine conf value.
    * CompactJob/MergeJob/UpdateJob run group writes CONCURRENTLY
    * (GroupRunner, default concurrency 4): a naive per-write
    * save/restore lets one thread's finally-restore unset the key while
    * another write is in flight — that write falls back to INT96 and
    * emits timestamp columns with no usable stats, silently blinding
    * the footer harvest and days(ts) pruning (r5 advice fix). The first
    * writer in records the original value and sets TIMESTAMP_MICROS;
    * the last writer out restores — no restore can ever run while a
    * sibling write is in flight. Keyed weakly by session so short-lived
    * job sessions do not accumulate. */
  private val inFlight =
    new java.util.WeakHashMap[SparkSession,
      (Array[Int], Option[String])]()

  private def enterTs(s: SparkSession): Unit =
    inFlight.synchronized {
      val st = Option(inFlight.get(s)).getOrElse {
        val fresh = (Array(0), s.conf.getOption(tsKey))
        inFlight.put(s, fresh); fresh
      }
      if (st._1(0) == 0) s.conf.set(tsKey, "TIMESTAMP_MICROS")
      st._1(0) += 1
    }

  private def exitTs(s: SparkSession): Unit =
    inFlight.synchronized {
      Option(inFlight.get(s)).foreach { st =>
        st._1(0) -= 1
        if (st._1(0) <= 0) {
          st._2 match {
            case Some(v) => s.conf.set(tsKey, v)
            case None => s.conf.unset(tsKey)
          }
          inFlight.remove(s)
        }
      }
    }

  /** Runs one table write with TIMESTAMP_MICROS set: the engine's files
    * store timestamps as INT64 micros, never the legacy INT96. parquet-mr
    * writes NO usable stats for INT96, which would blind the footer
    * harvest — and with it stats skipping and the days(ts) partition
    * pruning — on any timestamp column. Session conf (no per-write
    * option exists); reference-counted set/restore (see [[enterTs]]),
    * and rewrites of old INT96 files migrate them to micros. */
  private[format] def withMicros[A](s: SparkSession)(write: => A): A = {
    enterTs(s)
    try write finally exitTs(s)
  }

  /** The options every table file is written with, by a Spark job or
    * on the driver. */
  def writeOptions(conf: RuntimeConfig): Map[String, String] = {
    // `file:` and scheme-less outputs: part files, .crc sidecars and
    // directories get their modes in-process, not from a forked chmod
    // each. Spark copies write options into the job's Hadoop conf; the
    // FileSystem cache is JVM-wide and keyed by scheme, so it is
    // bypassed or the first `file:` instance would serve every write
    val fs = Map(
      "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val bloom =
      if (conf.get("spark.graft.bloom.enabled", "true").toBoolean &&
          !sys.env.get("GRAFT_BLOOM_OFF").contains("1"))
        Map("parquet.bloom.filter.enabled#image_id" -> "true",
          "parquet.bloom.filter.expected.ndv#image_id" -> conf.get("spark.graft.bloom.ndv", "4096"))
      else Map.empty[String, String]
    // zstd effort dial (`spark.graft.parquet.zstd.level`, env
    // GRAFT_ZSTD_LEVEL for A/B runs; default 1): parquet-mr's default
    // level 3 spends compression search on the fat `bytes` column,
    // which holds ALREADY-COMPRESSED image payloads where no level
    // finds anything — measured on the 1.1 GiB bench table, level 1
    // cuts compact write wall ~8-12% for +1.8% output size
    // (OPTIMIZATION_r06.md, guide §6). Deployments with compressible
    // payloads can raise it per-table economics via the conf.
    val zl = sys.env.get("GRAFT_ZSTD_LEVEL")
      .orElse(conf.getOption("spark.graft.parquet.zstd.level"))
      .getOrElse("1")
    fs ++ bloom + ("parquet.compression.codec.zstd.level" -> zl)
  }

  /** Writes `df` into the new directory `dir` with a Spark write job:
    * the files, `.crc` sidecars, `_SUCCESS` marker and modes of
    * `df.write.options(writeOptions).parquet(dir)`, whose Hadoop conf
    * each write task would deserialize twice (job and stats tracker) at
    * over a thousand keys; this job carries [[leanHadoopConf]]. */
  def parquet(df: DataFrame, dir: String): Unit =
    withMicros(df.sparkSession) {
      val options = writeOptions(df.sparkSession.conf)
      GraftBridge.writeParquet(df, dir, options, leanHadoopConf(df.sparkSession, options))
    }

  /** The session's Hadoop conf with `options`, less the keys whose only
    * sources are Hadoop's bundled `*-default.xml` resources: keys set
    * programmatically, by Spark, by `options` or in a `*-site.xml` stay.
    * The one semantic edge: a key known only from a `*-default.xml`
    * reaches the write's driver side and tasks unset, so Hadoop code reads
    * its code default there, not the XML value. The conf loads no
    * default resources itself. */
  def leanHadoopConf(spark: SparkSession, options: Map[String, String]): Configuration = {
    val full = spark.sessionState.newHadoopConfWithOptions(options)
    val lean = new Configuration(false)
    full.iterator().asScala.foreach { e =>
      val sources = full.getPropertySources(e.getKey)
      if (sources == null || !sources.forall(_.endsWith("-default.xml")))
        lean.set(e.getKey, e.getValue)
    }
    lean
  }
}
