package perfbench

import graft.format.QTable
import graft.jobs._
import graft.synth.DataGen
import graft.verify.ScanEquivalence
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A workload: inputs made once per seed (cached), then identical
  * cycles, each on a freshly staged copy of those inputs. */
trait Workload {
  def name: String
  def prepare(ctx: Ctx): Unit
  def cycle(ctx: Ctx): Unit
  /** Extra traced-run measurements after the cycles. */
  def finish(ctx: Ctx): Unit = ()
}

/** The small-file table smallfile-merge starts from:
  * 8 hash buckets x 8 small files of 64-128 px images, about 11 MB. */
object Table {
  val Rows = 1024L
  val Sizes = Array(64, 96, 128)
  val Buckets = 8
  val FilesPerBucket = 8
  /** About a tenth of the table, as 16 MiB is of the 235 MB table the
    * engine's own bench uses: compaction and clustering write ~10 files,
    * enough for every core to have work. */
  val TargetBytes = 1L << 20

  def id(i: Long): String = f"img$i%012d"

  /** `n` distinct row indexes in [0, bound), the same for every cycle. */
  def picks(seed: Long, salt: Long, n: Int, bound: Long): Seq[Long] = {
    val r = new java.util.Random(seed * 1000003L + salt)
    Iterator.continually((r.nextLong() & Long.MaxValue) % bound).distinct.take(n).toSeq
  }

  def base(ctx: Ctx): Path = Inputs.cached(ctx, s"base-r$Rows-s${ctx.seed}") { (spark, dir) =>
    val t = QTable.create(ctx.stageDir.toString, spark, Buckets)
    // persisted: the append's range partitioning reads its input twice
    val rows = DataGen.generate(spark, Rows, ctx.seed, 0, Sizes).toDF().persist()
    AppendJob.append(t, rows, FilesPerBucket, jobId = "pb-synth")
    rows.unpersist()
    Files.move(ctx.stageDir, dir)
  }

  def compact(t: QTable, cpus: Int): CompactJob =
    new CompactJob(t, TargetBytes, jobId = "pb-compact", concurrency = math.max(2, cpus))

  def cluster(t: QTable, cpus: Int): ClusterJob =
    new ClusterJob(t, TargetBytes, jobId = "pb-cluster", concurrency = math.max(2, cpus))
}

object Inputs {
  /** Inputs for one (shape, seed), built by `build` on a miss and reused
    * by later runs in the same checkout. The build's time is reported as
    * `synth.generate_s` and stays out of set-up time. */
  def cached(ctx: Ctx, key: String)(build: (SparkSession, Path) => Unit): Path = {
    val dir = ctx.cacheDir.resolve(key)
    val ready = ctx.cacheDir.resolve(s"$key.ready")
    if (!Files.exists(ready)) {
      Main.delTree(dir)
      val t0 = System.nanoTime()
      ctx.withSession(4)(build(_, dir))
      ctx.synthSeconds += (System.nanoTime() - t0) / 1e9
      Files.write(ready, Array[Byte]())
    } else Files.setLastModifiedTime(ready, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    dir
  }

  /** Copy a cached table to the staging directory. Manifests record
    * absolute file paths, so every cached table is built at the staging
    * path and copied back to it, never opened where the cache keeps it.
    * Data files are copied, not linked: expire deletes them. */
  def stage(ctx: Ctx, from: Path, spark: SparkSession): QTable = {
    val to = ctx.stageDir
    Main.delTree(to)
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    QTable(to.toString, spark)
  }

  /** Untimed warm-up call: one point read through the stats-skipping index. */
  def warm(t: QTable, id: String): Unit =
    t.readIndexed()._1.where(col("image_id").isin(id)).count()

  def parquetBytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).sum
}

/** Maintenance of a small-file table, then writes beside reads on the
  * maintained table: compact, Z-order cluster, verify, rewrite manifests,
  * expire, point lookups; then a copy-on-write merge of scattered caption
  * fixes, lookups and a planned phash-range count, and a verify of the
  * merged table. */
object SmallfileMerge extends Workload {
  val name = "smallfile-merge"
  val Lookups = 8
  val Rounds = 1
  val Inserts = 4
  private var input, batches: Path = _
  /** Per round: id -> caption that round's batch writes. */
  private var captions: IndexedSeq[Map[String, String]] = _

  def prepare(ctx: Ctx): Unit = {
    import Table._
    input = Table.base(ctx)
    batches = Inputs.cached(ctx, s"merge-r$Rows-b$Rounds-s${ctx.seed}") { (spark, dir) =>
      val all = (0 until Rounds).map { r =>
        DataGen.correctionsDF(spark, Rows, roundSeed(ctx.seed, r), Inserts)
          .withColumn("round", lit(r))
      }.reduce(_ unionByName _).cache()
      all.write.partitionBy("round").parquet(dir.resolve("rounds").toString)
      // what the table must hold after every round: the last round's
      // caption; bytes and fmt of the first insert (MERGE patches captions)
      all.groupBy("image_id").agg(
        max_by(col("caption"), col("round")).as("caption"),
        min_by(col("bytes"), col("round")).as("bytes"),
        min_by(col("fmt"), col("round")).as("fmt"))
        .write.parquet(dir.resolve("expected").toString)
      val lines = all.select("round", "image_id", "caption").collect()
        .map(r => s"${r.getInt(0)}\t${r.getString(1)}\t${r.getString(2)}")
      Files.write(dir.resolve("captions.tsv"), lines.mkString("\n").getBytes("UTF-8"))
    }
    val rows = Files.readAllLines(batches.resolve("captions.tsv")).asScala.map(_.split("\t", 3))
    captions = (0 until Rounds).map(r =>
      rows.filter(_(0).toInt == r).map(a => a(1) -> a(2)).toMap)
  }

  private def roundSeed(seed: Long, r: Int): Long = DataGen.mix(seed * 31 + r)

  def cycle(ctx: Ctx): Unit = ctx.withSession(4) { spark =>
    import Table._
    val t = Inputs.stage(ctx, input, spark)
    Inputs.warm(t, id(0))
    ctx.setupDone()

    val pre = t.currentSnapshot
    val e0 = ctx.entries(t, pre, Rows, "staging")
    if (ctx.traced) ctx.call("jobs.compact.plan")(compact(t, 4).plan(pre))
    val c = ctx.call("jobs.compact.run")(compact(t, 4).run())
    val e1 = ctx.entries(t, c, Rows, "compact")
    if (ctx.traced) ctx.call("jobs.cluster.plan")(cluster(t, 4).plan(c))
    val z = ctx.call("jobs.cluster.run")(cluster(t, 4).run())
    var es = ctx.entries(t, z, Rows, "cluster")
    ctx.rewrite("compact", c, e0, e1)
    ctx.rewrite("cluster", z, e1, es)
    ctx.put("user_bytes", e0.map(_.byteCount).sum)
    val (_, bad) = ctx.call("verify.check")(ScanEquivalence.check(t.read(pre), t.read(z)))
    ctx.verified(bad, Rows)
    ctx.maintainMetadata(t, Rows)

    val seed = ctx.seed
    var written = Map.empty[String, String]
    def lookups(salt: Long, extra: Seq[String]): Unit = {
      val ids = extra ++ picks(seed, salt, Lookups - extra.size, Rows).map(id)
      ids.foreach(k => ctx.lookup(t, k, written.getOrElse(k, DataGen.caption(k.drop(3).toLong, seed))))
    }
    lookups(1, Nil)
    ctx.space(t)
    val maintained = t.currentSnapshot
    (0 until Rounds).foreach { r =>
      val dir = batches.resolve(s"rounds/round=$r")
      val src = ctx.probe("input.read")(spark.read.parquet(dir.toString))
      val s = ctx.call("jobs.merge.run")(new MergeJob(t, s"pb-merge-$r", concurrency = 4).run(src))
      val next = ctx.entries(t, s, Rows + Inserts, s"merge round $r")
      ctx.rewrite("merge", s, es, next)
      ctx.sample("jobs.merge.source_bytes", Inputs.parquetBytes(dir))
      es = next
      written ++= captions(r)
      lookups(100 + r, captions(r).keys.toSeq.sorted.take(Lookups / 2))
      // a planned range count over the lowest sixteenth of the phash domain
      val range = (Long.MinValue, Long.MinValue + (1L << 60))
      val planned = ctx.call("format.qtable.plan_files")(t.planFiles(s, Some(range)).size)
      val overlapping = es.count(e => e.phashMax >= range._1 && e.phashMin <= range._2)
      ctx.expect(planned == overlapping, s"planFiles returned $planned files, expected $overlapping")
    }
    val expected = ctx.probe("input.read")(spark.read.parquet(batches.resolve("expected").toString))
    val (_, badM) = ctx.call("verify.check_merged")(
      ScanEquivalence.checkMerged(t.read(maintained), t.read(t.currentSnapshot), expected))
    ctx.verified(badM, Rows + Inserts)
    ctx.workDone()
  }

  /** The scaling pair: compact+cluster again at local[1] on a fresh copy
    * of the same input, against the local[4] cycles' median. */
  override def finish(ctx: Ctx): Unit = {
    val t4 = Main.median(ctx.cycles.map(_._2).flatMap(m =>
      for (a <- m.get("t.jobs.compact.run"); b <- m.get("t.jobs.cluster.run")) yield a + b).toSeq)
    val t1 = ctx.withSession(1) { spark =>
      val t = Inputs.stage(ctx, input, spark)
      Inputs.warm(t, Table.id(0))
      val t0 = System.nanoTime()
      ctx.call("jobs.compact.run_c1")(Table.compact(t, 1).run())
      val z = ctx.call("jobs.cluster.run_c1")(Table.cluster(t, 1).run())
      val secs = (System.nanoTime() - t0) / 1e9
      ctx.entries(t, z, Table.Rows, "local[1] cluster")
      secs
    }
    ctx.extra("jobs.rewrite.scaling_eff_1to4") = t1 / (4 * t4)
  }
}

/** Many tiny landings: appends of 16 rows into a fresh 4-bucket table,
  * two lookups of rows written so far after each, then compaction of the
  * ~4 tiny files per append, manifest rewrite and expire. */
object IngestChurn extends Workload {
  val name = "ingest-churn"
  val Appends = 8
  val BatchRows = 16
  val LookupsPerAppend = 2
  val Buckets = 4
  private var batches: Path = _

  def prepare(ctx: Ctx): Unit =
    batches = Inputs.cached(ctx, s"ingest-a$Appends-s${ctx.seed}") { (spark, dir) =>
      DataGen.generate(spark, Appends * BatchRows, ctx.seed, 0, Array(16)).toDF()
        .withColumn("batch", (substring(col("image_id"), 4, 12).cast("long") / BatchRows)
          .cast("int"))
        .write.partitionBy("batch").parquet(dir.toString)
    }

  def cycle(ctx: Ctx): Unit = ctx.withSession(4) { spark =>
    Main.delTree(ctx.stageDir)
    val t = QTable.create(ctx.stageDir.toString, spark, Buckets)
    spark.read.parquet(batches.resolve("batch=0").toString).count() // warm-up
    ctx.setupDone()

    var es = ctx.entries(t, t.currentSnapshot, 0, "create")
    val r = new java.util.Random(ctx.seed)
    (0 until Appends).foreach { k =>
      val src = ctx.probe("input.read")(spark.read.parquet(batches.resolve(s"batch=$k").toString))
      val s = ctx.call("jobs.append.run")(AppendJob.append(t, src, 1, f"pb-append-$k%04d"))
      val next = ctx.entries(t, s, (k + 1L) * BatchRows, s"append $k")
      val (w, _, filesOut, _) = ctx.diff(es, next)
      ctx.add("user_bytes", w)
      ctx.add("n.append.bytes_written", w)
      ctx.add("n.append.files_written", filesOut)
      ctx.sample("jobs.append.files_written", filesOut)
      es = next
      if (ctx.traced) ctx.call("format.qtable.plan_files")(t.planFiles(s, bucket = Some(0)))
      (0 until LookupsPerAppend).foreach { _ =>
        val i = r.nextInt((k + 1) * BatchRows).toLong
        ctx.lookup(t, Table.id(i), DataGen.caption(i, ctx.seed))
      }
    }
    val rows = Appends.toLong * BatchRows
    val pre = t.currentSnapshot
    val c = ctx.call("jobs.compact.run")(
      new CompactJob(t, Table.TargetBytes, jobId = "pb-compact", concurrency = 4).run())
    ctx.rewrite("compact", c, es, ctx.entries(t, c, rows, "compact"))
    val (_, bad) = ctx.call("verify.check")(ScanEquivalence.check(t.read(pre), t.read(c)))
    ctx.verified(bad, rows)
    ctx.maintainMetadata(t, rows)
    ctx.space(t)
    ctx.workDone()
  }
}
