// MERGE discovery on the driver against the job (see NOTES.md "MERGE
// discovery: where the driver read stops beating the job").
// Run: /opt/spark/bin/spark-shell --master 'local[4]' --driver-memory 2g \
//   --conf spark.sql.shuffle.partitions=8 --conf spark.sql.adaptive.enabled=true \
//   --jars target/scala-2.13/quanterrapipelinespark_2.13-0.1.0.jar -i BENCH/discover_crossover.scala
// The tables are written under java.io.tmpdir (set it with
// --driver-java-options -Djava.io.tmpdir=...) and left there. Per table
// it times, best of 5 after 2 warm-ups, the two reads MergeJob's
// discovery chooses between: the candidates' image_ids read on the
// driver and probed against a hash set of 16 source keys, and the job
// that joins the live (image_id, __gpath) rows with a broadcast of the
// keys and collects the matches.
import graft.format.{DriverIO, QTable}
import graft.jobs._
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
spark.sparkContext.setLogLevel("WARN")
val root = System.getProperty("java.io.tmpdir") + "/discover_crossover"
def best(f: => Unit): Double = {
  (1 to 2).foreach(_ => f)
  (1 to 5).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }.min
}
def probe(rows: Long, filesPerBucket: Int): Unit = {
  val t = QTable.create(s"$root/r$rows-f$filesPerBucket", spark, 4)
  AppendJob.append(t, spark.range(rows).select(
    format_string("img%012d", col("id")).as("image_id"), lit(Array[Byte](1, 2, 3)).as("bytes"),
    lit(64).as("w"), lit(64).as("h"), lit("png").as("fmt"),
    concat(lit("c "), col("id").cast("string")).as("caption"), xxhash64(col("id")).as("phash")),
    filesPerBucket)
  val snap = t.currentSnapshot
  val files = t.entries(snap)
  val ids = (0 until 16).map(i => f"img${i * (rows / 16)}%012d")
  val driver = best {
    val keys = new java.util.HashSet[UTF8String]()
    ids.foreach(i => keys.add(UTF8String.fromString(i)))
    val plan = DriverIO.plain(t.scan(files, snap.physicalSchema).select(col("image_id"))
      .queryExecution.sparkPlan).get
    // as MergeJob.discoverOnDriver reads: per file its matches and
    // unmatched count
    val found = scala.collection.mutable.HashMap.empty[String, (List[String], Long)]
    var (file, name) = (null: PartitionedFile, "")
    plan.read(plan.partitions.flatMap(_.files)) { (f, r) =>
      if (f ne file) { file = f; name = f.toPath.getName }
      val id = r.getUTF8String(0)
      val (m, u) = found.getOrElse(name, (Nil, 0L))
      found(name) = if (keys.contains(id)) (id.toString :: m, u) else (m, u + 1)
      true
    }
    assert(found.values.map(_._1.size).sum == 16)
  }
  val job = best {
    val live = t.readEntriesForRewriteIndexed(snap, files)._1.select(col("image_id"), col("__gpath"))
    val keys = broadcast(spark.createDataFrame(ids.map(Tuple1(_))).toDF("image_id"))
    assert(live.join(keys, Seq("image_id")).collect().length == 16)
  }
  println(f"discover rows=$rows%8d files=${files.size}%4d driver_ms=$driver%8.1f job_ms=$job%8.1f")
}
for (rows <- Seq(10000L, 100000L, 300000L, 1000000L); fpb <- Seq(2, 16)) probe(rows, fpb)
System.exit(0)
