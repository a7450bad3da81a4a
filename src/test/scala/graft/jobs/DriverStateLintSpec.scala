package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A lint written as a test: every place the engine brings rows to the
  * driver or ships them to every task states what bounds them. A
  * `.collect()`, a `broadcast(` or a `runJob(` (a collect by hand) in
  * `graft/{jobs,format,verify,spark,streaming,expr}` must sit in a method on
  * the allow-list below, each entry with its bound, or, where there is
  * none yet, the reason and the scale it holds at. A regex cannot see
  * types: a call is placed in the nearest top-level
  * `class`/`object`/`trait` and member `def` before it, and definitions
  * do not count. Unbounded sites are the work list of bounded driver
  * state (ROADMAP direction 7). */
class DriverStateLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main/scala/graft")
  private val Packages = Seq("jobs", "format", "verify", "spark", "streaming", "expr")

  private val Allowed = Map(
    "DriverIO.collect" -> "DriverIO.Cap: the driver read stops once its rows pass it",
    "DriverIO.collectOrKeys" -> ("DriverIO.Cap of whole rows in all, Cap / partitions per " +
      "task; past it one key row per input row, O(source rows) as MERGE's key collect " +
      "always was"),
    "KeyTable.apply" -> "DriverIO.Cap: the source rows collectOrKeys held whole",
    "LocalAppend.collectCapped" -> "DriverIO.Cap: the one task stops at it",
    "MergeJob.merge" -> ("unbounded: the SET payload broadcast, only for a source whose " +
      "rows pass DriverIO.Cap"),
    "MergeJob.keyFrame" -> ("unbounded: the source keys (discovery) or matched ids " +
      "(inserts), O(source rows), as the key collect"),
    "MergeJob.discover" -> ("unbounded: the matched (id, file) pairs, O(matches); one " +
      "row per live file under NOT MATCHED BY SOURCE"),
    "UpdateJob.run" -> "unbounded: one (file, count) row per matched file",
    "DeleteJob.writeSorted" -> "one row per delete file written",
    "Constraints.set" -> "limit(1): the first violating id",
    "NdvSketchJob.run" -> ("the batch's files x columns sketches (about 2 KB each), one " +
      "batch of files at a time"),
    "NdvEstimate.run" -> "one row per estimated column",
    "ClusterJob.groupQuantiles" -> ("one (file, group) row per sampled file broadcast; " +
      "GridBatchGroups x 127 longs of grids collected"),
    "ParquetStats.entriesFor" -> "one entry per listed file, past DistributeThreshold files",
    "QTable.deletePairs" -> "one (delete file, data file) pair per referenced file",
    "ScanEquivalence.verdict" -> "limit(MaxPinnedIds + 1) differing ids",
    "QTableStreamSource.getBatch" -> "one (file, commit time) row per file of the batch")

  private val Call = """\.\s*collect\s*\(\s*\)|\bbroadcast\s*\(|\brunJob\s*\(""".r
  private val DefBefore = """\bdef\s+$""".r
  /** A member `def` of a top-level type (two-space indent), and a
    * top-level type. */
  private val Def = """(?m)^  (?:[\w\[\]]+[ \t]+)*def\s+(\w+)""".r
  private val Owner = """(?m)^(?:[\w\[\]]+[ \t]+)*(?:class|object|trait)\s+(\w+)""".r
  private val NonCode =
    """(?s)'"'|/\*.*?\*/|//[^\n]*|"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"""".r

  /** (line, `Owner.method`) of every collect, broadcast and job run in
    * `src`, comments and string literals blanked first. */
  private def calls(src: String): Seq[(Int, String)] = {
    val code = NonCode.replaceAllIn(src,
      m => Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))
    Call.findAllMatchIn(code).flatMap { m =>
      val before = code.substring(0, m.start)
      if (DefBefore.findFirstIn(before).isDefined) None
      else {
        def last(r: Regex) = r.findAllMatchIn(before).toSeq.lastOption.map(_.group(1)).getOrElse("?")
        Some((before.count(_ == '\n') + 1, s"${last(Owner)}.${last(Def)}"))
      }
    }.toSeq
  }

  test("the matcher places collects, broadcasts and job runs and ignores the rest") {
    val src = """object A {
      |  def keys(df: DataFrame) = df.select("k")
      |    .collect ()
      |  private def lookup(t: DataFrame) = t.join(broadcast(small), "k")
      |}
      |final class B(sc: SparkContext) {
      |  def run(rdd: RDD[Int]) = sc.runJob(rdd, (it: Iterator[Int]) => it.size)
      |  def collect(): Seq[Int] = Nil
      |  def broadcast(x: Int) = x
      |  def first() = rows.collect { case r if r.ok => r }
      |  def log() = println("df.collect()") // broadcast(df)
      |  /** `sc.runJob(rdd, f)` */ def keep = all.collectFirst(_.ok)
      |}""".stripMargin
    assert(calls(src) == Seq((3, "A.keys"), (4, "A.lookup"), (7, "B.run")))
  }

  test("engine packages collect and broadcast only where the allow-list gives a bound") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val found = Packages.flatMap { pkg =>
      Files.walk(SourceRoot.resolve(pkg)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .flatMap { (f: Path) =>
          calls(new String(Files.readAllBytes(f), "UTF-8"))
            .map { case (l, owner) => (s"$pkg/${f.getFileName}:$l", owner) }
        }
    }
    val violations = found.filterNot(c => Allowed.contains(c._2))
    assert(violations.isEmpty,
      "a driver collect or broadcast needs a bound (or, for now, the reason it has none) " +
        "on the allow-list: " + violations.map { case (at, owner) => s"$at ($owner)" }.mkString(", "))
    val unused = Allowed.keySet -- found.map(_._2)
    assert(unused.isEmpty, s"allow-list entries with no collect or broadcast: $unused")
  }
}
