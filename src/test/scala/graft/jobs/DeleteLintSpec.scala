package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A lint written as a test: no writer deletes before it writes. Every
  * write attempt gets a fresh directory ([[graft.format.QTable.newAttemptDir]]),
  * so an existing output is never cleared; a crashed attempt's files are
  * orphans for [[RemoveOrphanFilesJob]]. A `.delete(` or
  * `deleteRecursive(` call in `graft/{jobs,format,streaming,spark}` must
  * sit in a method on the allow-list below, each entry with its reason.
  * A regex cannot see types: a call is placed in the nearest top-level
  * `class`/`object`/`trait` and member `def` before it, and definitions
  * do not count. */
class DeleteLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main/scala/graft")
  private val Packages = Seq("jobs", "format", "streaming", "spark")

  private val Allowed = Map(
    "ExpireSnapshotsJob.delete" ->
      "expire deletes the data files no retained snapshot references",
    "ExpireSnapshotsJob.run" ->
      "expire deletes dead data files, then dead manifests and versions",
    "RemoveOrphanFilesJob.run" -> ("the orphan sweep deletes files no " +
      "snapshot or live checkpoint references, past the grace window"),
    "Checkpoint.clear" ->
      "a finished job's lineage, cleared after its snapshot commits",
    "QTable.abortStaged" ->
      "abort-staged deletes what only the discarded staged snapshot added",
    "HadoopCommitIO.writeNew" ->
      "a failed conditional create removes its own partial metadata file",
    "HadoopCommitIO.delete" -> "the metadata store's primitive",
    "HadoopCommitIO.deleteRecursive" -> "the metadata store's primitive",
    "ObjectStoreCommitIO.delete" -> "the metadata store's primitive",
    "ObjectStoreCommitIO.deleteRecursive" -> "the metadata store's primitive",
    "DriverIO.write" ->
      "a failed driver write removes its own hidden staged file",
    "Branches.delete" -> "drop-branch removes a ref file, never a table file",
    "Tags.delete" -> "untag removes a tag file, never a table file",
    "Catalog.unregister" -> "unregister removes a catalog pointer, never a table file")

  private val Delete = """(\.\s*delete|\bdeleteRecursive)\s*\(""".r
  private val DefBefore = """\bdef\s+$""".r
  /** A member `def` of a top-level type (two-space indent), and a
    * top-level type. */
  private val Def = """(?m)^  (?:[\w\[\]]+[ \t]+)*def\s+(\w+)""".r
  private val Owner = """(?m)^(?:[\w\[\]]+[ \t]+)*(?:class|object|trait)\s+(\w+)""".r
  private val NonCode =
    """(?s)'"'|/\*.*?\*/|//[^\n]*|"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"""".r

  /** (line, `Owner.method`) of every delete call in `src`, comments and
    * string literals blanked first. */
  private def deletes(src: String): Seq[(Int, String)] = {
    val code = NonCode.replaceAllIn(src,
      m => Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))
    Delete.findAllMatchIn(code).flatMap { m =>
      val before = code.substring(0, m.start)
      if (DefBefore.findFirstIn(before).isDefined) None
      else {
        def last(r: Regex) = r.findAllMatchIn(before).toSeq.lastOption.map(_.group(1)).getOrElse("?")
        Some((before.count(_ == '\n') + 1, s"${last(Owner)}.${last(Def)}"))
      }
    }.toSeq
  }

  test("the matcher places delete calls and ignores definitions, comments and strings") {
    val src = """object A {
      |  private def clean(dir: String) = {
      |    def hp = new Path(dir)
      |    if (fs.exists(hp)) fs.delete(hp, true)
      |  }
      |}
      |final case class B(c: C) extends C {
      |  override def deleteRecursive(path: String): Unit = ()
      |  def delete(path: String): Boolean = store
      |    .delete(path)
      |  def wipe() = io.deleteRecursive(dir) // fs.delete(x, true)
      |  def log() = println("fs.delete(hp, true)")
      |  /** `io.deleteRecursive(dir)` */ def keep = 1
      |}""".stripMargin
    assert(deletes(src) == Seq((4, "A.clean"), (10, "B.delete"), (11, "B.wipe")))
  }

  test("engine packages delete only where the allow-list says why") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val found = Packages.flatMap { pkg =>
      Files.walk(SourceRoot.resolve(pkg)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .flatMap { (f: Path) =>
          deletes(new String(Files.readAllBytes(f), "UTF-8"))
            .map { case (l, owner) => (s"$pkg/${f.getFileName}:$l", owner) }
        }
    }
    val violations = found.filterNot(d => Allowed.contains(d._2))
    assert(violations.isEmpty,
      "a write attempt gets a fresh directory (QTable.newAttemptDir) and never " +
        "deletes before it writes: " +
        violations.map { case (at, owner) => s"$at ($owner)" }.mkString(", "))
    val unused = Allowed.keySet -- found.map(_._2)
    assert(unused.isEmpty, s"allow-list entries with no delete call: $unused")
  }
}
