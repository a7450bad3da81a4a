package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A lint written as a test: the build-once protocol (ready marker,
  * cross-process file lock, stale-dir wipe) lives only in
  * [[Fixture]]. Any mention of its pieces elsewhere under
  * `graft/queries` fails this spec, so the protocol cannot be
  * hand-copied back into a query. */
class FixtureLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main/scala/graft/queries")
  private val Helper = "Fixture.scala"

  private val Protocol = """_FIXTURE_READY|\bFileChannel\b|\bdeleteRecursive\s*\(""".r

  /** (token, line) of every protocol piece in `src`. */
  private def protocolTokens(src: String): Seq[(String, Int)] =
    Protocol.findAllMatchIn(src).map { m =>
      (m.matched, src.substring(0, m.start).count(_ == '\n') + 1)
    }.toSeq

  test("the matcher flags every protocol piece and nothing else") {
    val flagged = Seq(
      "val ready = Paths.get(root, \"_FIXTURE_READY\")",
      "val ch = java.nio.channels.FileChannel.open(lockPath, CREATE, WRITE)",
      "import java.nio.channels.{FileChannel, FileLock}",
      "new graft.format.LocalCommitIO().deleteRecursive(root)",
      "io.deleteRecursive (root)",
      "// if (!Files.exists(ready)) uses _FIXTURE_READY")
    val clean = Seq(
      "val root = Q30.dir(s)",
      "Files.createFile(Paths.get(root, \"_GATE_TIGHT\"))",
      "val channel = FileChannels.open(p)",
      "def deleteRecursively(p: String) = ()",
      "Files.exists(Paths.get(idx, \"_SUCCESS\"))")
    flagged.foreach(s => assert(protocolTokens(s).size == 1, s"not flagged: $s"))
    clean.foreach(s => assert(protocolTokens(s).isEmpty, s"flagged: $s"))
  }

  test("only the Fixture helper implements the build-once protocol") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val files = Files.walk(SourceRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val found: Seq[(String, String, Int)] = files.flatMap { (f: Path) =>
      protocolTokens(new String(Files.readAllBytes(f), "UTF-8"))
        .map { case (tok, line) => (f.getFileName.toString, tok, line) }
    }
    val violations = found.filterNot(_._1 == Helper)
    assert(violations.isEmpty,
      "build-once protocol outside the Fixture helper (wrap the build in a " +
        "Fixture instead): " +
        violations.map { case (f, tok, l) => s"$f:$l $tok" }.mkString(", "))
    // a renamed or moved helper would make this lint vacuous
    assert(found.filter(_._1 == Helper).map(_._2.takeWhile(_ != '(').trim).toSet ==
      Set("_FIXTURE_READY", "FileChannel", "deleteRecursive"),
      s"the helper $Helper no longer holds the protocol")
  }
}
