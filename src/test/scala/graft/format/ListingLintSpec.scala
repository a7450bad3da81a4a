package graft.format

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A lint written as a test: the engine lists table files with a plain
  * `listStatus` walk ([[ParquetStats.listParquetFiles]]), never with
  * Hadoop's `FileSystem.listFiles(path, recursive)` or
  * `listLocatedStatus`. Their `LocatedFileStatus` copies each file's
  * owner and permissions, which Hadoop's local filesystem loads by
  * forking `ls -ld` per file when libhadoop is absent. A regex cannot see
  * types, so every two-argument `listFiles(` in `src/main` counts; the
  * one exception is [[QTableFileIndex]]'s override of Spark's
  * `FileIndex.listFiles`. `java.io.File.listFiles()` (no or one
  * argument) lists in-process and passes. */
class ListingLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main")
  private val Exception = "QTableFileIndex.scala"

  private val Listing = """\b(listFiles|listLocatedStatus)\s*\(""".r
  private val DefBefore = """\bdef\s+$""".r
  private val NonCode =
    """(?s)'"'|/\*.*?\*/|//[^\n]*|"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"""".r

  /** Comments and string literals blanked to spaces, line breaks kept. */
  private def code(src: String): String =
    NonCode.replaceAllIn(src,
      m => Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))

  /** Top-level arguments of the call whose `(` sits at `open`. */
  private def arity(s: String, open: Int): Int = {
    var depth = 0; var commas = 0; var i = open; var blank = true
    while (i < s.length && !(depth == 1 && s.charAt(i) == ')')) {
      s.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 1 => commas += 1
        case c if depth >= 1 && i > open && !c.isWhitespace => blank = false
        case _ =>
      }
      i += 1
    }
    if (blank) 0 else commas + 1
  }

  /** (is a `def`, line) of every Hadoop-style listing in `src`. */
  private def listings(src: String): Seq[(Boolean, Int)] = {
    val c = code(src)
    Listing.findAllMatchIn(c)
      .filter(m => m.group(1) == "listLocatedStatus" || arity(c, m.end - 1) == 2)
      .map { m =>
        val before = c.substring(0, m.start)
        (DefBefore.findFirstIn(before).isDefined, before.count(_ == '\n') + 1)
      }.toSeq
  }

  test("the matcher flags Hadoop listings and nothing else") {
    val flagged = Seq(
      "def a = fs.listFiles(hp, true)",
      "def b = p.getFileSystem(c)\n  .listFiles(p, /* recursive */ true)",
      "def c = fs.listFiles(new HPath(dir, \"x\"), recursive = true)",
      "def d = fs.listLocatedStatus(hp)",
      "override def listFiles(pf: Seq[Expression], df: Seq[Expression]) = Nil")
    val clean = Seq(
      "def a = new java.io.File(d).listFiles()",
      "def b = dir.listFiles(f => f.isFile && f.getName.endsWith(\",\"))",
      "def c = fs.listStatus(hp)",
      "// fs.listFiles(hp, true)",
      "/** fs.listFiles(hp, true) */ def e = 1",
      "def f = log(\"fs.listFiles(hp, true)\")")
    flagged.foreach(s => assert(listings(s).size == 1, s"not flagged: $s"))
    clean.foreach(s => assert(listings(s).isEmpty, s"flagged: $s"))
    assert(listings(flagged.last) == Seq((true, 1)) && listings(flagged.head) == Seq((false, 1)))
  }

  test("no src/main code lists files through a located Hadoop listing") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val found: Seq[(String, Boolean, Int)] =
      Files.walk(SourceRoot).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .flatMap { (f: Path) =>
          listings(new String(Files.readAllBytes(f), "UTF-8"))
            .map { case (isDef, line) => (f.getFileName.toString, isDef, line) }
        }
    val allowed = found.filter { case (f, isDef, _) => f == Exception && isDef }
    val violations = found.diff(allowed)
    assert(violations.isEmpty,
      "located listings (use ParquetStats.listParquetFiles or a listStatus " +
        "walk): " + violations.map { case (f, _, l) => s"$f:$l" }.mkString(", "))
    // a moved or renamed override would leave the exception stale
    assert(allowed.size == 1, s"$Exception no longer overrides FileIndex.listFiles")
  }
}
