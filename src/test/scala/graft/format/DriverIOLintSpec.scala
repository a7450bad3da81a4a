package graft.format

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A lint written as a test: the engine reads and writes table files on
  * the driver only through [[DriverIO]], under its one cap. Outside
  * `DriverIO.scala`, `src/main` builds no file-format reader
  * (`buildReaderWithPartitionValues(`), opens no output writer (a
  * three-argument `newInstance(`, the shape of
  * `OutputWriterFactory.newInstance(path, schema, context)`), and declares
  * no second 8 MiB value (`val X = 8L << 20`, `8 * 1024 * 1024` or
  * `8388608`). A regex cannot see types: a parameter default such as a
  * target file size of `8L << 20` is not a `val` and passes. */
class DriverIOLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main")
  private val Home = "DriverIO.scala"

  private val Reader = """\bbuildReaderWithPartitionValues\s*\(""".r
  private val Writer = """\.\s*newInstance\s*\(""".r
  private val EightMiB =
    """\bval\s+\w+\s*(?::\s*Long\s*)?=\s*(?:8L?\s*<<\s*20|8L?\s*\*\s*1024L?\s*\*\s*1024L?|8388608L?)\b""".r
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

  /** (kind, line) of every driver read, driver write and 8 MiB value in `src`. */
  private def uses(src: String): Seq[(String, Int)] = {
    val c = code(src)
    def lines(kind: String, ms: Iterator[Regex.Match]) =
      ms.map(m => kind -> (c.substring(0, m.start).count(_ == '\n') + 1))
    (lines("reader", Reader.findAllMatchIn(c)) ++
      lines("writer", Writer.findAllMatchIn(c).filter(m => arity(c, m.end - 1) == 3)) ++
      lines("cap", EightMiB.findAllMatchIn(c))).toSeq
  }

  test("the matcher flags driver readers, writers and 8 MiB values and nothing else") {
    val flagged = Seq(
      "def a = rel.fileFormat.buildReaderWithPartitionValues(s, d, p, r, Nil, o, c)" -> "reader",
      "def b = fmt\n  .buildReaderWithPartitionValues (s, d, p, r, f, o, c)" -> "reader",
      "def c = factory.newInstance(staged.toString, schema, task)" -> "writer",
      "def d = f\n  .newInstance(path, StructType(Seq(a, b)), ctx)" -> "writer",
      "val MaxBytes: Long = 8L << 20" -> "cap",
      "private val cap = 8 * 1024 * 1024" -> "cap",
      "val Limit = 8388608L" -> "cap")
    val clean = Seq(
      "def a = cls.getDeclaredConstructor().newInstance()",
      "def b = ctor.newInstance(arg)",
      "class C(targetFileBytes: Long = 8L << 20)",
      "def c = new ClusterJob(t, targetFileBytes = 8L << 20)",
      "val big = 16L << 20",
      "val n = 8L << 10",
      "// rel.fileFormat.buildReaderWithPartitionValues(s, d, p, r, Nil, o, c)",
      "/** factory.newInstance(path, schema, task) */ def e = 1",
      "def f = log(\"val Cap = 8L << 20\")")
    flagged.foreach { case (s, kind) => assert(uses(s).map(_._1) == Seq(kind), s"not flagged: $s") }
    clean.foreach(s => assert(uses(s).isEmpty, s"flagged: $s"))
  }

  test("driver reads, driver writes and the driver cap live only in DriverIO") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val found: Seq[(String, String, Int)] =
      Files.walk(SourceRoot).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .flatMap { (f: Path) =>
          uses(new String(Files.readAllBytes(f), "UTF-8"))
            .map { case (kind, line) => (f.getFileName.toString, kind, line) }
        }
    val (home, violations) = found.partition(_._1 == Home)
    assert(violations.isEmpty,
      "driver-side file I/O or a second 8 MiB cap outside DriverIO: " +
        violations.map { case (f, k, l) => s"$f:$l ($k)" }.mkString(", "))
    // a moved or renamed DriverIO would leave the exception stale
    assert(home.map(_._2).sorted == Seq("cap", "reader", "writer"),
      s"$Home no longer holds one reader, one writer and the cap: $home")
  }
}
