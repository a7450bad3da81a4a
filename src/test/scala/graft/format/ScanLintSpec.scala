package graft.format

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A lint written as a test: table reads in the engine packages plan from
  * manifests through [[QTable.scan]], never from paths. A parquet read
  * through Spark's path-based reader (`spark.read ... .parquet(`) in
  * `graft/{format,jobs,verify,streaming}` fails this spec unless it is
  * one of the allow-listed reads of a freshly written output directory —
  * files no snapshot records yet, so not a table read. */
class ScanLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main/scala/graft")
  private val Packages = Seq("format", "jobs", "verify", "streaming")

  /** (file, enclosing def) of each permitted path-based read: the
    * position- and equality-delete writers' one write path reads back
    * the files it just wrote to learn each file's row count and key
    * range before they are committed. */
  private val Allowed = Set(("DeleteJob.scala", "writeSorted"))

  /** `read` (or `readStream`) followed by a chain of `.method(args)`
    * calls ending in `.parquet(` — across line breaks, one level of
    * nested parentheses in arguments. */
  private val ParquetRead =
    """\bread(?:Stream)?(?:\s*\.\s*\w+\s*(?:\((?:[^()]|\([^()]*\))*\))?)*?\s*\.\s*parquet\s*\(""".r
  private val Def = """\bdef\s+(\w+)""".r

  /** The source with comments and string literals blanked to spaces
    * (offsets and line breaks preserved), so scaladoc, commented-out code
    * and messages never count. */
  private def blankNonCode(src: String): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(k => if (src.charAt(k) != '\n') out.setCharAt(k, ' '))
    def skipString(from: Int, quote: String): Int = {
      var i = from + quote.length
      while (i < src.length && !src.startsWith(quote, i))
        i += (if (quote == "\"" && src.charAt(i) == '\\') 2 else 1)
      math.min(src.length, i + quote.length)
    }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i)
        val stop = if (end < 0) src.length else end
        blank(i, stop); i = stop
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        blank(i, stop); i = stop
      } else if (src.startsWith("'\"'", i)) i += 3
      else if (src.startsWith("\"\"\"", i)) {
        val stop = skipString(i, "\"\"\""); blank(i, stop); i = stop
      } else if (src.charAt(i) == '"') {
        val stop = skipString(i, "\""); blank(i, stop); i = stop
      } else i += 1
    }
    out.toString
  }

  /** (enclosing def, line) of every path-based parquet read in `src`. */
  private def parquetReads(src: String): Seq[(String, Int)] = {
    val code = blankNonCode(src)
    ParquetRead.findAllMatchIn(code).map { m =>
      val enclosing = Def.findAllMatchIn(code.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("<top>")
      (enclosing, code.substring(0, m.start).count(_ == '\n') + 1)
    }.toSeq
  }

  test("the matcher flags path-based reads and nothing else") {
    val flagged = Seq(
      "def a = spark.read.parquet(p)",
      "def b = spark.read.schema(s).parquet(paths: _*)",
      "def c = t.spark.read\n  .schema(t.deleteSchema)\n  .parquet(dels.map(_.path): _*)",
      "def d = spark.readStream.option(\"k\", \"v\").parquet(dir)")
    val clean = Seq(
      "def a = df.write.mode(\"overwrite\").parquet(dir)",
      "def b = graft.format.TableWrite.parquet(df, dir)",
      "def c = w.parquet(dir)",
      "// def d = spark.read.parquet(p)",
      "/** spark.read.parquet(p) */ def e = 1",
      "def f = log(\"spark.read.parquet(p)\")")
    flagged.foreach(s => assert(parquetReads(s).size == 1, s"not flagged: $s"))
    clean.foreach(s => assert(parquetReads(s).isEmpty, s"flagged: $s"))
  }

  test("engine packages read table files only through the manifest-backed scan") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val found: Seq[(String, String, Int)] = Packages.flatMap { pkg =>
      Files.walk(SourceRoot.resolve(pkg)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .flatMap { (f: Path) =>
          parquetReads(new String(Files.readAllBytes(f), "UTF-8"))
            .map { case (d, line) => (f.getFileName.toString, d, line) }
        }
    }
    val violations = found.filterNot { case (f, d, _) => Allowed.contains((f, d)) }
    assert(violations.isEmpty,
      "path-based parquet reads outside the scan primitive (plan table reads " +
        "from entries with QTable.scan): " +
        violations.map { case (f, d, l) => s"$f:$l in $d" }.mkString(", "))
    // a stale allow-list entry would let a new read slip in under its name
    val used = found.map { case (f, d, _) => (f, d) }.toSet
    assert(Allowed.subsetOf(used), s"allow-list entries no longer read: ${Allowed -- used}")
  }
}
