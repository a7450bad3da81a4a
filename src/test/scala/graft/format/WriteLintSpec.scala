package graft.format

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A lint written as a test: table files are written through
  * [[TableWrite]], never through Spark's `DataFrameWriter`
  * (`df.write ... .parquet(` or `.save(`). The writer's save command
  * builds the session's full Hadoop conf, over a thousand keys, and every
  * write task deserializes it twice; [[TableWrite.parquet]] runs Spark's
  * own `FileFormatWriter` with [[TableWrite.leanHadoopConf]]. A regex
  * cannot follow a writer held in a `val`; it sees `.write` chains,
  * across line breaks, in `graft/{jobs,format,streaming,spark}`. */
class WriteLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main/scala/graft")
  private val Packages = Seq("jobs", "format", "streaming", "spark")

  /** `.write` followed by a chain of `.method(args)` calls ending in
    * `.parquet(` or `.save(` — one level of nested parentheses in
    * arguments. `writeStream` and calls named `write(` do not start one. */
  private val WriterSave =
    """\.\s*write\b(?:\s*\.\s*\w+\s*(?:\((?:[^()]|\([^()]*\))*\))?)*?\s*\.\s*(?:parquet|save)\s*\(""".r
  private val NonCode =
    """(?s)'"'|/\*.*?\*/|//[^\n]*|"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"""".r

  /** Lines of every DataFrameWriter save in `src`, comments and string
    * literals blanked first. */
  private def saves(src: String): Seq[Int] = {
    val code = NonCode.replaceAllIn(src,
      m => Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))
    WriterSave.findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the matcher flags DataFrameWriter saves and nothing else") {
    val flagged = Seq(
      "def a = df.write.parquet(dir)",
      "def b = df.write.options(writeOptions(c)).parquet(dir)",
      "def c = df\n  .write\n  .mode(\"overwrite\")\n  .parquet(s\"$out/pre\")",
      "def d = df.write.format(\"parquet\").option(\"k\", f(x)).save(dir)",
      "def e = df.coalesce(1).write.mode(SaveMode.ErrorIfExists).save()")
    val clean = Seq(
      "def a = graft.format.TableWrite.parquet(df, dir)",
      "def b = spark.read.parquet(dir)",
      "def c = LocalAppend.write(aligned, keys, sortOn, nFiles, dir)",
      "def d = stream.writeStream.format(\"qtable\").start()",
      "def e = rows.foreach(w.write)",
      "// df.write.parquet(dir)",
      "/** `df.write.format(\"qtable\").save(path)` */ def f = 1",
      "def g = log(\"df.write.parquet(dir)\")")
    flagged.foreach(s => assert(saves(s).size == 1, s"not flagged: $s"))
    clean.foreach(s => assert(saves(s).isEmpty, s"flagged: $s"))
  }

  test("engine packages write table files only through TableWrite") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val violations: Seq[String] = Packages.flatMap { pkg =>
      Files.walk(SourceRoot.resolve(pkg)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .flatMap { (f: Path) =>
          saves(new String(Files.readAllBytes(f), "UTF-8")).map(l => s"$pkg/${f.getFileName}:$l")
        }
    }
    assert(violations.isEmpty,
      "DataFrameWriter saves ship the full Hadoop conf to every write task " +
        "(write through TableWrite.parquet): " + violations.mkString(", "))
  }
}
