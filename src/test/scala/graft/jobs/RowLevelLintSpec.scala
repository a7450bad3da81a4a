package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.util.matching.Regex

/** A lint written as a test: the row-level jobs write through
  * [[RowLevelWrite]]. MERGE, UPDATE, DELETE and upsert plan their
  * change; the strategies, the constraint veto and the commit are
  * written once, in the module. In those four job files no call may
  * commit (`table.commit(`), build a [[GroupRewrite]], write new rows
  * (`writeNewRows(`), write position or equality deletes
  * (`writeDeleteFiles(` / `writeEqDeleteFiles(`) or enforce constraints
  * (`Constraints.enforce(`). The delete writers stay defined in the
  * jobs' companions, which other writers share; a definition is not a
  * call. A regex cannot see types: comments and string literals are
  * blanked first. */
class RowLevelLintSpec extends AnyFunSuite {
  private val JobsDir = Paths.get("src/main/scala/graft/jobs")
  private val Jobs = Seq("MergeJob.scala", "UpdateJob.scala", "DeleteJob.scala", "UpsertJob.scala")

  private val Forbidden = ("""\btable\s*\.\s*commit\s*\(|\bnew\s+GroupRewrite\s*\(|""" +
    """(?<!def\s)\b(?:writeNewRows|writeDeleteFiles|writeEqDeleteFiles)\s*\(|""" +
    """\bConstraints\s*\.\s*enforce\s*\(""").r
  private val NonCode =
    """(?s)'"'|/\*.*?\*/|//[^\n]*|"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"""".r

  /** Lines of every forbidden call in `src`. */
  private def calls(src: String): Seq[Int] = {
    val code = NonCode.replaceAllIn(src,
      m => Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))
    Forbidden.findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the matcher flags row-level writes and commits and nothing else") {
    val flagged = Seq(
      "def a = table.commit(Some(snap), \"merge\", out)",
      "def b = table\n  .commit(Some(snap), op, Nil)",
      "def c = new GroupRewrite(table, snap, jobId, \"update\")",
      "def d = JobPlanning.writeNewRows(table, jobId, rows, snap)",
      "def e = DeleteJob.writeDeleteFiles(table, hits, dir)",
      "def f = UpsertJob.writeEqDeleteFiles(table, keys, dir)",
      "def g = Constraints.enforce(rows, snap, \"MERGE\")",
      "def h = writeDeleteFiles (t, p, d)")
    val clean = Seq(
      "def a = new RowLevelWrite(table, snap, jobId, \"merge\").write(change, false)(s)",
      "def writeDeleteFiles(table: QTable, hits: DataFrame, dir: String) = 1",
      "def writeEqDeleteFiles(table: QTable, keys: DataFrame,\n  dir: String) = 1",
      "def b = rewrite.commit(groups, outputs, summary)",
      "def c = Constraints.of(snap)",
      "def d = RewriteGroup.perBucket(affected, snap)",
      "// table.commit(Some(snap), op, out)",
      "/** `new GroupRewrite(t, s, id, op)` */ def e = 1",
      "def f = log(\"Constraints.enforce(rows)\")")
    flagged.foreach(s => assert(calls(s).size == 1, s"not flagged: $s"))
    clean.foreach(s => assert(calls(s).isEmpty, s"flagged: $s"))
  }

  test("MERGE, UPDATE, DELETE and upsert write and commit only through RowLevelWrite") {
    assert(Files.isDirectory(JobsDir), s"run from the repository root: $JobsDir")
    val violations = Jobs.flatMap { f =>
      calls(new String(Files.readAllBytes(JobsDir.resolve(f)), "UTF-8")).map(l => s"$f:$l")
    }
    assert(violations.isEmpty,
      "row-level jobs plan their change and hand it to RowLevelWrite, which owns " +
        "the strategies, the constraint veto and the commit: " + violations.mkString(", "))
  }
}
