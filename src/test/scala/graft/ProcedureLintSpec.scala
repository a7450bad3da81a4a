package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A lint written as a test: the front ends build no shared verb's job.
  * `graft.Main` and the SQL surface in `graft/spark` reach compact,
  * cluster, expire, rewrite-manifests, remove-orphans, analyze,
  * rollback and the auto tick only through [[Procedures]], so the two
  * cannot drift apart in precedence, job ids or report shape again. A
  * regex cannot see types: it sees `new <Job>(` and `AutoMaintain.run`,
  * comments and string literals blanked first. */
class ProcedureLintSpec extends AnyFunSuite {
  private val SourceRoot = Paths.get("src/main/scala/graft")
  private val FrontEnds = Seq("Main.scala", "spark")

  private val SharedJob = ("""\bnew\s+(?:graft\s*\.\s*jobs\s*\.\s*)?(?:CompactJob|ClusterJob|""" +
    """ExpireSnapshotsJob|RewriteManifestsJob|RemoveOrphanFilesJob|AnalyzeJob|RollbackJob)\b|""" +
    """\bAutoMaintain\s*\.\s*run\b""").r
  private val NonCode =
    """(?s)'"'|/\*.*?\*/|//[^\n]*|"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"""".r

  /** Lines of every shared-verb job construction in `src`. */
  private def constructions(src: String): Seq[Int] = {
    val code = NonCode.replaceAllIn(src,
      m => Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))
    SharedJob.findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the matcher flags shared-verb job constructions and nothing else") {
    val flagged = Seq(
      "def a = new CompactJob(t, targetBytes).run()",
      "def b = new graft.jobs.ClusterJob(t,\n  hilbert = true)",
      "def c = CommitRetry.withCommitRetry()(new RewriteManifestsJob(t).run())",
      "def d = new ExpireSnapshotsJob(t).run(2)",
      "def e = new RemoveOrphanFilesJob(t, graceMs)",
      "def f = new AnalyzeJob(t, b).run()",
      "def g = new RollbackJob(t).run(3)",
      "def h = AutoMaintain.run(t, b)",
      "def i = AutoMaintain\n  .run(t, b, cfg)")
    val clean = Seq(
      "def a = Procedures.run(verb, opts, spark)",
      "def b = new FastForwardJob(t).run(branch)",
      "def c = new MergeJob(t, jobId).run(src)",
      "def d = RollbackJob.resolveTarget(t, to, None, None)",
      "def e = AutoMaintain.plan(report)",
      "def f = new CompactJobPlanner(t)",
      "// new CompactJob(t).run()",
      "/** `new AnalyzeJob(t).run()` */ def g = 1",
      "def h = log(\"AutoMaintain.run(t)\")")
    flagged.foreach(s => assert(constructions(s).size == 1, s"not flagged: $s"))
    clean.foreach(s => assert(constructions(s).isEmpty, s"flagged: $s"))
  }

  test("the CLI and the SQL surface run shared verbs only through Procedures") {
    assert(Files.isDirectory(SourceRoot), s"run from the repository root: $SourceRoot")
    val files = FrontEnds.flatMap { f =>
      Files.walk(SourceRoot.resolve(f)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    }
    assert(files.exists(_.getFileName.toString == "Main.scala") &&
      files.exists(_.getFileName.toString == "QTableExtensions.scala"))
    val violations = files.flatMap { (f: Path) =>
      constructions(new String(Files.readAllBytes(f), "UTF-8"))
        .map(l => s"${SourceRoot.relativize(f)}:$l")
    }
    assert(violations.isEmpty,
      "shared maintenance verbs are implemented once, in graft.Procedures: " +
        violations.mkString(", "))
  }
}
