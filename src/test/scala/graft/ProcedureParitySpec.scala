package graft

import graft.format.{Json, QTable}
import graft.jobs.{AnalyzeJob, AppendJob, AutoMaintain}
import graft.synth.DataGen
import org.scalatest.funsuite.AnyFunSuite

/** The CLI and `CALL qtable.*` are two spellings of one registry: every
  * shared verb, run through both front ends on two equal tables, returns
  * the same summary. */
class ProcedureParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Keys whose value is a wall-clock time, so never equal across runs. */
  private val TimeValued = Set("created-at-ms")

  /** Each shared verb's arguments in CLI spelling, run in this order on
    * both tables. `{dir}` is each side's own directory; `true` is a bare
    * flag on the CLI and a boolean literal in CALL. */
  private val cases: Seq[(String, Seq[(String, String)])] = Seq(
    "analyze" -> Seq("table" -> "{dir}/t", "target-mb" -> "1"),
    "compact" -> Seq("table" -> "{dir}/t", "target-mb" -> "1",
      "job-id" -> "parity-compact"),
    "cluster" -> Seq("table" -> "{dir}/t", "target-mb" -> "1", "by" -> "w,h",
      "job-id" -> "parity-cluster"),
    "rewrite-manifests" -> Seq("table" -> "{dir}/t"),
    "set-property" -> Seq("table" -> "{dir}/t", "key" -> "owner",
      "value" -> "it's ops"),
    "unset-property" -> Seq("table" -> "{dir}/t", "key" -> "owner"),
    "set-constraint" -> Seq("table" -> "{dir}/t", "name" -> "fmt-known",
      "expr" -> "fmt IN ('png', 'jpeg', 'webp')"),
    "drop-constraint" -> Seq("table" -> "{dir}/t", "name" -> "fmt-known"),
    "tag" -> Seq("table" -> "{dir}/t", "name" -> "rel", "version" -> "2"),
    "rollback" -> Seq("table" -> "{dir}/t", "tag" -> "rel"),
    "untag" -> Seq("table" -> "{dir}/t", "name" -> "rel"),
    "untag" -> Seq("table" -> "{dir}/t", "name" -> "rel"),
    "expire" -> Seq("table" -> "{dir}/t", "keep" -> "3", "dry-run" -> "true"),
    "remove-orphans" -> Seq("table" -> "{dir}/t", "grace-hours" -> "0.5",
      "dry-run" -> "true"),
    "maintain" -> Seq("table" -> "{dir}/t", "auto" -> "true",
      "max-versions" -> "4", "job-id" -> "parity-tick"),
    "clone" -> Seq("table" -> "{dir}/t", "target" -> "{dir}/clone"),
    "register" -> Seq("catalog" -> "{dir}/cat", "name" -> "imgs",
      "table" -> "{dir}/t"),
    "tables" -> Seq("catalog" -> "{dir}/cat"),
    "unregister" -> Seq("catalog" -> "{dir}/cat", "name" -> "imgs"))

  private def freshTable(root: String): QTable = {
    val t = QTable.create(root, spark, buckets = 2)
    AppendJob.append(t, DataGen.generate(spark, 240, 7L, 2).toDF(), 3)
    AppendJob.append(t, DataGen.generate(spark, 60, 8L, 1).toDF(), 2)
    t
  }

  private def cli(verb: String, args: Seq[(String, String)]): Map[String, String] =
    Procedures.run(verb, Main.parseOpts(args.flatMap {
      case (k, "true") => Seq(s"--$k")
      case (k, v) => Seq(s"--$k", v)
    }.toArray), spark)

  private def callSql(verb: String, args: Seq[(String, String)]): String =
    s"CALL qtable.${verb.replace('-', '_')}(" + args.map {
      case (k, "true") => s"${k.replace('-', '_')} => true"
      case (k, v) => s"${k.replace('-', '_')} => '${v.replace("'", "''")}'"
    }.mkString(", ") + ")"

  private def call(verb: String, args: Seq[(String, String)]): Map[String, String] =
    spark.sql(callSql(verb, args)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("every shared verb has a parity case") {
    assert(cases.map(_._1).toSet == Procedures.verbs.toSet)
  }

  test("each shared verb returns the same summary through the CLI and CALL") {
    val dirs = Seq(TestSpark.tmpDir("parity-cli"), TestSpark.tmpDir("parity-call"))
    dirs.foreach(d => freshTable(s"$d/t"))
    cases.foreach { case (verb, args0) =>
      val Seq(viaCli, viaCall) = dirs.zip(Seq(cli _, call _)).map { case (d, run) =>
        run(verb, args0.map { case (k, v) => k -> v.replace("{dir}", d) })
          .map { case (k, v) => k -> v.replace(d, "{dir}") } -- TimeValued
      }
      assert(viaCli == viaCall, s"$verb: CLI vs CALL")
      assert(viaCli.nonEmpty, s"$verb returned nothing")
    }
  }

  test("maintain keeps retention.keep-last versions in both CLI forms and through CALL") {
    val forms: Seq[(String, QTable => Unit)] = Seq(
      "CLI pass" -> (t => cli("maintain", Seq("table" -> t.root, "target-mb" -> "1"))),
      "CLI auto" -> (t => cli("maintain", Seq("table" -> t.root, "auto" -> "true"))),
      "CALL" -> (t => call("maintain", Seq("table" -> t.root))))
    forms.foreach { case (form, maintain) =>
      val t = freshTable(TestSpark.tmpDir("keep-last"))
      t.setProperties(Map("retention.keep-last" -> "4"))
      t.setProperties(Map("auto.max-versions" -> "4"))
      assert(t.listVersions.size > 4)
      maintain(t)
      assert(t.listVersions.size == 4, s"$form kept ${t.listVersions}")
    }
  }

  test("CALL maintain reads the table-carried auto dials") {
    val t = freshTable(TestSpark.tmpDir("auto-dial"))
    assert(AutoMaintain.plan(new AnalyzeJob(t, 128L << 20).run()).compact,
      "the fixture carries small-file debt at the default dial")
    t.setProperties(Map("auto.small-debt-ratio" -> "1.0"))
    val r = call("maintain", Seq("table" -> t.root))
    assert(!r("actions").split(",").contains("compact"), r.toString)
  }

  test("CALL compact commits under the job_id it is given") {
    val t = freshTable(TestSpark.tmpDir("call-job-id"))
    val r = call("compact", Seq("table" -> t.root, "job-id" -> "x"))
    assert(r("job-id") == "x")
    assert(t.currentSnapshot.summary("job-id") == "x")
  }

  test("a CLI line is one JSON object that parses back to its map") {
    val kv = Map("value" -> "say \"hi\"", "expr" -> "a \\ b", "note" -> "one\ntwo")
    val line = Main.render("set-property", kv)
    assert(!line.contains('\n'))
    assert(line.startsWith("""{"job":"set-property","""))
    val back = Json.mapper.readValue(line, classOf[java.util.LinkedHashMap[String, String]])
    assert(back.keySet.toArray.toSeq == Seq("job", "expr", "note", "value"))
    assert(back.get("job") == "set-property")
    kv.foreach { case (k, v) => assert(back.get(k) == v, k) }
  }
}
