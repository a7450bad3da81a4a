package graft

import graft.format.DriverIO
import graft.jobs.JobPlanning
import graft.model.DataFileEntry
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** `graft.Bench`'s gated 1->4 efficiency pair times compact and cluster
  * groups on the job path. A group under [[DriverIO.Cap]] would cluster
  * on the driver, one thread whatever the level, and the pair would stop
  * measuring task-slot scaling. Bench plans groups of at least 4x its
  * 16 MiB target ([[JobPlanning.coalesceGroups]]), so the cap must stay
  * below that. */
class BenchDriverCapSpec extends AnyFunSuite {
  private val BenchSource = Paths.get("src/main/scala/graft/Bench.scala")

  test("the driver cap is below the smallest group graft.Bench plans") {
    assert(Files.isRegularFile(BenchSource), s"run from the repository root: $BenchSource")
    val src = new String(Files.readAllBytes(BenchSource), "UTF-8")
    val targetMb = """val targetMb = (\d+)L""".r.findFirstMatchIn(src)
      .map(_.group(1).toLong).getOrElse(fail("Bench.scala declares no targetMb"))
    // both timed jobs take that target, and the default group floor
    assert(src.contains("new CompactJob(t, targetMb << 20,") &&
      src.contains("new ClusterJob(t, targetMb << 20,"))
    assert(src.contains(".map(_.toLong << 20).getOrElse(-1L)"))
    val target = targetMb << 20
    // the default floor closes a group once it reaches 4x the target
    val perBucket = (0 until 8).map(b => b -> Seq(DataFileEntry(s"f$b", 1L, target,
      b, b, 0L, 0L, "a", "b")))
    val groups = JobPlanning.coalesceGroups(perBucket, target)
    assert(groups.map(_._2.map(_.byteCount).sum) == Seq(4 * target, 4 * target))
    assert(DriverIO.Cap < 4 * target, s"cap ${DriverIO.Cap} vs smallest group ${4 * target}")
  }
}
