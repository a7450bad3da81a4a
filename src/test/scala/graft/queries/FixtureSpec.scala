package graft.queries

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The build-once protocol of [[Fixture]], on fresh temp roots: one build
  * per root, stale dirs wiped, no marker for a failed build, one build
  * under concurrent callers. */
class FixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String = s"${TestSpark.tmpDir("fixture-spec")}/fx"

  private def marker(root: String) = Paths.get(root, "_FIXTURE_READY")

  /** A build that counts its runs and writes one data file. */
  private def countingBuild(builds: AtomicInteger): (SparkSession, String) => Unit =
    (_, root) => {
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(root))
      Files.write(Paths.get(root, "data.txt"), Array[Byte](1))
    }

  test("a second call serves the finished build without running build again") {
    val root = freshRoot()
    val builds = new AtomicInteger()
    val f = new Fixture(root, countingBuild(builds))
    assert(f.dir(spark) == root)
    assert(f.dir(spark) == root)
    assert(builds.get == 1)
    assert(Files.exists(marker(root)))
    assert(Files.exists(Paths.get(root, "data.txt")))
  }

  test("a dir without a marker is wiped before the rebuild") {
    val root = freshRoot()
    Files.createDirectories(Paths.get(root, "table"))
    Files.write(Paths.get(root, "table", "stale.parquet"), Array[Byte](9))
    var staleSeenByBuild = true
    val builds = new AtomicInteger()
    val f = new Fixture(root, (s, r) => {
      staleSeenByBuild = Files.exists(Paths.get(r, "table", "stale.parquet"))
      countingBuild(builds)(s, r)
    })
    f.dir(spark)
    assert(!staleSeenByBuild, "build ran over the previous attempt's files")
    assert(!Files.exists(Paths.get(root, "table")))
    assert(builds.get == 1 && Files.exists(marker(root)))
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    val root = freshRoot()
    val builds = new AtomicInteger()
    val f = new Fixture(root, (s, r) => {
      countingBuild(builds)(s, r)
      if (builds.get == 1) throw new IllegalStateException("build failed")
    })
    val e = intercept[IllegalStateException](f.dir(spark))
    assert(e.getMessage == "build failed")
    assert(!Files.exists(marker(root)))
    assert(f.dir(spark) == root)
    assert(builds.get == 2)
    assert(Files.exists(marker(root)))
  }

  test("two threads calling at once run build exactly once") {
    val root = freshRoot()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val f = new Fixture(root, (s, r) => {
      countingBuild(builds)(s, r)
      Thread.sleep(200) // hold the build open while the other caller arrives
    })
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(() => { start.await(); f.dir(spark) }))
      start.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) == Seq(root, root))
    } finally pool.shutdownNow()
    assert(builds.get == 1)
    assert(Files.exists(marker(root)))
  }
}
