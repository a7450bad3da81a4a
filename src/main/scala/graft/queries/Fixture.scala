package graft.queries

import org.apache.spark.sql.SparkSession

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

/** A build-once on-disk fixture: `build(spark, root)` runs at most once
  * per root, and every later [[dir]] call — in this JVM or another one
  * sharing the directory — serves the finished build from disk.
  *
  * The protocol, in one place for every query-pack fixture:
  *  - a `_FIXTURE_READY` marker under `root` means the build finished;
  *    it is written only after `build` returns, so a build that throws
  *    or a process killed mid-build leaves no marker;
  *  - a root WITHOUT the marker is stale or partial and is wiped before
  *    the build runs, so a rebuild never sees a previous attempt's files;
  *  - builds are serialized by this object's monitor inside one JVM and
  *    by an exclusive lock on `<root>.lock` across processes.
  *
  * A fixture from an older build is reused as long as its marker exists,
  * so bump `version` in [[Fixture.apply]] whenever the fixture's shape
  * changes: the root name carries it. */
final class Fixture(val root: String, build: (SparkSession, String) => Unit) {
  private val ready = Paths.get(root, "_FIXTURE_READY")

  /** The fixture's root, built first if no finished build is on disk. */
  def dir(s: SparkSession): String = synchronized {
    if (!Files.exists(ready)) {
      // cross-PROCESS exclusion (synchronized only covers this JVM): a test
      // suite and a bench run sharing java.io.tmpdir must not rebuild the
      // fixture under each other
      val ch = FileChannel.open(Paths.get(root + ".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = ch.lock()
      try {
        if (!Files.exists(ready)) {
          // rebuild from scratch on a stale/partial dir (shared
          // recursive-delete helper from the commit-IO layer)
          new graft.format.LocalCommitIO().deleteRecursive(root)
          build(s, root)
          Files.createDirectories(Paths.get(root))
          Files.createFile(ready)
        }
      } finally { lock.release(); ch.close() }
    }
    root
  }
}

object Fixture {
  /** The fixture rooted at `${java.io.tmpdir}/graft_<name>_v<version>`. */
  def apply(name: String, version: Int)(build: (SparkSession, String) => Unit): Fixture =
    new Fixture(s"${System.getProperty("java.io.tmpdir")}/graft_${name}_v$version", build)
}
