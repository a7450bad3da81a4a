package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Storage abstraction for the qtable METADATA layer (snapshots,
  * manifests, version hint, checkpoints). The data path already goes
  * through Hadoop `FileSystem` everywhere (parquet read/write, footer
  * harvest, expiry deletes); this trait closes the gap for the metadata
  * side so the commit protocol is not welded to `java.nio` — the
  * reference's entire sink surface is an object store
  * (`google_cloud_storage_client.py:40-163`), and an engine that targets
  * that world must keep its commit primitive pluggable.
  *
  * The two atomicity primitives the protocol needs:
  *  - [[writeNew]]: claim a path if and only if it does not exist yet
  *    (optimistic-concurrency version claim). Local FS: `CREATE_NEW`
  *    (atomic). HDFS: `create(overwrite=false)` (atomic). Object stores:
  *    conditional PUT (`if-generation-match:0` on GCS, `If-None-Match:*`
  *    on S3) — an impl for those slots in here without touching QTable.
  *  - [[writeAtomic]]: publish-by-rename for pointer flips (readers see
  *    old or new bytes, never partial). Object stores replace this with
  *    a single-blob PUT, which is already atomic there.
  */
trait CommitIO extends Serializable {
  def readBytes(path: String): Array[Byte]
  /** Publish full contents atomically (rename or single-object PUT). */
  def writeAtomic(path: String, bytes: Array[Byte]): Unit
  /** Create-new claim: true if this call created the file, false if it
    * already existed (lost the race). */
  def writeNew(path: String, bytes: Array[Byte]): Boolean
  /** Child names (files and dirs) of `dir`; Nil if missing. */
  def listNames(dir: String): Seq[String]
  /** Child directory names of `dir`; Nil if missing. */
  def listDirNames(dir: String): Seq[String]
  def exists(path: String): Boolean
  /** Delete one metadata file; false if it did not exist. Expiry routes
    * manifest/version deletes through this so they hit the same store
    * the commit protocol wrote them to. */
  def delete(path: String): Boolean
  def deleteRecursive(path: String): Unit
  def mkdirs(path: String): Unit
}

object CommitIO {
  /** Scheme-less paths and `file:` URIs use the java.nio impl (atomic
    * CREATE_NEW + ATOMIC_MOVE); any other scheme (`hdfs:`, ...) resolves
    * through Hadoop `FileSystem` — with the create-new CLAIM specialized
    * per store, because that is exactly the primitive whose atomicity is
    * store-specific (HDFS create is atomic; local POSIX needs O_EXCL;
    * object stores need conditional PUT). */
  def forPath(root: String, conf: => Configuration): CommitIO =
    new HPath(root).toUri.getScheme match {
      case null => new LocalCommitIO
      case "file" => new LocalFileCommitIO
      case _ => new HadoopCommitIO(conf)
    }
}

/** Default impl for plain local paths: `java.nio` gives truly atomic
  * CREATE_NEW and ATOMIC_MOVE on POSIX. */
class LocalCommitIO extends CommitIO {
  /** The local file a metadata path names. */
  protected def p(s: String): Path = Paths.get(s)

  override def readBytes(path: String): Array[Byte] = Files.readAllBytes(p(path))

  override def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val target = p(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp-" +
      java.util.UUID.randomUUID().toString)
    Files.write(tmp, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def writeNew(path: String, bytes: Array[Byte]): Boolean = {
    val target = p(path)
    Files.createDirectories(target.getParent)
    try {
      Files.write(target, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  override def listNames(dir: String): Seq[String] = {
    val d = p(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  override def listDirNames(dir: String): Seq[String] = {
    val d = p(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq
    finally s.close()
  }

  override def exists(path: String): Boolean = Files.exists(p(path))

  override def delete(path: String): Boolean = Files.deleteIfExists(p(path))

  override def deleteRecursive(path: String): Unit = {
    val d = p(path)
    if (!Files.exists(d)) return
    val s = Files.walk(d)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  override def mkdirs(path: String): Unit = Files.createDirectories(p(path))
}

/** Hadoop `FileSystem` impl: the boundary an HDFS/object-store deployment
  * plugs into. `writeNew` maps to `create(overwrite = false)` — atomic on
  * HDFS; on eventually-listed object stores a production impl overrides
  * it with the store's conditional PUT. `writeAtomic` publishes via
  * `FileContext.rename(OVERWRITE)` (atomic on HDFS and local). */
class HadoopCommitIO(@transient conf: Configuration) extends CommitIO {
  private def fsOf(hp: HPath) = hp.getFileSystem(conf)

  override def readBytes(path: String): Array[Byte] = {
    val hp = new HPath(path)
    val in = fsOf(hp).open(hp)
    try in.readAllBytes() finally in.close()
  }

  override def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val hp = new HPath(path)
    val fs = fsOf(hp)
    fs.mkdirs(hp.getParent)
    val tmp = new HPath(hp.getParent,
      hp.getName + ".tmp-" + java.util.UUID.randomUUID().toString)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val fc = FileContext.getFileContext(hp.toUri, conf)
    fc.rename(tmp, hp, Options.Rename.OVERWRITE)
  }

  override def writeNew(path: String, bytes: Array[Byte]): Boolean = {
    val hp = new HPath(path)
    val fs = fsOf(hp)
    fs.mkdirs(hp.getParent)
    // losing the race is ONLY a failed CREATE (the atomic claim). If the
    // create succeeded but the payload write/close failed, the claim is
    // ours and half-written: release it and rethrow the real error —
    // returning false there would masquerade an I/O fault as a conflict
    // and wedge every future commit against the corrupt orphan file.
    val out =
      try fs.create(hp, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case _: java.nio.file.FileAlreadyExistsException => return false
        case e: java.io.IOException if fs.exists(hp) => return false
      }
    try {
      try out.write(bytes) finally out.close()
      true
    } catch {
      case e: Throwable =>
        try fs.delete(hp, false) catch { case _: Throwable => }
        throw e
    }
  }

  override def listNames(dir: String): Seq[String] = {
    val hp = new HPath(dir)
    val fs = fsOf(hp)
    if (!fs.exists(hp)) Nil
    else fs.listStatus(hp).toSeq.map(_.getPath.getName)
  }

  override def listDirNames(dir: String): Seq[String] = {
    val hp = new HPath(dir)
    val fs = fsOf(hp)
    if (!fs.exists(hp)) Nil
    else fs.listStatus(hp).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  override def exists(path: String): Boolean = {
    val hp = new HPath(path)
    fsOf(hp).exists(hp)
  }

  override def delete(path: String): Boolean = {
    val hp = new HPath(path)
    val fs = fsOf(hp)
    fs.exists(hp) && fs.delete(hp, false)
  }

  override def deleteRecursive(path: String): Unit = {
    val hp = new HPath(path)
    val fs = fsOf(hp)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  override def mkdirs(path: String): Unit = {
    val hp = new HPath(path)
    fsOf(hp).mkdirs(hp)
  }
}

/** `file:`-scheme roots: the java.nio impl on the URI's path. Hadoop's
  * local filesystem, without libhadoop, forks a `chmod` for every file
  * and directory it creates and a `readlink` for each side of a rename;
  * here create, mkdir and the ATOMIC_MOVE publish stay in-process, and
  * the create-new claim is POSIX `O_CREAT|O_EXCL`, where
  * `RawLocalFileSystem.create(overwrite = false)` is an exists-check
  * followed by a create that two concurrent committers can both pass. */
class LocalFileCommitIO extends LocalCommitIO {
  override protected def p(s: String): Path = Paths.get(new HPath(s).toUri.getPath)
}
