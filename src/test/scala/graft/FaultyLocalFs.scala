package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A Hadoop FileSystem over local disk, served under whatever scheme
  * it is registered for, that injects faults into the calls the store
  * lease makes. It is NOT a `LocalFileSystem`/`RawLocalFileSystem`
  * subtype, so the lease takes its unknown-scheme create + settle +
  * double read-back path. `create` without overwrite is an atomic
  * create-if-absent (`O_EXCL`), the way HDFS arbitrates it, so mutual
  * exclusion through this filesystem is exact.
  *
  * Before each `open`, `create`, `getFileStatus`, `setTimes`, `rename`
  * and `delete` it hands `(op, path)` to the fault registered for its
  * scheme (see [[FaultyLocalFs.withScheme]]), which may count the call
  * or throw; `rename` reports its DESTINATION. */
class FaultyLocalFs extends FileSystem {
  private val raw = new RawLocalFileSystem
  private var uri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    uri = URI.create(s"${name.getScheme}:///")
    raw.initialize(URI.create("file:///"), conf)
  }

  override def getUri: URI = uri

  private def fault(op: String, p: Path): Unit =
    Option(FaultyLocalFs.faults.get(uri.getScheme))
      .foreach(_.applyOrElse((op, p), (_: (String, Path)) => ()))

  private def local(p: Path): Path = new Path(p.toUri.getPath)

  private def ours(st: FileStatus): FileStatus = {
    st.setPath(new Path(uri.getScheme, null, st.getPath.toUri.getPath))
    st
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    fault("open", p)
    raw.open(local(p), bufferSize)
  }

  override def create(p: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    fault("create", p)
    val f = Paths.get(p.toUri.getPath)
    Files.createDirectories(f.getParent)
    val mode =
      if (overwrite) StandardOpenOption.TRUNCATE_EXISTING
      else StandardOpenOption.CREATE_NEW
    new FSDataOutputStream(Files.newOutputStream(f,
      StandardOpenOption.CREATE, mode, StandardOpenOption.WRITE),
      statistics)
  }

  override def append(p: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("append")

  override def rename(src: Path, dst: Path): Boolean = {
    fault("rename", dst)
    raw.rename(local(src), local(dst))
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    fault("delete", p)
    raw.delete(local(p), recursive)
  }

  override def listStatus(p: Path): Array[FileStatus] =
    raw.listStatus(local(p)).map(ours)

  override def setWorkingDirectory(dir: Path): Unit = ()

  override def getWorkingDirectory: Path =
    new Path(uri.getScheme, null, "/")

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    raw.mkdirs(local(p), permission)

  override def getFileStatus(p: Path): FileStatus = {
    fault("getFileStatus", p)
    ours(raw.getFileStatus(local(p)))
  }

  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    fault("setTimes", p)
    raw.setTimes(local(p), mtime, atime)
  }
}

object FaultyLocalFs {
  private val faults = new java.util.concurrent.ConcurrentHashMap[
    String, PartialFunction[(String, Path), Unit]]

  /** Runs `body` with `scheme://` served by a [[FaultyLocalFs]] whose
    * calls pass through `fault`, then unregisters both. */
  def withScheme[T](conf: Configuration, scheme: String)(
      fault: PartialFunction[(String, Path), Unit])(body: => T): T = {
    conf.set(s"fs.$scheme.impl", classOf[FaultyLocalFs].getName)
    conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    faults.put(scheme, fault)
    try body
    finally {
      faults.remove(scheme)
      conf.unset(s"fs.$scheme.impl")
      conf.unset(s"fs.$scheme.impl.disable.cache")
    }
  }
}
