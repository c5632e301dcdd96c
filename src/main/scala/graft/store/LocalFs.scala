package graft.store

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without forked shell commands.
  *
  * Without the native `libhadoop` (the Spark distribution ships none),
  * `RawLocalFileSystem` runs a shell process for every `chmod` (each
  * created file, its `.crc` and each new directory), every `readlink`
  * (each `FileContext` rename looks up both ends as links) and every
  * `ls -ld` (the first permission, owner or group read of a status, which
  * a listing's `LocatedFileStatus` makes for each file). A probe JVM
  * measured `create` at 10 ms, `mkdirs` at 4 ms and `FileContext.rename`
  * at 30 ms that way, against 0.06 ms through `java.nio`.
  *
  * [[NioRawLocalFileSystem]] does those three through `java.nio`'s `unix`
  * attribute view (the JDK's on Linux and macOS): one `chmod(2)` or one
  * `stat(2)` per call, the same mode bits (sticky bit included), owner
  * and group. The other classes wrap it the way Hadoop wraps
  * `RawLocalFileSystem`, so each binding keeps its stock behaviour
  * otherwise, checksums included.
  */
object LocalFs {

  /** The Spark confs `graft.Engine.session` sets: executor and driver
    * `FileSystem` writes (`fs.file.impl`) and `FileContext` users such as
    * Spark's streaming checkpoint manager (`fs.AbstractFileSystem.file.impl`)
    * get the checksummed wrappers, so Spark writes the same `.crc` files.
    * [[Fs]] binds the raw [[NioRawLocalFs]] on its own conf copy.
    */
  val sparkConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  private[store] val StatAttrs = "unix:mode,owner,group,size,isDirectory,lastModifiedTime,lastAccessTime"
}

/** `RawLocalFileSystem` with `setPermission`, `getFileStatus`,
  * `listStatus` and `getFileLinkStatus` done in-process.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  /** Every field from one `stat(2)`; the stock status ran `ls -ld` on
    * its first permission, owner or group read. A path that cannot be
    * read (missing, or a parent that is a file) is not found, as with the
    * stock `File.exists` check.
    */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, LocalFs.StatAttrs)
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
    def time(k: String): Long = a.get(k).asInstanceOf[FileTime].toMillis
    // sticky bit and rwx bits (01777): what `ls -ld` gave the stock status
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(f), time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A directory's children already come from [[getFileStatus]]; the
    * stock single-file answer is a lazy status that runs `ls -ld`.
    */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  /** The stock method runs `readlink` on every path; only a real link
    * needs its target.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (so
  * `FileSystem.getLocal` still works) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`)
  * over [[NioRawLocalFs]]. Hadoop instantiates it through this
  * constructor and, like `LocalFs`, it always serves `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

/** Hadoop's `RawLocalFs` (no checksum files) over [[NioRawLocalFileSystem]]:
  * the same server defaults and name check.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}
