package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, PosixFilePermission}
import java.security.Principal
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its three process-forking calls
  * answered by `java.nio` instead. Without Hadoop's native library
  * (Spark's jars ship none) the stock class starts a child process for
  * every `chmod` of a created file or directory, every `readlink` of a
  * FileContext rename and every `ls -ld` of a listed file's permission.
  * Only a real symlink and a chmod that sets the sticky bit still take
  * Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission lists owner r/w/x, group r/w/x, others r/w/x: bits 0400 down to 01
      val bits = PosixFilePermission.values.toSeq.zipWithIndex
        .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      ()
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val path = file.toPath
    val a = try Files.readAttributes(path,
      "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,uid,gid").asScala
    catch {
      case _: FileSystemException if !file.exists() =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
    def millis(k: String) = a(k).asInstanceOf[FileTime].toMillis
    def name(view: String, id: String) = NioRawLocalFileSystem.names.computeIfAbsent(s"$view:${a(id)}",
      _ => Files.getAttribute(path, s"unix:$view").asInstanceOf[Principal].getName)
    new FileStatus(a("size").asInstanceOf[Long], a("isDirectory").asInstanceOf[Boolean], 1,
      getDefaultBlockSize(f), millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((a("mode").asInstanceOf[Int] & 0x3ff).toShort),
      name("owner", "uid"), name("group", "gid"),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }
}

object NioRawLocalFileSystem {
  /** uid and gid to name, kept for the process as Hadoop's native IO
    * keeps them: resolving a name costs more than the stat itself. */
  private val names = new ConcurrentHashMap[String, String]()
}

/** `fs.file.impl`: the FileSystem API's `file:` scheme, checksummed as
  * Hadoop's own `LocalFileSystem` is. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext API's `file:`
  * scheme (streaming offsets, commits and state-store deltas), Hadoop's
  * `LocalFs` over [[NioRawLocalFileSystem]], with `RawLocalFs`'s four
  * overrides. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
