package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem (`Engine.session` sets it for both
  * Hadoop APIs). Without `libhadoop` (`NativeIO.isAvailable()` false),
  * Hadoop's `RawLocalFileSystem.setPermission` runs `chmod` and its
  * `getFileLinkStatus` runs `readlink`, each as a subprocess, for every
  * file and directory a write creates or renames: the parquet writer,
  * the output committer, the metastore ledger's FileContext rename.
  * This does both in-process through `java.nio.file`. A sticky bit or
  * a real symlink, which plain POSIX permission sets and a regular
  * status cannot express, still goes to Hadoop's own code. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.util.Set.of(PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (bits & (0x100 >> i)) != 0 => perm
      }: _*))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: [[InProcessRawLocalFileSystem]] with `.crc`
  * checksums, and the rename contract of Hive's `ProxyLocalFileSystem`
  * (the `file:` class `hive-exec` registers): a rename onto an existing
  * file returns false instead of replacing it. */
class EngineLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl` (FileContext): Hadoop's `LocalFs`
  * over [[InProcessRawLocalFileSystem]], keeping `RawLocalFs`'s
  * port, server defaults and name rule. */
class EngineLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
