package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without process spawns. Spark ships
  * without libhadoop, so the stock [[RawLocalFileSystem]] forks
  * `chmod` for every file and directory it creates and `readlink` for
  * every FileContext rename — about 40 forks per streaming micro-batch
  * (offsets, commits, sources and sink-metadata logs), serial on the
  * stream thread. The two overrides make the same system calls through
  * NIO and return what the stock methods return; everything else
  * (checksums, atomic rename, permissions, umask) is Hadoop's own.
  * [[graft.GraftSession]] registers it for `file:` only. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. Falls back to Hadoop's command where NIO
    * cannot give its exact result: NIO has no sticky bit, and a numeric
    * `chmod` keeps a directory's set-user-ID and set-group-ID bits
    * where NIO would clear them. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode =
      try Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      catch { case _: UnsupportedOperationException | _: IllegalArgumentException => -1 }
    val keepsSetId = (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0
    if (mode == -1 || permission.getStickyBit || keepsSetId) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = new java.util.HashSet[attribute.PosixFilePermission]()
      // enum order OWNER_READ … OTHERS_EXECUTE is bits 0400 … 0001
      attribute.PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(file, perms)
    }
  }

  /** Hadoop's link status with `readlink` read through NIO, on the same
    * `File(f.toString)` the stock method shells out on: the plain
    * status for a file or directory, a symlink status carrying the
    * (qualified) target otherwise, and an empty status for a dangling
    * link. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try {
        val link = new File(f.toString).toPath
        if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
      } catch { case _: java.io.IOException | _: java.nio.file.InvalidPathException => "" }
    val status =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: java.io.FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The FileContext binding of [[GraftRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` (whose constructors are package-private) over it. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("use getServerDefaults(Path)", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs`
  * over [[GraftRawLocalFs]]. FileContext finds the (URI,
  * Configuration) constructor by reflection; like `LocalFs` it binds
  * `file:///` whatever the URI. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))
