package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.InvalidPathException
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSLinkResolver, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystems whose permission and link-status operations run
  * in-process.
  *
  * The sandbox ships no libhadoop, so `NativeIO.isAvailable` is false
  * and stock [[RawLocalFileSystem]] shells out where native code would
  * do the work: a FORK+EXEC of the multi-GB driver JVM each time.
  *
  *  - `setPermission` runs `chmod` for EVERY file create and EVERY
  *    directory create that carries a permission (both
  *    `LocalFSFileOutputStream` and `mkOneDirWithMode` route through
  *    it). A foreachBatch replay writing a few hundred scratch parquet
  *    leaves, task-attempt temp dirs and checkpoint deltas per
  *    micro-batch was measured (jstack sampling during the r15
  *    baseline bench) with 10-22 of 32 executor threads parked INSIDE
  *    `ProcessImpl.forkAndExec`.
  *  - `getFileLinkStatus` and `getLinkTarget` run `readlink`
  *    (`FileUtil.readLink`). `AbstractFileSystem.renameInternal` calls
  *    the former on both source and destination, so every
  *    `FileContext.rename` — the atomic rename behind every streaming
  *    offset, commit and state-delta file and its `.crc` companion —
  *    forked twice. On the 2,000 events/s alert pipeline (4 vCPUs)
  *    that was ~160 processes a second and most of each trigger's
  *    state-commit time.
  *
  * [[NioRawLocalFileSystem]] replaces the shell chmod with one
  * `java.nio.file.Files.setPosixFilePermissions` call — same on-disk
  * result, no process. NIO's permission set has no setuid, setgid or
  * sticky bit, so a mode carrying any of them keeps the parent's path,
  * as does a filesystem without POSIX views. Link status mirrors the
  * parent's non-native branch, with the link read done by
  * `Files.readSymbolicLink` (see [[NioLocalFs.readLink]]). `setOwner`
  * and the permission load of a symlink's status keep the (rare) shell
  * path; everything else is unchanged Hadoop behavior.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioLocalFs.viaNio(permission.toShort)) super.setPermission(p, permission)
    else try {
      java.nio.file.Files.setPosixFilePermissions(
        pathToFile(p).toPath, NioLocalFs.posixOf(permission.toShort))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  // RawLocalFileSystem.getFileLinkStatus with its private non-native
  // branch (deprecatedGetFileLinkStatusInternal) inlined.
  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val target = NioLocalFs.readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission,
        fs.getOwner, fs.getGroup, new Path(target), f)
    } catch {
      // File.exists is false for a dangling link, so getFileStatus
      // throws for links that exist
      case e: FileNotFoundException =>
        if (target.isEmpty) throw e
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
          "", "", new Path(target), f)
    }
  }
}

object NioLocalFs {
  /** setuid (0x800), setgid (0x400) and sticky (0x200). */
  val SpecialBits = 0xE00

  /** Whether a mode is fully expressible as a NIO permission set. */
  def viaNio(mode: Short): Boolean = (mode & SpecialBits) == 0

  private val Bits: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  /** `FileUtil.readLink` without the `readlink` process: the link's
    * target, or "" where `readlink` exits non-zero (not a link, a
    * missing path, or a qualified `file:/...` string, which names no
    * file relative to the working directory). */
  def readLink(f: File): String =
    try java.nio.file.Files.readSymbolicLink(f.toPath).toString
    catch {
      case _: IOException | _: UnsupportedOperationException | _: InvalidPathException => ""
    }

  def posixOf(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (bit, perm) => if ((mode & bit) != 0) s.add(perm) }
    s
  }
}

/** `file://` FileSystem-API implementation for the graft harness:
  * [[LocalFileSystem]] (the class `RocksDBFileManager` hard-casts
  * `FileSystem.getLocal` to — zip/copyFromLocalFile — so the TYPE must
  * be preserved) over the fork-free raw FS, with `.crc` sidecar
  * WRITING off by default: every scratch parquet leaf the replays and
  * iterative operators write otherwise creates a second file (its own
  * create + chmod) that nothing reads back before the dir is deleted —
  * the FileContext half of this finding shipped in round 12
  * (RawLocalFs for checkpoint WALs); this closes the FileSystem-API
  * half without losing the LocalFileSystem type. Reads still verify
  * against any `.crc` that exists (verifyChecksum stays on), so
  * pre-existing checksummed data keeps its integrity check.
  * SPARK_GRAFT_LOCAL_CRC=1 restores sidecar writing for A/B. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    if (sys.env.getOrElse("SPARK_GRAFT_LOCAL_CRC", "0") != "1")
      setWriteChecksum(false)
  }
}

/** `file://` AbstractFileSystem (FileContext API — what Spark's
  * streaming CheckpointFileManager resolves) over the fork-free raw
  * FS: the stock RawLocalFs harness default from round 12 removed the
  * `.crc` sidecars but still shell-chmods every WAL/offset/state-delta
  * create. Constructor shape is the reflection contract
  * `(URI, Configuration)`, same as Hadoop's own RawLocalFs. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false)
