package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, FileUtil,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  ChecksumCheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local FS must be byte- and permission-compatible with
  * stock Hadoop local FS — it only changes HOW a chmod or a link read
  * happens (one java.nio call instead of a shell fork), never the
  * outcome. */
class NioLocalFsSpec extends AnyFunSuite {

  private def newConf(): Configuration = {
    val c = new Configuration(false)
    c.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[GraftRawLocalFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  test("posixOf maps every permission bit like FsPermission") {
    for (mode <- Seq(0x1ff, 0x1ed, 0x180, 0x124, 0x0)) {
      val set = NioLocalFs.posixOf(mode.toShort)
      val viaString = java.nio.file.attribute.PosixFilePermissions
        .fromString(new FsPermission(mode.toShort).toString)
      assert(set.equals(viaString),
        s"mode ${Integer.toOctalString(mode)}: $set != $viaString")
    }
  }

  test("special bits route to stock Hadoop; plain modes go through NIO") {
    for (mode <- Seq(0x1ff, 0x1ed, 0x0)) assert(NioLocalFs.viaNio(mode.toShort))
    for (special <- Seq(0x200, 0x400, 0x800); mode <- Seq(0x1ed, 0x0))
      assert(!NioLocalFs.viaNio((special | mode).toShort))
    // posixOf has no bit for them: only the rwx triplets map
    assert(NioLocalFs.posixOf(0x3ed.toShort) == NioLocalFs.posixOf(0x1ed.toShort))

    val fs = FileSystem.get(java.net.URI.create("file:///"), newConf())
    val dir = Files.createTempDirectory("nio_fs_special_").toFile
    try {
      def mode(f: java.io.File) =
        Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
      val sticky = new java.io.File(dir, "sticky"); sticky.mkdir()
      fs.setPermission(new Path(sticky.getAbsolutePath), new FsPermission(0x3ed.toShort))
      assert(mode(sticky) == 0x3ed, Integer.toOctalString(mode(sticky)))
      val plain = new java.io.File(dir, "plain"); plain.mkdir()
      fs.setPermission(new Path(plain.getAbsolutePath), new FsPermission(0x1e8.toShort))
      assert(mode(plain) == 0x1e8, Integer.toOctalString(mode(plain)))
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  test("setPermission applies the mode without a shell fork") {
    val fs = FileSystem.get(java.net.URI.create("file:///"), newConf())
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.isInstanceOf[LocalFileSystem]) // the RocksDBFileManager cast
    val dir = Files.createTempDirectory("nio_fs_spec_").toFile
    try {
      val p = new Path(new java.io.File(dir, "f").getAbsolutePath)
      val out = fs.create(p, new FsPermission("640"), false, 4096,
        1.toShort, 4096L, null)
      out.write(Array[Byte](1, 2, 3)); out.close()
      val perms = Files.getPosixFilePermissions(new java.io.File(dir, "f").toPath)
      assert(perms == NioLocalFs.posixOf(Integer.parseInt("640", 8).toShort))
      // mkdirs with explicit permission (the mkOneDirWithMode path);
      // stock Hadoop applies the umask to directory permissions — the
      // NIO path must land on the identical final mode
      val dp = new Path(new java.io.File(dir, "sub/leaf").getAbsolutePath)
      fs.mkdirs(dp, new FsPermission("750"))
      val got = Files.getPosixFilePermissions(
        new java.io.File(dir, "sub/leaf").toPath)
      val expected = NioLocalFs.posixOf(new FsPermission("750")
        .applyUMask(FsPermission.getUMask(fs.getConf)).toShort)
      assert(got == expected)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("write skips .crc sidecars by default; read-back is intact") {
    val fs = FileSystem.get(java.net.URI.create("file:///"), newConf())
    val dir = Files.createTempDirectory("nio_fs_crc_").toFile
    try {
      val p = new Path(new java.io.File(dir, "data").getAbsolutePath)
      val out = fs.create(p)
      out.write("payload".getBytes); out.close()
      assert(!new java.io.File(dir, ".data.crc").exists(),
        "checksum sidecar written despite SPARK_GRAFT_LOCAL_CRC unset")
      val in = fs.open(p)
      val buf = new Array[Byte](7); in.readFully(buf); in.close()
      assert(new String(buf) == "payload")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  test("FileContext API resolves the fork-free AbstractFileSystem") {
    val fc = FileContext.getFileContext(
      java.net.URI.create("file:///"), newConf())
    val dir = Files.createTempDirectory("nio_afs_spec_").toFile
    try {
      val p = new Path(new java.io.File(dir, "wal").getAbsolutePath)
      val out = fc.create(p,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write("offsets".getBytes); out.close()
      val in = fc.open(p)
      val buf = new Array[Byte](7); in.readFully(buf); in.close()
      assert(new String(buf) == "offsets")
      assert(!new java.io.File(dir, ".wal.crc").exists(),
        "AbstractFileSystem path must stay raw (no checksum sidecars)")
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete()
    }
  }

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration(false)); fs
  }

  private def rmTree(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** The value, or the class of what it threw. */
  private def outcome[T](v: => T): Either[Class[_], T] =
    try Right(v) catch { case e: Exception => Left(e.getClass) }

  private def view(s: FileStatus) =
    (s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.isDirectory, s.getLen, s.getPath)

  test("link status and link target match stock RawLocalFileSystem") {
    val stock = rawFs(new RawLocalFileSystem)
    val nio = rawFs(new NioRawLocalFileSystem)
    val dir = Files.createTempDirectory("nio_fs_link_").toFile
    try {
      val file = new File(dir, "f")
      Files.write(file.toPath, "12345".getBytes)
      val link = new File(dir, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(dir, "dangling")
      Files.createSymbolicLink(dangling.toPath, new File("gone").toPath)
      val cases = Seq(
        "file, qualified" -> new Path("file:" + file.getAbsolutePath),
        "file, bare" -> new Path(file.getAbsolutePath),
        "directory" -> new Path(dir.getAbsolutePath),
        "symlink, bare" -> new Path(link.getAbsolutePath),
        "dangling symlink" -> new Path(dangling.getAbsolutePath),
        "missing" -> new Path(new File(dir, "missing").getAbsolutePath))
      for ((name, p) <- cases) {
        val want = outcome(view(stock.getFileLinkStatus(p)))
        assert(outcome(view(nio.getFileLinkStatus(p))) == want, name)
        assert(outcome(stock.getLinkTarget(p)) == outcome(nio.getLinkTarget(p)), name)
      }
      // the cases reach every branch
      val bare = nio.getFileLinkStatus(new Path(link.getAbsolutePath))
      assert(bare.isSymlink && bare.getSymlink.toUri.getPath == file.getAbsolutePath)
      assert(nio.getLinkTarget(new Path(dangling.getAbsolutePath)) == new Path("gone"))
      assert(!nio.getFileLinkStatus(new Path("file:" + file.getAbsolutePath)).isSymlink)
      assert(outcome(nio.getFileLinkStatus(cases.last._2)) == Left(classOf[FileNotFoundException]))
    } finally rmTree(dir)
  }

  test("checksummed checkpoint write and FileContext rename start no Shell process") {
    val dir = Files.createTempDirectory("nio_fs_forks_").toFile
    try {
      // control: the recording sees a Hadoop Shell fork when one happens
      val (_, control) = ShellForks.during(FileUtil.readLink(dir))
      assert(control.exists(_.startsWith("readlink")), control)

      val conf = newConf()
      val base = CheckpointFileManager.create(new Path(dir.getAbsolutePath), conf)
      assert(base.isInstanceOf[FileContextBasedCheckpointFileManager])
      val mgr = new ChecksumCheckpointFileManager(base, false, 2, false)
      val offset = new Path(new File(dir, "0").getAbsolutePath)
      try {
        val (_, forks) = ShellForks.during {
          val out = mgr.createAtomic(offset, false)
          out.write("offsets".getBytes); out.close()
        }
        assert(forks.isEmpty, s"checkpoint write forked: $forks")
        val in = mgr.open(offset) // verifies against the .crc companion
        val buf = new Array[Byte](7); in.readFully(buf); in.close()
        assert(new String(buf) == "offsets")
      } finally mgr.close()
      assert(new File(dir, "0.crc").exists(),
        "checksum companion must still be written")

      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      def put(name: String, body: String): Path = {
        val p = new Path(new File(dir, name).getAbsolutePath)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(body.getBytes); out.close(); p
      }
      val src = put("src", "new")
      val dst = put("dst", "old")
      val (_, forks) = ShellForks.during(fc.rename(src, dst, Options.Rename.OVERWRITE))
      assert(forks.isEmpty, s"rename forked: $forks")
      assert(!new File(dir, "src").exists())
      assert(new String(Files.readAllBytes(new File(dir, "dst").toPath)) == "new")
    } finally rmTree(dir)
  }
}
