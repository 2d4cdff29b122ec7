package graft

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system that `core-site.xml` wires in for `file:`
  * ([[graft.fs.NioRawLocalFileSystem]]): it must be what sessions get, and
  * it must give Hadoop's own answers on every call it overrides. */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def tmp(): JPath = Files.createTempDirectory("localfs")

  /** The same conf with Hadoop's own local file systems for `file:`, for
    * side-by-side answers. */
  private def stockConf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }
  private def stockRaw(conf: Configuration): FileSystem =
    FileSystem.newInstance(local, stockConf(conf)).asInstanceOf[LocalFileSystem].getRaw

  test("a session's Hadoop conf resolves both file: faces to the nio classes") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, new Configuration())) {
      val fs = FileSystem.get(local, conf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
      val afs = AbstractFileSystem.get(local, conf)
      assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
      assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
      assert(afs.getUriDefaultPort == -1 && afs.isValidName("a:b"))
    }
  }

  test("create and mkdirs through both faces set Hadoop's permissions under the umask") {
    val made = Seq("fs/a", "fs/a/b", "fs/a/b/f", "fs/a/b/.f.crc",
      "fc/a", "fc/a/b", "fc/a/b/f", "fc/a/b/.f.crc")
    def build(conf: Configuration, root: JPath): Seq[Int] = {
      val fs = FileSystem.newInstance(local, conf)
      val fc = FileContext.getFileContext(local, conf)
      try {
        fs.mkdirs(new Path(root.resolve("fs/a/b").toUri))
        fs.create(new Path(root.resolve("fs/a/b/f").toUri)).close()
        fc.mkdir(new Path(root.resolve("fc/a/b").toUri), FsPermission.getDirDefault, true)
        fc.create(new Path(root.resolve("fc/a/b/f").toUri), EnumSet.of(CreateFlag.CREATE)).close()
      } finally fs.close()
      made.map(p => mode(root.resolve(p)))
    }
    for (umask <- Seq("022", "027")) withClue(s"umask $umask: ") {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      val u = FsPermission.getUMask(conf)
      val got = build(conf, tmp())
      assert(got == build(stockConf(conf), tmp()), made)
      val (fileMode, dirMode) = (FsPermission.getFileDefault.applyUMask(u).toShort.toInt,
        FsPermission.getDirDefault.applyUMask(u).toShort.toInt)
      for ((p, m) <- made.zip(got) if p.endsWith("f") || p.endsWith(".crc"))
        assert(m == fileMode, p)
      for ((p, m) <- made.zip(got) if p.endsWith("/b")) assert(m == dirMode, p)
    }
  }

  test("setPermission round-trips 0640 and 01777, sticky bit included") {
    val fs = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
    val d = tmp()
    val f = d.resolve("f")
    Files.write(f, Array[Byte](1))
    val sticky = Files.createDirectory(d.resolve("sticky"))
    for ((p, perm) <- Seq(f -> octal("640"), sticky -> octal("1777"))) {
      val hp = new Path(p.toUri)
      fs.setPermission(hp, perm)
      assert(mode(p) == perm.toShort.toInt, p)
      assert(fs.getFileStatus(hp).getPermission == perm, p) // equality covers the sticky bit
    }
  }

  test("getFileLinkStatus gives RawLocalFileSystem's answers on files, dirs, links, misses") {
    val conf = spark.sparkContext.hadoopConfiguration
    val nio = FileSystem.getLocal(conf).getRaw
    val stock = stockRaw(conf)
    val d = tmp()
    val file = Files.write(d.resolve("file"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")

    def answer(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

    // both path forms: Hadoop's own readlink sees links only in the bare one
    for (p <- Seq(file, dir, link, dangling, missing);
         hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(answer(nio, hp) == answer(stock, hp), hp)
    }
    assert(answer(nio, new Path(link.toString)).exists(_(3) == true), "bare link path is a symlink")
    assert(answer(nio, new Path(missing.toUri)).isLeft, "missing path must throw FileNotFoundException")
  }

  test("FileContext rename(OVERWRITE) replaces an existing file") {
    val fc = FileContext.getFileContext(local, spark.sparkContext.hadoopConfiguration)
    val d = tmp()
    def write(name: String, s: String): Path = {
      val p = new Path(d.resolve(name).toUri)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
      p
    }
    val src = write("live.tmp", "new value")
    val dst = write("live", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    val in = fc.open(dst) // a checksum mismatch would fail this read
    val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(got == "new value")
  }
}
