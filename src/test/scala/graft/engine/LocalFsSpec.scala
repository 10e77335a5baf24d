package graft.engine

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.{Bench, SparkSpec}

/** [[LocalFs]] against stock Hadoop: every check runs the same calls on the
  * stock local filesystem (core-default's `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`) and on graft's, and compares. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")
  private def stockConf = new Configuration()
  private def graftConf = {
    val c = new Configuration()
    LocalFs.sessionConfs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }
  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(root, stockConf); fs
  }
  private def graftFs: FileSystem = {
    val fs = new LocalFs.Checksummed; fs.initialize(root, graftConf); fs
  }
  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  /** Relative path -> `rwxr-x---` for everything under `dir`. */
  private def tree(dir: String): Map[String, String] = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator.asScala.filter(_ != base).map(p =>
      base.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The same permission-setting calls through both APIs, in `dir`. */
  private def exercise(fs: FileSystem, fc: FileContext, dir: String): Unit = {
    write(fs, new Path(s"$dir/f"), "x")
    fs.mkdirs(new Path(s"$dir/a/b"))
    fs.mkdirs(new Path(s"$dir/m"), new FsPermission("750"))
    fs.create(new Path(s"$dir/g"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    write(fs, new Path(s"$dir/h"), "y")
    fs.setPermission(new Path(s"$dir/h"), new FsPermission("604"))
    fc.mkdir(new Path(s"$dir/c/d"), new FsPermission("755"), true)
    fc.create(new Path(s"$dir/c/e"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
  }

  test("files and directories get stock Hadoop's permission bits, .crc files too") {
    val (s, g) = (tmp("stockperm"), tmp("graftperm"))
    exercise(stockFs, FileContext.getFileContext(stockConf), s)
    exercise(graftFs, FileContext.getFileContext(graftConf), g)
    assert(tree(s).keySet.exists(_.endsWith(".crc")))
    assert(tree(g) === tree(s))
  }

  test("a sticky-bit setPermission still sets the sticky bit") {
    val (s, g) = (tmp("stocksticky"), tmp("graftsticky"))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    stockFs.setPermission(new Path(s), sticky)
    graftFs.setPermission(new Path(g), sticky)
    val got = graftFs.getFileStatus(new Path(g)).getPermission
    assert(got.getStickyBit && got.toShort == sticky.toShort)
    assert(got === stockFs.getFileStatus(new Path(s)).getPermission)
  }

  test("a parquet write leaves a .crc sibling for every file it writes") {
    val dir = tmp("graftcrc")
    spark.range(100).repartition(3).write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).list().toSet
    val data = names.filterNot(_.startsWith("."))
    assert(data.count(_.endsWith(".parquet")) === 3 && data("_SUCCESS"))
    data.foreach(n => assert(names(s".$n.crc"), s"no checksum beside $n"))
  }

  test("FileContext.rename keeps Rename.NONE's refusal and OVERWRITE's replace") {
    def run(conf: Configuration): Map[String, String] = {
      val dir = tmp("rename")
      val fc = FileContext.getFileContext(conf)
      val fs = FileSystem.newInstance(root, conf)
      val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
      write(fs, src, "new")
      write(fs, dst, "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val names = new java.io.File(dir).list().sorted
      val text = new String(Files.readAllBytes(Paths.get(s"$dir/dst")), "UTF-8")
      fs.close()
      names.map(n => n -> "").toMap + ("dst content" -> text)
    }
    assert(FileContext.getFileContext(graftConf).getDefaultFileSystem
      .isInstanceOf[LocalFs.Fs])
    val got = run(graftConf)
    assert(got("dst content") === "new" && !got.contains("src"))
    assert(got === run(stockConf))
  }

  test("getFileLinkStatus equals stock on a symlink, a dangling one, a file and a dir") {
    val dir = tmp("links")
    Files.write(Paths.get(s"$dir/t"), "x".getBytes)
    Files.createSymbolicLink(Paths.get(s"$dir/l"), Paths.get(s"$dir/t"))
    Files.createSymbolicLink(Paths.get(s"$dir/dl"), Paths.get(s"$dir/missing"))
    def show(st: FileStatus) = (st.getPath, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.isDirectory, st.getLen,
      st.getPermission, st.getOwner, st.getGroup)
    val stockRaw = new RawLocalFileSystem(); stockRaw.initialize(root, stockConf)
    val graftRaw = new LocalFs.Raw; graftRaw.initialize(root, graftConf)
    val (stockFc, graftFc) =
      (FileContext.getFileContext(stockConf), FileContext.getFileContext(graftConf))
    Seq("t", "l", "dl", "").map(n => new Path(s"$dir/$n")).foreach { p =>
      assert(show(graftRaw.getFileLinkStatus(p)) === show(stockRaw.getFileLinkStatus(p)), p)
      assert(show(graftFc.getFileLinkStatus(p)) === show(stockFc.getFileLinkStatus(p)), p)
    }
    assert(graftRaw.getFileLinkStatus(new Path(s"$dir/l")).isSymlink)
  }

  test("a Bench.buildSession session resolves both Hadoop APIs to LocalFs") {
    // FileSystem.get caches by scheme and user, not by conf: a file://
    // FileSystem created before the session would keep the stock class
    val shared = spark // built first, so buildSession cannot add the extension
    val s = Bench.buildSession("4")
    assert(s eq shared)
    val fs = FileSystem.get(root, s.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalFs.Checksummed])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[LocalFs.Raw])
    assert(FileContext.getFileContext(s.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass === classOf[LocalFs.Fs])
  }
}
