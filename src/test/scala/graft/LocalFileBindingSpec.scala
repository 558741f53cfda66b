package graft

import graft.sources.{GraftLocalFileSystem, GraftLocalFs,
  GraftRawLocalFileSystem, LocalFileBinding}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** Pins [[LocalFileBinding]]: the fork-free `file:` classes leave exactly
  * what Hadoop's `LocalFileSystem`/`LocalFs` leave (modes, `.crc`
  * siblings and bytes), report the same link status, and `register`
  * installs them once, only over Hadoop's defaults, in time for the
  * session's `FileSystem` and `FileContext`. */
class LocalFileBindingSpec extends SparkSpecBase {
  private val fsKey = "fs.file.impl"
  private val afsKey = "fs.AbstractFileSystem.file.impl"

  /** The session's Hadoop conf (its umask) bound to graft's classes or to
    * Hadoop's stock ones. */
  private def conf(graft: Boolean, umask: Option[String]): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    if (!graft) {
      c.set(fsKey, classOf[LocalFileSystem].getName)
      c.set(afsKey, classOf[LocalFs].getName)
    }
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def withScratch[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-local-binding")
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0x0fff

  /** Relative path → mode, and the bytes of each regular file. */
  private def tree(root: JPath): Map[String, (String, Seq[Byte])] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
      root.relativize(p).toString -> (Integer.toOctalString(mode(p)), bytes)
    }.toMap
    finally walk.close()
  }

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()

  /** The same creates and renames through `FileSystem` and `FileContext`
    * under `root`: the shapes a streaming checkpoint, a state-store commit
    * and a sink write take. */
  private def script(c: Configuration, root: JPath): Unit = {
    val fs = FileSystem.newInstance(new URI("file:///"), c)
    try {
      def p(s: String) = new Path(root.resolve(s).toString)
      fs.mkdirs(p("fs/a/b"))
      write(fs.create(p("fs/a/f1")), "first file\n")
      write(fs.create(p("fs/a/f2"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null), "second file, 640\n")
      fs.mkdirs(p("fs/c"), new FsPermission("750"))
      assert(fs.rename(p("fs/a/f1"), p("fs/a/b/f1r")))
      assert(fs.rename(p("fs/a/b"), p("fs/c/b")))
      fs.setPermission(p("fs/c/b/f1r"), new FsPermission("600"))
    } finally fs.close()
    val fc = FileContext.getFileContext(new URI("file:///"), c)
    def q(s: String) = fc.makeQualified(new Path(root.resolve(s).toString))
    fc.mkdir(q("fc/a"), FsPermission.getDirDefault, true)
    write(fc.create(q("fc/a/tmp1"), java.util.EnumSet.of(CreateFlag.CREATE)),
      "checkpoint delta\n")
    write(fc.create(q("fc/a/tmp2"),
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.perms(new FsPermission("640"))), "overwritten later\n")
    fc.rename(q("fc/a/tmp1"), q("fc/a/1.delta"))
    fc.rename(q("fc/a/tmp2"), q("fc/a/1.delta"), Options.Rename.OVERWRITE)
    fc.mkdir(q("fc/d"), new FsPermission("750"), false)
    fc.rename(q("fc/a"), q("fc/d/a"))
    fc.setPermission(q("fc/d/a/1.delta"), new FsPermission("604"))
  }

  for (umask <- Seq(None, Some("027"))) {
    test(s"graft and Hadoop leave the same modes, .crc files and bytes " +
        s"(umask ${umask.getOrElse("of the session")})") {
      withScratch { dir =>
        val stock = Files.createDirectory(dir.resolve("stock"))
        val graft = Files.createDirectory(dir.resolve("graft"))
        script(conf(graft = false, umask), stock)
        script(conf(graft = true, umask), graft)
        val want = tree(stock)
        assert(want.keySet.exists(_.endsWith(".1.delta.crc")))
        assert(want.keySet.exists(_.endsWith(".f1r.crc")))
        assert(tree(graft) == want)
      }
    }
  }

  /** Everything a caller can see of a link status, or the exception type. */
  private def linkStatus(fs: FileSystem, p: Path): String =
    try {
      val s = fs.getFileLinkStatus(p)
      Seq(s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else "",
        s.isDirectory, s.getLen, s.getModificationTime, s.getPermission,
        s.getOwner, s.getGroup).mkString("|")
    } catch { case e: java.io.IOException => e.getClass.getName }

  test("getFileLinkStatus equals Hadoop's on links, missing and qualified paths") {
    withScratch { dir =>
      val file = Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
        dir.resolve("gone"))
      val sub = Files.createDirectory(dir.resolve("sub"))
      val c = conf(graft = true, None)
      val stock = new RawLocalFileSystem
      val graft = new GraftRawLocalFileSystem
      stock.initialize(new URI("file:///"), c)
      graft.initialize(new URI("file:///"), c)
      try {
        val paths = Seq(link, dangling, file, sub, dir.resolve("missing"))
          .flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
        paths.foreach { p =>
          assert(linkStatus(graft, p) == linkStatus(stock, p), p)
        }
        assert(linkStatus(stock, new Path(link.toString)).contains("|true|"))
        assert(linkStatus(stock, new Path(dir.resolve("missing").toString)) ==
          classOf[java.io.FileNotFoundException].getName)
      } finally { stock.close(); graft.close() }
    }
  }

  test("a sticky-bit setPermission goes to Hadoop's chmod") {
    withScratch { dir =>
      val graft = new GraftRawLocalFileSystem
      graft.initialize(new URI("file:///"), conf(graft = true, None))
      try {
        val sub = Files.createDirectory(dir.resolve("shared"))
        // NIO's permission set cannot carry the sticky bit: only the
        // `super` path can leave 1777
        graft.setPermission(new Path(sub.toString), new FsPermission(
          Integer.parseInt("1777", 8).toShort))
        assert(Integer.toOctalString(mode(sub)) == "1777")
        graft.setPermission(new Path(sub.toString), new FsPermission("750"))
        assert(Integer.toOctalString(mode(sub)) == "750")
      } finally graft.close()
    }
  }

  test("register twice is a no-op") {
    val hc = spark.sparkContext.hadoopConfiguration
    graft.functions.GraftFunctions.register(spark)
    val once = (hc.get(fsKey), hc.get(afsKey))
    graft.functions.GraftFunctions.register(spark)
    assert((hc.get(fsKey), hc.get(afsKey)) == once)
    assert(once == (classOf[GraftLocalFileSystem].getName,
      classOf[GraftLocalFs].getName))
  }

  test("register leaves a user-set file: class alone") {
    val hc = spark.sparkContext.hadoopConfiguration
    for (key <- Seq(fsKey, afsKey)) {
      val bound = hc.get(key)
      hc.set(key, "org.example.UserLocalFs")
      try {
        graft.functions.GraftFunctions.register(spark)
        assert(hc.get(key) == "org.example.UserLocalFs")
      } finally hc.set(key, bound)
    }
    // Hadoop's own defaults count as unset and are replaced
    val c = new Configuration(false)
    c.set(fsKey, classOf[LocalFileSystem].getName)
    c.set(afsKey, classOf[LocalFs].getName)
    LocalFileBinding.install(c)
    assert(c.get(fsKey) == classOf[GraftLocalFileSystem].getName)
    assert(c.get(afsKey) == classOf[GraftLocalFs].getName)
  }

  test("the session's FileSystem and FileContext resolve to the graft classes") {
    val hc = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new URI("file:///"), hc)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(FileSystem.getLocal(hc).getRaw.isInstanceOf[GraftRawLocalFileSystem])
    val afs = FileContext.getFileContext(hc).getDefaultFileSystem
    assert(afs.isInstanceOf[GraftLocalFs], afs.getClass)
  }
}
