package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its child processes. With no
  * native `libhadoop`, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates and `readlink` for every `getFileLinkStatus`
  * (each `FileContext` rename asks three times): the checkpoints,
  * state-store deltas, metadata logs and sink commits of one streaming
  * gate run started ~150 processes. Both overrides do the same thing
  * through `java.nio` and hand anything NIO cannot express to `super`. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  /** Plain rwx modes through the NIO POSIX view (which follows links, as
    * `chmod` does); sticky/setuid/setgid modes and filesystems without
    * POSIX attributes go to Hadoop's `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val view =
      if ((mode & ~0x1ff) != 0) null
      else Files.getFileAttributeView(pathToFile(p).toPath,
        classOf[PosixFileAttributeView])
    // a plain FsPermission prints exactly the nine rwx symbols (the
    // FsCreateModes a FileContext passes prints both of its modes)
    if (view == null) super.setPermission(p, permission)
    else view.setPermissions(PosixFilePermissions.fromString(
      new FsPermission(mode).toString))
  }

  /** Hadoop runs `readlink` on `new File(f.toString)` and, when it prints
    * nothing, returns `getFileStatus(f)`. It prints nothing unless that
    * very file is a symlink (never for a qualified `file:/…` path, which
    * `File` reads as relative), so probe the same file and only let a
    * real link pay for the fork. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link =
      try Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `AbstractFileSystem` (`FileContext`) face of
  * [[GraftRawLocalFileSystem]]: `RawLocalFs`'s four overrides, copied
  * because its constructors are package-private. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `LocalFs` (a `ChecksumFs`) over
  * [[GraftRawLocalFs]]. Like `LocalFs`, it ignores the URI. */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new GraftRawLocalFs(conf))

/** Binds the fork-free classes to the `file:` scheme of a Hadoop conf.
  * `GraftFunctions.register` installs them on the SparkContext's conf
  * before the session state copies it (and before the first `file:`
  * `FileSystem` lands in Hadoop's JVM-wide cache). */
object LocalFileBinding {
  /** key → (Hadoop's default class, the graft class) */
  private val bindings = Seq(
    "fs.file.impl" ->
      (classOf[LocalFileSystem].getName, classOf[GraftLocalFileSystem].getName),
    "fs.AbstractFileSystem.file.impl" ->
      (classOf[LocalFs].getName, classOf[GraftLocalFs].getName))

  /** Sets each key that is unset or holds Hadoop's default; a class the
    * user chose stays. Idempotent. */
  def install(conf: Configuration): Unit = bindings.foreach {
    case (key, (stock, graft)) =>
      val cur = conf.getTrimmed(key)
      if (cur == null || cur == stock) conf.set(key, graft)
  }
}
