package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process forks. Without
  * `libhadoop`, `RawLocalFileSystem` forks `chmod` for every file and
  * directory it creates and `readlink` for every `getFileLinkStatus` (each
  * FileContext rename makes several): ~945 forks per perfbench
  * `reference_jobs` pass, mostly under the stream checkpoint. These two
  * overrides make the same changes and give the same answers in-process;
  * the cases NIO cannot reproduce still go through Hadoop.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` of the same mode bits. A mode with bits above 0777 (sticky)
    * or a file with setuid/setgid set goes to Hadoop: NIO cannot set the
    * former, and `chmod 0755` keeps a directory's setgid where chmod(2)
    * clears it.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    import NoForkRawLocalFileSystem.{Rwx, SetId}
    val mode = permission.toShort & 0xffff
    val file = pathToFile(p).toPath
    if ((mode & ~Rwx) != 0 ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetId) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NoForkRawLocalFileSystem.perms(mode))
  }

  /** Hadoop runs `readlink` on `f.toString` — for a qualified path the
    * string `file:/…`, which names no link — and returns `getFileStatus`
    * when it finds none. Only a path that is a symlink under that same
    * string needs Hadoop's answer.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NoForkRawLocalFileSystem {
  private val Rwx = 0x1ff // 0777
  private val SetId = 0xc00 // 06000: setuid, setgid
  // PosixFilePermission's declaration order is owner r/w/x, group r/w/x,
  // others r/w/x: mode bits 8 down to 0
  private val bits = PosixFilePermission.values.reverse.zipWithIndex

  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, i) => if ((mode & (1 << i)) != 0) s.add(p) }
    s
  }
}

/** `LocalFileSystem` (checksummed) over [[NoForkRawLocalFileSystem]], with
  * the rename rule of Hive's `ProxyLocalFileSystem`: with no
  * `fs.file.impl` set, Spark's jars resolve `file:` to that class (hive-exec
  * registers it after `LocalFileSystem`), whose rename onto an existing
  * file fails instead of replacing it.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NoForkRawLocalFileSystem]]:
  * the same four overrides.
  */
class NoForkRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NoForkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `org.apache.hadoop.fs.local.LocalFs` (checksummed) over
  * [[NoForkRawLocalFs]]; the `(URI, Configuration)` constructor is the one
  * `AbstractFileSystem.createFileSystem` calls.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(conf))
