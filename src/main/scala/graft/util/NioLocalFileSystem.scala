package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without forked processes. Without libhadoop (Spark's
  * distribution ships none), Hadoop's `RawLocalFileSystem` runs `chmod` in a
  * child process for every created file, its `.crc` and every new
  * directory, and `readlink` for every link-status lookup that `FileContext`
  * (Spark's streaming checkpoints) makes. Each spawn costs 1.5-2 ms; an
  * extraction run made ~117 of them.
  *
  * [[NioRawLocalFileSystem]] does both through `java.nio.file` and leaves
  * everything else to Hadoop: [[NioLocalFileSystem]] keeps
  * `ChecksumFileSystem` over it (`.crc` files are still written and
  * verified), and [[NioLocalFs]] is the same for `FileContext`.
  * `src/main/resources/core-site.xml` registers the two for `file`
  * (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`), so every Hadoop
  * `Configuration` built with defaults resolves to them, whoever builds the
  * session.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The nine rwx bits through NIO; a mode with the sticky bit, and any
    * path where NIO would not match the `chmod` command, go to the stock
    * implementation.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    val path = pathToFile(p).toPath
    if ((bits & ~RwxBits) == 0 && !needsStockChmod(path))
      Files.setPosixFilePermissions(path, permissionsOf(bits))
    else super.setPermission(p, permission)
  }

  /** A directory carrying setuid/setgid (the `chmod` command keeps them
    * on directories, `chmod(2)` of the nine bits clears them), or a file
    * store without a unix view.
    */
  private def needsStockChmod(path: java.nio.file.Path): Boolean =
    try {
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      (mode & FileTypeBits) == DirType && (mode & SetIdBits) != 0
    } catch { case _: UnsupportedOperationException => true }

  /** A path that is not a symlink answers with its status; the stock
    * implementation forks `readlink` to find that out. Links (and paths
    * that go missing in between) take the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val RwxBits = 0x1ff // 0777
  private val SetIdBits = 0xc00 // 06000
  private val FileTypeBits = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR

  // PosixFilePermission's declaration order is owner rwx, group rwx, others
  // rwx: bit 8 down to bit 0 of the mode
  private val byBit = PosixFilePermission.values().reverse

  private def permissionsOf(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- byBit.indices if (bits & (1 << i)) != 0) s.add(byBit(i))
    s
  }
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` (checksummed) over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` over [[NioRawLocalFileSystem]]: Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs` with the raw file system swapped.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what `FileContext` resolves `file:`
  * to. Hadoop's `LocalFs` (checksummed) over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
