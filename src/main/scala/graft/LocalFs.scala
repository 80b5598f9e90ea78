package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's checksummed local filesystem
  * without the child process it starts per call when libhadoop is not
  * loaded. Stock `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates and `readlink` for every link-status lookup,
  * which FileContext makes on each rename (streaming checkpoints, state
  * store uploads). Here both go through `java.nio`: the same mode bits,
  * sticky bit included, and the same status for a file, a directory, a
  * symlink or a missing path. `GraftSession.local` installs it for both
  * Hadoop APIs through `settings`.
  */
object LocalFs {
  val settings: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[Fs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Afs].getName)

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(perm.toShort.toInt))

    // only a symlink needs the stock lookup (and its `readlink`)
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `FileSystem` API: `LocalFileSystem`'s checksums over `Raw`. */
  class Fs extends LocalFileSystem(new Raw)

  /** `FileContext` API: `LocalFs`'s checksums over `Raw`. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** Hadoop's `RawLocalFs` over `Raw` (its constructors are package-private,
    * so its three overrides are repeated here).
    */
  private class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
