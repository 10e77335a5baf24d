package graft.engine

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process forks. Without libhadoop,
  * `RawLocalFileSystem` forks `chmod` for every permission it sets (each
  * part file, checkpoint temp file and mkdir) and `readlink` for every
  * link status (two per `FileContext.rename`, so two per WAL and commit
  * entry of a streaming checkpoint). [[Raw]] does both in-process through
  * `java.nio`; everything else, renames included, is Hadoop's own code.
  *
  * It is installed twice, each behind Hadoop's checksum layer so `.crc`
  * files stay: [[Checksummed]] as `fs.file.impl` (the `FileSystem` API)
  * and [[Fs]] as `fs.AbstractFileSystem.file.impl` (the `FileContext` API
  * that Spark's streaming checkpoint manager uses). */
object LocalFs {

  /** The two Hadoop keys, as Spark session settings. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[Checksummed].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)

  class Raw extends RawLocalFileSystem {
    /** `chmod` semantics (follows links); only the sticky bit, which has no
      * `PosixFilePermission`, still goes through the shell. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & 0x200) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // the enum runs OWNER_READ .. OTHERS_EXECUTE, octal bits 8 .. 0
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    /** A file that is not a symlink has the link status of its own status
      * (what the stock code returns after its `readlink` comes back empty);
      * the symlink test reads the path the stock code hands `readlink`. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  class Checksummed extends LocalFileSystem(new Raw)

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]: its constructor
    * is package-private, so its three overrides are repeated here. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    @deprecated("as in RawLocalFs", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))
}
