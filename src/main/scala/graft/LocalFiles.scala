package graft

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** The `file://` file system of every graft session, without a process
  * per file operation. Without Hadoop's native library, stock
  * `RawLocalFileSystem` forks `chmod` for every file or directory it
  * creates with a mode, and `readlink` for every `getFileLinkStatus`,
  * which `FileContext.rename` calls twice. Streaming's exactly-once
  * writes (offset log, commit log, state-store deltas, the file sink's
  * `_spark_metadata` log) are all create-temp-then-rename, so a
  * micro-batch forked a few hundred processes at 2-5 ms each
  * (BENCH_NOTES, "Local file system: no process per file operation").
  *
  * Both operations keep their results: the same mode bits, the same
  * status objects, `FileNotFoundException` for a missing path. Only
  * modes that Java cannot set (setuid, setgid, sticky) and paths that
  * are real symlinks still take Hadoop's own code. The `.crc` layer
  * and its checksums are Hadoop's. */
object LocalFiles {

  class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // the enum lists the nine bits from owner read (0400) down
        val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      }
    }

    /** Hadoop asks `readlink` about `new File(f.toString)` and returns
      * `getFileStatus(f)` when it names no symlink, which is always the
      * case for a qualified `file:/…` path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
    * [[RawFileSystem]]. Left unset, Hadoop takes the `file` class from
    * the classpath's service files, where Hive's `ProxyLocalFileSystem`
    * (in Spark's jars) wins over Hadoop's own. Its one change is kept:
    * `rename` onto an existing file returns false instead of replacing
    * it. */
  class ChecksummedFileSystem extends LocalFileSystem(new RawFileSystem) {
    override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
  }

  /** `fs.AbstractFileSystem.file.impl`, the `FileContext` side: Hadoop's
    * `LocalFs` (a `ChecksumFs` over `RawLocalFs`) with [[RawFileSystem]]
    * inside. Hadoop constructs it from (URI, Configuration); like
    * `LocalFs` it serves `file:///` whatever URI it is given. */
  class ChecksummedFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new RawFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      // RawLocalFs's overrides
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
}
