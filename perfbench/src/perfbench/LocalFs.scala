package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.Files

/** Hadoop's local filesystem with `setPermission` done through java.nio.
  * Without Hadoop's native library, `RawLocalFileSystem` forks a `chmod`
  * process for every file and directory it creates; on a parquet write of
  * thousands of files that fork dominates the run and its system time
  * swings with the host. Everything else, checksum files included, is
  * Hadoop's own code. The runner installs it for the `file:` scheme
  * through `fs.file.impl` and `fs.AbstractFileSystem.file.impl`. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0x1ff
    val bits = PosixFilePermission.values() // OWNER_READ .. OTHERS_EXECUTE
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(bits(i)))
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }
}

/** `FileSystem` API: the checksummed local filesystem over the above. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` API (streaming checkpoints): the same, as Hadoop's `LocalFs`. */
final class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false)

final class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
