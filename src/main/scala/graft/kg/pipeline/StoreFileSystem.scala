package graft.kg.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The store's local FileSystem: Hadoop's checksummed `LocalFileSystem`
  * over a raw local FS that sets permissions in-process.
  *
  * Without libhadoop (Spark's distribution ships none), the stock
  * `RawLocalFileSystem.setPermission` forks `/bin/chmod` for every file,
  * `.crc` file and directory it creates. One 10-doc lsh batch forked
  * 1,622 of them (~3.3 per data file, ~1.6 ms each). Here the same mode
  * bits are set with one `java.nio` call; a non-POSIX file system, or a
  * mode outside the nine rwx bits, falls back to the stock path. Files,
  * bytes, checksums and modes are the same.
  *
  * Scoped to the store: [[ParquetTableIO]] and [[Checkpoint]] pass
  * [[Options]] on each of their reads and writes and build their
  * driver-side instance with [[forRoot]]; `KgOracle`'s expected-set dump
  * passes them on its writes. The session's Hadoop and SQL
  * conf are never touched, so other `file:` paths keep the session's
  * cached FileSystem. */
final class StoreFileSystem extends LocalFileSystem(new StoreFileSystem.Raw)

object StoreFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      import java.nio.file.attribute.PosixFilePermission
      val bits = permission.toShort.toInt
      // PosixFilePermission.values runs owner rwx, group rwx, others rwx
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
      }
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** Per-operation Hadoop options that send `file:` paths through this
    * class, uncached (a fresh instance costs ~6 µs). */
  val Options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[StoreFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The FileSystem of `root` under a copy of `base` with [[Options]]
    * set, and that copy. */
  def forRoot(root: String, base: Configuration): (FileSystem, Configuration) = {
    val c = new Configuration(base)
    Options.foreach { case (k, v) => c.set(k, v) }
    (new Path(root).getFileSystem(c), c)
  }
}
