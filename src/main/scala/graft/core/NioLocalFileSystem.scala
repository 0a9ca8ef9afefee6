package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` over a raw filesystem that sets permission bits
  * through `java.nio.file` instead of forking `chmod`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `chmod <mode> <path>` as a child process, and it calls it for every
  * file and directory it creates (mode = default & ~umask). A streaming
  * checkpoint creates several files per micro-batch, so those forks
  * were a large share of a micro-batch's commit. The bits set are the
  * ones Hadoop would set; only a mode NIO cannot express (the sticky
  * bit) or a filesystem without POSIX attributes falls back to Hadoop's
  * own path. [[Graft.session]] installs it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** POSIX permissions in `PosixFilePermission` order: owner r/w/x, group
    * r/w/x, others r/w/x — bit 8 down to bit 0 of the mode. */
  private val Bits = PosixFilePermission.values()

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.indices.foreach { i =>
          if ((mode & (1 << (8 - i))) != 0) perms.add(Bits(i))
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
    }
  }
}
