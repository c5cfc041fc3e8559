package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem (`fs.file.impl` in core-site.xml): Hadoop's
  * checksummed [[LocalFileSystem]] over [[NioRawLocalFileSystem]], since
  * without libhadoop the stock raw layer forks `chmod` per created path. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] that sets the nine rwx bits in-process. Modes
  * with bits above 0777 (the sticky bit), or a store without a POSIX
  * attribute view, keep the stock `chmod` path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[PosixFileAttributeView])
    if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
    else {
      // values() runs OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for ((bit, i) <- PosixFilePermission.values.zipWithIndex
           if (mode & (0x100 >> i)) != 0) perms.add(bit)
      view.setPermissions(perms)
    }
  }
}
