package graft.catalog

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed `file:` file system, without a child process per
  * file. Where the native Hadoop library is missing,
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand`, and every `create` calls it for the file and again
  * for its `.crc`: 10–12 ms for a 4 KB file whose write takes 0.2 ms. An
  * append commit writes a manifest, a manifest list and a metadata
  * document, so it paid six forks.
  *
  * This raw file system applies the same already-umasked rwx bits through
  * java.nio and leaves every other case to Hadoop: native IO present, a
  * sticky bit, or a directory carrying setuid/setgid bits (a numeric
  * `chmod` keeps those on directories; `chmod(2)` from java.nio would
  * clear them). File modes come out exactly as `chmod` left them.
  *
  * [[graft.Sessions.builder]] registers it for every session; a bare
  * Hadoop conf takes it through [[register]].
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** The Hadoop key that names the `file:` implementation, and its value. */
  val ImplKey = "fs.file.impl"
  val Impl: String = classOf[NioLocalFileSystem].getName

  /** Registers this file system for `file:` paths in `conf`. Hadoop caches
    * one `file:` instance per JVM whatever conf asks later, so the first
    * conf to touch `file:` decides for the whole process.
    */
  def register(conf: Configuration): Configuration = {
    conf.set(ImplKey, Impl)
    conf
  }

  private val Rwx = 0x1ff // 0777
  private val SetId = 0xc00 // 06000: setuid | setgid
  private val bits = PosixFilePermission.values() // owner r/w/x … others x: bit 8 … 0

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      val f = pathToFile(p).toPath
      if (NativeIO.isAvailable || (mode & ~Rwx) != 0 ||
          (Files.isDirectory(f) &&
            (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SetId) != 0))
        super.setPermission(p, permission)
      else {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) set.add(bits(i))
        Files.setPosixFilePermissions(f, set)
      }
    }
  }
}
