package graft.catalog

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` file system writes without starting a `chmod`
  * process per file, and leaves exactly the modes Hadoop's own path leaves.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  import graft.TestSpark._

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** The commands of the `chmod` processes this JVM starts during `body`. */
  private def chmodsDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .map(_.getString("command")).filter(_.contains("chmod"))
    } finally {
      rec.close()
      Files.deleteIfExists(f)
    }
  }

  private def local(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  test("INSERT, merge-on-read DELETE and MERGE on a lake table start no chmod") {
    val t = s"lake.nofork.t${System.nanoTime() % 1000000}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nofork")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
    val fs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem],
      s"file: resolves to ${fs.getClass.getName}: this JVM's first file: instance " +
        "came from a conf without the registration")
    val chmods = chmodsDuring {
      spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
      spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")
      spark.sql(s"MERGE INTO $t d USING (SELECT id, 'm' AS v FROM range(95, 105)) s " +
        "ON d.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(chmods.isEmpty, s"${chmods.size} chmod processes: ${chmods.take(3)}")
    assert(spark.table(t).count() == 95L)
    assert(spark.table(t).where("v = 'm'").count() == 10L)
    spark.sql(s"DROP TABLE $t")
  }

  test("files, their .crc files and directories get Hadoop's mode bits under the umask") {
    def modeOf(p: java.nio.file.Path) =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")
    def modes(fs: LocalFileSystem): Seq[Int] = {
      val dir = Files.createTempDirectory("graft-modes")
      val out = fs.create(new Path(dir.toUri.toString, "f"), false)
      try out.write(Array.fill[Byte](4096)(1)) finally out.close()
      assert(fs.mkdirs(new Path(dir.toUri.toString, "d"), new FsPermission(octal("755").toShort)))
      assert(fs.mkdirs(new Path(dir.toUri.toString, "e/f/g")))
      Seq("f", ".f.crc", "d", "e", "e/f/g").map(n => modeOf(dir.resolve(n)))
    }
    for (umask <- Seq("022", "027", "077")) {
      val got = modes(local(new NioLocalFileSystem, umask))
      assert(got == modes(local(new LocalFileSystem, umask)), s"umask $umask")
      val file = octal("666") & ~octal(umask)
      assert(got.take(2) == Seq(file, file), f"umask $umask: ${got.map(m => f"$m%o")}")
    }
  }

  test("a permission beyond the rwx bits still takes Hadoop's path") {
    val fs = local(new NioLocalFileSystem, "022")
    val dir = Files.createTempDirectory("graft-sticky")
    val chmods = chmodsDuring(
      fs.setPermission(new Path(dir.toUri.toString), new FsPermission(octal("1755").toShort)))
    // java.nio cannot set the sticky bit; only chmod (or native IO) can
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((mode & octal("7777")) == octal("1755"), f"mode $mode%o")
    if (!NativeIO.isAvailable) assert(chmods.size == 1, chmods)
  }
}
