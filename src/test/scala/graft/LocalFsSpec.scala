package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.sources.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` binding from core-site.xml: every session gets
  * [[NioLocalFileSystem]], and it lays the same paths, `.crc` files and
  * mode bits as Hadoop's stock [[LocalFileSystem]].
  */
class LocalFsSpec extends SparkSuite {
  import spark.implicits._

  private val root = URI.create("file:///")
  private val umaskKey = "fs.permissions.umask-mode"
  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def modeOf(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def confWith(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set(umaskKey, umask)
    c
  }

  /** (path relative to `dir`, mode bits) of every file and dir below
    * it, with the per-job uuid of part-file names masked. */
  private def modes(dir: JPath): Map[String, Int] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.map { p =>
      val rel = dir.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
      rel -> modeOf(p)
    }.toMap
    finally walk.close()
  }

  /** A create, a mkdirs and an explicit setPermission(0640) under `fs`. */
  private def layOut(fs: FileSystem, dir: JPath): Unit = {
    val base = new Path(dir.toUri)
    val out = fs.create(new Path(base, "a/b/file.bin"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(base, "c/d")))
    val explicit = new Path(base, "c/d/explicit.bin")
    fs.create(explicit).close()
    fs.setPermission(explicit, new FsPermission(oct("640").toShort))
  }

  test("every session binds file: to the in-process-chmod filesystem, " +
      "still a LocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    val local: LocalFileSystem = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[NioLocalFileSystem])
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") ===
      classOf[NioLocalFileSystem].getName)
  }

  for (umask <- Seq("022", "077")) {
    test(s"create, mkdirs, setPermission and a partitioned parquet write " +
        s"lay the stock LocalFileSystem's modes under umask $umask") {
      val conf = confWith(umask)
      val nio = FileSystem.newInstance(root, conf)
      assert(nio.isInstanceOf[NioLocalFileSystem])
      val stock = new LocalFileSystem()
      stock.initialize(root, conf)
      val tmp = Files.createTempDirectory("graft-localfs")
      val (got, want) = (tmp.resolve("nio"), tmp.resolve("stock"))
      try {
        layOut(nio, got)
        layOut(stock, want)
        val rows = Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "k")
        for ((impl, dir) <- Seq(classOf[NioLocalFileSystem].getName -> got,
            classOf[LocalFileSystem].getName -> want))
          rows.write.option("fs.file.impl", impl)
            .option("fs.file.impl.disable.cache", "true")
            .option(umaskKey, umask)
            .partitionBy("k").parquet(dir.resolve("pq").toString)
        val m = modes(got)
        assert(m === modes(want))
        assert(m.contains("a/b/.file.bin.crc"))
        assert(m.contains("pq/._SUCCESS.crc"))
        assert(m.keys.exists(k =>
          k.startsWith("pq/k=a/.part-") && k.endsWith(".parquet.crc")))
        // the explicit chmod reaches the file and its checksum; the
        // umask applied to everything else
        val (explicit, rest) = m.partition(_._1.contains("explicit.bin"))
        assert(explicit.values.toSet === Set(oct("640")))
        assert(rest.values.forall(v => (v & oct(umask)) == 0),
          s"umask $umask: $rest")
      } finally {
        nio.delete(new Path(tmp.toUri), true)
        nio.close()
        stock.close()
      }
    }
  }

  test("a mode above 0777 takes the chmod fallback and keeps the " +
      "sticky bit") {
    val fs = FileSystem.newInstance(root, confWith("022"))
    val dir = Files.createTempDirectory("graft-sticky")
    try {
      fs.setPermission(new Path(dir.toUri), new FsPermission(
        oct("1777").toShort))
      assert(modeOf(dir) === oct("1777"))
    } finally {
      fs.delete(new Path(dir.toUri), true)
      fs.close()
    }
  }
}
