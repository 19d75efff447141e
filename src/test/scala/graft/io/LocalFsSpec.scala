package graft.io

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSessionExtensions

import graft.{GraftExtensions, SparkTestBase}
import graft.tools.Scratch

class LocalFsSpec extends SparkTestBase {
  private val Local = new URI("file:///")

  private def withDir(f: File => Unit): Unit = {
    val d = Files.createTempDirectory("localfs").toFile
    try f(d) finally Scratch.deleteRecursively(d)
  }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode bits of every file and dir under `root`. */
  private def modes(root: File): Map[String, Int] =
    Files.walk(root.toPath).iterator().asScala.map { p =>
      root.toPath.relativize(p).toString -> mode(p.toFile)
    }.toMap

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Writes the same tree through `fs`: default and explicit modes. */
  private def writeTree(fs: FileSystem, root: File): Unit = {
    val r = new Path(root.toURI)
    fs.mkdirs(new Path(r, "a/b"))
    fs.create(new Path(r, "a/b/plain")).close()
    fs.create(new Path(r, "a/b/explicit"), octal("640"), false, 4096,
      fs.getDefaultReplication(r), fs.getDefaultBlockSize(r), null).close()
    fs.mkdirs(new Path(r, "c/d"), octal("750"))
    fs.create(new Path(r, "c/d/later")).close()
    fs.setPermission(new Path(r, "c/d/later"), octal("604"))
  }

  test("a graft session's file: filesystem is graft.io.LocalFs, FileContext side too") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Local, conf).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(conf).isInstanceOf[LocalFs])
    val fresh = FileSystem.newInstance(Local, spark.sessionState.newHadoopConf())
    try assert(fresh.isInstanceOf[LocalFs]) finally fresh.close()
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[LocalFs.Fs])
  }

  test("files and dirs get the same permission bits as a stock LocalFileSystem") {
    for (umask <- Seq("022", "077", "002")) withDir { d =>
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      val stock = new LocalFileSystem()
      stock.initialize(Local, conf)
      val graft = new LocalFs()
      graft.initialize(Local, conf)
      writeTree(stock, new File(d, "stock"))
      writeTree(graft, new File(d, "graft"))
      val expected = modes(new File(d, "stock"))
      assert(expected.contains("a/b/.plain.crc"))
      assert(modes(new File(d, "graft")) == expected, s"umask $umask")

      // the FileContext side against Hadoop's own fs.local.LocalFs
      def fcWrite(impl: String, root: File): Unit = {
        val c = new Configuration(conf)
        c.set("fs.AbstractFileSystem.file.impl", impl)
        val fc = FileContext.getLocalFSFileContext(c)
        val r = new Path(root.toURI)
        fc.mkdir(new Path(r, "offsets"), FsPermission.getDirDefault, true)
        fc.create(new Path(r, "offsets/0"), java.util.EnumSet.of(CreateFlag.CREATE),
          CreateOpts.perms(FsPermission.getFileDefault)).close()
      }
      fcWrite(classOf[org.apache.hadoop.fs.local.LocalFs].getName, new File(d, "fcStock"))
      fcWrite(classOf[LocalFs.Fs].getName, new File(d, "fcGraft"))
      val fcExpected = modes(new File(d, "fcStock"))
      assert(fcExpected.contains("offsets/.0.crc"))
      assert(modes(new File(d, "fcGraft")) == fcExpected, s"FileContext, umask $umask")
    }
  }

  test(".crc files are still written and a flipped byte fails the read") {
    withDir { d =>
      val fs = FileSystem.get(Local, spark.sparkContext.hadoopConfiguration)
      val p = new Path(new File(d, "data.bin").toURI)
      val bytes = Array.tabulate[Byte](2048)(i => (i * 31).toByte)
      val out = fs.create(p)
      out.write(bytes)
      out.close()
      assert(new File(d, ".data.bin.crc").isFile)
      val raf = new RandomAccessFile(new File(d, "data.bin"), "rw")
      try { raf.seek(1000); raf.write(~bytes(1000)) } finally raf.close()
      val in = fs.open(p)
      try intercept[ChecksumException](in.readFully(new Array[Byte](bytes.length)))
      finally in.close()
    }
  }

  test("a 01777 mode takes Hadoop's own path and is still applied") {
    withDir { d =>
      val fs = FileSystem.get(Local, spark.sparkContext.hadoopConfiguration)
      val dir = new File(d, "shared")
      fs.mkdirs(new Path(dir.toURI))
      fs.setPermission(new Path(dir.toURI), octal("1777"))
      // NIO cannot set the sticky bit, so seeing it means super ran
      assert(mode(dir) == Integer.parseInt("1777", 8))
      fs.setPermission(new Path(dir.toURI), octal("755"))
      assert(mode(dir) == Integer.parseInt("755", 8))
    }
  }

  test("a rename onto an existing file fails, as under hive-exec's ProxyLocalFileSystem") {
    withDir { d =>
      val fs = FileSystem.get(Local, spark.sparkContext.hadoopConfiguration)
      def write(name: String, body: String): Path = {
        val p = new Path(new File(d, name).toURI)
        val out = fs.create(p)
        out.write(body.getBytes("UTF-8"))
        out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      assert(!fs.rename(src, dst))
      assert(Files.readString(new File(d, "dst").toPath) == "old")
      val moved = new Path(new File(d, "moved").toURI)
      assert(fs.rename(src, moved))
      assert(Files.readString(new File(d, "moved").toPath) == "new")
      assert(new File(d, ".moved.crc").isFile && !new File(d, ".src.crc").exists)
    }
  }

  test("a user-set fs.file.impl and FileContext impl are left alone") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    val userFc = "org.example.UserLocalFs"
    try {
      conf.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
      conf.set("fs.AbstractFileSystem.file.impl", userFc)
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(conf.get("fs.file.impl") == classOf[RawLocalFileSystem].getName)
      assert(conf.get("fs.AbstractFileSystem.file.impl") == userFc)

      conf.set("fs.file.impl", "")
      conf.set("fs.AbstractFileSystem.file.impl",
        classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(conf.get("fs.file.impl") == classOf[LocalFs].getName)
      assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Fs].getName)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
