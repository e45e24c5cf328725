package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.streaming.EventsPipeline

/** Every `file://` operation of a session runs in the JVM: no `chmod`
  * or `readlink` process per file, and the same results as Hadoop's own
  * local file system. */
class LocalFilesSpec extends SparkSpec {
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def modeOf(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & octal("7777")

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val graftRaw = initialized(new LocalFiles.RawFileSystem)

  test("the session's file:// FileSystem and FileContext are graft's") {
    // FileSystem.get is cached per JVM by scheme, authority and user:
    // this fails if a local FileSystem existed before the first session
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).getClass ===
      classOf[LocalFiles.ChecksummedFileSystem])
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem.getClass ===
      classOf[LocalFiles.ChecksummedFs])
  }

  test("a streamPublish + runOnce tick starts no process from Hadoop's file system") {
    val tmp = Files.createTempDirectory("graft-localfiles").toFile.getAbsolutePath
    val drop = s"$tmp/drop"
    Tables.events(spark, sf).filter(to_date(col("ts")) === "2024-01-01")
      .write.parquet(drop)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      EventsPipeline.streamPublish(spark, drop, s"$tmp/ckpt-publish", s"$tmp/lake", "ev")
        .awaitTermination(120000)
      EventsPipeline.runOnce(spark, drop, s"$tmp/ckpt-rollup", s"$tmp/rollup")
        .awaitTermination(120000)
    } finally rec.stop()
    val jfr = Paths.get(tmp, "forks.jfr")
    rec.dump(jfr)
    rec.close()
    val forks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
    }
    val byCommand = forks.groupBy(_.getString("command").takeWhile(_ != ' '))
      .map { case (cmd, es) => s"${es.size} × $cmd" }.toSeq.sorted
    assert(byCommand.isEmpty)
    // the tick did its work
    assert(spark.read.parquet(s"$tmp/lake/ev").count() > 0)
    assert(Files.exists(Paths.get(tmp, "rollup", "_spark_metadata")))
  }

  test("created files and directories get the modes Hadoop's own code gives them") {
    val tmp = Files.createTempDirectory("graft-localfiles-modes").toFile.getAbsolutePath
    def twin(name: String)(make: (RawLocalFileSystem, Path) => Unit): (Int, Int) = {
      val Seq(a, b) = Seq("stock" -> stock, "graft" -> graftRaw).map { case (tag, fs) =>
        val p = new Path(s"$tmp/$tag-$name")
        make(fs, p)
        modeOf(p)
      }
      (a, b)
    }
    // create applies the file default (0666) under the umask
    val file = twin("file")((fs, p) => fs.create(p).close())
    assert(file._1 === file._2)
    val dir = twin("dir")((fs, p) => assert(fs.mkdirs(p, new FsPermission(octal("750").toShort))))
    assert(dir === ((octal("750"), octal("750"))))
    Seq("644", "700", "1777").foreach { m =>
      val set = twin(s"chmod-$m") { (fs, p) =>
        assert(fs.mkdirs(p))
        fs.setPermission(p, new FsPermission(octal(m).toShort))
      }
      assert(set === ((octal(m), octal(m))), m)
    }
  }

  test("link status, missing paths and renames behave as before") {
    val tmp = Files.createTempDirectory("graft-localfiles-links").toFile.getAbsolutePath
    val target = Paths.get(tmp, "target")
    Files.write(target, "x".getBytes)
    Files.createSymbolicLink(Paths.get(tmp, "link"), target)
    def seen(st: FileStatus) = (st.isSymlink, st.isDirectory, st.getLen,
      st.getPermission, st.getOwner, st.getModificationTime,
      if (st.isSymlink) Some(st.getSymlink) else None)
    // a qualified path names no file for `readlink`, a bare path does
    Seq(s"file:$tmp/target", s"$tmp/target", s"file:$tmp/link", s"$tmp/link").foreach { p =>
      assert(seen(graftRaw.getFileLinkStatus(new Path(p))) ===
        seen(stock.getFileLinkStatus(new Path(p))), p)
    }
    assert(graftRaw.getFileLinkStatus(new Path(s"$tmp/link")).isSymlink)
    Seq(s"file:$tmp/missing", s"$tmp/missing").foreach { p =>
      intercept[FileNotFoundException](stock.getFileLinkStatus(new Path(p)))
      intercept[FileNotFoundException](graftRaw.getFileLinkStatus(new Path(p)))
    }

    // FileContext rename (the checkpoint commit): refuses to replace an
    // existing file unless asked, and moves the .crc with the file
    val fc = FileContext.getFileContext(hadoopConf)
    def write(name: String): Path = {
      val p = new Path(s"file:$tmp/$name")
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(name.getBytes)
      out.close()
      p
    }
    val (src, dst) = (write("src"), write("dst"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    assert(new String(Files.readAllBytes(Paths.get(tmp, "dst"))) === "src")
    assert(Files.exists(Paths.get(tmp, ".dst.crc")) && !Files.exists(Paths.get(tmp, ".src.crc")))
    // FileSystem rename keeps the rule of Hive's ProxyLocalFileSystem,
    // which `file://` resolves to without graft's class: it does not
    // replace an existing file
    val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
    val (a, b) = (write("a"), write("b"))
    assert(!fs.rename(a, b))
    assert(new String(Files.readAllBytes(Paths.get(tmp, "a"))) === "a")
    assert(new String(Files.readAllBytes(Paths.get(tmp, "b"))) === "b")
    assert(fs.rename(a, new Path(s"file:$tmp/c")))
    assert(new String(Files.readAllBytes(Paths.get(tmp, "c"))) === "a")
  }
}
