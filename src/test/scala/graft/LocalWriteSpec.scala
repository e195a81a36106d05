package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusSource, ExtractPipeline, ForklessLocalFs, ForklessRawLocalFs,
  LocalFs, PipelineConf}

/** Local-disk writes that set permissions in-process: the same bits as the
  * stock file system, `.crc` files kept, and nothing leaked into the session.
  */
class LocalWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): JPath = Files.createTempDirectory("graft-localfs")

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def posix(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Bytes written through any `ForklessRawLocalFs` in this JVM (Hadoop keeps
    * one statistics object per scheme and file system class). */
  @annotation.nowarn("cat=deprecation")
  private def forklessBytesWritten(): Long =
    FileSystem.getStatistics("file", classOf[ForklessRawLocalFs]).getBytesWritten

  test("setPermission leaves the same bits as the stock file system") {
    val stock = initialized(new RawLocalFileSystem)
    val forkless = initialized(new ForklessRawLocalFs)
    val root = tmp()
    val file = Files.createFile(root.resolve("f"))
    val dir = Files.createDirectory(root.resolve("d"))
    for (target <- Seq(file, dir); mode <- Seq("000", "600", "644", "700", "755", "777")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val other = PosixFilePermissions.fromString("r-x-w---x")
      Files.setPosixFilePermissions(target, other)
      stock.setPermission(new Path(target.toUri), perm)
      val want = posix(target)
      Files.setPosixFilePermissions(target, other)
      forkless.setPermission(new Path(target.toUri), perm)
      assert(posix(target) == want, s"$mode on ${target.getFileName}")
      assert(want == perm.toString, s"$mode on ${target.getFileName}")
    }
  }

  test("a mode with the sticky bit goes through the parent class") {
    // java.nio cannot set the sticky bit, so only the stock chmod path sets it
    val dir = tmp()
    initialized(new ForklessRawLocalFs)
      .setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(unixMode(dir) == Integer.parseInt("1777", 8))
  }

  test("the write options resolve file: paths to the forkless file system") {
    val conf = spark.sessionState.newHadoopConfWithOptions(LocalFs.writeOptions)
    val fs = new Path(tmp().toUri).getFileSystem(conf)
    assert(fs.isInstanceOf[ForklessLocalFs])
    assert(fs.asInstanceOf[ForklessLocalFs].getRaw.isInstanceOf[ForklessRawLocalFs])
  }

  test("a pipeline run keeps every .crc and leaves the session's file system alone") {
    val out = tmp().toFile.getAbsolutePath
    val before = forklessBytesWritten()
    val conf = PipelineConf(numBuckets = 8, megaBuckets = 2)
    assert(ExtractPipeline.run(spark, CorpusSource.pages(spark, 56), out, conf) > 0)
    // every byte under <out> (data, lineage, their .crc files) went through it
    val onDisk = org.apache.commons.io.FileUtils.sizeOfDirectory(new File(out))
    assert(onDisk > 0 && forklessBytesWritten() - before >= onDisk,
      "a write went through the stock file system")

    val buckets = new File(ExtractPipeline.dataDir(out)).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    for (dir <- buckets) {
      val names = dir.listFiles().map(_.getName).toSet
      val data = names.filter(_.endsWith(".parquet"))
      assert(data.nonEmpty, s"${dir.getName} holds no data file")
      for (d <- data) assert(names.contains(s".$d.crc"), s"${dir.getName}/$d has no .crc")
    }
    val lineage = new File(ExtractPipeline.lineageDir(out)).list().toSet
    for (d <- lineage.filter(_.endsWith(".parquet")))
      assert(lineage.contains(s".$d.crc"), s"_lineage/$d has no .crc")

    val session = spark.sparkContext.hadoopConfiguration
    assert(session.get("fs.file.impl") == null)
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") == null)
    // the stock class is whichever LocalFileSystem the classpath registers for
    // file: (with Spark's Hive jars, Hive's ProxyLocalFileSystem subclass)
    val cached = FileSystem.get(URI.create("file:///"), session)
    assert(cached.isInstanceOf[LocalFileSystem] && !cached.isInstanceOf[ForklessLocalFs])
    assert(cached.getClass == FileSystem.getFileSystemClass("file", new Configuration()))
  }
}
