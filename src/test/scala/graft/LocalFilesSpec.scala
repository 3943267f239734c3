package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.{FlightRecorder, Recording}
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, ParquetSource, SnapshotSink}

/** [[graft.sources.LocalFiles]]: the session's `file:` scheme writes
  * parquet and runs a streaming checkpoint without starting a process,
  * and gives files, directories and link status exactly what Hadoop's own
  * `RawLocalFileSystem` gives them.
  */
class LocalFilesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The fork-free raw file system and Hadoop's own, side by side. */
  private def rawPair: (RawLocalFileSystem, RawLocalFileSystem) = {
    val (ours, theirs) = (new ForkFreeRawLocalFileSystem, new RawLocalFileSystem)
    Seq(ours, theirs).foreach(_.initialize(URI.create("file:///"), conf))
    (ours, theirs)
  }

  /** A parquet write, then an AvailableNow file stream over it whose
    * batches append to a staging directory, as the st* queries run.
    */
  private def writeAndStream(base: String): Unit = {
    spark.range(0, 100, 1, 3).select(col("id"), (col("id") % 5).as("k"))
      .write.parquet(s"$base/landing")
    spark.readStream.schema(ParquetSource.schema(spark, s"$base/landing"))
      .option("maxFilesPerTrigger", 1).parquet(s"$base/landing")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$base/staging")
      }
      .start().awaitTermination()
  }

  test("the session's file: scheme is the fork-free one in both Hadoop file APIs") {
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("a parquet write and an AvailableNow stream round trip start no process") {
    assert(FlightRecorder.getFlightRecorder.getEventTypes.asScala.exists(_.getName == "jdk.ProcessStart"))
    val base = Files.createTempDirectory("graft_forks_").toString
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      writeAndStream(base)
      assert(spark.read.parquet(s"$base/staging").count() === 100)
      // The control: a process this test starts itself is recorded.
      new ProcessBuilder("true", base).start().waitFor()
    } finally recording.stop()
    val dump = Files.createTempFile("graft_forks_", ".jfr")
    recording.dump(dump)
    recording.close()
    // Other suites' sessions can start processes of their own on Spark's
    // threads meanwhile (its artifact cleanup runs `rm -rf`), so count the
    // processes that name this test's files: `chmod` and `readlink` do.
    val started = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(_.contains(base))
    Files.delete(dump)
    assert(started === Seq(s"true $base"))
  }

  test("written files and directories keep the permissions Hadoop gives them") {
    val base = Files.createTempDirectory("graft_perms_").toString
    writeAndStream(base)
    val written = Seq("landing", "staging", "ckpt").flatMap { d =>
      val st = Files.walk(java.nio.file.Paths.get(base, d))
      try st.iterator.asScala.toVector finally st.close()
    }
    val (dirs, files) = written.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".crc")), "checksums are kept")
    assert(files.exists(_.toString.contains("/ckpt/")), "the checkpoint wrote files")
    // The default umask (022) over Hadoop's 0666 files and 0777 directories.
    files.foreach(f => assert(mode(f) === Integer.parseInt("644", 8), f))
    dirs.foreach(d => assert(mode(d) === Integer.parseInt("755", 8), d))
  }

  test("setPermission sets the mode Hadoop's chmod sets, sticky bit included") {
    val base = Files.createTempDirectory("graft_chmod_")
    val (ours, theirs) = rawPair
    for (octal <- Seq("644", "755", "600", "700", "640", "751", "444", "000", "777", "1777")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      for (isDir <- Seq(false, true)) {
        val (a, b) = (base.resolve(s"a$octal$isDir"), base.resolve(s"b$octal$isDir"))
        Seq(a, b).foreach(p => if (isDir) Files.createDirectory(p) else Files.createFile(p))
        ours.setPermission(new Path(a.toUri), perm)
        theirs.setPermission(new Path(b.toUri), perm)
        assert(mode(a) === mode(b), s"$octal dir=$isDir")
        assert(mode(a) === Integer.parseInt(octal, 8), s"$octal dir=$isDir")
      }
    }
  }

  test("getFileLinkStatus of a SnapshotSink symlink and a regular file match Hadoop's") {
    val base = Files.createTempDirectory("graft_links_").toString
    SnapshotSink.overwrite(spark.range(10).toDF("id"), s"$base/snap")
    val link = java.nio.file.Paths.get(base, "snap")
    assert(Files.isSymbolicLink(link))
    val regular = {
      val st = Files.list(link)
      try st.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    }
    def fields(s: FileStatus) =
      (s.getPath, s.isDirectory, s.isFile, s.isSymlink,
        if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime)
    val (ours, theirs) = rawPair
    // The path as Hadoop's FileContext passes it (`file:` scheme, where
    // Hadoop's readlink finds no link) and as a bare path (where it does).
    for (p <- Seq(link, regular); path <- Seq(new Path(p.toUri), new Path(p.toString))) {
      assert(fields(ours.getFileLinkStatus(path)) === fields(theirs.getFileLinkStatus(path)), path)
    }
    assert(theirs.getFileLinkStatus(new Path(link.toString)).isSymlink,
      "a bare symlink path reads as a link")
  }
}
