package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{LocalFileSystemNoFork, LocalFsNoFork, RawLocalFileSystemNoFork, Sink,
  Tables}

class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-localfs").toString

  private def frame: DataFrame =
    (1 to 200).map(i => (i.toLong, s"v$i", i % 3)).toDF("k", "v", "g").repartition(2)

  /** Commands of the processes a Hadoop filesystem call started while
    * `body` ran: the JVM's process starts whose stack passes through
    * `org.apache.hadoop.fs`. Spark's own starts (`getconf PAGESIZE` for
    * executor metrics, `rm -rf` of a stopped query's artifact
    * directory) do not.
    */
  private def fsProcessStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** Every file and directory under `root`, relative, with its mode;
    * the write's UUIDs masked.
    */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.filter(_ != r).map { p =>
      r.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  test("the session's file: FileSystem and FileContext resolve to graft's no-fork classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try assert(fs.getClass == classOf[LocalFileSystemNoFork])
    finally fs.close()
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass ==
      classOf[LocalFsNoFork])
  }

  test("local table writes and a checkpointed stream start no process from the filesystem") {
    val root = tmpDir()
    def writes(tag: String): Unit = {
      Sink.overwrite(frame, s"$root/$tag-ow")
      Sink.compact(spark, s"$root/$tag-ow", 1L << 20)
      Sink.writeVersioned(frame, s"$root/$tag-ver")
      val ck = s"$root/$tag-ck"
      for (_ <- 1 to 2) {
        val q = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", 10).load()
          .writeStream.format("parquet")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start(s"$root/$tag-stream")
        q.awaitTermination()
      }
    }
    // the JVM's one-time starts (shell probes on first class load) fall
    // outside the recording
    writes("warm")
    val starts = fsProcessStarts(writes("rec"))
    assert(starts.isEmpty, starts.mkString("\n", "\n", ""))
    assert(Tables.read(spark, s"$root/rec-stream").count() == 20)
    assert(Sink.listVersions(spark, s"$root/rec-ver") == Seq(0L))
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      // the probe sees the forks Hadoop's own local filesystem makes
      val stock = fsProcessStarts(frame.write.mode("overwrite")
        .option("fs.file.impl", classOf[LocalFileSystem].getName)
        .option("fs.file.impl.disable.cache", "true")
        .parquet(s"$root/stock"))
      assert(stock.exists(_.contains("chmod")), stock)
    }
  }

  test("written trees carry the modes of a stock LocalFileSystem write") {
    val root = tmpDir()
    Sink.overwrite(frame, s"$root/ours", partitionBy = Seq("g"))
    frame.write.mode("overwrite").partitionBy("g")
      .option("fs.file.impl", classOf[LocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(s"$root/stock")
    val ours = modes(s"$root/ours")
    assert(ours == modes(s"$root/stock"))
    assert(ours.exists(_._1.endsWith(".crc")) && ours.contains("_SUCCESS"))
    assert(ours.forall { case (name, mode) =>
      mode == (if (Files.isDirectory(Paths.get(root, "ours", name))) 0x1ed else 0x1a4)
    }, ours) // 0755, 0644
  }

  test("a sticky bit still lands, and symlinks get Hadoop's link status") {
    val root = tmpDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val ours = new RawLocalFileSystemNoFork
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(URI.create("file:///"), conf))
    try {
      val dir = new Path(s"$root/sticky")
      assert(ours.mkdirs(dir))
      ours.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert((Files.getAttribute(Paths.get(s"$root/sticky"), "unix:mode")
        .asInstanceOf[Int] & 0xfff) == Integer.parseInt("1755", 8))

      val target = Files.write(Paths.get(root, "target.txt"), "x".getBytes)
      Files.createSymbolicLink(Paths.get(root, "link"), target)
      for (name <- Seq("link", "target.txt", "sticky")) {
        val p = new Path(s"$root/$name")
        val (a, b) = (ours.getFileLinkStatus(p), stock.getFileLinkStatus(p))
        assert(a == b && a.isSymlink == b.isSymlink && a.isDirectory == b.isDirectory &&
          a.getLen == b.getLen && a.getModificationTime == b.getModificationTime, name)
        if (a.isSymlink) assert(a.getSymlink == b.getSymlink)
      }
      assert(ours.getFileLinkStatus(new Path(s"$root/link")).isSymlink)
    } finally Seq(ours, stock).foreach(_.close())
  }
}
