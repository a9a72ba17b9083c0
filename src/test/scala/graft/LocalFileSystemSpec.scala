package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams
import graft.streaming.StreamingQueries.{drop, rmTree, tmp}

/** The session's `file:` filesystem ([[NioLocalFileSystem]] /
  * [[NioLocalFs]]): wired into both Hadoop APIs, field-for-field equal
  * to Hadoop's own `RawLocalFileSystem` on one temp tree, and forking no
  * Hadoop shell command on the write and streaming paths. */
class LocalFileSystemSpec extends SparkTestBase {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val nio = raw(new NioRawLocalFileSystem)
  private lazy val stock = raw(new RawLocalFileSystem)

  private def fields(s: FileStatus) =
    (s.getLen, s.isDirectory, s.getModificationTime, s.getPermission, s.getOwner,
      s.getGroup, s.getPath, s.getReplication, s.getBlockSize, s.isSymlink)

  private def hp(p: JPath) = new Path(p.toString)
  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("file: resolves to the java.nio classes in both Hadoop APIs") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("statuses, link statuses and missing paths equal Hadoop's RawLocalFileSystem") {
    val root = Files.createTempDirectory("graft-lfs-parity")
    try {
      val file = Files.write(root.resolve("a.txt"), "hello".getBytes(UTF_8))
      val dir = Files.createDirectory(root.resolve("sub"))
      val sticky = Files.createDirectory(root.resolve("sticky"))
      nio.setPermission(hp(sticky), mode("1777"))
      assert(stock.getFileStatus(hp(sticky)).getPermission === mode("1777"))
      val link = Files.createSymbolicLink(root.resolve("link"), file)

      for (p <- Seq(file, dir, sticky, link, root))
        assert(fields(nio.getFileStatus(hp(p))) === fields(stock.getFileStatus(hp(p))), p)
      assert(nio.listStatus(hp(root)).map(fields).toSet ===
        stock.listStatus(hp(root)).map(fields).toSet)

      val (got, want) = (nio.getFileLinkStatus(hp(link)), stock.getFileLinkStatus(hp(link)))
      assert(got.isSymlink && got.getSymlink.toUri.getPath === file.toString)
      assert((fields(got), got.getSymlink) === ((fields(want), want.getSymlink)))
      assert(fields(nio.getFileLinkStatus(hp(file))) === fields(stock.getFileLinkStatus(hp(file))))

      val missing = hp(root.resolve("missing"))
      assert(intercept[FileNotFoundException](nio.getFileStatus(missing)).getMessage ===
        intercept[FileNotFoundException](stock.getFileStatus(missing)).getMessage)
    } finally rmTree(root.toString)
  }

  test("created files and directories get the same permissions after the umask") {
    val root = Files.createTempDirectory("graft-lfs-perm")
    try {
      def made(fs: RawLocalFileSystem, side: String): Seq[FsPermission] = {
        val base = new Path(root.toString, side)
        fs.mkdirs(new Path(base, "d/e"))
        fs.mkdirs(new Path(base, "m"), mode("750"))
        fs.create(new Path(base, "f")).close()
        fs.create(new Path(base, "g"), mode("640"), true, 4096, 1.toShort, 1L << 25, null).close()
        fs.setPermission(new Path(base, "f"), mode("604"))
        Seq("d", "d/e", "m", "f", "g").map(c => stock.getFileStatus(new Path(base, c)).getPermission)
      }
      val want = made(stock, "stock")
      assert(made(nio, "nio") === want)
      assert(want(3) === mode("604"))
    } finally rmTree(root.toString)
  }

  test("a FileContext rename with OVERWRITE moves the file and its checksum as Hadoop's LocalFs does") {
    val root = Files.createTempDirectory("graft-lfs-rename")
    try {
      def renamed(fc: FileContext, side: String): (Seq[String], String) = {
        val base = new Path(root.toString, side)
        for ((name, body) <- Seq("src" -> "new", "dst" -> "old")) {
          val out = fc.create(new Path(base, name),
            java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE), Options.CreateOpts.createParent())
          out.write(body.getBytes(UTF_8)); out.close()
        }
        fc.rename(new Path(base, "src"), new Path(base, "dst"), Options.Rename.OVERWRITE)
        val in = fc.open(new Path(base, "dst"))
        val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
        (new java.io.File(base.toString).list().toSeq.sorted, body)
      }
      val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
      val hadoops = FileContext.getFileContext(URI.create("file:///"), new Configuration())
      assert(!hadoops.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      val want = renamed(hadoops, "stock")
      assert(want === ((Seq(".dst.crc", "dst"), "new")))
      assert(renamed(fc, "nio") === want)
    } finally rmTree(root.toString)
  }

  /** `jdk.ProcessStart` events recorded while `body` runs whose stack
    * passes through Hadoop's `Shell`. */
  private def shellForks(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-lfs", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.count(e => Option(e.getStackTrace)
        .exists(_.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    } finally { rec.close(); Files.deleteIfExists(file); () }
  }

  test("a parquet write and a two-drop AvailableNow dedup stream fork no Hadoop shell command") {
    // control: Hadoop's own chmod forks, and the recording sees it
    val probe = Files.createTempFile("graft-lfs", ".probe")
    try assert(shellForks(stock.setPermission(hp(probe), mode("600"))) >= 1)
    finally Files.deleteIfExists(probe)

    val events = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").cache()
    events.count()
    val (written, landing, out, ckpt) =
      (tmp("graft-lfs-parquet"), tmp("graft-lfs-landing"), tmp("graft-lfs-out"), tmp("graft-lfs-ckpt"))
    try {
      val forks = shellForks {
        events.write.mode("overwrite").parquet(written)
        drop(events, landing, 0)
        drop(events, landing, 1)
        EventStreams.dedupedStream(spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1).parquet(landing))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).outputMode("append")
          .start().awaitTermination()
      }
      assert(spark.read.parquet(out).count() > 0)
      assert(forks === 0)
    } finally {
      Seq(written, landing, out, ckpt).foreach(rmTree)
      events.unpersist()
    }
  }
}
