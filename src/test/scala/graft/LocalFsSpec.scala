package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The fork-free local file system ([[NioLocalFileSystem]], [[NioLocalFs]])
  * is what the session binds to `file:`, behaves as stock Hadoop's on the
  * two calls it replaces, and starts no process where Hadoop's would. */
class LocalFsSpec extends SparkTestBase {
  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  /** Stock Hadoop's checksummed local file system, uncached. */
  private def stock: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def ours: LocalFileSystem = FileSystem.getLocal(conf)

  /** The full mode bits, special ones included. */
  private def mode(p: NPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  private def tmp(prefix: String): NPath = Files.createTempDirectory(prefix)

  test("the session binds both Hadoop APIs for file: to the fork-free classes") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("create, mkdirs and createAtomic give stock Hadoop's files and modes; a sticky bit falls back") {
    val root = tmp("localfs-perm")
    /** Every path made under `root/side`, with its mode. */
    def made(fs: FileSystem, cfm: CheckpointFileManager, side: String): Map[String, Int] = {
      val d = root.resolve(side)
      val p = new Path(d.toUri)
      assert(fs.mkdirs(new Path(p, "a/b")))
      fs.create(new Path(p, "a/b/f")).close()
      fs.create(new Path(p, "g"), new FsPermission(Integer.parseInt("600", 8).toShort),
        true, 4096, 1.toShort, 1 << 20, null).close()
      cfm.mkdirs(new Path(p, "ckpt"))
      val out = cfm.createAtomic(new Path(p, "ckpt/1"), false)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.mkdirs(new Path(p, "sticky"))
      fs.setPermission(new Path(p, "sticky"),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
      Files.walk(d).iterator.asScala.filter(_ != d).map(f => d.relativize(f).toString -> mode(f)).toMap
    }
    val want = made(stock, CheckpointFileManager.create(new Path(root.toUri), new Configuration()), "stock")
    val got = made(ours, CheckpointFileManager.create(new Path(root.toUri), conf), "ours")
    def octal(m: Map[String, Int]) = m.toSeq.sorted.map { case (f, b) => s"$f:${b.toOctalString}" }
    assert(got == want, s"${octal(got)} vs stock ${octal(want)}")
    assert(Seq("a/b/.f.crc", "ckpt/.1.crc").forall(want.contains), octal(want))
    assert(want("sticky") == Integer.parseInt("1777", 8) && want("g") == Integer.parseInt("600", 8))
  }

  test("getFileLinkStatus matches stock Hadoop on files, dirs, links, dangling links and missing paths") {
    val root = tmp("localfs-link")
    Files.write(root.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def status(fs: FileSystem, p: Path): Either[String, (String, Boolean, Boolean, Long, Long, String)] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath.toString, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
          if (s.isSymlink) s.getSymlink.toString else ""))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    val (st, ou) = (stock, ours)
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toUri), new Path(root.resolve(name).toString))) {
      assert(status(ou, p) == status(st, p), s"$p")
    }
    assert(status(ou, new Path(root.resolve("missing").toUri)).isLeft)
    assert(status(ou, new Path(root.resolve("link").toString)).exists(_._3),
      "an unqualified link path reads as a link")
  }

  test("parquet writes, createAtomic and a restarted RocksDB AvailableNow stream start no Hadoop shell process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val root = tmp("localfs-forks")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val day = (d: Int) => s2.range(0, 200).select((col("id") % 7).as("k"), col("id").as("v"))
      .withColumn("day", org.apache.spark.sql.functions.lit(d))
    val schema = day(1).schema
    // Shell's class initializer probes `setsid` once per JVM; load it first
    // so only per-operation forks are recorded
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val totals = try {
      day(0).write.parquet(root.resolve("plain").toString)
      val cfm = CheckpointFileManager.create(new Path(root.toUri), conf)
      cfm.mkdirs(new Path(new Path(root.toUri), "atomic"))
      val out = cfm.createAtomic(new Path(new Path(root.toUri), "atomic/0"), false)
      out.write(Array[Byte](42))
      out.close()
      val in = root.resolve("in").toString
      def drain(): Unit = {
        val q = s2.readStream.schema(schema).parquet(in)
          .groupBy(col("k")).count()
          .writeStream.outputMode("complete").format("memory").queryName("localfs_days")
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(120000))
      }
      day(1).write.mode("append").parquet(in)
      drain()
      day(2).write.mode("append").parquet(in)
      drain()
      s2.table("localfs_days").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally rec.stop()
    assert(totals == (0L until 7L).map(k => k -> 2L * (0 until 200).count(_ % 7 == k)).toMap,
      "the second day's run did not resume from the first day's state")
    val file = root.resolve("forks.jfr")
    rec.dump(file)
    rec.close()
    val shell = RecordingFile.readAllEvents(file).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.isEmpty, s"${shell.size} Hadoop shell processes, e.g. " +
      shell.take(3).map(_.getString("command")).mkString("; "))
  }
}
