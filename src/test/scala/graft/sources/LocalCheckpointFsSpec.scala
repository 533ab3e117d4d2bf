package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The fork-free local filesystem that StreamIngest installs for every
  * drain: it answers like the stock `RawLocalFileSystem`, spawns no
  * process for the checkpoint manager, and writes the files, modes and
  * `.crc` sidecars the stock `LocalFs` writes. */
class LocalCheckpointFsSpec extends SparkSpec {

  private def tempDir(): JPath = Files.createTempDirectory("graft-ckptfs")

  private def fs(f: RawLocalFileSystem): RawLocalFileSystem = {
    f.initialize(URI.create("file:///"), new Configuration())
    f
  }

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The fields of a status, or the exception class a lookup threw. */
  private def describe(status: => FileStatus): String =
    try {
      val s = status
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else "", s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup).mkString("|")
    } catch { case e: IOException => e.getClass.getName }

  test("ForkFreeLocalFileSystem answers setPermission and getFileLinkStatus like RawLocalFileSystem") {
    val stock = fs(new RawLocalFileSystem)
    val ours = fs(new ForkFreeLocalFileSystem)
    val d = tempDir()
    val file = Files.write(d.resolve("f"), "x".getBytes)
    val dir = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val missing = d.resolve("missing")
    for (p <- Seq(file, dir, link, missing); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = describe(stock.getFileLinkStatus(path))
      assert(describe(ours.getFileLinkStatus(path)) == want, s"getFileLinkStatus($path)")
      if (p == missing) assert(want == classOf[FileNotFoundException].getName)
    }
    // a symlink's mode is its target's: chmod follows the link
    for (p <- Seq(file, dir, link); bits <- Seq(0x1a4, 0x1ed, 0x180, 0x1e9, 0x3ff)) {
      val perm = new FsPermission(bits.toShort)
      val target = p.toRealPath()
      stock.setPermission(new Path(p.toUri), perm)
      val want = Files.getAttribute(target, "unix:mode").asInstanceOf[Int] & 0xfff
      Files.setPosixFilePermissions(target, PosixFilePermissions.fromString("rwx------"))
      ours.setPermission(new Path(p.toUri), perm)
      val got = Files.getAttribute(target, "unix:mode").asInstanceOf[Int] & 0xfff
      assert(got == want, f"setPermission($p, 0$bits%o): 0$got%o vs stock 0$want%o")
    }
    for (f <- Seq(stock, ours))
      intercept[IOException](f.setPermission(new Path(missing.toUri), new FsPermission(0x1a4.toShort)))
  }

  /** Commands of the processes `body` starts, each with the classes on
    * its stack, from the JVM's own `jdk.ProcessStart` events. */
  private def processesStartedBy(body: => Unit): Seq[(String, Seq[String])] = {
    val token = "graft-process-probe-" + System.nanoTime
    val seen = new CountDownLatch(1)
    val started = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.contains(token)) seen.countDown()
        else started.add(cmd -> Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
      })
      rs.startAsync()
      body
      // the probe's own process marks the end: every earlier event is
      // delivered before it
      new ProcessBuilder("true", token).start().waitFor()
      assert(seen.await(60, TimeUnit.SECONDS), "jdk.ProcessStart events are not delivered")
    } finally rs.close()
    started.asScala.toList
  }

  /** chmod/readlink processes whose stack passes through FileContext,
    * the API of Spark's streaming checkpoint file manager. */
  private def checkpointForks(ps: Seq[(String, Seq[String])]): Seq[String] = ps.collect {
    case (cmd, stack) if """^(chmod|readlink)\b""".r.findFirstIn(cmd).nonEmpty &&
      stack.exists(_.startsWith("org.apache.hadoop.fs.FileContext")) => cmd
  }

  /** Every path under `root`: relative name with UUIDs masked, kind, mode. */
  private def listing(root: JPath): Seq[String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val rel = root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      val kind = if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) "d" else "f"
      s"$rel $kind ${mode(p)}"
    }.toList.sorted

  test("a StreamIngest drain spawns no checkpoint process and writes the stock checkpoint") {
    import spark.implicits._
    val d = tempDir()
    val in = d.resolve("in").toString
    val base = 1700000000L
    // three source files in event-time order; the last repeats two texts
    Seq(Seq((1L, "alpha", "en"), (2L, "beta", "de")),
      Seq((3L, "gamma", "en"), (4L, "alpha", "fr")),
      Seq((5L, "beta", "en"), (6L, "delta", "de")))
      .zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "text", "lang")
          .withColumn("ts", timestamp_seconds(lit(base + i)))
          .coalesce(1).write.mode("append").parquet(in)
      }
    val schema = spark.read.parquet(in).schema
    val drained = d.resolve("drain")
    val stock = d.resolve("stock")

    val keys = Seq("spark.sql.shuffle.partitions", "fs.AbstractFileSystem.file.impl")
    val before = keys.map(spark.conf.getOption)
    var got = Set.empty[(Long, String)]
    val drainForks = checkpointForks(processesStartedBy {
      got = StreamIngest.dedupParquet(spark, in, schema, s"$drained/out", s"$drained/ckpt")
        .as[(Long, String)].collect().toSet
    })
    assert(keys.map(spark.conf.getOption) == before, "the drain scope restores the session")
    assert(got == Set((1L, "en"), (2L, "de"), (3L, "en"), (6L, "de")))

    // the same drain as it ran before the fork-free filesystem: the stock
    // local AbstractFileSystem under the drain's partition count
    val part = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val stockForks = try checkpointForks(processesStartedBy {
      graft.streaming.Sessions.streamingDedup(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in), "text")
        .select("doc_id", "lang")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$stock/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start(s"$stock/out").awaitTermination()
    }) finally spark.conf.set("spark.sql.shuffle.partitions", part)

    assert(stockForks.nonEmpty, "the probe must see the stock checkpoint manager's processes")
    assert(drainForks.size == 0, s"checkpoint processes in the drain, e.g. ${drainForks.take(3)}")
    assert(spark.read.parquet(s"$stock/out").as[(Long, String)].collect().toSet == got)
    for (sub <- Seq("ckpt", "out"))
      assert(listing(drained.resolve(sub)) == listing(stock.resolve(sub)), s"$sub file set")

    // every checkpoint file reads back through the stock LocalFs (the
    // checkpoint manager's read path) and verifies against its .crc
    // sidecar through the stock checksummed LocalFileSystem (FileContext's
    // LocalFs reads do not verify sidecars), which catches a flipped byte
    val fc = FileContext.getFileContext(URI.create("file:///"), new Configuration())
    assert(fc.getDefaultFileSystem.isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
    val local = FileSystem.getLocal(new Configuration())
    local.setVerifyChecksum(true)
    def readAll(s: java.io.InputStream): Array[Byte] = try s.readAllBytes() finally s.close()
    val files = Files.walk(drained.resolve("ckpt")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toList
    assert(files.nonEmpty && files.forall(p => Files.exists(p.resolveSibling(s".${p.getFileName}.crc"))),
      "every checkpoint file keeps its .crc sidecar")
    files.foreach { p =>
      val raw = Files.readAllBytes(p)
      assert(readAll(fc.open(new Path(p.toUri))).sameElements(raw), p)
      assert(readAll(local.open(new Path(p.toUri))).sameElements(raw), p)
    }
    val victim = files.head
    val bytes = Files.readAllBytes(victim)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(victim, bytes)
    intercept[ChecksumException](readAll(local.open(new Path(victim.toUri))))
  }
}
