package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop, single-client driver for one benchmark workload.
  *
  * One driver thread runs the workload's queries one after another
  * through the public entry points only: `SparkEntry.queries(name)` builds
  * the DataFrame, and a `noop` write executes its final plan.
  *
  *  1. setup: session start, one untimed pass that writes every result
  *     to parquet for the oracle check (this also builds the fixture
  *     stores), and one untimed pass as the timed ones run, to warm the JIT;
  *  2. `--passes` timed passes, each in a seed-shuffled order.
  *
  * With `--trace 1` a [[Tracer]] splits each timed query into layers.
  * Everything is written as one JSON document to `--out`; the Python
  * driver turns it into metrics.
  *
  * Arguments (all required): --queries a,b,c --data DIR --dump DIR
  * --passes P --seed N --trace 0|1 --cores K --warehouse DIR
  * --scratch DIR --launch-ms EPOCH_MS --out FILE
  */
object Harness {

  /** A query that always throws, for the benchmark's own checks. */
  val ThrowingQuery = "perfbench_throws"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq
    val dataDir = opt("data")
    val dumpDir = opt("dump")
    val passes = opt("passes").toInt
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val scratch = Paths.get(opt("scratch"))
    val launchMs = opt("launch-ms").toDouble

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - tSession) / 1e9

    val registry = graft.SparkEntry.queries
    def build(name: String): DataFrame =
      if (name == ThrowingQuery) throw new IllegalStateException("thrown on purpose")
      else registry(name)(spark, dataDir)

    // Setup: the untimed pass that dumps results for the oracle. The dump
    // runs the same final plan as the timed passes, into parquet files
    // instead of the noop sink; the oracle check ignores row order.
    val warm = names.map { name =>
      val t0 = System.nanoTime()
      val err = attempt(build(name).write.mode("overwrite").parquet(s"$dumpDir/$name"))
      Json.obj("name" -> name, "ok" -> err.isEmpty, "error" -> err.orNull,
        "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json.render(oracles))
    // A second untimed pass through the timed path: after one pass the JIT
    // is still compiling the hot paths, which measured as most of the
    // process CPU of a first timed pass and most of its run-to-run spread.
    names.foreach(name => attempt(noop(build(name))))

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val storeAfterSetup = Store.snapshot(scratch)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val rssReset = resetPeakRss()

    // Timed passes.
    val timed = mutable.ArrayBuffer.empty[Json.Obj]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val cpu0 = processCpuNs()
    for (pass <- 0 until passes) {
      val tPass = System.nanoTime()
      new Random(seed * 1000003L + pass).shuffle(names).foreach { name =>
        timed += (tracer match {
          case None =>
            val t0 = System.nanoTime()
            val err = attempt(noop(build(name)))
            Json.obj("name" -> name, "pass" -> pass, "ok" -> err.isEmpty,
              "error" -> err.orNull, "wall_s" -> (System.nanoTime() - t0) / 1e9)
          case Some(t) =>
            t.traceQuery(name, pass, scratch, () => build(name))
        })
      }
      passWalls += (System.nanoTime() - tPass) / 1e9
    }
    val cpuS = (processCpuNs() - cpu0) / 1e9

    val doc = Json.obj(
      "traced" -> traced,
      "cores" -> cores,
      "session_start_s" -> sessionStartS,
      "setup_s" -> setupS,
      "warm" -> warm,
      "timed" -> timed.toSeq,
      "pass_wall_s" -> passWalls.toSeq,
      "timed_cpu_s" -> cpuS,
      "peak_rss_mb" -> peakRssMb(),
      "peak_rss_reset" -> rssReset,
      "store_bytes" -> storeAfterSetup.values.map(_._1).sum,
      "store_files" -> storeAfterSetup.size,
    )
    Files.writeString(Paths.get(opt("out")), Json.render(doc))
    spark.stop()
  }

  /** Executes the final plan and discards its rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body`; a thrown query is a failed attempt, never a crash. */
  def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Sets VmHWM back to the current resident set (`5` to clear_refs), so
    * the peak read at the end covers the timed passes only, not the setup
    * dump pass. False where the kernel refuses the write; the peak then
    * covers setup too. */
  private def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  /** VmHWM: the process's peak resident set. In local mode this JVM is
    * the whole engine. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The fixture-store layer as seen from outside: the files under the
  * scratch root, as path -> (size, mtime). */
object Store {
  def snapshot(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Bytes of the files that are new or changed between two snapshots. */
  def bytesWritten(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
}
