package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{lit, timestamp_seconds}

/** Source guard for StreamIngest's one drain scope: every streaming
  * query in `src/main/scala` starts inside a `drain(spark…) { … }`
  * block of StreamIngest, and nothing else sets the settings that scope
  * owns. A drain started elsewhere would silently run with the session's
  * shuffle-partition count, the process-spawning local filesystem and a
  * fresh executor classloader (so freshly compiled generated code) per
  * run. */
class DrainScopeSpec extends graft.SparkSpec {

  private val main = Paths.get("src/main/scala")
  private val ingestFile = "StreamIngest.scala"

  /** Code text of a source file: comment lines dropped, trailing line
    * comments cut, line structure kept. */
  private def code(p: Path): Vector[String] =
    Files.readAllLines(p).asScala.toVector.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else l.replaceAll("""\s//\s.*$""", "")
    }

  private def sources: Seq[(Path, Vector[String])] = {
    assert(Files.isDirectory(main), s"run from the repo root, not ${main.toAbsolutePath}")
    Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(p => p -> code(p)).toList
  }

  /** Offset of the brace closing the first `{` at or after `from`,
    * skipping string literals. */
  private def blockEnd(text: String, from: Int): Int = {
    var i = text.indexOf('{', from)
    var depth = 0
    var inStr = false
    while (i < text.length) {
      val c = text(i)
      if (inStr) { if (c == '\\') i += 1 else if (c == '"') inStr = false }
      else if (c == '"') inStr = true
      else if (c == '{') depth += 1
      else if (c == '}') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    text.length
  }

  private def spans(text: String, opener: String): Seq[(Int, Int)] =
    opener.r.findAllMatchIn(text).map(m => (m.start, blockEnd(text, m.end))).toList

  private def lineOf(text: String, at: Int): Int = text.substring(0, at).count(_ == '\n') + 1

  test("every streaming query starts inside StreamIngest's drain scope") {
    val offenders = sources.flatMap { case (p, lines) =>
      val text = lines.mkString("\n")
      val scopes =
        if (p.getFileName.toString == ingestFile) spans(text, """\bdrain\(spark\b""") else Nil
      """writeStream|\.start\(""".r.findAllMatchIn(text)
        .filterNot(m => scopes.exists { case (a, b) => a < m.start && m.start < b })
        .map(m => s"$p:${lineOf(text, m.start)}: ${lines(lineOf(text, m.start) - 1).trim}")
    }
    assert(sources.exists(_._1.getFileName.toString == ingestFile))
    assert(offenders.isEmpty,
      "start every streaming query inside StreamIngest.drain:\n" + offenders.mkString("\n"))
  }

  test("only StreamIngest.drain sets the drain settings") {
    val owned = Seq("spark.sql.shuffle.partitions", "SHUFFLE_PARTITIONS",
      "spark.sql.streaming.stateStore.providerClass", "STATE_STORE_PROVIDER_CLASS",
      "fs.AbstractFileSystem.file.impl", "spark.sql.artifact.isolation.enabled")
    val offenders = sources.flatMap { case (p, lines) =>
      val text = lines.mkString("\n")
      val helper =
        if (p.getFileName.toString == ingestFile) spans(text, """private def drain\[""") else Nil
      assert(p.getFileName.toString != ingestFile || helper.size == 1,
        "StreamIngest must define exactly one drain helper")
      var offset = 0
      lines.zipWithIndex.flatMap { case (l, i) =>
        val at = offset
        offset += l.length + 1
        val inHelper = helper.exists { case (a, b) => a <= at && at < b }
        val sessionBuilder = l.trim.startsWith(".config(")
        val setsConf = """conf\.(set|unset)\(""".r.findFirstIn(l).nonEmpty
        val namesOwned = owned.exists(l.contains)
        val bad = !inHelper && ((namesOwned && !sessionBuilder) ||
          (setsConf && p.getFileName.toString == ingestFile))
        if (bad) Some(s"$p:${i + 1}: ${l.trim}") else None
      }
    }
    assert(offenders.isEmpty,
      "shuffle partitions, state-store provider, the file AbstractFileSystem and " +
        "artifact isolation are set only by StreamIngest.drain (or a session " +
        "builder's .config):\n" + offenders.mkString("\n"))
  }

  test("a repeated drain reuses its generated code") {
    import spark.implicits._
    val d = Files.createTempDirectory("drain_scope")
    try {
      val in = d.resolve("in").toString
      Seq(Seq((1L, "alpha", "en"), (2L, "beta", "de")), Seq((3L, "alpha", "fr")))
        .zipWithIndex.foreach { case (rows, i) =>
          rows.toDF("doc_id", "text", "lang")
            .withColumn("ts", timestamp_seconds(lit(1700000000L + i)))
            .coalesce(1).write.mode("append").parquet(in)
        }
      val schema = spark.read.parquet(in).schema
      def run(): Set[(Long, String)] =
        StreamIngest.dedupParquet(spark, in, schema, s"$d/out", s"$d/ckpt")
          .as[(Long, String)].collect().toSet
      val first = run()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = run()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(first == Set((1L, "en"), (2L, "de")) && second == first)
      assert(compiles == 0,
        s"the second drain compiled $compiles generated classes: its stream clone " +
          "must run on the executor classloader the first one used")
    } finally {
      Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
