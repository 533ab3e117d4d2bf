package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

/** Pins the marker-cache invalidation contract of [[Scratch.fingerprint]]:
  * a regenerated store with the SAME file sizes and SAME mtimes (the
  * `cp -p` / deterministic-rewriter case) must still change the stamp,
  * because the stamp samples content (head+tail bytes), not metadata
  * alone. Also pins the stamped stream sources: a drain row writes its
  * source once per fixture generation and replays it after. */
class ScratchSpec extends SparkSpec {

  private def withTempDir(f: Path => Unit): Unit = {
    val d = Files.createTempDirectory("scratch_spec")
    try f(d)
    finally {
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("same-size same-mtime content change invalidates the stamp") {
    withTempDir { d =>
      val f = d.resolve("part-00000.parquet")
      Files.write(f, ("A" * 200).getBytes("UTF-8"))
      val mtime = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
      Files.setLastModifiedTime(f, mtime)
      val before = Scratch.fingerprint(d.toString)
      // rewrite: identical size, identical pinned mtime, different bytes
      Files.write(f, ("A" * 100 + "B" + "A" * 99).getBytes("UTF-8"))
      Files.setLastModifiedTime(f, mtime)
      val after = Scratch.fingerprint(d.toString)
      assert(Files.size(f) == 200)
      assert(before != after,
        "a metadata-preserving rewrite must invalidate the store stamp")
    }
  }

  test("tail-only change (parquet-footer class) invalidates the stamp") {
    withTempDir { d =>
      val f = d.resolve("data.bin")
      Files.write(f, ("H" * 64 + "M" * 500 + "T" * 64).getBytes("UTF-8"))
      val mtime = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
      Files.setLastModifiedTime(f, mtime)
      val before = Scratch.fingerprint(d.toString)
      Files.write(f, ("H" * 64 + "M" * 500 + "T" * 63 + "X").getBytes("UTF-8"))
      Files.setLastModifiedTime(f, mtime)
      val after = Scratch.fingerprint(d.toString)
      assert(before != after)
    }
  }

  test("fixture markers are read and written only by Scratch.stamped") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root, not ${main.toAbsolutePath}")
    val markerIo = """(?i)\b(read|write)\w*\(\s*[\w.]*marker""".r
    val offenders = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Scratch.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("_marker") || markerIo.findFirstIn(line).nonEmpty =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "fixture-store freshness goes through Scratch.stamped:\n" + offenders.mkString("\n"))
  }

  test("file count and stability") {
    withTempDir { d =>
      Files.write(d.resolve("a"), "x".getBytes)
      val one = Scratch.fingerprint(d.toString)
      val oneAgain = Scratch.fingerprint(d.toString)
      assert(one == oneAgain, "stamp must be deterministic")
      Files.write(d.resolve("b"), "".getBytes)
      assert(Scratch.fingerprint(d.toString) != one,
        "adding an empty file must change the stamp")
    }
  }

  test("a repeated q102 replays its stamped source; new documents rewrite it") {
    withTempDir { d =>
      // a private fixture dir, so its documents can be re-stamped
      Files.write(d.resolve("documents.parquet"),
        Files.readAllBytes(Paths.get(sf0001, "documents.parquet")))
      val q102 = SparkEntry.queries("q102_stream_dedup")
      val src = Paths.get(Scratch.dir("stream_dedup_src"))
      def files(): Map[String, FileTime] = Files.list(src).iterator().asScala
        .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f)).toMap
      val first = q102(spark, d.toString).collect().toSeq
      val written = files()
      assert(written.keys.count(_.endsWith(".parquet")) == 2, "originals, then copies")
      assert(q102(spark, d.toString).collect().toSeq == first)
      assert(files() == written, "a second execution must replay the source, not rewrite it")
      val doc = d.resolve("documents.parquet")
      Files.setLastModifiedTime(doc,
        FileTime.fromMillis(Files.getLastModifiedTime(doc).toMillis + 5000))
      assert(q102(spark, d.toString).collect().toSeq == first)
      assert(!files().keys.exists(f => f.endsWith(".parquet") && written.contains(f)),
        "a re-fingerprinted documents table must rewrite the source")
    }
  }

  test("stream sources are written only through stampedSource") {
    val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")
    assert(Files.exists(entry), s"run from the repo root, not ${entry.toAbsolutePath}")
    // code text: comment lines blanked, line structure kept
    val lines = Files.readAllLines(entry).asScala.toVector.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else l
    }
    val text = lines.mkString("\n")
    /** Offset of the bracket closing the one opened at `at`. */
    def close(at: Int): Int = {
      var (i, depth, inStr) = (at, 0, false)
      while (i < text.length) {
        val c = text(i)
        if (inStr) { if (c == '\\') i += 1 else if (c == '"') inStr = false }
        else if (c == '"') inStr = true
        else if (c == '(' || c == '{') depth += 1
        else if (c == ')' || c == '}') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      text.length
    }
    def next(from: Int): Int = text.indexWhere(c => c == '(' || c == '{', from)
    // a stampedSource call's two argument lists, and the bodies of
    // stampedSource and writeTimeSlices
    val calls = """(?<!def )stampedSource\(""".r.findAllMatchIn(text).map { m =>
      (m.start, close(next(close(next(m.start)) + 1)))
    }.toList
    val defs = """private def (stampedSource|writeTimeSlices)\b""".r.findAllMatchIn(text)
      .map(m => (m.start, close(text.indexOf("= {", m.start) + 2))).toList
    assert(calls.nonEmpty && defs.size == 2)
    // The two-phase resume rows append their second phase after the
    // first drain, so their source cannot be written once per fixture.
    val resumeRows = Map(
      "q101_stream_resume" -> "slices 3-5 arrive between the two drains",
      "q282_stream_state_resume" -> "slices 3-5 and the sentinel arrive between the two drains")
    val rows = resumeRows.keys.toList.map { k =>
      val at = text.indexOf("\"" + k + "\" ->")
      assert(at >= 0, s"allow-listed row $k is not declared")
      (at, close(text.indexOf('{', at)))
    }
    val writes = """Scratch\.dir\("\w+_src"\)|\.parquet\(src\)|\bwriteTimeSlices\(""".r
    val bad = writes.findAllMatchIn(text)
      .filterNot(m => (calls ++ defs ++ rows).exists { case (a, b) => a <= m.start && m.start < b })
      .map { m =>
        val i = text.substring(0, m.start).count(_ == '\n')
        s"$entry:${i + 1}: ${lines(i).trim}"
      }.toList
    assert(bad.isEmpty,
      "lay a stream source out inside SparkEntry.stampedSource:\n" + bad.mkString("\n"))
  }
}
