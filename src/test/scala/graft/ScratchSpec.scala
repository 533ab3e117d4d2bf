package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the marker-cache invalidation contract of [[Scratch.fingerprint]]:
  * a regenerated store with the SAME file sizes and SAME mtimes (the
  * `cp -p` / deterministic-rewriter case) must still change the stamp,
  * because the stamp samples content (head+tail bytes), not metadata
  * alone. */
class ScratchSpec extends AnyFunSuite {

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
}
