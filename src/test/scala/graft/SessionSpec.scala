package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one session factory and the one function-wiring
  * path: every session comes from [[Session.local]] (which installs
  * [[GraftExtensions]]), and no code registers a native function into a
  * session by hand. A second builder drifts in config and misses the
  * extension; a hand registration re-registers per call and logs
  * "replaced a previously registered function". */
class SessionSpec extends AnyFunSuite {

  /** `file:line: text` of every line under `dir` matching `pattern`,
    * in files other than `allowed`. */
  private def offenders(dir: String, pattern: String, allowed: String*): List[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root, not ${root.toAbsolutePath}")
    val re = pattern.r
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
  }

  test("sessions are built only by Session.local") {
    val bad = offenders("src/main/scala", """SparkSession\s*\.\s*builder""", "Session.scala") ++
      offenders("src/test/scala", """SparkSession\s*\.\s*builder""", "ExtensionsSpec.scala")
    assert(bad.isEmpty, "build sessions through graft.Session.local:\n" + bad.mkString("\n"))
  }

  test("native functions are wired only by GraftExtensions") {
    val bad = offenders("src/main/scala", """createOrReplaceTempFunction|functionRegistry""")
    assert(bad.isEmpty,
      "inject native functions in GraftExtensions, not per session:\n" + bad.mkString("\n"))
  }

  test("every function GraftExtensions injects is called by ExtensionsSpec") {
    def read(p: String) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    val injected = """FunctionIdentifier\("([^"]+)"\)""".r
      .findAllMatchIn(read("src/main/scala/graft/GraftExtensions.scala")).map(_.group(1)).toList
    val spec = read("src/test/scala/graft/ExtensionsSpec.scala")
    assert(injected.nonEmpty)
    val missing = injected.filterNot(f => s"""\\b$f\\(""".r.findFirstIn(spec).nonEmpty)
    assert(missing.isEmpty, "call these in ExtensionsSpec's plain-session query: " +
      missing.mkString(", "))
  }
}
