package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for documentation and for the one vector-search spine
  * in [[graft.llm.Sim]]. A scaladoc block that sits directly on top of
  * another one attaches to nothing and scaladoc drops it. A hand-built
  * copy of a rank rule drifts from the helper (a flipped tiebreak or an
  * INT `rnk` passes a value compare at one scale and fails the hash at
  * another). */
class SourceSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  private def lines(p: Path): Vector[String] = Files.readAllLines(p).asScala.toVector

  private def sources: List[Path] = {
    assert(Files.isDirectory(main), s"run from the repo root, not ${main.toAbsolutePath}")
    Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
  }

  test("no scaladoc block is stacked on another one") {
    val bad = sources.flatMap { p =>
      lines(p).sliding(2).zipWithIndex.collect {
        case (Vector(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"$p:${i + 2}: ${b.trim}"
      }
    }
    assert(bad.isEmpty,
      "move each doc block onto its own definition (or delete it):\n" + bad.mkString("\n"))
  }

  test("Sim's kNN rank rule and nearest-centroid rule live only in their helpers") {
    val sim = main.resolve("graft/llm/Sim.scala")
    val src = lines(sim)
    val helper = """^\s*private\[llm\] def (vectors|topK|nearestCentroids)\b""".r
    val starts = src.indices.filter(i => helper.findFirstIn(src(i)).nonEmpty)
    assert(starts.size == 3, "vectors, topK and nearestCentroids must each be defined once")
    // a helper body runs from its def line to the next blank line
    val inHelper = starts.flatMap(s => s until src.indexWhere(_.trim.isEmpty, s)).toSet
    // topK's rule under any score name (a per-qid window ordered by
    // (score desc, vec_id asc)), its sim/est/s spellings under any
    // partitioning and any of the id tiebreaks vec_id/oid/w, and the
    // nearest-centroid rule
    val rule = ("""partitionBy\("qid"\)\s*\.orderBy\(col\("\w+"\)\.desc,\s*col\("vec_id"\)\.asc\)|""" +
      """orderBy\(col\("(sim|est|s)"\)\.desc,\s*col\("(vec_id|oid|w)"\)\.asc\)|""" +
      """orderBy\(col\("csim"\)\.desc,\s*col\("cid"\)\.asc\)|def assignTo\b""").r
    val text = src.mkString("\n")
    val bad = rule.findAllMatchIn(text).map(m => text.substring(0, m.start).count(_ == '\n'))
      .filterNot(inHelper).map(i => s"$sim:${i + 1}: ${src(i).trim}").toList
    assert(bad.isEmpty, "rank through Sim.topK / Sim.nearestCentroids:\n" + bad.mkString("\n"))
  }
}
