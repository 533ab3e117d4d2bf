package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session).
  * Pinned to 4 cores whatever `$SPARK_GRAFT_CPUS` says, with a
  * throwaway warehouse. Whole-stage codegen may not fall back: a
  * generated-code compile error (janino's 64 KB method limit) fails the
  * test instead of silently running the stage interpreted. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4,
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
}

/** Plain-Scala reference implementation of the reference corpus'
  * co-occurrence semantics (SURVEY.md §2 O2–O10) — an independent oracle
  * for the DataFrame operators. Mirrors the Hadoop mapper loops
  * directly: split on single space, whole-token regex categories,
  * forward window of m positions clamped at line end, same-category
  * rule, stripes = both directions. */
object RefImpl {
  private val Alpha = "^[a-z-_]+$".r
  private val Num = "^[-+]?[0-9]+[.]{0,1}[0-9]*$".r

  def cat(t: String): Option[String] =
    if (Alpha.matches(t)) Some("alpha")
    else if (Num.matches(t)) Some("num")
    else None

  def wordCount(lines: Seq[String], lowercase: Boolean): Map[(String, String), Long] = {
    val toks = for {
      l <- lines
      t <- (if (lowercase) l.toLowerCase else l).split(" ", -1)
      c <- cat(t)
    } yield (c, t)
    toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  /** Forward pairs within distance m (HadoopWordPairs2.java:53-64). */
  def pairs(lines: Seq[String], m: Int): Map[(String, String), Long] = {
    val ps = for {
      l <- lines
      ts = l.split(" ", -1)
      i <- ts.indices
      ci <- cat(ts(i)).toSeq
      j <- (i + 1) to math.min(i + m, ts.length - 1)
      if cat(ts(j)).contains(ci)
    } yield (ts(i), ts(j))
    ps.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  /** Stripes within distance m, both directions
    * (HadoopWordStripes2.java:67-107). */
  def stripes(lines: Seq[String], m: Int): Map[(String, String), Long] = {
    val f = pairs(lines, m)
    (f.toSeq.map { case ((a, b), n) => ((a, b), n) } ++
      f.toSeq.map { case ((a, b), n) => ((b, a), n) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }
}
