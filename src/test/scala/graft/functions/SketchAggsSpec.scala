package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** CmsSketch: grid vs a plain-Scala reference, partitioning invariance
  * (the merge path), shard-union linearity, and the CMS no-
  * underestimate guarantee. */
class SketchAggsSpec extends SparkSpec {

  private val D = 4
  private val W = 64

  private def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Long] = {
    df.agg(SketchAggs.cmsSketch("tok", D, W).as("sk"))
      .collect().head.getSeq[Long](0).toArray
  }

  private def refSketch(toks: Seq[String]): Array[Long] = {
    val grid = new Array[Long](D * W)
    toks.foreach { t =>
      (0 until D).foreach { j =>
        val h = (Fnv1a32.compute(UTF8String.fromString(t),
          CmsSketch.seed(j)) % W).toInt
        grid(j * W + h) += 1
      }
    }
    grid
  }

  private def tokens = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(explode(split(col("text"), " ", -1)).as("tok"))
    .where(col("tok") =!= "")

  test("grid matches the per-row reference and is partitioning-invariant") {
    val toks = tokens.collect().map(_.getString(0)).toSeq
    val expect = refSketch(toks)
    assert(sketchOf(tokens).sameElements(expect))
    // different partitioning => different partial buffers => the merge
    // path must still produce the identical grid
    assert(sketchOf(tokens.repartition(13)).sameElements(expect))
  }

  test("sketches of disjoint shards union by elementwise add (linearity)") {
    val a = tokens.where(length(col("tok")) <= 4)
    val b = tokens.where(length(col("tok")) > 4)
    val union = sketchOf(tokens)
    val summed = sketchOf(a).zip(sketchOf(b)).map { case (x, y) => x + y }
    assert(summed.sameElements(union),
      "CMS must be mergeable across corpus shards")
  }

  test("point estimates never underestimate and are exact sans collision") {
    val toks = tokens.collect().map(_.getString(0)).toSeq
    val grid = refSketch(toks)
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (t, cnt) =>
      val est = (0 until D).map { j =>
        grid(j * W + (Fnv1a32.compute(UTF8String.fromString(t),
          CmsSketch.seed(j)) % W).toInt)
      }.min
      assert(est >= cnt, s"CMS underestimated '$t'")
    }
  }

  // ---- KmvSketch (bottom-k distinct) ----

  private val K = 16

  private def kmvOf(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    df.agg(SketchAggs.kmvSketch("tok", K).as("mins"))
      .collect().head.getSeq[Long](0)
  }

  private def refKmv(toks: Seq[String], k: Int = K): Seq[Long] =
    toks.map(t => Fnv1a32.compute(UTF8String.fromString(t), Fnv1a32.Seed))
      .distinct.sorted.take(k)

  test("kmv keeps exactly the k smallest distinct hashes, any partitioning") {
    val toks = tokens.collect().map(_.getString(0)).toSeq
    val expect = refKmv(toks)
    assert(kmvOf(tokens) == expect)
    // different partitioning => partial bottom-k sets => the union-trim
    // merge path must reproduce the identical global bottom-k
    assert(kmvOf(tokens.repartition(13)) == expect)
  }

  test("kmv of disjoint shards merges to the kmv of the union") {
    val toks = tokens.collect().map(_.getString(0)).toSeq
    val a = kmvOf(tokens.where(length(col("tok")) <= 4))
    val b = kmvOf(tokens.where(length(col("tok")) > 4))
    val merged = (a ++ b).distinct.sorted.take(K)
    assert(merged == refKmv(toks),
      "bottom-k of shard bottom-ks must equal the global bottom-k")
  }

  test("kmv is the exact distinct set (ascending) when k >= distinct") {
    val small = tokens.limit(0).sparkSession
      .createDataFrame(Seq.tabulate(40)(i => Tuple1(s"v${i % 7}")))
      .toDF("tok")
    val hashes = (0 until 7).map(i =>
      Fnv1a32.compute(UTF8String.fromString(s"v$i"), Fnv1a32.Seed)).sorted
    assert(kmvOf(small) == hashes)
  }

  test("kmv set algebra: identical sets give J=1, disjoint sets J~0") {
    // The q135 estimator applied to sketches directly: K(A∪B) from the
    // two kept sets, Ĵ = |K ∩ A ∩ B| / |K|.
    def jacc(a: Seq[Long], b: Seq[Long]): Double = {
      val mk = (a ++ b).distinct.sorted.take(K)
      mk.count(h => a.contains(h) && b.contains(h)).toDouble / mk.size
    }
    val all = kmvOf(tokens)
    assert(jacc(all, all) == 1.0, "A vs A must estimate J = 1")
    val a = kmvOf(tokens.where(length(col("tok")) <= 4))
    val b = kmvOf(tokens.where(length(col("tok")) > 4))
    // disjoint value sets: shared hashes only under FNV collision
    assert(jacc(a, b) <= 0.1, s"disjoint sets estimated J=${jacc(a, b)}")
  }

  test("kmv estimate lands near the true distinct count in sketch regime") {
    val toks = tokens.collect().map(_.getString(0)).toSeq
    val distinct = toks.distinct.size
    assume(distinct > K)
    val kth = refKmv(toks).last
    val est = (K - 1).toDouble * 4294967296.0 / kth
    assert(math.abs(est - distinct) / distinct < 0.75,
      s"KMV estimate $est too far from $distinct (k=$K)")
  }
}
