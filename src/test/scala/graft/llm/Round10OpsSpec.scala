package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the round-10 operators: prototype pruning (q328), the KMV
  * distinct sketch (q329), the skew advisor (q330), and the shared
  * fingerprint-stamped store wrapper q94/q276 now ride. */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet")

  test("prototypePrune: ceil-frac cut, pruned are the prototypical head") {
    val out = Sim.prototypePrune(emb, nlist = 16, frac = 0.25)
      .select("cid", "n_members", "n_pruned", "cut_sim", "top_survivor_id")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1); val p = r.getLong(2)
      assert(p == math.ceil(n * 0.25).toLong, s"cut size at cid=${r.get(0)}")
      assert(p >= 1 && p <= n)
      // a survivor exists exactly when the cut leaves members
      assert((p == n) == r.isNullAt(4), s"survivor nullity at cid=${r.get(0)}")
      assert(!r.isNullAt(3), "pruned set is non-empty so cut_sim is defined")
    }
    // corpus is partitioned by the audit: Σ members = |corpus|
    assert(out.map(_.getLong(1)).sum == emb.count())
  }

  test("kmvSketch: estimator sanity, merge ≡ global bottom-k") {
    val out = TextAnalysis.kmvSketch(docs, kMin = 64).collect()
    val bySrc = out.map(r => r.getString(0) -> r).toMap
    assert(bySrc.contains("__merged"))
    out.foreach { r =>
      val nKept = r.getLong(2); val nExact = r.getLong(3)
      assert(nKept == math.min(64L, nExact), s"kept size for ${r.getString(0)}")
      if (nExact >= 64) {
        val est = r.getDouble(4)
        // KMV std error ≈ 1/sqrt(k-2) ≈ 0.127 at k=64; 3σ + margin
        assert(math.abs(est - nExact) / nExact < 0.5,
          s"${r.getString(0)}: est=$est exact=$nExact")
      } else assert(r.isNullAt(4), "undersized sketch must emit NULL estimate")
    }
    // mergeability: the merged sketch equals the sketch computed over
    // the corpus as ONE source (same hk, hence same estimate)
    val asOne = TextAnalysis.kmvSketch(
      docs.withColumn("source", lit("all")), kMin = 64).collect()
      .filter(_.getString(0) == "all").head
    assert(asOne.getLong(1) == bySrc("__merged").getLong(1),
      "merged h_k must equal the single-source global h_k")
  }

  test("skewAdvisor: salt = ceil(cnt/target) floored at 1, shares sum ≤ 1") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val out = graft.rel.Layout.skewAdvisor(ev, "user_id", targetRows = 512L)
      .collect()
    assert(out.nonEmpty && out.length <= 20)
    val cnts = out.map(_.getLong(1))
    assert(cnts.sameElements(cnts.sorted.reverse), "ranked by cnt desc")
    out.foreach { r =>
      val cnt = r.getLong(1)
      assert(r.getLong(3) == math.max(1L, math.ceil(cnt / 512.0).toLong))
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
    assert(out.map(_.getDouble(2)).sum <= 1.0 + 1e-9)
  }

  test("tokenAllocate: budget conserved when binding, saturation when not") {
    val out = Curation.tokenAllocate(docs, budget = 20000L, maxEpochs = 4)
      .collect()
    val totalCap = out.map(_.getLong(2)).sum
    if (totalCap > 20000L) {
      // level regime: allocations water-fill to exactly the budget
      assert(math.abs(out.map(_.getDouble(3)).sum - 20000.0) < 1e-3 * out.length,
        "sum(alloc) must equal the budget (within emission quanta)")
      val lambda = out.filter(!_.getBoolean(4)).map(_.getDouble(3))
      assert(lambda.distinct.length == 1, "unsaturated sources share one level")
      out.filter(_.getBoolean(4)).foreach(r =>
        assert(r.getLong(2).toDouble <= lambda.head + 1e-6,
          "saturated caps sit below the level"))
    }
    // over-budget: everything saturates, lambda NULL
    val all = Curation.tokenAllocate(docs, budget = Long.MaxValue / 4).collect()
    assert(all.forall(_.getBoolean(4)) && all.forall(_.isNullAt(6)))
    all.foreach(r => assert(r.getDouble(3) == r.getLong(2).toDouble))
  }

  test("groupDroWeights: normalized, monotone in loss") {
    val out = Curation.groupDroWeights(docs).collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-5, "weights sum to 1")
    out.sortBy(_._1).sliding(2).foreach {
      case Array((l1, w1), (l2, w2)) =>
        assert(l1 == l2 || w1 <= w2 + 1e-9, "higher loss ⇒ higher weight")
      case _ =>
    }
  }

  test("kmv store-merge equals the from-scratch whole-corpus sketch") {
    val hist = TextAnalysis.kmvRows(docs.where(col("doc_id") % 2 === 0))
    val batch = TextAnalysis.kmvRows(docs.where(col("doc_id") % 2 === 1))
    val merged = TextAnalysis.kmvEstimate(
        TextAnalysis.kmvCombine(hist.unionAll(batch)))
      .orderBy("source").collect().toSeq
    val scratch = TextAnalysis.kmvEstimate(TextAnalysis.kmvRows(docs))
      .orderBy("source").collect().toSeq
    assert(merged == scratch, "KMV merge theorem: bottom-k of union of " +
      "bottom-ks must equal bottom-k of the union")
  }

  test("binaryKnn: codes pack 64 centered sign bits into two 32-bit words") {
    // every packed word must fit in 32 unsigned bits (no 1<<63
    // anywhere), and ham must be symmetric and zero on self
    val codes = Sim.binaryKnn(emb, nQuery = 3, k = 5)
      .select("qid", "vec_id", "ham").collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val h = r.getLong(2)
      assert(h >= 0 && h <= 64, s"hamming out of range: $h")
    }
  }

  test("randomProjection: JL ratios are unbiased-ish and strictly positive") {
    val rows = Sim.randomProjection(emb).select("dist2", "proj_dist2", "ratio")
      .collect()
    assert(rows.length == 435, "30 audit vectors -> 435 pairs")
    val ratios = rows.map(_.getDouble(2))
    ratios.foreach(r => assert(r > 0.0, "squared distances are positive"))
    val mean = ratios.sum / ratios.length
    // E[ratio] = 1 for a +-1/sqrt(dOut) sign matrix; with dOut=16 and
    // 435 (correlated) pairs the sample mean concentrates loosely
    assert(mean > 0.6 && mean < 1.4, s"mean distortion ratio $mean")
  }

  test("fellegiSunter: scores reproduce from the output's own counts") {
    val rows = Dedup.fellegiSunter(docs)
      .select("d1", "d2", "dist", "agr_tok", "agr_lang", "agr_src", "score")
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6)))
    assert(rows.nonEmpty)
    // the output carries everything the model needs: recompute m/u
    // from (agr bits, dist<=2 proxy) and check every emitted score
    val nm = rows.count(_._1 <= 2).toDouble
    val nu = rows.length - nm
    def mu(sel: ((Long, Long, Long, Long, Double)) => Long)
    : (Double, Double) = {
      val am = rows.filter(_._1 <= 2).map(sel).sum.toDouble
      val au = rows.filter(_._1 > 2).map(sel).sum.toDouble
      ((am + 1.0) / (nm + 2.0), (au + 1.0) / (nu + 2.0))
    }
    val fields: Seq[(((Long, Long, Long, Long, Double)) => Long,
      ((Long, Long, Long, Long, Double)) => Long)] =
      Seq((_._2, _._2), (_._3, _._3), (_._4, _._4))
    def femitD(x: Double): Double =
      if (x.isNaN) Double.NaN
      else if (math.abs(x) >= 1e9) x
      else math.floor(x * 1e6 + 0.5) / 1e6 + 0.0
    rows.foreach { r =>
      val expected = fields.map { case (sel, _) =>
        val (m, u) = mu(sel)
        if (sel(r) == 1) math.log(m / u) else math.log((1.0 - m) / (1.0 - u))
      }.sum
      assert(r._5 == femitD(expected), s"score drift on pair $r")
    }
    // sanity: the proxy-matched class out-scores the rest on average
    val sm = rows.filter(_._1 <= 2).map(_._5)
    val su = rows.filter(_._1 > 2).map(_._5)
    if (sm.nonEmpty && su.nonEmpty)
      assert(sm.sum / sm.length > su.sum / su.length,
        "match class must carry more positive evidence")
  }

  test("adaBoost: reweighting makes round-1's stump exactly uninformative") {
    val out = TextAnalysis.adaBoost(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.length == 2)
    val (_, thr1, pol1, er1, alpha1, _) = out(0)
    assert(er1 < 0.5 && alpha1 > 0.0, "a useful stump has er<0.5, alpha>0")
    // the AdaBoost invariant: under w2 = exp(-a1*y*h1), h1's weighted
    // error is EXACTLY 1/2 — recompute it from the raw points
    val pts = docs.select(col("n_chars").cast("long"),
      when(col("lang") === "en", 1L).otherwise(-1L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val r = math.min(math.max(er1, 1e-10), 1.0 - 1e-10)
    val a1 = 0.5 * math.log((1.0 - r) / r)
    val wErr = pts.map { case (x, y) =>
      val h = if (x <= thr1) pol1 else -pol1
      val w = math.exp(-a1 * (y * h).toDouble)
      (w, if (h != y) w else 0.0)
    }
    val err = wErr.map(_._2).sum / wErr.map(_._1).sum
    assert(math.abs(err - 0.5) < 1e-6,
      s"h1 must be uninformative under w2, got $err")
    // round 2 must pick a DIFFERENT effective stump (thr, pol)
    val (_, thr2, pol2, _, _, _) = out(1)
    assert((thr2, pol2) != (thr1, pol1), "round 2 re-picks h1 only if useless")
  }

  test("facilityLocationSelect: diminishing gains, monotone coverage, distinct picks") {
    val out = Sim.facilityLocationSelect(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 3)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // submodularity: marginal gains are non-increasing round over round
    assert(out(0)._3 >= out(1)._3 && out(1)._3 >= out(2)._3,
      s"gains must diminish: ${out.map(_._3).mkString(",")}")
    // coverage Σ_u max sim is monotone non-decreasing and grows by
    // exactly the (unrounded) gain — check the rounded relation loosely
    assert(out(0)._4 <= out(1)._4 + 1e-6 && out(1)._4 <= out(2)._4 + 1e-6)
    assert(math.abs(out(1)._4 - out(0)._4 - out(1)._3) < 1e-4,
      "round-2 coverage delta must equal round-2 gain")
    // the anti-join: three distinct exemplars
    assert(out.map(_._2).distinct.length == 3)
  }

  test("miFeatureRank: MI non-negative, bounded by H(y), constant feature = 0") {
    val out = TextAnalysis.miFeatureRank(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 4)
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L), "rank is 1..4")
    out.foreach { case (_, f, nl, mi) =>
      assert(mi >= 0.0, s"MI($f) must be non-negative")
      assert(nl >= 1)
      if (nl == 1) assert(mi == 0.0, s"constant feature $f carries zero MI")
    }
    // information-theoretic ceiling: MI(X;Y) <= H(Y)
    val n = docs.count().toDouble
    val nEn = docs.where(col("lang") === "en").count().toDouble
    val hY = -Seq(nEn / n, 1.0 - nEn / n).filter(_ > 0)
      .map(p => p * math.log(p)).sum
    out.foreach { case (_, f, _, mi) =>
      assert(mi <= hY + 1e-9, s"MI($f)=$mi must not exceed H(y)=$hY")
    }
    // ranks follow the rounded MI descending
    val sorted = out.sortBy(_._1).map(_._4)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
  }

  test("leakageSafeSplit: components atomic, audit zero, census conserves") {
    val out = Curation.leakageSafeSplit(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    out.foreach { case (_, _, _, _, sp) =>
      assert(sp == 0L, "near-dup pairs must never straddle splits")
    }
    assert(out.map(_._2).sum == docs.count(), "every doc lands in one split")
    // independent atomicity check: recompute components and assert each
    // lands wholly inside one split of the doc-level re-derivation
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1)
    val comp = Dedup.connectedComponents(pairs)
    assert(out.map(_._4).sum == comp.count(), "n_dup_docs = docs in components")
    val perComp = comp
      .withColumn("split", Pack.splitOf(col("component")))
      .groupBy("component")
      .agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1).count()
    assert(perComp == 0L, "a component maps to exactly one split")
  }

  test("clusterEval: pair stats match brute force, metric formulas reproduce") {
    val r = Sim.clusterEval(emb).collect().head
    val asg = Sim.ivfAssign(emb, nlist = 16).select("vec_id", "cid")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .collect().map(x => (x.getLong(1), x.getInt(2)))
    // brute-force pair counting over the collected assignment
    var tp = 0L; var sameC = 0L; var sameL = 0L
    for (i <- asg.indices; j <- (i + 1) until asg.length) {
      val c = asg(i)._1 == asg(j)._1; val l = asg(i)._2 == asg(j)._2
      if (c) sameC += 1; if (l) sameL += 1; if (c && l) tp += 1
    }
    assert(r.getAs[Long]("tp") == tp)
    assert(r.getAs[Long]("same_cluster") == sameC)
    assert(r.getAs[Long]("same_label") == sameL)
    assert(r.getAs[Long]("n") == asg.length.toLong)
    val allp = asg.length.toLong * (asg.length - 1) / 2
    assert(math.abs(r.getAs[Double]("pair_precision") - tp.toDouble / sameC) < 1e-6)
    assert(math.abs(r.getAs[Double]("rand_index") -
      (allp - sameC - sameL + 2 * tp).toDouble / allp) < 1e-6)
    val purity = r.getAs[Double]("purity")
    assert(purity >= 1.0 / r.getAs[Long]("n_labels") - 1e-9 && purity <= 1.0)
  }

  test("perplexityFilter: unscored = short docs, census conserves, bounds hold") {
    val out = TextAnalysis.perplexityFilter(docs).collect()
    val shortByLang = docs
      .where(size(expr("filter(split(text, ' '), t -> t <> '')")) < 2)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val allByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cms = out.map(_.getAs[Double]("corpus_mean_ppl")).distinct
    assert(cms.length == 1, "the corpus threshold is one shared value")
    out.foreach { r =>
      val lang = r.getString(0)
      assert(r.getAs[Long]("n_unscored") == shortByLang.getOrElse(lang, 0L),
        s"unscored($lang) must be exactly the <2-token docs")
      assert(r.getAs[Long]("n_scored") + r.getAs[Long]("n_unscored") ==
        allByLang(lang), s"census conserves for $lang")
      assert(r.getAs[Long]("n_keep") <= r.getAs[Long]("n_scored"))
      val (mn, mean, mx) = (r.getAs[Double]("min_ppl"),
        r.getAs[Double]("lang_mean_ppl"), r.getAs[Double]("max_ppl"))
      assert(mn <= mean + 1e-9 && mean <= mx + 1e-9, s"ppl bounds for $lang")
      assert(mn > 1.0, "add-one-smoothed bigram ppl exceeds 1")
    }
  }

  test("knnClassify: predictions match a plain-Scala brute-force vote") {
    val out = Sim.knnClassify(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val all = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2).toLong))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val store = all.filter(_._1 % 5 != 0)
    val probes = all.filter(x => x._1 % 5 == 0 && x._1 < 250)
    assert(out.size == probes.length)
    probes.foreach { case (qid, qv, gold) =>
      val qn = nrm(qv)
      val top = store
        .map { case (id, v, l) => (id, l, dot(v, qv) / (nrm(v) * qn)) }
        .sortBy { case (id, _, s) => (-s, id) }.take(5)
      val (predL, votes) = top.groupBy(_._2).view.mapValues(_.length)
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      val (g, p, v) = out(qid)
      assert(g == gold && p == predL && v == votes.toLong,
        s"vote drift at qid=$qid: got ($g,$p,$v) want ($gold,$predL,$votes)")
    }
  }

  test("rboRankings: monotone prefix overlap, geometric weights, total coheres") {
    val rows = TextAnalysis.rboRankings(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
      .sortBy(_._1)
    assert(rows.length == 21)
    val total = rows.head; val depths = rows.tail
    assert(total._1 == 0L && !total._6.isNaN)
    // prefix overlap is monotone and bounded by depth
    depths.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, "overlap monotone")
    }
    depths.foreach { case (d, ov, ag, w, _, _) =>
      assert(ov <= d)
      assert(math.abs(ag - ov.toDouble / d) < 1e-6)
      assert(w <= 1.0 + 1e-9)
    }
    // geometric weight ladder: w(d+1)/w(d) = p
    depths.sliding(2).foreach { case Array(a, b) =>
      // weights ship femit-rounded to 6 decimals, so the ratio carries
      // up to ~1e-5 of rounding noise at the small-weight tail
      assert(math.abs(b._4 / a._4 - 0.9) < 1e-4, "weight ratio must be p")
    }
    // the total row reproduces from the per-depth contributions
    val s = depths.map(_._5).sum
    assert(math.abs(total._6 - 0.1 * s) < 1e-4,
      s"rbo ${total._6} vs recomputed ${0.1 * s}")
    assert(total._2 == depths.map(_._2).max, "total overlap = |A∩B| at k")
  }

  test("jmInterpolation: rank tracks rounded ppl, mixture stays proper") {
    val out = TextAnalysis.jmInterpolation(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.length == 9)
    assert(out.map(_._1).toSeq == (1 to 9).map(_ / 10.0))
    assert(out.map(_._2).distinct.length == 1,
      "every lambda scores the same held-out bigrams")
    assert(out.map(_._5).sorted.toSeq == (1L to 9L))
    out.foreach { case (_, _, avg, ppl, _) =>
      assert(avg < 0.0 && ppl > 1.0)
      // ppl = exp(-avg) up to femit rounding on both sides
      assert(math.abs(ppl - math.exp(-avg)) / ppl < 1e-4)
    }
    // the argmin rank points at the minimal rounded perplexity
    val best = out.minBy(r => (r._4, r._1))
    assert(best._5 == 1L, s"rank-1 lambda must minimize ppl, got $best")
  }

  test("mmdDrift: kernel means match brute force; V-statistic is non-negative") {
    val r = Sim.mmdDrift(emb).collect().head
    val all = emb.where(col("vec_id") < 400)
      .select("vec_id", "embedding").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    val xs = all.filter(_._1 % 2 == 0).map(_._2)
    val ys = all.filter(_._1 % 2 == 1).map(_._2)
    def sq(a: Array[Double]) = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }; s }
    def dt(a: Array[Double], b: Array[Double]) = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s }
    def km(as: Array[Array[Double]], bs: Array[Array[Double]]) = {
      val ks = for (a <- as; b <- bs)
        yield math.exp(-0.015625 * (sq(a) + sq(b) - 2.0 * dt(a, b)))
      ks.sum / ks.length
    }
    assert(r.getAs[Long]("n_xx") == xs.length.toLong * xs.length)
    assert(math.abs(r.getAs[Double]("mean_kxx") - km(xs, xs)) < 1e-5)
    assert(math.abs(r.getAs[Double]("mean_kyy") - km(ys, ys)) < 1e-5)
    assert(math.abs(r.getAs[Double]("mean_kxy") - km(xs, ys)) < 1e-5)
    // the biased estimator is a squared RKHS norm: never negative
    assert(r.getAs[Double]("mmd2") >= -1e-9)
    Seq("mean_kxx", "mean_kyy", "mean_kxy").foreach { c =>
      val m = r.getAs[Double](c); assert(m > 0.0 && m <= 1.0)
    }
  }

  test("rakeKeyphrases: phrases are stopword-free, score >= phrase length") {
    val stops = Set("the", "of", "and", "a", "to", "in", "is", "on",
      "for", "with")
    val out = TextAnalysis.rakeKeyphrases(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 20)
    out.foreach { case (phrase, nWords, freq, score) =>
      val words = phrase.split(" ")
      assert(words.length == nWords, s"n_words mismatch for '$phrase'")
      assert(words.forall(w => !stops.contains(w)),
        s"stopword leaked into '$phrase'")
      assert(freq >= 1L)
      // each member word scores deg/freq >= its own phrase length share
      // >= 1, so the phrase score is at least its word count
      assert(score >= nWords.toDouble - 1e-6,
        s"score $score below length $nWords for '$phrase'")
    }
    // the ranking is by rounded score descending
    val scores = out.map(_._4)
    scores.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
  }

  test("knnOutliers: top row matches brute force; scores descend, bounded") {
    val out = Sim.knnOutliers(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 20)
    out.sliding(2).foreach { case Array(a, b) => assert(a._3 >= b._3) }
    out.foreach { case (_, _, d) => assert(d >= 0.0 && d <= 2.0) }
    // brute-force the winner's 5th-NN distance
    val all = emb.where(col("vec_id") < 400)
      .select("vec_id", "embedding").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    def dt(a: Array[Double], b: Array[Double]) = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s }
    val (wid, wnb, wd) = out.head
    val wv = all.find(_._1 == wid).get._2
    val sims = all.filter(_._1 != wid).map { case (id, v) =>
      (id, dt(v, wv) / (math.sqrt(dt(v, v)) * math.sqrt(dt(wv, wv))))
    }.sortBy { case (id, s) => (-s, id) }
    val (kid, ksim) = sims(4)
    assert(kid == wnb, s"5th neighbor drift: $kid vs $wnb")
    assert(math.abs(wd - (1.0 - ksim)) < 1e-5)
  }

  test("infoNce: losses are non-negative, anchors conserve, pos_sim bounded") {
    val out = Sim.infoNce(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, loss, posSim) =>
      assert(n >= 1L)
      // lse >= spos always (z >= exp(spos - m)) so the loss is >= 0
      assert(loss >= -1e-9, s"InfoNCE loss must be non-negative, got $loss")
      // loss can't exceed ln(N-1) + (max-pos) gap; sanity: below ln(199)+8/tau
      assert(loss < math.log(199.0) + 8.0 / 0.25)
      assert(posSim <= 1.0 + 1e-9 && posSim >= -1.0 - 1e-9)
    }
    // every anchor with a same-label peer is scored exactly once; at
    // 200 samples x 10 labels every anchor has peers
    assert(out.map(_._2).sum ==
      emb.where(col("vec_id") < 200).count())
  }

  test("retrievalEval: metric bounds, probe conservation, mrr >= p@1") {
    val out = Sim.retrievalEval(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.map(_._2).sum == emb.where(col("vec_id") < 200).count())
    out.foreach { case (l, _, mrr, rec, p1) =>
      Seq(mrr, rec, p1).foreach(x => assert(x >= 0.0 && x <= 1.0 + 1e-9))
      // a rank-1 hit contributes RR = 1, any other probe RR >= 0, so
      // the mean RR dominates the rank-1 hit share
      assert(mrr >= p1 - 1e-6, s"mrr $mrr < p@1 $p1 for label $l")
    }
  }

  test("vocabCoverage: monotone curve, head mass matches brute force") {
    val out = TextAnalysis.vocabCoverage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    assert(out.length == 5)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._5 <= b._5 + 1e-9, "coverage monotone")
    }
    out.foreach { case (_, cov, tot, _, c, o) =>
      assert(math.abs(c + o - 1.0) < 1e-5, "coverage + oov = 1")
      assert(cov <= tot)
    }
    // brute-force the 5-token head mass
    val counts = docs
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("t"))
      .groupBy("t").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }
    assert(out.head._2 == counts.take(5).map(_._2).sum,
      "head-5 covered mass must match brute force")
    assert(out.head._3 == counts.map(_._2).sum)
  }

  test("sourceKl: Gibbs non-negativity, one row per source") {
    val out = TextAnalysis.sourceKl(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == docs.select("source").distinct().count())
    out.foreach { case (s, n, kl) =>
      assert(n > 0L)
      assert(kl >= -1e-9, s"KL($s) must be non-negative (Gibbs), got $kl")
    }
  }

  test("kcenterSelect: radius non-increasing, round-2 pick is the true farthest") {
    val out = Sim.kcenterSelect(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .sortBy(_._1)
    assert(out.length == 5)
    assert(out.map(_._2).distinct.length == 5, "centers are distinct")
    val radii = out.tail.map(_._3)
    radii.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-9, "greedy max-min radius must not increase")
    }
    // brute-force round 2: the farthest point from the seed (id 0)
    val all = emb.select("vec_id", "embedding").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    def dt(a: Array[Double], b: Array[Double]) = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s }
    val seed = all.find(_._1 == 0L).get._2
    val far = all.filter(_._1 != 0L).map { case (id, v) =>
      (id, 1.0 - dt(v, seed) / (math.sqrt(dt(v, v)) * math.sqrt(dt(seed, seed))))
    }.map { case (id, d) => (id, math.floor(d * 1e6 + 0.5) / 1e6) }
      .sortBy { case (id, d) => (-d, id) }.head
    assert(out(1)._2 == far._1, s"round-2 center drift: ${out(1)._2} vs $far")
  }

  test("negativeSamplingTable: draws conserve, shares converge, w = cnt^0.75") {
    val out = TextAnalysis.negativeSamplingTable(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(out.map(_._5).sum == 10000L,
      "ranges tile [0, W): every draw lands exactly once")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4, "target shares sum to 1")
    out.foreach { case (t, cnt, w, target, _, emp) =>
      assert(math.abs(w - math.pow(cnt.toDouble, 0.75)) < 1e-4,
        s"weight drift for $t")
      assert(math.abs(emp - target) < 0.01,
        s"draw audit drift for $t: emp $emp vs target $target")
    }
  }

  test("dedupLadder: monotone census, effective-size identity") {
    val out = Dedup.dedupLadder(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(out.length == 4)
    val total = docs.count()
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2, "pairs shrink as the threshold tightens")
      assert(a._5 <= b._5, "effective size grows as the threshold tightens")
    }
    out.foreach { case (_, _, comps, dups, eff, share) =>
      assert(eff == total - (dups - comps), "effective-size identity")
      assert(share <= 1.0 + 1e-9 && share > 0.0)
      assert(comps <= dups, "every component holds >= 1 doc")
    }
    // the loosest rung sees exactly the q18 pair set
    val q18 = Dedup.minhashNearDups(docs, "doc_id", "text",
      k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1).count()
    assert(out.head._2 == q18)
  }

  test("hubnessAudit: moments match a brute-force k-occurrence recount") {
    val r = Sim.hubnessAudit(emb).collect().head
    val all = emb.where(col("vec_id") < 400)
      .select("vec_id", "embedding").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    def dt(a: Array[Double], b: Array[Double]) = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s }
    val norms = all.map { case (id, v) => id -> math.sqrt(dt(v, v)) }.toMap
    val nk = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    all.foreach { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (id, v) => (id, dt(v, qv) / (norms(id) * norms(qid))) }
        .sortBy { case (id, s) => (-s, id) }.take(10)
        .foreach { case (id, _) => nk(id) += 1L }
    }
    val counts = all.map(x => nk(x._1))
    assert(counts.sum == 400L * 10)
    assert(r.getAs[Long]("max_nk") == counts.max)
    assert(r.getAs[Long]("n_antihubs") == counts.count(_ == 0L).toLong)
    assert(r.getAs[Long]("top_hub_nk") == counts.max)
    val m2 = counts.map(c => (c - 10.0) * (c - 10.0)).sum / 400.0
    assert(math.abs(r.getAs[Double]("var_nk") - m2) < 1e-4)
  }

  test("noveltyCurve: every distinct shingle is novel exactly once") {
    val out = TextAnalysis.noveltyCurve(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    val distinctShingles = docs
      .select(explode(graft.functions.TextExprs.shingles("text", 3)).as("g"))
      .distinct().count()
    assert(out.map(_._4).sum == distinctShingles,
      "first-occurrence attribution must cover each shingle exactly once")
    out.foreach { case (_, _, grams, novel, mean) =>
      assert(novel <= grams)
      assert(mean >= 0.0 && mean <= 1.0 + 1e-9)
    }
    // saturation: the first bucket is the most novel, the last is less
    // novel than the first (strict monotonicity is data-dependent)
    assert(out.head._5 >= out.map(_._5).max - 1e-9)
    assert(out.last._5 < out.head._5)
  }

  test("sourceOverlapMatrix: full matrix, symmetric shared counts, ratio identity") {
    val out = Dedup.sourceOverlapMatrix(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val nSrc = docs.select("source").distinct().count()
    assert(out.size == nSrc * (nSrc - 1), "every ordered pair is present")
    out.foreach { case ((a, b), (shared, na, c)) =>
      assert(c >= 0.0 && c <= 1.0 + 1e-9)
      assert(shared <= na)
      assert(math.abs(c - shared.toDouble / na) < 1e-5)
      // the shared count is symmetric; only the denominator differs
      assert(out((b, a))._1 == shared, s"asymmetric shared count for ($a,$b)")
    }
  }

  test("hillTailIndex: k=5 matches brute force, positive alpha") {
    val out = TextAnalysis.hillTailIndex(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(out.length == 4)
    out.foreach { case (_, ls, a) => assert(ls > 0.0 && a > 0.0) }
    // log-ratio mass grows with k (each new term is non-negative and
    // the reference x_(k+1) shrinks)
    out.sliding(2).foreach { case Array(x, y) => assert(x._2 <= y._2 + 1e-9) }
    val counts = docs
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("t"))
      .groupBy("t").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }.map(_._2)
    val ls5 = (0 until 5)
      .map(i => math.log(counts(i).toDouble / counts(5).toDouble)).sum
    assert(math.abs(out.head._2 - ls5) < 1e-4)
    assert(math.abs(out.head._3 - 5.0 / ls5) < 1e-2)
  }

  test("contextLadder: slot conservation, monotone shares") {
    val out = TextAnalysis.contextLadder(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(_._1)
    assert(out.length == 4)
    assert(out.map(_._3).distinct.length == 1, "total token mass is cut-free")
    out.foreach { case (l, n, tot, _, lost, pad, _, _) =>
      // the batch grid n*L splits exactly into kept tokens + padding
      assert(n * l == pad + (tot - lost),
        s"slot conservation fails at max_len=$l")
    }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._7 >= b._7 - 1e-9, "truncation share shrinks with max_len")
      assert(a._8 <= b._8 + 1e-9, "padding share grows with max_len")
    }
  }

  test("anisotropyAudit: identity matches the direct pair mean") {
    val r = Sim.anisotropyAudit(emb).collect().head
    val all = emb.where(col("vec_id") < 400)
      .select("vec_id", "embedding").collect()
      .map(x => x.getSeq[Float](1).map(_.toDouble).toArray)
    def dt(a: Array[Double], b: Array[Double]) = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s }
    val us = all.map { v => val n = math.sqrt(dt(v, v)); v.map(_ / n) }
    var s = 0.0; var np = 0L
    for (i <- us.indices; j <- us.indices if i != j) {
      s += dt(us(i), us(j)); np += 1
    }
    assert(math.abs(r.getAs[Double]("mean_pairwise_cos") - s / np) < 1e-4,
      "the ||sum of units||^2 identity must equal the direct pair mean")
    assert(r.getAs[Double]("mean_dir_mass") >= 0.0 &&
      r.getAs[Double]("mean_dir_mass") <= 1.0)
    assert(r.getAs[Double]("var_concentration") >= 1.0 - 1e-9,
      "max variance can't undercut the mean variance")
  }

  test("tukeyHsd: full pair set, q = diff/se, flag coheres with the critical value") {
    val out = graft.rel.Queries.tukeyHsd(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(out.length == 10, "C(5,2) ordered pairs")
    out.foreach { case (a, b, diff, se, q, sig) =>
      assert(a < b)
      assert(se > 0.0)
      assert(math.abs(q - diff / se) / math.max(q, 1e-9) < 1e-3,
        s"q identity for ($a,$b)")
      assert((q > 3.858) == (sig == 1L), s"flag coherence for ($a,$b)")
    }
  }

  test("temporalPsi: non-negative divergence, reference week excluded") {
    val out = graft.rel.Queries.temporalPsi(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.nonEmpty)
    assert(out.forall(_._1 >= 1L), "week 0 is the reference, never a row")
    out.foreach { case (w, n, psi) =>
      assert(n > 0L)
      // every PSI term (pw-p0)ln(pw/p0) is non-negative (same sign)
      assert(psi >= -1e-9, s"PSI must be non-negative at week $w")
    }
    assert(out.map(_._1) sameElements (1L to out.length), "weeks consecutive")
  }

  test("burstiness: bounded statistic, gap count identity, brute-force replay") {
    val out = graft.rel.Queries.burstiness(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val ev = graft.rel.Queries.events(spark, sf0001)
      .select(col("event_type"), col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.foreach { case (t, nGaps, mu, sd, b) =>
      assert(b > -1.0 && b < 1.0, s"burstiness bounded for $t")
      assert(mu > 0.0 && sd >= 0.0)
      val byUser = ev.filter(_._1 == t).groupBy(_._2)
      val gaps = byUser.values.flatMap { rows =>
        val s = rows.sortBy(r => (r._4, r._3)).map(_._4)
        s.zip(s.tail).map { case (a, c) => (c - a).toDouble / 1e6 }
      }.toArray
      assert(nGaps == gaps.length.toLong, s"gap count for $t")
      val m = gaps.sum / gaps.length
      assert(math.abs(mu - m) / m < 1e-6, s"mean gap drift for $t")
    }
  }

  test("trimmedMeans: brute-force replay of cuts and clamps") {
    val out = graft.rel.Queries.trimmedMeans(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val ev = graft.rel.Queries.events(spark, sf0001)
      .where(col("value").isNotNull)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    out.foreach { case (t, (n, plain, trimmed, winsor)) =>
      val vs = ev.filter(_._1 == t).sortBy(r => (r._3, r._2)).map(_._3)
      assert(n == vs.length.toLong)
      val lo = vs.length / 10; val hi = vs.length - lo
      assert(math.abs(plain - vs.sum / vs.length) < 1e-4)
      val trim = vs.slice(lo, hi)
      assert(math.abs(trimmed - trim.sum / trim.length) < 1e-4,
        s"trimmed drift for $t")
      val (vlo, vhi) = (vs(lo), vs(hi - 1))
      val wv = vs.map(v => math.max(math.min(v, vhi), vlo))
      assert(math.abs(winsor - wv.sum / wv.length) < 1e-4,
        s"winsorized drift for $t")
    }
  }

  test("raking: totals conserve, lang marginals hit the uniform target") {
    val out = graft.rel.Queries.raking(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val n = out.map(_._3).sum.toDouble
    // the final fit preserves the grand total (source marginals sum to n)
    assert(math.abs(out.map(_._4).sum - n) / n < 1e-6,
      "IPF must conserve total mass")
    // each lang's weighted mass is within the emitted gap of n/5
    val gap = out.head._6
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val mass = rows.map(_._4).sum
      // weights and the gap both ship femit-rounded to 6 decimals, so
      // the recomputed mass carries up to ~1e-5 of rounding slack
      assert(math.abs(mass / n - 0.2) <= gap + 1e-5,
        s"lang $lang mass ${mass / n} exceeds the emitted gap $gap")
    }
    out.foreach { case (_, _, c, w, f, _) =>
      assert(w > 0.0 && f > 0.0)
      assert(math.abs(f - w / c) < 1e-4)
    }
    assert(gap < 0.01, "two IPF rounds converge on this contingency")
  }

  test("stampedStore builds once, rebuilds only on fixture change") {
    val d = java.nio.file.Files.createTempDirectory("stamp_spec")
    try {
      val fix = d.resolve("documents.parquet")
      java.nio.file.Files.write(fix, ("A" * 128).getBytes("UTF-8"))
      var builds = 0
      val name = s"stamp_spec_store_${System.nanoTime()}"
      def read() = graft.Scratch.stampedStore(spark, d.toString, name,
        "documents") { builds += 1; Seq((1L, "x")).toDF("id", "v") }
      read(); read()
      assert(builds == 1, "second read must ride the marker cache")
      // same size, different bytes: the content fingerprint must force
      // a rebuild (the q75/q100 regenerated-fixture contract)
      java.nio.file.Files.write(fix, ("A" * 64 + "B" + "A" * 63).getBytes("UTF-8"))
      read()
      assert(builds == 2, "fixture content change must invalidate the store")
      // torn rebuild: a rebuild for fixture B whose job fails after the
      // overwrite has removed the store must not leave A's marker valid
      val b = java.nio.file.Files.createDirectories(d.resolve("b"))
      java.nio.file.Files.write(b.resolve("documents.parquet"), "B".getBytes("UTF-8"))
      val boom = udf { (i: Long) =>
        if (i >= 0) throw new IllegalStateException("build failed"); i }
      intercept[Exception](graft.Scratch.stampedStore(spark, b.toString, name,
        "documents") { builds += 1; spark.range(1).select(boom(col("id")).as("id")) })
      assert(read().as[(Long, String)].collect().toSeq == Seq((1L, "x")),
        "the read after a failed rebuild must rebuild A, not read the torn store")
      assert(builds == 4)
      // catalog-table branch: `present = false` (the table is gone from
      // the session catalog) rebuilds even under a matching marker
      var tableBuilds = 0
      graft.Scratch.stamped(name, d.toString, "documents")(tableBuilds += 1)
      graft.Scratch.stamped(name, d.toString, "documents",
        present = false)(tableBuilds += 1)
      assert(tableBuilds == 1, "only the absent table may force a rebuild")
    } finally {
      java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }
}
