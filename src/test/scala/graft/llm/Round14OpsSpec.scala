package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property pins for the r14 operator batch (q443–q445 + the
  * nn_graph_store refactor) — independent plain-Scala references and
  * defining invariants, not fixture values. */
class Round14OpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  // ---- plain-Scala unigram-LM reference (both hard-EM rounds) ----

  /** Viterbi DP matching [[TextAnalysis.viterbiSegment]]'s fold rules:
    * candidates ascending j, strict greater (ties keep the smaller j),
    * OOV spans skipped, an unscorable accumulator yields.
    * `laterWinsTie` flips only the tie rule, to tell whether a tie
    * decided a word's segmentation. */
  private def viterbiRef(word: String, lp: Map[String, Double],
                         maxPiece: Int, laterWinsTie: Boolean = false)
      : Option[(Double, List[String])] = {
    val n = word.length
    val dp = Array.fill[Option[(Double, List[String])]](n + 1)(None)
    dp(0) = Some((0.0, Nil))
    for (i <- 1 to n) {
      for (j <- math.max(0, i - maxPiece) until i) {
        val piece = word.substring(j, i)
        (dp(j), lp.get(piece)) match {
          case (Some((s, segs)), Some(p)) =>
            val cand = (s + p, segs :+ piece)
            dp(i) match {
              case Some((best, _))
                  if cand._1 > best || (laterWinsTie && cand._1 == best) =>
                dp(i) = Some(cand)
              case None => dp(i) = Some(cand)
              case _ => ()
            }
          case _ => ()
        }
      }
    }
    dp(n)
  }

  private def hardEmRef(words: Map[String, Long], maxPiece: Int,
                        pruneShare: Double) = {
    // round-1 vocab: all substrings weighted by word frequency
    val cnt1 = scala.collection.mutable.Map[String, Long]()
    words.foreach { case (w, f) =>
      for (i <- 1 to w.length; j <- math.max(0, i - maxPiece) until i)
        cnt1.updateWith(w.substring(j, i))(c => Some(c.getOrElse(0L) + f))
    }
    val tot1 = cnt1.values.sum
    val lp1 = cnt1.map { case (p, c) =>
      p -> (math.log(c.toDouble) - math.log(tot1.toDouble)) }.toMap
    val seg1 = words.map { case (w, f) =>
      w -> viterbiRef(w, lp1, maxPiece).get._2 }
    // M-step counts + single-char coverage floor
    val cnt2 = scala.collection.mutable.Map[String, Long]()
    words.foreach { case (w, f) =>
      seg1(w).foreach(p => cnt2.updateWith(p)(c => Some(c.getOrElse(0L) + f))) }
    cnt1.keys.filter(_.length == 1).foreach(p =>
      if (!cnt2.contains(p)) cnt2(p) = 1L)
    // bottom-share multi-char prune by (cnt2, piece)
    val multi = cnt2.toSeq.filter(_._1.length >= 2).sortBy(e => (e._2, e._1))
    val nPrune = math.floor(multi.size * pruneShare).toInt
    val kept = cnt2.toMap -- multi.take(nPrune).map(_._1)
    val tot2 = kept.values.sum
    val lp2 = kept.map { case (p, c) =>
      p -> (math.log(c.toDouble) - math.log(tot2.toDouble)) }.toMap
    val seg2 = words.map { case (w, f) =>
      w -> viterbiRef(w, lp2, maxPiece).get }
    (cnt1.toMap, seg1, kept, seg2)
  }

  test("q443 hard-EM round matches the plain-Scala reference end to end") {
    // crafted so re-estimation prunes real pieces and re-segments:
    // frequent words keep their whole-word pieces, rare multi-char
    // pieces fall below the prune line
    val lines = Seq("aba aba aba cab cab abacab dd dd ddd",
      "aba cab dd x yz yz")
    val df = lines.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.unigramHardEm(df).collect()
      .map(r => r.getAs[String]("word") ->
        ((r.getAs[String]("seg_r1"), r.getAs[String]("seg_r2"),
          r.getAs[Long]("np_r2"), r.getAs[Double]("viterbi_logp_r2"),
          r.getAs[Long]("n_vocab_r1"), r.getAs[Long]("n_vocab_r2")))).toMap
    val words = lines.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
      .filter(_._1.length <= 8)
    val (cnt1, seg1, kept, seg2) = hardEmRef(words, 4, 0.2)
    assert(got.keySet == words.keySet)
    words.keys.foreach { w =>
      assert(got(w)._1 == seg1(w).mkString(" "), s"$w round-1")
      assert(got(w)._2 == seg2(w)._2.mkString(" "), s"$w round-2")
      assert(got(w)._3 == seg2(w)._2.size.toLong, s"$w np_r2")
      assert(math.abs(got(w)._4 - seg2(w)._1) < 1e-6, s"$w logp")
      assert(got(w)._5 == cnt1.size.toLong && got(w)._6 == kept.size.toLong)
    }
    // the fixture must actually exercise the prune (vocab shrank past
    // the hard-count collapse) and a re-segmentation
    assert(kept.size < cnt1.size)
    assert(words.keys.exists(w => seg1(w).mkString(" ") != seg2(w)._2.mkString(" ")),
      "fixture never re-segmented — weak test")
  }

  /** R-round generalization of [[hardEmRef]] mirroring
    * [[TextAnalysis.unigramEmRounds]]: R M-step+prune rounds, R+1
    * segmentations, per-round vocab sizes and changed-word counts. */
  private def emRoundsRef(words: Map[String, Long], maxPiece: Int,
                          pruneShare: Double, rounds: Int) = {
    val cnt1 = scala.collection.mutable.Map[String, Long]()
    words.foreach { case (w, f) =>
      for (i <- 1 to w.length; j <- math.max(0, i - maxPiece) until i)
        cnt1.updateWith(w.substring(j, i))(c => Some(c.getOrElse(0L) + f))
    }
    val singles = cnt1.keys.filter(_.length == 1).toSet
    def lpOf(cnt: Map[String, Long]) = {
      val tot = cnt.values.sum
      cnt.map { case (p, c) =>
        p -> (math.log(c.toDouble) - math.log(tot.toDouble)) }
    }
    var lp = lpOf(cnt1.toMap)
    var segs = List.empty[Map[String, (Double, List[String])]]
    var vocabSizes = List(cnt1.size)
    var nChanged = List.empty[Int]
    for (r <- 1 to rounds + 1) {
      val seg = words.map { case (w, _) =>
        w -> viterbiRef(w, lp, maxPiece).get }
      if (segs.nonEmpty)
        nChanged = nChanged :+
          words.keys.count(w => segs.last(w)._2 != seg(w)._2)
      segs = segs :+ seg
      if (r <= rounds) {
        val cnt2 = scala.collection.mutable.Map[String, Long]()
        words.foreach { case (w, f) =>
          seg(w)._2.foreach(p =>
            cnt2.updateWith(p)(c => Some(c.getOrElse(0L) + f))) }
        singles.foreach(p => if (!cnt2.contains(p)) cnt2(p) = 1L)
        val multi = cnt2.toSeq.filter(_._1.length >= 2)
          .sortBy(e => (e._2, e._1))
        val nPrune = math.floor(multi.size * pruneShare).toInt
        val kept = cnt2.toMap -- multi.take(nPrune).map(_._1)
        vocabSizes = vocabSizes :+ kept.size
        lp = lpOf(kept)
      }
    }
    (segs, vocabSizes, nChanged)
  }

  test("q449 two EM rounds match the plain-Scala reference incl. convergence census (r15)") {
    val lines = Seq("aba aba aba cab cab abacab dd dd ddd",
      "aba cab dd x yz yz", "cabcab abab dddd yzyz")
    val df = lines.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.unigramEmRounds(df, rounds = 2).collect()
      .map(r => r.getAs[String]("word") -> r).toMap
    val words = lines.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
      .filter(_._1.length <= 8)
    val (segs, vocabSizes, nChanged) = emRoundsRef(words, 4, 0.2, 2)
    assert(got.keySet == words.keySet)
    words.keys.foreach { w =>
      (1 to 3).foreach { r =>
        assert(got(w).getAs[String](s"seg_r$r")
          == segs(r - 1)(w)._2.mkString(" "), s"$w seg_r$r")
        assert(got(w).getAs[Long](s"np_r$r")
          == segs(r - 1)(w)._2.size.toLong, s"$w np_r$r")
        assert(got(w).getAs[Long](s"n_vocab_r$r")
          == vocabSizes(r - 1).toLong, s"n_vocab_r$r")
      }
      (2 to 3).foreach { r =>
        assert(got(w).getAs[Boolean](s"changed_r$r")
          == (segs(r - 2)(w)._2 != segs(r - 1)(w)._2), s"$w changed_r$r")
        assert(got(w).getAs[Long](s"n_changed_r$r")
          == nChanged(r - 2).toLong, s"n_changed_r$r")
      }
      assert(math.abs(got(w).getAs[Double]("viterbi_logp_r3")
        - segs(2)(w)._1) < 1e-6, s"$w logp_r3")
    }
    // the fixture must exercise BOTH prune rounds: each shrinks the
    // vocab, and the second round still re-segments some word
    assert(vocabSizes(2) < vocabSizes(1) && vocabSizes(1) < vocabSizes(0))
    assert(nChanged(1) > 0, "round 2 never re-segmented — weak fixture")
    // round 1 of the R-round chain == the single-round q443 operator
    val hard = TextAnalysis.unigramHardEm(df).collect()
      .map(r => r.getAs[String]("word") ->
        ((r.getAs[String]("seg_r1"), r.getAs[String]("seg_r2")))).toMap
    words.keys.foreach { w =>
      assert(hard(w)._1 == got(w).getAs[String]("seg_r1"), s"$w r1 parity")
      assert(hard(w)._2 == got(w).getAs[String]("seg_r2"), s"$w r2 parity")
    }
  }

  test("viterbiSegment: unscorable HEAD candidate yields (the hard-EM OOV fold)") {
    // word "ab": dp2's candidate list is j=0 ('ab') then j=1 ('b').
    // With 'ab' out of vocabulary the head candidate is NaN — the fold
    // must yield to the scorable j=1 path, not keep the NaN.
    val pos = Seq((("ab"), 1L, 1, "a"), (("ab"), 1L, 102, "b"),
        (("ab"), 1L, 2, "ab"))
      .toDF("t", "freq", "k", "piece")
    val lp = Seq(("a", -1.0), ("b", -2.0)).toDF("piece", "lp")
    val out = TextAnalysis.viterbiSegment(pos, lp, 4).collect()
    assert(out.length == 1)
    val fin = out.head.getAs[org.apache.spark.sql.Row]("fin")
    assert(fin.getAs[String]("seg") == "a b")
    assert(math.abs(fin.getAs[Double]("s") - (-3.0)) < 1e-12)
    assert(fin.getAs[Long]("np") == 2L)
  }

  test("viterbiSegment equals viterbiRef on random words and maps (ties, NaN spans)") {
    // log-probs from {-1, -2, -3} make exact ties common; about a fifth
    // of the pieces stay out of the map, so their spans score NaN
    val maxPiece = 4
    var (unsegmentable, tieDecided) = (0, 0)
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(60)(
        Seq.fill(1 + rnd.nextInt(8))("abc"(rnd.nextInt(3))).mkString).distinct
      val spans = for {
        w <- words; i <- 1 to w.length; j <- math.max(0, i - maxPiece) until i
      } yield (w, 1L, j * 100 + i, w.substring(j, i))
      val lp = spans.map(_._4).distinct.filter(_ => rnd.nextInt(5) > 0)
        .map(p => p -> -(1 + rnd.nextInt(3)).toDouble).toMap
      val got = TextAnalysis.viterbiSegment(spans.toDF("t", "freq", "k", "piece"),
          lp.toSeq.toDF("piece", "lp"), maxPiece).collect()
        .map(r => r.getAs[String]("t") -> r.getAs[org.apache.spark.sql.Row]("fin"))
        .toMap
      assert(got.keySet == words.toSet, s"seed $seed word set")
      words.foreach { w =>
        val fin = got(w)
        val s = fin.getAs[Double]("s")
        viterbiRef(w, lp, maxPiece) match {
          case Some((ref, segs)) =>
            assert(java.lang.Double.doubleToRawLongBits(s) ==
              java.lang.Double.doubleToRawLongBits(ref), s"seed $seed $w s")
            assert(fin.getAs[String]("seg") == segs.mkString(" "), s"seed $seed $w seg")
            assert(fin.getAs[Long]("np") == segs.size.toLong, s"seed $seed $w np")
            if (viterbiRef(w, lp, maxPiece, laterWinsTie = true).get._2 != segs)
              tieDecided += 1
          case None =>
            assert(s.isNaN, s"seed $seed $w unsegmentable but s = $s")
            unsegmentable += 1
        }
      }
    }
    assert(unsegmentable > 0, "no word lost every segmentation — weak fixture")
    assert(tieDecided > 0, "no tie decided a segmentation — weak fixture")
  }

  // ---- q444 exact-substring runs ----

  private def exactSubstrRef(texts: Map[Long, String], l: Int) = {
    val toks = texts.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty).toSeq }
    val grams = toks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - l).map(p => (id, p, ts.slice(p, p + l).mkString(" "))) }
    val occ = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val dup = grams.filter(g => occ(g._3) >= 2).map(g => (g._1, g._2))
    toks.map { case (id, ts) =>
      val ps = dup.filter(_._1 == id).map(_._2).sorted
      // islands of consecutive duplicated window starts
      val runs = ps.foldLeft(List[(Int, Int)]()) { (acc, p) =>
        acc match {
          case (s, e) :: rest if p == e + 1 => (s, p) :: rest
          case _ => (p, p) :: acc
        }
      }.reverse.map { case (s, e) => (s, e + l) } // exclusive token end
      // merged interval coverage
      val covered = runs.sortBy(_._1).foldLeft(List[(Int, Int)]()) {
        case ((s0, e0) :: rest, (s, e)) if s <= e0 =>
          (s0, math.max(e0, e)) :: rest
        case (acc, iv) => iv :: acc
      }.map { case (s, e) => e - s }.sum
      id -> ((ts.length, math.max(ts.length - l + 1, 0), ps.size,
        runs.size, runs.map { case (s, e) => e - s }.maxOption.getOrElse(0),
        covered))
    }
  }

  test("q444 exactSubstr matches the brute-force reference incl. overlapping runs") {
    // doc 0 and 1 share 'p q r s t u' (6 tokens = a 3-window run);
    // doc 2's windows at p=0 and p=2 are duplicated (via docs 5/6) with
    // p=1 unique between them, so the two runs' token intervals
    // [0,4) and [2,6) OVERLAP — the interval-merge case; doc 3 is
    // all unique; doc 4 is shorter than the window.
    val texts = Map(
      0L -> "p q r s t u x1 y1 z1",
      1L -> "a1 p q r s t u b1",
      2L -> "aa bb cc dd ee ff",
      3L -> "u1 u2 u3 u4 u5 u6",
      4L -> "s1 s2",
      5L -> "x2 aa bb cc dd y2",
      6L -> "x3 cc dd ee ff y3")
    val df = texts.toSeq.toDF("doc_id", "text")
    val got = Dedup.exactSubstrRuns(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_dup_windows"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("longest_span_tokens"),
          r.getAs[Long]("covered_tokens")))).toMap
    val ref = exactSubstrRef(texts, 4)
    assert(got.keySet == texts.keySet)
    ref.foreach { case (id, (nt, nw, ndw, nr, longest, cov)) =>
      assert(got(id) == ((nt.toLong, nw.toLong, ndw.toLong, nr.toLong,
        longest.toLong, cov.toLong)), s"doc $id: got ${got(id)}")
    }
    // the fixture must exercise the merge: doc 2's island coverage
    // would double-count without interval merging
    val (_, _, ndw2, nr2, _, cov2) = ref(2L)
    assert(nr2 >= 2 && cov2 < ndw2 + 3 * nr2,
      "doc 2 never exercised overlapping-run merge")
    // cross-doc sharing detected exactly
    assert(got(0L)._3 == 3L && got(0L)._5 == 6L, "shared 6-token span")
    assert(got(3L)._3 == 0L && got(4L)._2 == 0L)
  }

  test("exactSubstr composite naming: non-dyadic L matches brute force (r15)") {
    // L=3 (compose(name_2, 1)), L=5 (compose(name_4, 1)) and
    // L=6 (compose(name_4, 2)) all decide EXACTLY the same duplicated
    // windows as literal L-gram enumeration — the composite round's
    // injectivity, pinned against the same reference the dyadic L=4
    // test uses. The fixture's 6-token shared span 'p q r s t u'
    // yields 6-L+1 duplicated windows at each L.
    val texts = Map(
      0L -> "p q r s t u x1 y1 z1",
      1L -> "a1 p q r s t u b1",
      2L -> "aa bb cc dd ee ff",
      3L -> "u1 u2 u3 u4 u5 u6",
      4L -> "s1 s2",
      5L -> "x2 aa bb cc dd y2",
      6L -> "x3 cc dd ee ff y3")
    val df = texts.toSeq.toDF("doc_id", "text")
    Seq(3, 5, 6).foreach { l =>
      val got = Dedup.exactSubstrRuns(df, "doc_id", "text", windowL = l)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_windows"),
            r.getAs[Long]("n_dup_windows"), r.getAs[Long]("n_runs"),
            r.getAs[Long]("longest_span_tokens"),
            r.getAs[Long]("covered_tokens")))).toMap
      val ref = exactSubstrRef(texts, l)
      assert(got.keySet == texts.keySet, s"L=$l")
      ref.foreach { case (id, (nt, nw, ndw, nr, longest, cov)) =>
        assert(got(id) == ((nt.toLong, nw.toLong, ndw.toLong, nr.toLong,
          longest.toLong, cov.toLong)), s"L=$l doc $id: got ${got(id)}")
      }
      // the shared 6-token span must be found at every L <= 6
      assert(got(0L)._3 == (6 - l + 1).toLong, s"L=$l dup windows")
      assert(got(0L)._5 == 6L, s"L=$l longest span")
    }
  }

  test("exactSubstrCut at non-dyadic L matches the brute-force cut (r15)") {
    // 14-token span: long enough that its >= L-1-deep interior is
    // non-empty at L=6 too (a span needs > 2(L-1) tokens to have any
    // token covered ONLY by redundant windows)
    val span = (0 to 13).map(i => s"s$i").mkString(" ")
    val texts = Map(0L -> span, 1L -> s"a1 $span b1",
      2L -> "u1 u2 u3 u4 u5")
    val df = texts.toSeq.toDF("doc_id", "text")
    Seq(3, 6).foreach { l =>
      val got = Dedup.exactSubstrCut(df, "doc_id", "text", windowL = l)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut"),
            r.getAs[String]("clean")))).toMap
      val ref = exactCutRef(texts, l)
      ref.foreach { case (id, (nt, nc, clean)) =>
        assert(got(id) == ((nt.toLong, nc.toLong, clean)),
          s"L=$l doc $id: ${got(id)}")
      }
      assert(got(0L)._2 == 0L && got(0L)._3 == span, s"L=$l canonical kept")
      assert(got(1L)._2 > 0L, s"L=$l interior cut happened")
    }
  }

  private def exactCutRef(texts: Map[Long, String], l: Int) = {
    val toks = texts.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty).toSeq }
    val wins = toks.toSeq.sortBy(_._1).flatMap { case (id, ts) =>
      (0 to ts.length - l).map(p => (id, p, ts.slice(p, p + l).mkString(" "))) }
    val byGram = wins.groupBy(_._3)
    val red = wins.map { case (id, p, g) =>
      val grp = byGram(g).sortBy(w => (w._1, w._2))
      (id, p) -> (grp.size >= 2 && grp.head != ((id, p, g)))
    }.toMap
    toks.map { case (id, ts) =>
      val kept = ts.indices.filterNot { tp =>
        val covering = (math.max(0, tp - l + 1) to
          math.min(tp, ts.length - l)).filter(_ >= 0)
        covering.nonEmpty && covering.forall(p => red((id, p)))
      }
      id -> ((ts.length, (ts.length - kept.length),
        kept.map(ts).mkString(" ")))
    }
  }

  test("q446 exactSubstrCut keeps the canonical span, cuts deep-interior duplicates") {
    // doc 0 is the canonical occurrence (all rank-1 — fully kept);
    // doc 1 embeds the same 10-token span, whose >= L-1-deep interior
    // is covered only by redundant windows and gets cut; doc 2 unique.
    val span = (0 to 9).map(i => s"s$i").mkString(" ")
    val texts = Map(0L -> span, 1L -> s"a1 $span b1",
      2L -> "u1 u2 u3 u4 u5")
    val df = texts.toSeq.toDF("doc_id", "text")
    val got = Dedup.exactSubstrCut(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut"),
          r.getAs[String]("clean")))).toMap
    val ref = exactCutRef(texts, 4)
    ref.foreach { case (id, (nt, nc, clean)) =>
      assert(got(id) == ((nt.toLong, nc.toLong, clean)), s"doc $id: ${got(id)}")
    }
    // qualitative pins: canonical doc untouched, interior cut happened
    assert(got(0L)._2 == 0L && got(0L)._3 == span)
    assert(got(1L)._2 == 4L &&
      got(1L)._3 == "a1 s0 s1 s2 s7 s8 s9 b1", got(1L))
    assert(got(2L)._2 == 0L)
  }

  test("q444 fixture run: duplicated windows exist and shares stay in [0,1]") {
    val rows = Dedup.exactSubstrRuns(docs, "doc_id", "text").collect()
    assert(rows.length == docs.count())
    assert(rows.exists(_.getAs[Long]("n_dup_windows") > 0))
    rows.foreach { r =>
      assert(r.getAs[Long]("covered_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_dup_windows") <= r.getAs[Long]("n_windows"))
      val s = r.getAs[Double]("dup_share")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  // ---- q445 avro round trip ----

  test("q445 Avro OCF round trip is lossless row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("avro-rt").toString
    val in = docs.select("doc_id", "lang", "text").limit(200)
    graft.sources.AvroBlob.writeAvro(in, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    // OCF magic: Obj\x01
    val head = java.nio.file.Files.readAllBytes(files.head.toPath).take(4)
    assert(head.sameElements(Array[Byte]('O', 'b', 'j', 1)))
    val back = graft.sources.AvroBlob.readAvro(spark, dir)
    assert(back.count() == in.count())
    assert(back.exceptAll(in).isEmpty && in.exceptAll(back).isEmpty)
  }

  test("q448 incremental probe == from-scratch batch-vs-history brute force") {
    // history doc 0 holds the 6-token span; batch docs 1 (contaminated)
    // and 3 (clean); store persisted bucketed, then probed
    val texts = Map(
      0L -> "p q r s t u x1 y1 z1",
      1L -> "a1 p q r s t u b1",
      3L -> "u1 u2 u3 u4 u5 u6")
    val df = texts.toSeq.toDF("doc_id", "text")
    val history = df.where($"doc_id" % 2 === 0)
    val batch = df.where($"doc_id" % 2 === 1)
    val store = Dedup.exactSubstrStore(history, "doc_id", "text")
    // r15: the store carries the 128-bit hash pair, never literal grams
    assert(store.columns.sorted.toSeq == Seq("g1", "g2", "n_hist"))
    graft.rel.Layout.writeBucketedBy(store,
      "exact_substr_spec_store", 8, "g1", "g2")
    val got = Dedup.incrementalExactSubstr(batch,
        spark.table("exact_substr_spec_store"), "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_hist_windows"),
          r.getAs[Long]("n_runs"),
          r.getAs[Long]("longest_span_tokens")))).toMap
    // brute force: batch window grams vs the history gram set
    val l = 4
    def grams(t: String) = {
      val ts = t.split(" ").toSeq
      (0 to ts.length - l).map(p => (p, ts.slice(p, p + l).mkString(" ")))
    }
    val hist = texts.filter(_._1 % 2 == 0).values.flatMap(grams(_).map(_._2)).toSet
    texts.filter(_._1 % 2 == 1).foreach { case (id, t) =>
      val hits = grams(t).filter(g => hist(g._2)).map(_._1)
      val runs = hits.foldLeft(List[(Int, Int)]()) { (acc, p) =>
        acc match {
          case (s, e) :: rest if p == e + 1 => (s, p) :: rest
          case _ => (p, p) :: acc
        }
      }
      val expect = ((grams(t).size.toLong, hits.size.toLong,
        runs.size.toLong,
        runs.map { case (s, e) => e + l - s }.maxOption.getOrElse(0).toLong))
      assert(got(id) == expect, s"doc $id: ${got(id)} vs $expect")
    }
    // the fixture exercises both the contaminated and the clean path
    assert(got(1L)._2 == 3L && got(1L)._4 == 6L && got(3L)._2 == 0L)
  }

  test("readAvro fails fast on an empty dir and survives a limit head (r15)") {
    // ADVICE r14: a missing/empty dir must throw, not read as 0 rows
    val empty = java.nio.file.Files.createTempDirectory("avro-empty").toString
    intercept[IllegalArgumentException] {
      graft.sources.AvroBlob.readAvro(spark, empty)
    }
    intercept[IllegalArgumentException] {
      graft.sources.AvroBlob.readAvroEvolved(spark, empty + "/absent")
    }
    val dir = java.nio.file.Files.createTempDirectory("avro-lim").toString
    graft.sources.AvroBlob.writeAvro(
      docs.select("doc_id", "lang", "text").limit(100), dir)
    // a limit head abandons the per-file iterator mid-stream — the
    // task-completion listener closes the reader; rows still correct
    val head = graft.sources.AvroBlob.readAvro(spark, dir).limit(3).collect()
    assert(head.length == 3)
    // the temp-file/rename commit leaves no stale .tmp files behind
    assert(new java.io.File(dir).listFiles()
      .forall(f => !f.getName.endsWith(".tmp")), "stale tmp files")
  }

  test("q447 evolved read resolves defaults and skips the dropped field") {
    val dir = java.nio.file.Files.createTempDirectory("avro-evo").toString
    val in = docs.select("doc_id", "lang", "text").limit(50)
    graft.sources.AvroBlob.writeAvro(in, dir)
    val evo = graft.sources.AvroBlob.readAvroEvolved(spark, dir)
    assert(evo.columns.toSeq == Seq("doc_id", "lang", "quality"))
    val rows = evo.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getAs[Long]("quality") == -1L),
      "reader-schema default not materialized")
    // surviving fields still lossless
    val a = evo.select("doc_id", "lang")
    val b = in.select("doc_id", "lang")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  // ---- nn_graph_store refactor ----

  test("store-fed nnDescent audit == from-scratch audit through a parquet round trip") {
    val frame = Sim.nnDescentStageFrame(emb)
    val dir = java.nio.file.Files.createTempDirectory("nngs").toString
    frame.write.mode("overwrite").parquet(dir)
    val fromStore = Sim.nnDescentAudit(emb,
      spark.read.parquet(dir)).collect()
    val direct = Sim.nnDescent(emb).collect()
    assert(fromStore.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    // zero-padded labels keep string order = round order
    assert(fromStore.map(_.getString(0)).toSeq ==
      Seq("r00_seed", "r01", "r02", "r03"))
    val census = Sim.mutualKnnFromStages(emb, spark.read.parquet(dir))
      .collect()
    assert(census.map(_.toString).toSeq ==
      Sim.mutualKnnClusters(emb).collect().map(_.toString).toSeq)
  }
}
