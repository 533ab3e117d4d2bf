package graft.rel

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Graph.pageRank: closed-form fixtures (uniform cycle, hand-computed
  * dangling redistribution), the mass-conservation invariant on the
  * real bigram graph, bitwise agreement of the shared rank loop with
  * the broadcast-scalar formulation on random graphs, and its job
  * budget per round. */
class GraphSpec extends SparkSpec {

  import org.apache.spark.sql.functions._

  private def edgesOf(rows: Seq[(String, String, Long)]) =
    spark.createDataFrame(rows).toDF("src", "dst", "weight")

  test("uniform cycle stays at the uniform distribution") {
    val e = edgesOf(Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L)))
    val r = Graph.pageRank(e, iters = 4, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // 1/3 is a fixpoint: (1-d)/3 + d*(1/3) = 1/3 for every node
    assert(r.values.forall(v => math.abs(v - 1.0 / 3) < 1e-6), r.toString)
  }

  test("dangling mass redistributes (2-node hand computation, 1 round)") {
    val e = edgesOf(Seq(("a", "b", 1L)))
    val r = Graph.pageRank(e, iters = 1, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // r1(a) = .15/2 + .85*(0 + .5/2); r1(b) = .15/2 + .85*(.5 + .5/2)
    assert(math.abs(r("a") - 0.2875) < 1e-9, r.toString)
    assert(math.abs(r("b") - 0.7125) < 1e-9, r.toString)
  }

  test("rank mass is conserved on the real bigram graph") {
    val prs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      .select(explode(expr(
        "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
          "p -> p.dst IS NOT NULL)")).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    val e = prs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
    val ranks = Graph.pageRank(e, iters = 3, damping = 0.85)
    val total = ranks.agg(sum(col("rank"))).collect().head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-3,
      s"dangling redistribution must conserve rank mass, got $total")
    // weighted: a higher-in-degree hub must outrank a leaf
    val n = ranks.count()
    assert(n > 10, s"bigram graph unexpectedly small: $n nodes")
  }

  /** The broadcast-scalar formulation the shared rank loop replaced:
    * N and each round's dangling mass are 1-row aggregates cross-joined
    * back, ranks come from a node join plus a dangling anti-join.
    * `seeds` = None is pageRank, Some is personalizedPageRank; ranks
    * are unrounded. */
  private def refRanks(edges: DataFrame, seeds: Option[DataFrame], iters: Int,
                       damping: Double): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val nc = nodes.agg(count(lit(1)).cast("double").as("n"))
    val outw = e.groupBy("src").agg(sum(col("weight")).as("outw")).localCheckpoint()
    val restart = seeds.map { sd0 =>
      val sd = sd0.select(col("node")).distinct()
      val ns = sd.agg(count(lit(1)).cast("double").as("ns"))
      nodes.join(sd.withColumn("is_seed", lit(true)), Seq("node"), "left")
        .crossJoin(broadcast(ns))
        .select(col("node"),
          when(col("is_seed"), lit(1.0) / col("ns")).otherwise(lit(0.0)).as("restart"))
        .localCheckpoint()
    }
    var ranks = restart match {
      case None => nodes.crossJoin(broadcast(nc))
        .select(col("node"), (lit(1.0) / col("n")).as("rank"))
      case Some(r) => r.select(col("node"), col("restart").as("rank"))
    }
    for (it <- 1 to iters) {
      val sums = e.join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outw, "src")
        .select(col("dst").as("node"),
          (col("rank") * col("weight") / col("outw")).as("term"))
        .groupBy("node").agg(Queries.dsum(col("term")).as("s"))
      val dang = ranks
        .join(outw, ranks("node") === outw("src"), "left_anti")
        .agg(coalesce(Queries.dsum(col("rank")), lit(0.0)).as("dmass"))
      ranks = restart match {
        case None => nodes.join(sums, Seq("node"), "left")
          .crossJoin(broadcast(dang)).crossJoin(broadcast(nc))
          .select(col("node"),
            (lit(1.0 - damping) / col("n")
              + lit(damping)
                * (coalesce(col("s"), lit(0.0)) + col("dmass") / col("n")))
              .as("rank"))
        case Some(r) => r.join(sums, Seq("node"), "left")
          .crossJoin(broadcast(dang))
          .select(col("node"),
            (lit(1.0 - damping) * col("restart")
              + lit(damping)
                * (coalesce(col("s"), lit(0.0)) + col("dmass") * col("restart")))
              .as("rank"))
      }
      if (it < iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  private def rankBits(df: DataFrame): Map[String, Long] =
    df.collect().map(r =>
      r.getString(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap

  test("rank loop is bitwise-equal to the broadcast-scalar formulation (random graphs)") {
    var dangling, isolatedSeeds = 0
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 2 + rnd.nextInt(13)
      val rows = Seq.fill(1 + rnd.nextInt(25))((s"n${rnd.nextInt(nNodes)}",
        s"n${rnd.nextInt(nNodes)}", 1L + rnd.nextInt(5)))
      val used = rows.flatMap(r => Seq(r._1, r._2)).toSet
      // seed ids run past the graph's, so some seeds are isolated
      val seedIds = (0 to nNodes + 1).map(i => s"n$i").filter(_ => rnd.nextBoolean())
      if ((rows.map(_._2).toSet -- rows.map(_._1)).nonEmpty) dangling += 1
      if (seedIds.exists(!used(_))) isolatedSeeds += 1
      val e = edgesOf(rows)
      val seeds = spark.createDataFrame(seedIds.map(Tuple1(_))).toDF("node")
      val iters = 1 + rnd.nextInt(4)
      val d = 0.5 + rnd.nextInt(50) / 100.0
      for (sd <- Seq(None, Some(seeds))) {
        val got = rankBits(Graph.rankRounds("rank", e, sd, iters, d))
        val want = rankBits(refRanks(e, sd, iters, d))
        assert(got == want, s"seed $seed, iters $iters, damping $d, seeds ${sd.map(_ => seedIds)}")
      }
    }
    assert(dangling >= 3 && isolatedSeeds >= 3,
      s"vacuous: $dangling graphs with dangling nodes, $isolatedSeeds with isolated seeds")
  }

  test("pageRank, personalizedPageRank and hits return no rows on an empty edge set") {
    val e = edgesOf(Seq.empty)
    val seeds = spark.createDataFrame(Seq(Tuple1("a"))).toDF("node")
    assert(Graph.pageRank(e, iters = 3, damping = 0.85).collect().isEmpty)
    assert(Graph.personalizedPageRank(e, seeds, iters = 3, damping = 0.85)
      .collect().isEmpty)
    assert(Graph.hits(e, iters = 2).collect().isEmpty)
  }

  test("pageRank: one more round costs at most 3 jobs, and no nested-loop join") {
    val e = edgesOf(Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("a", "c", 1L), ("c", "d", 1L)))
    val sc = spark.sparkContext
    // jobs of the whole operator — build plus the final write
    def jobs(iters: Int): Int = {
      val group = s"graph-spec-pagerank-$iters"
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            n.incrementAndGet()
      }
      sc.addSparkListener(l)
      sc.setJobGroup(group, "pageRank job budget")
      try {
        val ranks = Graph.pageRank(e, iters, damping = 0.85)
        ranks.write.format("noop").mode("overwrite").save()
        val plan = ranks.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
        ListenerBusDrain(sc)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(l)
      }
      n.get
    }
    val (j3, j4) = (jobs(3), jobs(4))
    assert(j4 > j3 && j4 - j3 <= 3, s"iters 3: $j3 jobs, iters 4: $j4 jobs")
  }

  test("triangles: hand fixture — K4 plus a pendant edge") {
    // K4 on a,b,c,d (4 triangles, 3 per node); e pendant off d (0)
    val e = edgesOf(Seq(("a", "b", 1L), ("a", "c", 1L), ("a", "d", 1L),
      ("b", "c", 1L), ("b", "d", 1L), ("c", "d", 1L), ("d", "e", 1L),
      ("b", "a", 1L), ("a", "a", 1L))) // reverse dup + self-loop: normalized away
    val got = Graph.triangles(e)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("a") == ((3L, 3L, 1.0)) && got("b") == ((3L, 3L, 1.0))
      && got("c") == ((3L, 3L, 1.0)), got.toString)
    assert(got("d") == ((4L, 3L, 0.5)), got.toString) // 3 of C(4,2)=6 pairs closed
    assert(got("e") == ((1L, 0L, 0.0)), got.toString)
  }

  test("triangles agree with a plain-Scala count on the real bigram graph") {
    val prs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      .select(explode(expr(
        "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
          "p -> p.dst IS NOT NULL)")).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    val got = Graph.triangles(prs)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val und = prs.collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(p => p._1 != p._2)
      .map(p => if (p._1 < p._2) p else p.swap).toSet
    val nbrs = und.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val expect = nbrs.map { case (v, nb) =>
      val tri = nb.toSeq.combinations(2).count { case Seq(u, w) =>
        und.contains(if (u < w) (u, w) else (w, u))
      }
      v -> ((nb.size.toLong, tri.toLong))
    }
    assert(got == expect)
    assert(expect.values.exists(_._2 > 0), "graph has no triangles — vacuous")
  }

  test("kcore equals the plain-Scala peel run to convergence (real co-purchase graph)") {
    import org.apache.spark.sql.functions._
    // the q210 edge build at sf0.001 (probed: fixpoint at round 1,
    // well inside the engine's 10 pinned rounds)
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val bounded = li
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("ok")))
      .where(col("bsize") <= 64).select("ok", "pk")
    val edges = bounded.select(col("ok"), col("pk").as("a"))
      .join(bounded.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      .where(col("cooc") >= 2L)
      .select(col("a").as("src"), col("b").as("dst"))
    val got = Graph.kcore(edges, k = 3, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain-Scala peel until nothing changes
    var und = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var changed = true
    while (changed) {
      val deg = und.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= 3).keySet
      val next = und.filter(p => keep(p._1) && keep(p._2))
      changed = next != und
      und = next
    }
    val expect = und.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    assert(got == expect, s"engine=${got.size} brute=${expect.size}")
    assert(got.nonEmpty && got.values.forall(_ >= 3L))
  }

  test("modularity: hand fixture — two triangles joined by one bridge") {
    // Triangles {a,b,c} and {d,e,f} bridged by c-d, unit weights, with
    // the natural partition. Doubled total 2m = 14; per community:
    // w_in2 = 6, strength = 7 ⇒ q_c = 6/14 − (7/14)² = 0.178571..., Q
    // = 2·q_c = 0.357143 — the textbook value for this graph.
    val e = edgesOf(Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L),
      ("d", "e", 1L), ("e", "f", 1L), ("d", "f", 1L), ("c", "d", 1L)))
    val labels = spark.createDataFrame(Seq(
      ("a", "x"), ("b", "x"), ("c", "x"),
      ("d", "y"), ("e", "y"), ("f", "y"))).toDF("node", "label")
    val got = Graph.modularity(e, labels).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("x") == ((3L, 6L, 7L, 0.178571)), got.toString)
    assert(got("y") == ((3L, 6L, 7L, 0.178571)), got.toString)
    assert(got("__TOTAL__") == ((6L, 12L, 14L, 0.357143)), got.toString)
  }

  test("hits: hand fixture (2 rounds, L1-normalized)") {
    // a→b, a→c, d→b: a is the stronger hub, b the stronger authority.
    // Hand-computed: round 2 auths (b,c) = (5/8, 3/8); hubs (a,d) =
    // (8/13, 5/13).
    val e = edgesOf(Seq(("a", "b", 1L), ("a", "c", 1L), ("d", "b", 1L)))
    val r = Graph.hits(e, iters = 2)
      .collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    def ~=(x: Double, y: Double) = math.abs(x - y) < 1e-6
    assert(~=(r("b")._1, 5.0 / 8) && ~=(r("c")._1, 3.0 / 8), r.toString)
    assert(~=(r("a")._2, 8.0 / 13) && ~=(r("d")._2, 5.0 / 13), r.toString)
    assert(~=(r("a")._1, 0.0) && ~=(r("b")._2, 0.0), r.toString)
    // both vectors L1-normalize to 1
    assert(~=(r.values.map(_._1).sum, 1.0) && ~=(r.values.map(_._2).sum, 1.0))
  }

  test("linkPrediction equals a plain-Scala recompute (real co-purchase graph)") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val bounded = li
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("ok")))
      .where(col("bsize") <= 64).select("ok", "pk")
    val edges = bounded.select(col("ok"), col("pk").as("a"))
      .join(bounded.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      .where(col("cooc") >= 2L)
      .select(col("a").as("src"), col("b").as("dst"))
    val got = Graph.linkPrediction(edges, maxMiddleDeg = 8, topK = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // plain-Scala mirror: capped middles, non-adjacent pairs, same scores
    val und = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deg = und.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size }
    val nbrs = und.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (z, xs) => z -> xs.map(_._2).toSet }
    val cand = scala.collection.mutable.Map
      .empty[(Long, Long), List[Long]].withDefaultValue(Nil)
    for ((z, ns) <- nbrs if deg(z) <= 8; u <- ns; w <- ns if u < w
         if !und((u, w)))
      cand((u, w)) = z :: cand((u, w))
    val expect = cand.map { case ((u, w), zs) =>
      val aa = BigDecimal(zs.map(z => BigDecimal(1.0 / math.log(deg(z).toDouble))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      val jac = zs.size.toDouble / (deg(u) + deg(w) - zs.size).toDouble
      (u, w) -> ((zs.size.toLong,
        aa.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val top = expect.toSeq.sortBy { case ((u, w), (_, aa, _)) => (-aa, u, w) }
      .take(30).toMap
    assert(got == top, s"engine=${got.size} brute=${top.size}\n" +
      s"onlyEngine=${got.toSet -- top.toSet}\nonlyBrute=${top.toSet -- got.toSet}")
    // sf0.001's sparse graph tops out at cn=1; the gate row (sf0.01)
    // carries cn=2 pairs, so the multi-neighbor sum path is value-
    // checked there — here we pin the full capped/anti-joined scoring.
    assert(got.nonEmpty, "vacuous: no candidate pairs")
  }

  test("personalizedPageRank: hand fixture — seeded teleport, 1 round") {
    // a→b seeded at {a}: restart = (1, 0). Round 1: b's inbound is
    // rank0(a)·1/1 = 1, dangling mass = rank0(b) = 0, so
    // r1(a) = 0.15·1 + 0.85·(0 + 0·1) = 0.15 and
    // r1(b) = 0.15·0 + 0.85·(1 + 0·0) = 0.85.
    val e = edgesOf(Seq(("a", "b", 1L)))
    val seeds = spark.createDataFrame(Seq(Tuple1("a"))).toDF("node")
    val r = Graph.personalizedPageRank(e, seeds, iters = 1, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.15) < 1e-9, r.toString)
    assert(math.abs(r("b") - 0.85) < 1e-9, r.toString)
  }

  test("personalizedPageRank with ALL nodes as seeds equals pageRank") {
    // Uniform restart (1/n everywhere) + dangling-to-seeds (dmass/n)
    // is exactly the standard formulation — the two operators must
    // coincide, including on a graph with dangling nodes.
    val e = edgesOf(Seq(("a", "b", 2L), ("b", "c", 1L), ("a", "c", 3L)))
    val nodes = spark.createDataFrame(
      Seq(Tuple1("a"), Tuple1("b"), Tuple1("c"))).toDF("node")
    val ppr = Graph.personalizedPageRank(e, nodes, iters = 3, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val pr = Graph.pageRank(e, iters = 3, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(ppr == pr, s"$ppr vs $pr")
  }

  test("personalizedPageRank conserves mass and favors the seed side") {
    // Two 2-cycles bridged one-way: {a,b} ↔ and {c,d} ↔ with b→c.
    // Seeded at {a}: total mass stays 1 and the seed component holds
    // strictly more rank than the far component.
    val e = edgesOf(Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 1L),
      ("c", "d", 1L), ("d", "c", 1L)))
    val seeds = spark.createDataFrame(Seq(Tuple1("a"))).toDF("node")
    val r = Graph.personalizedPageRank(e, seeds, iters = 4, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-3, r.toString)
    assert(r("a") + r("b") > r("c") + r("d"), r.toString)
  }

  test("lubyMis: independent, maximal, and the greedy MIS in priority order") {
    val mis = Queries.copurchaseMis(spark, sf0001)
    val m = mis.collect().map(_.getLong(0)).toSet
    assert(m.nonEmpty)
    // the same undirected edge set the operator peeled
    val e = Queries.copurchaseEdges(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independence: no edge inside the MIS
    assert(!e.exists { case (a, b) => m(a) && m(b) })
    // maximality: every non-member has a member neighbor
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSet
    val nbrs = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    assert(nodes.forall(n => m(n) || nbrs(n).exists(m)))
    // greedy-in-priority-order: replaying the sequential greedy over
    // (p, node) order yields the identical set (the fixed-priority
    // parallel schedule's defining property)
    def prio(n: Long) = (n * 2654435761L) % 1048576L
    val greedy = scala.collection.mutable.Set[Long]()
    nodes.toSeq.sortBy(n => (prio(n), n)).foreach { n =>
      if (!nbrs(n).exists(greedy)) greedy += n
    }
    assert(greedy.toSet == m)
  }

  test("ktrussPeel: curve nonincreasing, fixpoint reached, survivors supported") {
    val curve = Queries.copurchaseKtruss(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(curve.length == 11)
    curve.sliding(2).foreach { case Array(a, b) => assert(b._2 <= a._2) }
    // fixed rounds are pinned PAST the fixpoint: the tail is flat
    assert(curve(9)._2 == curve(10)._2,
      s"peel not converged within pinned rounds: ${curve.mkString(",")}")
  }
}
