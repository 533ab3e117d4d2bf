package graft.rel

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class RelSpec extends SparkSpec {

  test("entry (driver smoke): rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("HLL sketch union over groups equals one sketch over the whole") {
    import org.apache.spark.sql.functions._
    val tok = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("lang"), explode(split(col("text"), " ", -1)).as("tok"))
      .where(col("tok") =!= "")
    val unioned = tok.groupBy("lang").agg(hll_sketch_agg(col("tok")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val direct = tok.agg(hll_sketch_estimate(hll_sketch_agg(col("tok"))).as("est"))
      .collect().head.getLong(0)
    // the mergeability contract: partial sketches union losslessly
    assert(unioned == direct, s"$unioned vs $direct")
  }

  test("every declared oracle key has a query and every query runs at sf0.001") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet == qs.keySet, "every query has exactly one oracle twin")
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n >= 0, name)
    }
  }

  test("rollup carries group, subtotal and grand-total rows") {
    val rows = Queries.rollupAgg(spark, sf0001).collect()
    val keys = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(keys.contains(("(all)", "(all)")), "grand total")
    assert(keys.exists { case (a, b) => a != "(all)" && b == "(all)" }, "subtotal")
    assert(keys.exists { case (a, b) => a != "(all)" && b != "(all)" }, "leaf groups")
    val grand = rows.find(r => r.getString(0) == "(all)" && r.getString(1) == "(all)").get
    val leaves = rows.filter(r => r.getString(0) != "(all)" && r.getString(1) != "(all)")
    assert(leaves.map(_.getLong(3)).sum == grand.getLong(3), "counts re-aggregate")
  }

  test("sessionize: sessions split exactly at the >= 30 min gap") {
    import spark.implicits._
    val base = 1700000000000000L // µs
    val gap = 1800L * 1000000L
    val events = Seq(
      (1L, 1L, base, 1.0),
      (2L, 1L, base + gap - 1, 1.0),     // diff = gap-1  => same session
      (3L, 1L, base + 2 * gap - 2, 1.0), // diff = gap-1  => still chained
      (4L, 1L, base + 3 * gap - 2, 1.0), // diff = gap    => new session
      (5L, 2L, base, 1.0))
      .toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    // write to parquet then run the production plan over it
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.sessionize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 1L) -> 3L, (1L, 2L) -> 1L, (2L, 1L) -> 1L))
  }

  test("broadcast joins are planned for the dimension tables in q3") {
    val plan = Queries.joinAgg(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("q2 pushes filters into the parquet scan") {
    val plan = Queries.filterProject(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      plan.contains("GreaterThanOrEqual(l_quantity,30.0)"), plan.take(800))
  }

  test("q10 plans TakeOrderedAndProject (no full global sort)") {
    val plan = Queries.topkOrders(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("q166 AUC equals the direct pairwise comparison probability") {
    // Brute-force P(score_pos > score_neg) + 0.5*P(=) over all
    // pos×neg pairs — the definition the rank-sum identity shortcuts.
    val rows = Queries.events(spark, sf0001)
      .select(col("value"), (col("event_type") === "purchase").cast("int"))
      .collect().map(r => (r.getDouble(0), r.getInt(1)))
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val expect = wins / (pos.length.toDouble * neg.length.toDouble)
    val got = Queries.rocAuc(spark, sf0001).collect()(0)
    assert(got.getLong(0) == pos.length && got.getLong(1) == neg.length)
    assert(math.abs(got.getDouble(2) - expect) < 1e-6,
      s"auc ${got.getDouble(2)} vs brute $expect")
  }

  test("q170 CUSUM closed form equals the sequential max(0, S+d) fold") {
    // Rebuild the same per-(type, day) integer series and fold it the
    // textbook way; the window closed form must land on the same
    // max_s / n_alarms / first_alarm_day.
    val daily = Queries.events(spark, sf0001)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        round(col("value") * 1000000).cast("long").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).map { case (t, rows) =>
      val xs = rows.sortBy(_._2)
      val k = xs.map(_._3).sum / xs.length
      val h = 4L * (xs.map(x => math.abs(x._3 - k)).sum / xs.length)
      var s = 0L; var maxS = 0L; var nAl = 0L; var first = -1L
      for ((_, day, x) <- xs) {
        s = math.max(0L, s + (x - k))
        maxS = math.max(maxS, s)
        if (s > h) { nAl += 1; if (first < 0) first = day }
      }
      t -> ((maxS, nAl, first))
    }
    val got = Queries.cusum(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expect, s"got $got vs fold $expect")
  }

  test("q168 skyline equals brute-force dominance filtering") {
    val pts = spark.read.parquet(s"$sf0001/part.parquet")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = pts.filter { case (_, c, z) =>
      !pts.exists { case (_, c2, z2) =>
        c2 <= c && z2 >= z && (c2 < c || z2 > z) }
    }.map(_._1).toSet
    val got = Queries.skyline(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(got == brute, s"got $got vs brute $brute")
  }

  test("q201 Theil-Sen equals the plain-Scala median of pairwise slopes") {
    val daily = Queries.events(spark, sf0001)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val expect = daily.map { case (t, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield (pts(j)._2 - pts(i)._2).toDouble / (pts(j)._1 - pts(i)._1))
        .sorted
      val m = slopes.length
      t -> ((slopes((m - 1) / 2) + slopes(m / 2)) / 2.0)
    }
    val got = Queries.theilSen(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    expect.foreach { case (t, s) =>
      assert(math.abs(got(t) - s) < 1e-6, s"$t: ${got(t)} vs brute $s")
    }
  }

  test("q199 decile lift equals a plain global ntile over the rows") {
    // Brute-force: materialize every (score, pos) row, sort by the
    // same total order, chop into ntile(10) buckets by the textbook
    // rule, and aggregate — the distributed interval-split must match.
    val rows = Queries.events(spark, sf0001)
      .where(col("value").isNotNull)
      .select(col("value"),
        (col("event_type") === "purchase").cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy { case (s, p) => (-s, p) }
    val n = rows.length
    val (q, r) = (n / 10, n % 10)
    val sizes = (1 to 10).map(d => q + (if (d <= r) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    val expect = (1 to 10).map { d =>
      val slice = rows.slice(offsets(d - 1), offsets(d))
      (d.toLong, slice.length.toLong, slice.map(_._2).sum)
    }
    val got = Queries.decileLift(spark, sf0001).collect()
      .map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2)))
    assert(got.toSeq == expect, s"got ${got.toSeq} vs brute $expect")
  }

  test("q209 weighted median equals the plain-Scala order statistic") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = li.groupBy(_._1).map { case (f, rs) =>
      val sorted = rs.map(x => (x._2, x._3)).sortBy(_._1)
      val total = sorted.map(_._2).sum
      var cum = 0L
      val med = sorted.find { case (_, w) => cum += w; 2 * cum >= total }.get._1
      f -> (total, med / 100.0)
    }
    val got = Queries.weightedMedian(spark, sf0001).collect()
      .map(r2 => r2.getString(0) -> ((r2.getLong(1), r2.getDouble(2)))).toMap
    assert(got == expect, s"got $got vs brute $expect")
  }

  test("q212 drawdown equals the plain-Scala running-peak fold") {
    val daily = Queries.events(spark, sf0001)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(sum(round(col("value") * 1000000).cast("long")).as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val expect = daily.map { case (t, rows) =>
      var peak = Long.MinValue
      var best = (Long.MinValue, Long.MaxValue) // (dd, day), earliest day wins
      rows.sortBy(_._2).foreach { case (_, day, rev) =>
        peak = math.max(peak, rev)
        val dd = peak - rev
        if (dd > best._1) best = (dd, day)
      }
      t -> ((best._1 / 1e6, best._2))
    }
    val got = Queries.drawdown(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    assert(got == expect, s"got $got vs brute $expect")
  }

  // Shared plain-Scala rebuild of the zero-filled daily count matrix
  // (global day bounds — the q272/q273 spine).
  private def dailySeries(): Map[String, Array[Long]] = {
    val daily = Queries.events(spark, sf0001)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mnd = daily.map(_._2).min
    val mxd = daily.map(_._2).max
    daily.groupBy(_._1).map { case (t, rows) =>
      val m = rows.map(r => r._2 -> r._3).toMap
      t -> (mnd to mxd).map(d => m.getOrElse(d, 0L)).toArray
    }
  }

  test("q272 Holt smoothing equals the sequential plain-Scala fold") {
    val expect = dailySeries().map { case (t, ys) =>
      var lvl = ys.head.toDouble; var tr = 0.0
      for (y <- ys.tail) {
        val nl = 0.5 * y + 0.5 * (lvl + tr)
        tr = 0.25 * (nl - lvl) + 0.75 * tr
        lvl = nl
      }
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      t -> ((ys.length, r6(lvl), r6(tr), r6(lvl + tr)))
    }
    val got = Queries.holtWinters(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == expect, s"got $got vs fold $expect")
  }

  test("q273 Kendall tau-b equals the plain-Scala pairwise count") {
    val series = dailySeries()
    val expect = (for {
      (t1, xs) <- series.toSeq; (t2, ys) <- series.toSeq if t1 < t2
    } yield {
      val n = xs.length
      var c = 0L; var d = 0L; var tx = 0L; var ty = 0L; var n0 = 0L
      for (i <- 0 until n; j <- i + 1 until n) {
        n0 += 1
        val s = (xs(i) - xs(j)) * (ys(i) - ys(j))
        if (s > 0) c += 1 else if (s < 0) d += 1
        if (xs(i) == xs(j)) tx += 1
        if (ys(i) == ys(j)) ty += 1
      }
      val tau = (c - d).toDouble / math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (t1, t2) -> ((n0, c, d, r6(tau)))
    }).toMap
    val got = Queries.kendallTau(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == expect, s"got $got vs brute $expect")
  }

  test("q268 sigma-clip script equals the plain-Scala two-round clip") {
    val vus = Queries.events(spark, sf0001)
      .select(round(col("value") * 1000000).cast("long").as("vu"))
      .collect().map(_.getLong(0))
    var lo = -1e308; var hi = 1e308
    for (_ <- 1 to 2) {
      val kept = vus.filter(v => v.toDouble >= lo && v.toDouble <= hi)
      val n = kept.length
      val sx = kept.map(BigInt(_)).sum
      val sxx = kept.map(v => BigInt(v) * BigInt(v)).sum
      val mu = sx.toDouble / n
      val sig = math.sqrt((BigInt(n) * sxx - sx * sx).toDouble / (n.toDouble * (n - 1)))
      lo = mu - 2.0 * sig; hi = mu + 2.0 * sig
    }
    val kept = vus.filter(v => v.toDouble >= lo && v.toDouble <= hi)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Queries.sqlScript(spark, sf0001).collect().head
    assert(got.getLong(0) == kept.length.toLong, got.toString)
    assert(got.getDouble(1) ==
      r6(kept.map(BigInt(_)).sum.toDouble / kept.length / 1e6), got.toString)
    assert(got.getDouble(2) == r6(lo / 1e6) && got.getDouble(3) == r6(hi / 1e6),
      got.toString)
  }

  test("q269 logistic training beats the w=0 model and fits the sign") {
    // At w=(0,0) every p=0.5 and the log-loss is ln 2; three gradient
    // steps on a separable-ish label must strictly improve it. n must
    // equal the full row count (no silent filtering).
    val got = Queries.logisticGd(spark, sf0001).collect().head
    val n = Queries.events(spark, sf0001).count()
    assert(got.getLong(0) == n, got.toString)
    assert(got.getDouble(3) < math.log(2.0), s"no improvement: $got")
    // click is a minority class: the trained intercept must be negative
    assert(got.getDouble(1) < 0.0, s"intercept sign: $got")
  }

  test("q266 recursive CTE equals the plain-Scala bounded walk count") {
    val items = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val ep = items.groupBy(_._1).values.flatMap { basket =>
      val pks = basket.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.length)
        yield (pks(i), pks(j))
    }.groupBy(identity).iterator // iterator: Map.collect over tuples would re-key
      .collect { case (p, occ) if occ.size >= 2 => p }.toSeq
    val adj = (ep ++ ep.map(_.swap)).groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2) }
    val seed = adj.keys.min
    // walk-count DP over levels 0..3 plus min-level distance
    var frontier = Map(seed -> 1L)
    val walks = scala.collection.mutable.Map(seed -> 1L)
    val dist = scala.collection.mutable.Map(seed -> 0)
    for (lvl <- 1 to 3) {
      val next = scala.collection.mutable.Map[Long, Long]()
      for ((u, w) <- frontier; v <- adj.getOrElse(u, Nil))
        next(v) = next.getOrElse(v, 0L) + w
      for ((v, w) <- next) {
        walks(v) = walks.getOrElse(v, 0L) + w
        if (!dist.contains(v)) dist(v) = lvl
      }
      frontier = next.toMap
    }
    val expect = walks.keys.map(k => k -> ((dist(k), walks(k)))).toMap
    val got = Queries.recursiveCte(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got == expect, s"engine=${got.size} brute=${expect.size}")
  }

  test("q289 TPC-H Q21 equals the plain-Scala waiting-supplier count") {
    // fixture timestamps are µs-NTZ: rows carry LocalDateTime
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> ms(r, 1)).toMap
    val lines = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), ms(r, 2)))
    val late = lines.map { case (ok, sk, ship) =>
      (ok, sk, ship > orders(ok) + 90L * 86400000L)
    }
    val byOrder = late.groupBy(_._1)
    val suppNation = {
      val nat = spark.read.parquet(s"$sf0001/nation.parquet")
        .select("n_nationkey", "n_name").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      spark.read.parquet(s"$sf0001/supplier.parquet")
        .select("s_suppkey", "s_name", "s_nationkey").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), nat(r.getInt(2))))).toMap
    }
    val expect = late.filter { case (ok, sk, isLate) =>
      val (_, nName) = suppNation(sk)
      isLate && Set("NATION_3", "NATION_7").contains(nName) && {
        val others = byOrder(ok).filter(_._2 != sk)
        others.nonEmpty && !others.exists(_._3)
      }
    }.groupBy(t => suppNation(t._2)._1).view.mapValues(_.length.toLong).toMap
    val got = Queries.tpchQ21(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect, s"engine=$got brute=$expect")
  }

  test("q287 TPC-H Q17 equals the plain-Scala small-quantity revenue") {
    val parts = spark.read.parquet(s"$sf0001/part.parquet")
      .where(col("p_brand") === "Brand#23" && col("p_type") === "MEDIUM")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val lines = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val byPart = lines.groupBy(_._1)
    val survivors = lines.filter { case (pk, qty, _) =>
      parts.contains(pk) && {
        val g = byPart(pk)
        // same arithmetic route: exact decimal sum -> double, *0.2, /n
        val thr = 0.2 * g.map(t => BigDecimal(t._2)).sum.toDouble / g.length
        qty < thr
      }
    }
    val row = Queries.tpchQ17(spark, sf0001).collect().head
    assert(row.getLong(0) == survivors.length.toLong,
      s"n_lines ${row.getLong(0)} vs ${survivors.length}")
    if (survivors.isEmpty) assert(row.isNullAt(1)) // sf0.001 may select none
    else {
      val expectAvg = survivors.map(t => BigDecimal(t._3)).sum.toDouble / 7.0
      assert(math.abs(row.getDouble(1) - expectAvg) < 1e-5,
        s"avg_yearly ${row.getDouble(1)} vs $expectAvg")
    }
  }

  test("q286 TPC-H Q2: every row sits at its part's EUROPE minimum") {
    val rows = Queries.tpchQ2(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // recompute each part's min EUROPE acctbal independently
    val nat = spark.read.parquet(s"$sf0001/nation.parquet").collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    val eur = spark.read.parquet(s"$sf0001/region.parquet").collect()
      .collectFirst { case r if r.getString(1) == "EUROPE" => r.getInt(0) }.get
    val supp = spark.read.parquet(s"$sf0001/supplier.parquet").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), nat(r.getInt(2))))).toMap
    val ps = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val minByPart = ps.groupBy(_._1).view.mapValues { links =>
      val bals = links.map(_._2).filter(sk => supp(sk)._2 == eur)
        .map(sk => supp(sk)._1)
      if (bals.isEmpty) Double.NaN else bals.min
    }.toMap
    rows.foreach { r =>
      val pk = r.getLong(3)
      assert(r.getDouble(0) == minByPart(pk),
        s"part $pk: ${r.getDouble(0)} vs min ${minByPart(pk)}")
    }
  }

  test("q301 neighborhood function on a hand path graph") {
    import spark.implicits._
    // a -> b -> c -> d: balls grow one hop per round
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = Graph.neighborhoodFunction(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 4L, 1L -> 7L, 2L -> 9L, 3L -> 10L), got.toString)
  }

  test("q301 curve is monotone and bounded by n^2 on the corpus graph") {
    val rows = SparkEntry.queries("q301_neighborhood")(spark, sf0001).collect()
    val pairs = rows.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a <= b })
    val n = rows.head.getLong(2)
    assert(pairs.head == n && pairs.last <= n * n)
  }

  test("q302 GMM EM separates two point masses on a hand fixture") {
    import spark.implicits._
    val xs = (Seq.fill(50)(0.0) ++ Seq.fill(50)(100.0)
      ++ Seq(1.0, 99.0)).toDF("x")
    val r = Queries.gmmEmOn(xs).collect().head
    val (w1, mu1, s1) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val (w2, mu2, s2) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(math.abs(w1 + w2 - 1.0) < 1e-6)
    // init anchors the means at 25/75; three EM rounds must pull each
    // strictly toward its point mass (full convergence takes more
    // rounds — EM's rate here is set by the wide moment-matched init)
    assert(mu1 < 20.0 && mu2 > 80.0, s"means $mu1 / $mu2")
    assert(math.abs(w1 - 0.5) < 0.05 && math.abs(w2 - 0.5) < 0.05)
    assert(s1 >= 0.0 && s2 >= 0.0)
  }

  test("q302 GMM EM on the corpus: proper mixture, components ordered") {
    val r = Queries.gmmEm(spark, sf0001).collect().head
    assert(math.abs(r.getDouble(1) + r.getDouble(4) - 1.0) < 1e-6)
    assert(r.getDouble(2) < r.getDouble(5)) // init anchoring keeps mu1 < mu2
    assert(r.getDouble(1) > 0.0 && r.getDouble(4) > 0.0)
  }

  test("q305/q306 TPC-H Q4 and Q6 equal plain-Scala recomputes") {
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def t(s: String): Long = java.time.LocalDateTime.parse(s)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderdate", "o_orderpriority").collect()
      .map(r => (r.getLong(0), ms(r, 1), r.getString(2)))
    val lines = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_shipdate", "l_discount", "l_quantity",
        "l_extendedprice").collect()
      .map(r => (r.getLong(0), ms(r, 1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    val shipByOrder = lines.groupBy(_._1)
    val expect4 = orders
      .filter(o => o._2 >= t("1997-01-01T00:00:00")
        && o._2 < t("1997-04-01T00:00:00")
        && shipByOrder.getOrElse(o._1, Array.empty[(Long, Long, Double, Double, Double)]).exists(_._2 > o._2))
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val got4 = Queries.tpchQ4(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got4 == expect4, s"$got4 vs $expect4")

    val sel6 = lines.filter(l => l._2 >= t("1997-01-01T00:00:00")
      && l._2 < t("1998-01-01T00:00:00")
      && l._3 >= 0.05 && l._3 <= 0.07 && l._4 < 24.0)
    val got6 = Queries.tpchQ6(spark, sf0001).collect().head
    assert(got6.getLong(0) == sel6.length.toLong)
    if (sel6.nonEmpty) {
      val rev = sel6.map(l => BigDecimal(l._5 * l._3)).sum.toDouble
      assert(math.abs(got6.getDouble(1) - rev) < 1e-4,
        s"${got6.getDouble(1)} vs $rev")
    }
  }

  test("q307/q308 TPC-H Q16 and Q20 invariants") {
    val suppName = spark.read.parquet(s"$sf0001/supplier.parquet")
      .select("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q16 = Queries.tpchQ16(spark, sf0001).collect()
    assert(q16.nonEmpty)
    q16.foreach { r =>
      assert(r.getString(0) != "Brand#1" && !r.getString(1).startsWith("PROMO"))
      assert(Set(1, 5, 9, 15, 20, 25, 30, 35).contains(r.getInt(2)))
      assert(r.getLong(3) >= 1L)
    }
    val q20 = Queries.tpchQ20(spark, sf0001).collect()
    assert(q20.nonEmpty)
    // every returned supplier really moved > 100 units of a PROMO part
    val promoParts = spark.read.parquet(s"$sf0001/part.parquet")
      .where(col("p_type") === "PROMO").select("p_partkey").collect()
      .map(_.getLong(0)).toSet
    val vol = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_suppkey", "l_partkey", "l_quantity").collect()
      .filter(r => promoParts.contains(r.getLong(1)))
      .groupBy(r => (r.getLong(0), r.getLong(1))).view
      .mapValues(_.map(r => BigDecimal(r.getDouble(2))).sum).toMap
    val qualifying = vol.filter(_._2 > 100).keys.map(_._1).toSet
      .map(suppName)
    assert(q20.map(_.getString(0)).toSet == qualifying)
  }

  test("q310-q315 TPC-H Q7/Q8/Q11/Q13/Q15 invariants and recomputes") {
    // Q7: only the two declared nation orientations appear
    val q7 = Queries.tpchQ7(spark, sf0001).collect()
    assert(q7.nonEmpty)
    assert(q7.map(r => (r.getString(0), r.getString(1))).toSet.subsetOf(
      Set(("NATION_12", "NATION_11"), ("NATION_11", "NATION_12"))))
    // Q8: a market share is a proper fraction
    val q8 = Queries.tpchQ8(spark, sf0001).collect()
    assert(q8.nonEmpty)
    q8.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    // Q11: every surviving part really exceeds the threshold
    val q11 = Queries.tpchQ11(spark, sf0001).collect()
    assert(q11.nonEmpty)
    // recompute the full per-part value table independently
    val nat = spark.read.parquet(s"$sf0001/nation.parquet").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val okSupp = spark.read.parquet(s"$sf0001/supplier.parquet").collect()
      .filter(r => Set("NATION_3", "NATION_4").contains(nat(r.getInt(2))))
      .map(_.getLong(0)).toSet
    val vals = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .collect()
      .filter(r => okSupp.contains(r.getLong(1)))
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => BigDecimal(r.getDouble(2) * (1.0 - r.getDouble(3)))).sum)
      .toMap
    val thr = 0.001 * vals.values.sum.toDouble
    val expect11 = vals.filter(_._2.toDouble > thr).keySet
    assert(q11.map(_.getLong(0)).toSet == expect11)
    // Q13: count-of-counts recompute
    val nonUrgent = spark.read.parquet(s"$sf0001/orders.parquet")
      .where(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val custs = spark.read.parquet(s"$sf0001/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val expect13 = custs.map(c => nonUrgent.getOrElse(c, 0L))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got13 = Queries.tpchQ13(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got13 == expect13, s"$got13 vs $expect13")
    // Q15: the winner's revenue is the max over all suppliers
    val q15 = Queries.tpchQ15(spark, sf0001).collect()
    assert(q15.nonEmpty)
    val revs = q15.map(_.getDouble(2))
    assert(revs.forall(_ == revs.max))
  }

  test("q303 normalized dedup collapses every decorated copy") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val nEven = docs.where(col("doc_id") % 2 === 0).count()
    val total = docs.count()
    val rows = SparkEntry.queries("q303_normalized_dedup")(spark, sf0001)
      .collect()
    // the corpus is already canonical (lowercase, no punctuation) with
    // no exact dups, so survivors = originals and removed = the copies
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.map(_.getLong(2)).sum == nEven)
  }

  test("q304 manifest equals the plain-Scala orderless hash fold") {
    import org.apache.spark.unsafe.types.UTF8String
    val lines = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val expect = lines.groupBy(_._1).view.mapValues { rs =>
      val hsum = rs.map { case (_, ok, ln, q) =>
        val canon = s"$ok|$ln|${math.round(q * 100)}"
        graft.functions.Fnv1a32.compute(
          UTF8String.fromString(canon), graft.functions.Fnv1a32.Seed)
      }.sum
      (rs.length.toLong, hsum, rs.map(_._2).min, rs.map(_._2).max)
    }.toMap
    val got = Queries.datasetManifest(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, s"engine=$got")
  }

  test("q296/q298 TPC-H Q12 and Q19 equal plain-Scala recomputes") {
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val prio = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderpriority").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lo = java.time.LocalDateTime.parse("1997-01-01T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val hi = java.time.LocalDateTime.parse("1998-01-01T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val lines = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_shipdate", "l_partkey",
        "l_quantity").collect()
      .map(r => (r.getLong(0), r.getString(1), ms(r, 2), r.getLong(3),
        r.getDouble(4)))
    val hiPrio = Set("1-URGENT", "2-HIGH")
    val expect12 = lines.filter(l => l._3 >= lo && l._3 < hi)
      .groupBy(_._2).view.mapValues { ls =>
        val h = ls.count(l => hiPrio.contains(prio(l._1))).toLong
        (h, ls.length - h)
      }.toMap
    val got12 = Queries.tpchQ12(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got12 == expect12, s"$got12 vs $expect12")

    val parts = spark.read.parquet(s"$sf0001/part.parquet")
      .select("p_partkey", "p_brand", "p_size").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val expect19 = lines.count { l =>
      val (brand, size) = parts(l._4)
      (brand == "Brand#12" && size >= 1 && size <= 15 && l._5 >= 1 && l._5 <= 11) ||
      (brand == "Brand#23" && size >= 1 && size <= 25 && l._5 >= 10 && l._5 <= 20) ||
      (brand == "Brand#3" && size >= 1 && size <= 35 && l._5 >= 20 && l._5 <= 30)
    }.toLong
    val got19 = Queries.tpchQ19(spark, sf0001).collect().head
    assert(got19.getLong(0) == expect19, s"${got19.getLong(0)} vs $expect19")
  }

  test("q294 t-closeness equals the plain-Scala ordered EMD") {
    val cust = spark.read.parquet(s"$sf0001/customer.parquet")
      .select("c_nationkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    def bkt(b: Double): Long =
      math.max(-1L, math.min(9L, math.floor(b / 1000.0).toLong))
    val buckets = (-1L to 9L).toSeq
    val gTot = cust.length
    val gCnt = cust.groupBy(t => bkt(t._3)).view.mapValues(_.length).toMap
    def d12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val expect = cust.groupBy(t => (t._1, t._2)).map { case (key, rows) =>
      val ct = rows.length
      val cc = rows.groupBy(t => bkt(t._3)).view.mapValues(_.length).toMap
      // same lattice: per-bucket share diff truncated to 12 dp,
      // exact prefix sums, |.| accumulated exactly, /10, round 6
      var cum = BigDecimal(0)
      var acc = BigDecimal(0)
      buckets.foreach { b =>
        val dd = cc.getOrElse(b, 0).toDouble / ct -
          gCnt.getOrElse(b, 0).toDouble / gTot
        cum += d12(dd)
        acc += d12(cum.abs.toDouble)
      }
      key -> (acc.toDouble / 10.0)
    }
    val got = Queries.tCloseness(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, emd) =>
      assert(math.abs(emd - expect(k)) < 1e-6, s"$k: $emd vs ${expect(k)}")
    }
  }

  test("q295 mSPRT final checkpoint equals the plain-Scala fold") {
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_type", "event_id", "ts", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), ms(r, 2), r.getLong(3),
        r.getDouble(4)))
    val rows = Queries.msprt(spark, sf0001).collect()
    // p is a probability; the curve is emitted per event_type
    rows.foreach { r =>
      val p = r.getDouble(6)
      assert(p > 0.0 && p <= 1.0, r.toString)
    }
    assert(rows.map(_.getString(0)).toSet == ev.map(_._1).toSet)
    // final checkpoint of each type: arm counts and delta vs the fold
    def d12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    ev.groupBy(_._1).foreach { case (tpe, es) =>
      val ordered = es.sortBy(t => (t._3, t._2))
      val t = ordered.filter(_._4 % 2 == 0)
      val c = ordered.filter(_._4 % 2 != 0)
      val st = t.map(e => d12(e._5)).sum
      val sc = c.map(e => d12(e._5)).sum
      val delta = st.toDouble / t.length - sc.toDouble / c.length
      val last = rows.filter(_.getString(0) == tpe).maxBy(_.getLong(1))
      assert(last.getLong(1) == ordered.length.toLong)
      assert(last.getLong(2) == t.length.toLong, s"$tpe nt")
      assert(last.getLong(3) == c.length.toLong, s"$tpe nc")
      assert(math.abs(last.getDouble(4) - delta) < 1e-5,
        s"$tpe delta ${last.getDouble(4)} vs $delta")
    }
  }

  test("q288 TPC-H Q18 and q290 TPC-H Q22 invariants") {
    val q18 = Queries.tpchQ18(spark, sf0001).collect()
    assert(q18.nonEmpty)
    q18.foreach(r => assert(r.getDouble(5) > 180.0, r.toString))
    // sum_qty recomputed per order from the raw fact
    val qtyByOrder = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => BigDecimal(r.getDouble(1))).sum.toDouble).toMap
    q18.foreach(r => assert(r.getDouble(5) == qtyByOrder(r.getLong(2)), r.toString))

    val q22 = Queries.tpchQ22(spark, sf0001).collect()
    assert(q22.nonEmpty)
    // every counted customer is above the segment-pool average and
    // placed no order on/after 2000-01-01
    val cutoff = java.time.LocalDateTime.parse("2000-01-01T00:00:00")
    val recent = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_custkey", "o_orderdate").collect()
      .filter(r => !r.getAs[java.time.LocalDateTime](1).isBefore(cutoff))
      .map(_.getLong(0)).toSet
    val segs = Set("BUILDING", "AUTOMOBILE", "MACHINERY")
    val cust = spark.read.parquet(s"$sf0001/customer.parquet")
      .select("c_custkey", "c_acctbal", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .filter(t => segs.contains(t._3))
    val pool = cust.filter(_._2 > 0.0)
    val avg = pool.map(t => BigDecimal(t._2)).sum.toDouble / pool.length
    val expect = cust.filter(t => t._2 > avg && !recent.contains(t._1))
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(q22.map(r => r.getString(0) -> r.getLong(1)).toMap == expect)
  }

  test("q318 isotonic fit is monotone, order-preserving, and mean-preserving") {
    val rows = Queries.isotonicCalibration(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val bins = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4)))
    // monotone non-decreasing in bin order (the defining constraint)
    bins.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._5 + 1e-12, s"$a -> $b"); case _ => }
    // PAVA preserves the weighted total: sum(n * iso) == sum(n_pos)
    // (block averages replace block members, so mass is conserved) --
    // compare through BigDecimal on the pre-femit identity within the
    // 1e-6 emission granularity times the bin count
    val fitted = bins.map(t => t._2.toDouble * t._5).sum
    val raw = bins.map(_._3).sum.toDouble
    assert(math.abs(fitted - raw) <= 1e-6 * bins.map(_._2).sum,
      s"fitted=$fitted raw=$raw")
    // a bin whose raw rate already respects both neighbors is unchanged
    // (PAVA only pools violators): check max |iso - raw| is bounded by
    // the largest raw inversion, i.e. the fit is the identity when the
    // raw curve is already monotone
    if (bins.sliding(2).forall { case Array(a, b) => a._4 <= b._4; case _ => true })
      bins.foreach(t => assert(math.abs(t._4 - t._5) < 1e-12))
  }

  test("q319 BH step-up: known p-vector yields the textbook reject set") {
    import spark.implicits._
    // classic example: m=5, alpha=0.05 -> thresholds i/m*alpha =
    // .01 .02 .03 .04 .05; p = (.005, .015, .035, .04, .2):
    // p(1)<=.01 yes, p(2)<=.02 yes, p(3)<=.03 no, p(4)<=.04 yes -> k=4
    val fin = Seq(("a", 0.005), ("b", 0.015), ("c", 0.035),
      ("d", 0.04), ("e", 0.2)).toDF("event_type", "p")
    val out = Queries.bhFdrOn(fin).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.map(_._1).toSeq == Seq("a", "b", "c", "d", "e"))
    assert(out.count(_._4) == 4 && !out.last._4, out.mkString(","))
    // q-values are the running min from the tail: q(i) = min_{j>=i} p_j*m/j
    val qs = out.map(_._3)
    qs.sliding(2).foreach { case Array(x, y) => assert(x <= y + 1e-12); case _ => }
    assert(math.abs(qs(0) - 0.025) < 1e-9) // min(.025,.0375,.0583,.05,.2)
    assert(math.abs(qs(4) - 0.2) < 1e-9)
    // every rejected p is <= its q-value ceiling under BH
    out.filter(_._4).foreach(t => assert(t._3 <= 0.05 + 1e-12, t.toString))
  }

  test("cvRidge: folds partition the corpus; ridge shrinks each fold's slope") {
    val out = Queries.cvRidge(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 5, "five folds")
    val total = Queries.events(spark, sf0001).count()
    out.foreach { case (_, nTrain, nTest, _) =>
      assert(nTrain + nTest == total, "train + test must cover the corpus")
    }
    assert(out.map(_._3).sum == total, "folds are a partition")
    // lambda > 0 strictly widens the 2x2 denominator, so each fold's
    // ridge slope is strictly smaller in magnitude than its OLS twin
    val ols = Queries.cvRidge(spark, sf0001, lambda = 0.0).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    out.foreach { case (f, _, _, b1) =>
      assert(math.abs(b1) <= math.abs(ols(f)) + 1e-12, s"shrinkage at fold $f")
    }
  }

  test("arForecast matches a plain-Scala decimal-lattice reference") {
    import org.apache.spark.sql.functions._
    val daily = Queries.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rows) =>
        t -> rows.sortBy(_._2).map(_._3).toVector
      }
    def dsum(xs: Seq[Double]): Double =
      xs.map(x => BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def femitD(x: Double): Double =
      if (math.abs(x) >= 1e9) x else math.floor(x * 1e6 + 0.5) / 1e6 + 0.0
    val got = Queries.arForecast(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    daily.filter(_._2.length >= 3).foreach { case (t, ys) =>
      val n = ys.length
      val mu = dsum(ys) / n
      val z = ys.map(_ - mu)
      val c0 = dsum(z.map(x => x * x)) / n
      val c1 = dsum(z.zip(z.drop(1)).map { case (a, b) => b * a }) / n
      val c2 = dsum(z.zip(z.drop(2)).map { case (a, b) => b * a }) / n
      val den = c0 * c0 - c1 * c1
      if (den != 0.0) {
        val phi1 = c1 * (c0 - c2) / den
        val phi2 = (c0 * c2 - c1 * c1) / den
        val fc = mu + phi1 * z.last + phi2 * z(n - 2)
        val (g1, g2, gf) = got(t)
        assert(g1 == femitD(phi1) && g2 == femitD(phi2) && gf == femitD(fc),
          s"YW drift for $t: got ($g1,$g2,$gf) want " +
            s"(${femitD(phi1)},${femitD(phi2)},${femitD(fc)})")
      }
    }
  }

  test("poissonBootstrap: CI brackets point mean; weight ladder is Poisson(1)") {
    import org.apache.spark.sql.functions._
    val out = Queries.poissonBootstrap(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (pm, lo, hi) = (r.getAs[Double]("point_mean"),
        r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= hi, s"CI order for ${r.getString(0)}")
      assert(lo <= pm && pm <= hi,
        s"point mean outside 95% CI for ${r.getString(0)} ($lo, $pm, $hi)")
      assert(r.getAs[Long]("n_replicates") == 40L)
    }
    // pin the derandomized draw's marginal: over events x replicates,
    // mean(w) ~ 1 and P(w = 0) ~ e^-1 (the Poisson(1) signature)
    val u = graft.functions.HashExprs.fnv1a32(
      "concat(cast(event_id as string), ':', cast(b as string), ':boot')")
      .cast("double") / lit(4294967296.0)
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L).when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L).when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L).otherwise(6L)
    val stats = Queries.events(spark, sf0001)
      .select(col("event_id"), explode(expr("sequence(0, 39)")).as("b"))
      .select(w.as("w"))
      .agg(avg(col("w")).as("mw"),
        avg(when(col("w") === 0, 1.0).otherwise(0.0)).as("p0"))
      .collect().head
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.02,
      s"E[w] must be ~1, got ${stats.getDouble(0)}")
    assert(math.abs(stats.getDouble(1) - math.exp(-1.0)) < 0.01,
      s"P(w=0) must be ~e^-1, got ${stats.getDouble(1)}")
  }

  test("snipsOffPolicy: estimators match a plain-Scala recompute") {
    import org.apache.spark.sql.functions._
    val out = Queries.snipsOffPolicy(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val log = Queries.events(spark, sf0001)
      .where(col("value").isNotNull)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val nUa = log.groupBy(e => (e._1, e._2)).view.mapValues(_.length).toMap
    val nU = log.groupBy(_._1).view.mapValues(_.length).toMap
    val n = log.length
    out.foreach { case (target, (nm, ips, snips, direct)) =>
      val m = log.filter(_._2 == target)
      assert(nm == m.length.toLong)
      val w = m.map { case (u, a, _) => nU(u).toDouble / nUa((u, a)) }
      val wv = m.zip(w).map { case ((_, _, v), wi) => wi * v }
      assert(math.abs(ips - wv.sum / n) < 1e-4, s"ips drift for $target")
      assert(math.abs(snips - wv.sum / w.sum) < 1e-4, s"snips drift for $target")
      assert(math.abs(direct - m.map(_._3).sum / m.length) < 1e-4)
      // when every user logs every action, Σw telescopes to N and
      // IPS must equal SNIPS exactly (the estimator-identity check)
      if (nU.keySet.forall(u => nUa.contains((u, target))))
        assert(ips == snips, s"telescoping identity for $target")
    }
  }

  test("fdAudit: counts match a brute-force recomputation, holds is coherent") {
    val out = Queries.fdAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out.size == 5)
    out.values.foreach { case (nl, np, nv, holds) =>
      assert(np >= nl, "pairs at least one per lhs value")
      assert((nv == 0) == (holds == 1L), "holds <-> zero violating keys")
    }
    // brute-force one violated and one held candidate
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byLang = docs.distinct.groupBy(_._1)
    val (nl, np, nv, _) = out("lang->source")
    assert(nl == byLang.size && np == docs.distinct.length &&
      nv == byLang.count(_._2.length > 1))
    assert(out("doc_id->lang") == ((500L, 500L, 0L, 1L)))
  }
}
