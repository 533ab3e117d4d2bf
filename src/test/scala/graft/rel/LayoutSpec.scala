package graft.rel

import graft.SparkSpec

class LayoutSpec extends SparkSpec {

  test("bucketed tables join with no exchange") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val customer = spark.read.parquet(s"$sf0001/customer.parquet")
    Layout.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"),
      "orders_b", "custkey", 4)
    Layout.writeBucketed(customer.withColumnRenamed("c_custkey", "custkey"),
      "customer_b", "custkey", 4)
    val joined = Layout.bucketedJoin(spark, "orders_b", "customer_b", "custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    val expected = orders.join(customer,
      orders("o_custkey") === customer("c_custkey")).count()
    assert(joined.count() == expected)
  }

  test("q53 bucketed join+agg plans with no hash exchange") {
    // The declared query: bucketed scan -> SMJ -> agg. The only Exchange
    // allowed is the rangepartitioning for the final presentation sort —
    // join AND aggregation must ride the buckets' HashPartitioning.
    val df = graft.SparkEntry.queries("q53_bucketed_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1200))
    assert(plan.contains("SortMergeJoin"), plan.take(1200))
    val expected = spark.read.parquet(s"$sf0001/orders.parquet")
      .join(spark.read.parquet(s"$sf0001/customer.parquet"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .select("o_custkey").distinct().count()
    assert(df.count() == expected)
  }

  test("bucketed scan feeds a bare aggregation with no exchange") {
    // The layout contract isn't join-only: a groupBy on the bucket key
    // must also ride the scan's HashPartitioning — the daily per-key
    // rollup over a bucketed fact table shuffles nothing.
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    Layout.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"),
      "orders_b_agg", "custkey", 4)
    val agg = spark.table("orders_b_agg").groupBy("custkey")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(agg.count() == orders.select("o_custkey").distinct().count())
  }

  test("mismatched bucket counts reintroduce the exchange (negative contract)") {
    // The exchange-free join is a property of MATCHING layouts, not of
    // bucketing per se: 4-bucket ⋈ 3-bucket cannot align partitions, so
    // the planner must re-shuffle at least one side. Pinning this keeps
    // the positive test honest — if Spark ever silently fell back to
    // plain shuffles for both, the positive assertion would still need
    // to fail somewhere.
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val customer = spark.read.parquet(s"$sf0001/customer.parquet")
    Layout.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"),
      "orders_b4", "custkey", 4)
    Layout.writeBucketed(customer.withColumnRenamed("c_custkey", "custkey"),
      "customer_b3", "custkey", 3)
    val joined = Layout.bucketedJoin(spark, "orders_b4", "customer_b3", "custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning"), plan.take(1200))
    val expected = orders.join(customer,
      orders("o_custkey") === customer("c_custkey")).count()
    assert(joined.count() == expected)
  }

  test("q59 partition-pruned scan lists only the filtered lang directory") {
    val df = graft.SparkEntry.queries("q59_partition_pruning")(spark, sf0001)
    // sparkPlan, not executedPlan: AQE wraps the tree and hides leaves
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString.take(800))
    val scan = scans.head
    assert(scan.toString.contains("PartitionFilters") &&
      scan.toString.contains("lang"), scan.toString.take(800))
    // the pruned listing holds ONE matching directory — other langs'
    // files are never even listed, let alone read
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("q63 compaction rewrites the fragmented directory into 4 even files") {
    graft.SparkEntry.queries("q63_compaction")(spark, sf0001).collect()
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts(graft.Scratch.dir("docs_fragmented")) == 64)
    assert(parts(graft.Scratch.dir("docs_compacted")) == 4)
  }

  test("bloom prune: no false negatives, >=4x pruning on the selective dim") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val dim = spark.read.parquet(s"$sf0001/orders.parquet")
      .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select("o_orderkey")
    val pruned = Layout.bloomPrune(li, "l_orderkey", dim, "o_orderkey")
    // no false negatives: every truly-matching fact row survives the bloom
    val trueMatches = li.join(broadcast(dim),
      li("l_orderkey") === dim("o_orderkey"), "left_semi").count()
    val survivingMatches = pruned.join(broadcast(dim),
      pruned("l_orderkey") === dim("o_orderkey"), "left_semi").count()
    assert(trueMatches > 0 && survivingMatches == trueMatches,
      s"bloom dropped ${trueMatches - survivingMatches} matching rows")
    // pruning power: with ~2^16 bits vs a few hundred keys the false-
    // positive rate is negligible, so the survivor set is close to the
    // true match rate (~7% here); 25% is a generous stability bound
    val total = li.count()
    assert(pruned.count() <= total / 4,
      s"bloom kept ${pruned.count()} of $total rows — no real pruning")
  }

  test("q119 range-sorted layout: row-group stats collapse a time-range scan") {
    import org.apache.spark.sql.functions._
    val ev = Queries.events(spark, sf0001)
    val sorted = graft.Scratch.dir("layoutspec_ts_sorted")
    val unsorted = graft.Scratch.dir("layoutspec_ts_unsorted")
    Layout.writeRangeSorted(ev, sorted, 16, "ts")
    ev.repartition(16).write.mode("overwrite").parquet(unsorted)
    val pred = (col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")) &&
      (col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
    // rows the parquet reader actually PRODUCED: pushed filters prune
    // at row-group granularity, so this measures the min/max skipping
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path).where(pred).select("event_id")
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
    }
    val matching = ev.where(pred).count()
    val s = scanRows(sorted)
    val u = scanRows(unsorted)
    assert(s >= matching, "a skipped row group must never hold a match")
    assert(u == ev.count(), "the unsorted layout reads the whole table")
    assert(s * 3 <= u,
      s"sorted scan produced $s rows vs unsorted $u — expected a collapse")
  }

  test("q126 z-order: BOTH single-dimension scans collapse; one-key sort only its own") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val zdir = graft.Scratch.dir("layoutspec_li_zorder")
    val sdir = graft.Scratch.dir("layoutspec_li_sorted")
    Layout.writeZOrdered(li, zdir, 32, "l_orderkey", "l_partkey")
    Layout.writeRangeSorted(li, sdir, 32, "l_orderkey")
    val total = li.count()
    def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(path).where(pred).select("l_quantity")
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
    }
    // narrow range on each dimension separately (~7-20% selectivity)
    val pOrder = col("l_orderkey").between(1000, 1099)
    val pPart = col("l_partkey").between(100, 139)
    assert(scanRows(zdir, pOrder) * 2 <= total,
      "z-order must skip on the first dimension")
    assert(scanRows(zdir, pPart) * 2 <= total,
      "z-order must skip on the SECOND dimension too")
    // the single-key sort skips its own column but reads everything
    // for the other — the one-copy-serves-both-dims property is what
    // Z-order buys
    assert(scanRows(sdir, pOrder) * 2 <= total)
    assert(scanRows(sdir, pPart) == total,
      "a one-key sort cannot skip on the non-sorted dimension")
    // and the layout is pure physics: identical rows back
    assert(spark.read.parquet(zdir).count() == total)
  }

  test("morton key interleaves bits (hand-computed fixtures)") {
    import org.apache.spark.sql.functions._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL))
    val got = spark.createDataFrame(rows).toDF("a", "b")
      .select(Layout.mortonKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      (0 until 32).foreach { i =>
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    assert(got == rows.map { case (a, b) => ref(a, b) })
  }

  test("salted join returns exactly the plain inner-join rows") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val customer = spark.read.parquet(s"$sf0001/customer.parquet")
    val plain = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = Layout.saltedJoin(orders, customer, "o_custkey", "c_custkey", 8)
      .select("o_orderkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted == plain)
  }

  test("joinSizeEstimate: fully-sampled sides give the exact join size") {
    import spark.implicits._
    // both sides under k=64 distinct keys -> tau = 2^32, p = 1, and
    // the estimate must EQUAL sum(ca*cb) = the exact join size
    val l = Seq(1L, 1L, 2L, 2L, 2L, 3L, 7L).toDF("k")
    val r = Seq(2L, 2L, 3L, 3L, 3L, 4L).toDF("k")
    val row = Layout.joinSizeEstimate(l, "k", r, "k").collect()(0)
    val exact = row.getLong(5)
    assert(exact == 2L * 3 + 1L * 3, "sum of multiplicity products")
    assert(row.getLong(2) == 4294967296L, "tau must be the full range")
    assert(row.getDouble(4) == exact.toDouble, "p=1 estimate is exact")
  }

  test("joinSizeEstimate: sampled estimate lands near the true size") {
    val ev = Queries.events(spark, "/root/testdata/sf0.01")
    val ord = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    val row = Layout.joinSizeEstimate(ev, "user_id", ord, "o_custkey")
      .collect()(0)
    val exact = row.getLong(5).toDouble
    val est = row.getDouble(4)
    assert(exact > 0)
    assert(est > exact / 3 && est < exact * 3,
      s"estimate $est too far from exact $exact")
  }
}
