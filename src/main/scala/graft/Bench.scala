package graft
/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total","value":…,"queries":{…}}.
  *
  * Queries are fully materialized through the `noop` sink (a `count()`
  * would let Catalyst prune projections and under-measure). Optional
  * SPARK_GRAFT_QUERIES=name1,name2 restricts the set for iteration.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
    // Untimed warmup pass: JIT/codegen compilation and parquet footer
    // reads land here so the timed pass measures steady-state execution.
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // Two timed passes, report the per-query MIN: transient host load
    // (the driver runs the oracle compare and other tooling on the same
    // box) inflates a single-pass measurement; the min over passes is
    // the standard steady-state throughput estimate and is stable under
    // contention.
    def timedPass() = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    val (p1, p2) = (timedPass(), timedPass())
    val results = p1.zip(p2).map { case ((n, t1, ok1), (_, t2, ok2)) =>
      (n, math.min(t1, t2), ok1 && ok2)
    }
    // A failed query is recorded as -1 (not a fast fake time) and fails
    // the whole run — a regression must never masquerade as a speedup.
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -1.0) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true) => v }.sum
    val nFailed = results.count(!_._3)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$nFailed,"sf":"$sfDir"}"""
    println(line)
    // Also persist the JSON line to a file: the committed BENCH artifact
    // must never depend on stdout tail capture (BENCH_r05.json lost its
    // head to truncation). SPARK_GRAFT_BENCH_OUT overrides the path.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
