package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-side synthetic scale probe (VERDICT r9 item 4): replicates
  * the sf0.1 `documents`/`events` tables K× and measures the scaling
  * SLOPE of the heavy operators, replacing BASELINE.md's analytic
  * "would hold at sf1" note with a measurement. Not a gate fixture —
  * replicas live under /tmp and nothing here feeds Verify.
  *
  * Replication must GROW the corpus, not duplicate it: 10 exact copies
  * of every document would hand the dedup operators a pathological
  * 45-pairs-per-group blowup and measure that, not the plan. Replica
  * k therefore suffixes every token with `_k` — vocabulary and
  * documents scale together, per-gram document frequency (the PPJoin
  * bucket shape) and near-dup cluster structure are preserved
  * per-replica, so a linear-in-N plan shows a ~linear curve. Events
  * replicate with id/user offsets at the SAME timestamps — 10× density
  * per window, the watermark-bounded state claim under test.
  *
  * Probes (JSON line per probe on stdout, and target/scale.json):
  *  - `ppjoin`: q132's lossless prefix-filter join at 1×/2×/5×/10×.
  *  - `cc`: q65's MinHash pairs → connected components at 1×/10×.
  *  - `probe`: q75's incremental dedup of a FIXED batch against a
  *    persisted bucketed store built from 1× vs 9× history — the
  *    O(batch)-not-O(history) claim is the ratio of those two times.
  *  - `stream`: q87's watermarked tumbling drain over time-sliced
  *    files at 1×/10× events, with the state-reader row count — state
  *    must stay O(open windows) while input grows 10×.
  *  - `outerjoin` (r11): q144's stream-stream LEFT OUTER join drain at
  *    1×/10× — its join state, unlike the tumbling agg's, grows with
  *    unmatched rows inside the watermark horizon; measures drain time
  *    and state rows (left+right statestore readers).
  *  - `annprobe` (r11): q106's persisted-IVF probe against a 1× vs 10×
  *    index (build untimed — once per generation), plus the 10× exact
  *    brute-force scan as the unpruned contrast — probe cost must ride
  *    the cid-bucket pruning, not total index size.
  *  - `mih` (r12): q373's multi-index-Hamming perceptual pair join at
  *    1×/10× — bucket density grows with corpus, the salted spill must
  *    hold the in-bucket quadratic step.
  *  - `frameidx` (r12): q388's frame-fingerprint inverted-index
  *    containment join at 1×/10×.
  *  - `phashprobe` (r12): q392's incremental perceptual probe of a
  *    FIXED batch against a 1× vs 9× banded-word store — O(batch).
  *  - `recsys` (r12): q390's evaluation with orders/users replicated
  *    10× against a FIXED part catalog — the nbrK/maxBasket caps must
  *    hold candidate volume linear in users.
  */
object ScaleProbe {
  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Replicas 0..k-1 of (doc_id, text): id offset 10M per replica,
    * every token suffixed `_k`. */
  private def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " ", -1),
          t => concat(t, lit("_" + i))), " ").as("text"))
    }.reduce(_ unionAll _)

  /** Replicas 0..k-1 of events: event_id/user_id offsets per replica
    * (10⁸ / 10⁶) at the SAME timestamps — 10× density per window with
    * disjoint per-replica user populations, so keyed join/session
    * state grows with input (the state-scaling threat under test).
    * Carries every column the streaming probes key on (ADVICE r10:
    * the old shape silently dropped user_id). */
  private def replicateEvents(ev: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      ev.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        (col("user_id") + lit(i * 1000000L)).as("user_id"),
        col("ts"), col("value"), col("event_type"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = Session.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = new StringBuilder("{")

    // --- materialize replicas once (measured ops must not pay the
    // replication transform — at a real 10× the data is already on disk)
    val scales = Seq(1, 2, 5, 10)
    scales.foreach { k =>
      val p = s"$work/docs_x$k"
      if (!new java.io.File(p + "/_SUCCESS").exists())
        replicateDocs(docs, k).write.mode("overwrite").parquet(p)
    }
    def docsAt(k: Int) = spark.read.parquet(s"$work/docs_x$k")

    // --- ppjoin slope (q132 shape). Untimed x1 warmup first: the
    // first Spark query in a fresh JVM pays JIT/codegen compilation
    // that would contaminate the smallest scale's entry.
    llm.Dedup.prefixFilterJoin(docsAt(1), "doc_id", "text",
      k = 3, tauNum = 1, tauDen = 2).count()
    val pp = scales.map { k =>
      val (n, t) = time(llm.Dedup.prefixFilterJoin(
        docsAt(k), "doc_id", "text", k = 3, tauNum = 1, tauDen = 2).count())
      println(s"SCALEPROBE ppjoin x$k: $t s, $n pairs")
      s""""x$k":{"sec":$t,"pairs":$n}"""
    }
    out ++= s""""ppjoin":{${pp.mkString(",")}},"""

    // --- connected components slope (q65 shape)
    val cc = Seq(1, 10).map { k =>
      val (n, t) = time(llm.Dedup.connectedComponents(
        llm.Dedup.minhashNearDups(docsAt(k), "doc_id", "text",
          k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1)).count())
      println(s"SCALEPROBE cc x$k: $t s, $n members")
      s""""x$k":{"sec":$t,"members":$n}"""
    }
    out ++= s""""cc":{${cc.mkString(",")}},"""

    // --- incremental probe: fixed batch vs growing history (q75 shape).
    // History = replicas 1..h (never replica 0); batch = replica 0.
    // O(batch) holds iff probe time is ~flat in h.
    val batch = docsAt(1)
    val prb = Seq(1, 9).map { h =>
      val hist = spark.read.parquet(s"$work/docs_x10")
        .where(col("doc_id") >= 10000000L && col("doc_id") < (h + 1) * 10000000L)
      rel.Layout.writeBucketedBy(
        llm.Dedup.minhashSignatureStore(hist, "doc_id", "text"),
        s"scale_store_x$h", 8, "band", "bkey")
      val (n, t) = time(llm.Dedup.incrementalNearDups(
        batch, spark.table(s"scale_store_x$h"), hist,
        "doc_id", "text", threshold = 0.1).count())
      println(s"SCALEPROBE probe h$h: $t s, $n dups")
      s""""h$h":{"sec":$t,"dups":$n}"""
    }
    out ++= s""""probe":{${prb.mkString(",")}},"""

    // --- streaming drain: watermarked tumbling agg over time-sliced
    // files (q87's layout contract: slices in event-time order).
    // rel.Queries.events, NOT a raw parquet read: the fixture ships
    // µs-NTZ timestamps and watermarks reject TIMESTAMP_NTZ.
    val ev = rel.Queries.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("event_type"))
      .where(col("ts").isNotNull && col("value").isNotNull)
    // 1× listed twice: the first drain warms the streaming machinery
    // (sink/ckpt codepaths), the second is the measured 1× entry.
    val st = Seq(1, 1, 10).map { k =>
      val in = s"$work/events_x$k"
      val all = replicateEvents(ev, k)
      // the q87 layout contract: sequential time-range slices appended
      // in event-time order, so file mtime order = watermark order
      val Array(lo, hi) = all
        .agg(unix_timestamp(min(col("ts"))), unix_timestamp(max(col("ts"))))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val width = (hi - lo) / 8 + 1
      val sliced = all.withColumn("slice",
        ((unix_timestamp(col("ts")) - lo) / width).cast("int"))
      val inPath = new org.apache.hadoop.fs.Path(in)
      inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(inPath, true)
      (0 until 8).foreach { i =>
        sliced.where(col("slice") === i).drop("slice")
          .coalesce(1).write.mode("append").parquet(in)
      }
      val sink = s"$work/stream_out_x$k"
      val (_, t) = time(sources.StreamIngest.windowedAggParquet(
        spark, in, all.schema, sink, sink + "_ckpt", filesPerTrigger = 2))
      val stateRows = spark.read.format("statestore").load(sink + "_ckpt").count()
      println(s"SCALEPROBE stream x$k: $t s, $stateRows state rows")
      s""""x$k":{"sec":$t,"state_rows":$stateRows}"""
    }
    // drop the warmup drain's entry (duplicate x1 key)
    out ++= s""""stream":{${st.drop(1).mkString(",")}},"""

    // --- stream-stream LEFT OUTER join drain (q144 shape; VERDICT r10
    // item 3a): join state, unlike the tumbling agg's O(open windows),
    // grows with UNMATCHED view rows inside the watermark horizon —
    // and the replicas' disjoint user populations make that growth
    // linear in input, which is exactly the threat to measure. Slicing
    // and the three sentinel waves reproduce q144's layout contract;
    // state rows come from the statestore reader per join side.
    val so = Seq(1, 1, 10).map { k =>
      val in = s"$work/events_oj_x$k"
      val all = replicateEvents(ev, k)
      val Array(lo, hi) = all
        .agg(unix_timestamp(min(col("ts"))), unix_timestamp(max(col("ts"))))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val width = (hi - lo) / 6 + 1
      val sliced = all.withColumn("slice",
        ((unix_timestamp(col("ts")) - lo) / width).cast("int"))
      val inPath = new org.apache.hadoop.fs.Path(in)
      inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(inPath, true)
      (0 until 6).foreach { i =>
        sliced.where(col("slice") === i).drop("slice")
          .coalesce(1).write.mode("append").parquet(in)
      }
      import spark.implicits._
      (1 to 3).foreach { wave =>
        Seq((-wave.toLong, -1L, "view"), (-wave.toLong - 10L, -1L, "click"))
          .toDF("event_id", "user_id", "event_type")
          .withColumn("ts", timestamp_seconds(lit(hi + wave * 864000L)))
          .withColumn("value", lit(0.0))
          .select("event_id", "user_id", "ts", "value", "event_type")
          .coalesce(1).write.mode("append").parquet(in)
      }
      val sink = s"$work/oj_out_x$k"
      val (n, t) = time(sources.StreamIngest.streamOuterJoinParquet(
        spark, in, all.schema, sink, sink + "_ckpt").count())
      val stateRows = Seq("left", "right").map(side =>
        spark.read.format("statestore").option("joinSide", side)
          .load(sink + "_ckpt").count()).sum
      println(s"SCALEPROBE outerjoin x$k: $t s, $n rows, $stateRows state rows")
      s""""x$k":{"sec":$t,"rows":$n,"state_rows":$stateRows}"""
    }
    out ++= s""""outerjoin":{${so.drop(1).mkString(",")}},"""

    // --- persisted-ANN probe (q106 shape; VERDICT r10 item 3b): probe
    // cost must ride the cid-bucket pruning (per query it scans
    // ~corpus·nprobe/nlist rows of the bucketed lists), not total
    // index size. Index build at each scale is UNTIMED — built once
    // per corpus generation, like production. The 10x exact
    // brute-force scan is timed alongside as the unpruned contrast.
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def replicateEmb(k: Int): DataFrame =
      (0 until k).map { i =>
        embBase.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionAll _)
    // Index tables are cached across probe runs by name — the name
    // therefore carries a fingerprint of the source corpus (ADVICE
    // r11: a bare scale_ivf_assign_x$k would silently serve an index
    // built from a PREVIOUS sfDir's corpus to this run's probes).
    val embStamp = math.abs(graft.Scratch
      .fingerprint(s"$sfDir/embeddings.parquet").hashCode).toString
    val ann = Seq(1, 1, 10).map { k =>
      val at = s"scale_ivf_assign_${embStamp}_x$k"
      val ct = s"scale_ivf_cent_${embStamp}_x$k"
      val rep = replicateEmb(k).localCheckpoint()
      if (!spark.catalog.tableExists(at))
        llm.Sim.ivfIndexWrite(rep, nlist = 16, at, ct, buckets = 8)
      val (n, t) = time(llm.Sim.ivfKnnFromIndex(
        rep, nQuery = 10, k = 5, nprobe = 4, at, ct).count())
      println(s"SCALEPROBE annprobe x$k: $t s, $n rows")
      s""""x$k":{"sec":$t,"rows":$n}"""
    }
    val (_, tExact) = time(
      llm.Sim.cosineKnn(replicateEmb(10), nQuery = 10, k = 5).count())
    println(s"SCALEPROBE exactknn x10: $tExact s")
    out ++= s""""annprobe":{${ann.drop(1).mkString(",")},""" +
      s""""exact_x10":{"sec":$tExact}},"""

    // --- MIH perceptual pair join (q373 shape; VERDICT r11 item 1a):
    // at maxDist=3 the band width is 16 bits, so expected bucket
    // density is ~N/2^16 per band and the in-bucket pair expansion
    // grows quadratically with corpus density — the probe measures
    // whether pairs/time stay controlled and the maxBucket+salted
    // spill fans degenerate band values instead of ballooning a task.
    val mih = Seq(1, 10).map { k =>
      val (n, t) = time(llm.Multimodal
        .perceptualNearDups(docsAt(k), maxDist = 3).count())
      println(s"SCALEPROBE mih x$k: $t s, $n pairs")
      s""""x$k":{"sec":$t,"pairs":$n}"""
    }
    out ++= s""""mih":{${mih.mkString(",")}},"""

    // --- frame inverted-index containment join (q388 shape; r11 item
    // 1b): same question at fingerprint grain — per-sig buckets drive
    // the pair hash-agg, which must stay bounded by shared-frame
    // pairs, not video pairs.
    val fr = Seq(1, 10).map { k =>
      val (n, t) = time(llm.Multimodal.frameNearDups(docsAt(k)).count())
      println(s"SCALEPROBE frameidx x$k: $t s, $n pairs")
      s""""x$k":{"sec":$t,"pairs":$n}"""
    }
    out ++= s""""frameidx":{${fr.mkString(",")}},"""

    // --- perceptual incremental probe (q392 shape, new this round):
    // fixed batch vs 1x/9x history through the bucketed banded-word
    // store — O(batch) holds iff probe time is ~flat in h (the q75
    // claim for the third modality). Store build is untimed (once per
    // generation) and rebuilt per run, so no stale-corpus risk.
    val php = Seq(1, 9).map { h =>
      val hist = spark.read.parquet(s"$work/docs_x10")
        .where(col("doc_id") >= 10000000L && col("doc_id") < (h + 1) * 10000000L)
      rel.Layout.writeBucketedBy(
        llm.Multimodal.perceptualSignatureStore(hist, maxDist = 3),
        s"scale_phash_x$h", 8, "band", "bval")
      val (n, t) = time(llm.Multimodal.perceptualIncrementalNearDups(
        batch, spark.table(s"scale_phash_x$h"), maxDist = 3).count())
      println(s"SCALEPROBE phashprobe h$h: $t s, $n dups")
      s""""h$h":{"sec":$t,"dups":$n}"""
    }
    out ++= s""""phashprobe":{${php.mkString(",")}},"""

    // --- recsys candidate-generation join (q390 shape; r11 item 1c):
    // users, orders AND the part catalog grow 10x together — the
    // docs-replication philosophy (replication must GROW the corpus,
    // not duplicate it): replicating baskets against a FIXED catalog
    // multiplies every pair count by k, so every below-minSup pair
    // crosses the support threshold and the co-model densifies
    // superlinearly (measured 17x time at 10x) — an artifact of
    // verbatim duplication, not the plan. Per-replica part ids keep
    // the co-occurrence structure of each replica intact, which is
    // what a catalog growing with its user base looks like; the
    // question under test stays the same: do the nbrK=50/maxBasket=64
    // caps hold candidate volume linear in users.
    val ordBase = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val liBase = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    Seq(1, 10).foreach { k =>
      val p = s"$work/tpch_x$k"
      if (!new java.io.File(p + "/orders.parquet/_SUCCESS").exists()) {
        (0 until k).map { i =>
          ordBase.select((col("o_orderkey") + lit(i * 100000000L)).as("o_orderkey"),
            (col("o_custkey") + lit(i * 10000000L)).as("o_custkey"),
            col("o_orderdate"))
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$p/orders.parquet")
        (0 until k).map { i =>
          liBase.select((col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
            (col("l_partkey") + lit(i * 10000000L)).as("l_partkey"))
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$p/lineitem.parquet")
      }
    }
    val rc = Seq(1, 10).map { k =>
      val (_, t) = time(rel.Queries.recsysEval(spark, s"$work/tpch_x$k").collect())
      println(s"SCALEPROBE recsys x$k: $t s")
      s""""x$k":{"sec":$t}"""
    }
    out ++= s""""recsys":{${rc.mkString(",")}},"""

    // --- NN-descent (q417 shape; r13: the convergence loop). The seed
    // join is O(N²/nlist): at FIXED nlist the per-cell population
    // grows linearly with the corpus and the same-cell pair step goes
    // quadratic — measured ONCE at 8.2 s (x1) → 391 s (x10) with
    // nlist=16, the canonical fixed-coarse-quantizer scale killer.
    // A linear seed needs CONSTANT cell population, i.e. nlist ∝ N
    // (the √N tradition optimizes query-probe cost, not graph build —
    // measured: nlist=50 at x10 still pays N^1.5 = 100 s). The probe
    // measures the linear configuration: x10 runs nlist=160 — at BOTH
    // maxRounds=1 and maxRounds=3, so the artifact shows ROUND COUNT,
    // not data volume, dominates cost (VERDICT r12 item 2): each
    // co-neighbor round is the same capped corpus-linear join, so
    // sec(r3)/sec(r1) tracks the round ratio while sec(x10)/sec(x1)
    // stays ~linear under the nlist ladder.
    val nnd = Seq((1, 16), (10, 160)).flatMap { case (k, nl) =>
      val rep = replicateEmb(k).localCheckpoint()
      // untimed warmup at this (scale, nlist) — the stream-probe
      // convention: r14 measured x10_r1 at 3.4x its steady state
      // because the first query at a new scale pays codegen/JIT and
      // cold shuffle paths inside its timing
      llm.Sim.nnDescent(rep, nlist = nl, maxRounds = 1).collect()
      Seq(1, 3).map { mr =>
        val (rows, t) = time(
          llm.Sim.nnDescent(rep, nlist = nl, maxRounds = mr).collect())
        val last = rows.find(_.getString(0) == f"r$mr%02d").get
        val rec = last.getAs[Double]("avg_recall")
        val delta = last.getAs[Long]("delta_edges")
        println(s"SCALEPROBE nndescent x$k rounds=$mr (nlist=$nl): $t s, " +
          s"final recall $rec, last-round delta $delta")
        s""""x${k}_r$mr":{"sec":$t,"recall":$rec,"nlist":$nl,""" +
          s""""rounds":$mr,"last_delta":$delta}"""
      }
    }
    out ++= s""""nndescent":{${nnd.mkString(",")}},"""

    // --- negative-sampling table (q360 shape; r13: the two-phase
    // range-cell prefix sum). The cumulative table is vocab-grain;
    // replicas suffix tokens so the vocabulary itself grows ~10× —
    // exactly the axis the retired single-partition window serialized
    // on. A ~linear slope certifies the cell decomposition.
    val neg = Seq(1, 10).map { k =>
      val (n, t) = time(
        llm.TextAnalysis.negativeSamplingTable(docsAt(k)).count())
      println(s"SCALEPROBE negsample x$k: $t s, $n vocab rows")
      s""""x$k":{"sec":$t,"vocab":$n}"""
    }
    out ++= s""""negsample":{${neg.mkString(",")}},"""

    // --- MaxSim late interaction (q378 shape; r13: the token-vector
    // relation). Corpus token rows grow 10× (same query side); the
    // broadcast-stream plan must scale with corpus tokens, never
    // corpus × corpus.
    val ms = Seq(1, 10).map { k =>
      val rep = replicateEmb(k).localCheckpoint()
      val (n, t) = time(
        llm.Sim.maxSimKnn(rep, nQuery = 10, k = 5).count())
      println(s"SCALEPROBE maxsim x$k: $t s, $n rows")
      s""""x$k":{"sec":$t,"rows":$n}"""
    }
    out ++= s""""maxsim":{${ms.mkString(",")}},"""

    // --- incremental exact-substring probe (q448 shape; r14): fixed
    // batch vs 1x/9x history through the gram-bucketed store —
    // O(batch) holds iff probe time is ~flat in h (the q75 claim for
    // the exact member of the dedup family).
    val esp = Seq(1, 9).map { h =>
      val hist = spark.read.parquet(s"$work/docs_x10")
        .where(col("doc_id") >= 10000000L && col("doc_id") < (h + 1) * 10000000L)
      rel.Layout.writeBucketedBy(
        llm.Dedup.exactSubstrStore(hist, "doc_id", "text"),
        s"scale_exsub_x$h", 8, "gram")
      val (n, t) = time(llm.Dedup.incrementalExactSubstr(
        batch, spark.table(s"scale_exsub_x$h"), "doc_id", "text").count())
      println(s"SCALEPROBE exsubprobe h$h: $t s, $n docs")
      s""""h$h":{"sec":$t,"docs":$n}"""
    }
    out ++= s""""exsubprobe":{${esp.mkString(",")}},"""

    // --- quantile-sketch store lifecycle (q441 shape; r14 / VERDICT
    // r13 item 7): each generation summarizes only its own batch and
    // serving reads O(N/step) persisted summary rows, so the whole
    // build+merge+serve pass must stay ~linear in N.
    Seq(1, 10).foreach { k =>
      val p = s"$work/qs_x$k/events.parquet"
      if (!new java.io.File(p + "/_SUCCESS").exists())
        replicateEvents(ev, k).write.mode("overwrite").parquet(p)
    }
    val qs = Seq(1, 10).map { k =>
      val (n, t) = time(
        rel.Queries.quantileStoreMerge(spark, s"$work/qs_x$k").count())
      println(s"SCALEPROBE quantstore x$k: $t s, $n rows")
      s""""x$k":{"sec":$t,"rows":$n}"""
    }
    out ++= s""""quantstore":{${qs.mkString(",")}},"""

    // --- rendezvous-shard census (q437 shape; r14): HRW hashing is
    // one exploded fnv per (doc, shard) + a max-agg — the per-doc
    // fan-out is the constant shard count, so the census is ~linear
    // in docs.
    val rv = Seq(1, 10).map { k =>
      val (n, t) = time(llm.Pack.rendezvousShards(docsAt(k)).count())
      println(s"SCALEPROBE rendezvous x$k: $t s, $n rows")
      s""""x$k":{"sec":$t,"rows":$n}"""
    }
    out ++= s""""rendezvous":{${rv.mkString(",")}},"""

    // --- nn_graph_store probe (q417/q435 steady state; r14 / VERDICT
    // r13 item 3): the stage-chain BUILD is once-per-fixture (its
    // slope is the nndescent probe above); the per-pass cost is the
    // store PROBE — recall audit + mutual-kNN census off the persisted
    // stage frame — which must stay cheap relative to the build at
    // both scales (nlist ladder keeps the build linear).
    val ng = Seq((1, 16), (10, 160)).map { case (k, nl) =>
      val rep = replicateEmb(k).localCheckpoint()
      val storePath = s"$work/nn_graph_x$k"
      llm.Sim.nnDescentStageFrame(rep, nlist = nl)
        .write.mode("overwrite").parquet(storePath) // untimed build
      val store = spark.read.parquet(storePath)
      val (_, tAudit) = time(llm.Sim.nnDescentAudit(rep, store).collect())
      val (_, tCensus) = time(
        llm.Sim.mutualKnnFromStages(rep, store).collect())
      println(s"SCALEPROBE nngraphprobe x$k (nlist=$nl): " +
        s"audit $tAudit s, census $tCensus s")
      s""""x$k":{"audit_sec":$tAudit,"census_sec":$tCensus,"nlist":$nl}"""
    }
    out ++= s""""nngraphprobe":{${ng.mkString(",")}}}"""

    println("SCALEPROBE " + out)
    val p = java.nio.file.Paths.get("target/scale.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (out.toString + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
