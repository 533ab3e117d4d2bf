package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (array&lt;float&gt;).
  *
  * Two paths:
  *  - [[cosineKnn]]: brute-force exact top-k — the correctness baseline.
  *    Candidates × queries via a broadcast of the (small) query set, so
  *    the scan side streams once with no shuffle; per-pair math is pure
  *    built-in `zip_with`/`aggregate` (codegen'd, sequential fold — the
  *    float math is bit-reproducible across engines).
  *  - [[lshBuckets]] / [[annKnn]]: random-hyperplane LSH — the scale
  *    path. Each vector hashes to a signature of sign bits; at 100 TB,
  *    candidate generation becomes an equi-join on bucket id (shuffle
  *    O(n), not O(n²)). Hyperplanes are deterministic code-level
  *    constants (seeded), so plans are stable across runs.
  */
object Sim {

  /** Cast array&lt;float&gt; → array&lt;double&gt; (exact). */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential left-fold sum — deterministic accumulation order. */
  private def fsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (s, x) => s + x)

  def dot(a: Column, b: Column): Column = fsum(zip_with(a, b, (x, y) => x * y))
  def norm(a: Column): Column = sqrt(fsum(transform(a, x => x * x)))
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** The vector frame every search operator starts from:
    * (vec_id, extra…, v, norm) — `v` the exact double cast of
    * `embedding`, `norm` its sequential-fold L2 norm. */
  private[llm] def vectors(emb: DataFrame, extra: Column*): DataFrame =
    emb.select((col("vec_id") +: extra :+ asDouble(col("embedding")).as("v")): _*)
      .withColumn("norm", norm(col("v")))

  /** The exact-kNN rank rule: per `by` (default `qid`), rank rows by
    * (`score` desc, `tie` asc; default tie `vec_id`) — a score tie goes
    * to the lower id, on both engines — as a BIGINT `rnk`, keeping
    * rnk &lt;= k. */
  private[llm] def topK(scored: DataFrame, k: Int, score: String = "sim",
                        by: String = "qid", tie: String = "vec_id"): DataFrame =
    scored.withColumn("rnk", row_number().over(Window.partitionBy(by)
        .orderBy(col(score).desc, col(tie).asc)).cast("long"))
      .where(col("rnk") <= k)

  /** The IVF nearest-centroid rule: every row against the broadcast
    * (cid, cv, cn) centroid table, csim = cosine(`vec`, cv), ranked per
    * `id` by (csim desc, cid asc) — a tie goes to the lower centroid
    * id — keeping the `n` nearest as r = 1..n. Input and centroid
    * columns are all kept; callers select what they need. */
  private[llm] def nearestCentroids(rows: DataFrame, id: String, vec: String,
                                    norm: String, cents: DataFrame, n: Int): DataFrame =
    rows.crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col(vec), col("cv"), col(norm), col("cn")))
      .withColumn("r", row_number().over(
        Window.partitionBy(id).orderBy(col("csim").desc, col("cid").asc)))
      .where(col("r") <= n)

  /** Exact cosine top-k: for each query vector (vec_id &lt; nQuery), the k
    * nearest other vectors. Output: (qid, rnk, vec_id, sim). */
  def cosineKnn(emb: DataFrame, nQuery: Int, k: Int): DataFrame = {
    val v = vectors(emb)
    val q = v.select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    topK(v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** FILTERED vector search — the production kNN shape (every vector
    * store exposes it: "top-k similar WHERE metadata matches"): exact
    * cosine top-k restricted to corpus vectors passing a label
    * predicate AND a cross-modal document predicate (lang, via the
    * doc_id = vec_id identity). PRE-filter semantics: the predicates
    * cut the corpus BEFORE the rank window, so k survivors are
    * guaranteed (post-filtering a top-k can return fewer) and the scan
    * + semi-join prune ahead of the expensive cosine — at 100 TB the
    * filter is what makes exact search affordable at all. Same
    * broadcast-query/stream-corpus shape as [[cosineKnn]]; the lang
    * restriction is a doc-keyed LEFT SEMI join the planner can push
    * ahead of the crossJoin. */
  def filteredKnn(emb: DataFrame, docs: DataFrame, nQuery: Int, k: Int,
                  langs: Seq[String], labelMod: Long): DataFrame = {
    val keep = docs.where(col("lang").isin(langs: _*))
      .select(col("doc_id").as("vec_id"))
    val v = vectors(emb, col("label").cast("long").as("label"))
    val corpus = v.where(col("label") % labelMod === 0L)
      .join(keep, Seq("vec_id"), "left_semi")
    val q = v.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("norm").as("qnorm")).where(col("qid") < nQuery)
    topK(corpus.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "label", "sim")
  }

  /** Retrieval-quality metrics — Precision@k, MRR@`mrrK`, NDCG@k
    * (Järvelin &amp; Kekäläinen, TOIS 2002) — for the label-match
    * relevance model over the exact cosine ranking: the eval harness
    * that grades what [[cosineKnn]]/[[annKnn]]/the q106 index retrieve
    * (q166's AUC grades a CLASSIFIER's scores; this grades a RANKER's
    * cut-offs). One broadcast-query pass computes candidates; the rank
    * window runs per query; the total-relevant count (for the ideal
    * DCG) aggregates the SAME candidate set before the top-k filter,
    * so the corpus still streams once.
    *
    * Float parity: discount terms use ln (the log-2 constant cancels
    * in the DCG/IDCG ratio) on exact integer ranks — cross-engine-
    * identical IEEE (q205's precedent) — summed through
    * [[graft.rel.Queries.dsum]]; the ideal DCG for m = min(k, R)
    * relevant items is one of k+1 SCALA-PRECOMPUTED literals
    * interpolated into both engines' plans (the bm25 constant
    * discipline), so even the ideal curve is shared bit-for-bit. */
  def retrievalMetrics(emb: DataFrame, nQuery: Int, k: Int, mrrK: Int): DataFrame = {
    val v = vectors(emb, col("label").cast("long").as("label"))
    val q = v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    val cand = v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim"))
    val rTot = cand.groupBy("qid").agg(sum(col("rel")).as("n_rel"))
    val agg = topK(cand, mrrK)
      .groupBy("qid").agg(
        sum(when(col("rnk") <= k, col("rel")).otherwise(0L)).as("hits_k"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel"),
        graft.rel.Queries.dsum(
          when(col("rnk") <= k,
            col("rel").cast("double") / log(col("rnk").cast("double") + 1.0))
            .otherwise(lit(0.0))).as("dcg"))
    val idcgLit = idcgLiterals(k)
    val m = least(lit(k.toLong), col("n_rel"))
    val idcg = (1 to k).foldLeft(when(m === 0L, 0.0)) { (c, i) =>
      c.when(m === i.toLong, lit(idcgLit(i)))
    }
    rTot.join(agg, Seq("qid"))
      .select(col("qid"), col("n_rel"),
        graft.rel.Queries.femit(
          col("hits_k").cast("double") / lit(k.toDouble)).as("p_at_k"),
        graft.rel.Queries.femit(
          coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0)))
          .as("mrr"),
        graft.rel.Queries.femit(
          when(idcg > 0.0, col("dcg") / idcg).otherwise(lit(0.0)))
          .as("ndcg"))
      .orderBy("qid")
  }

  /** Ideal-DCG literals shared by [[retrievalMetrics]] and its oracle:
    * index m holds Σ_{i=1..m} 1/ln(i+1), computed once in Scala. */
  def idcgLiterals(k: Int): IndexedSeq[Double] =
    (0 to k).map(m => (1 to m).map(i => 1.0 / math.log(i + 1.0)).sum)

  /** Expected reciprocal rank at `k` (Chapelle et al., CIKM 2009 —
    * the cascade-model ranking metric [[retrievalMetrics]]'s
    * position-discount family lacks: a highly relevant hit ABOVE rank
    * i absorbs the user before they reach i): over the q231 cosine
    * ranking with GRADED relevance g = 2 (label match) / 1 (labels
    * adjacent, |label − qlabel| = 1) / 0, stop probability
    * R_g = (2^g − 1)/4 ∈ {0, ¼, ¾} — all DYADIC, so every cascade
    * product is an exact binary double (the q213 rule applied to a
    * probability model) — and
    * ERR = Σ_i (Π_{j&lt;i}(1 − R_j))·R_i/i.
    *
    * Determinism: the top-k grades pivot to one row per query
    * (rank-i columns via conditional max; absent ranks are grade 0)
    * and the cascade is ONE fixed left-associated arithmetic chain —
    * no sequential scan, no pow. Ranking ties break on vec_id like
    * q231.
    *
    * Scale: the candidate step is q231's broadcast-query design
    * (queries × corpus, corpus-partitioned); everything after the
    * per-query top-k window is O(queries). */
  def errAtK(emb: DataFrame, nQuery: Int, k: Int): DataFrame = {
    val v = vectors(emb, col("label").cast("long").as("label"))
    val q = v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    val cand = v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("label") === col("qlabel"), 2L)
          .when(abs(col("label") - col("qlabel")) === 1L, 1L)
          .otherwise(0L).as("g"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim"))
    val top = topK(cand, k)
      .withColumn("r",
        when(col("g") === 2L, lit(0.75))
          .when(col("g") === 1L, lit(0.25)).otherwise(lit(0.0)))
    val pivotCols =
      sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n_g1") +:
        (1 to k).map(i =>
          coalesce(max(when(col("rnk") === i.toLong, col("r"))), lit(0.0))
            .as(s"r$i"))
    val pivoted = top.groupBy("qid").agg(
      sum(when(col("g") === 2L, 1L).otherwise(0L)).as("n_g2"),
      pivotCols: _*)
    val err = (1 to k).map { i =>
      val stop = col(s"r$i") / lit(i.toDouble)
      if (i == 1) stop
      else (1 until i).map(j => lit(1.0) - col(s"r$j"))
        .reduceLeft(_ * _) * stop
    }.reduceLeft(_ + _)
    pivoted.select(col("qid"), col("n_g2"), col("n_g1"),
      graft.rel.Queries.femit(err).as("err"))
      .orderBy("qid")
  }

  /** 2-D RADIUS self-join via grid cells — the spatial/geo join shape
    * (find all point pairs within distance `r`), run over the first
    * two embedding dimensions as coordinates. The classic fixed-grid
    * method: bucket every point into an r-sized cell, probe the 3×3
    * cell neighborhood (any pair within r is at most one cell apart on
    * each axis), verify the exact distance. Each point owns exactly
    * ONE cell on the build side, so a surviving pair is emitted exactly
    * once — no distinct pass (the q136 covering-cell discipline).
    *
    * Scale: candidate generation is an EQUI-join keyed by cell (shuffle
    * O(points), never the O(n²) theta join); per-cell work is bounded
    * by `maxCell` — oversized cells are dropped from the build side
    * before the quadratic step (the LSH maxBucket discipline, mirrored
    * in the oracle so the capped semantics are what the gate checks).
    * Distance math is fixed-order IEEE on float-exact doubles — pairs
    * AND distances value-oracle. */
  def gridRadiusJoin(emb: DataFrame, r: Double, maxCell: Int): DataFrame = {
    val p = emb.select(col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val c = p
      .withColumn("cx", floor(col("x") / lit(r)).cast("long"))
      .withColumn("cy", floor(col("y") / lit(r)).cast("long"))
    val keep = c.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .where(col("n") <= maxCell).select("cx", "cy")
    val build = c.join(keep, Seq("cx", "cy"), "left_semi")
      .select(col("vec_id").as("idb"), col("x").as("bx"), col("y").as("by"),
        col("cx").as("bcx"), col("cy").as("bcy"))
    val probes = c.select(col("vec_id").as("ida"), col("x").as("ax"),
        col("y").as("ay"), col("cx"), col("cy"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(dx, dy))))")).as("o"))
      .select(col("ida"), col("ax"), col("ay"),
        (col("cx") + col("o.dx")).as("bcx"), (col("cy") + col("o.dy")).as("bcy"))
    probes.join(build, Seq("bcx", "bcy"))
      .where(col("ida") < col("idb"))
      .withColumn("d2",
        (col("ax") - col("bx")) * (col("ax") - col("bx"))
          + (col("ay") - col("by")) * (col("ay") - col("by")))
      .where(col("d2") <= lit(r * r))
      .select(col("ida").as("a"), col("idb").as("b"),
        graft.rel.Queries.femit(sqrt(col("d2"))).as("dist"))
      .orderBy("a", "b")
  }

  /** Grid-density clustering — the cell-granular form of DBSCAN
    * (Ester et al., KDD 1996; grid variant: DENCLUE/STING family) over
    * 2-D points: a cell of side `r` is CORE when it holds ≥ `minPts`
    * points, and clusters are the 8-connected components of core
    * cells. This is the density-clustering shape that scales — the
    * point-level DBSCAN ε-graph needs a radius join per point
    * ([[gridRadiusJoin]] exists for that), while the grid form
    * reduces the corpus to O(occupied cells) in ONE hash-agg and runs
    * the component search on cells, typically orders of magnitude
    * smaller than points.
    *
    * Composition: cell adjacency = the [[gridRadiusJoin]] 3×3 probe on
    * the core-cell table; components = the q65 min-label fixpoint
    * ([[Dedup.connectedComponents]] — driver O(1) per round, shuffle
    * O(cell edges)); isolated core cells keep their own label. The
    * core table is localCheckpoint'd — it feeds the probe side, build
    * side, AND the final aggregate (the q209 multi-consumer rule).
    * Cell ids pack (cx, cy) into one long — lexicographic, so the
    * min-label component id IS the cluster's (cx, cy)-minimal cell.
    * All state is integer counts; the output is exact. */
  def gridDensityClusters(emb: DataFrame, r: Double, minPts: Long): DataFrame = {
    val p = emb.select(
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val cells = p
      .withColumn("cx", floor(col("x") / lit(r)).cast("long"))
      .withColumn("cy", floor(col("y") / lit(r)).cast("long"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val core = cells.where(col("n") >= minPts)
      .withColumn("cid",
        col("cx") * lit(4294967296L) + col("cy") + lit(2147483648L))
      .localCheckpoint()
    val probes = core.select(col("cid").as("d1"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(dx, dy))))")).as("o"),
        col("cx"), col("cy"))
      .select(col("d1"), (col("cx") + col("o.dx")).as("bcx"),
        (col("cy") + col("o.dy")).as("bcy"))
    val build = core.select(col("cid").as("d2"), col("cx").as("bcx"),
      col("cy").as("bcy"))
    val pairs = probes.join(build, Seq("bcx", "bcy"))
      .where(col("d1") < col("d2")).select("d1", "d2")
    val labeled = Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "cid")
    core.join(labeled, Seq("cid"), "left")
      .withColumn("component", coalesce(col("component"), col("cid")))
      .groupBy("component")
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_points"),
        min(struct(col("cx"), col("cy"))).as("mc"))
      .select(col("mc.cx").as("rep_cx"), col("mc.cy").as("rep_cy"),
        col("n_cells"), col("n_points"))
      .orderBy("rep_cx", "rep_cy")
  }

  /** Per-dimension embedding STANDARDIZATION report — the feature-
    * scaling pass (z-score) every training pipeline runs before models
    * that care about scale, plus the per-dimension outlier census that
    * decides whether clipping is needed. One posexplode + one
    * dimension-keyed hash-agg for the moments (n/Σx/Σx² on the
    * [[graft.rel.Queries.dsum]] route — order-proof), stats broadcast
    * back onto the exploded dims for the z pass; the corpus streams
    * twice, shuffles O(dims). Variance via E[x²]−E[x]² on dsum-exact
    * doubles is one fixed-order expression, so means, stds, max |z|
    * and the |z|&gt;3 census all value-oracle bit-for-bit. */
  def standardize(emb: DataFrame): DataFrame = {
    val dims = emb.select(col("vec_id"),
        posexplode(asDouble(col("embedding"))).as(Seq("j", "x")))
    val stats = dims.groupBy("j")
      .agg(count(lit(1)).as("n"),
        graft.rel.Queries.dsum(col("x")).as("sx"),
        graft.rel.Queries.dsum(col("x") * col("x")).as("sxx"))
      .select(col("j"), col("n"),
        (col("sx") / col("n").cast("double")).as("mean"),
        sqrt(col("sxx") / col("n").cast("double")
          - (col("sx") / col("n").cast("double"))
            * (col("sx") / col("n").cast("double"))).as("std"))
    dims.join(broadcast(stats), "j")
      .select(col("j"), col("n"), col("mean"), col("std"),
        (abs(col("x") - col("mean")) / col("std")).as("az"))
      .groupBy("j")
      .agg(max(col("n")).as("n"), max(col("mean")).as("mean0"),
        max(col("std")).as("std0"), max(col("az")).as("maxaz"),
        sum(when(col("az") > 3.0, 1L).otherwise(0L)).as("n_out3"))
      .select(col("j").cast("long").as("j"), col("n"),
        graft.rel.Queries.femit(col("mean0")).as("mean"),
        graft.rel.Queries.femit(col("std0")).as("std"),
        graft.rel.Queries.femit(col("maxaz")).as("max_abs_z"),
        col("n_out3"))
      .orderBy("j")
  }

  /** Hard-negative mining for contrastive/embedding training (the
    * "hard negatives matter" recipe of Robinson et al., ICLR 2021 and
    * every dense-retrieval pipeline since DPR): for each query vector,
    * the top-`k` most-similar corpus vectors whose LABEL differs —
    * maximally confusing negatives, exactly what a triplet/InfoNCE
    * batch builder samples from. Identical shape to [[cosineKnn]]
    * (broadcast query side, corpus streamed once, per-query top-k via
    * rank window over the candidate set) plus the label inequality
    * pushed into the join filter — at 100 TB this stays one broadcast
    * pass, and the label filter prunes BEFORE the rank window so the
    * state per query is k rows. Same sequential-fold cosine as q21 —
    * bit-identical across engines, so sims and ranks value-oracle. */
  def hardNegatives(emb: DataFrame, nQuery: Int, k: Int): DataFrame = {
    val v = vectors(emb, col("label").cast("long").as("label"))
    val q = v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    topK(v.crossJoin(broadcast(q))
      .where(col("label") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
      .select("qid", "qlabel", "rnk", "vec_id", "label", "sim")
  }

  /** Maximal-Marginal-Relevance diversified top-k re-ranking (Carbonell
    * & Goldstein, SIGIR 1998): from each query's exact top-`pool`
    * relevance candidates, greedily pick `k` results maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s) — the standard
    * redundancy-suppressing rerank between retrieval and a context
    * window. The sequential greedy loop unrolls into `k` declarative
    * rounds (the q124/q174 discipline — zero driver actions): each
    * round anti-joins out the picked set, computes every remaining
    * candidate's penalty with one (qid, picked)-keyed join + max-agg
    * over the PRECOMPUTED candidate-pair sims, and picks the per-query
    * argmax (score DESC, vec_id ASC). All rounds run on checkpointed
    * nQuery×pool-row tables — the corpus is touched exactly once, by
    * the pool stage (one broadcast pass, q21's shape).
    *
    * Float determinism: sims are the same sequential-fold cosine both
    * engines compute bit-identically; λ and (1−λ) are pre-combined in
    * Scala and the SAME double literals are interpolated into both
    * plans (bm25's constant discipline), so even the data-dependent
    * argmax choices agree exactly; output rounds to 6dp. */
  def mmrDiversify(emb: DataFrame, nQuery: Int, pool: Int, k: Int,
                   lam: Double = 0.7): DataFrame = {
    val mu = 1.0 - lam
    val v = vectors(emb)
    val q = v.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("norm").as("qnorm")).where(col("qid") < nQuery)
    val cands = topK(v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("v"), col("norm"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), pool)
      .select("qid", "vec_id", "v", "norm", "sim")
      .localCheckpoint()
    val candSim = cands.select(col("qid"), col("vec_id").as("d1"),
        col("v").as("v1"), col("norm").as("n1"))
      .join(cands.select(col("qid"), col("vec_id").as("d2"),
        col("v").as("v2"), col("norm").as("n2")), Seq("qid"))
      .where(col("d1") =!= col("d2"))
      .select(col("qid"), col("d1"), col("d2"),
        cosine(col("v1"), col("v2"), col("n1"), col("n2")).as("dsim"))
      .localCheckpoint()
    val rel = cands.select("qid", "vec_id", "sim")
    var sel: DataFrame = null
    val picks = (1 to k).map { r =>
      val scored =
        if (r == 1) rel.withColumn("score", col("sim") * lit(lam))
        else {
          val pen = candSim
            .join(broadcast(sel.select(col("qid"), col("vec_id").as("d2"))),
              Seq("qid", "d2"))
            .groupBy(col("qid"), col("d1").as("vec_id"))
            .agg(max(col("dsim")).as("pen"))
          rel.join(sel, Seq("qid", "vec_id"), "left_anti")
            .join(pen, Seq("qid", "vec_id"))
            .withColumn("score", col("sim") * lit(lam) - col("pen") * lit(mu))
        }
      val pick = topK(scored, 1, "score")
        .select(col("qid"), col("vec_id"), col("score"), lit(r.toLong).as("rnk"))
      sel = (if (r == 1) pick.select("qid", "vec_id")
             else sel.union(pick.select("qid", "vec_id"))).localCheckpoint()
      pick
    }
    picks.reduce(_.union(_))
      .select(col("qid"), col("rnk"), col("vec_id"),
        graft.rel.Queries.femit(col("score")).as("score"))
      .orderBy("qid", "rnk")
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): fuse each query's embedding-cosine ranking
    * with its lexical token-overlap ranking as
    * Σ 1/(60 + rank), over the UNION of both top-`pool` lists (a doc
    * missing from one list contributes 0 from it) — the
    * dense+sparse ensemble every modern retrieval stack runs, here as
    * one declarative plan over the q93 cross-modal identity
    * (doc_id = vec_id). Both input rankings are integer-deterministic
    * (fold-cosine with id tiebreak; distinct-token overlap counts), so
    * the fused scores — two exact divisions summed in one fixed
    * order — value-oracle bit-for-bit.
    *
    * Scale: the query token set broadcasts and only matching tokens
    * shuffle (q111's decontamination shape); the cosine pool is one
    * broadcast corpus pass (q21); the fusion join runs on two
    * nQuery×pool-row tables. */
  def rrfFusion(emb: DataFrame, docs: DataFrame, nQuery: Int, pool: Int,
                k: Int, rrfK: Int = 60): DataFrame = {
    val cosR = cosineKnn(emb, nQuery, pool)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rnk").as("r_cos"))
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("tok"))
      .where(col("tok") =!= "").distinct()
    val qtoks = toks.where(col("doc_id") < nQuery)
      .select(col("doc_id").as("qid"), col("tok"))
    val w = Window.partitionBy("qid")
      .orderBy(col("overlap").desc, col("doc_id").asc)
    val txtR = qtoks.join(toks, Seq("tok"))
      .where(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("overlap"))
      .withColumn("r_txt", row_number().over(w).cast("long"))
      .where(col("r_txt") <= pool)
      .select("qid", "doc_id", "r_txt")
    val fuseW = Window.partitionBy("qid")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    cosR.join(txtR, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("r_cos")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("r_txt")), lit(0.0)))
      .withColumn("rnk", row_number().over(fuseW).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("doc_id"), graft.rel.Queries.femit(col("rrf")).as("rrf"))
      .orderBy("qid", "rnk")
  }

  /** Exact cosine top-k via the native codegen'd
    * [[graft.functions.CosineSim]] expression — same plan shape and
    * bit-identical results as [[cosineKnn]], with the per-pair math in a
    * fused whole-stage-codegen loop instead of interpreted HOF lambdas. */
  def cosineKnnNative(emb: DataFrame, nQuery: Int, k: Int): DataFrame = {
    val v = vectors(emb)
    val q = v.select(col("vec_id").as("qid"), col("v").as("qv"))
      .where(col("qid") < nQuery)
    topK(v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorExprs.cosineSim("v", "qv").as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** Interpreted HOF formulation of the single-table sign-bit bucket
    * (bit j = [v · plane_j &gt; 0]) — kept as the independent oracle for
    * the native codegen'd [[graft.functions.SignBands]] expression in the
    * test suite; the query paths all use the native form. */
  def lshBucketHof(v: Column, nPlanes: Int, dim: Int): Column = {
    val ps = graft.functions.Hyperplanes.planes(nPlanes, dim)
    (0 until nPlanes).map { j =>
      val d = fsum(transform(sequence(lit(0), lit(dim - 1)),
        i => element_at(v, i + lit(1)) * element_at(typedLit(ps(j).toSeq), i + lit(1))))
      when(d > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Single-table sign-bit LSH bucket id via the native fused-loop
    * expression (= first table of [[graft.functions.SignBands]]). */
  def lshBucket(df: DataFrame, v: String, nPlanes: Int, dim: Int): Column = {
    element_at(graft.functions.VectorExprs.lshBands(v, 1, nPlanes, dim), 1)
  }

  /** Bucket histogram — the partition-health diagnostic for the ANN path
    * (bucket skew is what kills the equi-join at scale). */
  def lshBuckets(emb: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    val v = vectors(emb)
    v.select(col("vec_id"), lshBucket(v, "v", nPlanes, dim).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** (vec_id, v, t, bucket): each vector exploded to its nTables LSH
    * bucket ids — the shared candidate-generation spine of the scale
    * paths. One narrow codegen'd projection, no shuffle. */
  private def banded(emb: DataFrame, nTables: Int, bandPlanes: Int,
                     dim: Int): DataFrame = {
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        posexplode(graft.functions.VectorExprs.lshBands("v", nTables, bandPlanes, dim))
          .as(Seq("t", "bucket")))
  }

  /** Embedding-cosine near-duplicate pairs over a bounded id range —
    * the exact baseline (DuckDB-oracled). The scale path replaces the
    * id-bounded cross join with the [[lshBucket]] equi-join (see
    * [[cosineNearDupsLsh]]). Output: (v1, v2, sim), v1 &lt; v2. */
  def cosineNearDups(emb: DataFrame, maxId: Long, threshold: Double): DataFrame = {
    val v = vectors(emb.where(col("vec_id") < maxId))
    val a = v.select(col("vec_id").as("v1"), col("v").as("va"), col("norm").as("na"))
    val b = v.select(col("vec_id").as("v2"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        cosine(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Embedding-cosine near-dup at scale: multi-table banded sign-LSH.
    * A pair is a candidate iff it collides in ≥1 of nTables independent
    * bucket tables (bandPlanes sign bits each); candidates are verified
    * with exact cosine. Single-table sign-LSH has near-zero recall at
    * moderate similarity (collision prob ≈ (1−θ/π)^nPlanes ≈ 2% at
    * sim 0.35 with 8 planes); banding fixes the S-curve: recall =
    * 1−(1−p^bandPlanes)^nTables ≈ 0.91 at sim 0.35 with 4×16 — the
    * standard multi-table LSH design (Indyk–Motwani / Andoni e2LSH
    * lineage), recall-tested against the exact baseline in LlmSpec.
    *
    * Scale: candidate generation is an equi-join on (t, bucket) —
    * shuffle O(n·nTables), never O(n²); the exact-cosine verify join
    * touches only the candidate set, and `maxBucket` drops degenerate
    * buckets before the quadratic intra-bucket expansion.
    *
    * Parameter honesty: candidate selectivity is (p_near/p_rand)^
    * bandPlanes per table. At production near-dup thresholds (sim ≥ 0.8,
    * p ≥ 0.8) bandPlanes 16 with ~32 tables keeps candidates O(n) with
    * recall ≥ 0.95. The declared q36 threshold (0.35, θ ≈ 69° — nearly
    * orthogonal) is what the synthetic corpus's near-dups look like;
    * there sign-LSH selectivity is inherently weak (p_near 0.61 vs
    * p_rand 0.5), so the 4×16 parameters buy recall at the cost of a
    * dense candidate set — the operator's scale posture comes from the
    * parameters, which are per-call, not from the plan shape changing.
    * Output: (v1, v2, sim), v1 &lt; v2. */
  def cosineNearDupsLsh(emb: DataFrame, threshold: Double,
                        nTables: Int = 16, bandPlanes: Int = 4,
                        dim: Int = 64, maxBucket: Int = 100000): DataFrame = {
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val bt = banded(emb, nTables, bandPlanes, dim)
      .select(col("vec_id"), col("t"), col("bucket"))
    // Candidate generation as ONE groupBy + intra-bucket explode (the
    // minhashCandidates/simhashNearDups shape, which replaced this
    // path's earlier window-cap + self-join: same single (t, bucket)
    // shuffle, but a hash-agg instead of the self-join's two SMJ sorts
    // over the reused exchange). The size bound is the skew guard: a
    // degenerate bucket — boilerplate or exact-duplicate-heavy corpora
    // put a huge fraction of vectors in one (t, bucket) — is dropped
    // before the quadratic intra-bucket pair expansion. Only ids are
    // collected (8 bytes × ≤ maxBucket per agg buffer), never vectors.
    val cands = bt.groupBy("t", "bucket")
      .agg(collect_list(col("vec_id")).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(col("ids")).as("v1"), col("ids"))
      .select(col("v1"), explode(col("ids")).as("v2"))
      .where(col("v1") < col("v2"))
      .distinct()
    cands
      .join(v.select(col("vec_id").as("v1"), col("v").as("va")), "v1")
      .join(v.select(col("vec_id").as("v2"), col("v").as("vb")), "v2")
      .select(col("v1"), col("v2"),
        graft.functions.VectorExprs.cosineSim("va", "vb").as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Deterministic coarse-quantizer centroid set: the first `nlist`
    * vectors by id (a production pipeline would k-means-refine; the
    * dataflow downstream is identical). */
  private def ivfCentroids(v: DataFrame, nlist: Int): DataFrame =
    v.orderBy("vec_id").limit(nlist)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))

  /** Nearest-centroid assignment: (vec_id, v, norm, cid) — one broadcast
    * pass over the corpus (argmax cosine against nlist rows), ties to
    * the lowest centroid id. The shared spine of the IVF kNN and the
    * cluster-dedup paths. */
  def ivfAssign(emb: DataFrame, nlist: Int): DataFrame = {
    val v = vectors(emb)
    ivfAssign(v, ivfCentroids(v, nlist))
  }

  /** [[ivfAssign]] of a [[vectors]] frame against given centroids. */
  private def ivfAssign(v: DataFrame, cents: DataFrame): DataFrame =
    nearestCentroids(v, "vec_id", "v", "norm", cents, 1)
      .select("vec_id", "v", "norm", "cid")

  /** Rank-biased precision (Moffat &amp; Zobel, TOIS 2008 — the
    * user-persistence ranking metric whose weights form an exact
    * geometric series, and whose RESIDUAL bounds what unjudged tail
    * items could still contribute): over the q231 cosine ranking with
    * binary label-match relevance,
    * RBP = (1−p)·Σ_{i≤k} rel_i·p^{i−1} with the DYADIC persistence
    * p = ½ — every weight is an exact power of two (the q213 rule),
    * so the sum is one order-free dsum; residual = p^k exactly.
    *
    * Scale: q231's broadcast-query candidate pass + one per-query
    * top-k window; the metric itself is O(queries). */
  def rbpAtK(emb: DataFrame, nQuery: Int, k: Int): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb, col("label").cast("long").as("label"))
    val q = v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    val cand = v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim"))
    topK(cand, k)
      .groupBy("qid")
      .agg(sum(col("rel")).as("n_rel_topk"),
        dsum(col("rel").cast("double")
          * pow(lit(0.5), col("rnk").cast("double") - lit(1.0))).as("gs"))
      .select(col("qid"), col("n_rel_topk"),
        femit(col("gs") * lit(0.5)).as("rbp"),
        femit(lit(math.pow(0.5, k))).as("residual"))
      .orderBy("qid")
  }

  /** Exposure fairness of a ranking (Singh &amp; Joachims, KDD 2018's
    * exposure allocation read over the q231 retrieval surface): the
    * position-discounted exposure 1/ln(rank+1) (the q231 DCG discount,
    * kept for oracle parity) that each LABEL GROUP receives across all
    * query top-k lists, against the group's corpus share — the
    * disparity ratio &gt; 1 means the ranking over-exposes the group
    * relative to its prevalence, the audit a retrieval curation
    * pipeline runs before serving.
    *
    * Scale: one broadcast-query candidate pass + per-query top-k
    * window; exposure reduces to label grain (≤ |labels| rows); corpus
    * shares are one hash-agg. */
  def exposureFairness(emb: DataFrame, nQuery: Int, k: Int): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb, col("label").cast("long").as("label"))
    val corp = v.groupBy("label").agg(count(lit(1)).as("n_corpus"))
    val nTot = corp.agg(sum(col("n_corpus")).as("n_total"))
    val q = v.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    val top = topK(v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
    val expo = top.groupBy("label")
      .agg(dsum(lit(1.0) / log(col("rnk").cast("double") + lit(1.0)))
        .as("exposure"))
    val eTot = expo.agg(dsum(col("exposure")).as("e_total"))
    corp.join(expo, Seq("label"), "left")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(eTot))
      .select(col("label"), col("n_corpus"),
        femit(col("n_corpus").cast("double") / col("n_total").cast("double"))
          .as("share_corpus"),
        femit(coalesce(col("exposure"), lit(0.0))).as("exposure"),
        femit(coalesce(col("exposure"), lit(0.0)) / col("e_total"))
          .as("share_exposure"),
        femit((coalesce(col("exposure"), lit(0.0)) / col("e_total"))
          / (col("n_corpus").cast("double") / col("n_total").cast("double")))
          .as("disparity"))
      .orderBy("label")
  }

  /** Team-draft interleaving (Radlinski, Kurup &amp; Joachims, CIKM
    * 2008 — the online ranker-comparison protocol: two rankers draft
    * alternately into one interleaved list, a user's clicks credit
    * the team that drafted the clicked item, and the per-query win
    * counts give an unbiased pairwise preference): ranker A = the
    * full-dimension q231 cosine ranking; ranker B = the 4-dim
    * truncated (q122 Matryoshka-prefix) ranking — a genuinely
    * different, cheaper ranker, so the protocol has something to
    * detect. "Clicks" are label-match relevance (the q231 proxy).
    *
    * The draft is DERANDOMIZED: round r's first pick goes to A iff
    * (qid + r) is even — the per-query, per-round coin the protocol
    * needs, as integer parity instead of RNG (the fnv-derandomization
    * convention), replayed identically by the oracle. Each of the
    * `depth` picks is a closed-form expression — first element of the
    * drafting team's pool not yet picked — generated as one column
    * per step (the PACF two-stage-per-level discipline applied to a
    * draft), with try_element_at guarding pool exhaustion.
    *
    * Scale: two broadcast-query ranking passes + per-query top-`poolK`
    * windows; the draft itself runs on ONE row per query. */
  def teamDraftInterleave(emb: DataFrame, nQuery: Int = 10,
      depth: Int = 10, poolK: Int = 20): DataFrame = {
    import graft.rel.Queries.femit
    val v = vectors(emb, col("label").cast("long").as("label"))
    val vt = vectors(emb.withColumn("embedding", slice(col("embedding"), 1, 4)))
    val q = v.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    val qt = vt.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"))
      .where(col("qid") < nQuery)
    val relTab = v.crossJoin(broadcast(q.select("qid", "qlabel")))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"))
      .localCheckpoint() // click join for all steps
    def pool(side: DataFrame, queries: DataFrame): DataFrame =
      topK(side.crossJoin(broadcast(queries))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), poolK)
        .groupBy("qid")
        .agg(transform(array_sort(collect_list(struct(col("rnk"),
          col("vec_id")))), p => p.getField("vec_id")).as("arr"))
    var base = pool(v, q.select("qid", "qv", "qnorm"))
      .withColumnRenamed("arr", "aa")
      .join(pool(vt, qt).withColumnRenamed("arr", "ab"), Seq("qid"))
    for (i <- 1 to depth) {
      val r = (i + 1) / 2
      val firstIsA = (col("qid") + lit(r.toLong)) % 2L === 0L
      val teamA = if (i % 2 == 1) firstIsA else !firstIsA
      val prior = if (i == 1) array()
        else array((1 until i).map(j => col(s"p$j")): _*)
      // null-pick guard (ADVICE r12): once any prior pick is null
      // (pool exhausted at depth > usable pool), array_contains over a
      // null-bearing array returns NULL for non-members and the bare
      // negation would drop EVERY candidate — coalesce to false so
      // exhaustion stays per-slot, not contagious (oracle mirrors).
      def pick(arr: Column) =
        if (i == 1) try_element_at(arr, lit(1))
        else try_element_at(
          filter(arr, x =>
            !coalesce(array_contains(prior, x), lit(false))), lit(1))
      base = base
        .withColumn(s"t$i", when(teamA, 0L).otherwise(1L))
        .withColumn(s"p$i",
          when(teamA, pick(col("aa"))).otherwise(pick(col("ab"))))
    }
    // r15: ONE explode instead of a depth-way unionAll of selects —
    // the union legs pruned different p$i/t$i columns, so no two
    // subtrees were identical and exchange reuse never fired: every
    // leg re-ran BOTH ranking pool passes (80 parquet scans / 120
    // windows in the q418 before-plan). Same rows, one pass.
    val picks = base.select(col("qid"),
        explode(array((1 to depth).map(i =>
          struct(lit(i.toLong).as("step"), col(s"p$i").as("vec_id"),
            col(s"t$i").as("team"))): _*)).as("pk"))
      .select(col("qid"), col("pk.step").as("step"),
        col("pk.vec_id").as("vec_id"), col("pk.team").as("team"))
    picks.join(relTab, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(when(col("team") === 0L, coalesce(col("rel"), lit(0L)))
          .otherwise(0L)).as("clicks_a"),
        sum(when(col("team") === 1L, coalesce(col("rel"), lit(0L)))
          .otherwise(0L)).as("clicks_b"))
      .select(col("qid"), col("clicks_a"), col("clicks_b"),
        when(col("clicks_a") > col("clicks_b"), 1L)
          .when(col("clicks_a") < col("clicks_b"), -1L)
          .otherwise(0L).as("pref"))
      .orderBy("qid")
  }

  /** The IVF-seeded graph loop shared by [[nnDescent]] (which audits
    * every stage) and [[mutualKnnClusters]] (which consumes only the
    * converged graph): returns the vector frame and the per-stage
    * (label, graph, newEdgeDelta) list, each graph localCheckpointed,
    * with the delta-0 fixpoint early exit (later stages repeat the
    * converged graph verbatim — see [[nnDescent]]). */
  private def nnDescentStages(emb: DataFrame, k: Int, nlist: Int,
                              capNbr: Int, maxRounds: Int)
      : (DataFrame, Seq[(String, DataFrame, Long)]) = {
    val v = vectors(emb)
      .localCheckpoint() // centroid read + per-round vector-fetch joins
    // multi-assign: 2 nearest cells per node
    val assigned = nearestCentroids(v, "vec_id", "v", "norm", ivfCentroids(v, nlist), 2)
      .select(col("vec_id"), col("cid"))
      .localCheckpoint() // both sides of the seed join
    val seedCand = assigned.select(col("cid"), col("vec_id").as("u"))
      .join(assigned.select(col("cid"), col("vec_id").as("w")), Seq("cid"))
      .where(col("u") =!= col("w"))
      .select("u", "w").distinct()
    def score(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("vec_id").as("u"), col("v").as("uv"),
        col("norm").as("un")), Seq("u"))
      .join(v.select(col("vec_id").as("w"), col("v").as("wv"),
        col("norm").as("wn")), Seq("w"))
      .select(col("u"), col("w"),
        cosine(col("uv"), col("wv"), col("un"), col("wn")).as("sim"))
    def top(g: DataFrame, n: Int): DataFrame = topK(g, n, by = "u", tie = "w")
    val g0 = top(score(seedCand), k).select("u", "w", "sim")
      .localCheckpoint() // reused: round 1, merge, audit
    def round(g: DataFrame): DataFrame = {
      val und = g.select(col("u"), col("w"), col("sim"))
        .unionAll(g.select(col("w").as("u"), col("u").as("w"), col("sim")))
      val capped = top(und, capNbr)
        .select(col("u").as("m"), col("w").as("nbr"))
      val cand = capped.select(col("m"), col("nbr").as("a"))
        .join(capped.select(col("m"), col("nbr").as("b")), Seq("m"))
        .where(col("a") =!= col("b"))
        .select(col("a").as("u"), col("b").as("w")).distinct()
      top(g.unionAll(score(cand))
        .groupBy("u", "w").agg(max(col("sim")).as("sim")), k)
        .select("u", "w", "sim")
        .localCheckpoint() // delta count + next round + audit
    }
    // Zero-padded stage labels (ADVICE r13): "r10" < "r2" in string
    // order would scramble the audit for maxRounds >= 10; two digits
    // keep label order = round order (and the cap keeps it honest).
    require(maxRounds <= 99, s"maxRounds $maxRounds exceeds label width")
    var g = g0
    var stages = Vector[(String, DataFrame, Long)](("r00_seed", g0, g0.count()))
    var converged = false
    for (r <- 1 to maxRounds) {
      if (!converged) {
        val gNew = round(g)
        val delta = gNew.join(g, Seq("u", "w"), "left_anti").count()
        stages :+= ((f"r$r%02d", gNew, delta))
        if (delta == 0L) converged = true
        g = gNew
      } else {
        // fixpoint: later rounds reproduce the converged graph verbatim
        stages :+= ((f"r$r%02d", g, 0L))
      }
    }
    (v, stages)
  }

  /** Every NN-descent stage graph as ONE persistable frame
    * (stage, delta_edges, u, w, sim) — the materialization unit of the
    * fingerprint-stamped `nn_graph_store` (VERDICT r13 item 3: q417
    * and q435 each re-ran the whole stage chain per pass; the chain is
    * a per-fixture BUILD, its consumers are probes). The per-stage
    * delta rides along as a column so the audit needs no re-diff. */
  def nnDescentStageFrame(emb: DataFrame, k: Int = 5, nlist: Int = 16,
                          capNbr: Int = 32, maxRounds: Int = 3): DataFrame = {
    val (_, stages) = nnDescentStages(emb, k, nlist, capNbr, maxRounds)
    stages.map { case (label, g, delta) =>
      g.select(lit(label).as("stage"), lit(delta).as("delta_edges"),
        col("u"), col("w"), col("sim"))
    }.reduce(_ unionAll _)
  }

  /** The q417 per-stage recall audit, driven from a pre-built stage
    * frame ([[nnDescentStageFrame]], usually read back from the
    * stamped store): recomputes only the bounded exact top-k over the
    * `auditN` query slice and joins it against the stored graphs — the
    * expensive stage chain is never re-run. Output is identical to the
    * historical from-scratch q417 row set. */
  def nnDescentAudit(emb: DataFrame, stageFrame: DataFrame, k: Int = 5,
                     auditN: Int = 50): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb)
    // q is a cheap filtered projection — recomputed per consumer so the
    // audit plan stays scan-only (no checkpoint RDD in the probe path)
    val q = v.where(col("vec_id") < auditN)
      .select(col("vec_id").as("u"), col("v").as("qv"), col("norm").as("qn"))
    val exact = topK(v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("u"))
      .select(col("u"), col("vec_id").as("w"),
        cosine(col("v"), col("qv"), col("norm"), col("qn")).as("sim")),
      k, by = "u", tie = "w").select("u", "w")
    val stageMeta = stageFrame.groupBy("stage")
      .agg(count(lit(1)).as("n_edges"), min(col("delta_edges")).as("delta_edges"))
    val hits = stageFrame.where(col("u") < auditN)
      .join(exact, Seq("u", "w"), "left_semi")
      .groupBy("stage", "u").agg(count(lit(1)).as("h"))
    // every (query, stage) cell, zero-filled — both grids are bounded
    val qGrid = q.select("u")
      .crossJoin(broadcast(stageFrame.select("stage").distinct()))
    val rec = qGrid.join(hits, Seq("stage", "u"), "left")
      .groupBy("stage").agg(count(lit(1)).as("n_audit"),
        dsum(coalesce(col("h"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("sr"))
    rec.join(stageMeta, Seq("stage"))
      .select(col("stage"), col("n_audit"), col("n_edges"),
        col("delta_edges"),
        femit(col("sr") / col("n_audit").cast("double")).as("avg_recall"))
      .orderBy("stage")
  }

  /** NN-descent refinement TO CONVERGENCE over an IVF-seeded kNN
    * graph (Dong, Moses &amp; Li, WWW 2011 — THE way kNN graphs are
    * built at scale: start from any cheap approximate neighborhood,
    * then iterate "a neighbor of my neighbor is probably my neighbor"
    * until the update count dries up; each round is pure joins, which
    * is why the algorithm maps to a distributed engine where
    * graph-traversal ANN like HNSW does not): seed G₀ = per-node
    * top-k cosine among nodes sharing either of the node's TWO
    * nearest IVF cells (multi-assignment matters: single-cell seeding
    * is CLOSED under the co-neighbor step — every neighbor-of-neighbor
    * stays in the same cell and the round provably gains nothing,
    * measured recall 0.416 → 0.416 on this fixture; with 2 cells per
    * node the expansion chains across cell overlaps), then `maxRounds`
    * co-neighbor rounds (VERDICT r12 item 2 — the paper's loop, not a
    * single pass): each round symmetrizes Gᵣ, caps each middle node's
    * adjacency at `capNbr` by similarity rank (NN-descent's ρ
    * sampling, the hub-blowup guard), pairs every two capped
    * neighbors of a shared middle, scores the distinct new pairs, and
    * re-takes the per-node top-k over Gᵣ ∪ candidates.
    *
    * Convergence protocol: a round with delta = 0 new edges is a
    * FIXPOINT (the next round's candidates derive only from the
    * unchanged graph, so every later round reproduces it verbatim) —
    * the driver stops expanding there and emits the converged stats
    * for the remaining stage rows, while the oracle unrolls all
    * `maxRounds` rounds and lands on the identical table. Per-round
    * graphs are localCheckpointed (the q46 CC pacing pattern), so the
    * lineage never re-derives a prior round.
    *
    * Output is the CONVERGENCE AUDIT — one row per stage (seed +
    * every round) with the new-edge delta and recall@k against the
    * exact top-k on the bounded audit slice (vec_id &lt; `auditN`,
    * the JL audit-pool convention: the exact pass broadcasts only
    * audit queries, never corpus²; at 100 TB the recall audit stays a
    * sampled probe exactly like this) — so the gate certifies each
    * round's gain AND the drying-up of the update stream.
    *
    * Scale: every step is an equi-join keyed by cell / middle node /
    * pair — no global sort, no corpus cross join; the co-neighbor
    * candidate volume is Σ_m deg_capped(m)² with deg ≤ capNbr by
    * construction, and round COUNT (bounded by `maxRounds`, with the
    * delta-0 early exit) dominates over data growth. The SEED join is
    * O(N²/nlist), so `nlist` must scale ~√N (the standard IVF
    * coarse-quantizer sizing rule): ScaleProbe measured the
    * fixed-nlist failure mode directly — 8.2 s → 391 s at 10× with
    * nlist frozen at 16 (quadratic), vs the √N-scaled configuration
    * it now records per round.
    * Determinism: raw-double sim ordering with id tiebreaks (the
    * q21/q35 convention — both engines hold identical cosines), the
    * seed∪candidate merge is a (u,w) max-agg of identical values, and
    * the delta is an exact anti-join count. */
  def nnDescent(emb: DataFrame, k: Int = 5, nlist: Int = 16,
                capNbr: Int = 32, auditN: Int = 50,
                maxRounds: Int = 3): DataFrame =
    nnDescentAudit(emb,
      nnDescentStageFrame(emb, k, nlist, capNbr, maxRounds), k, auditN)

  /** MUTUAL-kNN clustering over the converged NN-descent graph — the
    * reciprocal-nearest-neighbor pruning step (the core of RNN-DBSCAN,
    * Bryant &amp; Cios TKDE 2018, and the usual cluster-proposal stage
    * over an ANN graph: a directed kNN edge is weak evidence, a
    * RECIPROCATED one is strong): keep edge {u,w} iff u ∈ kNN(w) AND
    * w ∈ kNN(u), then connected-components over the surviving
    * undirected graph ([[graft.llm.Dedup.connectedComponents]]'s
    * min-label + pointer-jumping loop), and emit the cluster census —
    * per cluster-size histogram row: number of clusters, docs covered
    * — plus the isolated-node row (corpus minus clustered), the shape
    * a dedup/topic pipeline reads before deciding what to collapse.
    *
    * Determinism: the graph is [[nnDescent]]'s (hash-checked there);
    * reciprocity is an exact self-join; CC is the exact min-label
    * fixpoint; the census is integer.
    *
    * Scale: reciprocity is one (u,w)-keyed self-join of a k·N-edge
    * table; CC rounds are the q65 loop (driver-paced, localCheckpoint
    * per round); the census is O(distinct sizes). */
  def mutualKnnClusters(emb: DataFrame, k: Int = 5, nlist: Int = 16,
                        capNbr: Int = 32, maxRounds: Int = 3): DataFrame =
    mutualKnnFromStages(emb,
      nnDescentStageFrame(emb, k, nlist, capNbr, maxRounds))

  /** [[mutualKnnClusters]] driven from a pre-built stage frame (the
    * stamped `nn_graph_store`): consumes only the LAST stage (the
    * converged graph — zero-padded labels make max(stage) the final
    * round) and runs reciprocity + CC + census from there. */
  def mutualKnnFromStages(emb: DataFrame, stageFrame: DataFrame): DataFrame = {
    val lastStage = stageFrame.agg(max(col("stage"))).head().getString(0)
    val g = stageFrame.where(col("stage") === lastStage)
      .select("u", "w", "sim")
    val mutual = g.select("u", "w")
      .join(g.select(col("w").as("u"), col("u").as("w")), Seq("u", "w"),
        "left_semi")
      .where(col("u") < col("w"))
      .select(col("u").as("d1"), col("w").as("d2"))
      .localCheckpoint() // CC loop + edge count
    val nEdges = mutual.count()
    val comp = graft.llm.Dedup.connectedComponents(mutual)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("sz"))
    val nTotal = emb.count()
    val hist = sizes.groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"))
    val clustered = comp.count()
    hist.unionAll(
      emb.sparkSession.range(1).select(lit(1L).as("cluster_size"),
        lit(nTotal - clustered).as("n_clusters"),
        lit(nTotal - clustered).as("n_docs")))
      .withColumn("n_mutual_edges", lit(nEdges))
      .orderBy("cluster_size", "n_clusters")
  }

  /** Matryoshka / truncated-dimension kNN — the DIMENSION-reduction
    * axis of approximate vector search (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022: prefix sub-vectors of an
    * MRL-trained embedding are usable embeddings; for the synthetic
    * vectors here the prefix is just a lossy projection, which is
    * exactly what makes the recall column informative): exact cosine
    * top-k over the first `dims` coordinates renormalized, with each
    * hit flagged against the FULL-dimension top-k. At 100 TB the
    * truncated pass reads `dims/fullDim` of the vector bytes (a
    * columnar store can even push the truncation into the scan) and is
    * the standard cheap first stage before an exact rerank — the
    * compression complement of [[sq8Knn]] (which keeps all dims at
    * lower precision).
    *
    * Both rankings are deterministic (fixed-order fold, id tiebreak),
    * so the overlap flag is value-oracled too. Plan: two broadcast
    * query passes over the corpus + a k×nQuery row flag join. */
  def truncatedKnn(emb: DataFrame, nQuery: Int, k: Int, dims: Int): DataFrame = {
    val tr = vectors(emb.withColumn("embedding", slice(col("embedding"), 1, dims)))
    val q = tr.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("norm").as("qnorm")).where(col("qid") < nQuery)
    val trunc = topK(tr.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
    val full = cosineKnn(emb, nQuery, k)
      .select(col("qid"), col("vec_id"), lit(true).as("hit"))
    trunc.join(full, Seq("qid", "vec_id"), "left_outer")
      .select(col("qid"), col("rnk"), col("vec_id"), col("sim"),
        coalesce(col("hit"), lit(false)).as("in_full_topk"))
  }

  /** Lloyd's k-means refinement of the IVF coarse quantizer, entirely
    * in-plan (no driver-side centroid collection): each iteration is the
    * broadcast argmax assignment followed by per-(cluster, dimension)
    * means, reshaped back into centroid vectors. The means accumulate in
    * exact DECIMAL(38,12) ([[graft.rel.Queries.dsum]] pattern), so the
    * refined centroids are bit-identical regardless of partitioning,
    * engine, or row order — an *oracle-checkable training step*.
    *
    * Scale: per iteration, one broadcast pass over the corpus (no
    * shuffle of the vectors) + one exploded groupBy of nlist×dim cells
    * with map-side partial aggregation; the centroid rebuild is an
    * nlist-row aggregate. Clusters that lose all members drop out (k
    * shrinks), matching the textbook algorithm.
    *
    * Output: (cid, dim, c) — refined centroid coordinates, exploded for
    * cross-engine comparability. */
  def kmeansRefine(emb: DataFrame, nlist: Int, iters: Int): DataFrame = {
    val v = vectors(emb)
    var cents = ivfCentroids(v, nlist)
    for (it <- 1 to iters) {
      val means = nearestCentroids(v, "vec_id", "v", "norm", cents, 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg((graft.rel.Queries.dsum(col("x")) / count(lit(1))).as("c"))
      cents = means.groupBy("cid")
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("p"))
        .select(col("cid"), transform(col("p"), e => e.getField("c")).as("cv"))
        .withColumn("cn", norm(col("cv")))
      // Truncate lineage between iterations: without this, iteration N's
      // plan NESTS the whole of iteration N-1's (analysis + codegen cost
      // superlinear in iters — fine at 1-3, fatal at a production
      // quantizer's 10+). The checkpointed frame is nlist rows, so the
      // eager materialization is one corpus pass per iteration — exactly
      // the work Lloyd's algorithm does anyway. (localCheckpoint =
      // executor-local blocks; a fault-tolerant cluster run would use
      // spark.checkpoint against reliable storage — same plan shape.)
      if (it < iters) cents = cents.localCheckpoint()
    }
    cents.select(col("cid"), posexplode(col("cv")).as(Seq("dim", "c")))
      .select(col("cid"), col("dim").cast("long").as("dim"), col("c"))
  }

  /** Per-label class centroids over the embedding corpus — the
    * nearest-class-mean building block (labeled-anchor quality
    * filtering, classifier-free class prototypes, per-source embedding
    * drift monitoring). One exploded groupBy of |labels|×dim cells with
    * map-side partial aggregation — the [[kmeansRefine]] mean step
    * keyed by a data column instead of an assignment. Means accumulate
    * in exact DECIMAL(38,12) ([[graft.rel.Queries.dsum]]) so they are
    * bit-identical on any engine or row order.
    * Output: (label, dim, c, n_members). */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label").cast("long").as("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((graft.rel.Queries.dsum(col("x")) / count(lit(1))).as("c"),
        count(lit(1)).as("n_members"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("c"), col("n_members"))
      .orderBy("label", "dim")

  /** SemDedup-style embedding-cluster dedup (Abbas et al. 2023 flavor):
    * cluster the corpus with the coarse quantizer, keep the lowest
    * vec_id per cluster as its representative, and report every other
    * member whose cosine to the representative is ≥ `threshold` — the
    * semantic near-duplicates a pretraining pipeline would drop.
    *
    * Scale: assignment is the broadcast argmax pass (no shuffle of the
    * corpus), reps are an nlist-row aggregate, and the verify join is
    * broadcast-by-centroid — the corpus streams once end to end;
    * cluster-size skew is ordinary equi-join skew (AQE-splittable),
    * never an all-pairs expansion. Output: (vec_id, rep_id, sim). */
  def clusterDedup(emb: DataFrame, threshold: Double,
                   nlist: Int = 16): DataFrame = {
    val assigned = ivfAssign(emb, nlist)
    val reps = assigned.groupBy("cid").agg(min(col("vec_id")).as("rep_id"))
    val repVecs = assigned.as("ra")
      .join(reps.as("rp"), col("ra.vec_id") === col("rp.rep_id"))
      .select(col("rp.cid").as("rcid"), col("rp.rep_id").as("rep_id"),
        col("ra.v").as("rv"), col("ra.norm").as("rn"))
    assigned.as("m").join(broadcast(repVecs), col("m.cid") === col("rcid"))
      .where(col("m.vec_id") =!= col("rep_id"))
      .select(col("m.vec_id").as("vec_id"), col("rep_id"),
        cosine(col("m.v"), col("rv"), col("m.norm"), col("rn")).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** IVF-flat approximate kNN — the other scale path (coarse quantizer +
    * probed inverted lists). Centroids are the first `nlist` vectors
    * (deterministic seed set; a production pipeline would k-means-refine
    * them — the dataflow is identical): every vector is assigned to its
    * nearest centroid (one broadcast pass), queries probe the `nprobe`
    * nearest lists, and exact cosine ranks within the probed union.
    * Candidate work per query is ~nprobe/nlist of the corpus. */
  def ivfKnn(emb: DataFrame, nQuery: Int, k: Int,
             nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val v = vectors(emb)
    val centroids = ivfCentroids(v, nlist)
    val assigned = ivfAssign(emb, nlist)
    // probe lists: nprobe nearest centroids per query vector
    val q = v.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val probes = nearestCentroids(q, "qid", "qv", "qnorm", centroids, nprobe)
      .select(col("qid"), col("qv"), col("qnorm"), col("cid"))
    // rank exact cosine within the probed lists
    topK(assigned.join(probes, Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** Persist the IVF-flat index (the q75-signature-store move applied
    * to vector search): the coarse-quantizer centroid table and the
    * nearest-centroid assignments (= the inverted lists), the
    * assignments written BUCKETED by `cid` via
    * [[graft.rel.Layout.writeBucketedBy]]. At 100 TB nobody re-trains
    * the quantizer or re-assigns the corpus per query batch — the
    * index is built once per corpus generation and PROBED from a fresh
    * read ([[ivfKnnFromIndex]]); the cid bucket layout makes every
    * cid-keyed maintenance pass over the lists (size stats, rebalance
    * candidates, merge of a new batch's assignments) exchange-free
    * (PlanSpec-pinned `Bucketed: true`). Centroids are an nlist-row
    * table — plain saveAsTable. */
  def ivfIndexWrite(emb: DataFrame, nlist: Int,
                    assignTable: String, centroidTable: String,
                    buckets: Int): Unit = {
    val s = emb.sparkSession
    val v = vectors(emb)
    graft.rel.Layout.writeBucketedBy(
      ivfAssign(emb, nlist), assignTable, buckets, "cid")
    s.sql(s"DROP TABLE IF EXISTS `$centroidTable`")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), centroidTable.toLowerCase)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    ivfCentroids(v, nlist).write.mode("overwrite").format("parquet")
      .saveAsTable(centroidTable)
  }

  /** Incremental maintenance of the persisted IVF index
    * ([[ivfIndexWrite]]): assign a NEW vector batch against the
    * EXISTING centroid table (one broadcast argmax pass over the batch
    * — the quantizer is not re-trained; that is the whole point of a
    * coarse quantizer) and APPEND the assignments into the persisted
    * inverted-list table via [[graft.rel.Layout.appendBucketedBy]].
    * Update cost is O(new batch), never O(index): each append adds one
    * file per non-empty cid bucket, and the scan stays `Bucketed:
    * true` across appends (PlanSpec-pinned), so probes and cid-keyed
    * maintenance remain exchange-free — the vector-search twin of the
    * q100 signature-store fold-in. */
  def ivfIndexAppend(fresh: DataFrame, assignTable: String,
                     centroidTable: String, buckets: Int): Unit = {
    val asg = ivfAssign(vectors(fresh), fresh.sparkSession.table(centroidTable))
    graft.rel.Layout.appendBucketedBy(asg, assignTable, buckets, "cid")
  }

  /** IVF kNN probing a PERSISTED index ([[ivfIndexWrite]]) instead of
    * rebuilding it: bit-identical to [[ivfKnn]] with the same
    * parameters (array&lt;double&gt; and the norms round-trip parquet
    * exactly; the fold order of every cosine is unchanged), so the two
    * share one oracle. The query batch arrives as ordinary embedding
    * rows (a production query set is external to the index). Plan
    * shape: centroids and the nprobe probe set are broadcast, so the
    * persisted lists stream once with NO shuffle before the final
    * per-query top-k window — query latency is O(corpus·nprobe/nlist)
    * scan + one k-row window per query, independent of index build
    * cost. */
  def ivfKnnFromIndex(queries: DataFrame, nQuery: Int, k: Int, nprobe: Int,
                      assignTable: String, centroidTable: String): DataFrame = {
    val s = queries.sparkSession
    val centroids = s.table(centroidTable)
    val asg = s.table(assignTable)
    val q = vectors(queries.where(col("vec_id") < nQuery))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val probes = nearestCentroids(q, "qid", "qv", "qnorm", centroids, nprobe)
      .select(col("qid"), col("qv"), col("qnorm"), col("cid"))
    topK(asg.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv"), col("norm"), col("qnorm")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** Sequential left-fold sum over BIGINT terms — exact integer
    * accumulation (order-free, but kept as a fold for symmetry with
    * [[fsum]]). */
  private def isum(arr: Column): Column =
    aggregate(arr, lit(0L), (s, x) => s + x)

  /** (vec_id, v, norm, scale, qv): the corpus with each vector's int8
    * scalar quantization — scale = max |v_i| (1.0 for an all-zero
    * vector), code_i = floor(v_i / scale · 127 + 0.5) ∈ [−127, 127].
    * Pure per-row projection, no shuffle. */
  private def sq8(emb: DataFrame): DataFrame = {
    val raw = array_max(transform(col("v"), x => abs(x)))
    vectors(emb)
      .withColumn("scale", when(raw === 0.0, lit(1.0)).otherwise(raw))
      .withColumn("qv", transform(col("v"),
        x => floor(x / col("scale") * lit(127.0) + lit(0.5))))
  }

  /** SQ8 (int8 scalar-quantized) kNN with exact rerank — the vector
    * COMPRESSION axis of the ANN toolbox, orthogonal to (and composable
    * with) the IVF/LSH candidate-pruning axis: the resident index holds
    * 64 int8 codes + one scale per vector (16× smaller than the double
    * form, 4× smaller than float32), the first pass ranks by the
    * integer dot product dequantized to a cosine estimate
    * (est = idot · scale_a · scale_b / 127² / (‖a‖‖b‖)), and only the
    * top-`rerank` candidates per query are fetched at full precision
    * for the exact-cosine final ranking — the FAISS SQ8 design
    * (Johnson, Douze & Jégou 2017/2019, public).
    *
    * Determinism: the quantization codes and the integer dot are exact
    * integer math; every double step (scale, norm, the dequantized
    * estimate) is a fixed-order IEEE expression — so the candidate set
    * itself is cross-engine bit-reproducible and the WHOLE pipeline is
    * DuckDB-oracled, not just the exact tail. Recall vs the exact
    * baseline is measured separately in RecallSpec.
    *
    * Scale: pass 1 streams the (compressed) corpus once against a
    * broadcast quantized query set — the win is memory bandwidth and
    * index footprint, which is what bounds a brute-force scan at
    * 100 TB; pass 2 touches only nQuery·rerank rows via a broadcast
    * candidate join. No shuffle before the per-query top-k windows. */
  def sq8Knn(emb: DataFrame, nQuery: Int, k: Int,
             rerank: Int = 20): DataFrame = {
    val z = sq8(emb)
    val codes = z.select(col("vec_id"), col("qv"), col("scale"), col("norm"))
    val q = z.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"),
        col("scale").as("qscale"), col("norm").as("qnorm"))
    val cand = topK(codes.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (isum(zip_with(col("qv"), col("qqv"), (x, y) => x * y)).cast("double")
          * col("scale") * col("qscale") / lit(16129.0)
          / (col("norm") * col("qnorm"))).as("est")), rerank, "est")
      .select(col("qid"), col("vec_id"))
    val full = vectors(emb)
    val qFull = full.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv2"), col("norm").as("qn2"))
    topK(full.join(broadcast(cand), "vec_id")
      .join(broadcast(qFull), "qid")
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv2"), col("norm"), col("qn2")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** Binary-quantized (sign-bit) kNN with a Hamming-distance candidate
    * scan and exact rerank — the EXTREME point of the compression axis
    * after [[sq8Knn]]'s int8: each 64-dim vector collapses to its sign
    * bitmap, packed into two 32-bit words (c0 = dims 0–31, c1 = dims
    * 32–63; bit i set iff v_i exceeds the per-dimension corpus mean —
    * see the centering note in the body), a 32× reduction from float32
    * and 64× from the double form. Pass 1 ranks candidates by Hamming
    * distance popcount(c0⊕q0) + popcount(c1⊕q1) — for unit-ish random
    * vectors E[ham] = d·θ/π where θ is the angle, so the Hamming order
    * approximates the cosine order (Charikar 2002, the same sign-LSH
    * hyperplane bound behind [[cosineNearDupsLsh]]) — and pass 2
    * reranks the top-`rerank` per query at full precision. This is the
    * binary-quantization design modern vector stores ship for
    * billion-vector scans (popcount over packed words is the cheapest
    * distance computable). The default rerank budget is 128 — 25.6× k,
    * deliberately the widest in the family (a 1-bit code is the
    * coarsest quantizer in the toolbox; the rerank pass is where its
    * recall is bought back — the same measured lever that lifted
    * PQ/IVF-PQ in r10; r11 doubled it from 64 after the 0.72 recall
    * sat 0.02 over the old floor, RecallSpec floor now 0.8). Rerank
    * cost stays nQuery·rerank full-precision rows — invisible next to
    * the popcount scan at any corpus size.
    *
    * Determinism: the sign bits, the packing (disjoint bit positions —
    * integer addition of distinct powers of two never carries), and
    * the Hamming popcount are exact integer math in BOTH engines; the
    * candidate set is ordered (ham ASC, vec_id ASC) so pass 1 is
    * cross-engine bit-reproducible, and the exact tail is the q108
    * rerank. The WHOLE pipeline value-oracles. Bits are packed in two
    * 32-bit halves, not one 64-bit word, so no engine ever evaluates
    * `1 &lt;&lt; 63` (the sign-bit overflow DuckDB's BIGINT shift and
    * Spark's `shiftleft` disagree on in error behavior).
    *
    * Scale: the resident index is 2 longs + 1 norm per vector — the
    * corpus streams once against a broadcast query-code table with NO
    * shuffle before the per-query top-k windows; pass 2 touches only
    * nQuery·rerank rows via broadcast joins. Recall vs the exact
    * baseline is floor-pinned in RecallSpec. */
  def binaryKnn(emb: DataFrame, nQuery: Int, k: Int,
                rerank: Int = 128): DataFrame = {
    val v = vectors(emb)
    // CENTERED thresholds: bit i is v_i > mu_i, not v_i > 0 — real
    // embedding dimensions carry nonzero means, and a biased dimension
    // thresholded at zero wastes its bit (always-set). Centering at
    // the per-dimension corpus mean restores ~1 bit of entropy per
    // dimension (the standard binary-quantization centering step).
    // The mean runs on the exact-DECIMAL dsum route so the thresholds
    // — and hence the codes — are cross-engine bit-identical.
    val mu = v.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i")
      .agg((graft.rel.Queries.dsum(col("x")) / count(lit(1))).as("m"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("p"))
      .select(transform(col("p"), e => e.getField("m")).as("mu"))
    def pack(off: Int): Column = expr(
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        s"acc + IF(element_at(v, i + ${off + 1}) > element_at(mu, i + ${off + 1}), " +
        s"shiftleft(1L, i), 0L))")
    val codes = v.crossJoin(broadcast(mu))
      .select(col("vec_id"), pack(0).as("c0"), pack(32).as("c1"))
      .localCheckpoint()
    val q = codes.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("c0").as("q0"), col("c1").as("q1"))
    val wHam = Window.partitionBy("qid").orderBy(col("ham").asc, col("vec_id").asc)
    val cand = codes.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (bit_count(col("c0").bitwiseXOR(col("q0"))) +
          bit_count(col("c1").bitwiseXOR(col("q1")))).cast("long").as("ham"))
      .withColumn("r", row_number().over(wHam))
      .where(col("r") <= rerank)
      .select(col("qid"), col("vec_id"), col("ham"))
    val qFull = v.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv2"), col("norm").as("qn2"))
    topK(v.join(broadcast(cand), "vec_id")
      .join(broadcast(qFull), "qid")
      .select(col("qid"), col("vec_id"), col("ham"),
        cosine(col("v"), col("qv2"), col("norm"), col("qn2")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "ham", "sim")
  }

  /** Johnson–Lindenstrauss random projection with a distortion audit:
    * every 64-dim vector is projected to `dOut` dims through a ±1 sign
    * matrix scaled by 1/√dOut (Achlioptas 2003, "Database-friendly
    * random projections" — the sparse/sign family that needs no
    * Gaussian draws), and for every pair among `maxId` audit vectors
    * the output reports ‖a−b‖², ‖Pa−Pb‖², and their ratio — the
    * quantity the JL lemma bounds (E[ratio] = 1; concentration tightens
    * with dOut). Dimensionality reduction is the cheap front-end of
    * every embedding pipeline here (cluster/LSH/dedup on 16 dims costs
    * ¼ of 64), and the audit is how a pipeline decides whether dOut
    * was enough.
    *
    * Determinism: the sign s(i,j) derandomizes through a well-mixed
    * bit of fnv1a32(i||':'||j) — the repo's sampler convention — so
    * the matrix is a pure function of (i, j) shared by the oracle; the
    * projection folds i in ascending order (sequential IEEE fold, the
    * [[fsum]] rule; the oracle folds a `list(... ORDER BY i)` the same
    * way), and distances/ratios emit through the femit lattice.
    *
    * Scale: the sign matrix is ONE broadcast row (dOut·64 doubles
    * computed once); the projection is a per-row map — no shuffle at
    * any size. The O(maxId²) pair audit is the deliberately-bounded
    * diagnostic tail, not the data path. */
  def randomProjection(emb: DataFrame, dOut: Int = 16,
                       maxId: Long = 30): DataFrame = {
    import graft.rel.Queries.femit
    val s = emb.sparkSession
    val seed = graft.functions.Fnv1a32.Seed
    // sign = whether bit 19 of the hash falls low — NOT parity: the
    // low bit of FNV-1a is the XOR of the input characters' low bits
    // (multiplying by an odd prime preserves parity), so a %2 sign
    // matrix has perfectly anti-correlated columns and is useless as a
    // JL projection. The %1048576 threshold is the repo's sampler
    // convention and reads well-mixed bits.
    val sgn = s.range(1).select(expr(
      s"transform(sequence(0, ${dOut * 64 - 1}), t -> " +
        s"IF(fnv1a32(concat(cast(t % 64 AS STRING), ':', " +
        s"cast(t DIV 64 AS STRING)), ${seed}L) % 1048576 < 524288, " +
        s"CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE)))").as("sgn"))
    val scale = s"CAST(1.0 AS DOUBLE) / sqrt(CAST($dOut AS DOUBLE))"
    val v = vectors(emb.where(col("vec_id") < maxId))
      .crossJoin(broadcast(sgn))
      .select(col("vec_id"), col("v"), expr(
        s"transform(sequence(0, ${dOut - 1}), j -> " +
          s"aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, i) -> " +
          s"acc + element_at(sgn, j * 64 + i + 1) * element_at(v, i + 1), " +
          s"acc -> acc * $scale))").as("p"))
    val a = v.select(col("vec_id").as("v1"), col("v").as("va"), col("p").as("pa"))
    val b = v.select(col("vec_id").as("v2"), col("v").as("vb"), col("p").as("pb"))
    def sq(x: Column, y: Column): Column =
      fsum(zip_with(x, y, (u, w) => (u - w) * (u - w)))
    a.crossJoin(b).where(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        sq(col("va"), col("vb")).as("d2"), sq(col("pa"), col("pb")).as("p2"))
      .select(col("v1"), col("v2"), femit(col("d2")).as("dist2"),
        femit(col("p2")).as("proj_dist2"),
        femit(col("p2") / nullif(col("d2"), lit(0.0))).as("ratio"))
  }

  /** Greedy facility-location data selection (submodular coverage
    * maximization — Nemhauser, Wolsey &amp; Fisher 1978 give the (1−1/e)
    * guarantee; the coreset-selection design of Kaushal et al.'s
    * SIMILAR/CRAIG line): pick `k` exemplars from a bounded candidate
    * pool maximizing Σ_u max_{s∈S} sim(u, s) over the WHOLE corpus —
    * the "which k documents best represent the collection" question a
    * training-data curator asks before spending budget. Each greedy
    * round scores every remaining candidate's marginal gain
    * Σ_u max(sim(u,c) − cov(u), 0), takes the argmax, and folds the
    * winner's similarities into the per-point coverage.
    *
    * Determinism: similarities are exact cosine folds; gains are exact
    * dsum; the argmax orders by the ROUNDED gain with the candidate id
    * as tiebreak (the q207 ranked-by-rounded rule); coverage updates
    * use the RAW similarities. Already-selected candidates are
    * anti-joined out (a zero-gain re-pick would otherwise win ties at
    * saturation).
    *
    * Scale: the candidate pool is bounded (`nCand` — the standard
    * pool restriction that makes greedy submodular selection feasible
    * at corpus scale); the cand×corpus similarity table materializes
    * ONCE (localCheckpoint) and each of the k rounds reads it with a
    * broadcast coverage join — no re-scan of the raw vectors after
    * round 0; rounds are driver-paced like [[kmeansRefine]]/CC. */
  def facilityLocationSelect(emb: DataFrame, nCand: Long = 50,
                             k: Int = 3): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb)
    val cand = v.where(col("vec_id") < nCand)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val sims = v.crossJoin(broadcast(cand))
      .select(col("vec_id").as("uid"), col("cid"),
        cosine(col("v"), col("cv"), col("norm"), col("cn")).as("sim"))
      .localCheckpoint()
    var cov = sims.select(col("uid")).distinct()
      .select(col("uid"), lit(0.0).as("cov")).localCheckpoint()
    var selected = cov.sparkSession.emptyDataFrame
    var out: DataFrame = null
    for (r <- 1 to k) {
      val gains0 = sims.join(cov, "uid")
        .groupBy("cid")
        .agg(dsum(greatest(col("sim") - col("cov"), lit(0.0))).as("gain"))
      val gains = if (r == 1) gains0
        else gains0.join(selected, Seq("cid"), "left_anti")
      val sel = gains
        .select(col("cid"), femit(col("gain")).as("gain"))
        .orderBy(col("gain").desc, col("cid").asc).limit(1)
        .localCheckpoint()
      val sSims = sims.join(broadcast(sel.select(col("cid"))), "cid")
        .select(col("uid"), col("sim"))
      cov = cov.join(sSims, Seq("uid"), "left")
        .select(col("uid"),
          greatest(col("cov"), coalesce(col("sim"), lit(0.0))).as("cov"))
        .localCheckpoint()
      val coverage = cov.agg(dsum(col("cov")).as("covsum"))
      val row = sel.crossJoin(broadcast(coverage))
        .select(lit(r.toLong).as("rnk"), col("cid").as("selected_id"),
          col("gain"), femit(col("covsum")).as("coverage"))
      selected = if (r == 1) sel.select(col("cid")) else
        selected.unionAll(sel.select(col("cid")))
      out = if (out == null) row else out.unionAll(row)
    }
    out.orderBy("rnk")
  }

  /** External clustering evaluation against gold labels (the eval the
    * internal silhouette q204 cannot give): pairwise
    * precision/recall/F1 (Banerjee et al.'s pair-counting family),
    * Rand index, Adjusted Rand (Hubert &amp; Arabie 1985), and purity of
    * the IVF coarse-quantizer clustering vs the `label` column — all
    * from the (cluster, label) contingency table's SUFFICIENT
    * STATISTICS, never materialized pairs: same-cluster pairs
    * Σ n_c(n_c−1)/2, same-label pairs Σ n_l(n_l−1)/2, true-positive
    * pairs Σ_cell c(c−1)/2.
    *
    * Determinism: every pair count is exact BIGINT arithmetic (DIV 2
    * on an even product); each metric is ONE fixed-order IEEE
    * expression over those integers (ARI's expected-index product runs
    * in DOUBLE — at corpus scale same_c·same_l overflows BIGINT);
    * degenerate denominators (all-singleton clusterings) emit NULL via
    * nullif on both engines.
    *
    * Scale: the contingency table is |clusters|×|labels| cells after
    * one map-side-combined hash-agg — everything downstream runs on
    * cells, not rows. One broadcast assignment pass (ivfAssign) is the
    * only corpus-sized work. */
  def clusterEval(emb: DataFrame, nlist: Int = 16): DataFrame = {
    import graft.rel.Queries.femit
    val g = ivfAssign(emb, nlist).select("vec_id", "cid")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val cells = g.groupBy("cid", "label").agg(count(lit(1)).as("c"))
      .localCheckpoint() // |clusters|x|labels| rows; feeds 3 aggregates
    val byc = cells.groupBy("cid")
      .agg(sum(col("c")).as("nc"), max(col("c")).as("mx"))
    val byl = cells.groupBy("label").agg(sum(col("c")).as("nl"))
    val tp = cells.agg(sum(expr("c * (c - 1) DIV 2")).as("tp"))
    val sc = byc.agg(sum(expr("nc * (nc - 1) DIV 2")).as("same_c"),
      sum(col("mx")).as("pure"), count(lit(1)).as("n_clusters"))
    val sl = byl.agg(sum(expr("nl * (nl - 1) DIV 2")).as("same_l"),
      count(lit(1)).as("n_labels"))
    // n from the checkpointed cells (Σc) — NOT from g, which would
    // re-run the whole assignment pipeline for one count
    val nn = cells.agg(sum(col("c")).as("n"))
    val d = (c: String) => col(c).cast("double")
    val expIdx = d("same_c") * d("same_l") / d("allp")
    tp.crossJoin(broadcast(sc)).crossJoin(broadcast(sl))
      .crossJoin(broadcast(nn))
      .withColumn("allp", expr("n * (n - 1) DIV 2"))
      .select(col("n"), col("n_clusters"), col("n_labels"), col("tp"),
        col("same_c").as("same_cluster"), col("same_l").as("same_label"),
        femit(d("tp") / nullif(d("same_c"), lit(0.0))).as("pair_precision"),
        femit(d("tp") / nullif(d("same_l"), lit(0.0))).as("pair_recall"),
        femit((lit(2.0) * d("tp")) /
          nullif(d("same_c") + d("same_l"), lit(0.0))).as("pair_f1"),
        femit((col("allp") - col("same_c") - col("same_l") + col("tp") +
          col("tp")).cast("double") / d("allp")).as("rand_index"),
        femit((d("tp") - expIdx) /
          nullif((d("same_c") + d("same_l")) / lit(2.0) - expIdx, lit(0.0)))
          .as("ari"),
        femit(d("pure") / d("n")).as("purity"))
  }

  /** kNN label transfer (semi-supervised classification at curation
    * time — Zhu &amp; Ghahramani's label-propagation base case, and how a
    * labeled seed set stamps weak labels onto an unlabeled corpus
    * before training a cheap classifier): every probe (held-out
    * `vec_id % 5 = 0`, bounded pool `qid &lt; maxProbe` — the q32
    * bounded-probe convention) takes its `k` nearest LABELED vectors
    * by exact cosine and adopts the majority label (ties → smaller
    * label; vote-count then label is a deterministic total order).
    * Emits (qid, gold, pred, votes, top_sim) so accuracy and the
    * confusion structure read directly off the output.
    *
    * Determinism: similarities are exact fixed-order folds (identical
    * bits cross-engine, the q32 precedent), ranked raw with the vector
    * id tiebreak; votes are exact integers; top_sim rides femit.
    *
    * Scale: the probe batch broadcasts; the labeled store streams
    * ONCE (no shuffle grows with corpus size). Full-corpus labeling
    * swaps the brute-force scan for the IVF candidate path (q35) with
    * the same vote tail. */
  def knnClassify(emb: DataFrame, k: Int = 5,
                  maxProbe: Long = 250): DataFrame = {
    import graft.rel.Queries.femit
    val v = vectors(emb, col("label").cast("long").as("label"))
    val probes = v.where(pmod(col("vec_id"), lit(5L)) === 0 &&
        col("vec_id") < maxProbe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qn"), col("label").as("gold"))
    val store = v.where(pmod(col("vec_id"), lit(5L)) =!= 0)
    val neigh = topK(store.crossJoin(broadcast(probes))
      .select(col("qid"), col("gold"), col("vec_id"), col("label"),
        cosine(col("v"), col("qv"), col("norm"), col("qn")).as("sim")), k)
    val wVote = Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("label").asc)
    neigh.groupBy("qid", "gold", "label")
      .agg(count(lit(1)).as("votes"), max(col("sim")).as("best_sim"))
      .withColumn("vr", row_number().over(wVote))
      .where(col("vr") === 1)
      .select(col("qid"), col("gold"), col("label").as("pred"),
        col("votes"), femit(col("best_sim")).as("top_sim"))
      .orderBy("qid")
  }

  /** Kernel two-sample embedding-drift test: squared Maximum Mean
    * Discrepancy (Gretton et al., JMLR 2012) between two bounded
    * vector samples with the RBF kernel k(a,b) = exp(−γ‖a−b‖²) — the
    * EMBEDDING-level complement of the scalar drift monitors (q181
    * PSI, q170 CUSUM): "did the representation distribution shift
    * between two partitions" is the question a pipeline asks before
    * trusting an index or classifier trained on the old slice. The
    * biased V-statistic MMD² = mean k(x,x') + mean k(y,y') −
    * 2·mean k(x,y) over ALL ordered pairs (diagonal included —
    * documented estimator choice; deterministic, and the bias term
    * 1/n·(1−mean k) cancels in comparisons at fixed n). Samples are
    * the even/odd `vec_id &lt; 2·nSample` halves — the q33 bounded-pair
    * convention.
    *
    * Determinism: ‖a−b‖² = ‖a‖² + ‖b‖² − 2·a·b from the shared
    * fixed-order folds; exp is the libm parity class; the three pair
    * means ride dsum; γ = 1/64 (a fixed literal, not the engine-
    * dependent median heuristic).
    *
    * Scale: both samples are bounded (the estimator's cost is n² by
    * definition — production keeps n at a few thousand per slice and
    * broadcasts one side, which is exactly this plan's shape). */
  def mmdDrift(emb: DataFrame, nSample: Long = 200,
               gamma: Double = 1.0 / 64): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb.where(col("vec_id") < 2 * nSample))
      .withColumn("sq", fsum(transform(col("v"), x => x * x)))
    val x = v.where(pmod(col("vec_id"), lit(2L)) === 0)
      .select(col("vec_id").as("xid"), col("v").as("xv"), col("sq").as("xsq"))
    val y = v.where(pmod(col("vec_id"), lit(2L)) === 1)
      .select(col("vec_id").as("yid"), col("v").as("yv"), col("sq").as("ysq"))
    def kmean(a: DataFrame, b: DataFrame, av: String, bv: String,
              asq: String, bsq: String): DataFrame = {
      val d2 = col(asq) + col(bsq) - lit(2.0) * dot(col(av), col(bv))
      a.crossJoin(broadcast(b))
        .select(exp(lit(-gamma) * d2).as("k"))
        .agg((dsum(col("k")) / count(lit(1)).cast("double")).as("m"),
          count(lit(1)).as("np"))
    }
    val xx = kmean(x, x.select(col("xid").as("yid"), col("xv").as("yv"),
      col("xsq").as("ysq")), "xv", "yv", "xsq", "ysq")
      .select(col("m").as("mxx"), col("np").as("n_xx"))
    val yy = kmean(y, y.select(col("yid").as("xid"), col("yv").as("xv"),
      col("ysq").as("xsq")), "yv", "xv", "ysq", "xsq")
      .select(col("m").as("myy"), col("np").as("n_yy"))
    val xy = kmean(x, y, "xv", "yv", "xsq", "ysq")
      .select(col("m").as("mxy"), col("np").as("n_xy"))
    xx.crossJoin(broadcast(yy)).crossJoin(broadcast(xy))
      .select(col("n_xx"), col("n_yy"), col("n_xy"),
        femit(col("mxx")).as("mean_kxx"), femit(col("myy")).as("mean_kyy"),
        femit(col("mxy")).as("mean_kxy"),
        femit(col("mxx") + col("myy") - lit(2.0) * col("mxy")).as("mmd2"))
  }

  /** kth-nearest-neighbor distance outliers (Ramaswamy, Rastogi &amp;
    * Shim, SIGMOD 2000 — the density-based anomaly scorer for
    * embedding space, next to the VALUE-space monitors q171 z-score /
    * q178 fences): a point's outlier score is its cosine distance
    * (1 − sim) to its k-th nearest neighbor — isolated points sit far
    * even from their k-th neighbor, cluster members don't. Emits the
    * top-`nOut` outliers by ROUNDED score with the id tiebreak.
    *
    * Determinism: exact cosine folds, rank by raw bit-identical sims
    * with id tiebreaks (the q32 precedent), femit'd emission ranked by
    * the rounded value.
    *
    * Scale: the sample is bounded (the q33/q352 convention) and one
    * side broadcasts; at corpus scale the k-th-NN distance comes from
    * the IVF candidate path (q35) with the same tail — the scorer is
    * the operator here, not the scan. */
  def knnOutliers(emb: DataFrame, k: Int = 5, nSample: Long = 400,
                  nOut: Int = 20): DataFrame = {
    import graft.rel.Queries.femit
    val v = vectors(emb.where(col("vec_id") < nSample))
    val b = v.select(col("vec_id").as("oid"), col("v").as("ov"),
      col("norm").as("on"))
    topK(v.crossJoin(broadcast(b))
      .where(col("vec_id") =!= col("oid"))
      .select(col("vec_id"), col("oid"),
        cosine(col("v"), col("ov"), col("norm"), col("on")).as("sim")),
      k, by = "vec_id", tie = "oid")
      .where(col("rnk") === k)
      .select(col("vec_id"), col("oid").as("kth_neighbor"),
        femit(lit(1.0) - col("sim")).as("knn_dist"))
      .orderBy(col("knn_dist").desc, col("vec_id").asc)
      .limit(nOut)
  }

  /** InfoNCE contrastive loss over a bounded labeled sample (Oord,
    * Li &amp; Vinyals 2018; the SimCLR/NT-Xent monitoring metric an
    * embedding-training pipeline tracks): each anchor's positive is
    * its nearest SAME-LABEL vector, negatives are every other sample
    * member, and loss = −ln(exp(s⁺/τ) / Σ_j exp(s_j/τ)) with cosine
    * similarities and a fixed temperature. Reported per label (mean
    * loss, mean positive sim) — the label-alignment counterpart of
    * q344's clustering eval, as the LOSS an embedding trainer would
    * see.
    *
    * Determinism: the log-sum-exp stabilizes by subtracting the
    * per-anchor max (max over bit-identical doubles), Σexp rides
    * dsum, exp/ln are the libm parity class, τ = 0.25 is an exact
    * binary literal, and the positive argmax breaks ties by id.
    *
    * Scale: bounded anchors × bounded sample with the small side
    * broadcast (the q352 posture); the per-anchor reduction is one
    * hash-agg. */
  def infoNce(emb: DataFrame, nSample: Long = 200,
              tau: Double = 0.25): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb.where(col("vec_id") < nSample),
      col("label").cast("long").as("label"))
    val a = v.select(col("vec_id").as("aid"), col("v").as("av"),
      col("norm").as("an"), col("label").as("alabel"))
    val sims = v.crossJoin(broadcast(a))
      .where(col("vec_id") =!= col("aid"))
      .select(col("aid"), col("alabel"), col("vec_id"), col("label"),
        (cosine(col("v"), col("av"), col("norm"), col("an")) / lit(tau))
          .as("s"))
      .localCheckpoint() // feeds the positive argmax AND the lse
    val pos = topK(sims.where(col("label") === col("alabel")), 1,
        score = "s", by = "aid")
      .select(col("aid"), col("s").as("spos"))
    val mx = sims.groupBy("aid").agg(max(col("s")).as("m"))
    val lse = sims.join(broadcast(mx), "aid")
      .groupBy("aid", "alabel")
      .agg(min(col("m")).as("m"), // constant per anchor
        dsum(exp(col("s") - col("m"))).as("z"))
    val perAnchor = lse.join(pos, "aid")
      .select(col("aid"), col("alabel"),
        (col("m") + log(col("z")) - col("spos")).as("loss"),
        (col("spos") * lit(tau)).as("pos_sim"))
    perAnchor.groupBy(col("alabel").as("label"))
      .agg(count(lit(1)).as("n_anchors"),
        femit(dsum(col("loss")) / count(lit(1)).cast("double"))
          .as("mean_loss"),
        femit(dsum(col("pos_sim")) / count(lit(1)).cast("double"))
          .as("mean_pos_sim"))
      .orderBy("label")
  }

  /** Retrieval evaluation against label relevance: MRR@k, recall@k,
    * and precision@1 (the TREC-style metric triple; Craswell's MRR
    * definition) of exact-cosine retrieval over the bounded sample,
    * where a hit is a SAME-LABEL vector — the retrieval-metric
    * complement of q344 (clustering view) and q355 (loss view) on the
    * same embedding-vs-label question. Per label: mean reciprocal
    * rank of the first hit within the top-k (0 when none), mean
    * share of the label's other members recovered in the top-k, and
    * the share of probes whose rank-1 neighbor is a hit.
    *
    * Determinism: ranks come from raw bit-identical sims with id
    * tiebreaks (q32 precedent); all metrics are ratios of exact
    * integers or 1/rank sums on the dsum lattice.
    *
    * Scale: bounded probes broadcast against the bounded sample (the
    * q352 posture); at corpus scale the candidate scan swaps to the
    * IVF path with the same metric tail. */
  def retrievalEval(emb: DataFrame, k: Int = 10,
                    nSample: Long = 200): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb.where(col("vec_id") < nSample),
      col("label").cast("long").as("label"))
    val a = v.select(col("vec_id").as("qid"), col("v").as("av"),
      col("norm").as("an"), col("label").as("alabel"))
    val top = topK(v.crossJoin(broadcast(a))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("alabel"), col("vec_id"), col("label"),
        cosine(col("v"), col("av"), col("norm"), col("an")).as("sim")), k)
    val relTotal = v.groupBy("label")
      .agg((count(lit(1)) - 1).as("n_rel")) // peers excluding self
    val perProbe = top
      .groupBy("qid", "alabel")
      .agg(min(when(col("label") === col("alabel"), col("rnk"))).as("fr"),
        sum(when(col("label") === col("alabel"), 1L).otherwise(0L))
          .as("hits"),
        sum(when(col("label") === col("alabel") && col("rnk") === 1, 1L)
          .otherwise(0L)).as("p1"))
    perProbe
      .join(relTotal.withColumnRenamed("label", "alabel"), "alabel")
      .groupBy(col("alabel").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        femit(dsum(when(col("fr").isNotNull,
          lit(1.0) / col("fr").cast("double")).otherwise(lit(0.0))) /
          count(lit(1)).cast("double")).as("mrr"),
        femit(dsum(when(col("n_rel") > 0, col("hits").cast("double") /
          col("n_rel").cast("double")).otherwise(lit(0.0))) /
          count(lit(1)).cast("double")).as("recall_at_k"),
        femit(sum(col("p1")).cast("double") /
          count(lit(1)).cast("double")).as("precision_at_1"))
      .orderBy("label")
  }

  /** k-center greedy coreset (Gonzalez 1985's 2-approximation;
    * Sener &amp; Savarese ICLR 2018 use exactly this for active-learning
    * coresets): iteratively pick the point FARTHEST from the current
    * center set (max-min cosine distance) — the diversity/radius
    * objective, where [[facilityLocationSelect]] maximizes coverage.
    * Seeded at the minimum id; each round emits the chosen center and
    * the covering radius max_u min_c dist(u, c) BEFORE the pick (the
    * quantity the 2-approximation bounds).
    *
    * Determinism: distances are exact cosine folds; the farthest-point
    * argmax orders by the ROUNDED distance with the id tiebreak (q207
    * rule); min-distance folds use RAW values.
    *
    * Scale: the whole corpus keeps ONE running min-distance column
    * (localCheckpoint per round, the CC/k-means pacing); each round is
    * one broadcast of the new center + one map + one argmax — no
    * pairwise table ever materializes, which is why k-center greedy
    * runs at corpus scale where facility location needs a candidate
    * pool. */
  def kcenterSelect(emb: DataFrame, k: Int = 5): DataFrame = {
    import graft.rel.Queries.femit
    val v = vectors(emb).localCheckpoint()
    val seedId = 0L // vec_ids are dense from 0; the minimum id seeds
    var state = v.crossJoin(broadcast(
        v.where(col("vec_id") === seedId)
          .select(col("v").as("cv"), col("norm").as("cn"))))
      .select(col("vec_id"), col("v"), col("norm"),
        (lit(1.0) - cosine(col("v"), col("cv"), col("norm"), col("cn")))
          .as("mind"))
      .localCheckpoint()
    var out: DataFrame = state.sparkSession.range(0, 1)
      .select(lit(1L).as("rnk"), lit(seedId).as("center_id"),
        lit(null).cast("double").as("radius"))
    // anti-join out every already-picked center (the q341 discipline:
    // a saturated corpus would otherwise re-pick on the zero-distance
    // rounded tie)
    var selected = state.where(col("vec_id") === seedId).select("vec_id")
    for (r <- 2 to k) {
      val far = state.join(selected, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), femit(col("mind")).as("d"))
        .orderBy(col("d").desc, col("vec_id").asc).limit(1)
        .localCheckpoint()
      selected = selected.unionAll(far.select("vec_id"))
      val c = state.join(broadcast(far.select("vec_id")), "vec_id")
        .select(col("v").as("cv"), col("norm").as("cn"))
      state = state.crossJoin(broadcast(c))
        .select(col("vec_id"), col("v"), col("norm"),
          least(col("mind"),
            lit(1.0) - cosine(col("v"), col("cv"), col("norm"), col("cn")))
            .as("mind"))
        .localCheckpoint()
      out = out.unionAll(far.select(lit(r.toLong).as("rnk"),
        col("vec_id").as("center_id"), col("d").as("radius")))
    }
    out.orderBy("rnk")
  }

  /** Hubness audit of the embedding space (Radovanović, Nanopoulos &amp;
    * Ivanović, JMLR 2010): the k-occurrence N_k(x) — how often x
    * appears in other points' top-k lists — grows pathologically
    * skewed in high dimensions, and that skew is the canonical
    * predictor of ANN recall trouble (hubs dominate every candidate
    * list, antihubs become unreachable). Over the bounded sample:
    * the N_k distribution's skewness (the hubness statistic), its
    * max, the antihub count (N_k = 0), and the top hub.
    *
    * Determinism: top-k lists rank raw bit-identical sims with id
    * tiebreaks (q32); N_k values are exact integers; central moments
    * ride dsum in one fixed order; skewness = m3 / (m2·√m2) — the
    * same text both engines, no pow.
    *
    * Scale: the q354 bounded broadcast pass + two cell aggregates;
    * at corpus scale N_k comes from inverting the IVF kNN output the
    * pipeline already materializes. */
  def hubnessAudit(emb: DataFrame, k: Int = 10,
                   nSample: Long = 400): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb.where(col("vec_id") < nSample))
    val b = v.select(col("vec_id").as("oid"), col("v").as("ov"),
      col("norm").as("on"))
    val occ = topK(v.crossJoin(broadcast(b))
      .where(col("vec_id") =!= col("oid"))
      .select(col("vec_id"), col("oid"),
        cosine(col("v"), col("ov"), col("norm"), col("on")).as("sim")),
      k, by = "vec_id", tie = "oid")
      .groupBy(col("oid")).agg(count(lit(1)).as("nk"))
    val full = v.select(col("vec_id").as("oid"))
      .join(occ, Seq("oid"), "left")
      .select(col("oid"), coalesce(col("nk"), lit(0L)).as("nk"))
      .localCheckpoint() // sample-sized; feeds moments AND the argmax
    val mean = lit(k.toDouble) // Σ N_k = n·k exactly, so the mean is k
    val mom = full.agg(count(lit(1)).as("n"),
      dsum((col("nk").cast("double") - mean) *
        (col("nk").cast("double") - mean)).as("m2s"),
      dsum((col("nk").cast("double") - mean) *
        (col("nk").cast("double") - mean) *
        (col("nk").cast("double") - mean)).as("m3s"),
      max(col("nk")).as("max_nk"),
      sum(when(col("nk") === 0, 1L).otherwise(0L)).as("n_antihubs"))
    val hub = full.orderBy(col("nk").desc, col("oid").asc).limit(1)
      .select(col("oid").as("top_hub_id"), col("nk").as("top_hub_nk"))
    mom.crossJoin(broadcast(hub))
      .select(col("n"), lit(k.toLong).as("k"),
        femit((col("m2s") / col("n").cast("double"))).as("var_nk"),
        femit((col("m3s") / col("n").cast("double")) /
          ((col("m2s") / col("n").cast("double")) *
            sqrt(col("m2s") / col("n").cast("double")))).as("skewness"),
        col("max_nk"), col("n_antihubs"),
        col("top_hub_id"), col("top_hub_nk"))
  }

  /** Embedding anisotropy audit (Ethayarajh, EMNLP 2019: contextual
    * embeddings are anisotropic — the expected cosine between RANDOM
    * vectors is far above 0, which squashes retrieval contrast;
    * Mu &amp; Viswanath's all-but-the-top fixes exactly what this
    * measures): (a) the mean pairwise cosine over the bounded sample —
    * the anisotropy statistic itself; (b) the squared norm of the MEAN
    * UNIT vector — the common-direction mass all-but-the-top removes
    * (→ 0 under isotropy, → 1 when every vector points one way);
    * (c) per-dimension variance concentration: max/mean variance ratio
    * and the top-variance dimension. One row.
    *
    * Determinism: the pair mean uses the identity
    * Σ_{i≠j} cos(i,j) = ‖Σ v̂‖² − n over UNIT vectors — one linear
    * pass (dsum per dimension), no pair table; norms/ratios are
    * fixed-order IEEE on dsum moments.
    *
    * Scale: everything is one aggregate over the bounded sample —
    * per-dimension sums via explode(posexplode) into a 64-cell
    * hash-agg; the identity removes the n² the naive estimator pays. */
  def anisotropyAudit(emb: DataFrame, nSample: Long = 400): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb.where(col("vec_id") < nSample))
      .select(col("vec_id"),
        transform(col("v"), x => x / col("norm")).as("u"),
        col("v"))
      .localCheckpoint() // feeds the unit-sum AND the raw-moment aggs
    val dims = v.select(col("vec_id"), posexplode(col("u")).as(Seq("d", "x")),
        col("v"))
      .select(col("vec_id"), col("d"), col("x"),
        element_at(col("v"), col("d") + 1).as("raw"))
    val perDim = dims.groupBy("d")
      .agg(dsum(col("x")).as("su"), // Σ unit components per dim
        count(lit(1)).as("n"),
        dsum(col("raw")).as("sr"),
        dsum(col("raw") * col("raw")).as("srr"))
      .localCheckpoint() // 64 rows; feeds the identity AND the var census
    val byVar = perDim
      .select(col("d"), col("su"), col("n"),
        ((col("srr") - col("sr") * col("sr") / col("n").cast("double")) /
          col("n").cast("double")).as("dvar"))
      .localCheckpoint()
    val agg = byVar.agg(
      min(col("n")).as("n"),
      dsum(col("su") * col("su")).as("nsq"), // ||Σ û||²
      dsum(col("dvar")).as("tvar"),
      max(col("dvar")).as("maxvar"),
      count(lit(1)).as("ndim"))
    val top = byVar.select(col("d").cast("long").as("d"),
        femit(col("dvar")).as("dv"))
      .orderBy(col("dv").desc, col("d").asc).limit(1)
      .select(col("d").as("top_var_dim"), col("dv").as("top_var"))
    agg.crossJoin(broadcast(top))
      .select(col("n"), col("ndim"),
        femit((col("nsq") - col("n").cast("double")) /
          (col("n").cast("double") * (col("n") - 1).cast("double")))
          .as("mean_pairwise_cos"),
        femit(col("nsq") / (col("n").cast("double") *
          col("n").cast("double"))).as("mean_dir_mass"),
        femit(col("maxvar") * col("ndim").cast("double") / col("tvar"))
          .as("var_concentration"),
        col("top_var_dim"), col("top_var"))
  }

  /** Lloyd refinement of a PQ sub-codebook (the [[kmeansRefine]] move
    * applied per subspace): `lloyd` iterations of argmin-L2 assignment
    * of every (vec_id, j, sub) row to the current (j, cid, cv) entry
    * (sequential-fold L2, ties to the lowest cid — the encode rule
    * itself) followed by per-(j, cid, coordinate) means on the exact
    * DECIMAL(38,12) [[graft.rel.Queries.dsum]] route, so the refined
    * entries are bit-identical across engines and the oracle replays
    * the identical iterations. Entries that receive no members keep
    * their previous value (coalesce) — the m×ksub table must stay
    * DENSE because the ADC scan indexes the LUT as `j*ksub + cid + 1`.
    *
    * Scale: per iteration one broadcast join over the (corpus × m)
    * sub-vector table + one map-side-combined groupBy of m·ksub·dsub
    * cells; the returned table is m·ksub rows, localCheckpoint'd so
    * the two downstream consumers (encode, LUT) read 128 rows instead
    * of re-running the refinement chain. */
  private def refineSubCodebook(subs: DataFrame, cb0: DataFrame,
                                lloyd: Int): DataFrame = {
    if (lloyd <= 0) return cb0
    val wAsg = Window.partitionBy("vec_id", "j")
      .orderBy(col("dist").asc, col("cid").asc)
    var cb = cb0
    for (_ <- 1 to lloyd) {
      val asg = subs.join(broadcast(cb), "j")
        .select(col("vec_id"), col("j"), col("cid"), col("sub"),
          fsum(zip_with(col("sub"), col("cv"), (x, y) => (x - y) * (x - y)))
            .as("dist"))
        .withColumn("r", row_number().over(wAsg)).where(col("r") === 1)
      val means = asg
        .select(col("j"), col("cid"), posexplode(col("sub")).as(Seq("ci", "x")))
        .groupBy("j", "cid", "ci")
        .agg((graft.rel.Queries.dsum(col("x")) / count(lit(1))).as("c"))
      val refreshed = means.groupBy("j", "cid")
        .agg(array_sort(collect_list(struct(col("ci"), col("c")))).as("p"))
        .select(col("j"), col("cid"),
          transform(col("p"), e => e.getField("c")).as("cv1"))
      cb = cb.join(refreshed, Seq("j", "cid"), "left")
        .select(col("j"), col("cid"),
          coalesce(col("cv1"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cb
  }

  /** PRODUCT-QUANTIZATION kNN with ADC scan and exact rerank (Jégou,
    * Douze &amp; Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011; the FAISS IndexPQ design — flavor, not a
    * port): the vector splits into `m` subspaces of dim/m coordinates,
    * each sub-vector is replaced by the id of its nearest codebook
    * entry (argmin L2, ties to the lowest id), and a query scans the
    * corpus reading only the m byte-codes per vector, scoring through a
    * per-query LOOKUP TABLE of m×ksub precomputed sub-dot-products —
    * the asymmetric-distance (ADC) trick that makes the scan touch
    * m·log2(ksub) bits per vector instead of dim floats (here 8 codes
    * ≈ 4 bytes vs 512: a 128× memory-bandwidth cut, the third axis of
    * the compression toolbox after [[sq8Knn]]'s precision and
    * [[truncatedKnn]]'s dimensions). Top-`rerank` ADC candidates per
    * query are then re-ranked at full precision.
    *
    * Codebooks initialize from the sub-vectors of the first `ksub`
    * corpus vectors (the deterministic [[ivfCentroids]] init
    * convention) and are then REFINED by `lloyd` iterations of
    * [[refineSubCodebook]]. Measured top-5 recall on the sf0.001
    * corpus: 0.52 unrefined/rerank-20 (the r9 floor) → 0.62 with one
    * Lloyd pass → 0.82 with the rerank-40 budget on top (the rerank
    * budget, not quantization error, was binding — more Lloyd passes
    * beyond 1 did not help at this ksub).
    * Determinism: every float reduction is a fixed-order fold — the
    * encode distances and LUT entries fold coordinates in index order,
    * the per-vector reconstructed norm and the ADC sum fold subspaces
    * in j-ascending order (pinned by sorted collect + array fold, and
    * by `list(... ORDER BY j)` folds in the oracle) — so codes,
    * candidate sets, and estimates are all cross-engine bit-identical
    * and the WHOLE pipeline value-oracles, the q108 discipline.
    *
    * Scale: codebook (m·ksub rows) and LUTs (nQuery·m·ksub) broadcast;
    * the corpus is touched twice with no shuffle before the per-query
    * top-k — encode is one broadcast join + per-(vec,j) argmin, the ADC
    * scan streams the code table once against broadcast LUTs. */
  def pqKnn(emb: DataFrame, nQuery: Int, k: Int, dim: Int = 64,
            m: Int = 8, ksub: Int = 16, rerank: Int = 40,
            lloyd: Int = 1): DataFrame = {
    val dsub = dim / m
    require(dsub * m == dim, s"m=$m must divide dim=$dim")
    val base = vectors(emb)
    val subs = base.select(col("vec_id"), col("norm"),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), j -> slice(v, j * $dsub + 1, $dsub))"))
        .as(Seq("j", "sub")))
      // localCheckpoint: the sub-vector explode feeds FOUR consumers
      // (codebook init, Lloyd assignment, encode, query LUT) — without
      // it each re-explodes the corpus (q140 measured 2.1x its vector
      // entry when the Lloyd pass landed; the checkpoint claws it back)
      .localCheckpoint()
    val cb0 = subs.where(col("vec_id") < ksub)
      .select(col("j"), col("vec_id").cast("int").as("cid"), col("sub").as("cv"))
    val cb = refineSubCodebook(
        subs.select(col("vec_id"), col("j"), col("sub")), cb0, lloyd)
      .withColumn("ccn", fsum(transform(col("cv"), x => x * x)))
    val wEnc = Window.partitionBy("vec_id", "j")
      .orderBy(col("dist").asc, col("cid").asc)
    val codes = subs.join(broadcast(cb), "j")
      .select(col("vec_id"), col("norm"), col("j"), col("cid"), col("ccn"),
        fsum(zip_with(col("sub"), col("cv"), (x, y) => (x - y) * (x - y)))
          .as("dist"))
      .withColumn("r", row_number().over(wEnc)).where(col("r") === 1)
    val enc = codes.groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("j"), col("cid"), col("ccn"))))
        .as("e"))
      .select(col("vec_id"),
        expr("transform(e, s -> s.cid)").as("codes"),
        sqrt(expr("aggregate(e, 0D, (a, s) -> a + s.ccn)")).as("rnorm"))
    val lut = subs.where(col("vec_id") < nQuery)
      .join(broadcast(cb), "j")
      .select(col("vec_id").as("qid"), col("norm").as("qnorm"),
        col("j"), col("cid"),
        fsum(zip_with(col("sub"), col("cv"), (x, y) => x * y)).as("d"))
      .groupBy("qid", "qnorm")
      .agg(sort_array(collect_list(struct(col("j"), col("cid"), col("d"))))
        .as("l"))
      .select(col("qid"), col("qnorm"), expr("transform(l, s -> s.d)").as("lut"))
    val cand = topK(enc.crossJoin(broadcast(lut))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (expr(s"aggregate(transform(codes, (c, j) -> " +
          s"element_at(lut, j * $ksub + c + 1)), 0D, (a, x) -> a + x)")
          / (col("qnorm") * col("rnorm"))).as("est")), rerank, "est")
      .select(col("qid"), col("vec_id"))
    val qFull = base.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv2"), col("norm").as("qn2"))
    topK(base.join(broadcast(cand), "vec_id")
      .join(broadcast(qFull), "qid")
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv2"), col("norm"), col("qn2")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** IVF-PQ kNN — the COMPOSITION of the two ANN axes this file builds
    * separately (Jégou et al., TPAMI 2011 §V; the FAISS IndexIVFPQ
    * design — flavor, not a port): the coarse IVF quantizer prunes the
    * corpus to `nprobe` inverted lists per query, and vectors inside a
    * list are stored as PQ codes of their RESIDUAL v − c(list) —
    * residuals concentrate near zero, so the same codebook budget
    * quantizes them far better than raw vectors. Candidates rank by
    * the inner-product estimate dot(q, c) + Σⱼ LUT[q][codeⱼ] (the
    * first term exact per probed list, the second the ADC residual
    * lookup), then the top-`rerank` are re-scored at full precision.
    *
    * Determinism: coarse centroids and residual codebook INITS both
    * derive from the first vectors (the [[ivfCentroids]] convention),
    * and the residual codebooks then take `lloyd` exact-DECIMAL
    * [[refineSubCodebook]] passes (measured top-5 recall on the
    * sf0.001 corpus: 0.46 → 0.94 with one pass + the rerank-40
    * budget); every
    * reduction is a fixed-order fold (coordinates in index order,
    * subspaces j-ascending) — candidates and estimates value-oracle
    * end to end, the q108/q140 discipline.
    *
    * Scale: centroids, codebooks, probed-list keys, and LUTs all
    * broadcast; the corpus streams through assign + encode once, and
    * the ADC scan touches ONLY the probed lists' code rows — at
    * 100 TB `enc` is the persisted cid-bucketed index table (exactly
    * q106's layout; q114's append lifecycle applies unchanged), so a
    * query batch reads nprobe/nlist of the codes, each 8 bytes per
    * vector. */
  def ivfpqKnn(emb: DataFrame, nQuery: Int, k: Int, dim: Int = 64,
               nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
               rerank: Int = 40, lloyd: Int = 1): DataFrame = {
    val dsub = dim / m
    require(dsub * m == dim, s"m=$m must divide dim=$dim")
    val base = vectors(emb)
    val cents = ivfCentroids(base, nlist)
    val rsubs = nearestCentroids(base, "vec_id", "v", "norm", cents, 1)
      .select(col("vec_id"), col("cid"), posexplode(expr(
        s"""transform(sequence(0, ${m - 1}), j ->
           |  zip_with(slice(v, j * $dsub + 1, $dsub),
           |           slice(cv, j * $dsub + 1, $dsub), (x, y) -> x - y))"""
          .stripMargin)).as(Seq("j", "rsub")))
      // localCheckpoint: same four-consumer fan-out as pqKnn's subs —
      // the residual explode (the centroid assignment included) must
      // not re-run per consumer
      .localCheckpoint()
    val cb0 = rsubs.where(col("vec_id") < ksub)
      .select(col("j"), col("vec_id").cast("int").as("cid"), col("rsub").as("cv"))
    val cb = refineSubCodebook(
        rsubs.select(col("vec_id"), col("j"), col("rsub").as("sub")), cb0, lloyd)
      .select(col("j"), col("cid").as("pcid"), col("cv").as("pcv"))
    val wEnc = Window.partitionBy("vec_id", "j")
      .orderBy(col("dist").asc, col("pcid").asc)
    val codes = rsubs.join(broadcast(cb), "j")
      .select(col("vec_id"), col("cid"), col("j"), col("pcid"),
        fsum(zip_with(col("rsub"), col("pcv"), (x, y) => (x - y) * (x - y)))
          .as("dist"))
      .withColumn("r", row_number().over(wEnc)).where(col("r") === 1)
    val enc = codes.groupBy("vec_id", "cid")
      .agg(sort_array(collect_list(struct(col("j"), col("pcid")))).as("e"))
      .select(col("vec_id"), col("cid"),
        expr("transform(e, s -> s.pcid)").as("codes"))
    val q = base.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val probed = nearestCentroids(q, "qid", "qv", "qnorm", cents, nprobe)
      .select(col("qid"), col("cid"),
        fsum(zip_with(col("qv"), col("cv"), (x, y) => x * y)).as("qcdot"))
    val lut = q.select(col("qid"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), j -> slice(qv, j * $dsub + 1, $dsub))"))
        .as(Seq("j", "qsub")))
      .join(broadcast(cb), "j")
      .select(col("qid"), col("j"), col("pcid"),
        fsum(zip_with(col("qsub"), col("pcv"), (x, y) => x * y)).as("d"))
      .groupBy("qid")
      .agg(sort_array(collect_list(struct(col("j"), col("pcid"), col("d"))))
        .as("l"))
      .select(col("qid"), expr("transform(l, s -> s.d)").as("lut"))
    val cand = topK(enc.join(broadcast(probed), "cid")
      .join(broadcast(lut), "qid")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (col("qcdot") + expr(s"aggregate(transform(codes, (c, j) -> " +
          s"element_at(lut, j * $ksub + c + 1)), 0D, (a, x) -> a + x)"))
          .as("est")), rerank, "est")
      .select(col("qid"), col("vec_id"))
    val qFull = base.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv2"), col("norm").as("qn2"))
    topK(base.join(broadcast(cand), "vec_id")
      .join(broadcast(qFull), "qid")
      .select(col("qid"), col("vec_id"),
        cosine(col("v"), col("qv2"), col("norm"), col("qn2")).as("sim")), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** Centroid-based silhouette (the scalable simplification of
    * Rousseeuw 1987: a = cosine distance to the OWN centroid, b =
    * distance to the nearest OTHER centroid — the O(n·k) form; the
    * textbook per-point-pairwise a/b is O(n²) and unreachable at
    * 100 TB): per cluster, size and mean a/b/silhouette. One broadcast
    * crossJoin of the nlist-row centroid table over the corpus — the
    * exact [[ivfAssign]] shape — then one rank window per vector and
    * one hash-agg; own/next distances come from positions 1 and 2 of
    * the SAME ranking, so no second corpus pass. Per-row a/b/s are
    * fixed-order IEEE on the sequential-fold cosine (bit-identical
    * across engines); cross-row means ride the DECIMAL dsum route.
    * With argmax assignment a ≤ b always, so s ∈ [0, 1] here — the
    * magnitude measures cluster separation. */
  def silhouette(emb: DataFrame, nlist: Int): DataFrame = {
    val v = vectors(emb)
    val ranked = nearestCentroids(v, "vec_id", "v", "norm", ivfCentroids(v, nlist), 2)
    val own = ranked.where(col("r") === 1)
      .select(col("vec_id"), col("cid"), col("csim").as("own_sim"))
    val next = ranked.where(col("r") === 2)
      .select(col("vec_id"), col("csim").as("next_sim"))
    val dsum = graft.rel.Queries.dsum _
    own.join(next, "vec_id")
      .withColumn("a", lit(1.0) - col("own_sim"))
      .withColumn("b", lit(1.0) - col("next_sim"))
      .withColumn("s",
        when(greatest(col("a"), col("b")) > 0.0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        graft.rel.Queries.femit(dsum(col("a")) / count(lit(1))).as("mean_a"),
        graft.rel.Queries.femit(dsum(col("b")) / count(lit(1))).as("mean_b"),
        graft.rel.Queries.femit(dsum(col("s")) / count(lit(1))).as("mean_sil"))
      .orderBy("cid")
  }

  /** Approximate kNN via multi-table banded sign-LSH: exact cosine
    * ranking restricted to candidates colliding with the query in ≥1
    * of nTables bucket tables (see [[cosineNearDupsLsh]] for the recall
    * math; ≈0.86 expected at this corpus's top-5 similarities with
    * 4×16). The query side is tiny (nQuery × nTables rows) and
    * broadcast, so the corpus streams once with no shuffle before the
    * top-k. Recall-tested against [[cosineKnn]] in LlmSpec. */
  def annKnn(emb: DataFrame, nQuery: Int, k: Int,
             nTables: Int = 16, bandPlanes: Int = 4,
             dim: Int = 64): DataFrame = {
    val bt = banded(emb, nTables, bandPlanes, dim)
    val q = bt.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("t"), col("bucket"))
    topK(bt.join(broadcast(q), Seq("t", "bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorExprs.cosineSim("v", "qv").as("sim"))
      .distinct(), k)
      .select("qid", "rnk", "vec_id", "sim")
  }

  /** Top principal component of the embedding cloud by POWER ITERATION,
    * entirely in-plan — the dimensionality-reduction primitive under
    * PCA whitening, spectral outlier screens, and the projection step
    * of 2-D corpus maps. Each round is two matrix-vector products
    * expressed as shuffles: dot_i = xc_i·v (explode + dim-keyed join +
    * per-row reduce) and w = Σ_i xc_i·dot_i (vec-keyed join + per-dim
    * reduce) — O(n·d) rows per round, no d×d covariance ever
    * materialized (at 100 TB you can afford O(n·d) passes; you cannot
    * afford collecting S). Mean-centering and every reduction ride the
    * dsum DECIMAL route; the start vector is e₀ and the trailing
    * normalization fixes scale and sign deterministically, so loadings
    * are bit-stable cross-engine. The centered explode is checkpointed
    * once (the q266 staging move) — the loop re-reads it, not the
    * source. `eigen_estimate` is ‖S·v‖ from the final round (the
    * unnormalized-scatter Rayleigh estimate). */
  def pcaPower(emb: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"pcaPower needs iters >= 1, got $iters")
    val dsum = graft.rel.Queries.dsum _
    val x0 = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xv")))
      .select(col("vec_id"), col("dim"), col("xv").cast("double").as("xv"))
    val m = x0.groupBy("dim")
      .agg((dsum(col("xv")) / count(lit(1)).cast("double")).as("m"))
    val xc = x0.join(m, "dim")
      .select(col("vec_id"), col("dim"), (col("xv") - col("m")).as("xc"))
      .localCheckpoint()
    var v = m.select(col("dim"),
      when(col("dim") === 0, lit(1.0)).otherwise(lit(0.0)).as("v"))
    var nrm: DataFrame = null
    for (_ <- 1 to iters) {
      val dot = xc.join(v, "dim").groupBy("vec_id")
        .agg(dsum(col("xc") * col("v")).as("dot"))
      val w = xc.join(dot, "vec_id").groupBy("dim")
        .agg(dsum(col("xc") * col("dot")).as("w"))
        .localCheckpoint() // read twice per round: norm + next v (r15)
      nrm = w.agg(sqrt(dsum(col("w") * col("w"))).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("dim"), (col("w") / col("nrm")).as("v"))
    }
    v.crossJoin(broadcast(nrm))
      .select(col("dim").cast("long").as("dim"),
        graft.rel.Queries.femit(col("v")).as("loading"),
        graft.rel.Queries.femit(col("nrm")).as("eigen_estimate"))
      .orderBy("dim")
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-dup pruning that makes
    * all-pairs cosine tractable by FIRST clustering, THEN comparing
    * only within clusters. A member is dropped when some same-cluster
    * member is cosine-≥ `tau` similar AND sits strictly closer to the
    * centroid (ties broken by lower vec_id) — i.e. each duplicate group
    * keeps its member farthest from the centroid, the paper's
    * keep-low-centroid-sim rule (outliers carry more marginal
    * information than prototypical members). Emits the per-cluster
    * audit: members, drops, survivor floor.
    *
    * Scale: the quadratic term is Σ|cluster|², not N² — production
    * sizes nlist ∝ √N (the paper's k ≈ 50k for 5B embeddings keeps
    * clusters ~10⁵, each a single-executor join partition); assignment
    * itself is one broadcast pass (nlist centroid rows), and the
    * within-cluster self-join is an equi-join ON cid, so Spark
    * shuffle-partitions clusters independently. The centroid-sim
    * comparison reuses the assignment pass's cosine — no recompute.
    * Cross-engine: every cosine is the sequential [[fsum]] fold both
    * engines execute identically, so the strict inequalities (pair sim
    * ≥ tau, centroid-sim ordering) bind identical bit patterns. */
  def semDedup(emb: DataFrame, nlist: Int = 16, tau: Double = 0.30): DataFrame = {
    val v = vectors(emb)
    val asg = nearestCentroids(v, "vec_id", "v", "norm", ivfCentroids(v, nlist), 1)
      .select("vec_id", "v", "norm", "cid", "csim")
      // localCheckpoint: the assignment feeds THREE consumers (both
      // sides of the within-cluster self-join and the final audit
      // join); without it the broadcast-assignment pass re-runs per
      // consumer. At 100 TB this is the persisted cid-bucketed
      // assignment table (q106's layout) — the checkpoint is the
      // single-session stand-in.
      .localCheckpoint()
    val a = asg.select(col("cid"), col("vec_id").as("ai"), col("v").as("av"),
      col("norm").as("an"), col("csim").as("ac"))
    val b = asg.select(col("cid"), col("vec_id").as("bi"), col("v").as("bv"),
      col("norm").as("bn"), col("csim").as("bc"))
    val dropped = a.join(b, "cid")
      .where(col("ai") =!= col("bi") &&
        cosine(col("av"), col("bv"), col("an"), col("bn")) >= tau &&
        (col("ac") > col("bc") ||
          (col("ac") === col("bc") && col("ai") > col("bi"))))
      .select(col("ai").as("vec_id")).distinct()
    asg.join(dropped.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
        min(when(col("dropped").isNull, col("vec_id"))).as("min_kept_id"))
      .orderBy("cid")
  }

  /** Prototype-based data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws" — flavor, not a port; the D4 pipeline's
    * pruning half): cluster the embedding corpus, rank members by
    * cosine to their OWN centroid, and mark the `frac` MOST
    * prototypical members of each cluster for pruning — with abundant
    * data, easy (prototypical) examples contribute least to the
    * scaling curve, so the keep-set is the hard tail. The complement
    * of [[semDedup]]'s pairwise rule: no pair comparison at all, so
    * the cost is exactly one assignment pass + one keyed window.
    * Emits the per-cluster audit: members, pruned count, the
    * prototypicality cut (min centroid-sim among pruned = the
    * boundary value), and the most prototypical SURVIVOR id.
    *
    * Scale: the assignment is the broadcast [[ivfAssign]] pass; the
    * rank window is keyed by cid (never a global window); the audit is
    * an nlist-row aggregate. Determinism: csim is the sequential fold
    * both engines share; rank ties break on vec_id; ceil(n·frac) uses
    * a dyadic frac through DOUBLE on both engines. */
  def prototypePrune(emb: DataFrame, nlist: Int = 16,
                     frac: Double = 0.25): DataFrame = {
    val v = vectors(emb)
    val asg = nearestCentroids(v, "vec_id", "v", "norm", ivfCentroids(v, nlist), 1)
      .select("vec_id", "cid", "csim")
    val wProto = Window.partitionBy("cid")
      .orderBy(col("csim").desc, col("vec_id").asc)
    val ranked = asg
      .withColumn("rn", row_number().over(wProto))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cid")))
      .withColumn("pruned",
        col("rn") <= ceil(col("n").cast("double") * lit(frac)))
    ranked.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
        graft.rel.Queries.femit(min(when(col("pruned"), col("csim"))))
          .as("cut_sim"),
        min(when(!col("pruned") && col("rn") === ceil(col("n").cast("double") * lit(frac)) + lit(1L), col("vec_id")))
          .as("top_survivor_id"))
      .orderBy("cid")
  }

  /** LIGHTWEIGHT-CORESET construction + weighted clustering audit
    * (Bachem, Lucic &amp; Krause, KDD 2018: sample x with probability
    * q(x) = ½/N + ½·d²(x,μ)/Σd², weight 1/p — the one-pass,
    * assumption-free coreset that made coreset clustering practical
    * at scale; the data-pruning complement of [[prototypePrune]]:
    * instead of DROPPING easy points it REWEIGHTS a sample so
    * clustering costs stay unbiased): μ is the exact per-dimension
    * DECIMAL mean, the importance draw is the fnv(vec_id:cs)
    * derandomized uniform against p = min(1, m·q), and the audit
    * assigns BOTH the full corpus and the weighted coreset to the
    * same IVF centroids and compares per-cluster spherical scatter
    * Σ(1−cos) vs the weighted estimate — the gate row IS the
    * estimator-quality table.
    *
    * Determinism: μ and all scatters ride dsum; d² is the fsum-order
    * zip fold; the draw is pure fnv arithmetic; assignment is the
    * q328 argmax (csim desc, cid asc).
    *
    * Scale: one dim-grain mean agg (64 cells), one broadcast-μ d²
    * pass, one broadcast-centroid assignment of each side, and the
    * coreset itself is m rows in expectation — the whole point is
    * that downstream clustering iterates on m, not N. */
  def coresetKmeans(emb: DataFrame, nlist: Int = 4, m: Int = 64)
      : DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val v = vectors(emb)
      .localCheckpoint() // mean agg + d2 pass + both assignments
    val n = v.count()
    val mu = v.select(posexplode(col("v")).as(Seq("j", "x")))
      .groupBy("j").agg(dsum(col("x")).as("sx"))
      .agg(transform(array_sort(collect_list(struct(col("j"),
        (col("sx") / lit(n.toDouble)).as("m")))),
        p => p.getField("m")).as("mu"))
    val withD = v.crossJoin(broadcast(mu))
      .withColumn("d2", expr(
        "aggregate(zip_with(v, mu, (a, b) -> (a - b) * (a - b)), " +
          "0.0D, (acc, x) -> acc + x)"))
    val tot = withD.agg(dsum(col("d2")).as("td2"))
    val qed = withD.crossJoin(broadcast(tot))
      .withColumn("q",
        lit(0.5) / lit(n.toDouble) + lit(0.5) * col("d2") / col("td2"))
      .withColumn("p", least(lit(1.0), lit(m.toDouble) * col("q")))
      .withColumn("u", graft.functions.HashExprs
        .fnv1a32("concat(cast(vec_id as string), ':cs')").cast("double")
        / lit(4294967296.0))
      .localCheckpoint() // full + coreset assignment passes
    val cents = ivfCentroids(v, nlist)
    def assigned(df: DataFrame): DataFrame =
      nearestCentroids(df, "vec_id", "v", "norm", cents, 1)
    val full = assigned(qed).groupBy("cid")
      .agg(count(lit(1)).as("n_full"),
        dsum(lit(1.0) - col("csim")).as("score_full"))
    val core = assigned(qed.where(col("u") < col("p"))
        .withColumn("wt", lit(1.0) / col("p")))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_core_pts"),
        dsum(col("wt")).as("w_core"),
        dsum(col("wt") * (lit(1.0) - col("csim"))).as("score_core"))
    full.join(core, Seq("cid"), "left")
      .select(col("cid"), col("n_full"),
        femit(col("score_full")).as("score_full"),
        coalesce(col("n_core_pts"), lit(0L)).as("n_core_pts"),
        femit(coalesce(col("w_core"), lit(0.0))).as("w_core"),
        femit(coalesce(col("score_core"), lit(0.0))).as("score_core"),
        femit(abs(coalesce(col("score_core"), lit(0.0)) - col("score_full"))
          / nullif(col("score_full"), lit(0.0))).as("rel_err"))
      .orderBy("cid")
  }

  /** Per-token vector RELATION (doc_id=vec_id, tok_pos, tv) — the
    * multi-vector table a late-interaction retriever actually scores
    * over (VERDICT r12 item 4: the former 8-dim slice decomposition is
    * retired). Each document carries a VARIABLE number of full-width
    * token vectors: n_tok = 1 + fnv(vec_id:ntok) mod maxTok, token t's
    * vector = the document embedding rotated by t coordinates —
    * deterministic (the stand-in generator for a real encoder's
    * per-token outputs, like the Multimodal PPM encoder),
    * norm-preserving, full 64-dim, and DuckDB-recomputable, which is
    * what keeps q378 a full value oracle. A real multi-vector encoder
    * swaps in at this one relation; every consumer is unchanged. */
  def tokenVectors(emb: DataFrame, maxTok: Int = 8): DataFrame = {
    vectors(emb)
      .withColumn("n_tok", lit(1L) + pmod(
        graft.functions.HashExprs
          .fnv1a32("concat(cast(vec_id as string), ':ntok')"),
        lit(maxTok.toLong)))
      .select(col("vec_id"),
        posexplode(expr(
          "transform(sequence(0, int(n_tok) - 1), t -> " +
            "transform(sequence(0, 63), j -> element_at(v, (j + t) % 64 + 1)))"))
          .as(Seq("tok_pos", "tv")))
  }

  /** Multi-vector LATE-INTERACTION retrieval (the ColBERT scoring rule
    * — Khattab &amp; Zaharia, SIGIR 2020): score(q, d) =
    * Σ_{i∈q} max_{j∈d} cos(qᵢ, dⱼ) over the [[tokenVectors]] relation
    * (doc_id, tok_pos, vec) — the architecture modern retrieval stacks
    * run between single-vector kNN (q21) and full cross-encoders.
    * Documents carry variable token counts, so n_qtok varies per query
    * and the score is a genuine multi-vector aggregate.
    *
    * Determinism: every token cosine is the exact fsum chain;
    * max-per-(query-token, doc) and the sum over query tokens ride
    * DECIMAL(38,12) (window/agg association, the q294 rule); the
    * top-k orders by the ROUNDED score with vec_id tiebreak (q207).
    *
    * Scale: the query side (nQuery docs × ≤maxTok token rows)
    * broadcasts; the corpus token table streams ONCE through the
    * broadcast join into a (qid, qtok, vec_id) max-agg then a
    * (qid, vec_id) sum-agg — two map-side-partial hash-aggs, shuffle
    * keyed by (qid, vec_id), never a corpus×corpus pair table; the
    * final window is per-query top-k. */
  def maxSimKnn(emb: DataFrame, nQuery: Int, k: Int,
                maxTok: Int = 8): DataFrame = {
    import graft.rel.Queries.femit
    val tv = tokenVectors(emb, maxTok)
      .withColumn("tnorm", norm(col("tv")))
      .where(col("tnorm") > 0.0)
    val q = tv.where(col("vec_id") < nQuery)
      .select(col("vec_id").as("qid"), col("tok_pos").as("qi"),
        col("tv").as("qv"), col("tnorm").as("qn"))
    val maxed = tv.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qi"), col("vec_id"),
        cosine(col("tv"), col("qv"), col("tnorm"), col("qn")).as("s"))
      .groupBy("qid", "qi", "vec_id")
      .agg(max(col("s").cast("decimal(38,12)")).as("ms"))
    topK(maxed.groupBy("qid", "vec_id")
      .agg(count(lit(1)).as("n_qtok"),
        femit(sum(col("ms")).cast("double")).as("score")), k, "score")
      .select("qid", "rnk", "vec_id", "n_qtok", "score")
  }
}
