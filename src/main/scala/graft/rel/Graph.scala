package graft.rel

import graft.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over an edge DataFrame — the workload class
  * the reference's MapReduce lineage (Lin &amp; Dyer ch. 5, see PAPERS.md)
  * treats as the canonical "beyond one job" composition: a fixed number
  * of shuffle-on-key rounds where round t+1 consumes round t's output.
  *
  * Complements [[graft.llm.Dedup.connectedComponents]] (data-dependent
  * fixpoint, driver checks convergence): PageRank runs a FIXED iteration
  * count. Loop-invariant inputs are checkpointed once and each round's
  * frame once, so the executed work stays linear in the round count (a
  * round that reads its predecessor twice would otherwise copy the
  * whole prefix per reference). A round that needs scalars (counts,
  * totals) reads them off the job that checkpoints it
  * ([[graft.Iterate.stage]]).
  */
object Graph {

  /** Single-source BFS shortest-path distances over an UNDIRECTED edge
    * set, `iters` fixed relaxation rounds: round t+1's frontier is
    * round t's distance table unioned with every neighbor at dist+1,
    * re-minimized per node. With iters ≥ graph diameter the
    * result IS the exact shortest-path distance (the gate corpus's
    * bigram graph has diameter ≪ 6; the oracle's recursive CTE computes
    * the true minimum, so the gate row also certifies the iteration
    * count sufficed — an undershot diameter fails the hash).
    *
    * Scale: per round one equi-join on the frontier key + one min-agg
    * — shuffle O(edges), the BFS round a Pregel system runs; row count
    * is bounded by |reachable nodes| after every round thanks to the
    * per-round re-min. The edge set and each round's distance table
    * are checkpointed (the q47/q65 pattern). Output: (node, dist) for
    * nodes within `iters` hops. */
  def bfs(edges: DataFrame, source: String, iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .where(col("a") =!= col("b"))
    // r15: the edge set is loop-invariant and each round references the
    // previous distance frame TWICE (frontier join + re-min union), so
    // the un-checkpointed declarative form duplicated the whole prefix
    // per reference — exponential subtree copies, parquet re-scanned
    // 2^iters times. One invariant checkpoint + one per-round
    // checkpoint makes the executed work linear in iters (guide §2.4;
    // the q47/q65 discipline). Values are unchanged — exact integers.
    val e = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var d = Seq((source, 0L)).toDF("node", "dist")
    for (r <- 1 to iters) {
      val next = d.join(e, d("node") === e("a"))
        .select(col("b").as("node"), (col("dist") + 1L).as("dist"))
      d = d.unionAll(next).groupBy("node").agg(min(col("dist")).as("dist"))
      if (r < iters) d = d.localCheckpoint()
    }
    d
  }

  /** Synchronous weighted label propagation (Raghavan et al., Phys.
    * Rev. E 2007) — community detection in `iters` fixed rounds, each
    * declared work the same shuffle-on-key shape as [[pageRank]]: every
    * node adopts the label carrying the highest incident edge-weight
    * sum among its neighbors' CURRENT labels (ties → smallest label —
    * a deterministic total order, where the textbook breaks ties
    * randomly). Edges are symmetrized and self-loops dropped;
    * a node whose only edges are self-loops has no neighbors and is
    * not part of the propagation graph. All state is (string, integer)
    * — no floats anywhere, so every round's data-dependent adoption is
    * exactly reproducible cross-engine.
    *
    * Scale: per round one equi-join keyed by neighbor + one hash-agg on
    * (node, label) + one per-node argmax window over the REDUCED
    * (node, label, weight) table; shuffle O(edges) — the Pregel LPA
    * superstep. `localCheckpoint` between rounds bounds plan depth
    * (the q47/q174 discipline). Output: one row per surviving label —
    * (label, size, min_node). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame =
    labelPropagationNodes(edges, iters)
      .groupBy("label")
      .agg(count(lit(1)).as("size"), min(col("node")).as("min_node"))
      .orderBy("label")

  /** The symmetrized, self-loop-free, weight-summed doubling of an
    * edge set — the adjacency form [[labelPropagationNodes]] and
    * [[modularity]] share (each undirected edge appears in BOTH
    * directions, so per-`a` aggregates see full neighborhoods). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"),
        col("weight").as("w"))
      .where(col("a") =!= col("b"))
    und.unionAll(und.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
  }

  /** [[labelPropagation]]'s per-node label frame (node, label) — split
    * out so downstream analytics (q251's modularity) can consume the
    * partition itself, not only its census. */
  def labelPropagationNodes(edges: DataFrame, iters: Int): DataFrame = {
    val sym = symmetrize(edges)
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    val byNode = Window.partitionBy("node")
      .orderBy(col("wt").desc, col("label").asc)
    for (r <- 1 to iters) {
      labels = sym
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(sum(col("w")).as("wt"))
        .withColumn("rn", row_number().over(byNode))
        .where(col("rn") === 1)
        .select("node", "label")
      if (r < iters) labels = labels.localCheckpoint()
    }
    labels
  }

  /** Newman modularity of a node partition (Newman &amp; Girvan, PRE
    * 2004): Q = Σ_c [ w_in(c)/2m − (s(c)/2m)² ] over the directed
    * doubling — w_in(c) counts intra-community directed edge weight,
    * s(c) the community's total strength, 2m the doubled total. The
    * EVAL of community detection: q177 reports the partition, this
    * grades it (the q231/q166 eval-family discipline). All aggregates
    * are exact integers off one edge-labeling join; per-community
    * terms are fixed-order IEEE and the TOTAL row sums them through
    * [[Queries.dsum]]. Shuffle O(edges) — two label equi-joins + one
    * hash-agg. Output: per-community rows + a '__TOTAL__' row whose
    * `q_term` is Q itself. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val sym = symmetrize(edges)
    val el = sym
      .join(labels.select(col("node").as("a"), col("label").as("lab_a")), "a")
      .join(labels.select(col("node").as("b"), col("label").as("lab_b")), "b")
    val tot = el.agg(sum(col("w")).as("w2"))
    val per = el.groupBy(col("lab_a").as("label"))
      .agg(countDistinct(col("a")).as("n_nodes"),
        sum(when(col("lab_a") === col("lab_b"), col("w")).otherwise(0L))
          .as("w_in2"),
        sum(col("w")).as("strength"))
      .crossJoin(broadcast(tot))
      .withColumn("q_term",
        col("w_in2").cast("double") / col("w2").cast("double")
          - (col("strength").cast("double") / col("w2").cast("double"))
            * (col("strength").cast("double") / col("w2").cast("double")))
    val total = per.agg(
      lit("__TOTAL__").as("label"),
      sum(col("n_nodes")).as("n_nodes"),
      sum(col("w_in2")).as("w_in2"),
      sum(col("strength")).as("strength"),
      Queries.dsum(col("q_term")).as("q_term"))
    per.select(col("label"), col("n_nodes"), col("w_in2"), col("strength"),
        col("q_term"))
      .unionAll(total)
      .select(col("label"), col("n_nodes"), col("w_in2"), col("strength"),
        Queries.femit(col("q_term")).as("q_term"))
      .orderBy("label")
  }

  /** Per-node triangle counts + local clustering coefficient via
    * DEGREE-ORDERED ORIENTATION (the standard distributed-triangle
    * trick — Cohen, "Graph Twiddling in a MapReduce World", CiSE 2009;
    * Suri &amp; Vassilvitskii, WWW 2011): orient every undirected edge
    * from its (degree, node)-smaller endpoint, enumerate wedges only at
    * the smallest vertex of each triangle, and close them with one
    * equi-join. Each triangle is found EXACTLY once (its vertices are
    * totally ordered by (deg, node), and only the minimum generates the
    * wedge), so no distinct is needed; and because wedges form only at
    * a vertex's oriented out-neighborhood — max out-degree is O(√edges)
    * under this orientation — the wedge explosion around hubs that
    * kills the naive formulation never happens: a star's center has
    * huge degree but zero out-edges to order below its leaves.
    *
    * Scale: degree agg O(edges); orientation is a projection; wedge
    * join + closing join are equi-joins with shuffle O(wedges) =
    * O(edges^1.5) worst case — the algorithmic optimum for exact
    * counting. Input `edges` (src, dst) may carry duplicates or
    * self-loops; they are normalized away first.
    *
    * Output: (node, deg, tri, clustering) — clustering =
    * 2·tri / (deg·(deg−1)), 0 for deg &lt; 2; one IEEE division on
    * exact integers, bit-identical across engines. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("d"), col("db").as("dd")))
        .otherwise(
          struct(col("b").as("s"), col("a").as("d"), col("da").as("dd")))
        .as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"), col("e.dd").as("ddeg"))
    val wedges = oriented.select(col("src"), col("dst").as("v1"), col("ddeg").as("dd1"))
      .join(oriented.select(col("src"), col("dst").as("v2"), col("ddeg").as("dd2")),
        "src")
      .where(col("dd1") < col("dd2")
        || (col("dd1") === col("dd2") && col("v1") < col("v2")))
    val tri = wedges
      .join(oriented.select(col("src").as("v1"), col("dst").as("v2")), Seq("v1", "v2"))
      .select(col("src").as("x"), col("v1").as("y"), col("v2").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          coalesce(col("tri"), lit(0L)).cast("double") * 2.0
            / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Weighted PageRank with dangling-mass redistribution
    * (Page et al., "The PageRank citation ranking", Stanford 1999):
    *
    *   r_{t+1}(j) = (1-d)/N + d · (Σ_{i→j} r_t(i)·w_ij/outw_i + D_t/N)
    *
    * where `D_t` is the rank mass sitting on dangling nodes (no
    * out-edges). Per round: one equi-join of edges to ranks on `src`
    * (shuffle O(edges) — at 100 TB both sides hash-partition on the
    * join key and a bucketed edge layout makes the edge side
    * exchange-free, the q53 contract) and one hash-agg on the target
    * node. `N` and each round's `D_t` are scalars observed on
    * the job that materializes their frame ([[graft.Iterate.stage]]),
    * so no round runs an extra action or broadcasts a 1-row aggregate.
    *
    * Cross-engine float parity: per-node contribution sums go through
    * [[Queries.dsum]] (order-independent DECIMAL(38,12) accumulation);
    * every other step is a correctly-rounded IEEE op on identical
    * inputs, so ranks stay bit-identical across engines at EVERY
    * iteration, and the final `round(.,6)` is cosmetic. The teleport
    * constant is passed to the oracle via Scala's shortest-round-trip
    * double printing, so `1.0 - damping`'s ulp (0.15000000000000002)
    * is faithfully shared rather than silently diverging from a
    * hand-written `0.15` literal.
    *
    * @param edges columns `src`, `dst` (any equatable type), `weight`
    *              (integral — summed exactly as LONG)
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double): DataFrame =
    emitRanks(rankRounds("pageRank", edges, None, iters, damping))

  /** Personalized PageRank: [[pageRank]] with the teleport vector
    * concentrated on a seed set instead of uniform — rank mass measures
    * proximity TO THE SEEDS, the primitive behind "related items" and
    * seed-expansion labeling (Haveliwala, WWW 2002). restart_i = 1/|S|
    * on seeds, 0 elsewhere (|S| counts every distinct seed, in the
    * graph or not); each round
    * rank' = (1−d)·restart + d·(inbound + danglingMass·restart), so
    * dangling mass also teleports to the seeds. Same round loop as
    * [[pageRank]], same dsum DECIMAL route for every per-node sum —
    * bit-identical cross-engine at every round. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int, damping: Double): DataFrame =
    emitRanks(rankRounds("personalizedPageRank", edges, Some(seeds), iters, damping))

  private def emitRanks(ranks: DataFrame): DataFrame =
    ranks.select(col("node"), Queries.femit(col("rank")).as("rank"))

  /** The round loop of [[pageRank]] (`seeds` = None: uniform restart)
    * and [[personalizedPageRank]]; ranks unrounded. The adjacency (src,
    * dst, weight, outw) and the node table are staged once, the latter
    * observing N and |S|; each ranks stage observes the dangling mass
    * the next round spreads. A round is one node-keyed aggregation over
    * the edge terms plus a zero term per node carrying its columns
    * (dsum(terms ∪ {0}) is exactly coalesce(dsum(terms), 0.0)). The
    * scalars combine in Scala in each operator's IEEE order (N = 0
    * gives infinite literals over zero rows, never a constant-folded
    * DIVIDE_BY_ZERO). */
  private[rel] def rankRounds(op: String, edges: DataFrame,
      seeds: Option[DataFrame], iters: Int, damping: Double): DataFrame = {
    require(iters >= 1, s"$op needs iters >= 1, got $iters")
    val adj = edges.select(col("src"), col("dst"), col("weight"),
        sum(col("weight")).over(Window.partitionBy("src")).as("outw"))
      .localCheckpoint()
    val inGraph = adj.select(col("src").as("node"), lit(true).as("has_out"))
      .unionAll(adj.select(col("dst").as("node"), lit(false).as("has_out")))
      .withColumn("is_seed", lit(false))
    // a seed outside the graph: null has_out, counted in |S|, filtered out
    val tagged = seeds.fold(inGraph)(sd => inGraph.unionAll(sd.select(col("node"),
        lit(null).cast("boolean").as("has_out"), lit(true).as("is_seed"))))
      .groupBy("node")
      .agg(max(col("has_out")).as("has_out"), max(col("is_seed")).as("is_seed"))
    val (nodeTab, counts) = Iterate.stage(tagged,
      count(col("has_out")).cast("double"), count_if(col("is_seed")).cast("double"))
    val n = counts.getDouble(0)
    val restart = if (seeds.isEmpty) lit(1.0 / n)
      else when(col("is_seed"), lit(1.0 / counts.getDouble(1))).otherwise(lit(0.0))
    def update(s: Column, dmass: Double): Column =
      if (seeds.isEmpty) lit((1.0 - damping) / n) + lit(damping) * (s + lit(dmass / n))
      else lit(1.0 - damping) * col("restart") +
        lit(damping) * (s + lit(dmass) * col("restart"))
    val dangling = coalesce(Queries.dsum(when(!col("has_out"), col("rank"))), lit(0.0))
    var (ranks, obs) = Iterate.stage(nodeTab.where(col("has_out").isNotNull)
      .select(col("node"), col("has_out"), restart.as("restart"), restart.as("rank")),
      dangling)
    for (it <- 1 to iters) {
      val round = adj.join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"),
          (col("rank") * col("weight") / col("outw")).as("term"))
        .unionByName(ranks.select(col("node"), lit(0.0).as("term"), col("has_out"),
          col("restart")), allowMissingColumns = true)
        .groupBy("node")
        .agg(Queries.dsum(col("term")).as("s"), max(col("has_out")).as("has_out"),
          max(col("restart")).as("restart"))
        .select(col("node"), col("has_out"), col("restart"),
          update(col("s"), obs.getDouble(0)).as("rank"))
      if (it < iters) { val (r, o) = Iterate.stage(round, dangling); ranks = r; obs = o }
      else ranks = round
    }
    ranks.select("node", "rank")
  }

  /** Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    * correlation of endpoint degrees over the directed doubling of the
    * undirected edge set — r &gt; 0 means hubs attach to hubs
    * (social-graph signature), r &lt; 0 hub-to-leaf (web/biology). The
    * moment sums Σjk, Σj, Σj² are EXACT 64-bit integer aggregates
    * (degrees and their products stay far under 2⁶³ for any graph whose
    * edge list fits storage), so the closing Pearson arithmetic is a
    * fixed-order IEEE expression on identical integers in any engine.
    * On a degree-REGULAR graph the excess-degree variance is exactly 0
    * and r is mathematically undefined — reported as NULL (explicitly,
    * on both engine and oracle sides; ANSI division would throw). The
    * sf0.1 corpus actually hits this: its bigram graph is 30-regular.
    * Plan: dedup + degree agg + one (node-keyed) join per endpoint +
    * a scalar reduce — shuffle O(edges), no quadratic step anywhere. */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val both = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val j = both
      .join(deg.select(col("node").as("a"), col("deg").as("ja")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("jb")), "b")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    j.agg(count(lit(1)).as("m"), sum(col("ja")).as("sj"),
        sum(col("ja") * col("jb")).as("sjk"),
        sum(col("ja") * col("ja")).as("sj2"))
      .crossJoin(broadcast(nNodes))
      .withColumn("md", col("m").cast("double"))
      .withColumn("num", col("sjk").cast("double") / col("md")
        - (col("sj").cast("double") / col("md"))
          * (col("sj").cast("double") / col("md")))
      .withColumn("den", col("sj2").cast("double") / col("md")
        - (col("sj").cast("double") / col("md"))
          * (col("sj").cast("double") / col("md")))
      .select(col("n_nodes"), expr("m div 2").as("m_edges"),
        Queries.femit(when(col("den") =!= lit(0.0), col("num") / col("den")))
          .as("r"))
  }

  /** HITS hubs &amp; authorities (Kleinberg, JACM 1999) over a DIRECTED
    * weighted edge set, `iters` fixed mutual-reinforcement rounds: a(j)
    * = Σ_{i→j} w·h(i), h(i) = Σ_{i→j} w·a(j), each vector L1-normalized
    * per round. L1 replaces the textbook's L2
    * normalization deliberately: the scores' RANKING is identical
    * under any positive rescaling, and an L1 total runs through
    * [[Queries.dsum]] — order-independent DECIMAL accumulation — so
    * every round's scores are bit-identical cross-engine, where an L2
    * sqrt over a float sum-of-squares would not be order-safe.
    *
    * Scale: per round two edge equi-joins + two hash-aggs (shuffle
    * O(edges), keyed by dst then src); each raw vector is staged with
    * its L1 total observed on the same job ([[graft.Iterate.stage]]),
    * and the total enters the normalization as a literal. Output:
    * (node, auth, hub) for every node, zeros where a side never
    * reinforces. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    // r15: e/nodes are loop-invariant and each vector feeds the next
    // round's join, so one checkpoint per vector per round keeps the
    // plan linear in iters (the q233 explain once carried 276 parquet
    // scans); dsum keeps every total order-independent.
    val e = edges.select(col("src"), col("dst"), col("weight"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    def normalized(raw: DataFrame, out: String): DataFrame = {
      val (r, tot) = Iterate.stage(raw, Queries.dsum(col("raw")))
      nodes.join(r, Seq("node"), "left")
        .select(col("node"), coalesce(col("raw") / lit(tot.get(0)), lit(0.0)).as(out))
    }
    var hubs = nodes.withColumn("h", lit(1.0))
    var auths: DataFrame = null
    for (it <- 1 to iters) {
      auths = normalized(e.join(hubs.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("weight") * col("h")).as("t"))
        .groupBy("node").agg(Queries.dsum(col("t")).as("raw")), "a")
        .localCheckpoint()
      hubs = normalized(e.join(auths.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), (col("weight") * col("a")).as("t"))
        .groupBy("node").agg(Queries.dsum(col("t")).as("raw")), "h")
      if (it < iters) hubs = hubs.localCheckpoint()
    }
    nodes.join(auths, Seq("node"), "left").join(hubs, Seq("node"), "left")
      .select(col("node"), Queries.femit(col("a")).as("auth"),
        Queries.femit(col("h")).as("hub"))
  }

  /** Link prediction over an UNDIRECTED graph: for every non-adjacent
    * node pair sharing ≥ 1 neighbor, the three classic proximity
    * scores — common-neighbor count, Jaccard of neighborhoods, and
    * Adamic–Adar Σ 1/ln(deg(z)) (Adamic &amp; Adar, Social Networks
    * 2003; survey: Liben-Nowell &amp; Kleinberg, CIKM 2003). The top-K
    * pairs by Adamic–Adar are the "missing edges" a recommender would
    * propose.
    *
    * Scale: candidate pairs are enumerated AT the shared middle z
    * (self-join of z's incident edges), so the work is Σ_z deg(z)² —
    * quadratic in the hub degrees, which is why `maxMiddleDeg` drops
    * super-hub middles BEFORE the expansion (the LSH maxBucket
    * discipline; a stop-word middle connects everything to everything
    * and predicts nothing — standard practice, and the cap is mirrored
    * in the oracle so it is gate-checked, not hidden). Existing edges
    * leave via one anti-join; every aggregate is an exact integer or a
    * [[Queries.dsum]]-routed float, so scores AND the top-K cut are
    * bit-identical cross-engine. */
  def linkPrediction(edges: DataFrame, maxMiddleDeg: Int, topK: Int): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val incid = und.select(col("a").as("z"), col("b").as("n"))
      .unionAll(und.select(col("b").as("z"), col("a").as("n")))
      .join(deg.select(col("node").as("z"), col("deg").as("dz"))
        .where(col("dz") <= maxMiddleDeg), "z")
    val pairs = incid.select(col("z"), col("dz"), col("n").as("u"))
      .join(incid.select(col("z"), col("n").as("w")), "z")
      .where(col("u") < col("w"))
    val scored = pairs
      .join(und.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_anti")
      .groupBy("u", "w")
      .agg(count(lit(1)).as("cn"),
        Queries.dsum(lit(1.0) / log(col("dz").cast("double"))).as("aa0"))
    scored
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
      .select(col("u"), col("w"), col("cn"),
        Queries.femit(col("aa0")).as("adamic_adar"),
        Queries.femit(col("cn").cast("double")
          / (col("du") + col("dw") - col("cn")).cast("double"))
          .as("jaccard"))
      .orderBy(col("adamic_adar").desc, col("u").asc, col("w").asc)
      .limit(topK)
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * Batagelj–Zaveršnik distributed form): `rounds` synchronous rounds
    * of "drop every node with degree < k, restrict edges to
    * survivors". With rounds ≥ the peel depth the survivor set IS the
    * exact k-core — the caller pins a round count probed past the
    * fixpoint at gate scale, and the oracle unrolls the SAME rounds, so
    * an undershot depth fails the gate hash (the [[bfs]] contract).
    *
    * Scale: each round is one degree hash-agg + two node-keyed
    * semi-joins — shuffle O(edges), the Pregel peel superstep; a
    * per-round localCheckpoint keeps the plan linear in depth (the
    * q47/q65 discipline). Output: surviving (node, deg) — degrees
    * WITHIN the core, all exact integers. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // Early exit at the fixpoint (r15 optimization, guide §1.2 "don't
    // compute things you throw away"): edges only ever LEAVE the set
    // (two semi-joins), so an unchanged count proves an unchanged set
    // and every later round is a no-op recount of the same edges. The
    // declared result — the k-core at `rounds` rounds — is identical;
    // the per-round count is observed on the job that checkpoints it.
    var (cur, m) = Iterate.stage(und, count(lit(1)))
    var prev = m.getLong(0)
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      val keep = degrees(cur).where(col("deg") >= k).select("node")
      val (next, mc) = Iterate.stage(cur
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi"), count(lit(1)))
      cur = next
      fixed = mc.getLong(0) == prev
      prev = mc.getLong(0)
      r += 1
    }
    degrees(cur).where(col("deg") >= k)
      .select(col("node"), col("deg")).orderBy("node")
  }

  /** Exact neighborhood function N(h) = #{(u,v) : dist(u,v) ≤ h} over a
    * DIRECTED edge set, h = 0..`iters` — the distance-distribution
    * census behind effective-diameter and spid estimates (Palmer et
    * al., "ANF", KDD 2002). Per round the reachability pair set joins
    * the edge list and re-distincts; each round's cardinality is one
    * curve point.
    *
    * This is the EXACT regime of HyperBall (Boldi & Vigna, "In-Core
    * Computation of Geometric Centralities with HyperBall", 2013): at
    * 100 TB the per-node reachable SET becomes a per-node HLL register
    * vector and the same join-and-merge recursion unions counters
    * instead of rows — identical dataflow (one equi-join + one
    * node-keyed agg per round), O(nodes·log log n) state instead of
    * O(pairs). The gate pins the exact values; the sketch swap changes
    * the agg payload, not the plan. Per-round localCheckpoint keeps
    * the plan linear in rounds (the q47/q65 discipline); each round's
    * count is observed on the job that stages it. Output: (h, n_pairs,
    * n_nodes, avg_ball). */
  def neighborhoodFunction(edges: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    var (reach, m) = Iterate.stage(e.select(col("src").as("n"))
      .unionAll(e.select(col("dst").as("n"))).distinct()
      .select(col("n").as("u"), col("n").as("v")), count(lit(1)))
    val nNodes = m.getLong(0)
    val curve = scala.collection.mutable.Buffer((0, nNodes))
    for (h <- 1 to iters) {
      val (next, mh) = Iterate.stage(reach
        .unionAll(reach.join(e, reach("v") === e("src"))
          .select(reach("u"), e("dst").as("v")))
        .distinct(), count(lit(1)))
      reach = next
      curve += ((h, mh.getLong(0)))
    }
    curve.toSeq.toDF("h", "n_pairs")
      .select(col("h").cast("long").as("h"), col("n_pairs"),
        lit(nNodes).as("n_nodes"),
        Queries.femit(col("n_pairs").cast("double") / nNodes).as("avg_ball"))
      .orderBy("h")
  }

  /** Maximal independent set via hash-priority local minima (Luby
    * 1986, the derandomized fixed-priority variant = the greedy MIS in
    * priority order; Blelloch et al. 2012 show the fixed-priority
    * parallel schedule converges in O(log n) rounds w.h.p.): each node
    * carries the DETERMINISTIC priority p = (node·2654435761) mod 2²⁰
    * (Knuth's multiplicative constant — pure integer arithmetic, so
    * both engines hold identical values with zero hash-function parity
    * risk; ties broken by node id, making the priority order total).
    * Per round, every live node whose (p, node) is smaller than all
    * live neighbors' joins the MIS; selected nodes and their neighbors
    * leave the live set.
    *
    * `rounds` is FIXED and pinned PAST the fixpoint (the q210 probe
    * obligation: DuckDB-replayed peel empties at round 4 on both
    * fixture scales; 8 gives 2× headroom and the spec's maximality
    * check fails loudly on undershoot). Rounds after the fixpoint
    * select from an empty live set — no-ops on both engines.
    *
    * Scale: per round one edge-grain equi-join (live neighbors) + one
    * node-keyed min-struct aggregate + two semi/anti joins — the
    * Pregel MIS round exactly; state shrinks monotonically (selected +
    * dominated leave). localCheckpoint per round bounds plan depth
    * (the q47/q65 discipline). Output: (node, priority, sel_round),
    * one row per MIS member. */
  def lubyMis(edges: DataFrame, rounds: Int): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val dirE = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    var live = dirE.select(col("u").as("n")).distinct()
      .withColumn("p", (col("n") * lit(2654435761L)) % lit(1048576L))
      .localCheckpoint()
    var mis: DataFrame = null
    // Early exit once the live set empties (r15 optimization): every
    // remaining round selects from an empty frame — two joins, a
    // checkpoint and an agg per round that provably produce zero MIS
    // rows. The live count is observed on the job that stages the set.
    var r = 1
    var drained = false
    while (r <= rounds && !drained) {
      val nbr = dirE.join(live.select(col("n").as("v"), col("p").as("pv")),
          Seq("v"))
        .groupBy("u").agg(min(struct(col("pv"), col("v"))).as("mn"))
      val sel = live.join(nbr, live("n") === nbr("u"), "left")
        .where(col("mn").isNull || struct(col("p"), col("n")) < col("mn"))
        .select(col("n"), col("p"))
        .withColumn("sel_round", lit(r.toLong))
        .localCheckpoint()
      mis = if (mis == null) sel else mis.unionAll(sel)
      val gone = sel.select(col("n"))
        .unionAll(dirE.join(sel.select(col("n").as("u")), Seq("u"),
          "left_semi").select(col("v").as("n")))
      val (next, m) = Iterate.stage(live.join(gone, Seq("n"), "left_anti"),
        count(lit(1)))
      live = next
      drained = m.getLong(0) == 0L
      r += 1
    }
    mis.orderBy("n")
      .select(col("n").as("node"), col("p").as("priority"),
        col("sel_round"))
  }

  /** k-truss peel curve (Cohen 2008, "Trusses: cohesive subgraphs for
    * social network analysis"): iteratively delete every edge whose
    * triangle support is below k−2 until the fixpoint; the surviving
    * edge set is the k-truss, the standard community-core strictly
    * tighter than [[kcore]] (every k-truss edge sits in a (k−1)-core).
    * Emitted as the PEEL CURVE — (round, n_edges) for round 0..rounds
    * — so the gate hashes the entire trajectory, which stays
    * informative even at scales where the truss empties (sf0.01 does;
    * the q401 empty-contract convention extended to curves).
    *
    * Per round: oriented triangle enumeration (a&lt;b&lt;c via the
    * two-join wedge + closing-edge semi join — each triangle counted
    * once), re-association of each triangle onto its three edges, one
    * count aggregate, and an inner join keeping edges with support
    * ≥ k−2. `rounds` is FIXED past the fixpoint (probe: 5 rounds at
    * sf0.001, 2 at sf0.01 — scale moves the fixpoint, q210's lesson;
    * 10 gives 2× headroom and post-fixpoint rounds recount an
    * unchanged edge set on both engines).
    *
    * Scale: triangle enumeration is the classic wedge blowup — the
    * a&lt;b orientation halves it, and at 100 TB the standard fix is
    * degree-ordered orientation (orient each edge low-degree →
    * high-degree, wedge only from the low end: O(Σ deg(v)·min-deg
    * side) per Chiba–Nishizeki) — same plan shape, one extra
    * degree-join to orient; the co-purchase graph's maxBasket/minCooc
    * caps already bound wedge fan-out here. localCheckpoint per round
    * keeps the plan linear in rounds. */
  def ktrussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var (e, m) = Iterate.stage(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct(), count(lit(1)))
    val curve = scala.collection.mutable.Buffer((0L, m.getLong(0)))
    // Early exit at the fixpoint (r15 optimization): peeling only
    // removes edges, so an unchanged count proves an unchanged set —
    // every later round re-enumerates the same wedges (the expensive
    // step) to recount the same edges. The declared curve is identical:
    // post-fixpoint rows are filled with the fixed count.
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      val wedges = e.select(col("a").as("x"), col("b").as("y"))
        .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x"))
        .where(col("y") < col("z"))
      val tri = wedges.join(e.select(col("a").as("y"), col("b").as("z")),
        Seq("y", "z"), "left_semi")
      val sup = tri.select(col("x").as("a"), col("y").as("b"))
        .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
        .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("s"))
        .where(col("s") >= (k - 2).toLong)
      val (next, mr) = Iterate.stage(
        e.join(sup.select("a", "b"), Seq("a", "b"), "left_semi"), count(lit(1)))
      e = next
      val c = mr.getLong(0)
      fixed = c == curve(r - 1)._2
      curve += ((r.toLong, c))
      r += 1
    }
    while (r <= rounds) { curve += ((r.toLong, curve(r - 1)._2)); r += 1 }
    curve.toSeq.toDF("round", "n_edges").orderBy("round")
  }
}
