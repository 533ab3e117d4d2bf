package graft.llm

import graft.Scratch.stampedStore
import graft.rel.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline query surface (SURVEY.md §2.3 E15–E17 + extensions):
  * dedup (exact is q17 in graft.rel), MinHash/SimHash near-dup,
  * n-gram Jaccard, cosine kNN (exact + banded LSH + IVF), text analysis,
  * multimodal metadata. EVERY declared query carries a DuckDB oracle —
  * the LSH paths embed their hyperplane matrix in the oracle SQL as a
  * DOUBLE[][] literal so DuckDB recomputes identical buckets; the
  * sketch paths (q18/q19/q54, round 4) and the multimodal stub decode
  * (q38/q61, round 5) use the portable Fnv1a32, which the oracle
  * recomputes as a plain SQL fold (see [[fnvSql]]).
  */
object Queries {

  /** Local alias of the hash-portable float-emission oracle twin —
    * see [[graft.rel.Queries.femitSql]]. */
  private def femitSql(e: String): String = graft.rel.Queries.femitSql(e)

  /** Exact decimal-lattice sum, oracle side — the
    * [[graft.rel.Queries.dsum]] VARCHAR-route twin (see its scaladoc
    * for why both casts must round-trip through VARCHAR). */
  private def dsumSql(e: String): String =
    s"CAST(CAST(SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"

  /** Embedding dimensionality of the driver's `embeddings` table (all
    * SFs ship 64-float vectors). A constant rather than a `.head()` probe:
    * plan construction must never run a Spark job. Pinned by a spec test
    * against the actual data. */
  val EmbeddingDim = 64

  /** q79's fixed query term set — high/low-df mix from the synthetic
    * corpus vocabulary, shared between the Spark plan and the oracle. */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "join", "window", "vector")

  /** q232's grid radius — ONE Scala constant feeds the declaration and
    * the oracle so the two engines share the cell size bit-for-bit. */
  private val GridR = 0.02

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E15: MinHash+LSH near-dup (banded candidates, exact-Jaccard
    // verify). Fully DuckDB-oracled since round 4: every hash in the
    // pipeline is the portable Fnv1a32, recomputed by the oracle SQL.
    "q18_minhash_neardup" -> ((s, dir) =>
      Dedup.minhashNearDups(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1)
        .orderBy("d1", "d2")),
    // E15: SimHash fingerprints as two portable 32-bit words — fully
    // DuckDB-oracled since round 4 (see Dedup.simhashAgg scaladoc).
    "q19_simhash" -> ((s, dir) =>
      Dedup.simhashAgg(Tables.read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // E15: the SimHash near-dup *decision* — 4×16-bit band join +
    // exact Hamming verify. maxDist 16 keeps the declared row non-vacuous
    // on the synthetic corpus (which has no exact duplicates at the gate
    // SF); the oracle replicates the identical banding, so the row
    // checks operator parity at any maxDist.
    "q54_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.read(s, dir, "documents"), "doc_id", "text",
        maxDist = 16)
        .orderBy("d1", "d2")),
    // E15 closure: near-dup PAIRS -> dedup GROUPS via distributed
    // connected components (min-label propagation to fixpoint); the
    // oracle transitive-closes the same pair set with a recursive CTE
    "q65_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashNearDups(Tables.read(s, dir, "documents"), "doc_id", "text",
          k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1))
        .orderBy("doc_id")),
    // E15 production shape: INCREMENTAL connected components — fold a
    // new batch's near-dup pairs into PERSISTED (edges, labels) tables,
    // recomputing only the components the fresh edges touch (see
    // Dedup.incrementalComponents). Generations are the doc_id%5 split
    // (q114's); the oracle is q65's full-graph transitive closure
    // VERBATIM (one shared SQL string) — the incremental path must
    // reproduce the from-scratch labels exactly, merges included.
    "q141_incremental_cc" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDups(Tables.read(s, dir, "documents"),
          "doc_id", "text", k = 3, nBuckets = 64, bandSize = 4,
          threshold = 0.1)
        .localCheckpoint() // one LSH pass feeds both generation splits
      val stored = pairs.where(col("d1") % 5 =!= 4 && col("d2") % 5 =!= 4)
      val fresh = pairs.where(col("d1") % 5 === 4 || col("d2") % 5 === 4)
      val eDir = graft.Scratch.dir("q141_edges")
      val lDir = graft.Scratch.dir("q141_labels")
      stored.write.mode("overwrite").parquet(eDir)
      Dedup.connectedComponents(stored).write.mode("overwrite").parquet(lDir)
      Dedup.incrementalComponents(
          s.read.parquet(eDir), s.read.parquet(lDir), fresh)
        .orderBy("doc_id")
    }),
    // E15 production shape (VERDICT r5 item 4): incremental dedup of a
    // NEW batch against the PERSISTED signature store of prior history —
    // a crawl pipeline never re-deduplicates its history per increment;
    // it keeps the band-key store (bucketed by the FULL probe key
    // (band, bkey) — the planner only rides a bucket layout whose
    // columns exactly match the join keys, PlanSpec-pinned — so the
    // probe join's store side is exchange-free) and probes it with each
    // new batch. Generations are the doc_id-parity split (even =
    // history, odd = new batch); the oracle recomputes both generations
    // end to end, so loss or duplication across the persist/read-back
    // boundary fails the row.
    "q75_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val history = docs.where(col("doc_id") % 2 === 0)
      val fresh = docs.where(col("doc_id") % 2 === 1)
      // Idempotent store build (Scratch.stamped): batch N−1's store is
      // PERSISTED state — rebuilding it per pass would both misstate
      // the bench (the query demonstrates the probe, and a crawl
      // pipeline never re-shingles history per increment) and
      // contradict the operator's own contract.
      graft.Scratch.stamped("minhash_store", dir, "documents",
          s.catalog.tableExists("minhash_store_bkt")) {
        graft.rel.Layout.writeBucketedBy(
          Dedup.minhashSignatureStore(history, "doc_id", "text"),
          "minhash_store_bkt", 8, "band", "bkey")
      }
      Dedup.incrementalNearDups(fresh, s.table("minhash_store_bkt"),
        history, "doc_id", "text", threshold = 0.1)
        .orderBy("doc_id", "dup_of")
    }),
    // E15 lifecycle closure (VERDICT r6 item 1): the store-UPDATE half
    // q75 leaves out — fold generation 1's band keys into generation
    // 0's persisted store (one full-outer join riding the bucket
    // layout, update cost O(gen1)), REWRITE it bucketed by (band,
    // bkey), and probe generation 2 against the updated store. This is
    // the complete production loop: probe batch N, fold batch N in,
    // batch N+1 probes the result — without it the store can only be
    // rebuilt from scratch. Generations are the doc_id%3 split; the
    // oracle recomputes the gen0∪gen1 store end to end from both
    // generations, so a lost, duplicated, or mis-merged band key — or
    // any bucketed write/read corruption across EITHER rewrite — fails
    // the row. Gen0's store is prior state (marker-cached, the q75
    // pattern); the merge + rewrite + probe run per pass: they ARE the
    // operator.
    "q100_store_update" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val gen0 = docs.where(col("doc_id") % 3 === 0)
      val gen1 = docs.where(col("doc_id") % 3 === 1)
      val gen2 = docs.where(col("doc_id") % 3 === 2)
      graft.Scratch.stamped("minhash_store_g0", dir, "documents",
          s.catalog.tableExists("minhash_store_g0")) {
        graft.rel.Layout.writeBucketedBy(
          Dedup.minhashSignatureStore(gen0, "doc_id", "text"),
          "minhash_store_g0", 8, "band", "bkey")
      }
      graft.rel.Layout.writeBucketedBy(
        Dedup.mergeSignatureStore(s.table("minhash_store_g0"), gen1,
          "doc_id", "text", storeBuckets = 8),
        "minhash_store_g1", 8, "band", "bkey")
      // mergeSignatureStore's per-generation cap schedule diverges from
      // the oracle's combined-cap recompute once any bucket nears
      // maxBucket (see its scaladoc). Guard that headroom here so a
      // fixture change fails loudly at the source rather than as a
      // confusing oracle mismatch (ADVICE r7); 1-row fixture-guard
      // collect, not part of the declared plan.
      val maxBkt = s.table("minhash_store_g1")
        .agg(max(size(col("ids"))).as("m")).collect().head.getInt(0)
      require(maxBkt <= 500,
        s"q100 fixture: largest store bucket ($maxBkt ids) is within 2x of " +
          "the 1000-id cap — per-generation and combined cap schedules diverge")
      Dedup.incrementalNearDups(gen2, s.table("minhash_store_g1"),
        gen0.unionAll(gen1), "doc_id", "text", threshold = 0.1)
        .orderBy("doc_id", "dup_of")
    }),
    // E16 production shape (VERDICT r6 item 5): the PERSISTED ANN
    // index. The IVF centroid table + cid-bucketed inverted-list
    // table are built once per corpus generation (marker-cached, the
    // q75/q95 fixture pattern) and the query batch probes them from a
    // fresh catalog read — at 100 TB nobody re-trains the quantizer or
    // re-assigns the corpus per query batch. Identical parameters to
    // q35, and arrays/norms round-trip parquet bit-exactly, so both
    // rows pin to ONE oracle value — index-store corruption, a
    // bucketed-write loss, or probe drift turns the row red.
    "q106_ivf_persisted" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      graft.Scratch.stamped("ivf_index", dir, "embeddings",
          s.catalog.tableExists("ivf_assign") &&
            s.catalog.tableExists("ivf_centroids")) {
        Sim.ivfIndexWrite(emb, nlist = 16, "ivf_assign", "ivf_centroids",
          buckets = 8)
      }
      Sim.ivfKnnFromIndex(emb, nQuery = 10, k = 5, nprobe = 4,
        "ivf_assign", "ivf_centroids")
        .orderBy("qid", "rnk")
    }),
    // E16 lifecycle closure (the q100 move applied to the ANN index):
    // INCREMENTAL index maintenance. The persisted index is built from
    // the BASE generation only (vec_id % 5 != 4 — quantizer trained
    // there, assignments bucketed by cid), then the new batch
    // (vec_id % 5 == 4) is assigned against the EXISTING centroids and
    // APPENDED into the inverted-list table — cost O(batch), the table
    // is never rewritten, and the scan stays bucketed across the
    // append (PlanSpec-pinned). Build + append are one-time index
    // state (marker-cached, the q106 pattern); the declared query
    // probes the updated index per pass. The oracle recomputes the
    // ENTIRE index from scratch with base-generation centroids — a
    // lost or duplicated append file, a mis-assigned batch vector, or
    // any bucketed-append corruption fails the row.
    "q114_ivf_update" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val batch = emb.where(col("vec_id") % 5 === 4)
      graft.Scratch.stamped("ivf_update", dir, "embeddings",
          s.catalog.tableExists("ivf_assign_upd") &&
            s.catalog.tableExists("ivf_centroids_upd")) {
        Sim.ivfIndexWrite(base, nlist = 16, "ivf_assign_upd",
          "ivf_centroids_upd", buckets = 8)
        Sim.ivfIndexAppend(batch, "ivf_assign_upd", "ivf_centroids_upd",
          buckets = 8)
      }
      Sim.ivfKnnFromIndex(emb, nQuery = 10, k = 5, nprobe = 4,
        "ivf_assign_upd", "ivf_centroids_upd")
        .orderBy("qid", "rnk")
    }),
    // Benchmark DECONTAMINATION: training docs sharing any 5-gram with
    // the eval partition (doc_id % 17 == 0 stands in for a held-out
    // benchmark). At the gate SF this flags exactly the train-side
    // near-dups of eval docs — the leakage a curation pipeline must
    // catch before training. Eval gram set broadcast; corpus streams
    // once (PlanSpec-pinned).
    "q111_decontaminate" -> ((s, dir) =>
      Curation.decontaminate(Tables.read(s, dir, "documents"), "doc_id", "text",
        evalPred = col("doc_id") % 17 === 0, k = 5)
        .orderBy("doc_id")),
    // Deterministic MIXTURE sampling: per-language curriculum weights
    // applied as a pure content-hash filter — same sample under any
    // partitioning, retry, or corpus growth. Weights ride a broadcast
    // table (the q104 discipline); no shuffle (PlanSpec-pinned).
    "q112_mixture_sample" -> ((s, dir) =>
      Curation.mixtureSample(Tables.read(s, dir, "documents"), "doc_id", "lang",
        Curation.MixtureWeights, Curation.MixtureDenom)
        .orderBy("doc_id")),
    // Sliding-window CHUNKING (size 32, stride 24): the context-window
    // prep between cleaning and packing. Pure per-row codegen
    // expansion, no shuffle (PlanSpec-pinned); every token covered,
    // final short window reaches the last token.
    "q113_chunk_overlap" -> ((s, dir) =>
      Curation.chunk(Tables.read(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),
    // WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES
    // keys, deterministic-u variant): top-10 events per type by
    // ln(u)/value — value-weighted importance sampling with the q112/
    // q121 reproducibility contract (see Curation.weightedSample).
    "q142_weighted_sample" -> ((s, dir) =>
      Curation.weightedSample(
        graft.rel.Queries.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value")),
        "event_id", "event_type", "value", k = 10)
        .orderBy("event_type", "rnk")),
    // Corpus-INTERNAL repeated n-grams (the Lee et al. 2022 duplication
    // signal at gram granularity): per-doc fraction of distinct
    // 3-grams occurring in ≥2 distinct docs — flags templated/
    // boilerplate fragments that whole-document dedup misses. Gram
    // doc-frequency rides an 8-byte portable-FNV shuffle key; the
    // oracle recomputes the identical fold (see
    // Curation.repeatedNgrams's scaladoc).
    "q133_repeated_ngrams" -> ((s, dir) =>
      Curation.repeatedNgrams(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, minDocs = 2)
        .orderBy("doc_id")),
    // E15/E16 ensemble: CONSENSUS dedup — near-dup pairs flagged by
    // BOTH the text MinHash path (q18) and the embedding sign-LSH path
    // (q36's pipeline, via the 1:1 doc_id = vec_id linkage). Agreement
    // across modalities is the high-precision drop set a curation
    // pipeline deletes without review; either single detector alone
    // over-fires on its modality's blind spots. Pure composition: two
    // candidate pipelines + one equi-join on the pair key — no new
    // shuffle shape. The embedding threshold is 0.2 here, not q36's
    // 0.35: the synthetic embeddings correlate only weakly with text
    // similarity (text-dup pairs measure cosine ≈0.07–0.28), and the
    // consensus's precision comes from the conjunction, not from either
    // single threshold. Both pair pipelines ride fingerprint-stamped
    // materializations (the q218/q222 pattern) — the consensus join is
    // a report over proven pair stores, not a reason to re-run two
    // similarity joins per pass (VERDICT r9 item 3).
    "q94_consensus_dedup" -> ((s, dir) => {
      val text = minhashPairStore(s, dir)
      val embed = embedLshPairStore(s, dir)
        .select(col("v1").as("d1"), col("v2").as("d2"), col("sim"))
      text.join(embed, Seq("d1", "d2"))
        .select(col("d1"), col("d2"), col("jaccard"), col("sim"))
        .orderBy("d1", "d2")
    }),
    // E15 cousin: fuzzy string join (entity resolution) — blocked
    // Levenshtein matching over derived 5-token titles; the edit-
    // distance complement to the set-based (Jaccard) near-dup family
    "q86_fuzzy_join" -> ((s, dir) => {
      val titled = Tables.read(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " ", -1), 1, 5)).as("title"))
      Dedup.fuzzyJoin(titled, "doc_id", "title", maxDist = 10)
        .orderBy("d1", "d2")
    }),
    // E15: SORTED-NEIGHBORHOOD dedup over the same derived titles —
    // the window-based entity-resolution alternative to q86's
    // blocking (Hernández–Stolfo 1995). Buckets by leading character,
    // parallel in-bucket leads + cross-boundary recovery; the oracle
    // is the IDEAL single-window SNM, so the gate row certifies the
    // distributed form reproduces it exactly on this corpus (see
    // Dedup.sortedNeighborhood).
    "q165_sorted_neighborhood" -> ((s, dir) => {
      val titled = Tables.read(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " ", -1), 1, 5)).as("title"))
      Dedup.sortedNeighborhood(titled, "doc_id", "title", w = 4, maxDist = 10)
        .orderBy("d1", "d2")
    }),
    // E14 finisher: KEEP-BEST dedup — within each exact-duplicate text
    // group, survive the highest-TRUST copy (metadata score desc,
    // doc_id asc tiebreak) instead of q17's min-id convention: the
    // production rule when copies differ in source metadata. The corpus
    // has no exact duplicates (q17), so duplicate copies are injected
    // (ids +10000 for doc_id < 25 — the q45 fixture pattern) and trust
    // is a deterministic metadata stand-in (doc_id mod 7, mirrored in
    // the oracle); content-derived quality would tie on identical text
    // by construction. One tiny window per text group.
    "q97_keep_best" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents").select("doc_id", "text", "lang")
      val copies = docs.where(col("doc_id") < 25)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"), col("lang"))
      val all = docs.unionAll(copies)
        .withColumn("trust", pmod(col("doc_id"), lit(7L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("text").orderBy(col("trust").desc, col("doc_id").asc)
      all.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_survivors"),
          sum(when(col("doc_id") >= 10000, 1L).otherwise(0L)).as("n_copies_won"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // The full production dedup DECISION (VERDICT r6 item 4): q97
    // picks the trust survivor within EXACT-text groups; this composes
    // q65's connected components with the same keep-best window so the
    // survivor is chosen per NEAR-dup cluster — pairs transitively
    // closed into components, then one row_number window per component
    // (trust = the q97 doc_id-mod-7 metadata stand-in, trust desc /
    // doc_id asc tiebreak). Emitted per component: member count and
    // the survivor's id + trust — fully deterministic. The oracle
    // recursive-CTE-closes the same pair set (q65's oracle) and applies
    // the identical window. Scale: components is the audited O(edges)
    // fixpoint; the window shuffles only docs that appear in a pair
    // (the non-dup bulk never enters), one partition per cluster.
    "q103_component_keep_best" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val comps = Dedup.connectedComponents(
        Dedup.minhashNearDups(docs, "doc_id", "text",
          k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1))
      val members = comps
        .withColumn("trust", pmod(col("doc_id"), lit(7L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("trust").desc, col("doc_id").asc)
      members.withColumn("rn", row_number().over(w))
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("doc_id"))).as("survivor_id"),
          max(when(col("rn") === 1, col("trust"))).as("survivor_trust"))
        .orderBy("component")
    }),
    // The incremental KEEP SET: fresh docs that do NOT near-duplicate
    // history (anti join on q75's matched pairs) — what actually flows
    // downstream after the incremental dedup pass. Composition only.
    "q98_incremental_keep" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val history = docs.where(col("doc_id") % 2 === 0)
      val fresh = docs.where(col("doc_id") % 2 === 1)
      val store = Dedup.minhashSignatureStore(history, "doc_id", "text")
      val dups = Dedup.incrementalNearDups(fresh, store, history,
        "doc_id", "text", threshold = 0.1)
      fresh.join(dups.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    }),
    // E6/E17: frequent-items sketch (Spark 4's approx_top_k) — the
    // heavy-hitters pass a vocabulary/boilerplate monitor runs where an
    // exact group-by is too wide. Gated in its EXACT regime: with
    // maxItemsTracked ≥ distinct items (the corpus vocabulary is ~31
    // tokens) the tracker never evicts, so every count is exact and the
    // whole sketch output value-oracles against the plain frequency
    // table; production runs it at k ≪ distinct where the counts go
    // approximate but the dataflow is identical.
    "q99_approx_topk" -> ((s, dir) => {
      val tok = Tables.read(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .where(col("tok") =!= "")
      tok.agg(expr("approx_top_k(tok, 100, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("tok"), col("e.count").cast("long").as("cnt"))
        .orderBy("tok")
    }),
    // E6/E17: COUNT-MIN SKETCH point-frequency estimates via the native
    // CmsSketch TypedImperativeAggregate (see its scaladoc): one
    // constant-size mergeable grid aggregated across partitions (the
    // partial buffers merge by elementwise add — the path this query
    // exercises under local[32]), then every vocabulary token's
    // estimate = min over its depth cells, read from the broadcast
    // 1-row sketch. Unlike q99's exact-regime gate, the oracle
    // recomputes the GRID itself (4 portable FNV folds), so the row
    // pins the sketch's actual cells and its overestimates — not just
    // a collision-free projection.
    "q117_cms_freq" -> ((s, dir) => {
      val tok = Tables.read(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .where(col("tok") =!= "")
      val sk = tok.agg(
        graft.functions.SketchAggs.cmsSketch("tok", 4, 256).as("sk"))
      val exact = tok.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      val ests = (0 until 4).map { j =>
        element_at(col("sk"),
          (pmod(graft.functions.HashExprs.fnv1a32("tok",
              graft.functions.CmsSketch.seed(j)), lit(256L))
            + lit(j * 256 + 1)).cast("int"))
      }
      exact.crossJoin(broadcast(sk))
        .select(col("tok"), col("exact_cnt"), least(ests: _*).as("est_cnt"))
        .withColumn("no_underestimate", col("est_cnt") >= col("exact_cnt"))
        .orderBy("tok")
    }),
    // KMV (bottom-k) distinct sketch via the native KmvSketch
    // TypedImperativeAggregate (see its scaladoc): per-group k smallest
    // distinct FNV hashes of the user id, estimate (k-1)·2^32/h_k.
    // Run in the genuine sketch regime (k=32 < ~150 distinct users per
    // event type); kept-set tail, estimate AND relative error are all
    // value-oracled — DuckDB recomputes the identical kept set by rank
    // over distinct portable hashes. The single-division estimate and
    // the error ratio are correctly-rounded IEEE ops on identical
    // integer inputs, so they match bit-for-bit (round(6) is belt and
    // braces on the ratio only).
    "q123_kmv_distinct" -> ((s, dir) => {
      val k = 32
      val ev = graft.rel.Queries.events(s, dir)
        .select(col("event_type"), col("user_id").cast("string").as("uid"))
      val sk = ev.groupBy("event_type")
        .agg(graft.functions.SketchAggs.kmvSketch("uid", k).as("mins"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("uid")).as("exact_distinct"))
      sk.join(exact, "event_type")
        .select(
          col("event_type"),
          size(col("mins")).cast("long").as("n_kept"),
          element_at(col("mins"), size(col("mins"))).as("kth_hash"),
          when(size(col("mins")) < k, size(col("mins")).cast("double"))
            .otherwise(lit((k - 1).toDouble * 4294967296.0)
              / element_at(col("mins"), k).cast("double"))
            .as("est_distinct"),
          col("exact_distinct"))
        .withColumn("rel_err",
          graft.rel.Queries.femit(abs(col("est_distinct") - col("exact_distinct"))
            / col("exact_distinct")))
        .orderBy("event_type")
    }),
    // KMV SET ALGEBRA — the property that makes bottom-k sketches an
    // algebra, not just a counter (Beyer et al., "On Synopses for
    // Distinct-Value Estimation Under Multiset Operations", SIGMOD
    // 2007): the bottom-k of A∪B is computable from the two sketches
    // alone (merge kept sets, keep the k smallest), Jaccard is
    // estimated by the fraction of that union sketch belonging to both
    // sides, and |A∩B| ≈ Ĵ·|A∪B|̂. Per event-type pair: union/Jaccard/
    // intersection estimates next to their exact values. At 100 TB the
    // exact columns are the expensive path (a distinct self-join over
    // the raw table); the sketch columns derive from 5 tiny kept sets —
    // list math on already-reduced data. All hashes portable FNV, so
    // DuckDB recomputes every kept set and estimate bit-for-bit.
    "q135_kmv_set_ops" -> ((s, dir) => {
      val k = 32
      val ev = graft.rel.Queries.events(s, dir)
        .select(col("event_type"), col("user_id").cast("string").as("uid"))
      val sk = ev.groupBy("event_type")
        .agg(graft.functions.SketchAggs.kmvSketch("uid", k).as("mins"))
      val a = sk.select(col("event_type").as("et1"), col("mins").as("ma"))
      val b = sk.select(col("event_type").as("et2"), col("mins").as("mb"))
      val dist = ev.distinct()
      val exact = dist.select(col("event_type").as("et1"), col("uid"))
        .join(dist.select(col("event_type").as("et2"), col("uid")), "uid")
        .where(col("et1") < col("et2"))
        .groupBy("et1", "et2").agg(countDistinct(col("uid")).as("exact_inter"))
      val nd = ev.groupBy("event_type")
        .agg(countDistinct(col("uid")).as("nd"))
      val est = a.join(b, col("et1") < col("et2"))
        .withColumn("mk",
          slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
        .select(col("et1"), col("et2"), col("ma"), col("mb"),
          size(col("mk")).cast("long").as("m"),
          element_at(col("mk"), size(col("mk"))).as("kth"), col("mk"))
        .select(col("et1"), col("et2"), col("m"),
          when(col("m") < k, col("m").cast("double"))
            .otherwise(lit((k - 1).toDouble * 4294967296.0)
              / col("kth").cast("double")).as("union_est"),
          (size(array_intersect(array_intersect(col("mk"), col("ma")),
            col("mb"))).cast("double") / col("m")).as("jacc_est"))
        .withColumn("inter_est", col("jacc_est") * col("union_est"))
      est
        .join(exact, Seq("et1", "et2"), "left")
        .join(nd.select(col("event_type").as("et1"), col("nd").as("nd1")), "et1")
        .join(nd.select(col("event_type").as("et2"), col("nd").as("nd2")), "et2")
        .select(col("et1"), col("et2"), col("m"), col("union_est"),
          col("jacc_est"), col("inter_est"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          (col("nd1") + col("nd2")
            - coalesce(col("exact_inter"), lit(0L))).as("exact_union"),
          when(coalesce(col("exact_inter"), lit(0L)) > 0,
            graft.rel.Queries.femit(abs(col("inter_est") - col("exact_inter"))
              / col("exact_inter"))).as("rel_err_inter"))
        .orderBy("et1", "et2")
    }),
    // E17: bigram-LM average log-prob with add-one smoothing — the
    // conditional-probability upgrade of q58's unigram filter (see
    // TextAnalysis.bigramLogProb's scaladoc): per-row pair generation,
    // two hash-aggs, one skew-splittable equi-join.
    "q120_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(Tables.read(s, dir, "documents"))),
    // Iterative graph analytics: weighted PageRank over the bigram
    // token graph, 3 rounds, dangling-mass redistribution — the fixed-
    // iteration shuffle-on-key composition: inputs and rounds 0..2 are
    // checkpointed stages whose scalars (node count, dangling mass) are
    // observed on the staging job, and round 3 is the final plan (see
    // rel.Graph.pageRank's scaladoc for the float-parity and 100 TB
    // analysis). Ranks are bit-identical across engines at every round
    // via the dsum route.
    "q124_pagerank" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val edges = prs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      graft.rel.Graph.pageRank(edges, iters = 3, damping = 0.85)
        .orderBy("node")
    }),
    // Personalized PageRank over the same bigram graph: teleport mass
    // pinned to the long-token seed set (length ≥ 8), so rank measures
    // proximity to the seeds — the seed-expansion primitive behind
    // "find documents like these" relevance propagation (see
    // rel.Graph.personalizedPageRank; the same round loop and dsum
    // float discipline as q124).
    "q270_personalized_pagerank" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val edges = prs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val seeds = nodes.where(length(col("node")) >= 8)
      graft.rel.Graph.personalizedPageRank(edges, seeds,
          iters = 3, damping = 0.85)
        .orderBy("node")
    }),
    // E15 substring-level dedup signal: per-language coverage of
    // 8-token windows repeated across documents (see
    // Dedup.substringDupCoverage — interval-union coverage, no
    // pairwise expansion).
    "q271_substring_dedup" -> ((s, dir) =>
      Dedup.substringDupCoverage(Tables.read(s, dir, "documents"), k = 8)),
    // Near-dup cluster SIZE DISTRIBUTION — the curation dashboard row
    // that decides dedup policy: a long tail of pairs is survivable,
    // one giant boilerplate cluster means the corpus needs template
    // stripping before dedup (a cluster of size s deletes s−1 docs
    // under keep-one). Composes q18's candidates → q65's components →
    // a two-level count; singletons (docs in no pair) enter as the
    // size-1 row so the histogram partitions the WHOLE corpus. All
    // exact integers.
    // Mixture-temperature planning: α=1/2 flattened per-source sampling
    // weights + effective epochs (see Curation.mixtureTemperature — the
    // recipe q112's deterministic sampler would then execute).
    "q283_mixture_temperature" -> ((s, dir) =>
      Curation.mixtureTemperature(Tables.read(s, dir, "documents"), "source", "text")),
    // E16 spectral primitive: top principal component of the embedding
    // cloud by in-plan power iteration (see Sim.pcaPower — two
    // matrix-vector products per round as dim-/vec-keyed shuffles, no
    // covariance matrix, dsum-stable loadings).
    "q279_pca_power" -> ((s, dir) =>
      Sim.pcaPower(Tables.read(s, dir, "embeddings"), iters = 2)),
    // Rides the stamped MinHash pair store (same params as q18/q65) —
    // the histogram is a report over the pair table, not a reason to
    // re-run the MinHash join per pass.
    "q276_dup_cluster_sizes" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val comp = Dedup.connectedComponents(minhashPairStore(s, dir))
      val hist = comp.groupBy("component").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          col("n_docs"))
      val tot = docs.agg(count(lit(1)).as("td"))
      val inComp = comp.agg(count(lit(1)).as("dc"))
      val singletons = tot.crossJoin(inComp)
        .select(lit(1L).as("cluster_size"),
          (col("td") - col("dc")).as("n_clusters"),
          (col("td") - col("dc")).as("n_docs"))
      hist.unionAll(singletons).orderBy("cluster_size")
    }),
    // HITS hubs & authorities over the directed weighted bigram graph,
    // 2 mutual-reinforcement rounds as checkpointed stages — the
    // second eigen-centrality family next to q124's PageRank (a node
    // can be a strong HUB without being an authority; PageRank cannot
    // separate the two roles). L1 normalization per round keeps every
    // score on the dsum DECIMAL route — bit-identical cross-engine at
    // every round (see rel.Graph.hits).
    "q233_hits" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val edges = prs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      graft.rel.Graph.hits(edges, iters = 2).orderBy("node")
    }),
    // Link prediction over the ≥2-basket co-purchase graph (q210's
    // edge set): common-neighbor / Jaccard / Adamic–Adar proximity for
    // non-adjacent pairs, top-30 by Adamic–Adar — the "customers who
    // bought X might want Y" edge-recommendation primitive. Candidate
    // pairs enumerate at the shared middle with an 8-degree hub cap
    // (fires at gate scale: sf0.01 has middles of degree up to 13;
    // mirrored in the oracle so the capped semantics are gate-checked).
    "q234_link_prediction" -> ((s, dir) => {
      val items = Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val bounded = items
        .withColumn("bsize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("ok")))
        .where(col("bsize") <= 64)
        .select("ok", "pk")
      val edges = bounded.select(col("ok"), col("pk").as("a"))
        .join(bounded.select(col("ok"), col("pk").as("b")), Seq("ok"))
        .where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
        .where(col("cooc") >= 2L)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.rel.Graph.linkPrediction(edges, maxMiddleDeg = 8, topK = 30)
    }),
    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    // PageRank over the UNDIRECTED window-2 token co-occurrence graph
    // — the unsupervised keyword scorer, and a different graph shape
    // from q124's directed bigrams (window-2 symmetrized, so rank
    // flows both ways and adjacent-only hubs deflate). Composition:
    // the same rel.Graph.pageRank, fed the symmetrized doubling of
    // the co-occurrence edge set; top-20 keywords by rank.
    "q235_textrank" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "flatten(transform(ts, (t, i) -> filter(array(" +
            "struct(t AS src, try_element_at(ts, i + 2) AS dst), " +
            "struct(t AS src, try_element_at(ts, i + 3) AS dst)), " +
            "p -> p.dst IS NOT NULL)))")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
        .where(col("src") =!= col("dst"))
      val sym = prs.unionAll(
        prs.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      graft.rel.Graph.pageRank(sym, iters = 3, damping = 0.85)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
    }),
    // Community detection: 2 synchronous weighted label-propagation
    // rounds over the (undirected) bigram graph — deterministic
    // min-label tiebreak, all-integer state, zero driver actions per
    // round (see rel.Graph.labelPropagation). 2 rounds keeps the gate
    // graph (31 densely-connected token nodes) at 3 communities —
    // probed at 1/2/3 rounds: 19/3/1; full LPA on so dense a graph
    // collapses to one label, textbook behavior, so the declared row
    // is pinned just before the collapse to stay non-vacuous.
    "q177_label_propagation" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val edges = prs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      graft.rel.Graph.labelPropagation(edges, iters = 2)
    }),
    // Modularity of the q177 partition (Newman-Girvan Q): the EVAL of
    // community detection — q177 reports communities, this grades how
    // much better-than-random their internal edge mass is (the
    // q231/q166 eval-family discipline applied to graphs). Exact
    // integer aggregates off one edge-labeling join; per-community
    // terms fixed-order IEEE, TOTAL row via dsum.
    "q251_modularity" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val edges = prs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
      graft.rel.Graph.modularity(edges,
        graft.rel.Graph.labelPropagationNodes(edges, iters = 2))
    }),
    // Single-source BFS distances over the (undirected) bigram graph,
    // 6 fixed relaxation rounds as one declarative plan; the oracle's
    // recursive CTE computes the TRUE minimum, so the gate row also
    // certifies 6 rounds covered the diameter (see rel.Graph.bfs).
    "q145_bfs" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      graft.rel.Graph.bfs(prs, "spark", iters = 6).orderBy("node")
    }),
    // Triangle counting + local clustering coefficient over the same
    // bigram token graph, via degree-ordered orientation (each triangle
    // enumerated exactly once at its (deg, node)-minimal vertex — see
    // rel.Graph.triangles' scaladoc). The oracle counts triangles
    // orientation-free (lexicographic 3-way join) — the two
    // enumeration orders must agree on every per-node count.
    "q137_triangles" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      graft.rel.Graph.triangles(prs).orderBy("node")
    }),
    // Degree assortativity of the same bigram graph — hub-to-hub vs
    // hub-to-leaf mixing in one Pearson scalar from exact integer
    // moment sums (see rel.Graph.assortativity).
    "q195_assortativity" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val prs = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      graft.rel.Graph.assortativity(prs)
    }),
    // E16 training-loop closure: hard-negative mining — per query the
    // top-k most-similar DIFFERENT-label vectors (see
    // Sim.hardNegatives; q21's broadcast shape + label inequality).
    "q196_hard_negatives" -> ((s, dir) =>
      Sim.hardNegatives(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // Fixed-size per-stratum sample: EXACTLY min(k, |group|) rows per
    // language by (content hash, id) rank — the eval-set constructor
    // q112's fraction-threshold rule can't express (see
    // Curation.stratumSample's scaladoc for the trade).
    "q121_stratum_sample" -> ((s, dir) =>
      Curation.stratumSample(Tables.read(s, dir, "documents"), "doc_id", "lang",
        k = 20)
        .orderBy("lang", "rnk")),
    // E16 dimension-reduction axis: matryoshka/truncated kNN — exact
    // top-k over the first 16 of 64 coordinates renormalized, each hit
    // flagged against the full-dimension top-k (the cheap first stage
    // before exact rerank; complements q108's precision axis). Both
    // rankings deterministic, so the recall flag value-oracles too.
    "q122_matryoshka_knn" -> ((s, dir) =>
      Sim.truncatedKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5,
        dims = 16)
        .orderBy("qid", "rnk")),
    // Distributed BPE tokenizer training: 4 merge rounds over the
    // corpus word-frequency vocabulary — corpus shuffles once, every
    // round is vocab-sized, argmax via TakeOrderedAndProject(1), merge
    // applied as a broadcast-joined codegen aggregate() fold; zero
    // driver actions (q124 discipline). The oracle replays the exact
    // greedy fold, so merge choices AND weights value-oracle.
    "q174_bpe_train" -> ((s, dir) =>
      Curation.bpeTrain(Tables.read(s, dir, "documents"), "text", rounds = 4)),
    // BPE ENCODE with q174's merges: tokenizer application as a
    // per-language compression report — encoding rides the vocabulary,
    // the corpus is touched twice, and the greedy fold's data-dependent
    // token counts value-oracle (same fold replay as q174's oracle,
    // carried down to word level and joined back per language).
    "q206_bpe_encode" -> ((s, dir) =>
      Curation.bpeEncode(Tables.read(s, dir, "documents"), "doc_id", "text",
        "lang", rounds = 4)),
    // Centroid-based silhouette over the q35/q46 coarse quantizer:
    // cluster-separation report from ONE broadcast centroid pass +
    // one rank window — own/next distances from positions 1 and 2 of
    // the same ranking (the O(n·k) silhouette; the textbook O(n²)
    // form is unreachable at scale).
    "q204_silhouette" -> ((s, dir) =>
      Sim.silhouette(Tables.read(s, dir, "embeddings"), nlist = 16)),
    // Zipf rank-frequency fit over the top-1000 vocabulary: corpus →
    // (token, count) hash-agg → TakeOrderedAndProject(1000) → 1000-row
    // rank window + OLS reduce through the DECIMAL dsum route.
    "q205_zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlope(Tables.read(s, dir, "documents"), topK = 1000)),
    // MMR diversified top-k rerank: greedy λ-tradeoff between query
    // relevance and redundancy vs the already-picked set, unrolled as
    // 5 declarative rounds over the checkpointed top-20 pool; the
    // corpus is touched once (the pool stage).
    "q175_mmr_diversify" -> ((s, dir) =>
      Sim.mmrDiversify(Tables.read(s, dir, "embeddings"), nQuery = 10, pool = 20,
        k = 5)),
    // Hybrid dense+sparse retrieval: RRF-fuse the cosine ranking with
    // the lexical token-overlap ranking for the same query docs
    // (doc_id = vec_id identity, q93).
    "q176_rrf_fusion" -> ((s, dir) =>
      Sim.rrfFusion(Tables.read(s, dir, "embeddings"), Tables.read(s, dir, "documents"),
        nQuery = 10, pool = 20, k = 10)),
    // Cluster labeling: top TF-IDF tokens per embedding cluster — the
    // "what is this cluster about" report right after the quantizer
    // runs (q46/q47's clusters made human-readable; cross-modal
    // composition like q93: clusters from embeddings, labels from the
    // joined documents' text).
    "q173_cluster_labels" -> ((s, dir) =>
      TextAnalysis.clusterLabels(Tables.read(s, dir, "documents"),
        Sim.ivfAssign(Tables.read(s, dir, "embeddings"), nlist = 16)
          .select("vec_id", "cid"))),
    // E15: exact n-gram Jaccard brute-force baseline (bounded id range)
    "q20_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, maxId = 150)
        .orderBy("d1", "d2")),
    // E15: EXACT set-similarity self-join via prefix filtering (the
    // AllPairs/PPJoin family) — all pairs with 3-shingle Jaccard ≥ 0.5
    // over the WHOLE corpus, no id bound and no LSH false-negative
    // risk. Because the method is lossless, the oracle is the plain
    // brute-force all-pairs join: a candidate the prefix filter loses
    // is a missing row (see Dedup.prefixFilterJoin's scaladoc).
    "q132_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixFilterJoin(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, tauNum = 1, tauDen = 2)
        .orderBy("d1", "d2")),
    // Dedup threshold-sensitivity sweep — the tuning report run BEFORE
    // committing to a near-dup threshold: q132's lossless pair set
    // (exact Jaccard ≥ 0.5, full corpus) evaluated at five candidate
    // thresholds in one pass (explode + filter; the expensive pair
    // join runs ONCE, localCheckpoint'd, and the sweep rides the tiny
    // pair table). Threshold comparisons are exact: both engines'
    // correctly-rounded divisions land on identical doubles, and the
    // oracle CASTs its grid literals to DOUBLE (the q176 DECIMAL
    // gotcha). Zero-pair thresholds keep their row (left join from the
    // grid, zero-filled).
    // Exact near-dup PAIR STORE consumers: q132's lossless (d1, d2,
    // jaccard) table is expensive (the similarity join dominates its
    // bench entry), and THREE declared queries need it. q132 stays the
    // from-scratch declaration — it IS the operator — while q218/q222
    // ride a fingerprint-stamped materialization (the q75/q100
    // compute-once-probe-many pattern): first consumer per fixture
    // builds it, the rest read parquet. A regenerated fixture (same
    // path, new bytes) invalidates the marker and forces a rebuild.
    "q222_crosssource_dups" -> ((s, dir) => {
      val src = Tables.read(s, dir, "documents").select(col("doc_id"), col("source"))
      exactPairStore(s, dir)
        .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
        .select(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"), col("jaccard"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          graft.rel.Queries.femit(graft.rel.Queries.dsum(col("jaccard")) / count(lit(1)))
            .as("mean_jaccard"))
        .orderBy("source_a", "source_b")
    }),
    // Embedding drift between corpus halves — the ML-ops check run
    // before trusting a refreshed embedding table: per label, the
    // cosine between the even-half and odd-half mean vectors (exact
    // DECIMAL per-dimension means — bit-identical in any accumulation
    // order — then one fixed-order sequential-fold cosine on the two
    // 64-dim centroids). Drift below 1 flags a half-dependent shift.
    // One corpus scan, one (label, half, dim) hash-agg, a label-grain
    // reduce.
    "q223_embedding_drift" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          (col("vec_id") % 2L === 0L).as("even"),
          posexplode(Sim.asDouble(col("embedding"))).as(Seq("dim", "x")))
      val cents = e.groupBy("label", "even", "dim")
        .agg((graft.rel.Queries.dsum(col("x")) / count(lit(1))).as("c"))
        .groupBy("label", "even")
        .agg(map_from_entries(collect_list(struct(col("dim"), col("c"))))
          .as("m"))
        .select(col("label"), col("even"),
          expr(s"transform(sequence(0, ${EmbeddingDim - 1}), " +
            "i -> element_at(m, i))").as("v"))
      val ev = cents.where(col("even")).select(col("label"), col("v").as("va"))
      val od = cents.where(!col("even")).select(col("label"), col("v").as("vb"))
      ev.join(od, "label")
        .select(col("label"),
          graft.rel.Queries.femit(
            Sim.cosine(col("va"), col("vb"), Sim.norm(col("va")),
              Sim.norm(col("vb")))).as("half_cosine"))
        .orderBy("label")
    }),
    "q218_dedup_sweep" -> ((s, dir) => {
      import s.implicits._
      val ths = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      val pairs = exactPairStore(s, dir)
      val e = pairs
        .withColumn("threshold", explode(array(ths.map(lit): _*)))
        .where(col("jaccard") >= col("threshold"))
      val np = e.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
      val nd = e.select(col("threshold"),
          explode(array(col("d1"), col("d2"))).as("doc"))
        .distinct()
        .groupBy("threshold").agg(count(lit(1)).as("n_docs_touched"))
      ths.toDF("threshold")
        .join(np, Seq("threshold"), "left")
        .join(nd, Seq("threshold"), "left")
        .na.fill(0L, Seq("n_pairs", "n_docs_touched"))
        .orderBy("threshold")
    }),
    // E16: exact cosine top-k (brute force baseline)
    "q21_cosine_knn" -> ((s, dir) =>
      Sim.cosineKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // Retrieval-quality eval: P@5 / MRR@10 / NDCG@5 of the exact
    // cosine ranking under label-match relevance — the ranking-eval
    // companion to q166's AUC and q180's calibration (see
    // Sim.retrievalMetrics for the ln-discount and shared-literal
    // ideal-DCG parity analysis).
    "q231_ndcg" -> ((s, dir) =>
      Sim.retrievalMetrics(Tables.read(s, dir, "embeddings"),
        nQuery = 10, k = 5, mrrK = 10)),
    // Cascade-model ranking eval: graded label-distance relevance,
    // dyadic stop probabilities, one fixed arithmetic chain per query
    // (see Sim.errAtK).
    "q412_err" -> ((s, dir) =>
      Sim.errAtK(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)),
    // One NN-descent co-neighbor round over the IVF-seeded kNN graph,
    // with the recall-vs-exact convergence audit on the bounded
    // audit slice (see Sim.nnDescent). The stage chain itself is the
    // stamped nn_graph_store build (once per fixture); the declared
    // query is the store-fed audit (VERDICT r13 item 3).
    "q417_nn_descent" -> ((s, dir) =>
      Sim.nnDescentAudit(Tables.read(s, dir, "embeddings"), nnGraphStore(s, dir))),
    // Team-draft interleaving of the full vs 4-dim-truncated cosine
    // rankers with a derandomized per-round coin (see
    // Sim.teamDraftInterleave).
    "q418_team_draft" -> ((s, dir) =>
      Sim.teamDraftInterleave(Tables.read(s, dir, "embeddings"))),
    // Kendall's W concordance of three document-criterion rankings
    // with midranks and tie correction (see TextAnalysis.kendallW).
    "q419_kendall_w" -> ((s, dir) =>
      TextAnalysis.kendallW(Tables.read(s, dir, "documents"))),
    // Exposure-fairness audit of the q231 retrieval surface: label-
    // group exposure share vs corpus share (see Sim.exposureFairness).
    "q421_exposure_fairness" -> ((s, dir) =>
      Sim.exposureFairness(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 10)),
    // Rank-biased precision with dyadic persistence p = 1/2 (see
    // Sim.rbpAtK).
    "q424_rbp" -> ((s, dir) =>
      Sim.rbpAtK(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 10)),
    // Inter-rater reliability of three deterministic quality
    // heuristics over documents (see TextAnalysis.krippendorffAlpha —
    // integer coincidence matrix, two final ratios).
    "q413_krippendorff" -> ((s, dir) =>
      TextAnalysis.krippendorffAlpha(Tables.read(s, dir, "documents"))),
    // 2-D radius self-join via grid cells over the first two embedding
    // dims — the spatial-join shape (q43/q136's covering-cell
    // discipline applied to points): equi-join on cell keys, 3×3
    // neighborhood probe, exact-distance verify, 4096-point cell cap
    // ahead of the quadratic step.
    "q232_grid_radius_join" -> ((s, dir) =>
      Sim.gridRadiusJoin(Tables.read(s, dir, "embeddings"), r = GridR,
        maxCell = 4096)),
    // Per-dimension embedding standardization + outlier census — the
    // z-score feature-scaling pass before scale-sensitive models (see
    // Sim.standardize for the one-agg/broadcast-back shape and the
    // E[x²]−E[x]² dsum-route parity argument).
    "q265_standardize" -> ((s, dir) =>
      Sim.standardize(Tables.read(s, dir, "embeddings"))),
    // WEIGHTED set-similarity join: tf-idf shingle cosine, top-20
    // pairs — the importance-weighted complement of q132's unweighted
    // Jaccard (rare shared shingles count more than boilerplate);
    // capped-vocabulary semantics (df ≤ 20 — fires at bench scale
    // where max df is 25) bound the pair work at Σ df² (see
    // Dedup.tfidfCosinePairs).
    "q252_tfidf_cosine" -> ((s, dir) =>
      Dedup.tfidfCosinePairs(Tables.read(s, dir, "documents"), "doc_id", "text")),
    // Grid-density clustering (cell-granular DBSCAN): core cells ≥ 3
    // points, clusters = 8-connected components of core cells via the
    // q65 min-label fixpoint — density clustering with NO pairwise
    // distance step (see Sim.gridDensityClusters). Probed: sf0.01
    // yields 17 clusters (largest 8 cells), sf0.1 a 264-cell giant
    // component — the data-dependent fixpoint loop handles both, where
    // a fixed-round unroll could not.
    "q250_grid_density" -> ((s, dir) =>
      Sim.gridDensityClusters(Tables.read(s, dir, "embeddings"), r = GridR,
        minPts = 3L)),
    // E16 production shape: FILTERED kNN — top-k cosine restricted by
    // a label predicate and a cross-modal lang predicate BEFORE the
    // rank window (pre-filter semantics: k survivors guaranteed, scan
    // pruned ahead of the cosine).
    "q228_filtered_knn" -> ((s, dir) =>
      Sim.filteredKnn(Tables.read(s, dir, "embeddings"), Tables.read(s, dir, "documents"),
        nQuery = 10, k = 5, langs = Seq("en", "de"), labelMod = 2L)
        .orderBy("qid", "rnk")),
    // E16: exact cosine top-k via the native codegen CosineSim expression
    "q32_cosine_knn_native" -> ((s, dir) =>
      Sim.cosineKnnNative(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // E15/E16: embedding-cosine near-dup, exact baseline (bounded ids)
    "q33_embed_neardup" -> ((s, dir) =>
      Sim.cosineNearDups(Tables.read(s, dir, "embeddings"), maxId = 300, threshold = 0.35)
        .orderBy("v1", "v2")),
    // E16: IVF-flat approximate kNN (coarse quantizer + probed lists)
    "q35_ivf_knn" -> ((s, dir) =>
      Sim.ivfKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // E16 compression axis: int8 scalar-quantized kNN (SQ8 codes +
    // integer-dot candidate pass + exact rerank of the top-20). The
    // quantization, the integer dot, and the fixed-order dequantized
    // estimate are all cross-engine bit-reproducible, so the WHOLE
    // pipeline — candidate set included — is value-oracled.
    "q108_sq8_knn" -> ((s, dir) =>
      Sim.sq8Knn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // E16 capstone: IVF-PQ — the coarse-pruning × residual-compression
    // COMPOSITION (FAISS IndexIVFPQ design): nprobe=4 of 16 lists per
    // query, vectors stored as 8 PQ codes of their residual, ADC
    // estimate dot(q,c) + Σ LUT, exact rerank of the top-40. Every
    // stage a fixed-order fold ⇒ the whole pipeline value-oracles
    // (see Sim.ivfpqKnn). Residual codebooks take one exact-DECIMAL
    // Lloyd pass (Sim.refineSubCodebook; was 0.46 recall unrefined,
    // LlmSpec floor now 0.7); the oracle replays the identical
    // iteration so the row stays hash-green.
    "q164_ivfpq_knn" -> ((s, dir) =>
      Sim.ivfpqKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // E16: PRODUCT-QUANTIZATION kNN (8 subspaces × 16 centroids, ADC
    // lookup-table scan, exact rerank of the top-40) — the third
    // compression axis after q108's precision and q122's dimensions.
    // Codes, LUTs, and estimates are fixed-order folds on identical
    // inputs, so the whole pipeline value-oracles (see Sim.pqKnn).
    // Codebooks take one exact-DECIMAL Lloyd refinement pass
    // (Sim.refineSubCodebook — was 0.52 recall unrefined, LlmSpec
    // floor now 0.7); the oracle replays the identical iteration so
    // the row stays hash-green.
    "q140_pq_knn" -> ((s, dir) =>
      Sim.pqKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // E16: LSH bucket histogram (the ANN scale path's partition shape)
    "q22_lsh_buckets" -> ((s, dir) =>
      Sim.lshBuckets(Tables.read(s, dir, "embeddings"), nPlanes = 16, dim = EmbeddingDim)
        .orderBy("bucket")),
    // E15/E16 scale twin of q33: multi-table banded sign-LSH near-dup
    // over the FULL corpus (no id bound) — the 100-TB path, fully
    // DuckDB-oracled via the plane-matrix SQL literal
    "q36_lsh_neardup" -> ((s, dir) =>
      Sim.cosineNearDupsLsh(Tables.read(s, dir, "embeddings"), threshold = 0.35,
        nTables = 16, bandPlanes = 4, dim = EmbeddingDim)
        .orderBy("v1", "v2")),
    // E16 scale twin of q21: banded-LSH approximate kNN, same oracle style
    "q37_ann_knn" -> ((s, dir) =>
      Sim.annKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5,
        nTables = 16, bandPlanes = 4, dim = EmbeddingDim)
        .orderBy("qid", "rnk")),
    // E17: token counting
    "q23_token_stats" -> ((s, dir) => TextAnalysis.tokenStats(Tables.read(s, dir, "documents"))),
    // E17: quality scoring
    "q24_quality_score" -> ((s, dir) => TextAnalysis.qualityScore(Tables.read(s, dir, "documents"))),
    // E17: language-ID heuristic
    "q25_lang_id" -> ((s, dir) => TextAnalysis.langId(Tables.read(s, dir, "documents"))),
    // q25's hard classifier EVALUATED against the labeled lang column:
    // one confusion-matrix cell per (label, prediction) with per-label
    // recall — the classifier-eval companion to q166/q180's ranking
    // evals. One corpus scan, one tiny hash-agg.
    "q211_langid_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(Tables.read(s, dir, "documents"))),
    // E17: per-language top terms
    "q26_lang_top_terms" -> ((s, dir) => TextAnalysis.langTopTerms(Tables.read(s, dir, "documents"), 5)),
    // E17: TF-IDF
    "q27_tfidf" -> ((s, dir) => TextAnalysis.tfidf(Tables.read(s, dir, "documents"))),
    // E17 (VERDICT r5 item 5): Okapi BM25 at DOCUMENT granularity — the
    // per-doc retrieval score a curation pipeline ranks with (q27's
    // document unit is the language)
    "q76_bm25" -> ((s, dir) => TextAnalysis.bm25(Tables.read(s, dir, "documents"))),
    // E17: the retrieval lookup over that index — top-20 docs by summed
    // BM25 for a fixed query term set (TakeOrderedAndProject top-k; only
    // the k survivors pay the rank window)
    "q79_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables.read(s, dir, "documents"), Bm25QueryTerms, 20)),
    // E17: collocation scoring — PMI + Dunning LLR over adjacent
    // bigrams (min count 5), the relative-frequency upgrade of the
    // reference's co-occurrence counts (Lin & Dyer ch. 3's own
    // progression; see TextAnalysis.collocations).
    "q143_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.read(s, dir, "documents"), "text",
        minCount = 5)
        .orderBy("w1", "w2")),
    // E17: out-of-vocabulary rate vs the corpus top-16 vocabulary
    // (count-desc, token-asc tiebreak — deterministic in both engines).
    // The tokenizer-coverage check run before committing to a vocab.
    "q138_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(Tables.read(s, dir, "documents"), "doc_id", "text",
        vocabSize = 16)
        .orderBy("doc_id")),
    // E17: persisted INVERTED INDEX (flat postings bucketed+sorted by
    // term) probed with a conjunctive AND query — the retrieval
    // analogue of q106's persisted ANN index. The probe scan is
    // bucket-pruned to the query terms' buckets (PlanSpec pins
    // SelectedBucketsCount < total); shuffle is O(matched postings).
    "q139_posting_index" -> ((s, dir) => {
      TextAnalysis.postingIndexWrite(Tables.read(s, dir, "documents"), "doc_id",
        "text", "q139_postings", buckets = 8)
      TextAnalysis.conjunctiveQuery(s, "q139_postings",
        Seq("spark", "join"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // STREAMING index maintenance: q139's inverted index kept current
    // by the ingest stream itself — each micro-batch computes its
    // postings ROW-LOCALLY (per-doc tf via array HOFs: O(len·distinct)
    // inside one codegen projection, no stateful streaming agg, no
    // watermark, state stays O(files)) and appends through the
    // checkpointed exactly-once parquet sink. The declared result runs
    // q139's conjunctive probe over the accumulated postings and must
    // equal the batch-built index's answer exactly (one shared oracle
    // truth): a lost batch, duplicated append, or per-doc tf drift
    // turns the row red. At 100 TB this is the always-fresh index
    // pattern — the expensive explode+count rides each batch once,
    // and the sink partitioning (term-bucketed in production, plain
    // appends here) governs probe cost, not ingest cost.
    "q216_stream_index" -> ((s, dir) => {
      val out = graft.Scratch.dir("stream_postings")
      val postings = graft.sources.StreamIngest.ingestParquet(
        s, dir, "documents.parquet", Tables.read(s, dir, "documents").schema,
        out, out + "_ckpt",
        df => df
          .select(col("doc_id"),
            expr("filter(split(text, ' ', -1), t -> t != '')").as("ts"))
          .select(col("doc_id"), explode(expr(
            "transform(array_distinct(ts), t -> struct(t AS tok, " +
              "size(filter(ts, x -> x = t)) AS tf))")).as("p"))
          .select(col("doc_id"), col("p.tok").as("tok"),
            col("p.tf").cast("long").as("tf")))
      postings.where(col("tok").isin("spark", "join"))
        .groupBy("doc_id")
        .agg(countDistinct(col("tok")).as("nt"), sum(col("tf")).as("score"))
        .where(col("nt") === 2)
        .select(col("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // E17 production shape (VERDICT r6 item 3): the q88 linear scorer
    // with its parameters as a REAL broadcast (feature, weight) table
    // — proving the "a weight table changes nothing" scaladoc claim
    // in-plan. w·x accumulates in exact DECIMAL, so the row carries
    // its own full value oracle (weights as a VALUES CTE).
    "q104_weighted_score" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.linearScoreWeighted(Tables.read(s, dir, "documents"),
        TextAnalysis.LinearWeights.toDF("feature", "weight"))
    }),
    // E17: q79's retrieval lookup with the query terms as a TABLE
    // joined into the plan instead of isin literals — same dataflow,
    // must equal q79 exactly (oracle carries the terms as a CTE).
    "q105_bm25_term_table" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.bm25TopKTerms(Tables.read(s, dir, "documents"),
        Bm25QueryTerms.toDF("tok"), 20)
    }),
    // E16: per-label class centroids — the nearest-class-mean building
    // block over the embeddings table's label column (exact-decimal
    // means, bit-identical cross-engine like q47)
    "q80_label_centroids" -> ((s, dir) =>
      Sim.labelCentroids(Tables.read(s, dir, "embeddings"))),
    // Cross-modal join: the documents and embeddings tables relate 1:1
    // on doc_id = vec_id — the text↔vector linkage every curation
    // pipeline maintains. Per-(lang, label) corpus stats: doc counts,
    // mean embedding norm (sqrt is IEEE-exact and the sum is decimal,
    // so the mean needs no rounding), token volume. At scale this is a
    // plain equi-join (both sides shuffle on the shared id; bucketing
    // both tables by it would make it exchange-free, the q53 layout).
    "q93_crossmodal" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val emb = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          Sim.norm(Sim.asDouble(col("embedding"))).as("nrm"))
      docs.join(emb, docs("doc_id") === emb("vec_id"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n_docs"),
          (graft.rel.Queries.dsum(col("nrm")) / count(lit(1))).as("avg_norm"),
          sum(size(split(col("text"), " ", -1))).cast("long").as("sum_tokens"))
        .orderBy("lang", "label")
    }),
    // E17: rolling-hash fingerprint
    "q28_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.read(s, dir, "documents"))),
    // multimodal metadata projection (real part of the stubbed pipeline)
    "q29_multimodal_meta" -> ((s, dir) => Multimodal.metadata(Tables.read(s, dir, "documents"))),
    // multimodal decode + feature-extract through the batched
    // mapPartitions pipeline. FULLY DuckDB-oracled since round 5: the
    // ==STUB== decode derives every value from the portable Fnv1a32
    // (no codecs in this environment — a real decoder swaps into the
    // same typed row shape). The raw array<float> feature column is not
    // hashable/sortable by the driver's pandas compare, so the dump
    // carries its exact integer sum instead (stub features are 24-bit
    // ints as floats — the cast back to BIGINT is lossless); the
    // raw-array schema stays pinned in MultimodalSpec.
    "q38_multimodal_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(Multimodal.ingest(Tables.read(s, dir, "documents")))
        .toDF()
        .withColumn("feature_sig",
          expr("aggregate(transform(feature, x -> CAST(x AS BIGINT)), " +
            "CAST(0 AS BIGINT), (a, b) -> a + b)"))
        .drop("feature")
        .orderBy("doc_id")
    }),
    // Multimodal frame sampling: every 4th frame of each document's
    // decoded frame count, one row per sampled frame with its feature
    // signature — fully DuckDB-oracled via the portable Fnv1a32 stub
    // decode (see Multimodal.frameSample)
    "q61_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Tables.read(s, dir, "documents"), stride = 4)
        .orderBy("doc_id", "frame_idx")),
    // Corpus prep: token-budget sequence packing ("concatenate and cut"
    // shard assignment) via the distributed two-phase prefix sum
    "q39_shard_pack" -> ((s, dir) =>
      Pack.shardPack(Tables.read(s, dir, "documents"), budget = 4096)
        .orderBy("doc_id")),
    // Corpus prep end-to-end: quality filter -> exact dedup -> shard
    // pack — the composed training-data cleaning pipeline, every stage
    // deterministic and the whole chain oracle-checked
    "q41_corpus_clean" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val keep = TextAnalysis.qualityScore(docs)
        .where(col("quality") >= 0.9)
        .select("doc_id")
      val deduped = docs.join(keep, "doc_id")
        .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text")
      Pack.shardPack(deduped, budget = 4096).orderBy("doc_id")
    }),
    // Corpus prep: deterministic stratified sampling (per-lang rates,
    // multiplicative-hash membership — reproducible on any engine)
    "q40_stratified_sample" -> ((s, dir) =>
      Pack.stratifiedSample(Tables.read(s, dir, "documents"),
        Map("en" -> 50, "de" -> 30), defaultRate = 10)
        .select("doc_id", "lang")
        .orderBy("doc_id")),
    // Corpus prep: the materialized "concatenate and cut" sequences —
    // shard assignment joined back to text, concatenated in id order
    "q70_pack_sequences" -> ((s, dir) =>
      Pack.packSequences(Tables.read(s, dir, "documents"), budget = 4096)
        .orderBy("shard")),
    // Corpus prep: deterministic train/val/test split (hash-range
    // buckets — a doc never migrates splits as the corpus grows)
    "q69_split" -> ((s, dir) =>
      Pack.assignSplit(Tables.read(s, dir, "documents"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy("lang", "split")),
    // SemDedup-style semantic dedup: cluster via the IVF coarse
    // quantizer, report members near their cluster representative —
    // the drop set of an embedding-level near-dup pass at corpus scale
    "q46_cluster_dedup" -> ((s, dir) =>
      Sim.clusterDedup(Tables.read(s, dir, "embeddings"), threshold = 0.35, nlist = 16)
        .orderBy("vec_id")),
    // Three Lloyd iterations of k-means over the embedding corpus — the
    // quantizer-training step (exact-decimal means make even this
    // iterative, data-dependently-branching float computation
    // oracle-checkable bit-for-bit; lineage is truncated per iteration
    // so plan cost stays linear in iters)
    "q47_kmeans_refine" -> ((s, dir) =>
      Sim.kmeansRefine(Tables.read(s, dir, "embeddings"), nlist = 16, iters = 3)
        .orderBy("cid", "dim")),
    // CCNet-style line-level boilerplate removal. The corpus has no
    // '. '-delimited structure (single word streams), so the query
    // injects a deterministic boilerplate header/footer around every
    // document (q45's fixture pattern, mirrored in the oracle): the
    // injected lines hit df=corpus and are dropped, the real text
    // (df=1) survives — every branch of the operator exercised.
    "q64_line_dedup" -> ((s, dir) =>
      TextAnalysis.lineDedup(Tables.read(s, dir, "documents"),
        concat(lit("subscribe to our newsletter. "), col("text"),
          lit(". all rights reserved")), maxDf = 10)),
    // Model-based quality filtering (CCNet-perplexity shape): per-doc
    // average unigram log-probability under the corpus's own unigram LM
    "q58_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.read(s, dir, "documents"))),
    // Gopher-style repetition/boilerplate signals over the corpus
    "q44_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.read(s, dir, "documents"))),
    // fastText-style linear classifier filter: σ(w·x + b) over cheap
    // per-doc features with literal weights (production swaps in a
    // broadcast weight table; the plan is unchanged)
    // In-plan multinomial naive Bayes: train on even doc_ids, score
    // odd, confusion matrix out (see TextAnalysis.naiveBayes scaladoc)
    "q291_naive_bayes" -> ((s, dir) =>
      TextAnalysis.naiveBayes(Tables.read(s, dir, "documents"))),
    // Cohen's kappa between the stopword-vote heuristic (q25) and the
    // trained naive Bayes (q291) on the shared test half (see
    // TextAnalysis.cohensKappa scaladoc)
    "q309_cohens_kappa" -> ((s, dir) =>
      TextAnalysis.cohensKappa(Tables.read(s, dir, "documents"))),
    // CART depth-1 split search as one declarative plan (see
    // TextAnalysis.decisionStump scaladoc)
    "q292_decision_stump" -> ((s, dir) =>
      TextAnalysis.decisionStump(Tables.read(s, dir, "documents"))),
    // MOSS winnowing fingerprint selection (see TextAnalysis.winnow)
    "q293_winnowing" -> ((s, dir) =>
      TextAnalysis.winnow(Tables.read(s, dir, "documents"), k = 3, w = 4)),
    // NORMALIZATION-KEYED exact dedup — the curation stage between
    // byte-exact (q17) and fuzzy (q18/q86): case-fold, strip
    // punctuation, collapse whitespace, then hash-group on the
    // canonical key (the "url-style text canonicalization" every crawl
    // pipeline runs before content-defined dedup). The synthetic
    // corpus is already canonical, so the declared query UNIONS a
    // decorated copy of every even doc (uppercased, punctuation-
    // injected, re-id'd at +10M) — byte-exact dedup sees nothing,
    // normalized dedup must collapse every copy onto its original.
    // Survivor = min doc_id per key (the q17 rule). Scale: one
    // per-row codegen'd normalization + one hash-agg — identical
    // dataflow to q17, the key function is the operator.
    "q303_normalized_dedup" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents").select("doc_id", "lang", "text")
      val noisy = docs.where(pmod(col("doc_id"), lit(2L)) === 0L)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          concat(lit("  "), upper(col("text")), lit("!!!  ")).as("text"))
      val all = docs.unionAll(noisy)
      val keyed = all.withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")))
      val groups = keyed.groupBy("norm")
        .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n_copies"))
      keyed.join(groups, keyed("doc_id") === groups("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_copies") - 1L).as("n_dups_removed"))
        .orderBy("lang")
    }),
    // MinHash estimator-accuracy audit: one-permutation estimate vs
    // exact Jaccard per candidate pair (see Dedup.minhashAccuracy)
    "q316_minhash_accuracy" -> ((s, dir) =>
      Dedup.minhashAccuracy(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, nBuckets = 64, bandSize = 4, maxBucket = 1000)),
    // Asymmetric superset/subset near-dup: shingle containment in the
    // df-capped space (see Dedup.containmentPairs scaladoc)
    "q299_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, dfCap = 20L, threshold = 0.5)),
    // Heaps'-law vocabulary growth curve + fitted exponent (see
    // TextAnalysis.heapsLaw scaladoc)
    "q300_heaps_law" -> ((s, dir) =>
      TextAnalysis.heapsLaw(Tables.read(s, dir, "documents"), every = 50)),
    // Exact neighborhood function over the directed bigram token graph
    // — HyperBall's exact regime (see Graph.neighborhoodFunction)
    "q301_neighborhood" -> ((s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
      val edges = base.select(explode(expr(
          "filter(transform(ts, (t, i) -> struct(t AS src, try_element_at(ts, i + 2) AS dst)), " +
            "p -> p.dst IS NOT NULL)")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      graft.rel.Graph.neighborhoodFunction(edges, iters = 3)
    }),
    "q88_linear_score" -> ((s, dir) =>
      TextAnalysis.linearScore(Tables.read(s, dir, "documents"))),
    // PII/URL scrub. The synthetic corpus carries no PII (verified:
    // zero '@'/'http'/digit occurrences), so the declared query injects
    // deterministic doc_id-derived fixtures (email, URL, long number)
    // before scrubbing — mirrored verbatim in the oracle — so the
    // corpus-level row actually exercises every pattern instead of
    // passing vacuously.
    "q45_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact-"), col("doc_id"), lit("@mail.example.com see http://ex.com/p/"),
        col("doc_id"), lit(" tel "), col("doc_id") + lit(9000000L))
      TextAnalysis.scrub(Tables.read(s, dir, "documents"), injected)
        .orderBy("doc_id")
    }),
    // E6: approximate distinct (HLL++) next to the exact count. The
    // exact count is oracle-checked directly; the HLL++ estimate is
    // folded into an oracle-checkable *bound* (|approx−exact|/exact
    // < 5%) — DuckDB asserts `true`, so a drifting sketch turns the row
    // red instead of hiding behind `no_oracle`. The estimate is
    // deterministic for fixed data (measured ~2.5% on lineitem at every
    // SF, well under the bound); the statistical 3σ property is tested
    // separately in LlmSpec.
    "q30_approx_distinct" -> ((s, dir) => {
      val exact = countDistinct(col("l_partkey")).cast("double")
      val approx = approx_count_distinct(col("l_partkey")).cast("double")
      Tables.read(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        (abs(approx - exact) / exact < 0.05).as("approx_ok"))
    }),
    // Tokenizer-planning fertility survey under the GPT-2-style
    // pretokenizer (see TextAnalysis.pretokenFertility scaladoc)
    "q321_pretokenize" -> ((s, dir) =>
      TextAnalysis.pretokenFertility(Tables.read(s, dir, "documents"))),
    // SemDeDup cluster-then-compare semantic pruning (see Sim.semDedup)
    "q322_semdedup" -> ((s, dir) =>
      Sim.semDedup(Tables.read(s, dir, "embeddings"), nlist = 16, tau = 0.30)),
    // LSH (bands, rows) planner against the corpus's empirical pair-
    // Jaccard histogram (see Dedup.lshPlan scaladoc)
    "q323_lsh_planner" -> ((s, dir) =>
      Dedup.lshPlan(Tables.read(s, dir, "documents"), nSig = 128, tau = 0.5,
        maxId = 200L)),
    // Laplace-mechanism DP count release, derandomized hash-noise
    // (see Curation.dpCounts scaladoc)
    "q324_dp_counts" -> ((s, dir) =>
      Curation.dpCounts(Tables.read(s, dir, "documents"))),
    // DSIR importance weights toward the target-language unigram
    // profile (see Curation.dsirWeights scaladoc)
    "q325_dsir_weights" -> ((s, dir) =>
      Curation.dsirWeights(Tables.read(s, dir, "documents"))),
    // Beta-binomial empirical-Bayes shrinkage of per-source quality
    // rates (see TextAnalysis.betaBinomialQuality scaladoc)
    "q327_beta_binomial" -> ((s, dir) =>
      TextAnalysis.betaBinomialQuality(Tables.read(s, dir, "documents"))),
    // Prototype-based pruning: drop the most prototypical frac of each
    // embedding cluster, keep the hard tail (see Sim.prototypePrune)
    "q328_prototype_prune" -> ((s, dir) =>
      Sim.prototypePrune(Tables.read(s, dir, "embeddings"))),
    // Mergeable KMV distinct-token sketch per source + the merged
    // corpus sketch, estimate next to exact (see TextAnalysis.kmvSketch)
    "q329_kmv_sketch" -> ((s, dir) =>
      TextAnalysis.kmvSketch(Tables.read(s, dir, "documents"))),
    // Water-filling token-budget allocation under a per-source epoch
    // cap, closed-form relational algebra (see Curation.tokenAllocate).
    // budget=100k: binds below total capacity at sf0.01 (mixed
    // saturated/level regime) and exceeds it at sf0.001 (all-saturated,
    // NULL lambda) — both branches gate-checked across the two sweeps.
    "q331_token_allocate" -> ((s, dir) =>
      Curation.tokenAllocate(Tables.read(s, dir, "documents"), budget = 100000L)),
    // Group-DRO exponentiated reweighting toward the worst-quality
    // language groups (see Curation.groupDroWeights)
    "q332_group_dro" -> ((s, dir) =>
      Curation.groupDroWeights(Tables.read(s, dir, "documents"))),
    // KMV sketch-STORE merge lifecycle (the q100 move applied to
    // sketches): the history generation's bottom-64 rows are persisted
    // state (stamped store); the batch generation is sketched per pass
    // and merged WITHOUT rescanning history — cost O(batch) + O(k·|S|).
    // The oracle recomputes the whole-corpus sketch from scratch: the
    // KMV merge theorem (bottom-k of a union = bottom-k of the union
    // of bottom-ks) makes store-merge ≡ from-scratch, so a lost or
    // duplicated store row fails the gate.
    "q333_kmv_merge" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val hist = stampedStore(s, dir, "kmv_hist_store", "documents")(
        TextAnalysis.kmvRows(docs.where(col("doc_id") % 2 === 0)))
      val batch = TextAnalysis.kmvRows(docs.where(col("doc_id") % 2 === 1))
      TextAnalysis.kmvEstimate(
        TextAnalysis.kmvCombine(hist.unionAll(batch)))
        .orderBy("source")
    }),
    // Binary-quantization kNN: sign-bit codes packed into two 32-bit
    // words, Hamming candidate scan, exact rerank — the 32x-compression
    // extreme of the ANN toolbox (see Sim.binaryKnn)
    "q334_binary_knn" -> ((s, dir) =>
      Sim.binaryKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // Johnson-Lindenstrauss sign projection 64->16 + the per-pair
    // distortion audit the JL lemma bounds (see Sim.randomProjection)
    "q335_random_projection" -> ((s, dir) =>
      Sim.randomProjection(Tables.read(s, dir, "embeddings"))
        .orderBy("v1", "v2")),
    // Fellegi-Sunter log-likelihood-ratio record-linkage scores over
    // the q86 blocked pairs (see Dedup.fellegiSunter)
    "q336_fellegi_sunter" -> ((s, dir) =>
      Dedup.fellegiSunter(Tables.read(s, dir, "documents"))
        .orderBy("d1", "d2")),
    // Two-round AdaBoost over weighted decision stumps — in-plan
    // ensemble training (see TextAnalysis.adaBoost)
    "q340_ada_boost" -> ((s, dir) =>
      TextAnalysis.adaBoost(Tables.read(s, dir, "documents"))),
    // Greedy facility-location selection of 3 exemplars from a
    // 50-candidate pool over the whole corpus
    // (see Sim.facilityLocationSelect)
    "q341_submodular_select" -> ((s, dir) =>
      Sim.facilityLocationSelect(Tables.read(s, dir, "embeddings"))),
    // Mutual-information feature ranking against the lang='en' label
    // (see TextAnalysis.miFeatureRank)
    "q342_mi_rank" -> ((s, dir) =>
      TextAnalysis.miFeatureRank(Tables.read(s, dir, "documents"))),
    // Near-dup-component-atomic train/val/test split with the
    // straddle audit (see Curation.leakageSafeSplit)
    "q343_leakage_split" -> ((s, dir) =>
      Curation.leakageSafeSplit(Tables.read(s, dir, "documents"))),
    // External clustering eval vs gold labels: pairwise P/R/F1, Rand,
    // ARI, purity from contingency sufficient statistics
    // (see Sim.clusterEval)
    "q344_cluster_eval" -> ((s, dir) =>
      Sim.clusterEval(Tables.read(s, dir, "embeddings"))),
    // CCNet-style perplexity filter census over the in-corpus bigram
    // LM (see TextAnalysis.perplexityFilter)
    "q345_perplexity_filter" -> ((s, dir) =>
      TextAnalysis.perplexityFilter(Tables.read(s, dir, "documents"))),
    // kNN label transfer: held-out probes adopt the majority label of
    // their 5 nearest labeled vectors (see Sim.knnClassify)
    "q348_knn_classify" -> ((s, dir) =>
      Sim.knnClassify(Tables.read(s, dir, "embeddings"))),
    // Rank-biased overlap between the df and cf token rankings
    // (see TextAnalysis.rboRankings)
    "q349_rbo" -> ((s, dir) =>
      TextAnalysis.rboRankings(Tables.read(s, dir, "documents"))),
    // Jelinek-Mercer lambda sweep with held-out perplexity
    // (see TextAnalysis.jmInterpolation)
    "q351_jm_interp" -> ((s, dir) =>
      TextAnalysis.jmInterpolation(Tables.read(s, dir, "documents"))),
    // RBF-kernel MMD two-sample test between the even/odd embedding
    // halves (see Sim.mmdDrift)
    "q352_mmd_drift" -> ((s, dir) =>
      Sim.mmdDrift(Tables.read(s, dir, "embeddings"))),
    // RAKE keyphrase extraction over stopword-delimited candidate
    // phrases (see TextAnalysis.rakeKeyphrases)
    "q353_rake" -> ((s, dir) =>
      TextAnalysis.rakeKeyphrases(Tables.read(s, dir, "documents"))),
    // kth-NN cosine-distance outliers over the bounded sample
    // (see Sim.knnOutliers)
    "q354_knn_outlier" -> ((s, dir) =>
      Sim.knnOutliers(Tables.read(s, dir, "embeddings"))),
    // InfoNCE contrastive loss per label with nearest-same-label
    // positives (see Sim.infoNce)
    "q355_infonce" -> ((s, dir) =>
      Sim.infoNce(Tables.read(s, dir, "embeddings"))),
    // Retrieval eval vs label relevance: MRR@10, recall@10, P@1
    // (see Sim.retrievalEval)
    "q356_retrieval_eval" -> ((s, dir) =>
      Sim.retrievalEval(Tables.read(s, dir, "embeddings"))),
    // Vocabulary coverage / OOV curve at fixed vocab budgets
    // (see TextAnalysis.vocabCoverage)
    "q357_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(Tables.read(s, dir, "documents"))),
    // Per-source token-distribution KL from the corpus over the shared
    // top-M support (see TextAnalysis.sourceKl)
    "q358_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceKl(Tables.read(s, dir, "documents"))),
    // k-center greedy coreset: 5 farthest-point centers + covering
    // radius per round (see Sim.kcenterSelect)
    "q359_kcenter" -> ((s, dir) =>
      Sim.kcenterSelect(Tables.read(s, dir, "embeddings"))),
    // unigram^0.75 negative-sampling table + derandomized draw audit
    // (see TextAnalysis.negativeSamplingTable)
    "q360_negative_sampling" -> ((s, dir) =>
      TextAnalysis.negativeSamplingTable(Tables.read(s, dir, "documents"))),
    // Dedup threshold ladder: survivors per Jaccard operating point
    // (see Dedup.dedupLadder)
    "q361_dedup_ladder" -> ((s, dir) =>
      Dedup.dedupLadder(Tables.read(s, dir, "documents"))),
    // k-occurrence hubness audit of the embedding space
    // (see Sim.hubnessAudit)
    "q362_hubness" -> ((s, dir) =>
      Sim.hubnessAudit(Tables.read(s, dir, "embeddings"))),
    // First-occurrence novelty per ingestion-order decile
    // (see TextAnalysis.noveltyCurve)
    "q363_novelty_curve" -> ((s, dir) =>
      TextAnalysis.noveltyCurve(Tables.read(s, dir, "documents"))),
    // Cross-source shingle-containment matrix
    // (see Dedup.sourceOverlapMatrix)
    "q364_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapMatrix(Tables.read(s, dir, "documents"))),
    // Hill tail-index of the token-frequency distribution at several k
    // (see TextAnalysis.hillTailIndex)
    "q365_hill_tail" -> ((s, dir) =>
      TextAnalysis.hillTailIndex(Tables.read(s, dir, "documents"))),
    // Truncation/padding census per candidate max sequence length
    // (see TextAnalysis.contextLadder)
    "q366_context_ladder" -> ((s, dir) =>
      TextAnalysis.contextLadder(Tables.read(s, dir, "documents"))),
    // Embedding anisotropy audit: mean pairwise cosine via the
    // ||sum of units||^2 identity (see Sim.anisotropyAudit)
    "q367_anisotropy" -> ((s, dir) =>
      Sim.anisotropyAudit(Tables.read(s, dir, "embeddings"))),
    // Perceptual (pHash-style) near-dup over the multimodal feature
    // path — the dedup family's third modality (VERDICT r10 item 2).
    // maxDist=3 makes the 4-band LSH lossless by pigeonhole, so the
    // oracle is the BRUTE-FORCE Hamming join: the gate row certifies
    // losslessness, not just parity (see Multimodal.perceptualNearDups)
    "q373_perceptual_neardup" -> ((s, dir) =>
      Multimodal.perceptualNearDups(Tables.read(s, dir, "documents"), maxDist = 3)
        .orderBy("d1", "d2")),
    // Interpolated Kneser-Ney bigram LM held-out perplexity (D=0.75,
    // continuation distribution, q351's 5-fold split)
    // (see TextAnalysis.knBigram)
    "q376_kneser_ney" -> ((s, dir) =>
      TextAnalysis.knBigram(Tables.read(s, dir, "documents"))),
    // Good-Turing count-of-counts smoothing: adjusted counts r*,
    // per-count probability mass, unseen mass N1/N (see
    // TextAnalysis.goodTuring)
    "q414_good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuring(Tables.read(s, dir, "documents"))),
    // Moving-average TTR lexical diversity, covering-cell band join,
    // first-sight counting via keyed lag (see TextAnalysis.mattr)
    "q415_mattr" -> ((s, dir) =>
      TextAnalysis.mattr(Tables.read(s, dir, "documents"))),
    // Chao1 bias-corrected species richness + Good's coverage off the
    // q414 bigram frequency spectrum (see TextAnalysis.chao1)
    "q429_chao1" -> ((s, dir) =>
      TextAnalysis.chao1(Tables.read(s, dir, "documents"))),
    // PII / redaction census over document tokens + events props
    // values: email + IPv4 regex classes, Luhn-validated card-like
    // digit runs (see Curation.piiAudit)
    "q416_pii_audit" -> ((s, dir) =>
      Curation.piiAudit(Tables.read(s, dir, "documents"), Tables.read(s, dir, "events"))),
    // Multi-vector late-interaction (ColBERT MaxSim) top-k retrieval
    // over subvector token-vectors (see Sim.maxSimKnn)
    "q378_maxsim" -> ((s, dir) =>
      Sim.maxSimKnn(Tables.read(s, dir, "embeddings"), nQuery = 10, k = 5)
        .orderBy("qid", "rnk")),
    // Quality-filter cascade waterfall: per-stage n_in/killed/out
    // (see Curation.filterCascade)
    "q379_filter_cascade" -> ((s, dir) =>
      Curation.filterCascade(Tables.read(s, dir, "documents"))),
    // RM3 pseudo-relevance-feedback expansion + weighted-BM25 rerank
    // (see TextAnalysis.rm3Expansion)
    "q380_rm3_expansion" -> ((s, dir) =>
      TextAnalysis.rm3Expansion(Tables.read(s, dir, "documents"))),
    // WordPiece greedy longest-match segmentation via recursive CTE
    // + per-language fertility (see Curation.wordpieceFertility)
    "q383_wordpiece_fertility" -> ((s, dir) =>
      Curation.wordpieceFertility(Tables.read(s, dir, "documents"))),
    // Blocking-quality eval: reduction ratio + pairs completeness per
    // scheme vs brute-force edit-distance truth (see Dedup.blockingEval)
    "q384_blocking_eval" -> ((s, dir) => {
      val titled = Tables.read(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " ", -1), 1, 5)).as("title"))
      Dedup.blockingEval(titled, "doc_id", "title")
    }),
    // Leave-one-source-out ablation of mean quality + lang entropy
    // (see Curation.sourceAblation)
    "q385_source_ablation" -> ((s, dir) =>
      Curation.sourceAblation(Tables.read(s, dir, "documents"))),
    // Video near-dup by frame-fingerprint containment through the
    // inverted-index join (see Multimodal.frameNearDups)
    "q388_frame_neardup" -> ((s, dir) =>
      Multimodal.frameNearDups(Tables.read(s, dir, "documents"))
        .orderBy("d1", "d2")),
    // Warner randomized response with derandomized coin + debiasing
    // audit (see Curation.randomizedResponse; q324 honesty note)
    "q389_randomized_response" -> ((s, dir) =>
      Curation.randomizedResponse(graft.rel.Queries.events(s, dir))),
    // Tri-modal MAJORITY consensus dedup: pairs flagged by ≥2 of
    // {text MinHash (q18's store), embedding sign-LSH (q94's store),
    // perceptual pHash (q373)} — the majority-vote drop set between
    // q94's strict 2-modality conjunction (highest precision) and any
    // single detector (highest recall). Pure composition over the
    // three fingerprint-stamped pair stores (the pHash leg rides
    // phashPairStore since r12 — q94's 3.2→0.43 s precedent); the
    // full-outer pair-key joins add no new shuffle shape.
    "q374_consensus_majority" -> ((s, dir) => {
      val text = minhashPairStore(s, dir)
        .select(col("d1"), col("d2"), lit(1L).as("by_text"))
      val embed = embedLshPairStore(s, dir)
        .select(col("v1").as("d1"), col("v2").as("d2"),
          lit(1L).as("by_embed"))
      val phash = phashPairStore(s, dir)
        .select(col("d1"), col("d2"), lit(1L).as("by_phash"))
      text.join(embed, Seq("d1", "d2"), "full")
        .join(phash, Seq("d1", "d2"), "full")
        .select(col("d1"), col("d2"),
          coalesce(col("by_text"), lit(0L)).as("by_text"),
          coalesce(col("by_embed"), lit(0L)).as("by_embed"),
          coalesce(col("by_phash"), lit(0L)).as("by_phash"))
        .withColumn("n_detectors",
          col("by_text") + col("by_embed") + col("by_phash"))
        .where(col("n_detectors") >= 2)
        .orderBy("d1", "d2")
    }),
    // Incremental PERCEPTUAL dedup against a persisted banded-word
    // store (VERDICT r11 item 2 — the q75/q106 lifecycle treatment for
    // the third modality): history (even doc_ids) hashed + banded ONCE
    // into a store bucketed by the full probe key (band, bval), the
    // new batch (odd doc_ids) probes it O(batch) with the store side
    // exchange-free (PlanSpec-pinned). The MIH banding is pigeonhole-
    // lossless at maxDist=3, so the oracle recomputes the BRUTE-FORCE
    // batch×history Hamming join end to end — loss or duplication
    // across the persist/read-back boundary fails the row.
    "q392_phash_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val history = docs.where(col("doc_id") % 2 === 0)
      val fresh = docs.where(col("doc_id") % 2 === 1)
      graft.Scratch.stamped("phash_store", dir, "documents",
          s.catalog.tableExists("phash_store_bkt")) {
        graft.rel.Layout.writeBucketedBy(
          Multimodal.perceptualSignatureStore(history, maxDist = 3),
          "phash_store_bkt", 8, "band", "bval")
      }
      Multimodal.perceptualIncrementalNearDups(fresh,
        s.table("phash_store_bkt"), maxDist = 3)
        .orderBy("doc_id", "dup_of")
    }),
    // Incremental VIDEO dedup against a persisted frame-fingerprint
    // inverted index (the q392 lifecycle move for the frame-containment
    // modality): history fingerprints persist bucketed by sig with the
    // per-doc frame count denormalized on each row, the new batch
    // probes O(batch). The oracle recomputes the batch-vs-history
    // containment join end to end, so loss or duplication across the
    // persist/read-back boundary fails the row.
    "q397_frame_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val history = docs.where(col("doc_id") % 2 === 0)
      val fresh = docs.where(col("doc_id") % 2 === 1)
      graft.Scratch.stamped("frame_store", dir, "documents",
          s.catalog.tableExists("frame_store_bkt")) {
        graft.rel.Layout.writeBucketedBy(
          Multimodal.frameSignatureStore(history),
          "frame_store_bkt", 8, "sig")
      }
      Multimodal.frameIncrementalNearDups(fresh, s.table("frame_store_bkt"))
        .orderBy("doc_id", "dup_of")
    }),
    // SEMANTIC decontamination — the embedding-space member of the
    // q111 family (q111 catches verbatim 5-gram leakage; paraphrased
    // benchmark material shares no n-gram but sits next to the eval
    // doc in embedding space, the Dodge et al. 2021 / GPT-3 appendix
    // concern): training docs whose embedding cosine ≥ 0.2 to ANY
    // eval-partition doc (doc_id % 17 == 0, q111's convention), with
    // the strongest match reported. Pure composition over q94's
    // fingerprint-stamped LSH pair store — orient pairs both ways,
    // keep train→eval edges, one keyed rank window; no new shuffle
    // shape, and the store is already gate-certified.
    "q398_semantic_decontam" -> ((s, dir) => {
      val pairs = embedLshPairStore(s, dir)
      val both = pairs
        .select(col("v1").as("doc_id"), col("v2").as("b"), col("sim"))
        .unionAll(pairs
          .select(col("v2").as("doc_id"), col("v1").as("b"), col("sim")))
        .where(col("doc_id") % 17 =!= 0 && col("b") % 17 === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("sim").desc, col("b").asc)
      both
        .withColumn("r", row_number().over(w))
        .withColumn("nm", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
        .where(col("r") === 1)
        .join(Tables.read(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id")
        .select(col("doc_id"), col("lang"),
          col("nm").cast("long").as("n_eval_matches"),
          col("b").as("best_eval_id"),
          graft.rel.Queries.femit(col("sim")).as("best_sim"))
        .orderBy("doc_id")
    }),
    // Data-Shapley source valuation over 20 sources — exact 2^20 is
    // out of reach, the sampled-permutation estimator is the point
    // (see Curation.dataShapley; q385's LOO deltas read alongside)
    "q399_data_shapley" -> ((s, dir) =>
      Curation.dataShapley(Tables.read(s, dir, "documents"))),
    // Valuation -> curation closure: q399's prices as executed keep
    // rates (see Curation.shapleyReweight)
    "q400_shapley_reweight" -> ((s, dir) =>
      Curation.shapleyReweight(Tables.read(s, dir, "documents"))),
    // Portable Bloom-filter build over en tokens, probed per other
    // language, with the measured-vs-analytic FPR audit (see
    // TextAnalysis.bloomFilter)
    "q432_bloom_filter" -> ((s, dir) =>
      TextAnalysis.bloomFilter(Tables.read(s, dir, "documents"))),
    // b-bit minhash storage/accuracy tradeoff over the q18 candidate
    // pairs: full vs 1/2/4-bit corrected estimators vs exact Jaccard
    // (see Dedup.bbitMinhash)
    "q433_bbit_minhash" -> ((s, dir) =>
      Dedup.bbitMinhash(Tables.read(s, dir, "documents"), "doc_id", "text")),
    // Reciprocal-kNN clustering over the converged NN-descent graph:
    // mutual-edge filter -> connected components -> size census
    // (see Sim.mutualKnnClusters; converged graph read back from the
    // stamped nn_graph_store — VERDICT r13 item 3)
    "q435_mutual_knn" -> ((s, dir) =>
      Sim.mutualKnnFromStages(Tables.read(s, dir, "embeddings"),
        nnGraphStore(s, dir))),
    // Rendezvous-hash shard routing with the minimal-disruption audit:
    // drop shard 3, certify moved docs = its former population
    // (see Pack.rendezvousShards)
    "q437_rendezvous_shards" -> ((s, dir) =>
      Pack.rendezvousShards(Tables.read(s, dir, "documents"))),
    // Lightweight-coreset sample + weighted spherical-scatter audit
    // against the full corpus on shared IVF centroids
    // (see Sim.coresetKmeans)
    "q438_coreset_kmeans" -> ((s, dir) =>
      Sim.coresetKmeans(Tables.read(s, dir, "embeddings"))),
    // Signed feature hashing with the collision census and the exact
    // inner-product-preservation audit (see TextAnalysis.featureHashing)
    "q440_feature_hashing" -> ((s, dir) =>
      TextAnalysis.featureHashing(Tables.read(s, dir, "documents"))),
    // SentencePiece-style unigram-LM Viterbi tokenization, DP folded
    // in-plan over per-word lookup maps (see TextAnalysis.unigramTokenize)
    "q442_unigram_tokenize" -> ((s, dir) =>
      TextAnalysis.unigramTokenize(Tables.read(s, dir, "documents"))),
    // One hard-EM round of unigram-LM tokenizer training: Viterbi
    // E-step, count M-step, bottom-p multi-char prune with single-char
    // coverage, re-segment (see TextAnalysis.unigramHardEm)
    "q443_unigram_hard_em" -> ((s, dir) =>
      TextAnalysis.unigramHardEm(Tables.read(s, dir, "documents"))),
    // R=2 hard-EM rounds of unigram-LM tokenizer training — three
    // Viterbi E-steps, two count-M-step+prune rounds, and the
    // per-round convergence report (vocab sizes, changed-word counts)
    // carried on every row (see TextAnalysis.unigramEmRounds)
    "q449_unigram_em_rounds" -> ((s, dir) =>
      TextAnalysis.unigramEmRounds(Tables.read(s, dir, "documents"))),
    // Lee et al. ExactSubstr: prefix-doubling position naming decides
    // exact duplicated L-token windows; per-doc run/coverage census.
    // L=6 is deliberately NON-dyadic — the chain doubles to m=4 then
    // finishes with one composite round (name_4(p), name_4(p+2)), the
    // same construction that expresses the paper's L=50 at web scale
    // (see Dedup.exactSubstrRuns / exactSubstrNamed)
    "q444_exact_substr" -> ((s, dir) =>
      Dedup.exactSubstrRuns(Tables.read(s, dir, "documents"), "doc_id", "text",
        windowL = 6)),
    // The ExactSubstr CUT transform: remove every non-canonical
    // duplicated span, reassemble survivors; the naming chain comes
    // from the stamped exact_substr_named_store (q444 stays the
    // from-scratch declaration — see Dedup.exactSubstrCutFromNamed)
    "q446_exact_substr_cut" -> ((s, dir) =>
      Dedup.exactSubstrCutFromNamed(Tables.read(s, dir, "documents"),
        exactSubstrNamedStore(s, dir), "doc_id", "text", windowL = 6)),
    // Incremental exact-substring probe of a new batch against the
    // persisted gram-bucketed history store — the q75 lifecycle for
    // the exact member of the dedup family (even = history, odd =
    // batch; see Dedup.incrementalExactSubstr). Store build is
    // idempotent per fixture (Scratch.stamped).
    "q448_incremental_exact_substr" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val history = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 2 === 1)
      // v2: 128-bit-hash store (g1, g2, n_hist) at L=6 — the version
      // tag in the store name forces a rebuild over any r14
      // literal-gram store left on disk
      graft.Scratch.stamped("exact_substr_store_v2_l6", dir, "documents",
          s.catalog.tableExists("exact_substr_store_bkt")) {
        graft.rel.Layout.writeBucketedBy(
          Dedup.exactSubstrStore(history, "doc_id", "text", windowL = 6),
          "exact_substr_store_bkt", 8, "g1", "g2")
      }
      Dedup.incrementalExactSubstr(batch,
        s.table("exact_substr_store_bkt"), "doc_id", "text", windowL = 6)
    }),
    // MaxScore upper-bound-pruned BM25 top-k with the losslessness
    // certification columns (see TextAnalysis.maxScoreTopK)
    "q434_maxscore_topk" -> ((s, dir) =>
      TextAnalysis.maxScoreTopK(Tables.read(s, dir, "documents"))),
  )

  /** DuckDB twin of [[graft.functions.Fnv1a32]]: the same code-point
    * FNV-1a 32 fold, expressed over `unicode((e)[i:i])`. Every
    * intermediate is a non-negative BIGINT (h &lt; 2³², the multiply
    * &lt; 2⁵⁶), so DuckDB neither overflows nor promotes to HUGEINT —
    * the property that makes the sketch queries oracle-able at all. */
  private[graft] def fnvSql(e: String, seed: Long = graft.functions.Fnv1a32.Seed): String =
    s"list_reduce(list_prepend(CAST($seed AS BIGINT), " +
      s"list_transform(range(length($e)), i -> unicode(($e)[i+1:i+1]))), " +
      "(h, c) -> (xor(h, c) * 16777619) % 4294967296)"

  /** The pHash-word CTE chain (ptok → pco → pmd → pw) shared by the
    * q373 pair oracle and the q392 incremental-probe oracle. */
  private val phashWordsCtes: String =
    s"""ptok AS (SELECT doc_id, t AS tok FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |     FROM documents) u0 WHERE t <> ''),
       |pco AS (SELECT doc_id, j,
       |    CAST(sum(${fnvSql("(tok || ':p' || CAST(j AS VARCHAR))")}
       |      % 1024 - 512) AS BIGINT) AS s
       |  FROM ptok CROSS JOIN (SELECT unnest(range(64)) AS j) js
       |  GROUP BY doc_id, j),
       |pmd AS (SELECT doc_id, list_sort(list(s))[32] AS med
       |  FROM pco GROUP BY doc_id),
       |pw AS (SELECT pco.doc_id,
       |    CAST(sum(CASE WHEN j < 32 AND s > med
       |      THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS ph_lo,
       |    CAST(sum(CASE WHEN j >= 32 AND s > med
       |      THEN (CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS ph_hi
       |  FROM pco JOIN pmd USING (doc_id) GROUP BY pco.doc_id)""".stripMargin

  /** DuckDB twin of [[Multimodal.perceptualNearDups]] (maxDist=3) as a
    * BRUTE-FORCE Hamming join — deliberately not a banding replica:
    * at maxDist ≤ 3 the 4×16-bit LSH is pigeonhole-lossless, so brute
    * force IS the expected output and the q373 gate row certifies the
    * losslessness claim itself. Same token stream, same
    * fnv(tok:pj) mod 1024 − 512 coefficients, same 32nd-order-statistic
    * median threshold, same two-word packing. */
  private val phashPairsOracle: String =
    s"""WITH $phashWordsCtes,
       |pp AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(bit_count(xor(a.ph_hi, b.ph_hi))
       |      + bit_count(xor(a.ph_lo, b.ph_lo)) AS BIGINT) AS hamming
       |  FROM pw a JOIN pw b ON a.doc_id < b.doc_id)
       |SELECT d1, d2, hamming FROM pp WHERE hamming <= 3""".stripMargin

  /** DuckDB twin of [[Dedup.minhashNearDups]] at the q18 parameters
    * (k=3, nBuckets=64, bandSize=4, maxBucket=1000, threshold=0.1):
    * same shingles, same per-shingle FNV hash, same bucket-min
    * signature, same `bucket:min|…` band-signature re-hash, same
    * capped pair expansion, same exact-Jaccard verify. */
  private val minhashOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
       |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
       |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
       |hx AS (SELECT doc_id, ${fnvSql("s")} AS h
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM f) u),
       |bm AS (SELECT doc_id, h % 64 AS bucket, min(h) AS mh
       |  FROM hx GROUP BY doc_id, bucket),
       |sg AS (SELECT doc_id, bucket // 4 AS band,
       |    string_agg(bucket || ':' || mh, '|' ORDER BY bucket) AS sig
       |  FROM bm GROUP BY doc_id, band),
       |bk AS (SELECT doc_id, band, ${fnvSql("sig")} AS bkey FROM sg),
       |sz AS (SELECT band, bkey FROM bk GROUP BY band, bkey
       |  HAVING count(*) > 1 AND count(*) <= 1000),
       |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bk a
       |  JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  JOIN sz ON sz.band = a.band AND sz.bkey = a.bkey),
       |j AS (SELECT d1, d2,
       |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) AS inter,
       |    CAST(len(fa.sh) + len(fb.sh) AS DOUBLE) AS total
       |  FROM c JOIN f fa ON fa.doc_id = c.d1 JOIN f fb ON fb.doc_id = c.d2)
       |SELECT d1, d2, inter / (total - inter) AS jaccard FROM j
       |WHERE inter / (total - inter) >= 0.1 ORDER BY d1, d2""".stripMargin

  /** DuckDB twin of [[Dedup.minhashAccuracy]]: the q18 CTE chain up to
    * the candidate set, plus the 3-key bucket-min match count and the
    * unthresholded exact-Jaccard leg. */
  private val minhashAccuracyOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
       |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
       |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
       |hx AS (SELECT doc_id, ${fnvSql("s")} AS h
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM f) u),
       |bm AS (SELECT doc_id, h % 64 AS bucket, min(h) AS mh
       |  FROM hx GROUP BY doc_id, bucket),
       |sg AS (SELECT doc_id, bucket // 4 AS band,
       |    string_agg(bucket || ':' || mh, '|' ORDER BY bucket) AS sig
       |  FROM bm GROUP BY doc_id, band),
       |bk AS (SELECT doc_id, band, ${fnvSql("sig")} AS bkey FROM sg),
       |sz AS (SELECT band, bkey FROM bk GROUP BY band, bkey
       |  HAVING count(*) > 1 AND count(*) <= 1000),
       |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bk a
       |  JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  JOIN sz ON sz.band = a.band AND sz.bkey = a.bkey),
       |m AS (SELECT c.d1, c.d2, count(*) AS cnt FROM c
       |  JOIN bm b1 ON b1.doc_id = c.d1
       |  JOIN bm b2 ON b2.doc_id = c.d2
       |    AND b2.bucket = b1.bucket AND b2.mh = b1.mh
       |  GROUP BY c.d1, c.d2),
       |ob AS (SELECT c.d1, c.d2, count(*) AS ob FROM c
       |  JOIN bm b1 ON b1.doc_id = c.d1
       |  JOIN bm b2 ON b2.doc_id = c.d2 AND b2.bucket = b1.bucket
       |  GROUP BY c.d1, c.d2),
       |nbc AS (SELECT doc_id, count(*) AS nb FROM bm GROUP BY doc_id),
       |j AS (SELECT d1, d2,
       |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) AS inter,
       |    CAST(len(fa.sh) + len(fb.sh) AS DOUBLE) AS total
       |  FROM c JOIN f fa ON fa.doc_id = c.d1 JOIN f fb ON fb.doc_id = c.d2)
       |SELECT m.d1, m.d2, CAST(cnt AS BIGINT) AS matches,
       |  ${femitSql("CAST(cnt AS DOUBLE) / CAST(n1.nb + n2.nb - ob.ob AS DOUBLE)")}
       |    AS est_jaccard,
       |  ${femitSql("inter / (total - inter)")} AS exact_jaccard,
       |  ${femitSql(s"""abs(CAST(cnt AS DOUBLE) / CAST(n1.nb + n2.nb - ob.ob AS DOUBLE)
       |    - inter / (total - inter))""")} AS abs_err
       |FROM m
       |JOIN ob ON ob.d1 = m.d1 AND ob.d2 = m.d2
       |JOIN nbc n1 ON n1.doc_id = m.d1
       |JOIN nbc n2 ON n2.doc_id = m.d2
       |JOIN j ON j.d1 = m.d1 AND j.d2 = m.d2
       |ORDER BY m.d1, m.d2""".stripMargin

  /** Shared fsum cosine for the NN-descent oracle chain. */
  private def cosL(xv: String, yv: String, xn: String, yn: String) =
    foldSum.format(s"list_transform(list_zip($xv, $yv), p -> p[1] * p[2])") +
      s" / ($xn * $yn)"

  /** DuckDB twin of [[Sim.nnDescentStages]] at the q417 parameters
    * (k=5, nlist=16, 2-cell multi-assign, capNbr=32, 3 unrolled
    * rounds): CTEs v, n, cent, asg, g0 and per-round und/capped/cand/
    * mg/g{r}/d{r} through g3 — shared by the q417 audit and the q435
    * mutual-kNN census. The Spark side early-exits at the delta-0
    * fixpoint, where later rounds are verbatim repeats, so the
    * unrolled chain lands on the identical g3. `lazy`: referenced
    * during the oracles map's object init. */
  private lazy val nnGraphCtes: String = {
    // MATERIALIZED throughout: g{r-1} is referenced three times per
    // round (und/mg/delta) and `n`/`capped` twice — DuckDB otherwise
    // re-executes the whole prefix per reference (measured 184 s →
    // ~linear at sf0.01 with the hints).
    def roundSql(r: Int) =
      s""",
         |und$r AS (SELECT u, w, sim FROM g${r - 1}
         |  UNION ALL SELECT w, u, sim FROM g${r - 1}),
         |cp$r AS (SELECT u, w, row_number() OVER (PARTITION BY u
         |  ORDER BY sim DESC, w ASC) AS r FROM und$r),
         |capped$r AS MATERIALIZED (SELECT u AS m, w AS nbr FROM cp$r
         |  WHERE r <= 32),
         |cand$r AS (SELECT DISTINCT a.nbr AS u, b.nbr AS w
         |  FROM capped$r a JOIN capped$r b
         |  ON a.m = b.m AND a.nbr <> b.nbr),
         |cs$r AS (SELECT c.u, c.w,
         |  ${cosL("nu.v", "nw.v", "nu.norm", "nw.norm")} AS sim
         |  FROM cand$r c JOIN n nu ON nu.vec_id = c.u
         |  JOIN n nw ON nw.vec_id = c.w),
         |mg$r AS (SELECT u, w, max(sim) AS sim FROM (
         |  SELECT u, w, sim FROM g${r - 1}
         |  UNION ALL SELECT u, w, sim FROM cs$r) GROUP BY 1, 2),
         |g${r}r AS (SELECT u, w, sim, row_number() OVER (PARTITION BY u
         |  ORDER BY sim DESC, w ASC) AS rnk FROM mg$r),
         |g$r AS MATERIALIZED (SELECT u, w, sim FROM g${r}r
         |  WHERE rnk <= 5),
         |d$r AS (SELECT count(*) AS delta FROM g$r a
         |  WHERE NOT EXISTS (SELECT 1 FROM g${r - 1} b
         |    WHERE b.u = a.u AND b.w = a.w))""".stripMargin
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, v,
       |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm
       |  FROM v),
       |cent AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n
       |  ORDER BY vec_id LIMIT 16),
       |as0 AS (SELECT n.vec_id, n.v, n.norm, c.cid,
       |  ${cosL("n.v", "c.cv", "n.norm", "c.cn")} AS csim
       |  FROM n CROSS JOIN cent c),
       |as1 AS (SELECT vec_id, cid, row_number() OVER (
       |  PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS r FROM as0),
       |asg AS (SELECT vec_id, cid FROM as1 WHERE r <= 2),
       |sc AS (SELECT DISTINCT a.vec_id AS u, b.vec_id AS w
       |  FROM asg a JOIN asg b ON a.cid = b.cid
       |  AND a.vec_id <> b.vec_id),
       |sp AS (SELECT c.u, c.w,
       |  ${cosL("nu.v", "nw.v", "nu.norm", "nw.norm")} AS sim
       |  FROM sc c JOIN n nu ON nu.vec_id = c.u
       |  JOIN n nw ON nw.vec_id = c.w),
       |g0r AS (SELECT u, w, sim, row_number() OVER (PARTITION BY u
       |  ORDER BY sim DESC, w ASC) AS rnk FROM sp),
       |g0 AS MATERIALIZED (SELECT u, w, sim FROM g0r WHERE rnk <= 5)
       |${roundSql(1)}${roundSql(2)}${roundSql(3)}""".stripMargin
  }

  /** Round-1 CTEs shared by the q442/q443 oracles
    * (w/sp/pp/vocab/tot/lpt): the frequency-weighted substring
    * vocabulary of all <=8-char corpus words and its ln-ratio log-prob
    * table. `vocab`/`lpt` MATERIALIZED: the DP layer's scalar
    * subqueries reference them once per span column. */
  private lazy val unigramR1Ctes: String = {
    val maxPiece = 4; val maxLen = 8
    val spans = (1 to maxLen).flatMap(i =>
      (math.max(0, i - maxPiece) until i).map(j => (j, i)))
    s"""w AS MATERIALIZED (SELECT t, count(*) AS freq FROM (
       |  SELECT unnest(list_filter(string_split(text, ' '),
       |    x -> x <> '')) AS t FROM documents) u
       |  GROUP BY t HAVING length(t) <= $maxLen),
       |sp(j, i) AS (VALUES ${spans.map { case (j, i) => s"($j, $i)" }
      .mkString(", ")}),
       |pp AS (SELECT t, freq, j, i, substring(t, j + 1, i - j) AS piece
       |  FROM w CROSS JOIN sp
       |  WHERE length(substring(t, j + 1, i - j)) = i - j),
       |vocab AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT)
       |  AS cnt FROM pp GROUP BY piece),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tt FROM vocab),
       |lpt AS MATERIALIZED (SELECT piece, ln(CAST(cnt AS DOUBLE))
       |  - ln((SELECT CAST(tt AS DOUBLE) FROM tot)) AS lp FROM vocab)"""
      .stripMargin
  }

  /** The unrolled Viterbi DP chain shared by the q442/q443 oracles:
    * emits CTEs base$sfx/d${sfx}0..d$sfx$maxLen/f$sfx computing per
    * word the (s, seg, np) `fin` struct under log-prob table `lpt`.
    * The fold carries the NULL-ACCUMULATOR yield (ADVICE r13): an
    * unscorable head candidate — an OOV piece, the hard-EM round-2
    * case — yields to the first scorable one, mirroring the Spark
    * NaN fold exactly (last candidate wins among consecutive
    * unscorables, a scorable accumulator never yields to an
    * unscorable challenger). */
  private def unigramDpCtes(lpt: String, sfx: String,
                            maxPiece: Int, maxLen: Int): String = {
    val spans = (1 to maxLen).flatMap(i =>
      (math.max(0, i - maxPiece) until i).map(j => (j, i)))
    def lpCol(j: Int, i: Int) = s"lp${sfx}_${j}_$i"
    val lpCols = spans.map { case (j, i) =>
      s"(SELECT lp FROM $lpt WHERE piece = substring(b.t, ${j + 1}, ${i - j}))" +
        s" AS ${lpCol(j, i)}"
    }.mkString(",\n  ")
    val layers = (1 to maxLen).map { i =>
      val js = math.max(0, i - maxPiece) until i
      val cands = js.map { j =>
        s"""struct_pack(s := (dp$j).s + ${lpCol(j, i)},
           |    seg := (dp$j).seg || (CASE WHEN (dp$j).np > 0 THEN ' '
           |      ELSE '' END) || substring(t, ${j + 1}, ${i - j}),
           |    np := (dp$j).np + 1) AS c${i}_$j""".stripMargin
      }.mkString(",\n  ")
      val fold = js.tail.foldLeft(s"c${i}_${js.head}") { (acc, j) =>
        s"(CASE WHEN ($acc).s IS NULL THEN c${i}_$j" +
          s" WHEN (c${i}_$j).s IS NOT NULL AND (c${i}_$j).s > ($acc).s" +
          s" THEN c${i}_$j ELSE $acc END)"
      }
      s""",
         |e$sfx$i AS (SELECT *, $cands FROM d$sfx${i - 1}),
         |d$sfx$i AS (SELECT *, CASE WHEN len >= $i THEN $fold END AS dp$i
         |  FROM e$sfx$i)""".stripMargin
    }.mkString
    val fin = (1 to maxLen)
      .map(i => s"CASE WHEN len = $i THEN dp$i END")
      .mkString("coalesce(", ", ", ")")
    s"""base$sfx AS (SELECT b.t, b.freq, length(b.t) AS len,
       |  $lpCols
       |  FROM w b),
       |d${sfx}0 AS (SELECT *, struct_pack(s := 0.0, seg := '',
       |  np := CAST(0 AS BIGINT)) AS dp0 FROM base$sfx)$layers,
       |f$sfx AS MATERIALIZED (SELECT t, freq, len, $fin AS fin
       |  FROM d$sfx$maxLen)""".stripMargin
  }

  /** The hard-EM M-STEP + PRUNE CTE block of the q449 oracle (the
    * q443 M-step generalized to a reusable suffix): piece counts from
    * segmentation table `prev` weighted by freq, single-char coverage
    * floor from `sing`, bottom-`pruneShare` multi-char prune by
    * (cnt2, piece), and the re-estimated log-prob table lpt$sfx over
    * kept$sfx. */
  private def unigramMStepCtes(prev: String, sfx: String,
                               pruneShare: Double): String =
    s"""u$sfx AS (SELECT freq, unnest(string_split((fin).seg, ' ')) AS piece
       |  FROM $prev),
       |cn$sfx AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt2
       |  FROM u$sfx GROUP BY piece),
       |est$sfx AS (SELECT coalesce(c.piece, s.piece) AS piece,
       |  coalesce(c.cnt2, 1) AS cnt2
       |  FROM cn$sfx c FULL OUTER JOIN sing s ON c.piece = s.piece),
       |mlt$sfx AS (SELECT piece, cnt2 FROM est$sfx WHERE length(piece) >= 2),
       |npr$sfx AS (SELECT CAST(floor(count(*) * $pruneShare) AS BIGINT) AS np
       |  FROM mlt$sfx),
       |rk$sfx AS (SELECT piece, cnt2, row_number() OVER (
       |  ORDER BY cnt2 ASC, piece ASC) AS r FROM mlt$sfx),
       |kept$sfx AS MATERIALIZED (SELECT piece, cnt2 FROM est$sfx
       |  WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt2 FROM rk$sfx WHERE r > (SELECT np FROM npr$sfx)),
       |tot$sfx AS (SELECT CAST(sum(cnt2) AS BIGINT) AS tt FROM kept$sfx),
       |lpt$sfx AS MATERIALIZED (SELECT piece, ln(CAST(cnt2 AS DOUBLE))
       |  - ln((SELECT CAST(tt AS DOUBLE) FROM tot$sfx)) AS lp
       |  FROM kept$sfx)""".stripMargin

  /** DuckDB twin of [[Dedup.connectedComponents]] over the q18 pair set:
    * the recursive CTE transitive-closes the same edges, so min(reach)
    * per node IS the component's minimum id — exactly the fixpoint the
    * Spark min-label propagation converges to. */
  private val componentsOracle: String =
    s"""WITH RECURSIVE p AS (SELECT d1, d2 FROM ($minhashOracle) mh),
       |e AS (SELECT d1 AS n, d2 AS m FROM p UNION ALL SELECT d2, d1 FROM p),
       |r AS (SELECT n, n AS reach FROM (SELECT DISTINCT n FROM e) b
       |  UNION
       |  SELECT e.n, r.reach FROM e JOIN r ON e.m = r.n)
       |SELECT n AS doc_id, min(reach) AS component FROM r
       |GROUP BY n ORDER BY doc_id""".stripMargin

  /** DuckDB twin of the incremental probe (q75/q100): recomputes EVERY
    * generation's band keys from scratch (same CTE chain as
    * [[minhashOracle]]), joins the new-batch keys (`freshPred`) against
    * the history keys (`histPred`) with the same store-side bucket cap,
    * and exact-Jaccard-verifies — so the Spark side's persist/read-back
    * (q75) AND its incremental store MERGE (q100: gen0-store + gen1
    * fold-in must equal the from-scratch gen0∪gen1 store) must both be
    * lossless to match. */
  private def incrementalOracleFor(histPred: String,
                                   freshPred: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
       |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
       |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
       |hx AS (SELECT doc_id, ${fnvSql("s")} AS h
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM f) u),
       |bm AS (SELECT doc_id, h % 64 AS bucket, min(h) AS mh
       |  FROM hx GROUP BY doc_id, bucket),
       |sg AS (SELECT doc_id, bucket // 4 AS band,
       |    string_agg(bucket || ':' || mh, '|' ORDER BY bucket) AS sig
       |  FROM bm GROUP BY doc_id, band),
       |bk AS (SELECT doc_id, band, ${fnvSql("sig")} AS bkey FROM sg),
       |hb AS (SELECT doc_id, band, bkey FROM bk WHERE $histPred),
       |nb AS (SELECT doc_id, band, bkey FROM bk WHERE $freshPred),
       |sz AS (SELECT band, bkey FROM hb GROUP BY band, bkey
       |  HAVING count(*) <= 1000),
       |c AS (SELECT DISTINCT n.doc_id AS doc_id, h.doc_id AS dup_of
       |  FROM nb n
       |  JOIN hb h ON n.band = h.band AND n.bkey = h.bkey
       |  JOIN sz ON sz.band = h.band AND sz.bkey = h.bkey),
       |j AS (SELECT c.doc_id, c.dup_of,
       |    CAST(len(list_intersect(fn.sh, fh.sh)) AS DOUBLE) AS inter,
       |    CAST(len(fn.sh) + len(fh.sh) AS DOUBLE) AS total
       |  FROM c JOIN f fn ON fn.doc_id = c.doc_id
       |  JOIN f fh ON fh.doc_id = c.dup_of)
       |SELECT doc_id, dup_of, inter / (total - inter) AS jaccard FROM j
       |WHERE inter / (total - inter) >= 0.1 ORDER BY doc_id, dup_of""".stripMargin

  private val incrementalOracle: String =
    incrementalOracleFor("doc_id % 2 = 0", "doc_id % 2 = 1")

  /** DuckDB twin of [[TextAnalysis.bm25]]: same exact-count tf/dl/df
    * CTEs, and the per-row BM25 expression with IDENTICAL operation
    * order and the k1/b constants pre-combined in Scala so both engines
    * parse the same double literals (`${"$"}{k1+1}` etc. round-trip via
    * Double.toString). round(.,6) absorbs libm `ln` ulp drift. */
  private def bm25CoreCte(k1: Double, b: Double): String =
    s"""tok AS (SELECT doc_id, t AS tok FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
       |  WHERE t <> ''),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |bm AS (SELECT f.doc_id, f.tok, f.tf, g.df,
       |  ${femitSql(s"""ln((st.n_docs - g.df + 0.5) / (g.df + 0.5) + 1.0)
       |    * (f.tf * ${k1 + 1})
       |    / (f.tf + $k1 * (${1 - b} + $b * CAST(d.dl AS DOUBLE) * st.n_docs / st.sum_dl))""")} AS bm25
       |FROM tf f JOIN dl d USING (doc_id) JOIN dft g USING (tok) CROSS JOIN st)""".stripMargin

  private def bm25Oracle(k1: Double, b: Double): String =
    s"""WITH ${bm25CoreCte(k1, b)}
       |SELECT doc_id, tok, tf, df, bm25 FROM bm
       |ORDER BY doc_id, tok""".stripMargin

  /** DuckDB twin of [[TextAnalysis.bm25TopK]] — same core, summed in
    * the dsum DECIMAL round-trip, ranked with the identical tiebreak. */
  private def bm25TopKOracle(k1: Double, b: Double, terms: Seq[String],
                             kTop: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val dsum = "CAST(CAST(SUM(CAST(CAST(bm25 AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    s"""WITH ${bm25CoreCte(k1, b)},
       |q AS (SELECT doc_id, count(*) AS n_terms, $dsum AS score
       |  FROM bm WHERE tok IN ($inList) GROUP BY doc_id),
       |r AS (SELECT doc_id, n_terms, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM q)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms, score FROM r
       |WHERE rnk <= $kTop ORDER BY rnk""".stripMargin
  }

  /** DuckDB twin of [[TextAnalysis.bm25TopKTerms]] — the q79 oracle
    * with the term set as a VALUES CTE joined in, mirroring the
    * table-join plan. */
  private def bm25TopKTermsOracle(k1: Double, b: Double,
                                  terms: Seq[String], kTop: Int): String = {
    val termRows = terms.map(t => s"('$t')").mkString(", ")
    val dsum = "CAST(CAST(SUM(CAST(CAST(bm25 AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    s"""WITH ${bm25CoreCte(k1, b)},
       |qt(tok) AS (VALUES $termRows),
       |q AS (SELECT doc_id, count(*) AS n_terms, $dsum AS score
       |  FROM bm JOIN qt USING (tok) GROUP BY doc_id),
       |r AS (SELECT doc_id, n_terms, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM q)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms, score FROM r
       |WHERE rnk <= $kTop ORDER BY rnk""".stripMargin
  }

  /** DuckDB twin of [[TextAnalysis.linearScoreWeighted]]: the weight
    * table as a VALUES CTE, the same long-form features, the same
    * exact-DECIMAL w·x accumulation, round(6) on the sigmoid. */
  private val weightedScoreOracle: String = {
    val wRows = TextAnalysis.LinearWeights
      .map { case (f, w) => s"('$f', $w)" }.mkString(", ")
    s"""WITH w(feature, weight) AS (VALUES %s),
      |t AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
      |f AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(ts, t -> regexp_full_match(t, '^[a-z-_]+$$'))) AS DOUBLE) / len(ts) AS alpha_ratio,
      |  CAST(len(list_filter(ts, t -> list_contains(['the','of','and','to','in','a','is','for','on','with'], t))) AS DOUBLE) / len(ts) AS stop_ratio
      |  FROM t),
      |lf AS (SELECT doc_id, 'alpha_ratio' AS feature, alpha_ratio AS x FROM f
      |  UNION ALL SELECT doc_id, 'stop_ratio', stop_ratio FROM f
      |  UNION ALL SELECT doc_id, 'len_capped', least(CAST(n_tokens AS DOUBLE), 100.0) FROM f
      |  UNION ALL SELECT doc_id, 'bias', 1.0 FROM f),
      |z AS (SELECT doc_id,
      |  CAST(CAST(SUM(CAST(CAST(x * weight AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS z
      |  FROM lf JOIN w USING (feature) GROUP BY doc_id)
      |SELECT doc_id, ${femitSql("1.0 / (1.0 + exp(-z))")} AS score,
      |  ${femitSql("1.0 / (1.0 + exp(-z))")} >= 0.5 AS keep
      |FROM z ORDER BY doc_id""".stripMargin.format(wRows)
  }

  /** DuckDB twin of [[Sim.labelCentroids]]: the kmeans-oracle mean
    * (DECIMAL(38,12) VARCHAR round-trip) keyed by the label column. */
  private val labelCentroidsOracle: String =
    """SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
      |  CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c,
      |  count(*) AS n_members
      |FROM (SELECT label,
      |    unnest(list_transform(embedding, y -> CAST(y AS DOUBLE))) AS x,
      |    unnest(range(len(embedding))) AS dim
      |  FROM embeddings) e
      |GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** Shared q19/q54 CTE chain ending in `sh(doc_id, sh_hi, sh_lo)`:
    * DuckDB twin of [[Dedup.simhashAgg]] — same two FNV streams, same
    * 64 conditional vote sums, bits summed (disjoint ⇒ sum ≡ OR). */
  private val simhashCte: String = {
    val votes =
      (0 until 32).map(j => s"sum(CASE WHEN ((h2 >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS u$j") ++
        (0 until 32).map(j => s"sum(CASE WHEN ((h1 >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS l$j")
    val hi = (0 until 32).map(j => s"(CASE WHEN u$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val lo = (0 until 32).map(j => s"(CASE WHEN l$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""tok AS (SELECT doc_id, t FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
       |  WHERE t <> ''),
       |h AS (SELECT doc_id, ${fnvSql("t")} AS h1,
       |  ${fnvSql("t", graft.functions.Fnv1a32.Seed2)} AS h2 FROM tok),
       |v AS (SELECT doc_id, ${votes.mkString(", ")} FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($hi AS BIGINT) AS sh_hi,
       |  CAST($lo AS BIGINT) AS sh_lo FROM v)""".stripMargin
  }

  private val shingleCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents WHERE doc_id < 150),
      |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
      |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
      |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0)""".stripMargin

  private val foldSum = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), %s), (a, b) -> a + b)"

  private val cosineKnnOracle =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
       |j AS (SELECT qid, n.vec_id,
       |  ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
       |    / (n.norm * q.qnorm) AS sim
       |  FROM n, q WHERE n.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, sim FROM r
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  private def dotSql(a: String, b: String): String =
    foldSum.format(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")

  /** DuckDB twin of [[Sim.filteredKnn]] at (nQuery=10, k=5,
    * langs=en/de, labelMod=2): q21's oracle with the label and
    * cross-modal lang predicates applied to the corpus side before the
    * ranking. */
  private val filteredKnnOracle =
    s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
       |keep AS (SELECT doc_id FROM documents WHERE lang IN ('en', 'de')),
       |c AS (SELECT n.* FROM n JOIN keep ON n.vec_id = keep.doc_id
       |  WHERE label % 2 = 0),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
       |j AS (SELECT qid, c.vec_id, c.label,
       |  ${foldSum.format("list_transform(list_zip(c.v, q.qv), p -> p[1] * p[2])")}
       |    / (c.norm * q.qnorm) AS sim
       |  FROM c, q WHERE c.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, label, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, label, sim FROM r
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** Shared banded-LSH CTE: every embedding exploded to its per-table
    * sign-bucket ids, computed in DuckDB from the *identical* hyperplane
    * matrix embedded as a DOUBLE[][] literal (same seeded stream as the
    * native SignBands expression), with the same sequential-fold dot
    * accumulation — buckets are bit-identical across engines. */
  private def bandedCte(nTables: Int, bandPlanes: Int, dim: Int): String = {
    val pl = graft.functions.Hyperplanes.sqlLiteral(nTables * bandPlanes, dim)
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pm AS (SELECT $pl AS pl),
       |bt AS (SELECT vec_id, v, tt.t AS t,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range($bandPlanes), j ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range($dim), i -> v[i+1] * pl[tt.t*$bandPlanes + j + 1][i+1])),
       |      (x, y) -> x + y) > 0
       |    THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)),
       |    (acc, e) -> acc | e) AS bucket
       |  FROM v CROSS JOIN pm CROSS JOIN (SELECT unnest(range($nTables)) AS t) tt)""".stripMargin
  }

  private val normCte =
    s"""n AS (SELECT vec_id, v,
       |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v)""".stripMargin

  /** DuckDB twin of [[Sim.cosineNearDupsLsh]] at the q36 banding
    * parameters — shared by the q36 row (threshold 0.35) and the q94
    * consensus join (threshold 0.2). */
  private def lshNearDupOracle(threshold: Double): String =
    s"""WITH ${bandedCte(16, 4, 64)},
       |$normCte,
       |ok AS (SELECT t, bucket FROM bt GROUP BY t, bucket
       |  HAVING count(*) <= 100000),
       |cap AS (SELECT bt.* FROM bt JOIN ok USING (t, bucket)),
       |c AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |  FROM cap a JOIN cap b
       |  ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |j AS (SELECT c.v1, c.v2,
       |  ${dotSql("na.v", "nb.v")} / (na.norm * nb.norm) AS sim
       |  FROM c JOIN n na ON na.vec_id = c.v1 JOIN n nb ON nb.vec_id = c.v2)
       |SELECT v1, v2, sim FROM j WHERE sim >= $threshold ORDER BY v1, v2""".stripMargin

  /** Shared IVF coarse-quantizer CTE chain (v, n, c, asg): same centroid
    * seed set as [[Sim.ivfAssign]] (first nlist by vec_id, restricted
    * to `centroidPred` — q114 trains on the base generation only),
    * same argmax assign, same sequential-fold cosine — bit-identical. */
  private def ivfAssignCte(nlist: Int,
                           centroidPred: String = "true"): String = {
    val normSql = foldSum.format("list_transform(v, x -> x * x)")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM v),
       |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n
       |  WHERE $centroidPred ORDER BY vec_id LIMIT $nlist),
       |asg AS (
       |  SELECT vec_id, v, norm, cid FROM (
       |    SELECT n.vec_id, n.v, n.norm, c.cid,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dotSql("n.v", "c.cv")} / (n.norm * c.cn) DESC, c.cid ASC) AS r
       |    FROM n CROSS JOIN c) WHERE r = 1)""".stripMargin
  }

  /** DuckDB twin of [[Sim.ivfKnn]] (nlist=16, nprobe=4, nQuery=10, k=5),
    * parameterized by the centroid-training predicate: "true" for
    * q35/q106 (the whole corpus is the index generation); q114 trains
    * on the base generation only, then the asg CTE assigns EVERY
    * vector — exactly what base-build + batch-append must equal. */
  private def ivfKnnOracleFor(centroidPred: String): String =
    s"""WITH ${ivfAssignCte(16, centroidPred)},
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
       |pr AS (
       |  SELECT qid, qv, qnorm, cid FROM (
       |    SELECT q.qid, q.qv, q.qnorm, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${dotSql("q.qv", "c.cv")} / (q.qnorm * c.cn) DESC, c.cid ASC) AS r
       |    FROM q CROSS JOIN c) WHERE r <= 4),
       |j AS (
       |  SELECT pr.qid, asg.vec_id,
       |    ${dotSql("asg.v", "pr.qv")} / (asg.norm * pr.qnorm) AS sim
       |  FROM asg JOIN pr ON asg.cid = pr.cid
       |  WHERE asg.vec_id <> pr.qid),
       |r AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, sim FROM r
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  private val ivfKnnOracle = ivfKnnOracleFor("true")

  /** The LPA CTE chain (bigram edges → sym → l0…l`iters`) shared by
    * [[labelPropOracle]] and [[modularityOracle]]. */
  private def lpaCteBody(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s""",
         |l$r AS (SELECT node, label FROM (
         |  SELECT node, label, row_number() OVER (PARTITION BY node
         |    ORDER BY wt DESC, label ASC) AS rn
         |  FROM (SELECT s.a AS node, l.label AS label, sum(s.w) AS wt
         |    FROM sym s JOIN l${r - 1} l ON l.node = s.b
         |    GROUP BY s.a, l.label) g) WHERE rn = 1)""".stripMargin
    }.mkString
    s"""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
       |p0 AS (SELECT unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
       |e AS (SELECT ts[i+1] AS src, ts[i+2] AS dst, count(*) AS w FROM p0 GROUP BY 1, 2),
       |u AS (SELECT src AS a, dst AS b, w FROM e WHERE src <> dst
       |  UNION ALL SELECT dst AS a, src AS b, w FROM e WHERE src <> dst),
       |sym AS (SELECT a, b, sum(w) AS w FROM u GROUP BY a, b),
       |l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym)$rounds""".stripMargin
  }

  /** DuckDB twin of [[graft.rel.Graph.labelPropagation]] at 2 rounds:
    * the same symmetrized self-loop-free bigram edges, the same
    * weighted (wt DESC, label ASC) adoption per round, unrolled as
    * CTEs. All-integer state — exact at every round. */
  private val labelPropOracle: String =
    lpaCteBody(2) +
      """
        |SELECT label, count(*) AS size, min(node) AS min_node
        |FROM l2 GROUP BY label ORDER BY label""".stripMargin

  /** DuckDB twin of q251 ([[graft.rel.Graph.modularity]] over the q177
    * partition): same symmetrized edges, same l2 labels, same exact
    * integer w_in/strength aggregates, same fixed-order per-community
    * terms, TOTAL row through the DECIMAL route. */
  private val modularityOracle: String = {
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    lpaCteBody(2) +
      s""",
         |el AS (SELECT s.a, s.w, la.label AS lab_a, lb.label AS lab_b
         |  FROM sym s JOIN l2 la ON la.node = s.a JOIN l2 lb ON lb.node = s.b),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS w2 FROM el),
         |per AS (SELECT lab_a AS label, count(DISTINCT a) AS n_nodes,
         |  CAST(sum(CASE WHEN lab_a = lab_b THEN w ELSE 0 END) AS BIGINT) AS w_in2,
         |  CAST(sum(w) AS BIGINT) AS strength FROM el GROUP BY 1),
         |pq AS (SELECT label, n_nodes, w_in2, strength,
         |  CAST(w_in2 AS DOUBLE) / CAST(w2 AS DOUBLE)
         |    - (CAST(strength AS DOUBLE) / CAST(w2 AS DOUBLE))
         |      * (CAST(strength AS DOUBLE) / CAST(w2 AS DOUBLE)) AS q_term
         |  FROM per CROSS JOIN tot)
         |SELECT * FROM (
         |  SELECT label, n_nodes, w_in2, strength,
         |    ${graft.rel.Queries.femitSql("q_term")} AS q_term FROM pq
         |  UNION ALL
         |  SELECT '__TOTAL__', CAST(sum(n_nodes) AS BIGINT),
         |    CAST(sum(w_in2) AS BIGINT), CAST(sum(strength) AS BIGINT),
         |    ${graft.rel.Queries.femitSql(dec("q_term"))} FROM pq)
         |ORDER BY label""".stripMargin
  }

  /** DuckDB twin of q124: the same bigram edge build, then 3 unrolled
    * PageRank rounds. Each round's per-node sum takes the identical
    * DECIMAL(38,12)-via-VARCHAR route as [[graft.rel.Queries.dsum]]'s
    * oracle twin, and the teleport constant is interpolated from the
    * very Scala double the Spark plan uses (`1.0 - 0.85` is NOT 0.15
    * in IEEE arithmetic — see Graph.pageRank's scaladoc), so ranks are
    * bit-identical across engines at every round. */
  private val pageRankOracle: String = {
    val damping = 0.85
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    val head =
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |p0 AS (SELECT unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
        |e AS (SELECT ts[i+1] AS src, ts[i+2] AS dst, count(*) AS w FROM p0 GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nc)""".stripMargin
    val rounds = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS node, ${dec("r.rank * e.w / ow.outw")} AS s
         |  FROM e JOIN $prev r ON r.node = e.src JOIN ow ON ow.src = e.src GROUP BY e.dst),
         |d$i AS (SELECT coalesce(${dec("r.rank")}, CAST(0.0 AS DOUBLE)) AS dmass
         |  FROM $prev r WHERE r.node NOT IN (SELECT src FROM ow)),
         |r$i AS (SELECT nodes.node,
         |  CAST(${1.0 - damping} AS DOUBLE) / nc.n + CAST($damping AS DOUBLE)
         |    * (coalesce(s$i.s, CAST(0.0 AS DOUBLE)) + d$i.dmass / nc.n) AS rank
         |  FROM nodes LEFT JOIN s$i ON s$i.node = nodes.node CROSS JOIN d$i CROSS JOIN nc)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, ${femitSql("rank")} AS rank FROM r3 ORDER BY node"
  }

  /** DuckDB twin of q279 ([[Sim.pcaPower]] at 2 rounds): same zipped
    * unnest (0-based dims ≡ posexplode), same dsum-routed centering,
    * matrix-vector products, norms, and fixed-order divisions — the
    * loadings are bit-identical at every round. */
  private val pcaOracle: String = {
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    val head =
      s"""WITH x0 AS (SELECT vec_id, unnest(range(len(embedding))) AS dim,
         |  CAST(unnest(embedding) AS DOUBLE) AS xv FROM embeddings),
         |m AS (SELECT dim, ${dec("xv")} / CAST(count(*) AS DOUBLE) AS m
         |  FROM x0 GROUP BY 1),
         |xc AS (SELECT vec_id, x0.dim, xv - m AS xc
         |  FROM x0 JOIN m ON m.dim = x0.dim),
         |v0 AS (SELECT dim, CASE WHEN dim = 0 THEN CAST(1 AS DOUBLE)
         |  ELSE CAST(0 AS DOUBLE) END AS v FROM m)""".stripMargin
    val rounds = (1 to 2).map { i =>
      s"""d$i AS (SELECT vec_id, ${dec("xc * v")} AS dot
         |  FROM xc JOIN v${i - 1} USING (dim) GROUP BY 1),
         |w$i AS (SELECT dim, ${dec("xc * dot")} AS w
         |  FROM xc JOIN d$i USING (vec_id) GROUP BY 1),
         |n$i AS (SELECT sqrt(${dec("w * w")}) AS nrm FROM w$i),
         |v$i AS (SELECT dim, w / nrm AS v FROM w$i CROSS JOIN n$i)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
        |SELECT v2.dim, ${graft.rel.Queries.femitSql("v2.v")} AS loading,
        |  ${graft.rel.Queries.femitSql("n2.nrm")} AS eigen_estimate
        |FROM v2 CROSS JOIN n2 ORDER BY v2.dim""".stripMargin
  }

  /** DuckDB twin of q270 ([[graft.rel.Graph.personalizedPageRank]] on
    * the bigram graph, long-token seeds, 3 rounds): same restart
    * vector (1/|S| on seeds, 0 elsewhere), same dangling-mass teleport
    * to the seeds, every per-node sum on the DECIMAL route. The
    * (1−damping) literal is interpolated from the same Scala double
    * the plan uses, so both engines multiply by the identical
    * constant. */
  private val pprOracle: String = {
    val damping = 0.85
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    val head =
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |p0 AS (SELECT unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
        |e AS (SELECT ts[i+1] AS src, ts[i+2] AS dst, count(*) AS w FROM p0 GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT node FROM nodes WHERE length(node) >= 8),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM seeds),
        |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
        |rst AS (SELECT nodes.node,
        |  CASE WHEN seeds.node IS NOT NULL THEN CAST(1 AS DOUBLE) / ns.ns
        |    ELSE CAST(0 AS DOUBLE) END AS restart
        |  FROM nodes LEFT JOIN seeds ON seeds.node = nodes.node CROSS JOIN ns),
        |r0 AS (SELECT node, restart AS rank FROM rst)""".stripMargin
    val rounds = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS node, ${dec("r.rank * e.w / ow.outw")} AS s
         |  FROM e JOIN $prev r ON r.node = e.src JOIN ow ON ow.src = e.src GROUP BY e.dst),
         |d$i AS (SELECT coalesce(${dec("r.rank")}, CAST(0.0 AS DOUBLE)) AS dmass
         |  FROM $prev r WHERE r.node NOT IN (SELECT src FROM ow)),
         |r$i AS (SELECT rst.node,
         |  CAST(${1.0 - damping} AS DOUBLE) * rst.restart + CAST($damping AS DOUBLE)
         |    * (coalesce(s$i.s, CAST(0.0 AS DOUBLE)) + d$i.dmass * rst.restart) AS rank
         |  FROM rst LEFT JOIN s$i ON s$i.node = rst.node CROSS JOIN d$i)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, ${femitSql("rank")} AS rank FROM r3 ORDER BY node"
  }

  /** DuckDB twin of q233 ([[graft.rel.Graph.hits]] at 2 rounds): same
    * directed bigram edges, same L1-normalized mutual reinforcement,
    * every per-node sum and both per-round totals on the DECIMAL
    * route — scores bit-identical at every round. */
  private val hitsOracle: String = {
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    val head =
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |p0 AS (SELECT unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
        |e AS (SELECT ts[i+1] AS src, ts[i+2] AS dst, count(*) AS w FROM p0 GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)""".stripMargin
    val rounds = (1 to 2).map { r =>
      s"""ar$r AS (SELECT e.dst AS node, ${dec("e.w * h.h")} AS ar
         |  FROM e JOIN h${r - 1} h ON h.node = e.src GROUP BY e.dst),
         |at$r AS (SELECT ${dec("ar")} AS tot FROM ar$r),
         |a$r AS (SELECT nodes.node,
         |  coalesce(ar$r.ar / at$r.tot, CAST(0.0 AS DOUBLE)) AS a
         |  FROM nodes LEFT JOIN ar$r ON ar$r.node = nodes.node CROSS JOIN at$r),
         |hr$r AS (SELECT e.src AS node, ${dec("e.w * a.a")} AS hr
         |  FROM e JOIN a$r a ON a.node = e.dst GROUP BY e.src),
         |ht$r AS (SELECT ${dec("hr")} AS tot FROM hr$r),
         |h$r AS (SELECT nodes.node,
         |  coalesce(hr$r.hr / ht$r.tot, CAST(0.0 AS DOUBLE)) AS h
         |  FROM nodes LEFT JOIN hr$r ON hr$r.node = nodes.node CROSS JOIN ht$r)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
         |SELECT nodes.node, ${femitSql("a2.a")} AS auth, ${femitSql("h2.h")} AS hub
         |FROM nodes JOIN a2 ON a2.node = nodes.node
         |JOIN h2 ON h2.node = nodes.node ORDER BY nodes.node""".stripMargin
  }

  /** DuckDB twin of q234 ([[graft.rel.Graph.linkPrediction]] over the
    * q210 co-purchase edge set, middle cap 8, top-30): same capped
    * wedge enumeration, same anti-join on existing edges, exact
    * integer cn/deg, Adamic–Adar terms on the dsum route. */
  private val linkPredOracle: String = {
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |bounded AS (SELECT ok, pk FROM
       |  (SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS bs FROM items) WHERE bs <= 64),
       |e0 AS (SELECT a.pk AS a, b.pk AS b, count(*) AS c FROM bounded a
       |  JOIN bounded b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
       |und AS (SELECT a, b FROM e0 WHERE c >= 2),
       |deg AS (SELECT node, count(*) AS deg FROM
       |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
       |incid AS (SELECT x.z, x.n, d.deg AS dz FROM
       |  (SELECT a AS z, b AS n FROM und UNION ALL SELECT b AS z, a AS n FROM und) x
       |  JOIN deg d ON d.node = x.z WHERE d.deg <= 8),
       |pairs AS (SELECT i1.z, i1.dz, i1.n AS u, i2.n AS w FROM incid i1
       |  JOIN incid i2 ON i1.z = i2.z AND i1.n < i2.n),
       |nonadj AS (SELECT p.u, p.w, p.dz FROM pairs p
       |  WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = p.u AND und.b = p.w)),
       |sc AS (SELECT u, w, count(*) AS cn,
       |  ${dec("1.0 / ln(CAST(dz AS DOUBLE))")} AS aa0 FROM nonadj GROUP BY u, w)
       |SELECT sc.u, sc.w, sc.cn, ${femitSql("aa0")} AS adamic_adar,
       |  ${femitSql("CAST(cn AS DOUBLE) / CAST(du.deg + dw.deg - cn AS DOUBLE)")} AS jaccard
       |FROM sc JOIN deg du ON du.node = sc.u JOIN deg dw ON dw.node = sc.w
       |ORDER BY adamic_adar DESC, sc.u ASC, sc.w ASC LIMIT 30""".stripMargin
  }

  /** DuckDB twin of q235: TextRank = the q124 PageRank rounds over the
    * SYMMETRIZED window-2 co-occurrence graph; identical teleport
    * constant interpolation and DECIMAL-route round sums, top-20 by
    * rounded rank. */
  private val textRankOracle: String = {
    val damping = 0.85
    def dec(x: String) =
      s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    val head =
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |p0 AS (SELECT unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
        |pr AS (SELECT ts[i+1] AS src, ts[i+2] AS dst FROM p0 WHERE ts[i+2] IS NOT NULL
        |  UNION ALL SELECT ts[i+1] AS src, ts[i+3] AS dst FROM p0 WHERE ts[i+3] IS NOT NULL),
        |u AS (SELECT src, dst FROM pr WHERE src <> dst
        |  UNION ALL SELECT dst AS src, src AS dst FROM pr WHERE src <> dst),
        |e AS (SELECT src, dst, count(*) AS w FROM u GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nc)""".stripMargin
    val rounds = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS node, ${dec("r.rank * e.w / ow.outw")} AS s
         |  FROM e JOIN $prev r ON r.node = e.src JOIN ow ON ow.src = e.src GROUP BY e.dst),
         |d$i AS (SELECT coalesce(${dec("r.rank")}, CAST(0.0 AS DOUBLE)) AS dmass
         |  FROM $prev r WHERE r.node NOT IN (SELECT src FROM ow)),
         |r$i AS (SELECT nodes.node,
         |  CAST(${1.0 - damping} AS DOUBLE) / nc.n + CAST($damping AS DOUBLE)
         |    * (coalesce(s$i.s, CAST(0.0 AS DOUBLE)) + d$i.dmass / nc.n) AS rank
         |  FROM nodes LEFT JOIN s$i ON s$i.node = nodes.node CROSS JOIN d$i CROSS JOIN nc)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, ${femitSql("rank")} AS rank FROM r3 " +
      s"ORDER BY ${femitSql("rank")} DESC, node ASC LIMIT 20"
  }

  /** DuckDB twin of [[Sim.sq8Knn]] (nQuery=10, k=5, rerank=20): same
    * int8 quantization, same exact integer dot, same fixed-order IEEE
    * dequantized estimate — so the CANDIDATE SET is bit-identical
    * across engines, and the exact-rerank tail repeats the proven q21
    * cosine math. */
  private val sq8KnnOracle = {
    val isumSql = "list_reduce(list_prepend(CAST(0 AS BIGINT), %s), (a, b) -> a + b)"
    val idot = isumSql.format(
      "list_transform(list_zip(b.qv, q.qv), p -> p[1] * p[2])")
    val normSql = foldSum.format("list_transform(v, x -> x * x)")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt($normSql) AS norm,
       |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0 THEN 1.0
       |       ELSE list_max(list_transform(v, x -> abs(x))) END AS scale FROM v),
       |z AS (SELECT vec_id, norm, scale,
       |  list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT)) AS qv
       |  FROM n),
       |q AS (SELECT vec_id AS qid, qv, scale, norm FROM z WHERE vec_id < 10),
       |e AS (SELECT q.qid, b.vec_id,
       |    CAST($idot AS DOUBLE) * b.scale * q.scale / 16129.0
       |      / (b.norm * q.norm) AS est
       |  FROM z b CROSS JOIN q WHERE b.vec_id <> q.qid),
       |c AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY est DESC, vec_id ASC) AS r FROM e) WHERE r <= 20),
       |j AS (SELECT c.qid, c.vec_id,
       |    ${dotSql("nb.v", "nq.v")} / (nb.norm * nq.norm) AS sim
       |  FROM c JOIN n nb ON nb.vec_id = c.vec_id JOIN n nq ON nq.vec_id = c.qid),
       |r AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, sim FROM r
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  /** Lloyd-refinement CTE chain for a PQ sub-codebook — the DuckDB
    * twin of [[Sim]]'s refineSubCodebook: `lloyd` iterations of
    * argmin-L2 assignment over `src` (a (vec_id, j, `subCol`) CTE)
    * against the current `cbr{i-1}` (j, cid, cv) table, then
    * per-(j, cid, coordinate) means through the DECIMAL(38,12)
    * VARCHAR-round-trip route (the kmeansRefineOracle convention) and
    * a coalesce that keeps memberless entries at their previous value
    * (the table must stay dense for the `j*ksub + cid + 1` LUT index).
    * The caller provides `cbr0` and reads `cbr$lloyd`. Each refined
    * table is MATERIALIZED — DuckDB re-inlines plain CTEs per
    * reference and the chain is iterative (the q210 lesson). */
  private def pqRefineCtes(src: String, subCol: String, dsub: Int,
                           lloyd: Int): String = {
    val dmean = "CAST(CAST(SUM(CAST(CAST(sub[ci + 1] AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)"
    (1 to lloyd).map { i =>
      val l2 = foldSum.format(
        s"list_transform(list_zip(s.$subCol, cb.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))")
      s""",
         |ra${i}0 AS (SELECT s.vec_id, s.j, cb.cid, s.$subCol AS sub, $l2 AS dist
         |  FROM $src s JOIN cbr${i - 1} cb ON cb.j = s.j),
         |ra$i AS (SELECT vec_id, j, cid, sub FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |    ORDER BY dist ASC, cid ASC) AS r FROM ra${i}0) WHERE r = 1),
         |rm$i AS (SELECT j, cid, ci, $dmean AS c
         |  FROM ra$i, (SELECT unnest(range($dsub)) AS ci) GROUP BY j, cid, ci),
         |rk$i AS (SELECT j, cid, list(c ORDER BY ci) AS cv FROM rm$i GROUP BY j, cid),
         |cbr$i AS MATERIALIZED (SELECT cb.j, cb.cid, coalesce(k.cv, cb.cv) AS cv
         |  FROM cbr${i - 1} cb LEFT JOIN rk$i k ON k.j = cb.j AND k.cid = cb.cid)""".stripMargin
    }.mkString
  }

  /** DuckDB twin of [[Sim.pqKnn]] at the q140 parameters (dim 64, m=8
    * subspaces of 8, ksub=16 codebooks initialized from the first 16
    * vectors then Lloyd-refined one pass via [[pqRefineCtes]], ADC
    * top-40, exact rerank to top-5): the same flat sub-vector
    * explosion, the same argmin-L2 encode with (dist, cid) ties, and
    * every float reduction an identical fixed-order fold — coordinate
    * order inside sub-vectors, j-ascending `list(... ORDER BY j)` for
    * the reconstructed norm and the ADC sum. */
  private val pqKnnOracle = {
    val l2 = foldSum.format(
      "list_transform(list_zip(s.sub, cb.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))")
    val sdot = foldSum.format(
      "list_transform(list_zip(s.sub, cb.cv), p -> p[1] * p[2])")
    val normSql = foldSum.format("list_transform(v, x -> x * x)")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM v),
       |subs AS (SELECT vec_id, norm, j, v[j*8+1 : j*8+8] AS sub
       |  FROM n, (SELECT unnest(range(8)) AS j)),
       |cbr0 AS (SELECT j, CAST(vec_id AS INT) AS cid, sub AS cv
       |  FROM subs WHERE vec_id < 16)${pqRefineCtes("subs", "sub", 8, 1)},
       |cb AS MATERIALIZED (SELECT j, cid, cv,
       |  ${foldSum.format("list_transform(cv, x -> x * x)")} AS ccn
       |  FROM cbr1),
       |e0 AS (SELECT s.vec_id, s.j, cb.cid, cb.ccn, $l2 AS dist
       |  FROM subs s JOIN cb ON cb.j = s.j),
       |codes AS (SELECT vec_id, j, cid, ccn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |    ORDER BY dist ASC, cid ASC) AS r FROM e0) WHERE r = 1),
       |enc AS (SELECT vec_id,
       |  sqrt(${foldSum.format("list(ccn ORDER BY j)")}) AS rnorm
       |  FROM codes GROUP BY vec_id),
       |lut AS (SELECT s.vec_id AS qid, s.norm AS qnorm, s.j, cb.cid, $sdot AS d
       |  FROM subs s JOIN cb ON cb.j = s.j WHERE s.vec_id < 10),
       |terms AS (SELECT l.qid, l.qnorm, c.vec_id, c.j, l.d
       |  FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.cid),
       |ed AS (SELECT qid, vec_id, max(qnorm) AS qnorm,
       |  ${foldSum.format("list(d ORDER BY j)")} AS s
       |  FROM terms GROUP BY qid, vec_id),
       |est AS (SELECT ed.qid, ed.vec_id,
       |  ed.s / (ed.qnorm * enc.rnorm) AS est
       |  FROM ed JOIN enc ON enc.vec_id = ed.vec_id
       |  WHERE ed.vec_id <> ed.qid),
       |c AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY est DESC, vec_id ASC) AS r FROM est) WHERE r <= 40),
       |j AS (SELECT c.qid, c.vec_id,
       |  ${dotSql("nb.v", "nq.v")} / (nb.norm * nq.norm) AS sim
       |  FROM c JOIN n nb ON nb.vec_id = c.vec_id JOIN n nq ON nq.vec_id = c.qid),
       |r AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, sim FROM r
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  /** DuckDB twin of [[Sim.ivfpqKnn]] at the q164 parameters (nlist=16,
    * nprobe=4, m=8, ksub=16, one Lloyd refinement pass, rerank=40,
    * k=5): the shared IVF assign
    * CTE, residual sub-vectors against the assigned centroid, global
    * residual codebooks from the first 16 vectors, argmin-L2 encode,
    * probed-list restriction, and the ADC estimate dot(q,c) + Σ LUT
    * with j-ascending folds throughout. */
  private val ivfpqKnnOracle = {
    val l2 = foldSum.format(
      "list_transform(list_zip(rs.rsub, cb.pcv), p -> (p[1] - p[2]) * (p[1] - p[2]))")
    val qdot = foldSum.format(
      "list_transform(list_zip(qs.qsub, cb.pcv), p -> p[1] * p[2])")
    s"""WITH ${ivfAssignCte(16)},
       |rs AS MATERIALIZED (SELECT asg.vec_id, asg.cid, j,
       |  list_transform(list_zip(asg.v[j*8+1 : j*8+8], c.cv[j*8+1 : j*8+8]),
       |    p -> p[1] - p[2]) AS rsub
       |  FROM asg JOIN c USING (cid), (SELECT unnest(range(8)) AS j)),
       |cbr0 AS (SELECT j, CAST(vec_id AS INT) AS cid, rsub AS cv
       |  FROM rs WHERE vec_id < 16)${pqRefineCtes("rs", "rsub", 8, 1)},
       |cb AS MATERIALIZED (SELECT j, cid AS pcid, cv AS pcv FROM cbr1),
       |e0 AS (SELECT rs.vec_id, rs.cid, rs.j, cb.pcid, $l2 AS dist
       |  FROM rs JOIN cb ON cb.j = rs.j),
       |codes AS (SELECT vec_id, cid, j, pcid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |    ORDER BY dist ASC, pcid ASC) AS r FROM e0) WHERE r = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
       |probed AS (SELECT qid, cid, qcdot FROM (
       |  SELECT q.qid, c.cid,
       |    ${dotSql("q.qv", "c.cv")} AS qcdot,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${dotSql("q.qv", "c.cv")} / (q.qnorm * c.cn) DESC, c.cid ASC) AS r
       |  FROM q CROSS JOIN c) WHERE r <= 4),
       |qs AS (SELECT qid, j, qv[j*8+1 : j*8+8] AS qsub
       |  FROM q, (SELECT unnest(range(8)) AS j)),
       |lut AS (SELECT qs.qid, qs.j, cb.pcid, $qdot AS d
       |  FROM qs JOIN cb ON cb.j = qs.j),
       |cand0 AS (SELECT p.qid, codes.vec_id, codes.j, codes.pcid, p.qcdot
       |  FROM probed p JOIN codes ON codes.cid = p.cid
       |  WHERE codes.vec_id <> p.qid),
       |terms AS (SELECT c0.qid, c0.vec_id, c0.j, c0.qcdot, l.d
       |  FROM cand0 c0 JOIN lut l
       |    ON l.qid = c0.qid AND l.j = c0.j AND l.pcid = c0.pcid),
       |ed AS (SELECT qid, vec_id, max(qcdot) AS qcdot,
       |  ${foldSum.format("list(d ORDER BY j)")} AS rd
       |  FROM terms GROUP BY qid, vec_id),
       |est AS (SELECT qid, vec_id, qcdot + rd AS est FROM ed),
       |cand AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY est DESC, vec_id ASC) AS r FROM est) WHERE r <= 40),
       |j2 AS (SELECT cand.qid, cand.vec_id,
       |  ${dotSql("nb.v", "nq.v")} / (nb.norm * nq.norm) AS sim
       |  FROM cand JOIN n nb ON nb.vec_id = cand.vec_id
       |  JOIN n nq ON nq.vec_id = cand.qid),
       |r2 AS (SELECT qid, vec_id, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j2)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, sim FROM r2
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  /** DuckDB twin of [[Sim.clusterDedup]] (nlist=16, threshold 0.35). */
  private val clusterDedupOracle =
    s"""WITH ${ivfAssignCte(16)},
       |rep AS (SELECT cid, min(vec_id) AS rep_id FROM asg GROUP BY cid),
       |rv AS (SELECT rep.cid, rep.rep_id, asg.v AS rv, asg.norm AS rn
       |  FROM rep JOIN asg ON asg.vec_id = rep.rep_id),
       |d AS (SELECT asg.vec_id, rv.rep_id,
       |    ${dotSql("asg.v", "rv.rv")} / (asg.norm * rv.rn) AS sim
       |  FROM asg JOIN rv ON asg.cid = rv.cid
       |  WHERE asg.vec_id <> rv.rep_id)
       |SELECT vec_id, rep_id, sim FROM d WHERE sim >= 0.35
       |ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[Sim.mmrDiversify]]: the greedy MMR loop unrolled
    * as CTEs. The same fold-cosine pool and pair sims, the same
    * λ·sim − (1−λ)·max-penalty scoring with the SAME pre-combined
    * double literals, the same (score DESC, vec_id ASC) argmax per
    * round — so the data-dependent pick sequence must match exactly. */
  private def mmrOracle(nQuery: Int, pool: Int, k: Int, lam: Double): String = {
    val mu = 1.0 - lam
    def dot(a: String, b: String) =
      foldSum.format(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")
    val rounds = (2 to k).map { r =>
      s""",
         |p$r AS (SELECT qid, vec_id, score FROM (
         |  SELECT g.qid, g.vec_id, g.score, row_number() OVER (PARTITION BY g.qid
         |    ORDER BY g.score DESC, g.vec_id ASC) AS rn
         |  FROM (SELECT c.qid, c.vec_id, $lam * c.sim - $mu * max(p.dsim) AS score
         |    FROM cands c
         |    JOIN cp p ON p.qid = c.qid AND p.d1 = c.vec_id
         |    JOIN sel${r - 1} s ON s.qid = p.qid AND s.vec_id = p.d2
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} x
         |      WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
         |    GROUP BY c.qid, c.vec_id, c.sim) g) WHERE rn = 1),
         |sel$r AS (SELECT qid, vec_id FROM sel${r - 1}
         |  UNION ALL SELECT qid, vec_id FROM p$r)""".stripMargin
    }.mkString
    val out = (1 to k).map(r =>
      s"SELECT qid, CAST($r AS BIGINT) AS rnk, vec_id, ${femitSql("score")} AS score FROM p$r")
      .mkString("\n|  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n
       |  WHERE vec_id < $nQuery),
       |cs AS (SELECT qid, vec_id, v, norm, sim,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, vec_id ASC) AS rnk FROM (
       |  SELECT q.qid, n.vec_id, n.v, n.norm,
       |    ${dot("n.v", "q.qv")} / (n.norm * q.qnorm) AS sim
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid)),
       |cands AS (SELECT qid, vec_id, v, norm, sim FROM cs WHERE rnk <= $pool),
       |cp AS (SELECT a.qid, a.vec_id AS d1, b.vec_id AS d2,
       |  ${dot("a.v", "b.v")} / (a.norm * b.norm) AS dsim
       |  FROM cands a JOIN cands b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
       |p1 AS (SELECT qid, vec_id, score FROM (
       |  SELECT qid, vec_id, $lam * sim AS score,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY $lam * sim DESC, vec_id ASC) AS rn FROM cands)
       |  WHERE rn = 1),
       |sel1 AS (SELECT qid, vec_id FROM p1)$rounds
       |SELECT * FROM (
       |  $out)
       |ORDER BY qid, rnk""".stripMargin
  }

  /** DuckDB twin of [[Sim.rrfFusion]]: the same two deterministic
    * rankings, the same union-fuse with CAST(1.0 AS DOUBLE) forcing
    * IEEE division (a bare 1.0 is DECIMAL in DuckDB), terms summed in
    * the same cos-then-text order. */
  private def rrfOracle(nQuery: Int, pool: Int, k: Int, rrfK: Int): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n
       |  WHERE vec_id < $nQuery),
       |cs AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, vec_id ASC) AS rnk FROM (
       |  SELECT q.qid, n.vec_id,
       |    ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
       |      / (n.norm * q.qnorm) AS sim
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid)),
       |cosr AS (SELECT qid, vec_id AS doc_id, CAST(rnk AS BIGINT) AS r_cos
       |  FROM cs WHERE rnk <= $pool),
       |tok AS (SELECT DISTINCT doc_id, t AS tok FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
       |  WHERE t <> ''),
       |qt AS (SELECT doc_id AS qid, tok FROM tok WHERE doc_id < $nQuery),
       |ov AS (SELECT qt.qid, tok.doc_id, count(*) AS overlap
       |  FROM qt JOIN tok USING (tok) WHERE tok.doc_id <> qt.qid
       |  GROUP BY qt.qid, tok.doc_id),
       |txtr AS (SELECT qid, doc_id, r_txt FROM (
       |  SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY overlap DESC, doc_id ASC) AS BIGINT) AS r_txt FROM ov)
       |  WHERE r_txt <= $pool),
       |f AS (SELECT coalesce(c.qid, t.qid) AS qid,
       |  coalesce(c.doc_id, t.doc_id) AS doc_id,
       |  coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + c.r_cos), 0.0)
       |    + coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + t.r_txt), 0.0) AS rrf
       |  FROM cosr c FULL JOIN txtr t
       |    ON c.qid = t.qid AND c.doc_id = t.doc_id)
       |SELECT qid, rnk, doc_id, ${femitSql("rrf")} AS rrf FROM (
       |  SELECT qid, doc_id, rrf, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rnk FROM f)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** DuckDB twin of [[Curation.bpeTrain]] at any round count: the
    * merge loop unrolled as CTEs. Per round — the same weighted pair
    * counts over the same vocabulary, the same (wcnt DESC, a, b) argmax,
    * and the same greedy left-to-right merge fold replayed via
    * `list_reduce` (accumulator prepended as a typed empty list, the
    * just-merged symbol never retroactively re-merged). Integer counts
    * only, so every round's choice and weight is bit-exact. Pair keys
    * ride a space separator — symbols come from space-split words and
    * can never contain one. */
  private def bpeOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      val fold = s"""list_reduce(
         |    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
         |    (acc, x) -> CASE WHEN acc[-1] = b.ma AND x[1] = b.mb
         |      THEN list_append(array_slice(acc, 1, len(acc) - 1), b.ma || b.mb)
         |      ELSE list_concat(acc, x) END)""".stripMargin
      s""",
         |p$r AS (SELECT string_split(pr, ' ')[1] AS ma,
         |  string_split(pr, ' ')[2] AS mb, CAST(sum(cnt) AS BIGINT) AS wcnt
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |    i -> syms[i] || ' ' || syms[i + 1])) AS pr FROM $prev)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT ma, mb, wcnt FROM p$r
         |  ORDER BY wcnt DESC, ma ASC, mb ASC LIMIT 1),
         |w$r AS (SELECT cnt, $fold AS syms FROM $prev CROSS JOIN b$r b)""".stripMargin
    }.mkString
    val rows = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, ma AS a, mb AS b, wcnt FROM b$r")
      .mkString("\n|  UNION ALL ")
    s"""WITH wc AS (SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |w0 AS (SELECT cnt, string_split(w, '') AS syms FROM wc)$steps
       |SELECT * FROM (
       |  $rows)
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[TextAnalysis.clusterLabels]]: the same IVF
    * assignment CTE, the same cluster-level tf/df, the same fixed-order
    * tf·ln(n/df) with round(6). */
  private val clusterLabelsOracle =
    s"""WITH ${ivfAssignCte(16)},
       |tok AS (SELECT asg.cid, t.tok
       |  FROM documents d JOIN asg ON d.doc_id = asg.vec_id,
       |  LATERAL unnest(string_split(d.text, ' ')) AS t(tok)
       |  WHERE t.tok <> ''),
       |tf AS (SELECT cid, tok, count(*) AS tf FROM tok GROUP BY cid, tok),
       |dfp AS (SELECT tok, count(*) AS df FROM
       |  (SELECT DISTINCT cid, tok FROM tok) GROUP BY tok),
       |nc AS (SELECT count(DISTINCT cid) AS n_clusters FROM asg),
       |sc AS (SELECT tf.cid, tf.tok, tf.tf, dfp.df,
       |  ${femitSql("tf.tf * ln(CAST(nc.n_clusters AS DOUBLE) / dfp.df)")} AS score
       |  FROM tf JOIN dfp USING (tok) CROSS JOIN nc),
       |r AS (SELECT cid, tok, tf, df, score,
       |  CAST(row_number() OVER (PARTITION BY cid
       |    ORDER BY score DESC, tok ASC) AS BIGINT) AS rnk FROM sc)
       |SELECT cid, rnk, tok, tf, df, score FROM r
       |WHERE rnk <= 3 ORDER BY cid, rnk""".stripMargin

  /** q18's MinHash near-dup pair table (k=3, 64 buckets, band 4,
    * τ=0.1), materialized once per fixture and reused by q94's
    * consensus join and q276's cluster histogram — q18/q65 stay the
    * from-scratch declarations. */
  private def minhashPairStore(s: SparkSession, dir: String): DataFrame =
    stampedStore(s, dir, "minhash_pair_store", "documents")(
      Dedup.minhashNearDups(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1))

  /** q94's embedding sign-LSH near-dup pair table (τ=0.2 — see the q94
    * threshold note), materialized once per fixture; q36 (τ=0.35) stays
    * the from-scratch declaration. */
  private def embedLshPairStore(s: SparkSession, dir: String): DataFrame =
    stampedStore(s, dir, "embed_lsh_pair_store", "embeddings")(
      Sim.cosineNearDupsLsh(Tables.read(s, dir, "embeddings"), threshold = 0.2,
        nTables = 16, bandPlanes = 4, dim = EmbeddingDim))

  /** q373's perceptual (pHash MIH) near-dup pair table (maxDist=3),
    * materialized once per fixture and reused by q374's consensus —
    * the q94 precedent applied to the third modality (VERDICT r11
    * item 2: q374 recomputed the pHash signatures + pairs inline
    * every pass while its other two legs rode stamped stores). q373
    * stays the from-scratch declaration. */
  private def phashPairStore(s: SparkSession, dir: String): DataFrame =
    stampedStore(s, dir, "phash_pair_store", "documents")(
      Multimodal.perceptualNearDups(Tables.read(s, dir, "documents"), maxDist = 3))

  /** q417's NN-descent stage graphs (seed + 3 convergence rounds, each
    * edge labeled with its stage and the stage's new-edge delta),
    * materialized once per fixture and probed by the q417 recall audit
    * and q435's mutual-kNN census (VERDICT r13 item 3: both re-ran the
    * full stage chain per pass — the chain is the per-fixture BUILD,
    * the declared queries are its probes, the q94/q218/q222 pattern). */
  private def nnGraphStore(s: SparkSession, dir: String): DataFrame =
    stampedStore(s, dir, "nn_graph_store", "embeddings")(
      Sim.nnDescentStageFrame(Tables.read(s, dir, "embeddings")))

  /** q444's named-window table (the prefix-doubling chain's output:
    * every full L-window position with its injective content label),
    * materialized once per fixture; q446's cut transform consumes it
    * (VERDICT r13 item 3's discipline applied to the new family —
    * q444 stays the from-scratch declaration). */
  private def exactSubstrNamedStore(s: SparkSession, dir: String): DataFrame =
    stampedStore(s, dir, "exact_substr_named_store_l6", "documents")(
      Dedup.exactSubstrNamed(Tables.read(s, dir, "documents"), "doc_id", "text",
        windowL = 6))

  /** q132's lossless exact-Jaccard pair table, materialized ONCE per
    * fixture and reused by every consumer (q218's sweep, q222's source
    * matrix) — the similarity join dominates those queries' cost, and
    * a pipeline never re-joins the corpus per report. q132 itself stays
    * the from-scratch declaration. */
  private def exactPairStore(s: SparkSession, dir: String): DataFrame =
    stampedStore(s, dir, "exact_pair_store", "documents")(
      Dedup.prefixFilterJoin(Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 3, tauNum = 1, tauDen = 2))

  /** Shared truth for q139 (batch-built posting index) and q216 (the
    * streaming-maintained one): the conjunctive probe's exact result,
    * recomputed from the raw documents table. */
  private val postingProbeOracle: String =
    """WITH tok AS (SELECT doc_id, t AS tok FROM
      |  (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |   FROM documents)),
      |p AS (SELECT doc_id, tok, count(*) AS tf FROM tok
      |  WHERE tok IN ('spark', 'join') GROUP BY 1, 2),
      |c AS (SELECT doc_id, count(DISTINCT tok) AS nt,
      |  CAST(sum(tf) AS BIGINT) AS score FROM p GROUP BY doc_id)
      |SELECT doc_id, score FROM c WHERE nt = 2
      |ORDER BY score DESC, doc_id""".stripMargin

  /** DuckDB twin of [[Sim.silhouette]]: the same v/n/c CTEs as the IVF
    * assignment, one csim ranking per vector, a/b from positions 1 and
    * 2, means through the DECIMAL VARCHAR-round-trip route. The bare
    * 1.0 literals are CAST to DOUBLE (DuckDB parses them as DECIMAL —
    * the q176 gotcha). */
  private val silhouetteOracle: String = {
    def dmean(e: String) =
      s"CAST(CAST(SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)"
    s"""WITH ${ivfAssignCte(16)},
       |rk AS (SELECT vec_id, cid, csim,
       |  row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, cid ASC) AS r
       |  FROM (SELECT n.vec_id, c.cid,
       |    ${dotSql("n.v", "c.cv")} / (n.norm * c.cn) AS csim
       |    FROM n CROSS JOIN c)),
       |o AS (SELECT vec_id, cid, CAST(1.0 AS DOUBLE) - csim AS a
       |  FROM rk WHERE r = 1),
       |x AS (SELECT vec_id, CAST(1.0 AS DOUBLE) - csim AS b
       |  FROM rk WHERE r = 2),
       |j AS (SELECT o.cid, a, b,
       |  CASE WHEN greatest(a, b) > 0
       |    THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
       |  FROM o JOIN x USING (vec_id))
       |SELECT cid, count(*) AS n, ${femitSql(s"""${dmean("a")}""")} AS mean_a,
       |  ${femitSql(s"""${dmean("b")}""")} AS mean_b,
       |  ${femitSql(s"""${dmean("s")}""")} AS mean_sil
       |FROM j GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** DuckDB twin of [[TextAnalysis.zipfSlope]]: same top-K total order,
    * same ln on exact integers, same DECIMAL-route OLS reductions, same
    * fixed-order closing arithmetic. */
  private val zipfOracle: String = {
    def ds(e: String) =
      s"CAST(CAST(SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    s"""WITH tf AS (SELECT tok, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> '' GROUP BY tok
       |  ORDER BY cnt DESC, tok ASC LIMIT 1000),
       |xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC)
       |    AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM tf),
       |a AS (SELECT count(*) AS k, ${ds("x")} AS sx, ${ds("y")} AS sy,
       |  ${ds("x * y")} AS sxy, ${ds("x * x")} AS sxx, ${ds("y * y")} AS syy
       |  FROM xy)
       |SELECT k,
       |  ${femitSql("(k * sxy - sx * sy) / (k * sxx - sx * sx)")} AS slope,
       |  ${femitSql("(sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k")}
       |    AS intercept,
       |  ${femitSql("(k * sxy - sx * sy) * (k * sxy - sx * sy) / ((k * sxx - sx * sx) * (k * syy - sy * sy))")} AS r2
       |FROM a""".stripMargin
  }

  /** DuckDB twin of [[Curation.bpeEncode]]: q174's merge-replay CTE
    * chain with the word identity carried through every round, the
    * final symbol counts joined back onto the per-language word
    * stream. */
  private def bpeEncodeOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      val fold = s"""list_reduce(
         |    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
         |    (acc, x) -> CASE WHEN acc[-1] = b.ma AND x[1] = b.mb
         |      THEN list_append(array_slice(acc, 1, len(acc) - 1), b.ma || b.mb)
         |      ELSE list_concat(acc, x) END)""".stripMargin
      s""",
         |p$r AS (SELECT string_split(pr, ' ')[1] AS ma,
         |  string_split(pr, ' ')[2] AS mb, sum(cnt) AS wcnt
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |    i -> syms[i] || ' ' || syms[i + 1])) AS pr FROM $prev)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT ma, mb FROM p$r
         |  ORDER BY wcnt DESC, ma ASC, mb ASC LIMIT 1),
         |w$r AS (SELECT w, cnt, $fold AS syms FROM $prev CROSS JOIN b$r b)""".stripMargin
    }.mkString
    s"""WITH wc AS (SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |w0 AS (SELECT w, cnt, string_split(w, '') AS syms FROM wc)$steps,
       |wl AS (SELECT w, len(syms) AS ntok, length(w) AS nch FROM w$rounds),
       |words AS (SELECT doc_id, lang, w FROM (
       |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |    FROM documents) WHERE w <> '')
       |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(nch) AS BIGINT) AS n_chars,
       |  ${graft.rel.Queries.femitSql(
            "CAST(sum(nch) AS DOUBLE) / CAST(sum(ntok) AS DOUBLE)")}
       |    AS chars_per_token
       |FROM words JOIN wl USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** DuckDB twin of [[Sim.kmeansRefine]] at any iteration count: the
    * iterated Lloyd chain unrolled as CTEs. Per iteration — per-(cid,
    * dim) means through the same DECIMAL(38,12) VARCHAR-round-trip
    * accumulation as rel.Queries.dsum (bit-identical sums in any order),
    * centroid arrays rebuilt dim-ordered, the next assignment's cosine
    * through the same sequential fold as the Spark side. Every
    * intermediate is therefore bit-identical across engines, so even the
    * data-dependent argmax re-assignments agree exactly. */
  private def kmeansRefineOracle(nlist: Int, iters: Int): String = {
    val mean = "CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)"
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "asg" else s"asg${i - 1}"
      val reassign =
        if (i == iters) "" // final output needs only the means
        else s""",
           |k$i AS (SELECT cid, list(c ORDER BY dim) AS cv FROM m$i GROUP BY cid),
           |t$i AS (SELECT cid, cv,
           |  sqrt(${foldSum.format("list_transform(cv, x -> x * x)")}) AS cn FROM k$i),
           |asg$i AS (SELECT vec_id, v, norm, cid FROM (
           |    SELECT n.vec_id, n.v, n.norm, t.cid,
           |      row_number() OVER (PARTITION BY n.vec_id
           |        ORDER BY ${dotSql("n.v", "t.cv")} / (n.norm * t.cn) DESC, t.cid ASC) AS r
           |    FROM n CROSS JOIN t$i t) WHERE r = 1)""".stripMargin
      s""",
         |m$i AS (SELECT cid, dim, $mean AS c
         |  FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS dim FROM $prev) e$i
         |  GROUP BY cid, dim)$reassign""".stripMargin
    }.mkString
    s"""WITH ${ivfAssignCte(nlist)}$steps
       |SELECT cid, CAST(dim AS BIGINT) AS dim, c
       |FROM m$iters ORDER BY cid, dim""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q18_minhash_neardup" -> minhashOracle,
    "q316_minhash_accuracy" -> minhashAccuracyOracle,
    // q316's CTE chain with the b-bit conditional counts on the same
    // 3-key bucket join, and the (P - 2^-b)/(1 - 2^-b) correction.
    "q433_bbit_minhash" -> {
      def est(m: String, b: Int): String = {
        val c = 1.0 / (1L << b)
        s"(CAST($m AS DOUBLE) / uni - $c) / ${1.0 - c}"
      }
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
         |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
         |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         |hx AS (SELECT doc_id, ${fnvSql("s")} AS h
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM f) u),
         |bm AS (SELECT doc_id, h % 64 AS bucket, min(h) AS mh
         |  FROM hx GROUP BY doc_id, bucket),
         |sg AS (SELECT doc_id, bucket // 4 AS band,
         |    string_agg(bucket || ':' || mh, '|' ORDER BY bucket) AS sig
         |  FROM bm GROUP BY doc_id, band),
         |bk AS (SELECT doc_id, band, ${fnvSql("sig")} AS bkey FROM sg),
         |sz AS (SELECT band, bkey FROM bk GROUP BY band, bkey
         |  HAVING count(*) > 1 AND count(*) <= 1000),
         |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bk a
         |  JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  JOIN sz ON sz.band = a.band AND sz.bkey = a.bkey),
         |m AS (SELECT c.d1, c.d2, count(*) AS ob,
         |    CAST(sum(CASE WHEN b1.mh = b2.mh THEN 1 ELSE 0 END) AS BIGINT) AS mfull,
         |    CAST(sum(CASE WHEN b1.mh % 2 = b2.mh % 2 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         |    CAST(sum(CASE WHEN b1.mh % 4 = b2.mh % 4 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
         |    CAST(sum(CASE WHEN b1.mh % 16 = b2.mh % 16 THEN 1 ELSE 0 END) AS BIGINT) AS m4
         |  FROM c
         |  JOIN bm b1 ON b1.doc_id = c.d1
         |  JOIN bm b2 ON b2.doc_id = c.d2 AND b2.bucket = b1.bucket
         |  GROUP BY c.d1, c.d2),
         |nbc AS (SELECT doc_id, count(*) AS nb FROM bm GROUP BY doc_id),
         |j AS (SELECT d1, d2,
         |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) AS inter,
         |    CAST(len(fa.sh) + len(fb.sh) AS DOUBLE) AS total
         |  FROM c JOIN f fa ON fa.doc_id = c.d1 JOIN f fb ON fb.doc_id = c.d2),
         |w AS (SELECT m.*, inter / (total - inter) AS jac,
         |    CAST(n1.nb + n2.nb - m.ob AS DOUBLE) AS uni
         |  FROM m
         |  JOIN nbc n1 ON n1.doc_id = m.d1
         |  JOIN nbc n2 ON n2.doc_id = m.d2
         |  JOIN j ON j.d1 = m.d1 AND j.d2 = m.d2)
         |SELECT d1, d2, ${femitSql("jac")} AS exact_jaccard,
         |  ${femitSql("CAST(mfull AS DOUBLE) / uni")} AS est_full,
         |  ${femitSql(est("m1", 1))} AS est_b1,
         |  ${femitSql(est("m2", 2))} AS est_b2,
         |  ${femitSql(est("m4", 4))} AS est_b4,
         |  ${femitSql("abs(CAST(mfull AS DOUBLE) / uni - jac)")} AS err_full,
         |  ${femitSql(s"abs(${est("m4", 4)} - jac)")} AS err_b4
         |FROM w ORDER BY d1, d2""".stripMargin
    },
    "q65_dedup_components" -> componentsOracle,
    // q65's closure wrapped in a two-level count; the size-1 row is
    // corpus total minus docs holding any component label.
    "q276_dup_cluster_sizes" ->
      s"""WITH comp AS (SELECT * FROM ($componentsOracle) c0),
         |sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
         |hist AS (SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs FROM sizes GROUP BY 1),
         |tot AS (SELECT count(*) AS td FROM documents),
         |ncomp AS (SELECT count(*) AS dc FROM comp)
         |SELECT cluster_size, n_clusters, n_docs FROM hist
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), td - dc, td - dc FROM tot CROSS JOIN ncomp
         |ORDER BY cluster_size""".stripMargin,
    // q65's oracle verbatim: incremental ≡ from-scratch, one truth.
    "q141_incremental_cc" -> componentsOracle,
    // q65's closure + q97's window: survivor per near-dup cluster.
    "q103_component_keep_best" ->
      s"""WITH comp AS (SELECT * FROM ($componentsOracle) x),
         |m AS (SELECT doc_id, component, doc_id % 7 AS trust FROM comp),
         |r AS (SELECT doc_id, component, trust,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY trust DESC, doc_id ASC) AS rn FROM m)
         |SELECT component, count(*) AS n_members,
         |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
         |  CAST(max(CASE WHEN rn = 1 THEN trust END) AS BIGINT) AS survivor_trust
         |FROM r GROUP BY component ORDER BY component""".stripMargin,
    "q75_incremental_dedup" -> incrementalOracle,
    // gen0∪gen1 recomputed from scratch IS what the merged store must
    // equal; gen2 is the probe batch.
    "q100_store_update" ->
      incrementalOracleFor("doc_id % 3 IN (0, 1)", "doc_id % 3 = 2"),
    "q76_bm25" -> bm25Oracle(1.2, 0.75),
    // Exact regime: tracker >= vocab, so the sketch equals the plain
    // frequency table.
    "q99_approx_topk" ->
      """SELECT t AS tok, count(*) AS cnt FROM
        |  (SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
        |WHERE t <> '' GROUP BY t ORDER BY tok""".stripMargin,
    // Same injected copies, same trust formula, same window tiebreak.
    "q97_keep_best" ->
      """WITH base AS (SELECT doc_id, text, lang FROM documents),
        |copies AS (SELECT doc_id + 10000 AS doc_id, text, lang FROM base WHERE doc_id < 25),
        |allrows AS (SELECT *, doc_id % 7 AS trust FROM (SELECT * FROM base UNION ALL SELECT * FROM copies) u),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY text ORDER BY trust DESC, doc_id ASC) AS rn
        |  FROM allrows)
        |SELECT lang, count(*) AS n_survivors,
        |  CAST(count(CASE WHEN doc_id >= 10000 THEN 1 END) AS BIGINT) AS n_copies_won,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM r WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,
    // Fresh-batch keep set = fresh minus the q75 matched doc ids.
    "q98_incremental_keep" ->
      s"""WITH dups AS (SELECT DISTINCT doc_id FROM ($incrementalOracle) x)
         |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id
         |FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dups)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // Naive Bayes twin: identical split / smoothing / DECIMAL(38,12)
    // lattice for every ln() term; argmax over the rounded score with
    // the class-name tiebreak (the top-K rule).
    "q291_naive_bayes" ->
      s"""WITH tok AS (SELECT doc_id, lang, t AS tok FROM
        |    (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents) u
        |  WHERE t <> ''),
        |train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
        |test AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
        |pri AS (SELECT lang AS cls, count(*) AS n_cls FROM documents
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |nt AS (SELECT count(*) AS n_train FROM documents WHERE doc_id % 2 = 0),
        |tc AS (SELECT lang AS cls, tok, count(*) AS cnt FROM train GROUP BY 1, 2),
        |ct AS (SELECT cls, sum(cnt) AS tot FROM tc GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM train),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |grid AS (SELECT ct.cls, vocab.tok,
        |    CAST(CAST(ln((COALESCE(tc.cnt, 0) + 1.0) / (ct.tot + vs.v)) AS VARCHAR)
        |      AS DECIMAL(38,12)) AS logp
        |  FROM vocab CROSS JOIN ct
        |  LEFT JOIN tc ON tc.cls = ct.cls AND tc.tok = vocab.tok
        |  CROSS JOIN vs),
        |pl AS (SELECT cls,
        |    CAST(CAST(ln(CAST(n_cls AS DOUBLE) / n_train) AS VARCHAR)
        |      AS DECIMAL(38,12)) AS pdec
        |  FROM pri CROSS JOIN nt),
        |sc AS (SELECT test.doc_id, test.lang, grid.cls, SUM(grid.logp) AS sdec
        |  FROM test JOIN grid ON test.tok = grid.tok
        |  GROUP BY test.doc_id, test.lang, grid.cls),
        |sc2 AS (SELECT doc_id, lang, sc.cls,
        |    ${femitSql("CAST(CAST((sdec + pdec) AS VARCHAR) AS DOUBLE)")} AS score
        |  FROM sc JOIN pl ON sc.cls = pl.cls),
        |win AS (SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn FROM sc2)
        |SELECT lang, cls AS pred, count(*) AS n_docs,
        |  ${femitSql("CAST(CAST(SUM(CAST(CAST(score AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)")} AS avg_score
        |FROM win WHERE rn = 1 GROUP BY lang, cls ORDER BY lang, pred""".stripMargin,
    // Normalized-dedup twin: same decorated union, same two-stage
    // regex canonicalization, same min-id survivor rule. DuckDB
    // regexp_replace needs the 'g' flag for replace-all (the q45
    // lesson).
    "q303_normalized_dedup" ->
      """WITH base AS (SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang, '  ' || upper(text) || '!!!  '
        |  FROM documents WHERE doc_id % 2 = 0),
        |keyed AS (SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM base),
        |groups AS (SELECT norm, min(doc_id) AS keep, count(*) AS n_copies
        |  FROM keyed GROUP BY norm)
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_copies - 1) AS BIGINT) AS n_dups_removed
        |FROM keyed JOIN groups ON keyed.doc_id = groups.keep
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // Neighborhood twin: the same directed bigram edge set, the
    // reachability recursion unrolled to the same 3 rounds — all
    // integer counts.
    "q301_neighborhood" ->
      s"""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |p0 AS (SELECT unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
        |e AS (SELECT DISTINCT ts[i+1] AS src, ts[i+2] AS dst FROM p0
        |  WHERE ts[i+1] <> ts[i+2]),
        |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT n AS u, n AS v FROM nodes),
        |r1 AS (SELECT u, v FROM r0 UNION
        |  SELECT r0.u, e.dst AS v FROM r0 JOIN e ON r0.v = e.src),
        |r2 AS (SELECT u, v FROM r1 UNION
        |  SELECT r1.u, e.dst AS v FROM r1 JOIN e ON r1.v = e.src),
        |r3 AS (SELECT u, v FROM r2 UNION
        |  SELECT r2.u, e.dst AS v FROM r2 JOIN e ON r2.v = e.src),
        |nn AS (SELECT count(*) AS n_nodes FROM nodes),
        |curve AS (
        |  SELECT 0 AS h, count(*) AS n_pairs FROM r0 UNION ALL
        |  SELECT 1, count(*) FROM r1 UNION ALL
        |  SELECT 2, count(*) FROM r2 UNION ALL
        |  SELECT 3, count(*) FROM r3)
        |SELECT CAST(h AS BIGINT) AS h, n_pairs, n_nodes,
        |  ${femitSql("CAST(n_pairs AS DOUBLE) / n_nodes")} AS avg_ball
        |FROM curve CROSS JOIN nn ORDER BY h""".stripMargin,
    // Containment twin: same distinct shingles, same df cap, same
    // reduced-space sizes, threshold on the rounded score.
    "q299_containment" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(
        |    range(greatest(len(ts) - 2, 0)),
        |    i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS sh FROM s),
        |dfx AS (SELECT sh FROM e GROUP BY sh HAVING count(*) <= 20),
        |p AS (SELECT e.doc_id, e.sh FROM e JOIN dfx ON e.sh = dfx.sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, shared, s1.n AS n1, s2.n AS n2,
        |  ${femitSql("CAST(shared AS DOUBLE) / least(s1.n, s2.n)")} AS containment
        |FROM pr JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
        |WHERE ${femitSql("CAST(shared AS DOUBLE) / least(s1.n, s2.n)")} >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    // Heaps twin: same first-occurrence prefix sums (exact longs),
    // same checkpoint thinning, ln-moments on the q205 fit route.
    "q300_heaps_law" -> {
      def ds(e: String) =
        s"CAST(CAST(SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      s"""WITH tok AS (SELECT doc_id, t AS tok FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
         |  WHERE t <> ''),
         |nt AS (SELECT doc_id, count(*) AS nv FROM
         |    (SELECT tok, min(doc_id) AS doc_id FROM tok GROUP BY tok) f
         |  GROUP BY doc_id),
         |pd AS (SELECT d.doc_id,
         |    CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS ntk,
         |    COALESCE(nt.nv, 0) AS nv
         |  FROM documents d LEFT JOIN nt ON d.doc_id = nt.doc_id),
         |cum AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY doc_id) AS rank,
         |    SUM(ntk) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         |    SUM(nv) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vocab,
         |    count(*) OVER () AS last
         |  FROM pd),
         |cp AS (SELECT CAST(rank AS BIGINT) AS ckpt,
         |    CAST(cum_tokens AS BIGINT) AS cum_tokens, CAST(vocab AS BIGINT) AS vocab
         |  FROM cum WHERE (rank % 50 = 0 OR rank = last)
         |    AND cum_tokens > 0 AND vocab > 0),
         |xy AS (SELECT ckpt, cum_tokens, vocab,
         |    ln(CAST(cum_tokens AS DOUBLE)) AS x,
         |    ln(CAST(vocab AS DOUBLE)) AS y FROM cp),
         |a AS (SELECT count(*) AS k, ${ds("x")} AS sx, ${ds("y")} AS sy,
         |  ${ds("x * y")} AS sxy, ${ds("x * x")} AS sxx FROM xy)
         |SELECT ckpt, cum_tokens, vocab,
         |  ${graft.rel.Queries.femitSql(
              """CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
         |    THEN (k * sxy - sx * sy) / (k * sxx - sx * sx) END""")} AS beta,
         |  ${graft.rel.Queries.femitSql(
              """CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
         |    THEN (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
         |    END""")}
         |    AS ln_k
         |FROM xy CROSS JOIN a ORDER BY ckpt""".stripMargin
    },
    // Kappa twin: q291's per-doc prediction CTEs + q211's heuristic
    // prediction CTE, joined on doc_id; exact counts, two closing
    // divisions recomputed inline (never from rounded po/pe).
    "q309_cohens_kappa" ->
      s"""WITH tok AS (SELECT doc_id, lang, t AS tok FROM
        |    (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents) u
        |  WHERE t <> ''),
        |train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
        |test AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
        |pri AS (SELECT lang AS cls, count(*) AS n_cls FROM documents
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |nt AS (SELECT count(*) AS n_train FROM documents WHERE doc_id % 2 = 0),
        |tc AS (SELECT lang AS cls, tok, count(*) AS cnt FROM train GROUP BY 1, 2),
        |ctot AS (SELECT cls, sum(cnt) AS tot FROM tc GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM train),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |grid AS (SELECT ctot.cls, vocab.tok,
        |    CAST(CAST(ln((COALESCE(tc.cnt, 0) + 1.0) / (ctot.tot + vs.v)) AS VARCHAR)
        |      AS DECIMAL(38,12)) AS logp
        |  FROM vocab CROSS JOIN ctot
        |  LEFT JOIN tc ON tc.cls = ctot.cls AND tc.tok = vocab.tok
        |  CROSS JOIN vs),
        |pl AS (SELECT cls,
        |    CAST(CAST(ln(CAST(n_cls AS DOUBLE) / n_train) AS VARCHAR)
        |      AS DECIMAL(38,12)) AS pdec
        |  FROM pri CROSS JOIN nt),
        |sc AS (SELECT test.doc_id, test.lang, grid.cls, SUM(grid.logp) AS sdec
        |  FROM test JOIN grid ON test.tok = grid.tok
        |  GROUP BY test.doc_id, test.lang, grid.cls),
        |sc2 AS (SELECT doc_id, lang, sc.cls,
        |    ${femitSql("CAST(CAST((sdec + pdec) AS VARCHAR) AS DOUBLE)")} AS score
        |  FROM sc JOIN pl ON sc.cls = pl.cls),
        |win AS (SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn FROM sc2),
        |nb AS (SELECT doc_id, cls AS p_nb FROM win WHERE rn = 1),
        |hq AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id % 2 = 1),
        |hs AS (SELECT doc_id,
        |  CAST(len(list_filter(ts, t -> list_contains(['the','and','of','to','in'], t))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(ts, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(ts, t -> list_contains(['el','la','de','los','que'], t))) AS BIGINT) AS s_es
        |  FROM hq),
        |li AS (SELECT doc_id,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS p_li
        |  FROM hs),
        |j AS (SELECT nb.doc_id, p_nb, p_li FROM nb JOIN li ON nb.doc_id = li.doc_id),
        |tot AS (SELECT count(*) AS n,
        |    CAST(SUM(CASE WHEN p_nb = p_li THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM j),
        |rt AS (SELECT p_nb AS cls, count(*) AS rt FROM j GROUP BY 1),
        |ctt AS (SELECT p_li AS cls, count(*) AS ct FROM j GROUP BY 1),
        |chance AS (SELECT CAST(SUM(COALESCE(rt.rt, 0) * COALESCE(ctt.ct, 0)) AS BIGINT) AS sprod
        |  FROM rt FULL OUTER JOIN ctt ON rt.cls = ctt.cls)
        |SELECT n, agree,
        |  ${femitSql("CAST(agree AS DOUBLE) / n")} AS po,
        |  ${femitSql("CAST(sprod AS DOUBLE) / (n * n)")} AS pe,
        |  ${femitSql(s"""(CAST(agree AS DOUBLE) / n - CAST(sprod AS DOUBLE) / (n * n))
        |    / (1.0 - CAST(sprod AS DOUBLE) / (n * n))""")} AS kappa
        |FROM tot CROSS JOIN chance""".stripMargin,
    // Stump twin: identical prefix-sum candidate sweep, identical
    // double expression tree from exact integer counts, argmin on the
    // rounded impurity with the threshold tiebreak.
    "q292_decision_stump" ->
      s"""WITH pts AS (SELECT n_chars AS x,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |b AS (SELECT x, count(*) AS n, sum(y) AS p FROM pts GROUP BY x),
        |c AS (SELECT x,
        |    sum(n) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln,
        |    sum(p) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp
        |  FROM b),
        |tt AS (SELECT count(*) AS nn, sum(y) AS pp FROM pts),
        |cand AS (SELECT * FROM c CROSS JOIN tt WHERE ln < nn),
        |sc AS (SELECT x AS threshold,
        |    CAST(ln AS DOUBLE) AS lnd, CAST(lp AS DOUBLE) AS lpd,
        |    CAST(nn - ln AS DOUBLE) AS rnd, CAST(pp - lp AS DOUBLE) AS rpd,
        |    CAST(nn AS DOUBLE) AS nnd, CAST(pp AS DOUBLE) AS ppd,
        |    CAST(ln AS BIGINT) AS left_n, CAST(lp AS BIGINT) AS left_pos,
        |    CAST(nn - ln AS BIGINT) AS right_n, CAST(pp - lp AS BIGINT) AS right_pos
        |  FROM cand),
        |g AS (SELECT threshold, left_n, left_pos, right_n, right_pos,
        |    (lnd / nnd) * (1.0 - (lpd / lnd) * (lpd / lnd)
        |      - ((lnd - lpd) / lnd) * ((lnd - lpd) / lnd))
        |    + (rnd / nnd) * (1.0 - (rpd / rnd) * (rpd / rnd)
        |      - ((rnd - rpd) / rnd) * ((rnd - rpd) / rnd)) AS wg,
        |    1.0 - (ppd / nnd) * (ppd / nnd)
        |      - ((nnd - ppd) / nnd) * ((nnd - ppd) / nnd) AS parent
        |  FROM sc)
        |SELECT threshold, ${femitSql("wg")} AS gini, ${femitSql("parent - wg")} AS gain,
        |  left_n, left_pos, right_n, right_pos
        |FROM g ORDER BY gini ASC, threshold ASC LIMIT 1""".stripMargin,
    // Winnowing twin: same FNV k-gram hashes, same window containment
    // explode, same rightmost-min row_number, same dedupe — integer
    // arithmetic end to end.
    "q293_winnowing" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
         |g AS (SELECT doc_id, len(ts) - 2 AS nk, ts FROM t WHERE len(ts) >= 3),
         |kgp AS (SELECT doc_id, nk, ts, unnest(range(nk)) AS j FROM g),
         |kg AS (SELECT doc_id, nk, j,
         |    ${fnvSql("array_to_string(ts[j+1:j+3], ' ')")} AS h FROM kgp),
         |win AS (SELECT doc_id, nk, j, h,
         |    unnest(range(greatest(0, j - 3), least(j, greatest(0, nk - 4)) + 1)) AS i
         |  FROM kg),
         |r AS (SELECT *, row_number() OVER
         |    (PARTITION BY doc_id, i ORDER BY h ASC, j DESC) AS rn FROM win),
         |sel AS (SELECT DISTINCT doc_id, nk, j, h FROM r WHERE rn = 1)
         |SELECT doc_id, CAST(max(nk) AS BIGINT) AS n_kgrams,
         |  count(*) AS n_fps, min(h) AS min_fp,
         |  ${femitSql("CAST(count(*) AS DOUBLE) / max(nk)")} AS density
         |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same features, same weight literals, same evaluation order;
    // round(6) absorbs libm exp drift.
    "q88_linear_score" ->
      s"""WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |f AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(ts, t -> regexp_full_match(t, '^[a-z-_]+$$'))) AS DOUBLE) / len(ts) AS alpha_ratio,
        |  CAST(len(list_filter(ts, t -> list_contains(['the','of','and','to','in','a','is','for','on','with'], t))) AS DOUBLE) / len(ts) AS stop_ratio
        |  FROM t),
        |z AS (SELECT doc_id, n_tokens, alpha_ratio, stop_ratio,
        |  3.0 * alpha_ratio - 2.0 * stop_ratio
        |    + 0.01 * least(CAST(n_tokens AS DOUBLE), 100.0) - 2.0 AS z FROM f)
        |SELECT doc_id, n_tokens, alpha_ratio, stop_ratio,
        |  ${femitSql("1.0 / (1.0 + exp(-z))")} AS score,
        |  ${femitSql("1.0 / (1.0 + exp(-z))")} >= 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,
    // Same blocking, same edit distance. Lossless like the engine:
    // fuzzyJoin spills oversized blocks through the salted join rather
    // than dropping them, so the oracle keeps every >1 block uncapped.
    "q86_fuzzy_join" ->
      """WITH t AS (SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:5], ' ') AS title FROM documents),
        |b AS (SELECT doc_id, title, string_split(title, ' ')[1] AS tok1,
        |  length(title) // 4 AS lb FROM t),
        |sz AS (SELECT tok1, lb FROM b GROUP BY tok1, lb
        |  HAVING count(*) > 1)
        |SELECT a.doc_id AS d1, c.doc_id AS d2,
        |  CAST(levenshtein(a.title, c.title) AS BIGINT) AS dist
        |FROM b a JOIN b c ON a.tok1 = c.tok1 AND a.lb = c.lb AND a.doc_id < c.doc_id
        |JOIN sz ON sz.tok1 = a.tok1 AND sz.lb = a.lb
        |WHERE levenshtein(a.title, c.title) <= 10
        |ORDER BY d1, d2""".stripMargin,
    // The IDEAL global-window SNM: one row_number over (title, id),
    // pairs at rank distance 1..w-1 — the distributed bucketed form
    // must reproduce it pair for pair.
    "q165_sorted_neighborhood" ->
      """WITH t AS (SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:5], ' ') AS title FROM documents),
        |r AS (SELECT doc_id, title,
        |  row_number() OVER (ORDER BY title, doc_id) AS rk FROM t)
        |SELECT least(a.doc_id, b.doc_id) AS d1,
        |  greatest(a.doc_id, b.doc_id) AS d2,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3
        |WHERE levenshtein(a.title, b.title) <= 10
        |ORDER BY d1, d2""".stripMargin,
    "q79_bm25_topk" -> bm25TopKOracle(1.2, 0.75, Bm25QueryTerms, 20),
    // Same bigram counts, same 2×2 contingency table, the xlogx and
    // term chains written in the identical order; ln is the libm
    // parity class and both scores ship round(6).
    "q143_collocations" -> {
      def xlx(x: String) =
        s"CASE WHEN $x > 0 THEN CAST($x AS DOUBLE) * ln(CAST($x AS DOUBLE)) ELSE 0.0 END"
      s"""WITH tk AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
         |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
         |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tk)),
         |cnt AS (SELECT w1, w2, count(*) AS n11 FROM bg GROUP BY w1, w2),
         |l AS (SELECT w1, CAST(sum(n11) AS BIGINT) AS n1dot FROM cnt GROUP BY w1),
         |r AS (SELECT w2, CAST(sum(n11) AS BIGINT) AS ndot2 FROM cnt GROUP BY w2),
         |t AS (SELECT CAST(sum(n11) AS BIGINT) AS nn FROM cnt)
         |SELECT cnt.w1, cnt.w2, n11, n1dot, ndot2,
         |  ${femitSql("ln(CAST(n11 * nn AS DOUBLE)) - ln(CAST(n1dot * ndot2 AS DOUBLE))")} AS pmi,
         |  ${femitSql(s"""2.0 * (${xlx("n11")} + ${xlx("(n1dot - n11)")} + ${xlx("(ndot2 - n11)")}
         |    + ${xlx("(nn - n1dot - ndot2 + n11)")}
         |    - ${xlx("n1dot")} - ${xlx("(nn - n1dot)")}
         |    - ${xlx("ndot2")} - ${xlx("(nn - ndot2)")}
         |    + ${xlx("nn")})""")} AS llr
         |FROM cnt JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
         |WHERE n11 >= 5
         |ORDER BY cnt.w1, cnt.w2""".stripMargin
    },
    // Same top-16 vocab (count DESC, token ASC), same occurrence-level
    // OOV counting.
    "q138_oov_rate" ->
      """WITH tok AS (SELECT doc_id, t AS tok FROM
        |  (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |   FROM documents)),
        |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tok GROUP BY tok
        |  ORDER BY c DESC, tok LIMIT 16)),
        |j AS (SELECT tok.doc_id, v.tok AS vt FROM tok LEFT JOIN v ON tok.tok = v.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(*) FILTER (vt IS NULL) AS BIGINT) AS n_oov,
        |  CAST(count(*) FILTER (vt IS NULL) AS DOUBLE) / count(*) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The conjunctive query recomputed straight from the corpus — the
    // persisted index round trip must change nothing.
    "q139_posting_index" -> postingProbeOracle,
    // q132's brute pair CTE + source lookups; mean Jaccard through the
    // DECIMAL route.
    "q222_crosssource_dups" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
        |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |sc AS (SELECT doc_id, source FROM documents)
        |SELECT least(a.source, b.source) AS source_a,
        |  greatest(a.source, b.source) AS source_b,
        |  count(*) AS n_pairs,
        |  ${femitSql(s"""CAST(CAST(SUM(CAST(CAST(jaccard AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
        |    / count(*)""")} AS mean_jaccard
        |FROM p JOIN sc a ON p.d1 = a.doc_id JOIN sc b ON p.d2 = b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q132's brute-force pair CTE (the prefix join is lossless, so the
    // all-pairs join IS the truth) swept over the same DOUBLE-cast
    // threshold grid.
    "q218_dedup_sweep" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
        |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |th AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
        |  CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.9 AS DOUBLE)])
        |  AS threshold),
        |e AS (SELECT threshold, d1, d2 FROM p CROSS JOIN th
        |  WHERE jaccard >= threshold),
        |np AS (SELECT threshold, count(*) AS n_pairs FROM e GROUP BY 1),
        |nd AS (SELECT threshold, count(*) AS n_docs_touched FROM (
        |    SELECT DISTINCT threshold, doc FROM (
        |      SELECT threshold, unnest([d1, d2]) AS doc FROM e)) GROUP BY 1)
        |SELECT th.threshold, coalesce(n_pairs, 0) AS n_pairs,
        |  coalesce(n_docs_touched, 0) AS n_docs_touched
        |FROM th LEFT JOIN np ON np.threshold = th.threshold
        |LEFT JOIN nd ON nd.threshold = th.threshold
        |ORDER BY th.threshold""".stripMargin,
    // ONE truth with q139: the streaming-maintained index must answer
    // the probe exactly as the batch-built one.
    "q216_stream_index" -> postingProbeOracle,
    "q105_bm25_term_table" -> bm25TopKTermsOracle(1.2, 0.75, Bm25QueryTerms, 20),
    "q104_weighted_score" -> weightedScoreOracle,
    "q80_label_centroids" -> labelCentroidsOracle,
    "q93_crossmodal" ->
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS nrm FROM v),
         |j AS (SELECT d.lang, n.label, n.nrm,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
         |  FROM documents d JOIN n ON d.doc_id = n.vec_id)
         |SELECT lang, label, count(*) AS n_docs,
         |  CAST(CAST(SUM(CAST(CAST(nrm AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_norm,
         |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens
         |FROM j GROUP BY lang, label ORDER BY lang, label""".stripMargin,
    "q19_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, sh_hi, sh_lo FROM sh ORDER BY doc_id""".stripMargin,
    "q54_simhash_neardup" ->
      s"""WITH $simhashCte,
         |b AS (SELECT doc_id, sh_hi, sh_lo, bd.band AS band,
         |    CASE bd.band WHEN 0 THEN sh_lo % 65536 WHEN 1 THEN sh_lo // 65536
         |         WHEN 2 THEN sh_hi % 65536 ELSE sh_hi // 65536 END AS bval
         |  FROM sh CROSS JOIN (SELECT unnest(range(4)) AS band) bd),
         |sz AS (SELECT band, bval FROM b GROUP BY band, bval
         |  HAVING count(*) > 1 AND count(*) <= 100000)
         |SELECT d1, d2, hamming FROM (
         |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
         |    CAST(bit_count(xor(a.sh_hi, b2.sh_hi))
         |       + bit_count(xor(a.sh_lo, b2.sh_lo)) AS BIGINT) AS hamming
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bval = b2.bval
         |    AND a.doc_id < b2.doc_id
         |  JOIN sz ON sz.band = a.band AND sz.bval = a.bval) p
         |WHERE hamming <= 16 ORDER BY d1, d2""".stripMargin,
    "q47_kmeans_refine" -> kmeansRefineOracle(16, 3),
    "q22_lsh_buckets" ->
      s"""WITH ${bandedCte(1, 16, 64)}
         |SELECT bucket, count(*) AS n_vecs FROM bt
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q36_lsh_neardup" -> lshNearDupOracle(0.35),
    // Consensus = the JOIN of the two modality oracles on the 1:1 pair
    // key — each side is the already-proven full recompute.
    "q94_consensus_dedup" ->
      s"""WITH mh AS (SELECT * FROM ($minhashOracle) x),
         |ls AS (SELECT * FROM (${lshNearDupOracle(0.2)}) y)
         |SELECT mh.d1, mh.d2, mh.jaccard, ls.sim
         |FROM mh JOIN ls ON mh.d1 = ls.v1 AND mh.d2 = ls.v2
         |ORDER BY mh.d1, mh.d2""".stripMargin,
    "q37_ann_knn" ->
      s"""WITH ${bandedCte(16, 4, 64)},
         |$normCte,
         |c AS (SELECT DISTINCT q.vec_id AS qid, b.vec_id AS vec_id
         |  FROM bt q JOIN bt b ON q.t = b.t AND q.bucket = b.bucket
         |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
         |j AS (SELECT c.qid, c.vec_id,
         |  ${dotSql("nb.v", "nq.v")} / (nb.norm * nq.norm) AS sim
         |  FROM c JOIN n nq ON nq.vec_id = c.qid JOIN n nb ON nb.vec_id = c.vec_id),
         |r AS (SELECT qid, vec_id, sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, sim FROM r
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "q35_ivf_knn" -> ivfKnnOracle,
    // ONE oracle with q35: probing the persisted index must be
    // bit-identical to rebuilding it (ADVICE r7 shared-val pattern).
    "q106_ivf_persisted" -> ivfKnnOracle,
    // Same probe, but the quantizer was trained on the base generation
    // only — the from-scratch recompute the incremental build+append
    // must equal exactly.
    "q114_ivf_update" -> ivfKnnOracleFor("vec_id % 5 <> 4"),
    // Same 5-gram shingle CTE as minhashOracle (k=5): eval grams
    // (doc_id % 17 = 0) vs the training remainder.
    "q111_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 4, 0)),
        |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])) AS sh FROM t),
        |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 17 = 0),
        |tr AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram FROM s
        |  WHERE doc_id % 17 <> 0)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  count(*) AS n_shared,
        |  CAST(count(*) AS DOUBLE) / n_grams AS overlap
        |FROM tr JOIN ev USING (gram)
        |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin,
    // The identical hash-derived uniform and ln(u)/w key; ln is the
    // q58/q79 libm-parity class, and the key itself ships round(6).
    "q142_weighted_sample" ->
      s"""WITH e AS (SELECT event_type, event_id, value FROM events WHERE value > 0),
         |kx AS (SELECT event_type, event_id, value,
         |  ln(CAST(${fnvSql("(CAST(event_id AS VARCHAR) || ':wsamp')")} + 1 AS DOUBLE)
         |      / 4294967296.0) / value AS skey FROM e),
         |r AS (SELECT event_type, event_id, value, skey,
         |  row_number() OVER (PARTITION BY event_type
         |    ORDER BY skey DESC, event_id) AS rnk FROM kx)
         |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, value,
         |  ${graft.rel.Queries.femitSql("skey")} AS skey
         |FROM r WHERE rnk <= 10 ORDER BY event_type, rnk""".stripMargin,
    // Same 3-gram shingles, same FNV gram hash (collisions merge
    // identically in both engines), same ≥2-distinct-docs rule.
    "q133_repeated_ngrams" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
         |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
         |ex AS (SELECT doc_id, ${fnvSql("g")} AS h
         |  FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
         |dup AS (SELECT h FROM ex GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |pd AS (SELECT doc_id, count(*) AS n_dup FROM ex JOIN dup USING (h) GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_grams,
         |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
         |  CASE WHEN len(s.sh) > 0
         |    THEN CAST(coalesce(pd.n_dup, 0) AS DOUBLE) / len(s.sh)
         |    ELSE 0.0 END AS dup_frac
         |FROM s LEFT JOIN pd ON s.doc_id = pd.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    // The identical weights VALUES table (one truth with
    // Curation.MixtureWeights) + the identical fnv1a32 keep rule.
    "q112_mixture_sample" -> {
      val vals = Curation.MixtureWeights
        .map { case (l, t) => s"('$l', $t)" }.mkString(", ")
      s"""WITH w(lang, keep_lt) AS (VALUES $vals)
         |SELECT doc_id, lang FROM documents JOIN w USING (lang)
         |WHERE ${fnvSql("(CAST(doc_id AS VARCHAR) || ':mix')")} % ${Curation.MixtureDenom} < keep_lt
         |ORDER BY doc_id""".stripMargin
    },
    // q58's shape with bigram/left-context counts; add-one smoothing
    // with the same V; identical ln + DECIMAL route + round(6).
    "q120_bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
         |p0 AS (SELECT doc_id, unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
         |p AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2 FROM p0),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM p GROUP BY w1, w2),
         |lf AS (SELECT w1, count(*) AS cu FROM p GROUP BY w1),
         |vc AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(ts) AS tok FROM t) x)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  ${femitSql("CAST(CAST(SUM(CAST(CAST(ln(CAST(cb + 1 AS DOUBLE) / (cu + v)) AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)")} AS avg_logp
         |FROM p JOIN bi USING (w1, w2) JOIN lf USING (w1) CROSS JOIN vc
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The identical (hash, id) rank per language, k=20.
    "q121_stratum_sample" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  ${fnvSql("(CAST(doc_id AS VARCHAR) || ':strat')")} AS h FROM documents),
         |r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rnk FROM h)
         |SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk FROM r
         |WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin,
    // Truncated ranking (first 16 dims renormalized) left-joined to
    // the full-dimension top-5 — both with the identical fixed-order
    // fold and id tiebreak.
    "q122_matryoshka_knn" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
         |tv AS (SELECT vec_id, v0[1:16] AS v FROM v),
         |tn AS (SELECT vec_id, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM tv),
         |tq AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM tn WHERE vec_id < 10),
         |tj AS (SELECT qid, tn.vec_id,
         |  ${foldSum.format("list_transform(list_zip(tn.v, tq.qv), p -> p[1] * p[2])")}
         |    / (tn.norm * tq.qnorm) AS sim
         |  FROM tn, tq WHERE tn.vec_id <> tq.qid),
         |tr2 AS (SELECT qid, vec_id, sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM tj),
         |fn AS (SELECT vec_id, v0 AS v,
         |  sqrt(${foldSum.format("list_transform(v0, x -> x * x)")}) AS norm FROM v),
         |fq AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM fn WHERE vec_id < 10),
         |fj AS (SELECT qid, fn.vec_id,
         |  ${foldSum.format("list_transform(list_zip(fn.v, fq.qv), p -> p[1] * p[2])")}
         |    / (fn.norm * fq.qnorm) AS sim
         |  FROM fn, fq WHERE fn.vec_id <> fq.qid),
         |fr AS (SELECT qid, vec_id,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM fj),
         |ff AS (SELECT qid, vec_id FROM fr WHERE rnk <= 5)
         |SELECT tr2.qid, CAST(tr2.rnk AS BIGINT) AS rnk, tr2.vec_id, tr2.sim,
         |  (ff.vec_id IS NOT NULL) AS in_full_topk
         |FROM tr2 LEFT JOIN ff ON ff.qid = tr2.qid AND ff.vec_id = tr2.vec_id
         |WHERE tr2.rnk <= 5 ORDER BY tr2.qid, rnk""".stripMargin,
    // The full CMS grid recomputed as 4 portable FNV folds (one per
    // depth row, same seeds as CmsSketch.seed), then the same min-of-
    // cells estimate — sketch content AND approximation error pinned.
    "q117_cms_freq" -> {
      val rows = (0 until 4).map { j =>
        s"SELECT tok, $j AS j, ${fnvSql("tok", graft.functions.CmsSketch.seed(j))} % 256 AS h FROM tok"
      }
      s"""WITH tok AS (SELECT t AS tok FROM
         |  (SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
         |  WHERE t <> ''),
         |th AS (${rows.mkString("\n UNION ALL ")}),
         |cells AS (SELECT j, h, count(*) AS c FROM th GROUP BY j, h),
         |dh AS (SELECT DISTINCT tok, j, h FROM th),
         |ex AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
         |est AS (SELECT dh.tok, min(c.c) AS est_cnt
         |  FROM dh JOIN cells c ON c.j = dh.j AND c.h = dh.h GROUP BY dh.tok)
         |SELECT ex.tok, ex.exact_cnt, est.est_cnt,
         |  est.est_cnt >= ex.exact_cnt AS no_underestimate
         |FROM ex JOIN est USING (tok) ORDER BY tok""".stripMargin
    },
    // The identical kept set by rank over distinct portable hashes,
    // then the same single-division estimate. nd (distinct hashes) vs
    // exact_distinct (distinct uids) differ only under 32-bit hash
    // collision — both engines dedup by HASH for the kept set and by
    // VALUE for the exact count, so even that case stays in lockstep.
    "q123_kmv_distinct" ->
      s"""WITH e AS (SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events),
         |h AS (SELECT DISTINCT event_type, ${fnvSql("uid")} AS h FROM e),
         |r AS (SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk,
         |  count(*) OVER (PARTITION BY event_type) AS nd FROM h),
         |kept AS (SELECT event_type,
         |  count(*) AS n_kept, max(h) AS kth_hash, max(nd) AS nd
         |  FROM r WHERE rnk <= 32 GROUP BY event_type),
         |ex AS (SELECT event_type, count(DISTINCT uid) AS exact_distinct
         |  FROM e GROUP BY event_type)
         |SELECT kept.event_type, n_kept, kth_hash,
         |  CASE WHEN nd < 32 THEN CAST(n_kept AS DOUBLE)
         |       ELSE 31.0 * 4294967296.0 / kth_hash END AS est_distinct,
         |  exact_distinct,
         |  ${femitSql(s"""abs(CASE WHEN nd < 32 THEN CAST(n_kept AS DOUBLE)
         |                 ELSE 31.0 * 4294967296.0 / kth_hash END
         |            - exact_distinct) / exact_distinct""")} AS rel_err
         |FROM kept JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // The same kept sets (rank over distinct portable hashes), the
    // same k-smallest union merge, and the same three estimators —
    // every estimate is integer list math + one IEEE division on
    // identical operands, so no round() is needed outside rel_err.
    "q135_kmv_set_ops" ->
      s"""WITH e AS (SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events),
         |h AS (SELECT DISTINCT event_type, ${fnvSql("uid")} AS h FROM e),
         |r AS (SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk FROM h),
         |sk AS (SELECT event_type, list(h ORDER BY h) AS mins
         |  FROM r WHERE rnk <= 32 GROUP BY event_type),
         |nd AS (SELECT event_type, count(DISTINCT uid) AS nd FROM e GROUP BY event_type),
         |d AS (SELECT DISTINCT event_type, uid FROM e),
         |ex AS (SELECT a.event_type AS et1, b.event_type AS et2,
         |  count(DISTINCT a.uid) AS exact_inter
         |  FROM d a JOIN d b ON a.uid = b.uid AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |p AS (SELECT a.event_type AS et1, b.event_type AS et2, a.mins AS ma,
         |  b.mins AS mb, list_sort(list_distinct(a.mins || b.mins))[1:32] AS mk
         |  FROM sk a JOIN sk b ON a.event_type < b.event_type),
         |e1 AS (SELECT et1, et2, CAST(len(mk) AS BIGINT) AS m, mk[len(mk)] AS kth,
         |  len(list_intersect(list_intersect(mk, ma), mb)) AS ik FROM p),
         |e2 AS (SELECT et1, et2, m,
         |  CASE WHEN m < 32 THEN CAST(m AS DOUBLE)
         |       ELSE 31.0 * 4294967296.0 / kth END AS union_est,
         |  CAST(ik AS DOUBLE) / m AS jacc_est FROM e1),
         |e3 AS (SELECT *, jacc_est * union_est AS inter_est FROM e2)
         |SELECT e3.et1, e3.et2, m, union_est, jacc_est, inter_est,
         |  coalesce(ex.exact_inter, 0) AS exact_inter,
         |  n1.nd + n2.nd - coalesce(ex.exact_inter, 0) AS exact_union,
         |  CASE WHEN coalesce(ex.exact_inter, 0) > 0 THEN
         |    ${femitSql("abs(inter_est - ex.exact_inter) / ex.exact_inter")}
         |  END AS rel_err_inter
         |FROM e3 LEFT JOIN ex ON ex.et1 = e3.et1 AND ex.et2 = e3.et2
         |JOIN nd n1 ON n1.event_type = e3.et1
         |JOIN nd n2 ON n2.event_type = e3.et2
         |ORDER BY e3.et1, e3.et2""".stripMargin,
    // Same integer chunk-count rule and the same inclusive 1-based
    // window slice (DuckDB list[a:b] ≡ Spark slice(ts, a, 32)).
    "q113_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |b AS (SELECT doc_id, ts, len(ts) AS l,
        |  (greatest(len(ts) - 32, 0) + 23) // 24 AS nm1 FROM t),
        |c AS (SELECT doc_id, ts, l, unnest(range(nm1 + 1)) AS chunk_idx FROM b)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(least(32, l - chunk_idx * 24) AS BIGINT) AS n_tokens,
        |  array_to_string(ts[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q108_sq8_knn" -> sq8KnnOracle,
    "q140_pq_knn" -> pqKnnOracle,
    "q164_ivfpq_knn" -> ivfpqKnnOracle,
    "q124_pagerank" -> pageRankOracle,
    "q270_personalized_pagerank" -> pprOracle,
    "q279_pca_power" -> pcaOracle,
    // Same exact token counts, same fixed-order shares/sqrt, the α-
    // normalizer on the dsum route.
    "q283_mixture_temperature" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
        |    AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
        |sh AS (SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS raw_share,
        |  sqrt(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)) AS wraw, tt
        |  FROM per CROSS JOIN tot),
        |z AS (SELECT CAST(CAST(SUM(CAST(CAST(wraw AS VARCHAR) AS DECIMAL(38,12)))
        |  AS VARCHAR) AS DOUBLE) AS z FROM sh)
        |SELECT source, n_docs, n_tokens, ${femitSql("raw_share")} AS raw_share,
        |  ${femitSql("wraw / z")} AS weight,
        |  ${femitSql("(wraw / z) * CAST(tt AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
        |    AS eff_epochs
        |FROM sh CROSS JOIN z ORDER BY source""".stripMargin,
    // Same window enumeration (DuckDB's 1-based inclusive list slice ≡
    // Spark's slice(ts, i+1, k)), same ≥2-distinct-docs test on the
    // exact gram string, same interval-union via lead(), exact integer
    // sums; one final division.
    "q271_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |g AS (SELECT doc_id, lang, i, array_to_string(ts[i+1:i+8], ' ') AS gram
        |  FROM (SELECT doc_id, lang, ts, unnest(range(len(ts) - 7)) AS i
        |        FROM t WHERE len(ts) >= 8)),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |pos AS (SELECT g.doc_id, g.lang, g.i FROM g JOIN d USING (gram)),
        |cov0 AS (SELECT doc_id, lang,
        |  least(8, coalesce(lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 8))
        |    AS covered FROM pos),
        |cov AS (SELECT doc_id, lang, sum(covered) AS covered
        |  FROM cov0 GROUP BY 1, 2),
        |lens AS (SELECT doc_id, lang, len(ts) AS len FROM t)
        |SELECT l.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN coalesce(c.covered, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_dup,
        |  CAST(sum(l.len) AS BIGINT) AS total_tokens,
        |  CAST(sum(coalesce(c.covered, 0)) AS BIGINT) AS dup_tokens,
        |  ${femitSql(s"""CAST(sum(coalesce(c.covered, 0)) AS DOUBLE)
        |    / CAST(sum(l.len) AS DOUBLE)""")} AS dup_fraction
        |FROM lens l LEFT JOIN cov c ON c.doc_id = l.doc_id
        |GROUP BY l.lang ORDER BY l.lang""".stripMargin,
    "q233_hits" -> hitsOracle,
    "q234_link_prediction" -> linkPredOracle,
    "q235_textrank" -> textRankOracle,
    "q251_modularity" -> modularityOracle,
    // Same dim explosion, same dsum moments, same fixed-order
    // variance/z expressions.
    "q265_standardize" -> {
      def dec(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      s"""WITH d AS (SELECT vec_id, CAST(j AS BIGINT) - 1 AS j, CAST(x AS DOUBLE) AS x
         |  FROM (SELECT vec_id, unnest(embedding) AS x,
         |        generate_subscripts(embedding, 1) AS j FROM embeddings)),
         |st AS (SELECT j, count(*) AS n, ${dec("x")} AS sx, ${dec("x * x")} AS sxx
         |  FROM d GROUP BY j),
         |ms AS (SELECT j, n, sx / CAST(n AS DOUBLE) AS mean,
         |  sqrt(sxx / CAST(n AS DOUBLE)
         |    - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))) AS std
         |  FROM st),
         |z AS (SELECT d.j, ms.n, ms.mean, ms.std,
         |  abs(d.x - ms.mean) / ms.std AS az FROM d JOIN ms ON ms.j = d.j)
         |SELECT j, max(n) AS n,
         |  ${graft.rel.Queries.femitSql("max(mean)")} AS mean,
         |  ${graft.rel.Queries.femitSql("max(std)")} AS std,
         |  ${graft.rel.Queries.femitSql("max(az)")} AS max_abs_z,
         |  CAST(sum(CASE WHEN az > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out3
         |FROM z GROUP BY j ORDER BY j""".stripMargin
    },
    // Same distinct shingles, same df cap, same ln(N/df) weights on
    // exact integers, dot and norms on the dsum route.
    "q252_tfidf_cosine" -> {
      def dec(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |s0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(greatest(len(ts) - 2, 0)),
         |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))) AS sh FROM t),
         |dfq AS (SELECT sh, count(*) AS df FROM s0 GROUP BY 1
         |  HAVING count(*) <= 20),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         |w AS (SELECT doc_id, s0.sh, ln(nd / CAST(df AS DOUBLE)) AS idf
         |  FROM s0 JOIN dfq ON dfq.sh = s0.sh CROSS JOIN nn),
         |norms AS (SELECT doc_id, sqrt(${dec("idf * idf")}) AS nrm
         |  FROM w GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  ${dec("a.idf * b.idf")} AS dot
         |  FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, ${femitSql("dot / (n1.nrm * n2.nrm)")} AS cosine
         |FROM dots JOIN norms n1 ON n1.doc_id = dots.d1
         |JOIN norms n2 ON n2.doc_id = dots.d2
         |ORDER BY cosine DESC, d1 ASC, d2 ASC LIMIT 20""".stripMargin
    },
    "q177_label_propagation" -> labelPropOracle,
    // True shortest paths by recursive CTE (UNION dedups the state
    // space to nodes × depths) — certifies the fixed 6 rounds covered
    // the diameter.
    "q145_bfs" ->
      """WITH RECURSIVE tk AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |bgd AS (SELECT ts[i] AS a, ts[i+1] AS b
        |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tk)),
        |e AS (SELECT DISTINCT a, b FROM
        |  (SELECT a, b FROM bgd UNION ALL SELECT b AS a, a AS b FROM bgd)
        |  WHERE a <> b),
        |d AS (SELECT 'spark' AS node, 0 AS dist
        |  UNION
        |  SELECT e.b AS node, d.dist + 1 AS dist
        |  FROM d JOIN e ON e.a = d.node WHERE d.dist < 6)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM d GROUP BY node ORDER BY node""".stripMargin,
    // Orientation-free triangle enumeration (a<b<c lexicographic
    // 3-way join) — must equal the degree-ordered count node by node.
    // Same dedup'd undirected edge set, same integer moment sums, same
    // fixed-order Pearson close.
    "q195_assortativity" ->
      s"""WITH tk AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |bg AS (SELECT DISTINCT least(ts[i], ts[i+1]) AS a, greatest(ts[i], ts[i+1]) AS b
        |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tk)
        |  WHERE ts[i] <> ts[i+1]),
        |deg AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM bg UNION ALL SELECT b AS node FROM bg)
        |  GROUP BY node),
        |de AS (SELECT a, b FROM bg UNION ALL SELECT b AS a, a AS b FROM bg),
        |j AS (SELECT da.deg AS ja, db.deg AS jb FROM de
        |  JOIN deg da ON da.node = de.a JOIN deg db ON db.node = de.b),
        |g AS (SELECT count(*) AS m, sum(ja) AS sj, sum(ja * jb) AS sjk,
        |  sum(ja * ja) AS sj2 FROM j),
        |nd AS (SELECT m,
        |  CAST(sjk AS DOUBLE) / CAST(m AS DOUBLE)
        |    - (CAST(sj AS DOUBLE) / CAST(m AS DOUBLE))
        |      * (CAST(sj AS DOUBLE) / CAST(m AS DOUBLE)) AS num,
        |  CAST(sj2 AS DOUBLE) / CAST(m AS DOUBLE)
        |    - (CAST(sj AS DOUBLE) / CAST(m AS DOUBLE))
        |      * (CAST(sj AS DOUBLE) / CAST(m AS DOUBLE)) AS den FROM g)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes, m // 2 AS m_edges,
        |  ${femitSql("CASE WHEN den <> 0.0 THEN num / den END")} AS r
        |FROM nd""".stripMargin,
    "q137_triangles" ->
      """WITH tk AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |bg AS (SELECT DISTINCT least(ts[i], ts[i+1]) AS a, greatest(ts[i], ts[i+1]) AS b
        |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tk)
        |  WHERE ts[i] <> ts[i+1]),
        |deg AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM bg UNION ALL SELECT b AS node FROM bg)
        |  GROUP BY node),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM bg e1 JOIN bg e2 ON e1.b = e2.a
        |  JOIN bg e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, count(*) AS tri FROM
        |  (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
        |SELECT deg.node, deg.deg, coalesce(pn.tri, 0) AS tri,
        |  CASE WHEN deg.deg >= 2
        |    THEN (CAST(coalesce(pn.tri, 0) AS DOUBLE) * 2.0) / (deg.deg * (deg.deg - 1))
        |    ELSE 0.0 END AS clustering
        |FROM deg LEFT JOIN pn USING (node)
        |ORDER BY deg.node""".stripMargin,
    "q46_cluster_dedup" -> clusterDedupOracle,
    "q173_cluster_labels" -> clusterLabelsOracle,
    "q174_bpe_train" -> bpeOracle(4),
    "q204_silhouette" -> silhouetteOracle,
    // Same per-(label, half, dim) DECIMAL means, same dim-ordered
    // reassembly, same sequential-fold cosine.
    "q223_embedding_drift" -> {
      val dmean =
        "CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)"
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT label, vec_id % 2 = 0 AS even, unnest(v) AS x,
         |  unnest(range(len(v))) AS dim FROM v),
         |m AS (SELECT label, even, dim, $dmean AS c FROM e GROUP BY 1, 2, 3),
         |k AS (SELECT label, even, list(c ORDER BY dim) AS vv
         |  FROM m GROUP BY 1, 2),
         |a AS (SELECT label, vv AS va FROM k WHERE even),
         |b AS (SELECT label, vv AS vb FROM k WHERE NOT even)
         |SELECT label,
         |  ${femitSql(s"""${dotSql("va", "vb")}
         |    / (sqrt(${foldSum.format("list_transform(va, x -> x * x)")})
         |      * sqrt(${foldSum.format("list_transform(vb, x -> x * x)")}))""")}
         |    AS half_cosine
         |FROM a JOIN b USING (label) ORDER BY label""".stripMargin
    },
    "q205_zipf_slope" -> zipfOracle,
    "q206_bpe_encode" -> bpeEncodeOracle(4),
    // q25's prediction CTE joined back to the label; counts exact,
    // recall a single division.
    "q211_langid_confusion" ->
      s"""WITH q AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(ts, t -> list_contains(['the','and','of','to','in'], t))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(ts, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(ts, t -> list_contains(['el','la','de','los','que'], t))) AS BIGINT) AS s_es
        |  FROM q),
        |p AS (SELECT lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang
        |  FROM s),
        |g AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT lang, pred_lang, n,
        |  ${femitSql(s"""CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)""")} AS recall
        |FROM g ORDER BY lang, pred_lang""".stripMargin,
    "q175_mmr_diversify" -> mmrOracle(10, 20, 5, 0.7),
    "q176_rrf_fusion" -> rrfOracle(10, 20, 10, 60),
    "q39_shard_pack" ->
      s"""WITH t AS (SELECT doc_id,
        |  ${Pack.estTokensSql("text")} AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "q70_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, text,
        |  ${Pack.estTokensSql("text")} AS n_tokens FROM documents),
        |c AS (SELECT doc_id, text, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
        |a AS (SELECT doc_id, text, n_tokens,
        |  CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard FROM c)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |  string_agg(text, '<|eos|>' ORDER BY doc_id) AS packed
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    // Same 16-bit-split Knuth hash as q40; buckets [0,80) train,
    // [80,90) val, [90,100) test.
    "q69_split" ->
      """WITH h AS (SELECT doc_id, lang,
        |  ((doc_id % 4294967296) % 65536 * 2654435761
        |     + ((doc_id % 4294967296) // 65536 * 2654435761) % 65536 * 65536)
        |    % 4294967296 % 100 AS b FROM documents)
        |SELECT lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_id
        |FROM h GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    // Same 16-bit-split Knuth hash as Pack.stratifiedSample: every
    // partial product fits BIGINT, so DuckDB computes the identical h32
    // without HUGEINT promotion or overflow for any doc_id >= 0.
    "q40_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 4294967296) % 65536 * 2654435761
        |     + ((doc_id % 4294967296) // 65536 * 2654435761) % 65536 * 65536)
        |    % 4294967296 % 100 <
        |  CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 30 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    "q41_corpus_clean" ->
      s"""WITH q AS (SELECT doc_id, text,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |r AS (SELECT doc_id, text, len(ts) AS n_tokens,
        |  len(list_filter(ts, t -> regexp_full_match(t, '^[a-z-_]+$$'))) AS n_alpha,
        |  len(list_filter(ts, t -> list_contains(['the','of','and','to','in','a','is','for','on','with'], t))) AS n_stop
        |  FROM q),
        |k AS (SELECT doc_id, text FROM r WHERE
        |  0.5 * (CAST(n_alpha AS DOUBLE) / n_tokens)
        |    + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
        |    + 0.2 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) >= 0.9),
        |d AS (SELECT min(doc_id) AS doc_id, text FROM k GROUP BY text),
        |t AS (SELECT doc_id,
        |  ${Pack.estTokensSql("text")} AS n_tokens FROM d),
        |c AS (SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "q30_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts, true AS approx_ok
        |FROM lineitem""".stripMargin,
    // string_agg skips NULLs — the dropped lines — exactly like Spark's
    // collect_list over the conditional struct.
    "q64_line_dedup" ->
      """WITH i AS (SELECT doc_id,
        |    'subscribe to our newsletter. ' || text || '. all rights reserved' AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(t, '. ')) AS line,
        |    unnest(range(len(string_split(t, '. ')))) AS pos FROM i),
        |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN df > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  string_agg(CASE WHEN df <= 10 THEN line END, '. ' ORDER BY pos) AS clean
        |FROM l JOIN f USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DuckDB twin of the real-PPM path: the same fnv-derived dims the
    // encoder writes into the header (and the parser reads back out),
    // byte_len = exact PPM size (19 fixed header bytes + the three
    // ASCII dim fields + w·H·3 raster bytes), features = pixel row 0's
    // 24-bit contract (identical to the r5 stub formula).
    "q38_multimodal_features" ->
      s"""WITH d AS (SELECT doc_id, text,
         |    8 + ${fnvSql("(text || ':w')")} % 24 AS w,
         |    8 + ${fnvSql("(text || ':h')")} % 24 AS h,
         |    1 + ${fnvSql("(text || ':f')")} % 8 AS f
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(19 + strlen(CAST(f AS VARCHAR)) + strlen(CAST(w AS VARCHAR))
         |    + strlen(CAST(h * f AS VARCHAR)) + w * h * f * 3 AS BIGINT)
         |    AS byte_len,
         |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(f AS INTEGER) AS n_frames,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(8),
         |      j -> ${fnvSql("(text || ':' || CAST(j AS VARCHAR))")} % 16777216)),
         |    (a, b) -> a + b) AS feature_sig
         |FROM d ORDER BY doc_id""".stripMargin,
    "q61_frame_sample" ->
      s"""WITH n AS (SELECT doc_id, text,
         |    1 + ${fnvSql("text")} % 32 AS n_frames FROM documents),
         |u AS (SELECT doc_id, text, n_frames,
         |    unnest(range(0, n_frames, 4)) AS frame_idx FROM n)
         |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
         |  CAST(frame_idx AS BIGINT) AS frame_idx,
         |  ${fnvSql("(text || ':' || CAST(frame_idx AS VARCHAR))")} AS frame_sig
         |FROM u ORDER BY doc_id, frame_idx""".stripMargin,
    "q58_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, t AS tok FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
         |  WHERE t <> ''),
         |f AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |tot AS (SELECT sum(cnt) AS total FROM f)
         |SELECT doc_id, count(*) AS n_tokens,
         |  ${femitSql("CAST(CAST(SUM(CAST(CAST(ln(CAST(cnt AS DOUBLE) / total) AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)")} AS avg_logp
         |FROM tok JOIN f USING (tok) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q44_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |b AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |    1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS dup_tok_ratio,
        |    CASE WHEN len(ts) >= 2 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(range(len(ts) - 1),
        |        i -> ts[i+1] || ' ' || ts[i+2]))) AS DOUBLE) / (len(ts) - 1)
        |    ELSE 0.0 END AS dup_2gram_ratio
        |  FROM t),
        |e AS (SELECT doc_id, unnest(ts) AS tok FROM t),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM e GROUP BY doc_id, tok),
        |m AS (SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY doc_id)
        |SELECT b.doc_id, n_tokens, dup_tok_ratio, dup_2gram_ratio,
        |  CAST(top_cnt AS DOUBLE) / n_tokens AS top_tok_ratio
        |FROM b JOIN m ON b.doc_id = m.doc_id ORDER BY b.doc_id""".stripMargin,
    // DuckDB regexp_replace is first-match-only without the 'g' flag.
    "q45_scrub" ->
      """WITH i AS (SELECT doc_id,
        |    text || ' contact-' || doc_id || '@mail.example.com see http://ex.com/p/'
        |      || doc_id || ' tel ' || (doc_id + 9000000) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(t, '[0-9]{7,}')) AS BIGINT) AS n_longnums
        |FROM i ORDER BY doc_id""".stripMargin,
    "q32_cosine_knn_native" -> cosineKnnOracle,
    "q33_embed_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300),
         |n AS (SELECT vec_id, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v)
         |SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  ${foldSum.format("list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])")}
         |    / (a.norm * b.norm) AS sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${foldSum.format("list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])")}
         |    / (a.norm * b.norm) >= 0.35
         |ORDER BY v1, v2""".stripMargin,
    "q20_ngram_jaccard" ->
      s"""$shingleCte
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |  CAST(len(a.sh) AS BIGINT) AS n1, CAST(len(b.sh) AS BIGINT) AS n2,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) > 0
         |ORDER BY d1, d2""".stripMargin,
    "q132_prefix_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
        |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
        |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "q21_cosine_knn" -> cosineKnnOracle,
    "q228_filtered_knn" -> filteredKnnOracle,
    // q21's oracle with the label inequality in the candidate filter
    // and the label columns carried through.
    // Same candidate set, same ln-discount DCG on the DECIMAL route,
    // same Scala-precomputed ideal-DCG literals (see Sim.retrievalMetrics).
    "q231_ndcg" -> {
      def dec(x: String) =
        s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      val l = Sim.idcgLiterals(5)
      val idcgCase = "CASE least(5, rt.n_rel) WHEN 0 THEN CAST(0.0 AS DOUBLE) " +
        (1 to 5).map(i => s"WHEN $i THEN CAST(${l(i)} AS DOUBLE)").mkString(" ") +
        " END"
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
         |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, norm AS qnorm
         |  FROM n WHERE vec_id < 10),
         |j AS (SELECT qid, n.vec_id,
         |  CASE WHEN n.label = q.qlabel THEN 1 ELSE 0 END AS rel,
         |  ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
         |    / (n.norm * q.qnorm) AS sim
         |  FROM n, q WHERE n.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid
         |  ORDER BY sim DESC, vec_id ASC) AS rnk FROM j),
         |rt AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel
         |  FROM j GROUP BY qid),
         |ag AS (SELECT qid,
         |  sum(CASE WHEN rnk <= 5 THEN rel ELSE 0 END) AS hits_k,
         |  min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         |  ${dec("CASE WHEN rnk <= 5 THEN CAST(rel AS DOUBLE) / ln(CAST(rnk + 1 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END")} AS dcg
         |  FROM r WHERE rnk <= 10 GROUP BY qid)
         |SELECT rt.qid, rt.n_rel,
         |  ${graft.rel.Queries.femitSql(
              "CAST(hits_k AS DOUBLE) / CAST(5.0 AS DOUBLE)")} AS p_at_k,
         |  ${graft.rel.Queries.femitSql(
              "coalesce(CAST(1.0 AS DOUBLE) / CAST(first_rel AS DOUBLE), CAST(0.0 AS DOUBLE))")} AS mrr,
         |  ${graft.rel.Queries.femitSql(
              s"CASE WHEN $idcgCase > CAST(0.0 AS DOUBLE) THEN dcg / ($idcgCase) ELSE CAST(0.0 AS DOUBLE) END")} AS ndcg
         |FROM rt JOIN ag ON ag.qid = rt.qid ORDER BY rt.qid""".stripMargin
    },
    // q231's candidate/ranking CTEs with graded relevance, the same
    // dyadic stop probabilities, and the identical left-associated
    // cascade chain over the rank-pivoted row.
    "q412_err" -> {
      val chain = (1 to 5).map { i =>
        val stop = s"(r$i / $i.0)"
        if (i == 1) stop
        else (1 until i).map(j => s"(1.0 - r$j)").mkString(" * ") +
          s" * $stop"
      }.mkString("\n         |    + ")
      val pivots = (1 to 5).map(i =>
        s"coalesce(max(CASE WHEN rnk = $i THEN rr END), 0.0) AS r$i")
        .mkString(",\n         |  ")
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
         |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, norm AS qnorm
         |  FROM n WHERE vec_id < 10),
         |j AS (SELECT qid, n.vec_id,
         |  CASE WHEN n.label = q.qlabel THEN 2
         |    WHEN abs(n.label - q.qlabel) = 1 THEN 1 ELSE 0 END AS g,
         |  ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
         |    / (n.norm * q.qnorm) AS sim
         |  FROM n, q WHERE n.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, g, row_number() OVER (PARTITION BY qid
         |  ORDER BY sim DESC, vec_id ASC) AS rnk FROM j),
         |t AS (SELECT qid, g,
         |  CASE WHEN g = 2 THEN 0.75 WHEN g = 1 THEN 0.25 ELSE 0.0 END AS rr,
         |  rnk FROM r WHERE rnk <= 5),
         |p AS (SELECT qid,
         |  CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_g2,
         |  CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_g1,
         |  $pivots
         |  FROM t GROUP BY qid)
         |SELECT qid, n_g2, n_g1,
         |  ${graft.rel.Queries.femitSql(s"$chain")} AS err
         |FROM p ORDER BY qid""".stripMargin
    },
    // Same IVF seed (first-16 centroids, TWO nearest cells per node
    // with low-id ties), same capped co-neighbor expansion, same
    // max-merge and re-top-k, same bounded exact audit.
    "q417_nn_descent" -> {
      def auditSql(r: Int, stage: String, delta: String) =
        s"""SELECT '$stage' AS stage, n_audit,
           |    (SELECT count(*) FROM g$r) AS n_edges,
           |    ($delta) AS delta_edges,
           |    ${femitSql("sr / CAST(n_audit AS DOUBLE)")} AS avg_recall
           |  FROM (SELECT count(*) AS n_audit,
           |    ${dsumSql("CAST(COALESCE(h.h, 0) AS DOUBLE) / 5.0")} AS sr
           |    FROM q LEFT JOIN (SELECT g.u, count(*) AS h FROM g$r g
           |      JOIN ex ON ex.u = g.u AND ex.w = g.w WHERE g.u < 50
           |      GROUP BY g.u) h ON h.u = q.u)""".stripMargin
      s"""WITH $nnGraphCtes,
         |q AS (SELECT vec_id AS u, v AS qv, norm AS qn FROM n
         |  WHERE vec_id < 50),
         |ex0 AS (SELECT q.u, n.vec_id AS w,
         |  ${cosL("n.v", "q.qv", "n.norm", "q.qn")} AS sim
         |  FROM n CROSS JOIN q WHERE n.vec_id <> q.u),
         |ex1 AS (SELECT u, w, row_number() OVER (PARTITION BY u
         |  ORDER BY sim DESC, w ASC) AS rnk FROM ex0),
         |ex AS (SELECT u, w FROM ex1 WHERE rnk <= 5)
         |SELECT stage, n_audit, n_edges, delta_edges, avg_recall FROM (
         |  ${auditSql(0, "r00_seed", "SELECT count(*) FROM g0")}
         |  UNION ALL ${auditSql(1, "r01", "SELECT delta FROM d1")}
         |  UNION ALL ${auditSql(2, "r02", "SELECT delta FROM d2")}
         |  UNION ALL ${auditSql(3, "r03", "SELECT delta FROM d3")})
         |ORDER BY stage""".stripMargin
    },
    // The q417 graph chain to its converged g3, reciprocity as an
    // EXISTS of the reversed edge, recursive-CTE components (the q65
    // min-reach closure), and the same integer census + isolated row.
    // `mu`/`e` are MATERIALIZED: a recursive iteration must read the
    // frozen edge table, not re-run the 3-round graph chain per step.
    "q435_mutual_knn" ->
      s"""WITH RECURSIVE $nnGraphCtes,
         |mu AS MATERIALIZED (SELECT a.u AS d1, a.w AS d2 FROM g3 a
         |  WHERE a.u < a.w AND EXISTS (SELECT 1 FROM g3 b
         |    WHERE b.u = a.w AND b.w = a.u)),
         |ne AS (SELECT count(*) AS n_mutual_edges FROM mu),
         |e AS MATERIALIZED (SELECT d1 AS nd, d2 AS m FROM mu
         |  UNION ALL SELECT d2, d1 FROM mu),
         |r AS (SELECT nd, nd AS reach FROM (SELECT DISTINCT nd FROM e) b
         |  UNION
         |  SELECT e.nd, r.reach FROM e JOIN r ON e.m = r.nd),
         |comp AS (SELECT nd, min(reach) AS component FROM r GROUP BY nd),
         |szs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
         |hist AS (SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs FROM szs GROUP BY 1),
         |tot AS (SELECT count(*) AS nt FROM embeddings),
         |cl AS (SELECT count(*) AS nc FROM comp)
         |SELECT cluster_size, n_clusters, n_docs, n_mutual_edges FROM (
         |  SELECT cluster_size, n_clusters, n_docs FROM hist
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), nt - nc, nt - nc
         |  FROM tot CROSS JOIN cl) h CROSS JOIN ne
         |ORDER BY cluster_size, n_clusters""".stripMargin,
    // Same full + 4-dim-truncated rankers, same (qid + round) parity
    // coin, same generated pick-per-step draft, same click credit.
    "q418_team_draft" -> {
      def cosE(xv: String, yv: String, xn: String, yn: String) =
        foldSum.format(s"list_transform(list_zip($xv, $yv), p -> p[1] * p[2])") +
          s" / ($xn * $yn)"
      val steps = (1 to 10).map { i =>
        val r = (i + 1) / 2
        val prev = if (i == 1) "base" else s"s${i - 1}"
        val aCond =
          if (i % 2 == 1) s"(qid + $r) % 2 = 0" else s"(qid + $r) % 2 <> 0"
        val (pa, pb) =
          if (i == 1) ("aa[1]", "ab[1]")
          else {
            val prior = (1 until i).map(j => s"p$j").mkString("[", ", ", "]")
            (s"list_filter(aa, x -> NOT coalesce(" +
              s"list_contains($prior, x), false))[1]",
              s"list_filter(ab, x -> NOT coalesce(" +
                s"list_contains($prior, x), false))[1]")
          }
        s""",
           |s$i AS (SELECT *,
           |  CASE WHEN $aCond THEN 0 ELSE 1 END AS t$i,
           |  CASE WHEN $aCond THEN $pa ELSE $pb END AS p$i
           |  FROM $prev)""".stripMargin
      }.mkString
      val unions = (1 to 10).map(i =>
        s"SELECT qid, CAST($i AS BIGINT) AS step, p$i AS vec_id," +
          s" CAST(t$i AS BIGINT) AS team FROM s10")
        .mkString("\n  UNION ALL ")
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm
         |  FROM v),
         |nt AS (SELECT vec_id, v, sqrt(${foldSum.format(
        "list_transform(v, x -> x * x)")}) AS norm FROM
         |  (SELECT vec_id, CAST(embedding[1:4] AS DOUBLE[]) AS v
         |   FROM embeddings)),
         |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
         |  norm AS qnorm FROM n WHERE vec_id < 10),
         |qt AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM nt
         |  WHERE vec_id < 10),
         |rel AS (SELECT q.qid, n.vec_id,
         |  CASE WHEN n.label = q.qlabel THEN 1 ELSE 0 END AS rel
         |  FROM n, q WHERE n.vec_id <> q.qid),
         |ja AS (SELECT q.qid, n.vec_id,
         |  ${cosE("n.v", "q.qv", "n.norm", "q.qnorm")} AS sim
         |  FROM n, q WHERE n.vec_id <> q.qid),
         |ra AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |  ORDER BY sim DESC, vec_id ASC) AS rnk FROM ja),
         |pa AS (SELECT qid, list(vec_id ORDER BY rnk ASC) AS aa FROM ra
         |  WHERE rnk <= 20 GROUP BY qid),
         |jb AS (SELECT qt.qid, nt.vec_id,
         |  ${cosE("nt.v", "qt.qv", "nt.norm", "qt.qnorm")} AS sim
         |  FROM nt, qt WHERE nt.vec_id <> qt.qid),
         |rb AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |  ORDER BY sim DESC, vec_id ASC) AS rnk FROM jb),
         |pb AS (SELECT qid, list(vec_id ORDER BY rnk ASC) AS ab FROM rb
         |  WHERE rnk <= 20 GROUP BY qid),
         |base AS (SELECT pa.qid, aa, ab FROM pa JOIN pb USING (qid))$steps,
         |pk AS ($unions),
         |ag AS (SELECT pk.qid,
         |  CAST(sum(CASE WHEN team = 0 THEN coalesce(rel, 0)
         |    ELSE 0 END) AS BIGINT) AS clicks_a,
         |  CAST(sum(CASE WHEN team = 1 THEN coalesce(rel, 0)
         |    ELSE 0 END) AS BIGINT) AS clicks_b
         |  FROM pk LEFT JOIN rel ON rel.qid = pk.qid
         |    AND rel.vec_id = pk.vec_id
         |  GROUP BY pk.qid)
         |SELECT qid, clicks_a, clicks_b,
         |  CAST(CASE WHEN clicks_a > clicks_b THEN 1
         |    WHEN clicks_a < clicks_b THEN -1 ELSE 0 END AS BIGINT) AS pref
         |FROM ag ORDER BY qid""".stripMargin
    },
    // Same three integer criteria (uniqueness ratio quantized to
    // 1/512), same value-grain midranks, same tie terms.
    "q419_kendall_w" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |per AS (SELECT doc_id, n_chars AS c1,
         |  len(ts) AS c2,
         |  CAST(floor(CAST(len(list_distinct(ts)) AS DOUBLE)
         |    / CAST(len(ts) AS DOUBLE) * 512.0) AS BIGINT) AS c3 FROM t),
         |v1 AS (SELECT c1 AS v, count(*) AS t FROM per GROUP BY 1),
         |r1 AS (SELECT v AS c1, CAST(coalesce(sum(t) OVER (ORDER BY v ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS r_c1 FROM v1),
         |tt1 AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tc1 FROM v1),
         |v2 AS (SELECT c2 AS v, count(*) AS t FROM per GROUP BY 1),
         |r2 AS (SELECT v AS c2, CAST(coalesce(sum(t) OVER (ORDER BY v ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS r_c2 FROM v2),
         |tt2 AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tc2 FROM v2),
         |v3 AS (SELECT c3 AS v, count(*) AS t FROM per GROUP BY 1),
         |r3 AS (SELECT v AS c3, CAST(coalesce(sum(t) OVER (ORDER BY v ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS r_c3 FROM v3),
         |tt3 AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tc3 FROM v3),
         |j AS (SELECT per.doc_id, r_c1 + r_c2 + r_c3 AS rsum FROM per
         |  JOIN r1 USING (c1) JOIN r2 USING (c2) JOIN r3 USING (c3)),
         |nn AS (SELECT count(*) AS n FROM j),
         |ss AS (SELECT ${dsumSql("d * d")} AS s FROM (SELECT rsum
         |  - 3.0 * (CAST(n AS DOUBLE) + 1.0) / 2.0 AS d
         |  FROM j CROSS JOIN nn))
         |SELECT n AS n_docs, tc1 + tc2 + tc3 AS tie_sum,
         |  ${femitSql("s")} AS s_stat,
         |  ${femitSql("12.0 * s / (9.0 * (CAST(n AS DOUBLE)" +
        " * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))" +
        " - 3.0 * CAST(tc1 + tc2 + tc3 AS DOUBLE))")} AS w,
         |  ${femitSql("3.0 * (CAST(n AS DOUBLE) - 1.0) * (12.0 * s" +
        " / (9.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
        " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))" +
        " - 3.0 * CAST(tc1 + tc2 + tc3 AS DOUBLE)))")} AS chi2
         |FROM ss CROSS JOIN nn CROSS JOIN tt1 CROSS JOIN tt2
         |CROSS JOIN tt3""".stripMargin,
    // Same q231 ranking, same ln-discount exposure, same label-grain
    // shares and disparity chain.
    "q421_exposure_fairness" ->
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm
         |  FROM v),
         |corp AS (SELECT label, count(*) AS n_corpus FROM n GROUP BY 1),
         |nt AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS n_total FROM corp),
         |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n
         |  WHERE vec_id < 10),
         |j AS (SELECT q.qid, n.vec_id, n.label,
         |  ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
         |    / (n.norm * q.qnorm) AS sim
         |  FROM n, q WHERE n.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, label, row_number() OVER (
         |  PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j),
         |ex AS (SELECT label,
         |  ${dsumSql("1.0 / ln(CAST(rnk AS DOUBLE) + 1.0)")} AS exposure
         |  FROM r WHERE rnk <= 10 GROUP BY label),
         |et AS (SELECT ${dsumSql("exposure")} AS e_total FROM ex)
         |SELECT corp.label, n_corpus,
         |  ${femitSql("CAST(n_corpus AS DOUBLE) / CAST(n_total AS DOUBLE)")}
         |    AS share_corpus,
         |  ${femitSql("coalesce(exposure, 0.0)")} AS exposure,
         |  ${femitSql("coalesce(exposure, 0.0) / e_total")}
         |    AS share_exposure,
         |  ${femitSql("(coalesce(exposure, 0.0) / e_total)" +
        " / (CAST(n_corpus AS DOUBLE) / CAST(n_total AS DOUBLE))")}
         |    AS disparity
         |FROM corp LEFT JOIN ex USING (label) CROSS JOIN nt CROSS JOIN et
         |ORDER BY corp.label""".stripMargin,
    // Same q231 ranking and binary relevance; exact power-of-two
    // geometric weights, residual p^k as a shared literal.
    "q424_rbp" ->
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm
         |  FROM v),
         |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
         |  norm AS qnorm FROM n WHERE vec_id < 10),
         |j AS (SELECT q.qid, n.vec_id,
         |  CASE WHEN n.label = q.qlabel THEN 1 ELSE 0 END AS rel,
         |  ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
         |    / (n.norm * q.qnorm) AS sim
         |  FROM n, q WHERE n.vec_id <> q.qid),
         |r AS (SELECT qid, rel, row_number() OVER (PARTITION BY qid
         |  ORDER BY sim DESC, vec_id ASC) AS rnk FROM j),
         |p AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel_topk,
         |  ${dsumSql("CAST(rel AS DOUBLE)" +
        " * pow(0.5, CAST(rnk AS DOUBLE) - 1.0)")} AS gs
         |  FROM r WHERE rnk <= 10 GROUP BY qid)
         |SELECT qid, n_rel_topk, ${femitSql("gs * 0.5")} AS rbp,
         |  ${femitSql("0.0009765625")} AS residual
         |FROM p ORDER BY qid""".stripMargin,
    // Same three deterministic raters, integer coincidence matrix
    // scaled by (m-1), two final ratios.
    "q413_krippendorff" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
         |  string_split(text, ' ') AS toks FROM documents),
         |rated AS (SELECT doc_id,
         |  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS c1,
         |  CASE WHEN len(toks) >= 50 THEN 1 ELSE 0 END AS c2,
         |  CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) >= 0.4375 THEN 1 ELSE 0 END AS c3
         |  FROM d),
         |lng AS (SELECT doc_id, c1 AS cat FROM rated
         |  UNION ALL SELECT doc_id, c2 FROM rated
         |  UNION ALL SELECT doc_id, c3 FROM rated),
         |ucc AS (SELECT doc_id, cat, count(*) AS nuc FROM lng
         |  GROUP BY 1, 2),
         |coin AS (SELECT a.cat AS c, b.cat AS k2,
         |  CAST(sum(a.nuc * (b.nuc - CASE WHEN a.cat = b.cat
         |    THEN 1 ELSE 0 END)) AS BIGINT) AS s
         |  FROM ucc a JOIN ucc b USING (doc_id) GROUP BY 1, 2),
         |nu AS (SELECT count(DISTINCT doc_id) AS n_units FROM ucc),
         |mg AS (SELECT c, CAST(sum(s) AS BIGINT) // 2 AS nc FROM coin
         |  GROUP BY c),
         |agr AS (SELECT count(*) AS nua,
         |  CAST(sum(CASE WHEN c1 = c2 AND c2 = c3 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS unanimous FROM rated),
         |dd AS (SELECT CAST(sum(s) AS BIGINT) AS sd FROM coin
         |  WHERE c <> k2),
         |ee AS (SELECT CAST(sum(a.nc * b.nk) AS BIGINT) AS se FROM mg a
         |  CROSS JOIN (SELECT c AS km, nc AS nk FROM mg) b
         |  WHERE a.c <> b.km)
         |SELECT n_units, 3 * n_units AS n_ratings,
         |  ${graft.rel.Queries.femitSql("CAST(sd AS DOUBLE) / 2.0" +
        " / CAST(3 * n_units AS DOUBLE)")} AS d_o,
         |  ${graft.rel.Queries.femitSql("CAST(se AS DOUBLE)" +
        " / (CAST(3 * n_units AS DOUBLE) * CAST(3 * n_units - 1 AS DOUBLE))")}
         |    AS d_e,
         |  ${graft.rel.Queries.femitSql(
        "1.0 - (CAST(sd AS DOUBLE) / 2.0 / CAST(3 * n_units AS DOUBLE))" +
          " / (CAST(se AS DOUBLE) / (CAST(3 * n_units AS DOUBLE)" +
          " * CAST(3 * n_units - 1 AS DOUBLE)))")} AS alpha,
         |  ${graft.rel.Queries.femitSql(
        "CAST(unanimous AS DOUBLE) / CAST(nua AS DOUBLE)")} AS pct_unanimous
         |FROM dd CROSS JOIN ee CROSS JOIN agr CROSS JOIN nu""".stripMargin,
    // Same cell keys (identical double division + floor), same 3×3
    // probe, same cap, same fixed-order distance math.
    "q232_grid_radius_join" ->
      s"""WITH p AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
         |  CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
         |c AS (SELECT vec_id, x, y,
         |  CAST(floor(x / CAST($GridR AS DOUBLE)) AS BIGINT) AS cx,
         |  CAST(floor(y / CAST($GridR AS DOUBLE)) AS BIGINT) AS cy FROM p),
         |keep AS (SELECT cx, cy FROM
         |  (SELECT cx, cy, count(*) AS n FROM c GROUP BY 1, 2) WHERE n <= 4096),
         |b AS (SELECT c.vec_id, c.x, c.y, c.cx, c.cy FROM c
         |  JOIN keep ON keep.cx = c.cx AND keep.cy = c.cy),
         |pr AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
         |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
         |  FROM c a
         |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dx) dxs
         |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) dys
         |  JOIN b ON b.cx = a.cx + dxs.dx AND b.cy = a.cy + dys.dy
         |    AND a.vec_id < b.vec_id)
         |SELECT ida AS a, idb AS b, ${femitSql("sqrt(d2)")} AS dist FROM pr
         |WHERE d2 <= CAST(${GridR * GridR} AS DOUBLE) ORDER BY a, b""".stripMargin,
    // Same cells, same core rule, same packed lexicographic cell ids;
    // components via the recursive-CTE min-label closure (q65's
    // pattern), so the cluster partition must agree exactly.
    "q250_grid_density" ->
      s"""WITH RECURSIVE p AS (SELECT CAST(embedding[1] AS DOUBLE) AS x,
         |  CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
         |cells AS (SELECT CAST(floor(x / CAST($GridR AS DOUBLE)) AS BIGINT) AS cx,
         |  CAST(floor(y / CAST($GridR AS DOUBLE)) AS BIGINT) AS cy,
         |  count(*) AS n FROM p GROUP BY 1, 2),
         |core AS (SELECT cx, cy, n,
         |  cx * 4294967296 + cy + 2147483648 AS cid FROM cells WHERE n >= 3),
         |e AS (SELECT a.cid AS nn, b.cid AS mm FROM core a JOIN core b
         |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.cid <> b.cid),
         |r AS (SELECT cid AS nn, cid AS reach FROM core
         |  UNION
         |  SELECT e.nn, r.reach FROM e JOIN r ON e.mm = r.nn),
         |comp AS (SELECT nn, min(reach) AS component FROM r GROUP BY nn),
         |j AS (SELECT core.n, comp.component FROM core
         |  JOIN comp ON comp.nn = core.cid),
         |g AS (SELECT component, count(*) AS n_cells,
         |  CAST(sum(n) AS BIGINT) AS n_points FROM j GROUP BY 1)
         |SELECT c2.cx AS rep_cx, c2.cy AS rep_cy, g.n_cells, g.n_points
         |FROM g JOIN core c2 ON c2.cid = g.component
         |ORDER BY rep_cx, rep_cy""".stripMargin,
    "q196_hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
         |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, norm AS qnorm
         |  FROM n WHERE vec_id < 10),
         |j AS (SELECT qid, qlabel, n.vec_id, n.label,
         |  ${foldSum.format("list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])")}
         |    / (n.norm * q.qnorm) AS sim
         |  FROM n, q WHERE n.label <> q.qlabel),
         |r AS (SELECT qid, qlabel, vec_id, label, sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM j)
         |SELECT qid, qlabel, CAST(rnk AS BIGINT) AS rnk, vec_id, label, sim FROM r
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "q23_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^ a-zA-Z0-9]', 0)) AS BIGINT) AS n_tokens_re,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q24_quality_score" ->
      """WITH q AS (SELECT doc_id, length(text) AS n_chars,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |r AS (SELECT doc_id, n_chars, len(ts) AS n_tokens,
        |  len(list_filter(ts, t -> regexp_full_match(t, '^[a-z-_]+$'))) AS n_alpha,
        |  len(list_filter(ts, t -> list_contains(['the','of','and','to','in','a','is','for','on','with'], t))) AS n_stop
        |  FROM q)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_chars AS DOUBLE) / n_tokens AS avg_tok_len,
        |  CAST(n_alpha AS DOUBLE) / n_tokens AS alpha_ratio,
        |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |  0.5 * (CAST(n_alpha AS DOUBLE) / n_tokens)
        |    + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
        |    + 0.2 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "q25_lang_id" ->
      """WITH q AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(ts, t -> list_contains(['the','and','of','to','in'], t))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(ts, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(ts, t -> list_contains(['el','la','de','los','que'], t))) AS BIGINT) AS s_es
        |  FROM q)
        |SELECT doc_id, s_en, s_de, s_es,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q26_lang_top_terms" ->
      """WITH tok AS (SELECT lang, tok FROM
        |  (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''),
        |f AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY lang, tok),
        |r AS (SELECT lang, tok, cnt,
        |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rn FROM f)
        |SELECT lang, tok, cnt, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5
        |ORDER BY lang, rn""".stripMargin,
    "q27_tfidf" ->
      s"""WITH tok AS (SELECT lang, tok FROM
        |  (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''),
        |tf AS (SELECT lang, tok, count(*) AS tf FROM tok GROUP BY lang, tok),
        |df AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT lang, tok FROM tok) GROUP BY tok),
        |n AS (SELECT count(DISTINCT lang) AS n_langs FROM documents)
        |SELECT lang, tf.tok AS tok, tf, df,
        |  ${femitSql("tf * ln(CAST(n_langs AS DOUBLE) / df)")} AS tfidf
        |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |ORDER BY lang, tok""".stripMargin,
    "q28_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
        |      t -> CAST(ascii(t) * 31 + length(t) AS BIGINT))),
        |  (a, b) -> (a * 1000003 + b) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
        |  CAST(length(text) AS BIGINT) AS char_len, lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same RE2∩Java pretokenizer regex, same non-empty whitespace
    // words, ratios femit'd.
    "q321_pretokenize" ->
      s"""WITH d AS (SELECT lang,
         |  len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS np,
         |  length(text) AS nc,
         |  len(list_filter(string_split(text, ' '), t -> t <> '')) AS nw
         |  FROM documents),
         |g AS (SELECT lang, count(*) AS n_docs,
         |  CAST(sum(np) AS BIGINT) AS n_pretokens,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nw) AS BIGINT) AS n_words FROM d GROUP BY lang)
         |SELECT lang, n_docs, n_pretokens, n_chars, n_words,
         |  ${femitSql("CAST(n_chars AS DOUBLE) / n_pretokens")} AS chars_per_pretoken,
         |  ${femitSql("CAST(n_pretokens AS DOUBLE) / n_words")} AS pretokens_per_word
         |FROM g ORDER BY lang""".stripMargin,
    // Same first-16 centroids, same argmax-cosine assignment (kept
    // WITH its csim), same within-cluster pair predicate and
    // keep-low-centroid-sim drop rule; every cosine is the shared
    // sequential fold, so the inequalities bind identical doubles.
    "q322_semdedup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(${foldSum.format("list_transform(v, x -> x * x)")}) AS norm FROM v),
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n
         |  ORDER BY vec_id LIMIT 16),
         |asg AS (SELECT vec_id, v, norm, cid, csim FROM (
         |    SELECT n.vec_id, n.v, n.norm, c.cid,
         |      ${dotSql("n.v", "c.cv")} / (n.norm * c.cn) AS csim,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${dotSql("n.v", "c.cv")} / (n.norm * c.cn) DESC, c.cid ASC) AS r
         |    FROM n CROSS JOIN c) WHERE r = 1),
         |drp AS (SELECT DISTINCT a.vec_id FROM asg a JOIN asg b
         |  ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |  AND ${dotSql("a.v", "b.v")} / (a.norm * b.norm) >= 0.30
         |  AND (a.csim > b.csim OR (a.csim = b.csim AND a.vec_id > b.vec_id)))
         |SELECT cid, count(*) AS n_members,
         |  CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
         |  min(CASE WHEN d.vec_id IS NULL THEN asg.vec_id END) AS min_kept_id
         |FROM asg LEFT JOIN drp d ON asg.vec_id = d.vec_id
         |GROUP BY cid ORDER BY cid""".stripMargin,
    // Same capped calibration pairs, same 20-cell histogram, same
    // S-curve algebra; masses on the decimal lattice, rank by the
    // rounded total + bands.
    "q323_lsh_planner" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
         |  FROM documents WHERE doc_id < 200),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
         |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
         |f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         |p AS (SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id),
         |h AS (SELECT CAST(least(floor(j * 20.0), 19.0) AS BIGINT) AS cell,
         |  count(*) AS w FROM p GROUP BY 1),
         |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM h),
         |grid AS (SELECT * FROM (VALUES (128, 1), (64, 2), (32, 4), (16, 8),
         |  (8, 16), (4, 32), (2, 64), (1, 128)) g(bands, rows_per_band)),
         |m AS (SELECT bands, rows_per_band,
         |    CAST(w AS DOUBLE) / tw AS wf,
         |    (CAST(cell AS DOUBLE) + 0.5) / 20.0 AS mid,
         |    1.0 - pow(1.0 - pow((CAST(cell AS DOUBLE) + 0.5) / 20.0,
         |      CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)) AS pc
         |  FROM h CROSS JOIN grid CROSS JOIN tw),
         |mass AS (SELECT bands, rows_per_band,
         |    ${dsumSql("wf * (CASE WHEN mid < 0.5 THEN pc ELSE 0.0 END)")} AS fp,
         |    ${dsumSql("wf * (CASE WHEN mid >= 0.5 THEN 1.0 - pc ELSE 0.0 END)")} AS fn_
         |  FROM m GROUP BY 1, 2),
         |r AS (SELECT CAST(bands AS BIGINT) AS bands,
         |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |  ${femitSql("fp")} AS fp_mass, ${femitSql("fn_")} AS fn_mass,
         |  ${femitSql("fp + fn_")} AS total_err FROM mass)
         |SELECT bands, rows_per_band, fp_mass, fn_mass, total_err,
         |  CAST(row_number() OVER (ORDER BY total_err ASC, bands DESC) AS BIGINT) AS rnk
         |FROM r ORDER BY rnk""".stripMargin,
    // Same keyed FNV-uniform, same inverse Laplace CDF, same ε ladder.
    "q324_dp_counts" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
         |e AS (SELECT eps_id, CAST(eps AS DOUBLE) AS eps
         |  FROM (VALUES (1, 0.1), (2, 1.0)) t(eps_id, eps)),
         |k AS (SELECT lang, source, eps_id, eps, n,
         |  lang || '|' || source || '|' || CAST(eps_id AS VARCHAR) AS dpkey
         |  FROM g CROSS JOIN e),
         |u AS (SELECT lang, source, eps_id, eps, n,
         |  (CAST(${fnvSql("dpkey")} % 1048576 AS DOUBLE) + 0.5) / 1048576.0 AS u
         |  FROM k),
         |z AS (SELECT lang, source, eps_id, n,
         |  (CAST(-1.0 AS DOUBLE) / eps) * sign(u - 0.5)
         |    * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
         |  FROM u)
         |SELECT lang, source, eps_id, n,
         |  ${femitSql("n + noise")} AS noisy_count,
         |  ${femitSql("abs(noise)")} AS abs_noise
         |FROM z ORDER BY lang, source, eps_id""".stripMargin,
    // Same hashed buckets, same add-1 bucket LMs, same decimal-lattice
    // weight sum; top-20 by the rounded weight + doc_id.
    "q325_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, lang, tok FROM
         |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |   FROM documents) u0 WHERE tok <> ''),
         |tb AS (SELECT doc_id, lang, ${fnvSql("tok")} % 256 AS b FROM tok),
         |lm AS (SELECT b,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |  CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cs
         |  FROM tb GROUP BY b),
         |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
         |  CAST(sum(cs) AS BIGINT) AS ts FROM lm),
         |d AS (SELECT b,
         |  ln(CAST(ct + 1.0 AS DOUBLE) / CAST(tt + 256.0 AS DOUBLE))
         |    - ln(CAST(cs + 1.0 AS DOUBLE) / CAST(ts + 256.0 AS DOUBLE)) AS dlt
         |  FROM lm CROSS JOIN tt),
         |pdb AS (SELECT doc_id, lang, b, count(*) AS c FROM tb GROUP BY 1, 2, 3),
         |sc AS (SELECT doc_id, lang,
         |  ${femitSql(dsumSql("c * dlt"))} AS log_weight
         |  FROM pdb JOIN d USING (b) GROUP BY doc_id, lang)
         |SELECT CAST(row_number() OVER
         |    (ORDER BY log_weight DESC, doc_id ASC) AS BIGINT) AS rnk,
         |  doc_id, lang, log_weight
         |FROM sc ORDER BY log_weight DESC, doc_id ASC LIMIT 20""".stripMargin,
    // Same group table, same decimal-lattice moments, same MoM algebra
    // in the same evaluation order, same degeneracy guard.
    "q327_beta_binomial" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n,
         |  CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS k
         |  FROM documents GROUP BY 1, 2),
         |gr AS (SELECT lang, source, n, k, CAST(k AS DOUBLE) / n AS p FROM g),
         |mom AS (SELECT count(*) AS ng, ${dsumSql("p")} AS sp,
         |  ${dsumSql("p * p")} AS spp FROM gr),
         |mv AS (SELECT ng, sp / ng AS m,
         |  (spp - sp * sp / ng) / (ng - 1.0) AS v FROM mom),
         |j AS (SELECT gr.*, mv.ng, mv.m, mv.v,
         |  mv.ng > 1 AND mv.v > 0.0 AND mv.v < mv.m * (1.0 - mv.m) AS ok,
         |  mv.m * (1.0 - mv.m) / mv.v - 1.0 AS common
         |  FROM gr CROSS JOIN mv)
         |SELECT lang, source, n, k,
         |  ${femitSql("p")} AS raw_rate,
         |  ${femitSql("CASE WHEN ok THEN (k + m * common) / (n + m * common + (1.0 - m) * common) END")} AS shrunk_rate,
         |  ${femitSql("CASE WHEN ok THEN m * common END")} AS alpha,
         |  ${femitSql("CASE WHEN ok THEN (1.0 - m) * common END")} AS beta
         |FROM j ORDER BY lang, source""".stripMargin,
    // Same assignment fold, same per-cluster prototypicality ranking,
    // same dyadic ceil(n*0.25) cut through DOUBLE on both engines.
    "q328_prototype_prune" ->
      s"""WITH ${ivfAssignCte(16)},
         |a00 AS (SELECT n.vec_id, c.cid,
         |  ${dotSql("n.v", "c.cv")} / (n.norm * c.cn) AS csim
         |  FROM n CROSS JOIN c),
         |a0 AS (SELECT vec_id, cid, csim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cid ASC) AS r FROM a00) WHERE r = 1),
         |rk AS (SELECT vec_id, cid, csim,
         |  row_number() OVER (PARTITION BY cid
         |    ORDER BY csim DESC, vec_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY cid) AS n_c FROM a0),
         |p AS (SELECT *, rn <= ceil(CAST(n_c AS DOUBLE) * CAST(0.25 AS DOUBLE)) AS pruned
         |  FROM rk)
         |SELECT cid, count(*) AS n_members,
         |  CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
         |  ${femitSql("min(CASE WHEN pruned THEN csim END)")} AS cut_sim,
         |  min(CASE WHEN NOT pruned
         |    AND rn = ceil(CAST(n_c AS DOUBLE) * CAST(0.25 AS DOUBLE)) + 1
         |    THEN vec_id END) AS top_survivor_id
         |FROM p GROUP BY cid ORDER BY cid""".stripMargin,
    // Same FNV hash lattice, same per-source bottom-64, same
    // union-merge, same (k-1)*2^32/h_k estimator.
    "q329_kmv_sketch" ->
      s"""WITH tk AS (SELECT DISTINCT source, s AS tok FROM
         |  (SELECT source, unnest(list_distinct(list_transform(
         |    range(greatest(len(ts) - 2, 0)),
         |    i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))) AS s
         |  FROM (SELECT source, string_split(text, ' ') AS ts FROM documents) t0) u0),
         |dh AS (SELECT DISTINCT source, ${fnvSql("tok")} AS h FROM tk),
         |kept AS (SELECT source, h, rn FROM (
         |  SELECT source, h, row_number() OVER (PARTITION BY source
         |    ORDER BY h ASC) AS rn FROM dh) WHERE rn <= 64),
         |ex AS (SELECT source, count(*) AS n_exact FROM dh GROUP BY source),
         |per AS (SELECT kept.source, max(CASE WHEN rn = 64 THEN h END) AS hk,
         |  count(*) AS n_kept FROM kept GROUP BY source),
         |mk AS (SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
         |  FROM (SELECT DISTINCT h FROM kept) u1),
         |mg AS (SELECT max(CASE WHEN rn = 64 THEN h END) AS hk,
         |  count(*) AS n_kept FROM mk WHERE rn <= 64),
         |ge AS (SELECT count(DISTINCT h) AS n_exact FROM dh),
         |u AS (SELECT per.source, per.hk, per.n_kept, ex.n_exact
         |    FROM per JOIN ex USING (source)
         |  UNION ALL
         |  SELECT '__merged', mg.hk, mg.n_kept, ge.n_exact
         |    FROM mg CROSS JOIN ge)
         |SELECT source, hk, n_kept, n_exact,
         |  ${femitSql("CAST(63.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE) / CAST(hk AS DOUBLE)")} AS est_distinct
         |FROM u ORDER BY source""".stripMargin,
    // Same sorted-prefix-sum water-filling closed form, exact-integer
    // prefix sums, the single level division through DOUBLE.
    "q331_token_allocate" ->
      s"""WITH tc AS (SELECT source, count(*) AS n_tokens FROM
         |  (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents) u0
         |  WHERE t <> '' GROUP BY source),
         |cap0 AS (SELECT source, n_tokens, n_tokens * 4 AS cap FROM tc),
         |ord AS (SELECT source, n_tokens, cap,
         |  row_number() OVER (ORDER BY cap ASC, source ASC) AS i,
         |  coalesce(sum(cap) OVER (ORDER BY cap ASC, source ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
         |  count(*) OVER () AS n_src FROM cap0),
         |lv AS (SELECT *, CAST(100000 - pfx AS DOUBLE)
         |  / CAST(n_src - i + 1 AS DOUBLE) AS level FROM ord),
         |sel AS (SELECT min(CASE WHEN level <= CAST(cap AS DOUBLE) THEN i END) AS sel_i FROM lv),
         |lam AS (SELECT sel.sel_i, lv.level AS lambda
         |  FROM sel LEFT JOIN lv ON lv.i = sel.sel_i)
         |SELECT source, n_tokens, cap,
         |  ${femitSql("CASE WHEN sel_i IS NULL OR i < sel_i THEN CAST(cap AS DOUBLE) ELSE lambda END")} AS alloc,
         |  (sel_i IS NULL OR i < sel_i) AS saturated,
         |  ${femitSql("CASE WHEN sel_i IS NULL OR i < sel_i THEN CAST(4.0 AS DOUBLE) ELSE lambda / CAST(n_tokens AS DOUBLE) END")} AS epochs_eff,
         |  ${femitSql("lambda")} AS lambda
         |FROM lv CROSS JOIN lam ORDER BY source""".stripMargin,
    // Same alpha-ratio proxy, same dsum group means, exp's one-ulp
    // libm divergence absorbed by femit (the ln/sigmoid precedent).
    "q332_group_dro" ->
      s"""WITH pd AS (SELECT lang,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> regexp_full_match(t, '^[a-z-_]+${"$"}'))) AS DOUBLE)
         |  / CAST(len(string_split(text, ' ')) AS DOUBLE) AS alpha_ratio
         |  FROM documents),
         |g AS (SELECT lang, count(*) AS n_docs,
         |  CAST(1.0 AS DOUBLE) - ${dsumSql("alpha_ratio")} / CAST(count(*) AS DOUBLE) AS loss
         |  FROM pd GROUP BY lang),
         |g2 AS (SELECT *, exp(CAST(1.0 AS DOUBLE) * loss) AS wraw FROM g),
         |z AS (SELECT ${dsumSql("wraw")} AS z, count(*) AS n_groups FROM g2)
         |SELECT lang, n_docs, ${femitSql("loss")} AS loss,
         |  ${femitSql("wraw / z")} AS weight,
         |  ${femitSql("wraw / z * CAST(n_groups AS DOUBLE)")} AS upweight
         |FROM g2 CROSS JOIN z ORDER BY lang""".stripMargin,
    // The whole-corpus per-source sketch recomputed from scratch: by
    // the KMV merge theorem this must equal the engine's
    // persisted-store + batch merge exactly.
    "q333_kmv_merge" ->
      s"""WITH tk AS (SELECT DISTINCT source, s AS tok FROM
         |  (SELECT source, unnest(list_distinct(list_transform(
         |    range(greatest(len(ts) - 2, 0)),
         |    i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))) AS s
         |  FROM (SELECT source, string_split(text, ' ') AS ts FROM documents) t0) u0),
         |dh AS (SELECT DISTINCT source, ${fnvSql("tok")} AS h FROM tk),
         |kept AS (SELECT source, h, rn FROM (
         |  SELECT source, h, row_number() OVER (PARTITION BY source
         |    ORDER BY h ASC) AS rn FROM dh) WHERE rn <= 64)
         |SELECT source, max(CASE WHEN rn = 64 THEN h END) AS hk,
         |  count(*) AS n_kept,
         |  ${femitSql("CAST(63.0 AS DOUBLE) * CAST(4294967296.0 AS DOUBLE) / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)")} AS est_distinct
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    // Same centered thresholds (per-dimension means on the DECIMAL
    // VARCHAR-round-trip route), same sign-bit packing (disjoint
    // powers of two summed in two 32-bit halves — no 1<<63 anywhere),
    // same integer Hamming popcount, same (ham, vec_id) candidate
    // order, and the q108 exact-rerank tail — candidate set included,
    // the whole pipeline is exact integer + fixed-order IEEE math on
    // both engines.
    "q334_binary_knn" -> {
      def packSql(off: Int): String =
        s"CAST(list_sum(list_transform(range(32), i -> CASE WHEN " +
          s"v[i + ${off + 1}] > mu[i + ${off + 1}] " +
          s"THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |mu AS (SELECT list(m ORDER BY i) AS mu FROM (
         |  SELECT i, ${dsumSql("v[i + 1]")} / count(*) AS m
         |  FROM v, range(64) AS t(i) GROUP BY i)),
         |c AS (SELECT vec_id, ${packSql(0)} AS c0, ${packSql(32)} AS c1
         |  FROM v CROSS JOIN mu),
         |q AS (SELECT vec_id AS qid, c0 AS q0, c1 AS q1 FROM c WHERE vec_id < 10),
         |h AS (SELECT qid, c.vec_id,
         |  CAST(bit_count(xor(c0, q0)) + bit_count(xor(c1, q1)) AS BIGINT) AS ham
         |  FROM c, q WHERE c.vec_id <> q.qid),
         |cand AS (SELECT qid, vec_id, ham FROM (
         |  SELECT qid, vec_id, ham, row_number() OVER (PARTITION BY qid
         |    ORDER BY ham ASC, vec_id ASC) AS r FROM h) WHERE r <= 128),
         |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM v),
         |j AS (SELECT cand.qid, cand.vec_id, cand.ham,
         |    ${dotSql("nb.v", "nq.v")} / (nb.norm * nq.norm) AS sim
         |  FROM cand JOIN n nb ON nb.vec_id = cand.vec_id
         |  JOIN n nq ON nq.vec_id = cand.qid),
         |r AS (SELECT qid, vec_id, ham, sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
         |  FROM j)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, ham, sim FROM r
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
    },
    // Same fnv-parity sign matrix, same ascending-i sequential fold
    // (engine: aggregate over sequence; twin: list_reduce over
    // list(term ORDER BY i)), same femit emission on both distances
    // and the ratio.
    "q335_random_projection" -> {
      // di/dj, NOT i/j: fnvSql's internal fold lambda binds `i`, and a
      // column named i inside its argument expression would be
      // CAPTURED by that lambda (hashing the char-position index
      // instead of the dimension — a silent wrong-matrix bug caught by
      // the gate).
      val sgnSql = fnvSql("CAST(di AS VARCHAR) || ':' || CAST(dj AS VARCHAR)")
      def sqSql(a: String, b: String): String = foldSum.format(
        s"list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))")
      s"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 30),
         |sm AS (SELECT dj AS j, di AS i, CASE WHEN $sgnSql % 1048576 < 524288
         |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sv
         |  FROM range(64) AS t(di), range(16) AS u(dj)),
         |px AS (SELECT vec_id, j,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(sv * v[i + 1] ORDER BY i)), (a, b) -> a + b)
         |    * (CAST(1.0 AS DOUBLE) / sqrt(CAST(16 AS DOUBLE))) AS pj
         |  FROM v0, sm GROUP BY vec_id, j),
         |p AS (SELECT vec_id, list(pj ORDER BY j) AS p FROM px GROUP BY vec_id),
         |pr AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ${sqSql("av.v", "bv.v")} AS d2, ${sqSql("a.p", "b.p")} AS p2
         |  FROM p a JOIN p b ON a.vec_id < b.vec_id
         |  JOIN v0 av ON av.vec_id = a.vec_id
         |  JOIN v0 bv ON bv.vec_id = b.vec_id)
         |SELECT v1, v2, ${femitSql("d2")} AS dist2, ${femitSql("p2")} AS proj_dist2,
         |  ${femitSql("p2 / nullif(d2, 0.0)")} AS ratio
         |FROM pr ORDER BY v1, v2""".stripMargin
    },
    // Same q86 lossless blocking, same agreement vector (Jaccard>0.5
    // with the greatest(.,1) NaN guard, lang/source equality), same
    // Laplace-smoothed moment estimates from the dist<=2 proxy class,
    // the identical fixed-order ln-ratio sum; ln is the libm parity
    // class and the score ships femit.
    "q336_fellegi_sunter" -> {
      def mS(k: String) =
        s"((CAST(am_$k AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(nm AS DOUBLE) + CAST(2.0 AS DOUBLE)))"
      def uS(k: String) =
        s"((CAST(au_$k AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(nu AS DOUBLE) + CAST(2.0 AS DOUBLE)))"
      def wS(k: String) =
        s"(CASE WHEN agr_$k = 1 THEN ln(${mS(k)} / ${uS(k)}) " +
          s"ELSE ln((CAST(1.0 AS DOUBLE) - ${mS(k)}) / (CAST(1.0 AS DOUBLE) - ${uS(k)})) END)"
      s"""WITH t AS (SELECT doc_id, lang, source,
         |  array_to_string((string_split(text, ' '))[1:5], ' ') AS title FROM documents),
         |b AS (SELECT doc_id, title, string_split(title, ' ')[1] AS tok1,
         |  length(title) // 4 AS lb FROM t),
         |sz AS (SELECT tok1, lb FROM b GROUP BY tok1, lb
         |  HAVING count(*) > 1),
         |pr AS (SELECT a.doc_id AS d1, c.doc_id AS d2,
         |  CAST(levenshtein(a.title, c.title) AS BIGINT) AS dist
         |  FROM b a JOIN b c ON a.tok1 = c.tok1 AND a.lb = c.lb AND a.doc_id < c.doc_id
         |  JOIN sz ON sz.tok1 = a.tok1 AND sz.lb = a.lb
         |  WHERE levenshtein(a.title, c.title) <= 10),
         |at AS (SELECT doc_id, lang, source,
         |  list_distinct(string_split(title, ' ')) AS toks FROM t),
         |cmp AS (SELECT d1, d2, dist,
         |  CASE WHEN CAST(len(list_intersect(a1.toks, a2.toks)) AS DOUBLE)
         |    / CAST(greatest(len(list_distinct(list_concat(a1.toks, a2.toks))), 1) AS DOUBLE)
         |    > 0.5 THEN 1 ELSE 0 END AS agr_tok,
         |  CASE WHEN a1.lang = a2.lang THEN 1 ELSE 0 END AS agr_lang,
         |  CASE WHEN a1.source = a2.source THEN 1 ELSE 0 END AS agr_src,
         |  CASE WHEN dist <= 2 THEN 1 ELSE 0 END AS m_proxy
         |  FROM pr JOIN at a1 ON a1.doc_id = d1 JOIN at a2 ON a2.doc_id = d2),
         |st AS (SELECT CAST(SUM(m_proxy) AS BIGINT) AS nm,
         |  CAST(count(*) - SUM(m_proxy) AS BIGINT) AS nu,
         |  CAST(SUM(agr_tok * m_proxy) AS BIGINT) AS am_tok,
         |  CAST(SUM(agr_lang * m_proxy) AS BIGINT) AS am_lang,
         |  CAST(SUM(agr_src * m_proxy) AS BIGINT) AS am_src,
         |  CAST(SUM(agr_tok * (1 - m_proxy)) AS BIGINT) AS au_tok,
         |  CAST(SUM(agr_lang * (1 - m_proxy)) AS BIGINT) AS au_lang,
         |  CAST(SUM(agr_src * (1 - m_proxy)) AS BIGINT) AS au_src FROM cmp)
         |SELECT d1, d2, dist, CAST(agr_tok AS BIGINT) AS agr_tok,
         |  CAST(agr_lang AS BIGINT) AS agr_lang,
         |  CAST(agr_src AS BIGINT) AS agr_src,
         |  ${femitSql(s"${wS("tok")} + ${wS("lang")} + ${wS("src")}")} AS score
         |FROM cmp CROSS JOIN st ORDER BY d1, d2""".stripMargin
    },
    // Same uniform-then-exponential weights, same distinct-x decimal
    // prefix sweep (window sums stay DECIMAL, VARCHAR round-trip at
    // the cast — the q294 rule), same rounded-error argmin with
    // (thr, pol) tiebreaks, same clamped alpha, same score>0 decision.
    "q340_ada_boost" -> {
      val clamp1 = "least(greatest(er1, 1e-10), CAST(1.0 AS DOUBLE) - 1e-10)"
      val clamp2 = "least(greatest(er2, 1e-10), CAST(1.0 AS DOUBLE) - 1e-10)"
      val a1 = s"(CAST(0.5 AS DOUBLE) * ln((CAST(1.0 AS DOUBLE) - $clamp1) / $clamp1))"
      val a2 = s"(CAST(0.5 AS DOUBLE) * ln((CAST(1.0 AS DOUBLE) - $clamp2) / $clamp2))"
      def dwin(c: String) =
        s"CAST(CAST(SUM($c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED " +
          s"PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)"
      def dpartW(cond: String) =
        s"SUM(CAST(CAST(CASE WHEN $cond THEN w ELSE 0.0 END AS VARCHAR) AS DECIMAL(38,12)))"
      val h1 = "(CASE WHEN x <= thr1 THEN pol1 ELSE -pol1 END)"
      val h2 = "(CASE WHEN x <= thr2 THEN pol2 ELSE -pol2 END)"
      s"""WITH pts AS (SELECT CAST(n_chars AS BIGINT) AS x,
         |  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
         |p1 AS (SELECT x, y, CAST(1.0 AS DOUBLE) AS w FROM pts),
         |byx1 AS (SELECT x, ${dpartW("y = 1")} AS wp,
         |  ${dpartW("y = -1")} AS wn, count(*) AS n FROM p1 GROUP BY x),
         |cum1 AS (SELECT x, ${dwin("wp")} AS lwp, ${dwin("wn")} AS lwn,
         |  SUM(n) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW) AS ln FROM byx1),
         |tot1 AS (SELECT CAST(CAST(SUM(wp) AS VARCHAR) AS DOUBLE) AS twp,
         |  CAST(CAST(SUM(wn) AS VARCHAR) AS DOUBLE) AS twn,
         |  CAST(SUM(n) AS BIGINT) AS nn FROM byx1),
         |s1 AS (SELECT x AS thr1,
         |  CAST(CASE WHEN (lwn + (twp - lwp)) <= (lwp + (twn - lwn))
         |    THEN 1 ELSE -1 END AS BIGINT) AS pol1,
         |  ${femitSql("(CASE WHEN (lwn + (twp - lwp)) <= (lwp + (twn - lwn)) THEN lwn + (twp - lwp) ELSE lwp + (twn - lwn) END) / (twp + twn)")} AS er1
         |  FROM cum1 CROSS JOIN tot1 WHERE ln < nn
         |  ORDER BY er1 ASC, thr1 ASC, pol1 DESC LIMIT 1),
         |p2 AS (SELECT x, y,
         |  exp(-$a1 * CAST(y * $h1 AS DOUBLE)) AS w
         |  FROM pts CROSS JOIN s1),
         |byx2 AS (SELECT x, ${dpartW("y = 1")} AS wp,
         |  ${dpartW("y = -1")} AS wn, count(*) AS n FROM p2 GROUP BY x),
         |cum2 AS (SELECT x, ${dwin("wp")} AS lwp, ${dwin("wn")} AS lwn,
         |  SUM(n) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW) AS ln FROM byx2),
         |tot2 AS (SELECT CAST(CAST(SUM(wp) AS VARCHAR) AS DOUBLE) AS twp,
         |  CAST(CAST(SUM(wn) AS VARCHAR) AS DOUBLE) AS twn,
         |  CAST(SUM(n) AS BIGINT) AS nn FROM byx2),
         |s2 AS (SELECT x AS thr2,
         |  CAST(CASE WHEN (lwn + (twp - lwp)) <= (lwp + (twn - lwn))
         |    THEN 1 ELSE -1 END AS BIGINT) AS pol2,
         |  ${femitSql("(CASE WHEN (lwn + (twp - lwp)) <= (lwp + (twn - lwn)) THEN lwn + (twp - lwp) ELSE lwp + (twn - lwn) END) / (twp + twn)")} AS er2
         |  FROM cum2 CROSS JOIN tot2 WHERE ln < nn
         |  ORDER BY er2 ASC, thr2 ASC, pol2 DESC LIMIT 1),
         |scored AS (SELECT y, $a1 * CAST($h1 AS DOUBLE) AS sc1,
         |  $a1 * CAST($h1 AS DOUBLE) + $a2 * CAST($h2 AS DOUBLE) AS sc2
         |  FROM pts CROSS JOIN s1 CROSS JOIN s2),
         |acc AS (SELECT
         |  ${dsumSql("CASE WHEN (sc1 > 0.0) = (y = 1) THEN 1.0 ELSE 0.0 END")}
         |    / CAST(count(*) AS DOUBLE) AS acc1,
         |  ${dsumSql("CASE WHEN (sc2 > 0.0) = (y = 1) THEN 1.0 ELSE 0.0 END")}
         |    / CAST(count(*) AS DOUBLE) AS acc2 FROM scored)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, thr1 AS threshold,
         |    pol1 AS polarity, er1 AS err_rate, ${femitSql(a1)} AS alpha,
         |    ${femitSql("acc1")} AS ens_acc
         |  FROM s1 CROSS JOIN acc
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS round, thr2 AS threshold,
         |    pol2 AS polarity, er2 AS err_rate, ${femitSql(a2)} AS alpha,
         |    ${femitSql("acc2")} AS ens_acc
         |  FROM s1 CROSS JOIN s2 CROSS JOIN acc)
         |ORDER BY round""".stripMargin
    },
    // Same exact-cosine sims table, same dsum gains, same
    // rounded-gain argmax with cid tiebreak (DuckDB ORDER BY binds
    // the femit'd alias — exactly the engine's ordering), same RAW
    // coverage folds; 3 greedy rounds unrolled.
    "q341_submodular_select" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM vv),
         |cand AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n
         |  WHERE vec_id < 50),
         |sims AS (SELECT n.vec_id AS uid, cid,
         |  ${dotSql("n.v", "cv")} / (n.norm * cn) AS sim
         |  FROM n CROSS JOIN cand),
         |g1 AS (SELECT cid,
         |  ${dsumSql("greatest(sim - 0.0, 0.0)")} AS gain
         |  FROM sims GROUP BY cid),
         |s1 AS (SELECT cid, ${femitSql("gain")} AS gain FROM g1
         |  ORDER BY gain DESC, cid ASC LIMIT 1),
         |cov1 AS (SELECT uid, greatest(0.0, coalesce(sim, 0.0)) AS cov
         |  FROM sims JOIN s1 USING (cid)),
         |cs1 AS (SELECT ${dsumSql("cov")} AS covsum FROM cov1),
         |g2 AS (SELECT cid,
         |  ${dsumSql("greatest(sim - cov, 0.0)")} AS gain
         |  FROM sims JOIN cov1 USING (uid)
         |  WHERE cid NOT IN (SELECT cid FROM s1) GROUP BY cid),
         |s2 AS (SELECT cid, ${femitSql("gain")} AS gain FROM g2
         |  ORDER BY gain DESC, cid ASC LIMIT 1),
         |cov2 AS (SELECT uid, greatest(c.cov, coalesce(x.sim, 0.0)) AS cov
         |  FROM cov1 c JOIN (SELECT uid, sim FROM sims JOIN s2 USING (cid)) x
         |  USING (uid)),
         |cs2 AS (SELECT ${dsumSql("cov")} AS covsum FROM cov2),
         |g3 AS (SELECT cid,
         |  ${dsumSql("greatest(sim - cov, 0.0)")} AS gain
         |  FROM sims JOIN cov2 USING (uid)
         |  WHERE cid NOT IN (SELECT cid FROM s1 UNION ALL SELECT cid FROM s2)
         |  GROUP BY cid),
         |s3 AS (SELECT cid, ${femitSql("gain")} AS gain FROM g3
         |  ORDER BY gain DESC, cid ASC LIMIT 1),
         |cov3 AS (SELECT uid, greatest(c.cov, coalesce(x.sim, 0.0)) AS cov
         |  FROM cov2 c JOIN (SELECT uid, sim FROM sims JOIN s3 USING (cid)) x
         |  USING (uid)),
         |cs3 AS (SELECT ${dsumSql("cov")} AS covsum FROM cov3)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS rnk, cid AS selected_id, gain,
         |    ${femitSql("covsum")} AS coverage FROM s1 CROSS JOIN cs1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), cid, gain, ${femitSql("covsum")}
         |  FROM s2 CROSS JOIN cs2
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), cid, gain, ${femitSql("covsum")}
         |  FROM s3 CROSS JOIN cs3)
         |ORDER BY rnk""".stripMargin
    },
    // Same 4-feature fan-out, same exact contingency counts, same
    // fixed-order per-cell term (ln is the libm parity class), same
    // dsum per-feature fold, rank by the ROUNDED mi (DuckDB ORDER BY
    // binds the femit'd alias — exactly the engine's ordering).
    "q342_mi_rank" ->
      s"""WITH f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |  coalesce(source, '__null__') AS f_source,
         |  CAST(n_chars // 200 AS VARCHAR) AS f_len,
         |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) // 50
         |    AS VARCHAR) AS f_tok,
         |  CASE WHEN regexp_matches(text, '[0-9]') THEN 'y' ELSE 'n' END
         |    AS f_digit
         |  FROM documents),
         |lv AS (
         |  SELECT y, 'source' AS feature, f_source AS level FROM f
         |  UNION ALL SELECT y, 'len_bucket', f_len FROM f
         |  UNION ALL SELECT y, 'tok_bucket', f_tok FROM f
         |  UNION ALL SELECT y, 'has_digit', f_digit FROM f),
         |cells AS (SELECT feature, level, y, count(*) AS c
         |  FROM lv GROUP BY 1, 2, 3),
         |flm AS (SELECT feature, level, CAST(sum(c) AS BIGINT) AS cl
         |  FROM cells GROUP BY 1, 2),
         |ym AS (SELECT y, count(*) AS cy FROM f GROUP BY 1),
         |n AS (SELECT count(*) AS nn FROM f),
         |term AS (SELECT feature, level,
         |  (CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln((CAST(c AS DOUBLE) * CAST(nn AS DOUBLE)) /
         |        (CAST(cl AS DOUBLE) * CAST(cy AS DOUBLE))) AS term
         |  FROM cells JOIN flm USING (feature, level)
         |  JOIN ym USING (y) CROSS JOIN n),
         |mi AS (SELECT feature, count(DISTINCT level) AS n_levels,
         |  ${femitSql(dsumSql("term"))} AS mi FROM term GROUP BY feature)
         |SELECT row_number() OVER (ORDER BY mi DESC, feature ASC) AS "rank",
         |  feature, n_levels, mi FROM mi ORDER BY "rank"""".stripMargin,
    // Same q65 component closure, same coalesce-to-own-id group key,
    // same 16-bit-split Knuth bucket on the GROUP key, same
    // straddle-pair audit join.
    "q343_leakage_split" -> {
      val b = "((grp % 4294967296) % 65536 * 2654435761" +
        " + ((grp % 4294967296) // 65536 * 2654435761) % 65536 * 65536)" +
        " % 4294967296 % 100"
      s"""WITH comp AS (SELECT * FROM ($componentsOracle) c0),
         |p AS (SELECT d1, d2 FROM ($minhashOracle) mh),
         |a AS (SELECT d.doc_id, c.component,
         |  coalesce(c.component, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |s AS (SELECT doc_id, component, grp,
         |  CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val'
         |    ELSE 'test' END AS split FROM a),
         |st AS (SELECT count(*) AS straddle_pairs FROM p
         |  JOIN s s1 ON s1.doc_id = p.d1
         |  JOIN s s2 ON s2.doc_id = p.d2
         |  WHERE s1.split <> s2.split)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT grp) AS n_groups,
         |  CAST(sum(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_docs,
         |  straddle_pairs
         |FROM s CROSS JOIN st
         |GROUP BY split, straddle_pairs ORDER BY split""".stripMargin
    },
    // Same IVF assignment CTE as q35/q204, same exact pair-count
    // sufficient statistics (even products, // 2 stays BIGINT), same
    // fixed-order IEEE metric expressions with nullif degenerate
    // guards; ARI's expected-index product runs in DOUBLE on both.
    "q344_cluster_eval" -> {
      val prec = "CAST(tp AS DOUBLE) / nullif(CAST(same_c AS DOUBLE), CAST(0.0 AS DOUBLE))"
      val rec = "CAST(tp AS DOUBLE) / nullif(CAST(same_l AS DOUBLE), CAST(0.0 AS DOUBLE))"
      val f1 = "(CAST(2.0 AS DOUBLE) * CAST(tp AS DOUBLE)) / nullif(CAST(same_c AS DOUBLE) + CAST(same_l AS DOUBLE), CAST(0.0 AS DOUBLE))"
      val rand = "CAST(allp - same_c - same_l + tp + tp AS DOUBLE) / CAST(allp AS DOUBLE)"
      val expIdx = "CAST(same_c AS DOUBLE) * CAST(same_l AS DOUBLE) / CAST(allp AS DOUBLE)"
      val ari = s"(CAST(tp AS DOUBLE) - $expIdx) / nullif((CAST(same_c AS DOUBLE) + CAST(same_l AS DOUBLE)) / CAST(2.0 AS DOUBLE) - $expIdx, CAST(0.0 AS DOUBLE))"
      s"""WITH ${ivfAssignCte(16)},
         |g AS (SELECT a.vec_id, a.cid, e.label
         |  FROM asg a JOIN embeddings e USING (vec_id)),
         |cells AS (SELECT cid, label, count(*) AS c FROM g GROUP BY 1, 2),
         |byc AS (SELECT cid, CAST(sum(c) AS BIGINT) AS nc, max(c) AS mx
         |  FROM cells GROUP BY cid),
         |byl AS (SELECT label, CAST(sum(c) AS BIGINT) AS nl
         |  FROM cells GROUP BY label),
         |tpc AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS tp FROM cells),
         |scc AS (SELECT CAST(sum(nc * (nc - 1) // 2) AS BIGINT) AS same_c,
         |  CAST(sum(mx) AS BIGINT) AS pure, count(*) AS n_clusters FROM byc),
         |slc AS (SELECT CAST(sum(nl * (nl - 1) // 2) AS BIGINT) AS same_l,
         |  count(*) AS n_labels FROM byl),
         |nnc AS (SELECT count(*) AS n FROM g),
         |f AS (SELECT n, n_clusters, n_labels, tp, same_c, same_l, pure,
         |  n * (n - 1) // 2 AS allp
         |  FROM tpc CROSS JOIN scc CROSS JOIN slc CROSS JOIN nnc)
         |SELECT n, n_clusters, n_labels, tp,
         |  same_c AS same_cluster, same_l AS same_label,
         |  ${femitSql(prec)} AS pair_precision,
         |  ${femitSql(rec)} AS pair_recall,
         |  ${femitSql(f1)} AS pair_f1,
         |  ${femitSql(rand)} AS rand_index,
         |  ${femitSql(ari)} AS ari,
         |  ${femitSql("CAST(pure AS DOUBLE) / CAST(n AS DOUBLE)")} AS purity
         |FROM f""".stripMargin
    },
    // Same q120 bigram-LM CTE chain, same UNROUNDED per-doc avg on the
    // DECIMAL route, same exp/ln libm-parity scoring, same dsum-ratio
    // corpus threshold (bit-deterministic comparison), min over the
    // constant threshold column on both sides.
    "q345_perplexity_filter" -> {
      val dAvg = "CAST(CAST(SUM(CAST(CAST(ln(CAST(cb + 1 AS DOUBLE) / (cu + v)) AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)"
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
         |p0 AS (SELECT doc_id, unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM t),
         |p AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2 FROM p0),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM p GROUP BY w1, w2),
         |lf AS (SELECT w1, count(*) AS cu FROM p GROUP BY w1),
         |vc AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(ts) AS tok FROM t) x),
         |pd AS (SELECT doc_id, $dAvg AS avg_logp
         |  FROM p JOIN bi USING (w1, w2) JOIN lf USING (w1) CROSS JOIN vc
         |  GROUP BY doc_id),
         |pl AS (SELECT pd.doc_id, exp(-avg_logp) AS ppl, d.lang
         |  FROM pd JOIN documents d USING (doc_id)),
         |thr AS (SELECT ${dsumSql("ppl")} / count(*) AS mean_ppl FROM pl),
         |cen AS (SELECT lang, count(*) AS n_scored,
         |  CAST(sum(CASE WHEN ppl <= mean_ppl THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_keep,
         |  ${femitSql(s"${dsumSql("ppl")} / count(*)")} AS lang_mean_ppl,
         |  ${femitSql("min(ppl)")} AS min_ppl,
         |  ${femitSql("max(ppl)")} AS max_ppl,
         |  ${femitSql("min(mean_ppl)")} AS corpus_mean_ppl
         |  FROM pl CROSS JOIN thr GROUP BY lang),
         |un AS (SELECT lang, count(*) AS n_unscored FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM pd) GROUP BY lang)
         |SELECT lang, n_scored,
         |  coalesce(n_unscored, CAST(0 AS BIGINT)) AS n_unscored,
         |  n_keep, lang_mean_ppl, min_ppl, max_ppl, corpus_mean_ppl
         |FROM cen LEFT JOIN un USING (lang) ORDER BY lang""".stripMargin
    },
    // Same bounded probe pool (%5 held out, qid < 250), same exact
    // cosine folds ranked raw with the vec_id tiebreak (the q32
    // precedent), same (votes DESC, label ASC) majority total order.
    "q348_knn_classify" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  CAST(label AS BIGINT) AS label FROM embeddings),
         |n AS (SELECT vec_id, v, label, sqrt($normSql) AS norm FROM vv),
         |pr AS (SELECT vec_id AS qid, v AS qv, norm AS qn, label AS gold
         |  FROM n WHERE vec_id % 5 = 0 AND vec_id < 250),
         |st AS (SELECT vec_id, v, label, norm FROM n WHERE vec_id % 5 <> 0),
         |sims AS (SELECT qid, gold, st.vec_id, st.label,
         |  ${dotSql("st.v", "qv")} / (st.norm * qn) AS sim
         |  FROM st CROSS JOIN pr),
         |rk AS (SELECT qid, gold, vec_id, label, sim, row_number() OVER (
         |  PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk FROM sims),
         |votes AS (SELECT qid, gold, label, count(*) AS votes,
         |  max(sim) AS best_sim FROM rk WHERE rnk <= 5 GROUP BY 1, 2, 3),
         |sel AS (SELECT qid, gold, label, votes, best_sim,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY votes DESC, label ASC) AS vr FROM votes)
         |SELECT qid, gold, label AS pred, votes,
         |  ${femitSql("best_sim")} AS top_sim
         |FROM sel WHERE vr = 1 ORDER BY qid""".stripMargin
    },
    // Same exact-integer rankings with token tiebreaks, same joined
    // top-k prefix intersections, same exp(ln(p)·(d−1)) weights, and
    // the (1-p) factor as an explicit DOUBLE subtraction — DuckDB's
    // bare 1.0 - 0.9 runs in DECIMAL and yields a different double.
    "q349_rbo" ->
      s"""WITH tok AS (SELECT doc_id,
         |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents),
         |dfr AS (SELECT t, row_number() OVER (ORDER BY m DESC, t ASC) AS ra
         |  FROM (SELECT t, count(DISTINCT doc_id) AS m FROM tok GROUP BY t
         |    ORDER BY m DESC, t ASC LIMIT 20) a),
         |cfr AS (SELECT t, row_number() OVER (ORDER BY m DESC, t ASC) AS rb
         |  FROM (SELECT t, count(*) AS m FROM tok GROUP BY t
         |    ORDER BY m DESC, t ASC LIMIT 20) b),
         |bo AS (SELECT ra, rb FROM dfr JOIN cfr USING (t)),
         |dd AS (SELECT unnest(range(1, 21)) AS d),
         |pd AS (SELECT d, CAST(sum(CASE WHEN ra <= d AND rb <= d
         |    THEN 1 ELSE 0 END) AS BIGINT) AS overlap
         |  FROM dd CROSS JOIN bo GROUP BY d),
         |pe AS (SELECT d AS depth, overlap,
         |  CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE) AS agree0,
         |  exp(ln(0.9) * CAST(d - 1 AS DOUBLE)) AS w0 FROM pd)
         |SELECT * FROM (
         |  SELECT depth, overlap, ${femitSql("agree0")} AS agreement,
         |    ${femitSql("w0")} AS weight,
         |    ${femitSql("agree0 * w0")} AS contrib,
         |    CAST(NULL AS DOUBLE) AS rbo FROM pe
         |  UNION ALL
         |  SELECT CAST(0 AS BIGINT), max(overlap), CAST(NULL AS DOUBLE),
         |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |    ${femitSql(s"(CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * ${dsumSql("agree0 * w0")}")}
         |  FROM pe)
         |ORDER BY depth""".stripMargin,
    // Same %5 train/held-out split, same ML-bigram/add-one-unigram
    // ratios from exact counts, same fixed-order lambda mixture with
    // DOUBLE subtraction (the q349 DECIMAL-literal trap), same dsum
    // average and exp/ln parity, rank by the ROUNDED perplexity.
    "q351_jm_interp" -> {
      val mix = "ln(lam * p_bi + (CAST(1.0 AS DOUBLE) - lam) * p_uni)"
      s"""WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
         |tr AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
         |ho AS (SELECT * FROM base WHERE doc_id % 5 = 0),
         |tp AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2 FROM
         |  (SELECT doc_id, unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM tr) x),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM tp GROUP BY 1, 2),
         |lf AS (SELECT w1, count(*) AS cu FROM tp GROUP BY 1),
         |uni AS (SELECT w2, count(*) AS cw FROM
         |  (SELECT unnest(ts) AS w2 FROM tr) y GROUP BY w2),
         |tot AS (SELECT count(*) AS tt, count(DISTINCT t) AS v FROM
         |  (SELECT unnest(ts) AS t FROM tr) z),
         |hp AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2 FROM
         |  (SELECT doc_id, unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM ho) x),
         |sc AS (SELECT
         |  CASE WHEN cu IS NULL THEN CAST(0.0 AS DOUBLE)
         |    ELSE CAST(coalesce(cb, 0) AS DOUBLE) / CAST(cu AS DOUBLE) END AS p_bi,
         |  CAST(coalesce(cw, 0) + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE) AS p_uni
         |  FROM hp LEFT JOIN bi USING (w1, w2) LEFT JOIN lf USING (w1)
         |  LEFT JOIN uni USING (w2) CROSS JOIN tot),
         |lams AS (SELECT CAST(d AS DOUBLE) / 10.0 AS lam FROM
         |  (SELECT unnest(range(1, 10)) AS d) l),
         |pl AS (SELECT lam AS lambda, count(*) AS n_bigrams,
         |  ${dsumSql(mix)} / count(*) AS avg0
         |  FROM sc CROSS JOIN lams GROUP BY lam),
         |pe AS (SELECT lambda, n_bigrams, ${femitSql("avg0")} AS avg_logp,
         |  ${femitSql("exp(-avg0)")} AS held_out_ppl FROM pl)
         |SELECT lambda, n_bigrams, avg_logp, held_out_ppl,
         |  row_number() OVER (ORDER BY held_out_ppl ASC, lambda ASC) AS "rank"
         |FROM pe ORDER BY lambda""".stripMargin
    },
    // Same even/odd bounded samples, same ||a-b||^2 from the shared
    // folds, same exp(-gamma d2) with the exact binary literal
    // -0.015625, same dsum pair means, diagonal included (biased
    // V-statistic, the engine's documented choice).
    "q352_mmd_drift" -> {
      val sqSql = foldSum.format("list_transform(v, x -> x * x)")
      def km(a: String, b: String) =
        s"""SELECT ${dsumSql("k")} / CAST(count(*) AS DOUBLE) AS m,
           |  count(*) AS np FROM (
           |  SELECT exp(-0.015625 * (a.sq + b.sq -
           |    2.0 * ${dotSql("a.v", "b.v")})) AS k
           |  FROM $a a CROSS JOIN $b b) kk""".stripMargin
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 400),
         |n AS (SELECT vec_id, v, $sqSql AS sq FROM vv),
         |x AS (SELECT vec_id, v, sq FROM n WHERE vec_id % 2 = 0),
         |y AS (SELECT vec_id, v, sq FROM n WHERE vec_id % 2 = 1),
         |xx AS (${km("x", "x")}),
         |yy AS (${km("y", "y")}),
         |xy AS (${km("x", "y")})
         |SELECT xx.np AS n_xx, yy.np AS n_yy, xy.np AS n_xy,
         |  ${femitSql("xx.m")} AS mean_kxx, ${femitSql("yy.m")} AS mean_kyy,
         |  ${femitSql("xy.m")} AS mean_kxy,
         |  ${femitSql("xx.m + yy.m - 2.0 * xy.m")} AS mmd2
         |FROM xx CROSS JOIN yy CROSS JOIN xy""".stripMargin
    },
    // Same stop list, same prefix-count run delimiting, same
    // position-ordered phrase reassembly (string_agg ORDER BY pos ==
    // the sorted-struct collect), same exact deg/freq integers, same
    // dsum phrase scores, top-20 by the ROUNDED score + phrase.
    "q353_rake" -> {
      val stops = "'the', 'of', 'and', 'a', 'to', 'in', 'is', 'on', 'for', 'with'"
      s"""WITH t0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
         |tok AS (SELECT doc_id, i AS pos, ts[i+1] AS t FROM
         |  (SELECT doc_id, unnest(range(len(ts))) AS i, ts FROM t0) x),
         |rn AS (SELECT doc_id, pos, t,
         |  CASE WHEN t IN ($stops) THEN 1 ELSE 0 END AS st,
         |  SUM(CASE WHEN t IN ($stops) THEN 1 ELSE 0 END) OVER (
         |    PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM tok),
         |mem AS (SELECT doc_id, run, pos, t FROM rn WHERE st = 0),
         |ph AS (SELECT doc_id, run,
         |  string_agg(t, ' ' ORDER BY pos) AS phrase,
         |  count(*) AS len FROM mem GROUP BY doc_id, run),
         |wst AS (SELECT t, count(*) AS wfreq,
         |  CAST(sum(len) AS BIGINT) AS deg
         |  FROM mem JOIN ph USING (doc_id, run) GROUP BY t),
         |occ AS (SELECT doc_id, run,
         |  ${dsumSql("CAST(deg AS DOUBLE) / CAST(wfreq AS DOUBLE)")} AS sc
         |  FROM mem JOIN wst USING (t) GROUP BY doc_id, run),
         |agg AS (SELECT phrase, min(len) AS n_words, count(*) AS freq,
         |  ${femitSql("min(sc)")} AS score
         |  FROM ph JOIN occ USING (doc_id, run) GROUP BY phrase)
         |SELECT phrase, CAST(n_words AS BIGINT) AS n_words, freq, score
         |FROM agg ORDER BY score DESC, phrase ASC LIMIT 20""".stripMargin
    },
    // Same bounded sample, same raw-sim rank with id tiebreaks, the
    // k-th row's distance through the explicit DOUBLE subtraction,
    // top-20 by the ROUNDED distance (DuckDB binds the femit alias).
    "q354_knn_outlier" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 400),
         |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM vv),
         |b AS (SELECT vec_id AS oid, v AS ov, norm AS os FROM n),
         |sims AS (SELECT n.vec_id, oid,
         |  ${dotSql("n.v", "ov")} / (n.norm * os) AS sim
         |  FROM n CROSS JOIN b WHERE n.vec_id <> oid),
         |rk AS (SELECT vec_id, oid, sim, row_number() OVER (
         |  PARTITION BY vec_id ORDER BY sim DESC, oid ASC) AS rnk FROM sims)
         |SELECT vec_id, oid AS kth_neighbor,
         |  ${femitSql("CAST(1.0 AS DOUBLE) - sim")} AS knn_dist
         |FROM rk WHERE rnk = 5
         |ORDER BY knn_dist DESC, vec_id ASC LIMIT 20""".stripMargin
    },
    // Same bounded anchors, same tau=0.25 exact-binary temperature,
    // same nearest-same-label positive argmax, same max-stabilized
    // log-sum-exp on the dsum lattice.
    "q355_infonce" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  CAST(label AS BIGINT) AS label FROM embeddings WHERE vec_id < 200),
         |n AS (SELECT vec_id, v, label, sqrt($normSql) AS norm FROM vv),
         |a AS (SELECT vec_id AS aid, v AS av, norm AS an, label AS alabel
         |  FROM n),
         |sims AS (SELECT aid, alabel, n.vec_id, n.label,
         |  (${dotSql("n.v", "av")} / (n.norm * an)) / 0.25 AS s
         |  FROM n CROSS JOIN a WHERE n.vec_id <> aid),
         |pos AS (SELECT aid, s AS spos FROM (
         |  SELECT aid, s, row_number() OVER (PARTITION BY aid
         |    ORDER BY s DESC, vec_id ASC) AS pr
         |  FROM sims WHERE label = alabel) p WHERE pr = 1),
         |mx AS (SELECT aid, max(s) AS m FROM sims GROUP BY aid),
         |lse AS (SELECT aid, alabel, min(m) AS m,
         |  ${dsumSql("exp(s - m)")} AS z
         |  FROM sims JOIN mx USING (aid) GROUP BY aid, alabel),
         |pa AS (SELECT aid, alabel, m + ln(z) - spos AS loss,
         |  spos * 0.25 AS pos_sim FROM lse JOIN pos USING (aid))
         |SELECT alabel AS label, count(*) AS n_anchors,
         |  ${femitSql(s"${dsumSql("loss")} / CAST(count(*) AS DOUBLE)")} AS mean_loss,
         |  ${femitSql(s"${dsumSql("pos_sim")} / CAST(count(*) AS DOUBLE)")} AS mean_pos_sim
         |FROM pa GROUP BY alabel ORDER BY label""".stripMargin
    },
    // Same bounded probes, same raw-sim top-10 with id tiebreaks,
    // same first-hit / hit-count / rank-1 reductions, same
    // peers-excluding-self relevance totals and n_rel>0 guard.
    "q356_retrieval_eval" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  CAST(label AS BIGINT) AS label FROM embeddings WHERE vec_id < 200),
         |n AS (SELECT vec_id, v, label, sqrt($normSql) AS norm FROM vv),
         |a AS (SELECT vec_id AS aid, v AS av, norm AS an, label AS alabel
         |  FROM n),
         |rk AS (SELECT aid, alabel, vec_id, label, row_number() OVER (
         |  PARTITION BY aid ORDER BY sim DESC, vec_id ASC) AS rnk FROM (
         |  SELECT aid, alabel, n.vec_id, n.label,
         |    ${dotSql("n.v", "av")} / (n.norm * an) AS sim
         |  FROM n CROSS JOIN a WHERE n.vec_id <> aid) s),
         |top AS (SELECT * FROM rk WHERE rnk <= 10),
         |rel AS (SELECT label AS alabel, count(*) - 1 AS n_rel
         |  FROM n GROUP BY label),
         |pp AS (SELECT aid, alabel,
         |  min(CASE WHEN label = alabel THEN rnk END) AS fr,
         |  CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits,
         |  CAST(sum(CASE WHEN label = alabel AND rnk = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS p1
         |  FROM top GROUP BY aid, alabel)
         |SELECT alabel AS label, count(*) AS n_probes,
         |  ${femitSql(s"${dsumSql("CASE WHEN fr IS NOT NULL THEN CAST(1.0 AS DOUBLE) / CAST(fr AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END")} / CAST(count(*) AS DOUBLE)")} AS mrr,
         |  ${femitSql(s"${dsumSql("CASE WHEN n_rel > 0 THEN CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END")} / CAST(count(*) AS DOUBLE)")} AS recall_at_k,
         |  ${femitSql("CAST(sum(p1) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS precision_at_1
         |FROM pp JOIN rel USING (alabel)
         |GROUP BY alabel ORDER BY label""".stripMargin
    },
    // Same exact ranking with token tiebreaks, same integer window
    // cum-mass (integer windows are association-safe), same cut-point
    // probes with the beyond-vocab coalesce.
    "q357_vocab_coverage" ->
      s"""WITH tf AS (SELECT t, count(*) AS cnt FROM (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents) z GROUP BY t),
         |rk AS (SELECT t, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, t ASC) AS rnk,
         |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, t ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum FROM tf),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
         |  count(*) AS n_vocab FROM tf),
         |cuts AS (SELECT CAST(unnest([5, 10, 15, 20, 25]) AS BIGINT)
         |  AS vocab_size),
         |ac AS (SELECT vocab_size, cum FROM cuts
         |  LEFT JOIN rk ON rnk = vocab_size)
         |SELECT vocab_size,
         |  CAST(coalesce(cum, total) AS BIGINT) AS covered, total, n_vocab,
         |  ${femitSql("CAST(coalesce(cum, total) AS DOUBLE) / CAST(total AS DOUBLE)")} AS coverage,
         |  ${femitSql("CAST(total - coalesce(cum, total) AS DOUBLE) / CAST(total AS DOUBLE)")} AS oov_rate
         |FROM ac CROSS JOIN tot ORDER BY vocab_size""".stripMargin,
    // Same top-M support with token tiebreaks, both distributions
    // add-one re-normalized over the SAME support (KL >= 0 by Gibbs),
    // same fixed-order term with ln parity, dsum per source.
    "q358_source_kl" ->
      s"""WITH tok AS (SELECT source,
         |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents),
         |topm AS (SELECT t, count(*) AS gc FROM tok GROUP BY t
         |  ORDER BY gc DESC, t ASC LIMIT 25),
         |gsup AS (SELECT CAST(sum(gc) AS BIGINT) AS gsup,
         |  count(*) AS msup FROM topm),
         |st AS (SELECT source, t, count(*) AS sc FROM tok
         |  WHERE t IN (SELECT t FROM topm) GROUP BY source, t),
         |ssup AS (SELECT source, CAST(sum(sc) AS BIGINT) AS ssup
         |  FROM st GROUP BY source),
         |cells AS (SELECT source, ssup,
         |  CAST(coalesce(sc, 0) + 1 AS DOUBLE) /
         |    CAST(ssup + msup AS DOUBLE) AS ps,
         |  CAST(gc + 1 AS DOUBLE) / CAST(gsup + msup AS DOUBLE) AS pg
         |  FROM (SELECT * FROM ssup CROSS JOIN topm) sup
         |  LEFT JOIN st USING (source, t) CROSS JOIN gsup)
         |SELECT source, min(ssup) AS n_tokens,
         |  ${femitSql(dsumSql("ps * ln(ps / pg)"))} AS kl
         |FROM cells GROUP BY source ORDER BY source""".stripMargin,
    // Same min-id seed, same running min-distance fold on RAW values,
    // same ROUNDED-distance argmax with id tiebreak, same NOT-IN
    // exclusion of picked centers; 5 rounds unrolled.
    "q359_kcenter" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      def dcos(cv: String, cn: String) =
        s"CAST(1.0 AS DOUBLE) - ${dotSql("n.v", cv)} / (n.norm * $cn)"
      def pick(from: String, excl: String) =
        s"""SELECT vec_id, ${femitSql("mind")} AS d FROM $from
           |  WHERE vec_id <> 0 $excl
           |  ORDER BY d DESC, vec_id ASC LIMIT 1""".stripMargin
      def fold(prev: String, c: String) =
        s"""SELECT n.vec_id, least(mind, ${dcos(s"$c.cv", s"$c.cn")}) AS mind
           |  FROM $prev m JOIN n ON n.vec_id = m.vec_id CROSS JOIN $c""".stripMargin
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM vv),
         |c1 AS (SELECT v AS cv, norm AS cn FROM n WHERE vec_id = 0),
         |m1 AS (SELECT n.vec_id, ${dcos("c1.cv", "c1.cn")} AS mind
         |  FROM n CROSS JOIN c1),
         |s2 AS (${pick("m1", "")}),
         |c2 AS (SELECT v AS cv, norm AS cn FROM n JOIN s2 USING (vec_id)),
         |m2 AS (${fold("m1", "c2")}),
         |s3 AS (${pick("m2", "AND vec_id NOT IN (SELECT vec_id FROM s2)")}),
         |c3 AS (SELECT v AS cv, norm AS cn FROM n JOIN s3 USING (vec_id)),
         |m3 AS (${fold("m2", "c3")}),
         |s4 AS (${pick("m3",
          "AND vec_id NOT IN (SELECT vec_id FROM s2) AND vec_id NOT IN (SELECT vec_id FROM s3)")}),
         |c4 AS (SELECT v AS cv, norm AS cn FROM n JOIN s4 USING (vec_id)),
         |m4 AS (${fold("m3", "c4")}),
         |s5 AS (${pick("m4",
          "AND vec_id NOT IN (SELECT vec_id FROM s2) AND vec_id NOT IN (SELECT vec_id FROM s3) AND vec_id NOT IN (SELECT vec_id FROM s4)")})
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS rnk, CAST(0 AS BIGINT) AS center_id,
         |    CAST(NULL AS DOUBLE) AS radius
         |  UNION ALL SELECT CAST(2 AS BIGINT), vec_id, d FROM s2
         |  UNION ALL SELECT CAST(3 AS BIGINT), vec_id, d FROM s3
         |  UNION ALL SELECT CAST(4 AS BIGINT), vec_id, d FROM s4
         |  UNION ALL SELECT CAST(5 AS BIGINT), vec_id, d FROM s5)
         |ORDER BY rnk""".stripMargin
    },
    // Same exp(0.75 ln cnt) weight route, same DECIMAL-lattice
    // cumulative ranges with the VARCHAR round-trips (the dwin
    // pattern), lo = lag(hi) so ranges tile exactly, same fnv draws.
    "q360_negative_sampling" -> {
      val dwin = "CAST(CAST(SUM(CAST(CAST(w AS VARCHAR) AS DECIMAL(38,12)))" +
        " OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND" +
        " CURRENT ROW) AS VARCHAR) AS DOUBLE)"
      val u0 = s"CAST(${fnvSql("(CAST(j AS VARCHAR) || ':neg')")} AS DOUBLE) / 4294967296.0"
      s"""WITH tf AS (SELECT t, count(*) AS cnt FROM (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents) z GROUP BY t),
         |cum0 AS (SELECT t, cnt, w, $dwin AS hi FROM (
         |  SELECT t, cnt, exp(0.75 * ln(CAST(cnt AS DOUBLE))) AS w FROM tf) q),
         |cum AS (SELECT t, cnt, w, hi,
         |  lag(hi, 1, CAST(0.0 AS DOUBLE)) OVER (ORDER BY t ASC) AS lo
         |  FROM cum0),
         |tot AS (SELECT max(hi) AS wtot FROM cum),
         |draws AS (SELECT ($u0) * wtot AS u FROM
         |  (SELECT unnest(range(10000)) AS j) r CROSS JOIN tot),
         |hit AS (SELECT t, count(*) AS n_draws FROM draws
         |  JOIN cum ON u >= lo AND u < hi GROUP BY t)
         |SELECT t, cnt, ${femitSql("w")} AS weight,
         |  ${femitSql("w / wtot")} AS target_share,
         |  coalesce(n_draws, CAST(0 AS BIGINT)) AS n_draws,
         |  ${femitSql("CAST(coalesce(n_draws, 0) AS DOUBLE) / 10000.0")} AS emp_share
         |FROM cum CROSS JOIN tot LEFT JOIN hit USING (t)
         |ORDER BY t""".stripMargin
    },
    // Same single pair pass (the q18 twin), per-rung filtered
    // transitive closures, same exact census arithmetic and
    // fixed-order retained-share division.
    "q361_dedup_ladder" -> {
      def rung(i: Int, t: String) =
        s"""e$i AS (SELECT d1 AS n, d2 AS m FROM mh WHERE jaccard >= $t
           |  UNION ALL SELECT d2, d1 FROM mh WHERE jaccard >= $t),
           |r$i AS (SELECT n, n AS reach FROM (SELECT DISTINCT n FROM e$i) b
           |  UNION
           |  SELECT e$i.n, r$i.reach FROM e$i JOIN r$i ON e$i.m = r$i.n),
           |c$i AS (SELECT n, min(reach) AS comp FROM r$i GROUP BY n),
           |s$i AS (SELECT CAST($t AS DOUBLE) AS threshold,
           |  (SELECT count(*) FROM mh WHERE jaccard >= $t) AS n_pairs,
           |  count(DISTINCT comp) AS n_components,
           |  count(*) AS n_dup_docs FROM c$i)""".stripMargin
      s"""WITH RECURSIVE mh AS (SELECT d1, d2, jaccard FROM ($minhashOracle) m0),
         |${rung(1, "0.1")},
         |${rung(2, "0.95")},
         |${rung(3, "0.97")},
         |${rung(4, "0.985")},
         |tt AS (SELECT count(*) AS total FROM documents)
         |SELECT threshold, n_pairs, n_components, n_dup_docs,
         |  total - (n_dup_docs - n_components) AS effective_docs,
         |  ${femitSql("(CAST(total AS DOUBLE) - CAST(n_dup_docs - n_components AS DOUBLE)) / CAST(total AS DOUBLE)")} AS retained_share
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4) u
         |CROSS JOIN tt ORDER BY threshold""".stripMargin
    },
    // Same bounded top-k lists with raw-sim id-tiebroken ranks, same
    // zero-filled k-occurrences, same dsum central moments and the
    // m3/(m2*sqrt(m2)) skewness text, same argmax hub.
    "q362_hubness" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 400),
         |n AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM vv),
         |b AS (SELECT vec_id AS oid, v AS ov, norm AS os FROM n),
         |rk AS (SELECT vec_id, oid, row_number() OVER (
         |  PARTITION BY vec_id ORDER BY sim DESC, oid ASC) AS rnk FROM (
         |  SELECT n.vec_id, oid, ${dotSql("n.v", "ov")} / (n.norm * os) AS sim
         |  FROM n CROSS JOIN b WHERE n.vec_id <> oid) s),
         |occ AS (SELECT oid, count(*) AS nk FROM rk WHERE rnk <= 10
         |  GROUP BY oid),
         |full0 AS (SELECT n.vec_id AS oid,
         |  coalesce(nk, CAST(0 AS BIGINT)) AS nk
         |  FROM n LEFT JOIN occ ON occ.oid = n.vec_id),
         |mom AS (SELECT count(*) AS n,
         |  ${dsumSql("(CAST(nk AS DOUBLE) - 10.0) * (CAST(nk AS DOUBLE) - 10.0)")} AS m2s,
         |  ${dsumSql("(CAST(nk AS DOUBLE) - 10.0) * (CAST(nk AS DOUBLE) - 10.0) * (CAST(nk AS DOUBLE) - 10.0)")} AS m3s,
         |  max(nk) AS max_nk,
         |  CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_antihubs FROM full0),
         |hub AS (SELECT oid AS top_hub_id, nk AS top_hub_nk FROM full0
         |  ORDER BY nk DESC, oid ASC LIMIT 1)
         |SELECT n, CAST(10 AS BIGINT) AS k,
         |  ${femitSql("m2s / CAST(n AS DOUBLE)")} AS var_nk,
         |  ${femitSql("(m3s / CAST(n AS DOUBLE)) / ((m2s / CAST(n AS DOUBLE)) * sqrt(m2s / CAST(n AS DOUBLE)))")} AS skewness,
         |  max_nk, n_antihubs, top_hub_id, top_hub_nk
         |FROM mom CROSS JOIN hub""".stripMargin
    },
    // Same distinct shingles (the q18 CTE), same exact min-doc_id
    // first occurrence, same integer decile arithmetic, same dsum
    // mean of per-doc ratios.
    "q363_novelty_curve" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
         |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
         |sh AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |fo AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g),
         |pd AS (SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel
         |  FROM sh JOIN fo USING (g) GROUP BY doc_id),
         |mx AS (SELECT max(doc_id) + 1 AS maxid FROM documents),
         |bk AS (SELECT doc_id * 10 // maxid AS bucket, n_grams, n_novel
         |  FROM pd CROSS JOIN mx)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
         |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
         |  ${femitSql(s"${dsumSql("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)")} / CAST(count(*) AS DOUBLE)")} AS mean_novelty
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    // Same distinct (shingle, source) incidence, same shingle-keyed
    // pair join (group size bounded by |sources|), same containment
    // division.
    "q364_source_overlap" ->
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
         |s AS (SELECT source, list_distinct(list_transform(range(greatest(len(ts) - 2, 0)),
         |  i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS sh FROM t),
         |ss AS (SELECT DISTINCT source, g FROM
         |  (SELECT source, unnest(sh) AS g FROM s) u),
         |base AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY source),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |  count(*) AS n_shared FROM ss a JOIN ss b ON a.g = b.g
         |  WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared, n_sh AS n_a,
         |  ${femitSql("CAST(n_shared AS DOUBLE) / CAST(n_sh AS DOUBLE)")} AS containment
         |FROM pairs JOIN base ON base.source = pairs.src_a
         |ORDER BY src_a, src_b""".stripMargin,
    // Same exact frequency ranking with token tiebreaks, same
    // top-k/x_(k+1) ln ratios on exact integers, dsum fold, one
    // SELECT per k unioned.
    "q365_hill_tail" -> {
      def row(k: Int) =
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  ${femitSql(dsumSql(s"ln(CAST(cnt AS DOUBLE) / CAST((SELECT cnt FROM ranked WHERE rnk = $k + 1) AS DOUBLE))"))} AS log_ratio_sum,
           |  ${femitSql(s"CAST($k AS DOUBLE) / ${dsumSql(s"ln(CAST(cnt AS DOUBLE) / CAST((SELECT cnt FROM ranked WHERE rnk = $k + 1) AS DOUBLE))")}")} AS hill_alpha
           |FROM ranked WHERE rnk <= $k""".stripMargin
      s"""WITH tf AS (SELECT t, count(*) AS cnt FROM (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents) z GROUP BY t),
         |ranked AS (SELECT t, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, t ASC) AS rnk FROM tf)
         |SELECT * FROM (
         |${row(5)}
         |UNION ALL
         |${row(10)}
         |UNION ALL
         |${row(15)}
         |UNION ALL
         |${row(20)})
         |ORDER BY k""".stripMargin
    },
    // Same one-scan per-doc lengths, same exact truncation/padding
    // census per cut, same fixed-order share divisions.
    "q366_context_ladder" ->
      s"""WITH lens AS (SELECT CAST(len(list_filter(string_split(text, ' '),
         |  x -> x <> '')) AS BIGINT) AS len FROM documents),
         |cuts AS (SELECT CAST(unnest([32, 64, 128, 256]) AS BIGINT)
         |  AS max_len),
         |cen AS (SELECT max_len, count(*) AS n_docs,
         |  CAST(sum(len) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN len > max_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(sum(CASE WHEN len > max_len THEN len - max_len ELSE 0 END)
         |    AS BIGINT) AS tokens_lost,
         |  CAST(sum(CASE WHEN len <= max_len THEN max_len - len ELSE 0 END)
         |    AS BIGINT) AS padding_tokens
         |  FROM lens CROSS JOIN cuts GROUP BY max_len)
         |SELECT max_len, n_docs, total_tokens, n_truncated, tokens_lost,
         |  padding_tokens,
         |  ${femitSql("CAST(tokens_lost AS DOUBLE) / CAST(total_tokens AS DOUBLE)")} AS truncation_share,
         |  ${femitSql("CAST(padding_tokens AS DOUBLE) / CAST(n_docs * max_len AS DOUBLE)")} AS padding_share
         |FROM cen ORDER BY max_len""".stripMargin,
    // Same bounded sample, same unit normalization, same
    // ||sum of units||^2 - n identity (no pair table on either side),
    // same per-dim dsum moments and ROUNDED top-variance argmax.
    "q367_anisotropy" -> {
      val normSql = foldSum.format("list_transform(v, x -> x * x)")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 400),
         |n0 AS (SELECT vec_id, v, sqrt($normSql) AS norm FROM vv),
         |uu AS (SELECT vec_id, list_transform(v, x -> x / norm) AS u, v
         |  FROM n0),
         |dims AS (SELECT vec_id, i AS d, u[i+1] AS x, v[i+1] AS raw FROM
         |  (SELECT vec_id, unnest(range(len(u))) AS i, u, v FROM uu) z),
         |perdim AS (SELECT d, ${dsumSql("x")} AS su, count(*) AS n,
         |  ${dsumSql("raw")} AS sr, ${dsumSql("raw * raw")} AS srr
         |  FROM dims GROUP BY d),
         |byvar AS (SELECT d, su, n,
         |  (srr - sr * sr / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS dvar
         |  FROM perdim),
         |agg AS (SELECT min(n) AS n, ${dsumSql("su * su")} AS nsq,
         |  ${dsumSql("dvar")} AS tvar, max(dvar) AS maxvar,
         |  count(*) AS ndim FROM byvar),
         |top AS (SELECT d AS top_var_dim, dv AS top_var FROM
         |  (SELECT d, ${femitSql("dvar")} AS dv FROM byvar) t
         |  ORDER BY dv DESC, d ASC LIMIT 1)
         |SELECT n, ndim,
         |  ${femitSql("(nsq - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))")} AS mean_pairwise_cos,
         |  ${femitSql("nsq / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))")} AS mean_dir_mass,
         |  ${femitSql("maxvar * CAST(ndim AS DOUBLE) / tvar")} AS var_concentration,
         |  top_var_dim, top_var
         |FROM agg CROSS JOIN top""".stripMargin
    },
    // Same vocab -> counts-of-counts chain, same r+1 left join, same
    // fixed-order GT ratio chains.
    "q414_good_turing" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
         |  x -> x <> '') AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(range(len(ts))) AS pos FROM t),
         |uni AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS r
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
         |  AND b.pos = a.pos + 1 GROUP BY 1, 2),
         |coc AS (SELECT r, count(*) AS n_r FROM uni GROUP BY 1),
         |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN r = 1 THEN n_r END) AS BIGINT) AS n1
         |  FROM coc),
         |j AS (SELECT a.r, a.n_r, b.n_r AS n_r1 FROM coc a
         |  LEFT JOIN coc b ON b.r = a.r + 1 WHERE a.r <= 10)
         |SELECT r, n_r, coalesce(n_r1, 0) AS n_r_next,
         |  ${femitSql("CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)" +
        " / CAST(n_r AS DOUBLE)")} AS r_star,
         |  ${femitSql("CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)" +
        " / CAST(n_r AS DOUBLE) * CAST(n_r AS DOUBLE)" +
        " / CAST(n_total AS DOUBLE)")} AS p_mass,
         |  ${femitSql("CAST(n1 AS DOUBLE) / CAST(n_total AS DOUBLE)")}
         |    AS p_unseen
         |FROM j CROSS JOIN tot ORDER BY r""".stripMargin,
    // Same bigram spectrum as q414; Chao1 bias-corrected chain and
    // Good's coverage as fixed ratios over exact integers.
    "q429_chao1" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
         |  x -> x <> '') AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(range(len(ts))) AS pos FROM t),
         |uni AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS r
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
         |  AND b.pos = a.pos + 1 GROUP BY 1, 2),
         |coc AS (SELECT r, count(*) AS n_r FROM uni GROUP BY 1),
         |ag AS (SELECT CAST(sum(n_r) AS BIGINT) AS v_obs,
         |  CAST(sum(r * n_r) AS BIGINT) AS n_total,
         |  coalesce(CAST(sum(CASE WHEN r = 1 THEN n_r END) AS BIGINT), 0)
         |    AS n1,
         |  coalesce(CAST(sum(CASE WHEN r = 2 THEN n_r END) AS BIGINT), 0)
         |    AS n2 FROM coc)
         |SELECT v_obs, n_total, n1, n2,
         |  ${femitSql("CAST(v_obs AS DOUBLE) + CAST(n1 AS DOUBLE)" +
        " * CAST(n1 - 1 AS DOUBLE) / (2.0 * CAST(n2 + 1 AS DOUBLE))")}
         |    AS chao1,
         |  ${femitSql("CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)" +
        " / (2.0 * CAST(n2 + 1 AS DOUBLE))")} AS undetected_est,
         |  ${femitSql("1.0 - CAST(n1 AS DOUBLE) / CAST(n_total AS DOUBLE)")}
         |    AS coverage
         |FROM ag""".stripMargin,
    // Same keyed-lag first-sight trick, same covering-cell band join
    // (pos//32 cells), same dyadic /32 window quotients.
    "q415_mattr" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
         |  x -> x <> '') AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(range(len(ts))) AS pos FROM t),
         |t2 AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id,
         |  tok ORDER BY pos ASC) AS prev FROM tok),
         |lens AS (SELECT doc_id, count(*) AS len,
         |  count(DISTINCT tok) AS n_distinct FROM tok GROUP BY 1),
         |starts AS (SELECT doc_id, unnest(range(0, len - 31)) AS i
         |  FROM lens WHERE len >= 32),
         |tc AS (SELECT doc_id, pos, prev,
         |  unnest([pos // 32 - 1, pos // 32]) AS c FROM t2),
         |cand AS (SELECT s.doc_id, s.i, tc.prev FROM starts s
         |  JOIN tc ON tc.doc_id = s.doc_id AND tc.c = s.i // 32
         |  WHERE tc.pos >= s.i AND tc.pos < s.i + 32),
         |perwin AS (SELECT doc_id, i, CAST(sum(CASE WHEN prev IS NULL
         |  OR prev < i THEN 1 ELSE 0 END) AS BIGINT) AS d
         |  FROM cand GROUP BY 1, 2),
         |perdoc AS (SELECT doc_id, count(*) AS n_windows,
         |  ${dsumSql("CAST(d AS DOUBLE) / 32.0")} AS sd
         |  FROM perwin GROUP BY 1)
         |SELECT l.doc_id, l.len AS n_tokens,
         |  coalesce(p.n_windows, 0) AS n_windows,
         |  ${femitSql("CASE WHEN p.n_windows IS NOT NULL" +
        " THEN p.sd / CAST(p.n_windows AS DOUBLE)" +
        " ELSE CAST(l.n_distinct AS DOUBLE) / CAST(l.len AS DOUBLE) END")}
         |    AS mattr,
         |  ${femitSql("CAST(l.n_distinct AS DOUBLE) / CAST(l.len AS DOUBLE)")}
         |    AS ttr
         |FROM lens l LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY l.doc_id""".stripMargin,
    // Same raw tokens, same anchored RE2-safe classes, same integer
    // Luhn fold (reversed positions, >9 - 9 doubling).
    "q416_pii_audit" -> {
      val luhn = """list_reduce(list_prepend(0,
        |    list_transform(generate_series(1, length(tok)), i ->
        |    CASE WHEN i % 2 = 1
        |      THEN ascii(substr(reverse(tok), i, 1)) - 48
        |      ELSE CASE WHEN (ascii(substr(reverse(tok), i, 1)) - 48) * 2 > 9
        |        THEN (ascii(substr(reverse(tok), i, 1)) - 48) * 2 - 9
        |        ELSE (ascii(substr(reverse(tok), i, 1)) - 48) * 2 END END)),
        |    (a, b) -> a + b) % 10""".stripMargin
      s"""WITH tok0 AS (SELECT 'documents.text' AS surface, source AS grp,
         |  unnest(string_split(text, ' ')) AS tok FROM documents),
         |tok1 AS (SELECT 'events.props' AS surface, event_type AS grp,
         |  json_extract_string(props, '$$.k') AS tok FROM events),
         |tk AS (SELECT surface, grp, tok FROM tok0 WHERE tok <> ''
         |  UNION ALL SELECT surface, grp, tok FROM tok1
         |  WHERE tok IS NOT NULL AND tok <> ''),
         |cls AS (SELECT surface, grp,
         |  regexp_full_match(tok,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS is_email,
         |  regexp_full_match(tok,
         |    '([0-9]{1,3}\\.){3}[0-9]{1,3}') AS is_ipv4,
         |  regexp_full_match(tok, '[0-9]{2,19}') AS is_digit_run,
         |  regexp_full_match(tok, '[0-9]{2,19}') AND $luhn = 0 AS luhn_ok,
         |  regexp_full_match(tok, '[0-9]{2,19}') AND $luhn = 0
         |    AND length(tok) >= 13 AS is_card
         |  FROM tk)
         |SELECT surface, grp, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN is_digit_run THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_digit_runs,
         |  CAST(sum(CASE WHEN luhn_ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_luhn_valid,
         |  CAST(sum(CASE WHEN is_card THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_card_like,
         |  CAST(sum(CASE WHEN is_email THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_email,
         |  CAST(sum(CASE WHEN is_ipv4 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ipv4,
         |  ${femitSql("CAST(sum(CASE WHEN is_email THEN 1 ELSE 0 END)" +
        " + sum(CASE WHEN is_ipv4 THEN 1 ELSE 0 END)" +
        " + sum(CASE WHEN is_card THEN 1 ELSE 0 END) AS DOUBLE)" +
        " / CAST(count(*) AS DOUBLE)")} AS redact_rate
         |FROM cls GROUP BY surface, grp
         |ORDER BY surface, grp""".stripMargin
    },
    // Same 5-fold split and pair CTEs as q351; KN pieces: left/
    // continuation type counts off the bigram-type table, the add-one
    // continuation floor, the fixed D=0.75 discount chain in the same
    // left-assoc IEEE order, dsum fold, femit emission.
    "q376_kneser_ney" -> {
      val pc = "CAST(coalesce(n1w2, 0) + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)"
      s"""WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
         |tr AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
         |ho AS (SELECT * FROM base WHERE doc_id % 5 = 0),
         |tp AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2 FROM
         |  (SELECT doc_id, unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM tr) x),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM tp GROUP BY 1, 2),
         |lf AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
         |  count(*) AS n1w1 FROM bi GROUP BY 1),
         |cr AS (SELECT w2, count(*) AS n1w2 FROM bi GROUP BY 1),
         |cs AS (SELECT (SELECT count(*) FROM bi) AS tt,
         |  (SELECT count(DISTINCT t) FROM
         |    (SELECT unnest(ts) AS t FROM tr) z) AS v),
         |hp AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2 FROM
         |  (SELECT doc_id, unnest(range(greatest(len(ts) - 1, 0))) AS i, ts FROM ho) x),
         |sc AS (SELECT
         |  CASE WHEN cu IS NULL THEN $pc
         |    ELSE greatest(CAST(coalesce(cb, 0) AS DOUBLE) - 0.75, 0.0)
         |        / CAST(cu AS DOUBLE)
         |      + 0.75 * CAST(n1w1 AS DOUBLE) / CAST(cu AS DOUBLE) * $pc
         |    END AS p,
         |  CASE WHEN cu IS NULL THEN 1 ELSE 0 END AS oovw1,
         |  CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS unseenbi
         |  FROM hp LEFT JOIN bi USING (w1, w2) LEFT JOIN lf USING (w1)
         |  LEFT JOIN cr USING (w2) CROSS JOIN cs),
         |a AS (SELECT count(*) AS n_bigrams,
         |  CAST(sum(oovw1) AS BIGINT) AS n_unseen_ctx,
         |  CAST(sum(unseenbi) AS BIGINT) AS n_unseen_bigrams,
         |  ${dsumSql("ln(p)")} / count(*) AS avg0 FROM sc)
         |SELECT n_bigrams, n_unseen_ctx, n_unseen_bigrams,
         |  ${femitSql("avg0")} AS avg_logp,
         |  ${femitSql("exp(-avg0)")} AS held_out_ppl
         |FROM a""".stripMargin
    },
    // Same (doc_id, tok_pos, vec) token-vector relation (fnv token
    // count, rotation generator), same fsum cosine, the per-(query-
    // token, doc) max and the sum over query tokens both on the
    // VARCHAR-routed DECIMAL lattice (the dsum discipline applied to
    // max/sum), ranked by the femit'd score with vec_id tiebreak.
    "q378_maxsim" -> {
      val snormSql = s"sqrt(${foldSum.format("list_transform(sv, x -> x * x)")})"
      val ntokSql = s"1 + ${fnvSql("(CAST(vec_id AS VARCHAR) || ':ntok')")} % 8"
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nt AS (SELECT vec_id, v, $ntokSql AS n_tok FROM vv),
         |sub AS (SELECT vec_id, t AS i,
         |  list_transform(range(64), j -> v[((j + t) % 64) + 1]) AS sv
         |  FROM nt, LATERAL (SELECT unnest(range(n_tok)) AS t) ts),
         |nz AS (SELECT * FROM
         |  (SELECT vec_id, i, sv, $snormSql AS snorm FROM sub) ns
         |  WHERE snorm > 0.0),
         |q AS (SELECT vec_id AS qid, i AS qi, sv AS qv, snorm AS qn
         |  FROM nz WHERE vec_id < 10),
         |sims AS (SELECT q.qid, q.qi, d.vec_id,
         |  ${dotSql("d.sv", "q.qv")} / (d.snorm * q.qn) AS s
         |  FROM nz d, q WHERE d.vec_id <> q.qid),
         |mx AS (SELECT qid, qi, vec_id,
         |  max(CAST(CAST(s AS VARCHAR) AS DECIMAL(38,12))) AS ms
         |  FROM sims GROUP BY qid, qi, vec_id),
         |sc AS (SELECT qid, vec_id, count(*) AS n_qtok,
         |  ${femitSql("CAST(CAST(sum(ms) AS VARCHAR) AS DOUBLE)")} AS score
         |  FROM mx GROUP BY qid, vec_id),
         |r AS (SELECT qid, vec_id, n_qtok, score, row_number() OVER (
         |  PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk FROM sc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, n_qtok, score
         |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
    },
    // Same q76 BM25 core, same dsum-ranked feedback set, same RM1
    // mass chain wd*tf/dl through dsum, expansion selected by the
    // femit'd weight with tok tiebreak, same 0.25/0.5-normalized
    // interpolation literals, final rank by the exact dsum score.
    "q380_rm3_expansion" -> {
      val dsumBm =
        "CAST(CAST(SUM(CAST(CAST(bm25 AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      val dsumWts =
        "CAST(CAST(SUM(CAST(CAST(wt * bm25 AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      s"""WITH ${bm25CoreCte(1.2, 0.75)},
         |ini AS (SELECT doc_id, $dsumBm AS s0 FROM bm
         |  WHERE tok IN ('spark', 'join') GROUP BY doc_id
         |  ORDER BY s0 DESC, doc_id ASC LIMIT 10),
         |stot AS (SELECT ${dsumSql("s0")} AS st FROM ini),
         |fb AS (SELECT doc_id, s0 / st AS wd FROM ini CROSS JOIN stot),
         |rm1 AS (SELECT tok,
         |  ${dsumSql("wd * CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)")} AS rm1
         |  FROM tf JOIN dl USING (doc_id) JOIN fb USING (doc_id)
         |  WHERE tok NOT IN ('spark', 'join') GROUP BY tok),
         |sel AS (SELECT tok, rm1, ${femitSql("rm1")} AS rw FROM rm1
         |  ORDER BY rw DESC, tok ASC LIMIT 5),
         |rt AS (SELECT ${dsumSql("rm1")} AS rt FROM sel),
         |wx AS (SELECT tok, 0.5 * rm1 / rt AS wt FROM sel CROSS JOIN rt),
         |wo(tok, wt) AS (VALUES ('spark', 0.25), ('join', 0.25)),
         |wts AS (SELECT tok, wt FROM wo UNION ALL SELECT tok, wt FROM wx),
         |fin AS (SELECT doc_id, count(*) AS n_terms, $dsumWts AS score
         |  FROM bm JOIN wts USING (tok) GROUP BY doc_id),
         |rr AS (SELECT doc_id, n_terms, score, row_number() OVER (
         |  ORDER BY score DESC, doc_id ASC) AS rnk FROM fin)
         |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms, score
         |FROM rr WHERE rnk <= 10 ORDER BY rnk""".stripMargin
    },
    // Same ordered first-fail rules (integer cross-multiplied stop
    // ratio, min-doc_id dup flag), same 5-row waterfall algebra.
    "q379_filter_cascade" ->
      s"""WITH base AS (SELECT doc_id, lang, text,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |b2 AS (SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(ts, t -> t IN ('the','of','and','to',
         |    'in','a','is','for','on','with'))) AS BIGINT) AS n_stop,
         |  min(doc_id) OVER (PARTITION BY text) AS first_id FROM base),
         |dd AS (SELECT CASE WHEN n_tok < 16 THEN 1
         |  WHEN n_tok > 90 THEN 2
         |  WHEN n_stop * 5 > n_tok THEN 3
         |  WHEN lang NOT IN ('en','de','es','fr') THEN 4
         |  WHEN doc_id <> first_id THEN 5 ELSE 0 END AS died_at FROM b2),
         |k AS (SELECT died_at, count(*) AS kk FROM dd GROUP BY died_at),
         |tot AS (SELECT count(*) AS n_total FROM dd),
         |st AS (SELECT unnest(range(1, 6)) AS stage_idx),
         |w AS (SELECT stage_idx, coalesce(kk, 0) AS n_killed
         |  FROM st LEFT JOIN k ON stage_idx = died_at),
         |w2 AS (SELECT stage_idx, n_killed,
         |  n_total - coalesce(CAST(sum(n_killed) OVER (
         |    ORDER BY stage_idx ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |    0) AS n_in
         |  FROM w CROSS JOIN tot)
         |SELECT stage_idx,
         |  (['too_short','too_long','stop_heavy','lang_filter',
         |    'exact_dup'])[CAST(stage_idx AS INTEGER)] AS stage,
         |  n_in, CAST(n_killed AS BIGINT) AS n_killed,
         |  n_in - n_killed AS n_out,
         |  ${femitSql("CAST(n_killed AS DOUBLE) / CAST(n_in AS DOUBLE)")}
         |    AS kill_share
         |FROM w2 ORDER BY stage_idx""".stripMargin,
    // Same distinct-word candidate substrings, same >=4-distinct-word
    // vocab + all single chars, same precomputed longest-match table,
    // the IDENTICAL recursive walk text, same occurrence-weighted
    // per-language fertility sums.
    "q383_wordpiece_fertility" ->
      s"""WITH RECURSIVE
         |tok AS (SELECT lang, t AS w FROM (SELECT lang,
         |    unnest(string_split(text, ' ')) AS t FROM documents) u
         |  WHERE t <> ''),
         |lw AS (SELECT lang, w, count(*) AS n_occ FROM tok GROUP BY lang, w),
         |words AS (SELECT DISTINCT w FROM lw),
         |pos0 AS (SELECT w, unnest(range(1, length(w) + 1)) AS pos FROM words),
         |cd0 AS (SELECT w, pos,
         |  unnest(range(1, least(3, length(w) - pos + 1) + 1)) AS l FROM pos0),
         |cand AS (SELECT w, pos, substring(w, pos, l) AS piece FROM cd0),
         |voc AS (SELECT piece FROM (SELECT piece, count(DISTINCT w) AS nw
         |    FROM cand WHERE length(piece) > 1 GROUP BY piece) x
         |  WHERE nw >= 4
         |  UNION SELECT DISTINCT piece FROM cand WHERE length(piece) = 1),
         |lm AS (SELECT w, pos, max(length(piece)) AS step
         |  FROM cand JOIN voc USING (piece) GROUP BY w, pos),
         |seg(w, pos, np) AS (
         |  SELECT w, 1, 0 FROM words
         |  UNION ALL
         |  SELECT s.w, s.pos + l.step, s.np + 1
         |  FROM seg s JOIN lm l ON l.w = s.w AND l.pos = s.pos
         |  WHERE s.pos <= length(s.w)),
         |fin AS (SELECT w, np AS n_pieces FROM seg WHERE pos = length(w) + 1),
         |ag AS (SELECT lang, CAST(sum(n_occ) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(n_occ * n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(CASE WHEN n_pieces = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unsegmented_types,
         |  CAST(sum(n_occ * length(w)) AS BIGINT) AS n_chars
         |  FROM lw JOIN fin USING (w) GROUP BY lang)
         |SELECT lang, n_tokens, n_types, n_pieces, n_unsegmented_types,
         |  ${femitSql("CAST(n_pieces AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
         |    AS pieces_per_token,
         |  ${femitSql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)")}
         |    AS chars_per_piece
         |FROM ag ORDER BY lang""".stripMargin,
    // Same <1500 audit slice, same q86 title/key shapes, same exact
    // counts; levenshtein agrees on both engines (q86 precedent).
    "q384_blocking_eval" ->
      s"""WITH t AS (SELECT doc_id AS id,
         |  array_to_string((string_split(text, ' '))[1:5], ' ') AS s
         |  FROM documents WHERE doc_id < 1500),
         |tr AS (SELECT a.id AS d1, b.id AS d2 FROM t a JOIN t b
         |  ON a.id < b.id AND levenshtein(a.s, b.s) <= 10),
         |cen AS (SELECT (SELECT count(*) FROM t) AS n_records,
         |  (SELECT count(*) FROM tr) AS n_true_pairs),
         |k1 AS (SELECT id, string_split(s, ' ')[1] || ':' ||
         |  CAST(length(s) // 4 AS VARCHAR) AS bk FROM t),
         |k2 AS (SELECT id, string_split(s, ' ')[-1] || ':' ||
         |  CAST(length(s) // 4 AS VARCHAR) AS bk FROM t),
         |c1 AS (SELECT a.id AS d1, b.id AS d2 FROM k1 a JOIN k1 b
         |  ON a.bk = b.bk AND a.id < b.id),
         |c2 AS (SELECT a.id AS d1, b.id AS d2 FROM k2 a JOIN k2 b
         |  ON a.bk = b.bk AND a.id < b.id),
         |cu AS (SELECT d1, d2 FROM c1 UNION SELECT d1, d2 FROM c2),
         |u AS (
         |  SELECT 'first_tok_len4' AS scheme,
         |    (SELECT count(*) FROM c1) AS n_cand_pairs,
         |    (SELECT count(*) FROM c1 JOIN tr USING (d1, d2)) AS n_found
         |  UNION ALL
         |  SELECT 'last_tok_len4',
         |    (SELECT count(*) FROM c2),
         |    (SELECT count(*) FROM c2 JOIN tr USING (d1, d2))
         |  UNION ALL
         |  SELECT 'union_first_last',
         |    (SELECT count(*) FROM cu),
         |    (SELECT count(*) FROM cu JOIN tr USING (d1, d2)))
         |SELECT scheme, n_records, n_true_pairs, n_cand_pairs, n_found,
         |  ${femitSql("1.0 - CAST(n_cand_pairs AS DOUBLE) / " +
        "(CAST(n_records AS DOUBLE) * CAST(n_records - 1 AS DOUBLE) / 2.0)")}
         |    AS reduction_ratio,
         |  ${femitSql("CAST(n_found AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)")}
         |    AS pair_completeness
         |FROM u CROSS JOIN cen ORDER BY scheme""".stripMargin,
    // Same q24 quality chain, same (source x lang) sufficient-
    // statistics grid, same -p ln p guards and fixed-order deltas.
    "q385_source_ablation" ->
      s"""WITH t AS (SELECT source, lang,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |f AS (SELECT source, lang,
         |  0.5 * (CAST(len(list_filter(ts,
         |      t -> regexp_full_match(t, '^[a-z-_]+$$'))) AS DOUBLE) / len(ts))
         |  + 0.3 * (1.0 - CAST(len(list_filter(ts,
         |      t -> list_contains(['the','of','and','to','in','a','is',
         |        'for','on','with'], t))) AS DOUBLE) / len(ts))
         |  + 0.2 * least(CAST(len(ts) AS DOUBLE) / 64.0, 1.0) AS q FROM t),
         |cells AS (SELECT source, lang, count(*) AS c_sl,
         |  ${dsumSql("q")} AS q_sl FROM f GROUP BY source, lang),
         |lt AS (SELECT lang, CAST(sum(c_sl) AS BIGINT) AS c_l
         |  FROM cells GROUP BY lang),
         |st2 AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS n_s,
         |  ${dsumSql("q_sl")} AS q_s FROM cells GROUP BY source),
         |g AS (SELECT CAST(sum(c_sl) AS BIGINT) AS nn,
         |  ${dsumSql("q_sl")} AS qq FROM cells),
         |grid AS (SELECT s2.source, s2.n_s, lt.lang, lt.c_l,
         |  coalesce(c.c_sl, 0) AS c_sl, g.nn, g.qq
         |  FROM st2 s2 CROSS JOIN lt
         |  LEFT JOIN cells c ON c.source = s2.source AND c.lang = lt.lang
         |  CROSS JOIN g),
         |e AS (SELECT source, n_s, nn, qq,
         |  CASE WHEN CAST(c_l - c_sl AS DOUBLE) / CAST(nn - n_s AS DOUBLE) > 0.0
         |    THEN -(CAST(c_l - c_sl AS DOUBLE) / CAST(nn - n_s AS DOUBLE))
         |      * ln(CAST(c_l - c_sl AS DOUBLE) / CAST(nn - n_s AS DOUBLE))
         |    ELSE 0.0 END AS h_abl,
         |  CASE WHEN CAST(c_l AS DOUBLE) / CAST(nn AS DOUBLE) > 0.0
         |    THEN -(CAST(c_l AS DOUBLE) / CAST(nn AS DOUBLE))
         |      * ln(CAST(c_l AS DOUBLE) / CAST(nn AS DOUBLE))
         |    ELSE 0.0 END AS h_g
         |  FROM grid),
         |ag AS (SELECT source, min(n_s) AS n_docs, min(qq) AS qq,
         |  min(nn) AS nn, ${dsumSql("h_abl")} AS ent_abl,
         |  ${dsumSql("h_g")} AS ent_glob
         |  FROM e GROUP BY source)
         |SELECT ag.source, n_docs,
         |  ${femitSql("(qq - q_s) / CAST(nn - n_docs AS DOUBLE) " +
        "- qq / CAST(nn AS DOUBLE)")} AS delta_mean_quality,
         |  ${femitSql("ent_abl - ent_glob")} AS delta_lang_entropy
         |FROM ag JOIN st2 ON st2.source = ag.source
         |ORDER BY ag.source""".stripMargin,
    // Same segment fingerprints (4-token windows through fnv), same
    // inverted-index pair counts, same containment threshold.
    "q388_frame_neardup" ->
      s"""WITH t3 AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |sg AS (SELECT doc_id, array_to_string(ts[i*4+1 : i*4+4], ' ')
         |    AS segtxt
         |  FROM (SELECT doc_id, ts, unnest(range((len(ts) + 3) // 4)) AS i
         |    FROM t3 WHERE len(ts) > 0) x),
         |fp AS (SELECT DISTINCT doc_id, ${fnvSql("segtxt")} AS sig FROM sg),
         |nf AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |  FROM fp a JOIN fp b ON a.sig = b.sig AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT d1, d2, n_shared, na.nf AS nfa, nb.nf AS nfb
         |  FROM pr JOIN nf na ON na.doc_id = pr.d1
         |  JOIN nf nb ON nb.doc_id = pr.d2)
         |SELECT d1, d2, n_shared, nfa, nfb,
         |  ${femitSql("CAST(n_shared AS DOUBLE) / CAST(least(nfa, nfb) AS DOUBLE)")}
         |    AS containment
         |FROM j
         |WHERE CAST(n_shared AS DOUBLE) / CAST(least(nfa, nfb) AS DOUBLE) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    // Same per-user truth flag, same fnv(user:rr) coin at p=0.75, same
    // debiasing literals 0.25 / 0.5.
    "q389_randomized_response" -> {
      val u = s"CAST(${fnvSql("(CAST(user_id AS VARCHAR) || \':rr\')")} AS DOUBLE) / 4294967296.0"
      s"""WITH per AS (SELECT user_id,
         |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS truth
         |  FROM events GROUP BY user_id),
         |c AS (SELECT truth,
         |  CASE WHEN $u < 0.75 THEN truth ELSE 1 - truth END AS report
         |  FROM per),
         |a AS (SELECT count(*) AS n_users,
         |  CAST(sum(truth) AS BIGINT) AS n_true,
         |  CAST(sum(report) AS BIGINT) AS n_reported FROM c)
         |SELECT n_users, n_true, n_reported,
         |  ${femitSql("CAST(n_true AS DOUBLE) / CAST(n_users AS DOUBLE)")}
         |    AS pi_true,
         |  ${femitSql("(CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE) - 0.25) / 0.5")}
         |    AS pi_hat,
         |  ${femitSql("abs((CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE) - 0.25) / 0.5" +
        " - CAST(n_true AS DOUBLE) / CAST(n_users AS DOUBLE))")} AS abs_err
         |FROM a""".stripMargin
    },
    // Brute-force Hamming join (see phashPairsOracle scaladoc: at
    // maxDist=3 brute force IS the lossless-LSH output).
    "q373_perceptual_neardup" ->
      s"""SELECT d1, d2, hamming FROM ($phashPairsOracle) q
         |ORDER BY d1, d2""".stripMargin,
    // Majority vote over the three modality pair sets; each leg is the
    // already-green single-detector oracle, composed by pair key.
    "q374_consensus_majority" ->
      s"""WITH mh3 AS (SELECT d1, d2 FROM ($minhashOracle) x),
         |ls3 AS (SELECT v1 AS d1, v2 AS d2 FROM (${lshNearDupOracle(0.2)}) y),
         |ph3 AS (SELECT d1, d2 FROM ($phashPairsOracle) z),
         |u3 AS (SELECT d1, d2 FROM mh3 UNION
         |  SELECT d1, d2 FROM ls3 UNION SELECT d1, d2 FROM ph3),
         |fl AS (SELECT u3.d1, u3.d2,
         |  CAST(CASE WHEN mh3.d1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS by_text,
         |  CAST(CASE WHEN ls3.d1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS by_embed,
         |  CAST(CASE WHEN ph3.d1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS by_phash
         |  FROM u3
         |  LEFT JOIN mh3 ON mh3.d1 = u3.d1 AND mh3.d2 = u3.d2
         |  LEFT JOIN ls3 ON ls3.d1 = u3.d1 AND ls3.d2 = u3.d2
         |  LEFT JOIN ph3 ON ph3.d1 = u3.d1 AND ph3.d2 = u3.d2)
         |SELECT d1, d2, by_text, by_embed, by_phash,
         |  by_text + by_embed + by_phash AS n_detectors
         |FROM fl WHERE by_text + by_embed + by_phash >= 2
         |ORDER BY d1, d2""".stripMargin,
    // Brute-force batch×history Hamming join over the same pHash
    // words: the MIH banding is pigeonhole-lossless at maxDist=3, so
    // the store-probe path must reproduce this set exactly — through
    // the bucketed persist/read-back boundary.
    "q392_phash_incremental" ->
      s"""WITH $phashWordsCtes
         |SELECT f.doc_id AS doc_id, h.doc_id AS dup_of,
         |  CAST(bit_count(xor(f.ph_hi, h.ph_hi))
         |    + bit_count(xor(f.ph_lo, h.ph_lo)) AS BIGINT) AS hamming
         |FROM pw f JOIN pw h
         |  ON f.doc_id % 2 = 1 AND h.doc_id % 2 = 0
         |WHERE bit_count(xor(f.ph_hi, h.ph_hi))
         |  + bit_count(xor(f.ph_lo, h.ph_lo)) <= 3
         |ORDER BY doc_id, dup_of""".stripMargin,
    // The q388 fingerprint/containment chain restricted to
    // batch(odd)-vs-history(even) pairs — what the store probe must
    // reproduce through the bucketed persist/read-back boundary.
    "q397_frame_incremental" ->
      s"""WITH t3 AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |sg AS (SELECT doc_id, array_to_string(ts[i*4+1 : i*4+4], ' ')
         |    AS segtxt
         |  FROM (SELECT doc_id, ts, unnest(range((len(ts) + 3) // 4)) AS i
         |    FROM t3 WHERE len(ts) > 0) x),
         |fp AS (SELECT DISTINCT doc_id, ${fnvSql("segtxt")} AS sig FROM sg),
         |nf AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
         |pr AS (SELECT f.doc_id AS doc_id, h.doc_id AS dup_of,
         |    count(*) AS n_shared
         |  FROM fp f JOIN fp h
         |  ON f.sig = h.sig AND f.doc_id % 2 = 1 AND h.doc_id % 2 = 0
         |  GROUP BY 1, 2),
         |j AS (SELECT pr.doc_id AS doc_id, pr.dup_of AS dup_of,
         |  n_shared, na.nf AS nfa, nb.nf AS nfb
         |  FROM pr JOIN nf na ON na.doc_id = pr.doc_id
         |  JOIN nf nb ON nb.doc_id = pr.dup_of)
         |SELECT doc_id, dup_of, n_shared, nfa, nfb,
         |  ${femitSql("CAST(n_shared AS DOUBLE) / CAST(least(nfa, nfb) AS DOUBLE)")}
         |    AS containment
         |FROM j
         |WHERE CAST(n_shared AS DOUBLE) / CAST(least(nfa, nfb) AS DOUBLE) >= 0.5
         |ORDER BY doc_id, dup_of""".stripMargin,
    // The q94-leg LSH pair set (tau=0.2) oriented train->eval, q111's
    // eval partition, argmax by (sim DESC, partner ASC).
    "q398_semantic_decontam" ->
      s"""WITH pr AS (SELECT v1, v2, sim FROM (${lshNearDupOracle(0.2)}) p),
         |fl AS (SELECT v1 AS doc_id, v2 AS b, sim FROM pr
         |  UNION ALL SELECT v2, v1, sim FROM pr),
         |tr AS (SELECT doc_id, b, sim FROM fl
         |  WHERE doc_id % 17 <> 0 AND b % 17 = 0),
         |rk AS (SELECT doc_id, b, sim,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY sim DESC, b ASC) AS r,
         |  count(*) OVER (PARTITION BY doc_id) AS nm FROM tr)
         |SELECT rk.doc_id, lang, CAST(nm AS BIGINT) AS n_eval_matches,
         |  b AS best_eval_id, ${femitSql("sim")} AS best_sim
         |FROM rk JOIN documents d ON d.doc_id = rk.doc_id
         |WHERE r = 1 ORDER BY rk.doc_id""".stripMargin,
    // q385's exact per-doc quality reduced to per-source (Σq, n), the
    // SAME 200 fnv('dperm:p:source') draws, VARCHAR-routed DECIMAL
    // running sums (the q382 window rule), telescoping marginals,
    // dsum mean + 5/196 order-statistic CI.
    "q399_data_shapley" -> dataShapleyOracle,
    // The q399 valuation replayed, micro-grid clipped rates, q112's
    // fnv(doc_id:swr) coin — every output column an exact integer.
    "q400_shapley_reweight" ->
      s"""WITH sh AS (SELECT source, n_docs,
         |  CAST(floor(greatest(shapley, 0.0) * 1000000 + 0.5) AS BIGINT)
         |    AS micro
         |  FROM ($dataShapleyOracle) s0),
         |mx AS (SELECT max(micro) AS mxm FROM sh),
         |wt AS (SELECT source, n_docs,
         |  (micro * 1000) // nullif(mxm, 0) AS keep_lt
         |  FROM sh CROSS JOIN mx),
         |kp AS (SELECT d.source, count(*) AS n_kept
         |  FROM documents d JOIN wt ON wt.source = d.source
         |  WHERE ${fnvSql("(CAST(doc_id AS VARCHAR) || ':swr')")} % 1000
         |    < keep_lt
         |  GROUP BY d.source)
         |SELECT wt.source, n_docs, CAST(keep_lt AS BIGINT) AS keep_lt,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
         |FROM wt LEFT JOIN kp ON kp.source = wt.source
         |ORDER BY wt.source""".stripMargin,
    // Same 32768-bit bitmap as 1024 32-bit words (bit_or agg), same 4
    // fnv positions per token, min-over-positions membership, same
    // exact anti-join labels and the identical analytic-FPR IEEE chain.
    "q432_bloom_filter" -> {
      val m = 32768; val kH = 4
      val posList = (0 until kH).map(i =>
        s"${fnvSql(s"(t || ':b$i')")} % $m").mkString(", ")
      s"""WITH tok AS (SELECT DISTINCT lang, t FROM
         |  (SELECT lang, unnest(list_filter(string_split(text, ' '),
         |    x -> x <> '')) AS t FROM documents) u),
         |mem AS (SELECT DISTINCT t FROM tok WHERE lang = 'en'),
         |nm AS (SELECT count(*) AS n FROM mem),
         |mpos AS (SELECT unnest([$posList]) AS pos FROM mem),
         |bmp AS (SELECT pos // 32 AS w, bit_or(1::BIGINT << (pos % 32))
         |  AS word FROM mpos GROUP BY 1),
         |pr AS (SELECT lang, t,
         |  (t IN (SELECT t FROM mem)) AS is_member FROM tok
         |  WHERE lang <> 'en'),
         |ppos AS (SELECT lang, t, is_member, unnest([$posList]) AS pos
         |  FROM pr),
         |hit AS (SELECT lang, t, is_member,
         |  min((coalesce(word, 0::BIGINT) & (1::BIGINT << (pos % 32))) <> 0)
         |    AS bloom_hit
         |  FROM ppos LEFT JOIN bmp ON pos // 32 = bmp.w
         |  GROUP BY lang, t, is_member)
         |SELECT lang, count(*) AS n_probes,
         |  CAST(sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nonmembers,
         |  CAST(sum(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_neg,
         |  CAST(sum(CASE WHEN NOT is_member AND bloom_hit THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_false_pos,
         |  ${femitSql("CAST(sum(CASE WHEN NOT is_member AND bloom_hit" +
        " THEN 1 ELSE 0 END) AS DOUBLE) / CAST(nullif(sum(CASE WHEN NOT" +
        " is_member THEN 1 ELSE 0 END), 0) AS DOUBLE)")} AS fpr_measured,
         |  ${femitSql(s"pow(1.0 - pow(1.0 - ${1.0 / m}," +
        s" $kH.0 * (SELECT CAST(n AS DOUBLE) FROM nm)), $kH.0)")}
         |    AS fpr_analytic
         |FROM hit GROUP BY lang ORDER BY lang""".stripMargin
    },
    // Same exact-DECIMAL per-dim mean, same d2 zip fold, the identical
    // 1/2N + d2/(2 sum) importance with the fnv(vec_id:cs) draw, and
    // both sides assigned to the first-4 centroids by the csim/cid
    // argmax; all scatters DSUM-routed.
    "q438_coreset_kmeans" -> {
      val normE = s"sqrt(${foldSum.format("list_transform(v, x -> x * x)")})"
      val d2E = foldSum.format(
        "list_transform(list_zip(v, mu), p -> (p[1] - p[2]) * (p[1] - p[2]))")
      s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |nv AS (SELECT vec_id, v, $normE AS norm FROM vv),
         |nt AS (SELECT count(*) AS n FROM vv),
         |mj AS (SELECT j, ${dsumSql("v[j + 1]")} AS sx FROM vv,
         |  (SELECT unnest(range(64)) AS j) js GROUP BY j),
         |mu AS (SELECT list(sx / (SELECT CAST(n AS DOUBLE) FROM nt)
         |  ORDER BY j) AS mu FROM mj),
         |d2t AS (SELECT vec_id, v, norm, $d2E AS d2
         |  FROM nv CROSS JOIN mu),
         |tot AS (SELECT ${dsumSql("d2")} AS td2 FROM d2t),
         |qt AS (SELECT vec_id, v, norm,
         |  0.5 / (SELECT CAST(n AS DOUBLE) FROM nt) + 0.5 * d2 / td2 AS q
         |  FROM d2t CROSS JOIN tot),
         |pt AS (SELECT vec_id, v, norm, least(1.0, 64.0 * q) AS p,
         |  CAST(${fnvSql("(CAST(vec_id AS VARCHAR) || ':cs')")} AS DOUBLE)
         |    / 4294967296.0 AS u
         |  FROM qt),
         |cent AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM nv
         |  ORDER BY vec_id LIMIT 4),
         |asg AS (SELECT pt.*, c.cid,
         |  ${cosL("pt.v", "c.cv", "pt.norm", "c.cn")} AS csim,
         |  row_number() OVER (PARTITION BY pt.vec_id ORDER BY
         |    ${cosL("pt.v", "c.cv", "pt.norm", "c.cn")} DESC, c.cid ASC)
         |    AS r
         |  FROM pt CROSS JOIN cent c),
         |a1 AS (SELECT * FROM asg WHERE r = 1),
         |fullc AS (SELECT cid, count(*) AS n_full,
         |  ${dsumSql("1.0 - csim")} AS score_full FROM a1 GROUP BY cid),
         |corec AS (SELECT cid, count(*) AS n_core_pts,
         |  ${dsumSql("1.0 / p")} AS w_core,
         |  ${dsumSql("(1.0 / p) * (1.0 - csim)")} AS score_core
         |  FROM a1 WHERE u < p GROUP BY cid)
         |SELECT f.cid, n_full, ${femitSql("score_full")} AS score_full,
         |  CAST(coalesce(n_core_pts, 0) AS BIGINT) AS n_core_pts,
         |  ${femitSql("coalesce(w_core, 0.0)")} AS w_core,
         |  ${femitSql("coalesce(score_core, 0.0)")} AS score_core,
         |  ${femitSql("abs(coalesce(score_core, 0.0) - score_full)" +
        " / nullif(score_full, 0.0)")} AS rel_err
         |FROM fullc f LEFT JOIN corec c ON c.cid = f.cid
         |ORDER BY f.cid""".stripMargin
    },
    // Same word-frequency-weighted substring vocabulary, same
    // ln(cnt)-ln(tot) piece log-probs, and the IDENTICAL unrolled
    // Viterbi fold (ascending-j strict-greater CASE nesting = the
    // Spark reduceLeft, so ties keep the smaller j on both engines;
    // NULL-accumulator yield = the Spark NaN yield — see unigramDpCtes).
    "q442_unigram_tokenize" ->
      s"""WITH $unigramR1Ctes,
         |${unigramDpCtes("lpt", "a", 4, 8)}
         |SELECT t AS word, freq, CAST(len AS BIGINT) AS n_chars,
         |  (fin).np AS n_pieces, (fin).seg AS segmentation,
         |  ${femitSql("(fin).s")} AS viterbi_logp
         |FROM fa ORDER BY word""".stripMargin,
    // Round 1 = the q442 chain verbatim; M-step piece counts from the
    // segmentation strings weighted by freq; single-char coverage with
    // floor count 1; bottom-20% multi-char prune by (cnt2, piece);
    // round-2 DP against the re-estimated table — OOV spans are NULL
    // scores, the NULL-acc fold yields exactly like the Spark NaN fold.
    "q443_unigram_hard_em" ->
      s"""WITH $unigramR1Ctes,
         |${unigramDpCtes("lpt", "a", 4, 8)},
         |u1 AS (SELECT freq, unnest(string_split((fin).seg, ' ')) AS piece
         |  FROM fa),
         |cn2 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt2
         |  FROM u1 GROUP BY piece),
         |sing AS (SELECT piece FROM vocab WHERE length(piece) = 1),
         |est AS (SELECT coalesce(c.piece, s.piece) AS piece,
         |  coalesce(c.cnt2, 1) AS cnt2
         |  FROM cn2 c FULL OUTER JOIN sing s ON c.piece = s.piece),
         |mlt AS (SELECT piece, cnt2 FROM est WHERE length(piece) >= 2),
         |npr AS (SELECT CAST(floor(count(*) * 0.2) AS BIGINT) AS np
         |  FROM mlt),
         |rk AS (SELECT piece, cnt2, row_number() OVER (
         |  ORDER BY cnt2 ASC, piece ASC) AS r FROM mlt),
         |kept AS (SELECT piece, cnt2 FROM est WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt2 FROM rk WHERE r > (SELECT np FROM npr)),
         |tot2 AS (SELECT CAST(sum(cnt2) AS BIGINT) AS tt FROM kept),
         |lpt2 AS (SELECT piece, ln(CAST(cnt2 AS DOUBLE))
         |  - ln((SELECT CAST(tt AS DOUBLE) FROM tot2)) AS lp FROM kept),
         |${unigramDpCtes("lpt2", "b", 4, 8)}
         |SELECT fa.t AS word, fa.freq,
         |  (fa.fin).np AS np_r1, (fa.fin).seg AS seg_r1,
         |  (fb.fin).np AS np_r2, (fb.fin).seg AS seg_r2,
         |  ((fa.fin).seg <> (fb.fin).seg) AS changed,
         |  ${femitSql("(fb.fin).s")} AS viterbi_logp_r2,
         |  (SELECT count(*) FROM vocab) AS n_vocab_r1,
         |  (SELECT count(*) FROM kept) AS n_vocab_r2
         |FROM fa JOIN fb ON fa.t = fb.t ORDER BY word""".stripMargin,
    // Both prune rounds replayed end to end: round 1 = the q442 CTE
    // chain, then TWO M-step+prune blocks and THREE unrolled Viterbi
    // DPs; convergence census (vocab sizes, changed-word counts)
    // recomputed as scalar subqueries exactly like the Spark
    // broadcast crossJoins.
    "q449_unigram_em_rounds" ->
      s"""WITH $unigramR1Ctes,
         |sing AS (SELECT piece FROM vocab WHERE length(piece) = 1),
         |${unigramDpCtes("lpt", "a", 4, 8)},
         |${unigramMStepCtes("fa", "2", 0.2)},
         |${unigramDpCtes("lpt2", "b", 4, 8)},
         |${unigramMStepCtes("fb", "3", 0.2)},
         |${unigramDpCtes("lpt3", "c", 4, 8)}
         |SELECT fa.t AS word, fa.freq,
         |  (fa.fin).np AS np_r1, (fb.fin).np AS np_r2, (fc.fin).np AS np_r3,
         |  (fa.fin).seg AS seg_r1, (fb.fin).seg AS seg_r2,
         |  (fc.fin).seg AS seg_r3,
         |  ((fa.fin).seg <> (fb.fin).seg) AS changed_r2,
         |  ((fb.fin).seg <> (fc.fin).seg) AS changed_r3,
         |  ${femitSql("(fc.fin).s")} AS viterbi_logp_r3,
         |  (SELECT count(*) FROM vocab) AS n_vocab_r1,
         |  (SELECT count(*) FROM kept2) AS n_vocab_r2,
         |  (SELECT count(*) FROM kept3) AS n_vocab_r3,
         |  (SELECT count(*) FROM fa a2 JOIN fb b2 ON a2.t = b2.t
         |    WHERE (a2.fin).seg <> (b2.fin).seg) AS n_changed_r2,
         |  (SELECT count(*) FROM fb b3 JOIN fc c3 ON b3.t = c3.t
         |    WHERE (b3.fin).seg <> (c3.fin).seg) AS n_changed_r3
         |FROM fa JOIN fb ON fa.t = fb.t JOIN fc ON fa.t = fc.t
         |ORDER BY word""".stripMargin,
    // Brute-force twin of the prefix-doubling naming: every L-token
    // window as a string, duplicated iff it occurs >= 2 times anywhere,
    // then the identical gaps-and-islands run algebra and running-max
    // interval merge. L=6 exercises the composite (non-power-of-two)
    // naming round — the oracle knows nothing of the naming chain, it
    // just enumerates literal 6-gram strings.
    "q444_exact_substr" -> {
      val l = 6
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |ps AS (SELECT doc_id, ts,
         |  unnest(range(greatest(len(ts) - ${l - 1}, 0))) AS p FROM tk),
         |g AS (SELECT doc_id, p,
         |  array_to_string(ts[p + 1:p + $l], ' ') AS gram FROM ps),
         |cnt AS (SELECT gram, count(*) AS occ FROM g GROUP BY gram),
         |dup AS (SELECT doc_id, p FROM g JOIN cnt USING (gram)
         |  WHERE occ >= 2),
         |isl AS (SELECT doc_id, p, p - row_number() OVER (
         |  PARTITION BY doc_id ORDER BY p) AS isl FROM dup),
         |runs AS (SELECT doc_id, min(p) AS s, max(p) + $l AS e
         |  FROM isl GROUP BY doc_id, isl),
         |mx AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
         |  ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |  AS pmax FROM runs),
         |mg AS (SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL
         |  OR s > pmax THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
         |  ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS grp FROM mx),
         |cov AS (SELECT doc_id, CAST(sum(me - ms) AS BIGINT) AS covered
         |  FROM (SELECT doc_id, grp, min(s) AS ms, max(e) AS me FROM mg
         |    GROUP BY doc_id, grp) GROUP BY doc_id),
         |pr AS (SELECT doc_id, count(*) AS n_runs,
         |  CAST(max(e - s) AS BIGINT) AS longest,
         |  CAST(sum(e - s - ${l - 1}) AS BIGINT) AS ndw
         |  FROM runs GROUP BY doc_id),
         |cen AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(greatest(len(ts) - ${l - 1}, 0) AS BIGINT) AS n_windows
         |  FROM tk)
         |SELECT doc_id, n_tokens, n_windows,
         |  coalesce(ndw, 0) AS n_dup_windows,
         |  coalesce(n_runs, 0) AS n_runs,
         |  coalesce(longest, 0) AS longest_span_tokens,
         |  coalesce(covered, 0) AS covered_tokens,
         |  ${femitSql("CAST(coalesce(covered, 0) AS DOUBLE)" +
        " / CAST(nullif(n_tokens, 0) AS DOUBLE)")} AS dup_share
         |FROM cen LEFT JOIN pr USING (doc_id) LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // Same canonical-first rule (rank 1 by (doc_id, p) in the gram
    // group — the Spark side computes it as a min-struct aggregate,
    // same total order), same all-covering-windows-redundant cut, same
    // ordered reassembly.
    "q446_exact_substr_cut" -> {
      val l = 6
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |tok AS (SELECT doc_id, p, ts[p + 1] AS t FROM
         |  (SELECT doc_id, ts, unnest(range(len(ts))) AS p FROM tk)),
         |wn AS (SELECT doc_id, p, array_to_string(ts[p + 1:p + $l], ' ')
         |  AS gram FROM (SELECT doc_id, ts,
         |    unnest(range(greatest(len(ts) - ${l - 1}, 0))) AS p FROM tk)),
         |oc AS (SELECT gram, count(*) AS occ FROM wn GROUP BY gram),
         |rd AS (SELECT doc_id, p, (occ >= 2 AND row_number() OVER (
         |  PARTITION BY gram ORDER BY doc_id, p) > 1) AS red
         |  FROM wn JOIN oc USING (gram)),
         |cv AS (SELECT doc_id, p + o AS tp,
         |  min(CASE WHEN red THEN 1 ELSE 0 END) AS cut
         |  FROM rd, (SELECT unnest(range($l)) AS o) os
         |  GROUP BY doc_id, p + o),
         |tc AS (SELECT tok.doc_id, tok.p, tok.t,
         |  coalesce(cv.cut, 0) = 1 AS cut
         |  FROM tok LEFT JOIN cv ON tok.doc_id = cv.doc_id
         |  AND tok.p = cv.tp)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         |  coalesce(string_agg(CASE WHEN NOT cut THEN t END, ' '
         |    ORDER BY p), '') AS clean
         |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Recomputes BOTH generations' window grams from scratch and joins
    // batch to the distinct history gram set BY LITERAL STRING — the
    // Spark side's 128-bit-hash store + bucketed read-back must be
    // collision-free and lossless to match; same islands/census
    // algebra as q444.
    "q448_incremental_exact_substr" -> {
      val l = 6
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |wn AS (SELECT doc_id, p, array_to_string(ts[p + 1:p + $l], ' ')
         |  AS gram FROM (SELECT doc_id, ts,
         |    unnest(range(greatest(len(ts) - ${l - 1}, 0))) AS p FROM tk)),
         |hist AS (SELECT DISTINCT gram FROM wn WHERE doc_id % 2 = 0),
         |bt AS (SELECT doc_id, p FROM wn WHERE doc_id % 2 = 1
         |  AND gram IN (SELECT gram FROM hist)),
         |isl AS (SELECT doc_id, p, p - row_number() OVER (
         |  PARTITION BY doc_id ORDER BY p) AS isl FROM bt),
         |runs AS (SELECT doc_id, min(p) AS s, max(p) + $l AS e
         |  FROM isl GROUP BY doc_id, isl),
         |pr AS (SELECT doc_id, count(*) AS n_runs,
         |  CAST(sum(e - s - ${l - 1}) AS BIGINT) AS nhw,
         |  CAST(max(e - s) AS BIGINT) AS longest
         |  FROM runs GROUP BY doc_id),
         |cen AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(greatest(len(ts) - ${l - 1}, 0) AS BIGINT) AS n_windows
         |  FROM tk WHERE doc_id % 2 = 1)
         |SELECT doc_id, n_tokens, n_windows,
         |  coalesce(nhw, 0) AS n_hist_windows,
         |  coalesce(n_runs, 0) AS n_runs,
         |  coalesce(longest, 0) AS longest_span_tokens,
         |  ${femitSql("CAST(coalesce(nhw, 0) AS DOUBLE)" +
        " / CAST(nullif(n_windows, 0) AS DOUBLE)")} AS hist_share
         |FROM cen LEFT JOIN pr USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // Same fnv bucket/sign hashes, same integer tf/hashed-vector
    // algebra over the 50-doc probe slice, same bucket census carried
    // on every row.
    "q440_feature_hashing" -> {
      val bkt = s"${fnvSql("(tok || ':fh')")} % 16"
      val sgn = s"${fnvSql("(tok || ':fs')")} % 2 * 2 - 1"
      s"""WITH tok AS (SELECT doc_id, t AS tok FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |   FROM documents) u WHERE t <> ''),
         |census AS (SELECT CAST(sum(load) AS BIGINT) AS n_vocab,
         |  count(*) AS n_buckets_used,
         |  CAST(max(load) AS BIGINT) AS max_bucket_load FROM (
         |  SELECT $bkt AS b, count(*) AS load FROM
         |    (SELECT DISTINCT tok FROM tok) v GROUP BY 1) l),
         |tf AS (SELECT doc_id // 2 AS p, doc_id % 2 AS side, tok,
         |  count(*) AS tf FROM tok WHERE doc_id < 50
         |  GROUP BY doc_id, tok),
         |sz AS (SELECT p, side, CAST(sum(tf) AS BIGINT) AS ntok
         |  FROM tf GROUP BY p, side),
         |de AS (SELECT a.p, CAST(sum(a.tf * b.tf) AS BIGINT)
         |    AS dot_exact
         |  FROM tf a JOIN tf b ON a.p = b.p AND a.tok = b.tok
         |    AND a.side = 0 AND b.side = 1 GROUP BY a.p),
         |hv AS (SELECT p, side, $bkt AS b,
         |  CAST(sum(($sgn) * tf) AS BIGINT) AS h
         |  FROM tf GROUP BY p, side, 3),
         |dh AS (SELECT a.p, CAST(sum(a.h * b.h) AS BIGINT)
         |    AS dot_hashed
         |  FROM hv a JOIN hv b ON a.p = b.p AND a.b = b.b
         |    AND a.side = 0 AND b.side = 1 GROUP BY a.p)
         |SELECT s0.p * 2 AS d1, s0.p * 2 + 1 AS d2,
         |  s0.ntok AS n1, s1.ntok AS n2,
         |  CAST(coalesce(dot_exact, 0) AS BIGINT) AS dot_exact,
         |  CAST(coalesce(dot_hashed, 0) AS BIGINT) AS dot_hashed,
         |  CAST(abs(coalesce(dot_hashed, 0) - coalesce(dot_exact, 0))
         |    AS BIGINT) AS abs_err,
         |  n_vocab, n_buckets_used, max_bucket_load
         |FROM sz s0 JOIN sz s1 ON s0.p = s1.p
         |  AND s0.side = 0 AND s1.side = 1
         |LEFT JOIN de ON de.p = s0.p
         |LEFT JOIN dh ON dh.p = s0.p
         |CROSS JOIN census
         |ORDER BY d1""".stripMargin
    },
    // Same fnv(doc_id:node:shard) weights, argmax with the lowest-id
    // tiebreak (rank by weight DESC, shard ASC), full-outer census.
    "q437_rendezvous_shards" -> {
      def pick(pred: String, alias: String) =
        s"""(SELECT doc_id, CAST(s AS BIGINT) AS $alias FROM (
           |  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY w DESC, s ASC) AS rn
           |  FROM (SELECT doc_id, s, ${fnvSql(
          "(CAST(doc_id AS VARCHAR) || ':node:' || CAST(s AS VARCHAR))")}
           |    AS w FROM documents
           |    CROSS JOIN (SELECT unnest(range(8)) AS s) ss
           |    WHERE $pred) z) rz WHERE rn = 1)""".stripMargin
      s"""WITH bef AS ${pick("TRUE", "shard_before")},
         |aft AS ${pick("s <> 3", "shard_after")},
         |r AS (SELECT bef.doc_id, shard_before, shard_after
         |  FROM bef JOIN aft USING (doc_id)),
         |nb AS (SELECT shard_before AS shard, count(*) AS n_before
         |  FROM r GROUP BY 1),
         |na AS (SELECT shard_after AS shard, count(*) AS n_after
         |  FROM r GROUP BY 1),
         |ng AS (SELECT shard_after AS shard, count(*) AS n_gained
         |  FROM r WHERE shard_before = 3 GROUP BY 1)
         |SELECT shard,
         |  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         |  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
         |  CAST(CASE WHEN shard = 3 THEN 0
         |    ELSE coalesce(n_gained, 0) END AS BIGINT) AS n_gained
         |FROM nb
         |FULL OUTER JOIN na USING (shard)
         |FULL OUTER JOIN ng USING (shard)
         |ORDER BY shard""".stripMargin
    },
    // Same q76 contribution table, term-grain max bounds, exact-DECIMAL
    // bound/score sums (dsum route), the two-phase sufficient-set
    // protocol (seed top-40 by bound -> theta = 10th seed score ->
    // rescore every bound >= theta), and the outside-max <= kth
    // certification.
    "q434_maxscore_topk" -> {
      val terms = Seq("dup", "scan", "join", "query")
        .map(t => s"'$t'").mkString(", ")
      val dsumUb = dsumSql("ub"); val dsumBm = dsumSql("bm25")
      s"""WITH ${bm25CoreCte(1.2, 0.75)},
         |sc AS (SELECT doc_id, tok, bm25 FROM bm WHERE tok IN ($terms)),
         |ub AS (SELECT tok, max(bm25) AS ub FROM sc GROUP BY tok),
         |bounds AS (SELECT doc_id, count(*) AS n_terms, $dsumUb AS ubsum
         |  FROM sc JOIN ub USING (tok) GROUP BY doc_id),
         |nmt AS (SELECT count(*) AS n_matching FROM bounds),
         |seed AS (SELECT * FROM bounds
         |  ORDER BY ubsum DESC, doc_id ASC LIMIT 40),
         |sscore AS (SELECT doc_id, $dsumBm AS score FROM sc
         |  WHERE doc_id IN (SELECT doc_id FROM seed) GROUP BY doc_id),
         |th AS (SELECT CASE WHEN count(*) >= 10 THEN min(score)
         |  ELSE CAST('-infinity' AS DOUBLE) END AS theta FROM
         |  (SELECT doc_id, score FROM sscore
         |   ORDER BY score DESC, doc_id ASC LIMIT 10) s10),
         |cand AS (SELECT b.* FROM bounds b CROSS JOIN th
         |  WHERE ubsum >= theta),
         |ncd AS (SELECT count(*) AS n_candidates FROM cand),
         |ex AS (SELECT doc_id, $dsumBm AS score FROM sc
         |  WHERE doc_id IN (SELECT doc_id FROM cand) GROUP BY doc_id),
         |topk AS (SELECT c.doc_id, c.n_terms, c.ubsum, e.score,
         |  row_number() OVER (ORDER BY e.score DESC, c.doc_id ASC) AS rnk
         |  FROM cand c JOIN ex e USING (doc_id)
         |  ORDER BY e.score DESC, c.doc_id ASC LIMIT 10),
         |kth AS (SELECT min(score) AS kv FROM topk),
         |om AS (SELECT coalesce(max(ubsum), CAST('-infinity' AS DOUBLE))
         |  AS out_ub FROM bounds
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cand))
         |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms,
         |  ${femitSql("score")} AS score, ${femitSql("ubsum")} AS ub,
         |  (SELECT n_matching FROM nmt) AS n_matching,
         |  (SELECT n_candidates FROM ncd) AS n_candidates,
         |  out_ub <= kv AS certified
         |FROM topk CROSS JOIN kth CROSS JOIN om ORDER BY rnk""".stripMargin
    },
  )

  /** DuckDB twin of [[Curation.dataShapley]] — shared by q399 and
    * q400's rate-table replay. `lazy` because the oracle map above
    * references it during object init (a plain val would still be
    * null there). */
  private lazy val dataShapleyOracle: String =
      s"""WITH t AS (SELECT source,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |f AS (SELECT source,
         |  0.5 * (CAST(len(list_filter(ts,
         |      t -> regexp_full_match(t, '^[a-z-_]+$$'))) AS DOUBLE) / len(ts))
         |  + 0.3 * (1.0 - CAST(len(list_filter(ts,
         |      t -> list_contains(['the','of','and','to','in','a','is',
         |        'for','on','with'], t))) AS DOUBLE) / len(ts))
         |  + 0.2 * least(CAST(len(ts) AS DOUBLE) / 64.0, 1.0) AS q FROM t),
         |st2 AS (SELECT source, count(*) AS n_s, ${dsumSql("q")} AS q_s
         |  FROM f GROUP BY source),
         |pm AS (SELECT p, source, n_s, q_s, ${graft.llm.Queries.fnvSql(
        "('dperm:' || CAST(p AS VARCHAR) || ':' || source)")} AS key
         |  FROM (SELECT unnest(range(200)) AS p) ps CROSS JOIN st2),
         |po AS (SELECT p, source, n_s, q_s, row_number() OVER (
         |  PARTITION BY p ORDER BY key ASC, source ASC) AS pos FROM pm),
         |rs AS (SELECT p, source, n_s, q_s,
         |  CAST(sum(n_s) OVER (PARTITION BY p ORDER BY pos ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cn,
         |  CAST(CAST(sum(CAST(CAST(q_s AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER (PARTITION BY p ORDER BY pos ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS VARCHAR) AS DOUBLE) AS cq FROM po),
         |mg AS (SELECT p, source,
         |  cq / CAST(cn AS DOUBLE) - CASE WHEN cn = n_s THEN 0.0
         |    ELSE (cq - q_s) / CAST(cn - n_s AS DOUBLE) END AS m FROM rs),
         |rk AS (SELECT source, p, m, row_number() OVER (
         |  PARTITION BY source ORDER BY m ASC, p ASC) AS r FROM mg),
         |ag AS (SELECT source, ${dsumSql("m")} AS sm,
         |  min(CASE WHEN r = 5 THEN m END) AS lo,
         |  min(CASE WHEN r = 196 THEN m END) AS hi FROM rk GROUP BY source)
         |SELECT ag.source, n_s AS n_docs, CAST(200 AS BIGINT) AS n_perms,
         |  ${femitSql("sm / 200.0")} AS shapley,
         |  ${femitSql("lo")} AS ci_lo, ${femitSql("hi")} AS ci_hi
         |FROM ag JOIN st2 ON st2.source = ag.source
         |ORDER BY ag.source""".stripMargin
}
