package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data curation operators a large-scale LLM pipeline runs
  * between dedup and packing: benchmark decontamination, deterministic
  * mixture sampling, and sliding-window chunking.
  *
  * Scale posture (100 TB): all three are designed around the corpus
  * streaming ONCE. Decontamination broadcasts the (tiny) eval n-gram
  * set and shuffles only the matched rows; mixture sampling is a pure
  * per-row hash filter with no shuffle at all; chunking is per-row
  * array expressions inside whole-stage codegen — the only shuffles in
  * this file are final tiny aggregations over already-reduced data.
  */
object Curation {

  /** Benchmark decontamination via k-gram overlap (the n-gram-collision
    * test used for public-benchmark leakage — e.g. Brown et al., "GPT-3",
    * NeurIPS 2020, Appendix C's 13-gram overlap; k is a parameter here
    * because the right k scales with corpus vocabulary).
    *
    * For each training doc, counts its distinct k-gram shingles that
    * also occur anywhere in the eval partition (`evalPred` rows).
    * Emits ONLY contaminated docs: (id, n_grams, n_shared, overlap).
    *
    * Scale: eval sets are benchmark-sized (thousands of docs) against a
    * 100 TB corpus, so their distinct-gram set is broadcast — the
    * training side streams once with NO shuffle before the per-doc
    * count, and that groupBy sees only rows that matched the broadcast
    * (contaminated grams), not the corpus. Shingling is the codegen'd
    * [[graft.functions.ShingleArray]] (q18's). Plan shape pinned in
    * PlanSpec. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    evalPred: Column, k: Int): DataFrame = {
    val sh = docs.select(col(idCol),
      graft.functions.TextExprs.shingles(textCol, k).as("sh"))
    val evalGrams = sh.where(evalPred)
      .select(explode(col("sh")).as("gram")).distinct()
    val train = sh.where(!evalPred)
      .select(col(idCol), size(col("sh")).as("n_grams"),
        explode(col("sh")).as("gram"))
    train.join(broadcast(evalGrams), Seq("gram"))
      .groupBy(idCol, "n_grams")
      .agg(count(lit(1)).as("n_shared"))
      .select(col(idCol), col("n_grams").cast("long").as("n_grams"),
        col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("overlap"))
  }

  /** Per-language keep thresholds for [[mixtureSample]], out of
    * [[MixtureDenom]]: the curriculum weights a pipeline tunes per
    * source/language. Shared with the q112 oracle so both engines
    * apply the identical mixture. */
  val MixtureWeights: Seq[(String, Int)] =
    Seq(("en", 4096), ("de", 2048), ("es", 1024), ("fr", 512), ("zh", 256))
  val MixtureDenom: Int = 4096

  /** Deterministic mixture (curriculum) sampling: down-weight each
    * group to `weights(group)/denom` of its rows by keeping exactly the
    * rows whose content hash lands under the group's threshold —
    * `fnv1a32(id || ':mix') % denom < keep_lt`. The decision is a pure
    * function of the row id, so re-runs, retries, and different
    * partitionings select the SAME sample (a `.sample()` would not),
    * and a doc's fate never migrates when the corpus grows — the q40/
    * q69 reproducibility contract applied to mixture weighting.
    *
    * Scale: the weights are a per-group table (broadcast — the q104
    * table-not-literals discipline); the corpus streams once through a
    * broadcast join + filter with NO shuffle (PlanSpec-pinned). */
  def mixtureSample(docs: DataFrame, idCol: String, groupCol: String,
                    weights: Seq[(String, Int)],
                    denom: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = weights.toDF(groupCol, "keep_lt")
    docs.join(broadcast(w), Seq(groupCol))
      .where(pmod(
        graft.functions.HashExprs.fnv1a32(
          s"concat(cast($idCol as string), ':mix')"),
        lit(denom.toLong)) < col("keep_lt"))
      .select(col(idCol), col(groupCol))
  }

  /** Temperature-scaled mixture WEIGHTS per source (the sampling-recipe
    * planner behind q112's executor): raw token shares p_s are flattened
    * to w_s ∝ p_s^α (α = 1/2 here — sqrt flattening, the standard
    * multilingual/multi-source rebalance from mBERT/XLM-R through the
    * Pile and Llama recipes), then each source's EFFECTIVE EPOCHS under
    * a full-budget pass is ŵ_s·T / tokens_s — the number a curator
    * reads to spot a small source about to be memorized (epochs ≫ 1).
    * One hash-agg to O(sources) rows; the heavy input is the token
    * count, which reuses the whitespace tokenizer contract (q23). Float
    * discipline: shares and sqrt are fixed-order IEEE on exact int64
    * token counts; the α-weight normalizer sums O(sources) terms
    * through dsum. */
  def mixtureTemperature(docs: DataFrame, sourceCol: String,
                         textCol: String): DataFrame = {
    val per = docs
      .select(col(sourceCol).as("source"),
        size(expr(s"filter(split($textCol, ' '), x -> x <> '')"))
          .cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tt"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("raw_share",
        col("n_tokens").cast("double") / col("tt").cast("double"))
      .withColumn("wraw", sqrt(col("raw_share")))
    val z = shared.agg(graft.rel.Queries.dsum(col("wraw")).as("z"))
    shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.rel.Queries.femit(col("raw_share")).as("raw_share"),
        graft.rel.Queries.femit(col("wraw") / col("z")).as("weight"),
        graft.rel.Queries.femit((col("wraw") / col("z")) * col("tt").cast("double")
          / col("n_tokens").cast("double")).as("eff_epochs"))
      .orderBy("source")
  }

  /** Fixed-size per-stratum sample: the `k` rows of each group with
    * the smallest (content hash, id) — eval/holdout-set construction
    * where every group must contribute EXACTLY min(k, |group|) rows
    * regardless of group size, which [[mixtureSample]]'s (and q40's)
    * fraction-threshold rule cannot promise. Deterministic under any
    * partitioning (the rank is a pure function of the group's rows);
    * unlike the threshold rule, membership MAY shift when the group
    * grows — fixed size trades away the no-migration property, which
    * is why both operators exist.
    *
    * Scale: one hash-partition shuffle on the group key + a per-group
    * top-k window. For heavy-hitter groups the window is the standard
    * rank-then-filter; a skew-critical run pre-filters with a per-group
    * approximate hash cutoff before ranking (same output, bounded
    * partition) — at this k the plain window is the right plan. */
  def stratumSample(docs: DataFrame, idCol: String, groupCol: String,
                    k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("h"), col(idCol))
    docs.select(col(idCol), col(groupCol))
      .withColumn("h", graft.functions.HashExprs.fnv1a32(
        s"concat(cast($idCol as string), ':strat')"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(idCol), col(groupCol), col("rnk"))
  }

  /** WEIGHTED sampling without replacement, k per group (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006 —
    * the A-ES key trick): each row draws a deterministic uniform
    * u ∈ (0, 1] from its content hash and ranks by key = ln(u)/w —
    * the top-k keys per group are a weighted-without-replacement
    * sample (ln(u)/w is a monotone transform of the paper's u^(1/w);
    * the log form avoids pow and underflow at large weights). The
    * deterministic-u variant of [[stratumSample]]'s uniform min-k:
    * same reproducible-under-any-partitioning contract (u is a pure
    * function of the row id), but heavy rows are proportionally more
    * likely to survive — importance sampling for curation (sample
    * long/high-quality docs preferentially, audit rows by cost, ...).
    * Rows with w ≤ 0 are unsampleable and excluded by contract.
    *
    * Scale: a pure per-row projection + one per-group top-k window
    * (the [[stratumSample]] shape — rank-then-filter; k ≪ group).
    * Parity: u is portable-FNV-derived, (h+1)/2³² and the division by
    * w are exact-operand IEEE ops; ln is libm on both engines (the
    * q58/q79 parity class) and the output key carries round(6). */
  def weightedSample(docs: DataFrame, idCol: String, groupCol: String,
                     wCol: String, k: Int): DataFrame = {
    val u = (graft.functions.HashExprs.fnv1a32(
      s"concat(cast($idCol as string), ':wsamp')") + lit(1L))
      .cast("double") / lit(4294967296.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("skey").desc, col(idCol).asc)
    docs.select(col(idCol), col(groupCol), col(wCol))
      .where(col(wCol) > 0)
      .withColumn("skey", log(u) / col(wCol))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col(idCol), col(wCol),
        graft.rel.Queries.femit(col("skey")).as("skey"))
  }

  /** Corpus-INTERNAL repeated-n-gram report — the memorization/
    * boilerplate signal of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL 2022), at n-gram rather than
    * suffix-array granularity: for every doc, the fraction of its
    * distinct k-grams that also occur in ≥ `minDocs` OTHER contexts
    * (distinct docs). High dup_frac marks templated/boilerplate docs
    * that exact- and near-dedup both miss (they repeat *fragments*, not
    * whole documents). Emits (doc_id, n_grams, n_dup, dup_frac) for
    * every doc.
    *
    * Determinism & parity: grams are hashed to the portable
    * [[graft.functions.Fnv1a32]] so the shuffle key is 8 bytes rather
    * than a ~25-byte string (the q18 band-key discipline); a 32-bit
    * collision merges two grams' doc-frequency counts in BOTH engines
    * identically (the oracle recomputes the same fold), so parity is
    * exact; a production run at 100 TB would widen to a 64/128-bit
    * hash, same plan.
    *
    * Scale: two hash-aggs (gram doc-frequency; per-doc count) and one
    * equi-join on the gram hash, all partial-aggregated — O(corpus
    * tokens) shuffle, never O(docs²). Ubiquitous grams (boilerplate)
    * produce O(df) join rows — bounded by corpus size, and the join is
    * AQE-skew-splittable. */
  def repeatedNgrams(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, minDocs: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      graft.functions.TextExprs.shingles(textCol, k).as("sh"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), graft.functions.HashExprs.fnv1a32("g").as("h"))
    val dup = ex.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .where(col("ndocs") >= minDocs)
      .select(col("h"))
    val perDoc = ex.join(dup, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_grams") > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Distributed BPE tokenizer training (Sennrich et al., ACL 2016;
    * the Gage 1994 byte-pair idea): `rounds` merge steps over the
    * corpus word-frequency table, returning the learned merge table
    * (round, a, b, wcnt) — the artifact a tokenizer ships.
    *
    * The standard formulation already IS the distributed one: BPE
    * statistics live on the (word, count) VOCABULARY, not the corpus —
    * so the corpus shuffles ONCE (the word-count hash-agg) and every
    * merge round runs on the reduced vocab table: per-round cost is one
    * pair-explosion + hash-agg over O(distinct words × word length),
    * the argmax pair is a TakeOrderedAndProject(1) whose single row
    * broadcasts back, and the merge application is a per-row codegen'd
    * `aggregate()` fold — ZERO driver actions in any round (the q124
    * discipline; `localCheckpoint` between rounds truncates lineage
    * exactly as [[Sim.kmeansRefine]] documents).
    *
    * The fold implements the greedy LEFT-TO-RIGHT merge exactly: walk
    * the symbol array, and when the accumulator's last symbol is `a`
    * and the next is `b`, replace the last with `ab` (a just-merged
    * `ab` becomes the new last symbol and is never retroactively
    * re-merged — [a,a,a] → [aa,a], [a,b,a,b] → [ab,ab]). The DuckDB
    * oracle replays the identical fold via `list_reduce`, so merge
    * CHOICES (argmax with the (wcnt DESC, a ASC, b ASC) total order),
    * merged vocabularies, and weights all value-oracle bit-for-bit —
    * integer counts, no floats anywhere. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    var vocab = docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val pairsOfSyms =
      "CASE WHEN size(syms) > 1 THEN transform(sequence(1, size(syms) - 1), " +
        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) " +
        "ELSE cast(array() AS array<struct<a: string, b: string>>) END"
    val mergeFold =
      "aggregate(syms, cast(array() AS array<string>), (acc, x) -> " +
        "CASE WHEN try_element_at(acc, -1) = ma AND x = mb " +
        "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ma, mb))) " +
        "ELSE concat(acc, array(x)) END)"
    val merges = (1 to rounds).map { r =>
      val best = vocab
        .select(col("cnt"), explode(expr(pairsOfSyms)).as("p"))
        .groupBy(col("p.a").as("ma"), col("p.b").as("mb"))
        .agg(sum(col("cnt")).as("wcnt"))
        .orderBy(col("wcnt").desc, col("ma").asc, col("mb").asc)
        .limit(1)
      vocab = vocab.crossJoin(broadcast(best.select("ma", "mb")))
        .withColumn("syms", expr(mergeFold))
        .drop("ma", "mb")
      if (r < rounds) vocab = vocab.localCheckpoint()
      best.select(lit(r.toLong).as("round"), col("ma").as("a"),
        col("mb").as("b"), col("wcnt"))
    }
    merges.reduce(_.unionByName(_)).orderBy("round")
  }

  /** BPE ENCODE with the merges [[bpeTrain]] learns — tokenizer
    * application as a corpus-level report: train `rounds` merges on the
    * word-frequency vocabulary (the identical plan as bpeTrain; zero
    * driver actions — each round's winning pair joins back in as a
    * 1-row broadcast), apply them to every DISTINCT word, then join the
    * per-word token length back onto the corpus. Per language: docs,
    * whitespace words, BPE tokens, characters, and chars-per-token —
    * the compression ratio a tokenizer change shifts. Encoding rides
    * the VOCABULARY (O(vocab × word len) per round), never the corpus;
    * the corpus is touched twice (vocab build, final join) and the
    * word→length join is a plain equi-join AQE can split. The merge
    * fold is the exact greedy left-to-right semantics ([a,a,a]→[aa,a]),
    * so the data-dependent token counts value-oracle. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                langCol: String, rounds: Int): DataFrame = {
    val words = docs
      .select(col(idCol), col(langCol),
        explode(split(col(textCol), " ", -1)).as("w"))
      .where(col("w") =!= "")
    var vocab = words
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val pairsOfSyms =
      "CASE WHEN size(syms) > 1 THEN transform(sequence(1, size(syms) - 1), " +
        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) " +
        "ELSE cast(array() AS array<struct<a: string, b: string>>) END"
    val mergeFold =
      "aggregate(syms, cast(array() AS array<string>), (acc, x) -> " +
        "CASE WHEN try_element_at(acc, -1) = ma AND x = mb " +
        "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ma, mb))) " +
        "ELSE concat(acc, array(x)) END)"
    (1 to rounds).foreach { r =>
      val best = vocab
        .select(col("cnt"), explode(expr(pairsOfSyms)).as("p"))
        .groupBy(col("p.a").as("ma"), col("p.b").as("mb"))
        .agg(sum(col("cnt")).as("wcnt"))
        .orderBy(col("wcnt").desc, col("ma").asc, col("mb").asc)
        .limit(1)
      vocab = vocab.crossJoin(broadcast(best.select("ma", "mb")))
        .withColumn("syms", expr(mergeFold))
        .drop("ma", "mb")
      if (r < rounds) vocab = vocab.localCheckpoint()
    }
    val wordLen = vocab.select(col("w"),
      size(col("syms")).cast("long").as("ntok"), length(col("w")).as("nch"))
    words.join(wordLen, "w")
      .groupBy(col(langCol).as("lang"))
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("ntok")).as("n_bpe_tokens"),
        sum(col("nch").cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        graft.rel.Queries.femit(col("n_chars").cast("double")
          / col("n_bpe_tokens").cast("double")))
      .orderBy("lang")
  }

  /** Sliding-window chunking: split each doc's token stream into
    * fixed-`size` windows advancing by `stride` (overlap = size −
    * stride), the context-window prep for training/embedding when docs
    * exceed the model's sequence length. Every token is covered: the
    * number of chunks is 1 + ceil(max(len − size, 0) / stride), so the
    * final window always reaches the last token (and is the only one
    * that may be short). Emits (id, chunk_idx, n_tokens, chunk).
    *
    * Scale: pure per-row generate — split once, one `sequence` ×
    * `slice` expansion, all inside whole-stage codegen; NO shuffle
    * (PlanSpec-pinned). Output rows ≈ input tokens / stride, the
    * shape that feeds q39/q70's packing. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val nm1 = expr(
      s"(greatest(size(split($textCol, ' ', -1)) - $window, 0) + ${stride - 1}) " +
        s"div $stride")
    docs
      .select(col(idCol), split(col(textCol), " ", -1).as("ts"),
        nm1.cast("int").as("nm1"))
      .select(col(idCol), col("ts"), size(col("ts")).as("len"),
        explode(sequence(lit(0), col("nm1"))).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(window), col("len") - col("chunk_idx") * stride)
          .cast("long").as("n_tokens"),
        array_join(slice(col("ts"), col("chunk_idx") * stride + 1, lit(window)),
          " ").as("chunk"))
  }

  /** Differentially-private release of per-(lang, source) document
    * counts (Dwork et al. 2006 Laplace mechanism, sensitivity 1): each
    * count is published as n + Lap(1/ε) for each ε in `epsilons`. The
    * noise draw is DERANDOMIZED the way every sampler in this repo is
    * (q40/q112's hash-uniform convention): u = (fnv1a32(key)%2²⁰+0.5)/2²⁰
    * ∈ (0,1), noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|) — the exact inverse
    * Laplace CDF, so the released values are reproducible AND
    * oracle-checkable while keeping the mechanism's exact shape (a
    * production run swaps the keyed hash for a seeded CSPRNG; the plan
    * is unchanged). To be explicit: the derandomized form provides
    * ZERO actual privacy — anyone who knows the key can recompute the
    * noise and recover the exact count; only the CSPRNG swap makes the
    * released values differentially private. u can never be exactly ½ (numerator is a
    * half-integer, denominator a power of two), so sign/ln never see
    * their singular points.
    *
    * Scale: one hash-agg to the group table, then a broadcast cross
    * join against the |ε|-row ladder — per-row codegen'd arithmetic,
    * no further shuffle. */
  def dpCounts(docs: DataFrame,
               epsilons: Seq[(Int, Double)] = Seq((1, 0.1), (2, 1.0))): DataFrame = {
    import graft.rel.Queries.femit
    val s = docs.sparkSession
    val eps = s.createDataFrame(epsilons).toDF("eps_id", "eps")
    val g = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val keyed = g.crossJoin(broadcast(eps))
      // concat (null-propagating, like the oracle's `||`) — NOT
      // concat_ws, which silently skips null lang/source and would
      // draw keyed noise where the oracle emits NULL noisy_count.
      .withColumn("dpkey",
        concat(col("lang"), lit("|"), col("source"), lit("|"),
          col("eps_id").cast("string")))
      .withColumn("u",
        (pmod(graft.functions.HashExprs.fnv1a32("dpkey"), lit(1048576L))
          .cast("double") + lit(0.5)) / lit(1048576.0))
    val noise = (lit(-1.0) / col("eps")) * signum(col("u") - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5)))
    keyed.select(col("lang"), col("source"), col("eps_id"), col("n"),
        femit(col("n") + noise).as("noisy_count"),
        femit(abs(noise)).as("abs_noise"))
      .orderBy("lang", "source", "eps_id")
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how target-like its hashed-unigram profile is,
    * log w(d) = Σ_b c_d(b)·(ln p̂_t(b) − ln p̂_s(b)), where b ranges
    * over `nBuckets` hashed token buckets, p̂ are add-1-smoothed bucket
    * unigram models of the target (lang = `targetLang`) vs source (the
    * rest), and c_d are the document's bucket counts. Emits the top
    * `topK` docs by weight — the resampling front-runner set. Ranked by
    * the ROUNDED weight + doc_id (the q207 cross-engine tiebreak rule).
    *
    * Scale: the bucket LM table is `nBuckets` rows — broadcast; the
    * corpus streams once into a (doc, bucket) hash-agg (map-side
    * partial over ~nBuckets distinct keys per partition), joins the
    * broadcast, and reduces per doc. Weight sums accumulate on the
    * exact DECIMAL lattice; ln drift is sub-quantum there. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  nBuckets: Int = 256, topK: Int = 20): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val tok = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ", -1)).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("b", pmod(graft.functions.HashExprs.fnv1a32("tok"),
        lit(nBuckets.toLong)))
    val isT = col("lang") === targetLang
    // localCheckpoint: the bucket LM feeds both the total-count
    // broadcast branch and the delta projection; without it the corpus
    // token scan behind `lm` runs once per consumer (Catalyst shares no
    // sub-plans across broadcast branches — PlanSpec-pinned).
    val lm = tok.groupBy("b").agg(
        sum(when(isT, 1L).otherwise(0L)).as("ct"),
        sum(when(!isT, 1L).otherwise(0L)).as("cs"))
      .localCheckpoint()
    val tot = lm.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts"))
    val delta = lm.crossJoin(broadcast(tot)).select(col("b"),
      (log((col("ct") + lit(1.0)) / (col("tt") + lit(nBuckets.toDouble))) -
        log((col("cs") + lit(1.0)) / (col("ts") + lit(nBuckets.toDouble))))
        .as("dlt"))
    val perDocBucket = tok.groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("c"))
    val scored = perDocBucket.join(broadcast(delta), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(femit(dsum(col("c") * col("dlt"))).as("log_weight"))
    scored.orderBy(col("log_weight").desc, col("doc_id").asc)
      .limit(topK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("log_weight").desc, col("doc_id").asc)).cast("long"))
      .select(col("rnk"), col("doc_id"), col("lang"), col("log_weight"))
      .orderBy("rnk")
  }
  /** Data-constrained token-budget allocation by WATER-FILLING
    * (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models" — the allocation problem; Boyd &amp; Vandenberghe §5.5's
    * classic closed form): given a token budget `budget` and a per-
    * source repetition cap of `maxEpochs` epochs, find the level λ
    * with Σ_s min(cap_s, λ) = budget and allocate alloc_s =
    * min(cap_s, λ) — small sources saturate at their cap, large ones
    * split the remainder evenly. Solved CLOSED-FORM as relational
    * algebra, no iteration: sort sources by capacity, prefix-sum, the
    * level is (budget − P_{i−1})/(n−i+1) at the FIRST i where that
    * value fits under cap_i (exact-integer prefix sums; the one
    * division per candidate is the only float op, identical on both
    * engines). If the budget exceeds total capacity every source
    * saturates and λ is NULL (leftover budget is the consumer's
    * signal to relax maxEpochs).
    *
    * Scale: one corpus token-count scan (map-side combined), then all
    * algebra runs on the |sources|-row table (checkpointed — it feeds
    * the rank chain and the level scalar). Output per source:
    * (source, n_tokens, cap, alloc, saturated, epochs_eff, lambda). */
  def tokenAllocate(docs: DataFrame, budget: Long,
                    maxEpochs: Int = 4): DataFrame = {
    import graft.rel.Queries.femit
    import org.apache.spark.sql.expressions.Window
    val tc = docs.select(col("source"),
        explode(split(col("text"), " ", -1)).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("source").agg(count(lit(1)).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * lit(maxEpochs.toLong))
    val w = Window.orderBy(col("cap").asc, col("source").asc)
    val ord = tc.withColumn("i", row_number().over(w))
      .withColumn("pfx", coalesce(sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy()))
      .withColumn("level",
        (lit(budget) - col("pfx")).cast("double") /
          (col("n_src") - col("i") + lit(1)).cast("double"))
      .localCheckpoint() // |sources| rows; feeds select + level scalar
    val fits = col("level") <= col("cap").cast("double")
    val sel = ord.agg(min(when(fits, col("i"))).as("sel_i"))
    val lam = sel.join(ord, sel("sel_i") === ord("i"), "left")
      .select(col("sel_i"), col("level").as("lambda"))
    val saturated = col("sel_i").isNull || col("i") < col("sel_i")
    ord.crossJoin(broadcast(lam))
      .select(col("source"), col("n_tokens"), col("cap"),
        femit(when(saturated, col("cap").cast("double"))
          .otherwise(col("lambda"))).as("alloc"),
        saturated.as("saturated"),
        femit(when(saturated, lit(maxEpochs.toDouble))
          .otherwise(col("lambda") / col("n_tokens").cast("double")))
          .as("epochs_eff"),
        femit(col("lambda")).as("lambda"))
      .orderBy("source")
  }
  /** Group-DRO style per-group reweighting (Sagawa et al. 2020,
    * "Distributionally Robust Neural Networks for Group Shift" — the
    * exponentiated-gradient group weights, computed one-shot over a
    * static quality proxy instead of inside a training loop): per
    * language, loss_g = 1 − mean(alpha_ratio) (the quality-failure
    * proxy), w_g ∝ exp(η·loss_g), normalized. The sampler upweights
    * the WORST groups — the distributional-robustness counterpart of
    * [[mixtureTemperature]]'s popularity flattening (temperature reads
    * token counts, DRO reads quality). `upweight` = w_g·|G| is the
    * ratio vs uniform a curator reads directly.
    *
    * Scale: one corpus scan into a |groups|-row table; everything
    * after is broadcast algebra. Float discipline: per-doc ratios are
    * single IEEE divisions, group means ride dsum, exp's one-ulp libm
    * divergence is absorbed by femit (the ln/sigmoid precedent). */
  def groupDroWeights(docs: DataFrame, eta: Double = 1.0): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val perDoc = docs.select(col("lang"),
      (size(expr("filter(split(text, ' '), t -> t rlike '^[a-z-_]+$')"))
        .cast("double") /
        size(split(col("text"), " ", -1)).cast("double")).as("alpha_ratio"))
    val g = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (lit(1.0) - dsum(col("alpha_ratio")) / count(lit(1)).cast("double"))
          .as("loss"))
      .withColumn("wraw", exp(lit(eta) * col("loss")))
      .localCheckpoint() // |groups| rows; feeds normalizer + select
    val z = g.agg(dsum(col("wraw")).as("z"), count(lit(1)).as("n_groups"))
    g.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"), femit(col("loss")).as("loss"),
        femit(col("wraw") / col("z")).as("weight"),
        femit(col("wraw") / col("z") * col("n_groups").cast("double"))
          .as("upweight"))
      .orderBy("lang")
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle a split boundary — a test doc with a near-dup twin
    * in train is eval contamination the doc-id split ([[Pack.assignSplit]])
    * cannot see (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 measure exactly this leak).
    * The split unit is therefore the near-dup GROUP: connected
    * components of the MinHash/LSH pair graph (the q65 pipeline
    * verbatim), singletons keyed by their own id. Every doc hashes on
    * its GROUP key through the identical Knuth bucket arithmetic, so a
    * whole component lands in one split atomically, and the straddle
    * audit — near-dup pairs whose endpoints disagree on split — is
    * zero BY CONSTRUCTION, emitted so a pipeline can gate on it.
    *
    * Output: one row per split — (split, n_docs, n_groups, n_dup_docs,
    * straddle_pairs) where n_groups counts distinct split units,
    * n_dup_docs the docs living in a multi-doc component, and
    * straddle_pairs the global audit (same value every row).
    *
    * Scale: the pair graph + CC is the cost the dedup family already
    * pays (shuffle O(edges)); the group-key attach is one left join of
    * the corpus against the (small — dup docs only) component table;
    * the audit joins the pair list against the 2-column assignment
    * twice. No new all-pairs work anywhere. */
  def leakageSafeSplit(docs: DataFrame): DataFrame = {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      k = 3, nBuckets = 64, bandSize = 4, threshold = 0.1)
      .select("d1", "d2").localCheckpoint() // feeds CC AND the audit
    val comp = Dedup.connectedComponents(pairs)
    val assign = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("component"),
        coalesce(col("component"), col("doc_id")).as("grp"))
      .withColumn("split", Pack.splitOf(col("grp")))
      .localCheckpoint() // feeds the census AND both audit probes
    val straddle = pairs
      .join(assign.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
      .join(assign.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
      .where(col("s1") =!= col("s2"))
      .agg(count(lit(1)).as("straddle_pairs"))
    assign.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L))
          .as("n_dup_docs"))
      .crossJoin(broadcast(straddle))
      .orderBy("split")
  }

  /** Randomized response (Warner, JASA 1965 — the LOCAL-privacy
    * mechanism every DP survey starts from, and the one a telemetry
    * pipeline implements first): each user reports their true binary
    * ("ever purchased") kept with probability p = 0.75 and flipped
    * with 1−p via a coin, and the analyst debiases the observed rate
    * through π̂ = (rate_obs − (1−p)) / (2p − 1). The output carries
    * the true rate, the observed rate, the debiased estimate, and the
    * absolute debiasing error — the pipeline-correctness audit.
    *
    * HONESTY (the q324 dpCounts note applies verbatim): the coin here
    * is fnv-DERANDOMIZED (u = fnv(user:rr)/2³²) so the gate can check
    * the mechanism bit-for-bit — which means it provides ZERO actual
    * privacy (the "noise" is a public function of the user id). This
    * operator certifies the MECHANISM and the DEBIASING algebra; a
    * production deployment swaps the coin for a real RNG and loses
    * nothing but the oracle.
    *
    * Scale: one user-grain agg + a 1-row combine. */
  def randomizedResponse(ev: DataFrame, p: Double = 0.75): DataFrame = {
    import graft.rel.Queries.femit
    val per = ev.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("truth"))
      .withColumn("u", graft.functions.HashExprs
        .fnv1a32("concat(cast(user_id as string), ':rr')")
        .cast("double") / lit(4294967296.0))
      .withColumn("report",
        when(col("u") < lit(p), col("truth"))
          .otherwise(lit(1L) - col("truth")))
    per.agg(count(lit(1)).as("n_users"),
        sum(col("truth")).as("n_true"),
        sum(col("report")).as("n_reported"))
      .select(col("n_users"), col("n_true"), col("n_reported"),
        femit(col("n_true").cast("double") / col("n_users").cast("double"))
          .as("pi_true"),
        femit((col("n_reported").cast("double")
          / col("n_users").cast("double") - lit(1.0 - p))
          / lit(2.0 * p - 1.0)).as("pi_hat"),
        femit(abs((col("n_reported").cast("double")
          / col("n_users").cast("double") - lit(1.0 - p))
          / lit(2.0 * p - 1.0)
          - col("n_true").cast("double") / col("n_users").cast("double")))
          .as("abs_err"))
  }

  /** Sampled-permutation DATA Shapley source valuation (Ghorbani &amp;
    * Zou, ICML 2019, "Data Shapley", at source granularity — the
    * axiomatic upgrade of [[sourceAblation]]'s leave-one-out deltas:
    * LOO misprices redundant sources because removing either of two
    * near-identical feeds looks free; Shapley splits the credit):
    * players are the corpus's sources (k = 20 here, so q381's exact
    * 2^k sweep is out of reach and the q393 sampled-permutation
    * estimator is the only scalable form), utility v(S) = the mean
    * document quality (q385's exact score) over the union of S's
    * documents, φ̂_s = the mean marginal contribution over `nPerms`
    * fnv-derandomized permutation draws.
    *
    * The marginals need NO 2^k table and no mask join: within one
    * permutation, prefix utilities are running sums of per-source
    * sufficient statistics (Σq, n) — one windowed pass computes
    * v(prefix∪{s}) and v(prefix) together. Per-term DECIMAL(38,12)
    * casts keep the running float sum association-free cross-engine
    * (the q294/q295 window-sum rule).
    *
    * Determinism: permutation p orders sources by
    * fnv1a32('dperm:p:source') with the source tiebreak (the q393
    * discipline — the oracle replays the same draws bit-for-bit);
    * per-source Σq rides dsum; the CI is the q393 order-statistic
    * convention (ranks nPerms/40 and nPerms+1−that, draw-id
    * tiebreak). Per permutation the marginals telescope to
    * v(all) − v(∅) = the global mean quality, so efficiency holds
    * EXACTLY for the estimate (spec-pinned against q385's totals).
    *
    * Scale: ONE doc-grain aggregate reduces the corpus to k
    * sufficient-stat rows; everything after is nPerms×k rows. */
  def dataShapley(docs: DataFrame, nPerms: Int = 200): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    require(nPerms >= 40, "CI order statistics need >= 40 draws")
    val ts = expr("filter(split(text, ' ', -1), t -> t != '')")
    val stopList = graft.llm.TextAnalysis.Stopwords
    val n = size(ts)
    val alpha = size(filter(ts, t => t.rlike("^[a-z-_]+$")))
    val stop = size(filter(ts, t => t.isin(stopList: _*)))
    val q = lit(0.5) * (alpha.cast("double") / n) +
      lit(0.3) * (lit(1.0) - stop.cast("double") / n) +
      lit(0.2) * least(n.cast("double") / lit(64.0), lit(1.0))
    val src = docs.select(col("source"), q.as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_s"), dsum(col("q")).as("q_s"))
      .localCheckpoint() // k rows; feeds draws + the n_docs join-back
    val perms = s.range(0, nPerms.toLong).toDF("p")
      .crossJoin(broadcast(src))
      .withColumn("key", graft.functions.HashExprs.fnv1a32(
        "concat('dperm:', cast(p as string), ':', source)"))
    val byPerm = Window.partitionBy("p")
      .orderBy(col("key").asc, col("source").asc)
    val upTo = Window.partitionBy("p").orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marg = perms
      .withColumn("pos", row_number().over(byPerm))
      .withColumn("cn", sum(col("n_s")).over(upTo))
      .withColumn("cq",
        sum(col("q_s").cast("decimal(38,12)")).over(upTo).cast("double"))
      .select(col("p"), col("source"),
        (col("cq") / col("cn").cast("double")
          - when(col("cn") === col("n_s"), lit(0.0))
            .otherwise((col("cq") - col("q_s"))
              / (col("cn") - col("n_s")).cast("double"))).as("m"))
    val rLo = math.max(2, nPerms / 40)
    val rHi = nPerms - rLo + 1
    val byM = Window.partitionBy("source").orderBy(col("m").asc, col("p").asc)
    marg.withColumn("r", row_number().over(byM))
      .groupBy("source")
      .agg((dsum(col("m")) / lit(nPerms.toDouble)).as("phi"),
        min(when(col("r") === rLo, col("m"))).as("lo"),
        min(when(col("r") === rHi, col("m"))).as("hi"))
      .join(src.select(col("source"), col("n_s").as("n_docs")), "source")
      .select(col("source"), col("n_docs"), lit(nPerms.toLong).as("n_perms"),
        femit(col("phi")).as("shapley"),
        femit(col("lo")).as("ci_lo"), femit(col("hi")).as("ci_hi"))
      .orderBy("source")
  }

  /** Shapley-priced source reweighting — the executor that closes the
    * valuation→curation loop ([[dataShapley]] prices the sources;
    * this turns the prices into a sampling recipe and runs it, the
    * Ghorbani &amp; Zou §5 "remove low-value data" application as a
    * deterministic pipeline stage): per-source keep rate ∝ the
    * CLIPPED Shapley value (negative-value sources drop to rate 0,
    * the best source keeps everything), executed with q112's
    * derandomized fnv(doc_id:'swr') coin so the sample is
    * reproducible row-for-row.
    *
    * Determinism: the rate arithmetic starts from the femit'd 1e-6
    * Shapley grid, so rates are EXACT integers (micro-units ×
    * denom ÷ max), and every output column is an integer count —
    * hash-exact by construction.
    *
    * Scale: [[dataShapley]]'s doc-grain aggregate + one broadcast of
    * the k-row rate table + one filtered count over the corpus — the
    * corpus streams once. */
  def shapleyReweight(docs: DataFrame, nPerms: Int = 200,
                      denom: Int = 1000): DataFrame = {
    val shap = dataShapley(docs, nPerms)
      .select(col("source"), col("n_docs"),
        floor(greatest(col("shapley"), lit(0.0)) * 1e6 + 0.5)
          .cast("long").as("micro"))
    val mx = shap.agg(max(col("micro")).as("mxm"))
    val wt = shap.crossJoin(broadcast(mx))
      .select(col("source"), col("n_docs"),
        expr(s"micro * $denom div nullif(mxm, 0)").as("keep_lt"))
      .localCheckpoint() // k rows; rate table + output spine
    val kept = docs.join(broadcast(wt), "source")
      .where(pmod(graft.functions.HashExprs.fnv1a32(
        "concat(cast(doc_id as string), ':swr')"), lit(denom.toLong))
        < col("keep_lt"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    wt.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("keep_lt"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Leave-one-source-out ABLATION report (the sufficient-statistics
    * special case of data valuation — Ghorbani &amp; Zou's Data
    * Shapley asks this with retraining; a curation pipeline first asks
    * it for metrics that decompose, where the answer is EXACT and
    * free): for each source, what happens to the corpus mean quality
    * score (q24's blend) and the language-distribution entropy if that
    * source is dropped? Both metrics decompose over rows, so every
    * ablation is algebra on totals — (Q−Q_s)/(N−n_s) and the 5×5
    * (source × lang) cell grid — with NO second pass over the data:
    * the whole report costs one scan + two tiny aggs regardless of
    * source count, which is why this report is the cheap screen run
    * BEFORE any retraining-based valuation.
    *
    * Determinism: quality is q24's per-row IEEE chain; sums ride dsum;
    * entropy terms −p·ln p are fixed-order with p&gt;0 guards; deltas
    * femit.
    *
    * Scale: one corpus scan → (source, lang)-cell hash-agg; the
    * ablation algebra runs on |sources|·|langs| cells. */
  def sourceAblation(docs: DataFrame): DataFrame = {
    import graft.rel.Queries.{dsum, femit}
    val ts = expr("filter(split(text, ' ', -1), t -> t != '')")
    val stopList = graft.llm.TextAnalysis.Stopwords
    val n = size(ts)
    val alpha = size(filter(ts, t => t.rlike("^[a-z-_]+$")))
    val stop = size(filter(ts, t => t.isin(stopList: _*)))
    val q = lit(0.5) * (alpha.cast("double") / n) +
      lit(0.3) * (lit(1.0) - stop.cast("double") / n) +
      lit(0.2) * least(n.cast("double") / lit(64.0), lit(1.0))
    val cells = docs.select(col("source"), col("lang"), q.as("q"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("c_sl"), dsum(col("q")).as("q_sl"))
      .localCheckpoint() // feeds lang totals, source totals, global
    val langTot = cells.groupBy("lang").agg(sum(col("c_sl")).as("c_l"))
    val srcTot = cells.groupBy("source")
      .agg(sum(col("c_sl")).as("n_s"), dsum(col("q_sl")).as("q_s"))
    val glob = cells.agg(sum(col("c_sl")).as("nn"), dsum(col("q_sl")).as("qq"))
    // full source x lang grid (a source may miss a language entirely)
    val grid = srcTot.select("source", "n_s")
      .crossJoin(broadcast(langTot))
      .join(cells.select(col("source"), col("lang"), col("c_sl")),
        Seq("source", "lang"), "left")
      .select(col("source"), col("n_s"), col("lang"), col("c_l"),
        coalesce(col("c_sl"), lit(0L)).as("c_sl"))
      .crossJoin(broadcast(glob))
    val pAbl = (col("c_l") - col("c_sl")).cast("double") /
      (col("nn") - col("n_s")).cast("double")
    val pGlob = col("c_l").cast("double") / col("nn").cast("double")
    val ent = grid
      .select(col("source"), col("n_s"), col("qq"), col("nn"),
        when(pAbl > 0.0, -pAbl * log(pAbl)).otherwise(lit(0.0)).as("h_abl"),
        when(pGlob > 0.0, -pGlob * log(pGlob)).otherwise(lit(0.0)).as("h_g"))
      .groupBy("source")
      .agg(min(col("n_s")).as("n_docs"), min(col("qq")).as("qq"),
        min(col("nn")).as("nn"),
        dsum(col("h_abl")).as("ent_abl"), dsum(col("h_g")).as("ent_glob"))
    ent.join(srcTot.select(col("source"), col("q_s")), "source")
      .select(col("source"), col("n_docs"),
        femit((col("qq") - col("q_s"))
          / (col("nn") - col("n_docs")).cast("double")
          - col("qq") / col("nn").cast("double")).as("delta_mean_quality"),
        femit(col("ent_abl") - col("ent_glob")).as("delta_lang_entropy"))
      .orderBy("source")
  }

  /** WordPiece-style GREEDY LONGEST-MATCH segmentation + per-language
    * fertility report (Wu et al. 2016 §4.1 — the tokenizer family's
    * other canonical algorithm next to q174/q206's BPE: BPE replays
    * merge ORDER, WordPiece matches the longest vocab piece at each
    * position; HF `tokenizers` ships both). Vocab = every single
    * character (so segmentation is total — no UNK path) plus every
    * 2–3-char substring occurring in ≥ `minWords` distinct words (the
    * unigram-vocab selection). The per-word segmentation runs as an
    * engine-managed RECURSIVE CTE (the q266 UnionLoop discipline):
    * the longest-match table lm(word, pos → step) is precomputed as
    * plain relational algebra (the SQL standard bars aggregates in the
    * recursive member), so the recursion itself is a pure functional-
    * graph walk pos → pos+step, depth ≤ max word length.
    *
    * Determinism: everything is exact substring/count/integer
    * arithmetic; the two fertility ratios femit at emission.
    *
    * Scale: segmentation runs over DISTINCT words (vocab grain, ≪
    * corpus — the q174 move); the token stream is touched once to
    * count occurrences per language; each recursion round is a
    * shuffle-on-key equi-join against the staged lm table
    * (localCheckpoint'd before the loop — UnionLoop would otherwise
    * re-derive it every round, the q266 16s→3s lesson). */
  def wordpieceFertility(docs: DataFrame, minWords: Int = 4): DataFrame = {
    import graft.rel.Queries.femit
    val s = docs.sparkSession
    val tok = docs
      .select(col("lang"),
        explode(expr("filter(split(text, ' ', -1), t -> t != '')")).as("w"))
    val langW = tok.groupBy("lang", "w").agg(count(lit(1)).as("n_occ"))
      .localCheckpoint() // feeds words AND the final per-lang report
    val words = langW.select("w").distinct().localCheckpoint()
    // candidate pieces: all substrings len 1..3 of the distinct words
    val cand = words.select(col("w"),
        explode(expr(
          """flatten(transform(sequence(1, length(w)), p ->
            |  transform(sequence(1, least(3, length(w) - p + 1)), l ->
            |    struct(p AS pos, substring(w, p, l) AS piece))))""".stripMargin))
          .as("c"))
      .select(col("w"), col("c.pos").as("pos"), col("c.piece").as("piece"))
      .localCheckpoint() // feeds the vocab census AND the lm build
    val vocab = cand.where(length(col("piece")) > 1)
      .select(col("piece"), col("w")).distinct()
      .groupBy("piece").agg(count(lit(1)).as("nw"))
      .where(col("nw") >= minWords)
      .select("piece")
      .unionByName(cand.where(length(col("piece")) === 1)
        .select("piece").distinct())
      .distinct()
    val lm = cand.join(vocab, "piece")
      .groupBy("w", "pos").agg(max(length(col("piece"))).as("step"))
      .localCheckpoint() // staged BEFORE the loop (q266 rule)
    words.createOrReplaceTempView("graft_q383_words")
    lm.createOrReplaceTempView("graft_q383_lm")
    val seg = s.sql(
      """WITH RECURSIVE seg(w, pos, np) AS (
        |  SELECT w, 1, 0 FROM graft_q383_words
        |  UNION ALL
        |  SELECT s.w, s.pos + l.step, s.np + 1
        |  FROM seg s JOIN graft_q383_lm l ON l.w = s.w AND l.pos = s.pos
        |  WHERE s.pos <= length(s.w))
        |SELECT w, np AS n_pieces FROM seg WHERE pos = length(w) + 1""".stripMargin)
    langW.join(seg, "w")
      .groupBy("lang")
      .agg(sum(col("n_occ")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("n_occ") * col("n_pieces")).as("n_pieces"),
        sum(when(col("n_pieces") === 1, 1L).otherwise(0L))
          .as("n_unsegmented_types"),
        sum(col("n_occ") * length(col("w")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_pieces"),
        col("n_unsegmented_types"),
        femit(col("n_pieces").cast("double") / col("n_tokens").cast("double"))
          .as("pieces_per_token"),
        femit(col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
      .orderBy("lang")
  }

  /** Quality-filter CASCADE waterfall — the per-stage survival report
    * every C4/Gopher-style curation pipeline publishes (Raffel et al.
    * 2020 §2.2's filter list; Rae et al. 2021 table A1): ordered
    * rules, each document dies at its FIRST failing stage, and the
    * report shows n_in → n_killed → n_out per stage so a pipeline
    * owner sees WHICH rule costs how much corpus — the composition
    * report over the individual signals q24/q25/q17 score one at a
    * time. Stages (cheap row-local rules first, the corpus-wide dedup
    * last — production order, since later stages see fewer rows):
    *   1 too_short (n_tokens &lt; 16)       2 too_long (&gt; 90)
    *   3 stop_heavy (stop·5 &gt; n_tokens — the ratio compare done in
    *     exact integer cross-multiplication, no float threshold)
    *   4 lang_filter (lang ∉ {en, de, es, fr})
    *   5 exact_dup (doc_id ≠ min doc_id of its text group).
    *
    * Determinism: every verdict is integer/string comparison; the one
    * float column (kill_share) femits a ratio of exact longs.
    *
    * Scale: one corpus scan computes stages 1–4 row-locally; stage 5
    * is the q17 text-keyed hash-agg (min doc_id per text — at 100 TB
    * the key would be the text's hash, same shape); the waterfall
    * algebra runs on the 5-row stage table. */
  def filterCascade(docs: DataFrame): DataFrame = {
    import graft.rel.Queries.femit
    import org.apache.spark.sql.expressions.Window
    val stopList = graft.llm.TextAnalysis.Stopwords
    val base = docs
      .select(col("doc_id"), col("lang"), col("text"),
        expr("filter(split(text, ' ', -1), t -> t != '')").as("ts"))
      .withColumn("n_tok", size(col("ts")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("ts"), t => t.isin(stopList: _*))).cast("long"))
      .withColumn("first_id", min(col("doc_id")).over(
        Window.partitionBy("text")))
    val died = base.select(
      when(col("n_tok") < 16, 1L)
        .when(col("n_tok") > 90, 2L)
        .when(col("n_stop") * 5L > col("n_tok"), 3L)
        .when(!col("lang").isin("en", "de", "es", "fr"), 4L)
        .when(col("doc_id") =!= col("first_id"), 5L)
        .otherwise(0L).as("died_at"))
    val kills = died.groupBy("died_at").agg(count(lit(1)).as("k"))
    val total = died.agg(count(lit(1)).as("n_total"))
    val names = array(lit("too_short"), lit("too_long"),
      lit("stop_heavy"), lit("lang_filter"), lit("exact_dup"))
    val pre = Window.orderBy(col("stage_idx").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.sparkSession.range(1, 6).toDF("stage_idx")
      .join(kills, col("stage_idx") === col("died_at"), "left")
      .select(col("stage_idx"), coalesce(col("k"), lit(0L)).as("n_killed"))
      .crossJoin(broadcast(total))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_killed")).over(pre), lit(0L)))
      .select(col("stage_idx"),
        element_at(names, col("stage_idx").cast("int")).as("stage"),
        col("n_in"), col("n_killed"),
        (col("n_in") - col("n_killed")).as("n_out"),
        femit(col("n_killed").cast("double") / col("n_in").cast("double"))
          .as("kill_share"))
      .orderBy("stage_idx")
  }

  /** Spark-SQL text of the Luhn mod-10 checksum over a digit-run
    * token (ISO/IEC 7812; the checksum that separates card-like
    * numbers from arbitrary digit runs): reversed-position fold,
    * doubling even positions with the &gt;9 − 9 reduction — pure
    * integer arithmetic, shared structurally with the oracle twin. */
  private val luhnSumSql: String =
    """aggregate(sequence(1, length(tok)), 0, (acc, i) ->
      |  acc + (CASE WHEN i % 2 = 1
      |    THEN ascii(substr(reverse(tok), i, 1)) - 48
      |    ELSE CASE WHEN (ascii(substr(reverse(tok), i, 1)) - 48) * 2 > 9
      |      THEN (ascii(substr(reverse(tok), i, 1)) - 48) * 2 - 9
      |      ELSE (ascii(substr(reverse(tok), i, 1)) - 48) * 2 END END))"""
      .stripMargin

  /** PII audit over raw whitespace tokens, per source (the redaction
    * census a curation pipeline runs before release — Subramani et
    * al. 2023 survey exactly this detector family): anchored-regex
    * classes for emails and IPv4 literals, digit runs 2–19 long, the
    * Luhn mod-10 checksum over every digit run (card-like = 13–19
    * digits AND Luhn-valid, the ISO/IEC 7812 gate), and the redaction
    * rate (emails + IPv4 + card-like)/tokens.
    *
    * Tokens are RAW (no lowercase — emails are case-sensitive left of
    * the @); the regexes are RE2-compatible character classes so the
    * Spark (java.util.regex) and DuckDB (RE2) engines agree (the O4
    * dialect-parity argument). The Luhn fold is exact integer
    * arithmetic per token — zero float anywhere before the final
    * rate.
    *
    * Runs over TWO surfaces unioned — document text tokens (grouped
    * by source) and the events `props` JSON values (grouped by event
    * type): the fixture's documents are digit-free word soup, so the
    * props surface is what actually exercises the digit-run and Luhn
    * paths with nonzero counts (the gate then certifies the checksum
    * itself, not just zeros).
    *
    * Scale: one projection with codegen'd regex/fold expressions +
    * one (surface, group)-grain hash-agg — embarrassingly parallel. */
  def piiAudit(docs: DataFrame, events: DataFrame): DataFrame = {
    import graft.rel.Queries.femit
    val dtok = docs.select(lit("documents.text").as("surface"),
        col("source").as("grp"),
        explode(split(col("text"), " ", -1)).as("tok"))
      .where(col("tok") =!= "")
    val etok = events.select(lit("events.props").as("surface"),
        col("event_type").as("grp"),
        get_json_object(col("props"), "$.k").as("tok"))
      .where(col("tok").isNotNull && col("tok") =!= "")
    val cls = dtok.unionAll(etok)
      .withColumn("is_email", col("tok").rlike(
        "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"))
      .withColumn("is_ipv4",
        col("tok").rlike("^([0-9]{1,3}\\.){3}[0-9]{1,3}$"))
      .withColumn("is_digit_run", col("tok").rlike("^[0-9]{2,19}$"))
      .withColumn("luhn_ok",
        col("is_digit_run") && expr(luhnSumSql) % 10 === 0)
      .withColumn("is_card", col("luhn_ok") && length(col("tok")) >= 13)
    cls.groupBy("surface", "grp").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("is_digit_run"), 1L).otherwise(0L)).as("n_digit_runs"),
        sum(when(col("luhn_ok"), 1L).otherwise(0L)).as("n_luhn_valid"),
        sum(when(col("is_card"), 1L).otherwise(0L)).as("n_card_like"),
        sum(when(col("is_email"), 1L).otherwise(0L)).as("n_email"),
        sum(when(col("is_ipv4"), 1L).otherwise(0L)).as("n_ipv4"))
      .select(col("surface"), col("grp"), col("n_tokens"),
        col("n_digit_runs"), col("n_luhn_valid"), col("n_card_like"),
        col("n_email"), col("n_ipv4"),
        femit((col("n_email") + col("n_ipv4") + col("n_card_like"))
          .cast("double") / col("n_tokens").cast("double"))
          .as("redact_rate"))
      .orderBy("surface", "grp")
  }
}
