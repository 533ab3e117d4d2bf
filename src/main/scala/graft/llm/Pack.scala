package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for a training-data pipeline: token-
  * budget shard packing and deterministic stratified sampling. Both are
  * pure arithmetic over the corpus — fully DuckDB-oracle-able.
  */
object Pack {

  /** Deterministic subword-aware token-count estimate:
    * `max(whitespace_words, ceil(utf8_bytes / 4))`.
    *
    * A whitespace split systematically under-counts what a BPE
    * tokenizer produces (long words split into several subword units;
    * non-ASCII text costs more bytes per character and more tokens per
    * word — BPE output averages ≈4 UTF-8 bytes/token on web text, the
    * same heuristic OpenAI/Anthropic docs quote for English). Taking
    * the max with ceil(bytes/4) restores honesty on exactly the
    * documents whitespace gets most wrong (CJK text with few spaces,
    * URLs, code, base64 blobs) while staying a pure integer expression
    * both engines compute identically — no float division, no
    * tokenizer model artifact to ship. By construction the estimate is
    * ≥ the whitespace count (pinned by a ScalaCheck property).
    * Reference twin: none — the reference splits on a single space
    * (`SparkWordCount.scala:28`) and has no tokenizer either. */
  def estTokens(text: Column): Column =
    greatest(
      size(split(text, " ", -1)).cast("long"),
      shiftright(octet_length(text).cast("long") + lit(3L), 2))

  /** The DuckDB twin of [[estTokens]] over a column expression `c` —
    * kept next to the Spark form so the two can only drift visibly.
    * DuckDB `strlen` is byte length (= Spark `octet_length`); `//4`
    * on BIGINT matches the shiftright. */
  def estTokensSql(c: String): String =
    s"greatest(CAST(len(string_split($c, ' ')) AS BIGINT), (strlen($c)+3)//4)"

  /** Token-budget sequence packing — the LLM-pretraining "concatenate
    * and cut" pattern: documents are concatenated in doc_id order and
    * cut every `budget` tokens; each document is assigned to the shard
    * containing its first token. Output: (doc_id, n_tokens, shard).
    *
    * Scale posture: a naive `Window.orderBy(doc_id)` running sum is a
    * single-partition bottleneck. This is the classic two-phase
    * distributed prefix sum instead: bucket by doc_id range,
    * per-bucket running sums (parallel), then add broadcast bucket
    * offsets (a tiny nPartitions-row table). The result is independent
    * of the bucket boundaries, so the plan scales horizontally while
    * staying deterministic.
    *
    * The bucket id is a pure function of the data (uniform doc_id
    * ranges over [min_id, max_id]), NOT `spark_partition_id()` after a
    * sampled `repartitionByRange` exchange: the per-row window branch
    * and the offsets branch below both consume `parts`, and with a
    * sampled exchange their bucket assignments only agree while
    * exchange reuse happens to fire — a silent-wrong-answer hazard
    * under AQE replanning or `spark.sql.exchange.reuse=false`. A
    * data-derived bucket agrees by construction. Requires doc_id >= 0. */
  def shardPack(docs: DataFrame, budget: Long, nPartitions: Int = 32): DataFrame = {
    val toks = docs.select(col("doc_id"),
      estTokens(col("text")).as("n_tokens"))
    // Broadcast scalar bounds: one tiny agg over the pruned doc_id column.
    val bounds = toks.agg(min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    // width = span div n + 1 => pid in [0, nPartitions-1], no overflow.
    val parts = toks.join(broadcast(bounds))
      .withColumn("pid", expr(
        s"(doc_id - min_id) DIV ((max_id - min_id) DIV $nPartitions + 1)"))
      .drop("min_id", "max_id")
    val wLocal = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("local_cum", sum("n_tokens").over(wLocal))
    // Bucket totals: <= nPartitions rows — the only single-partition
    // step, over a table the size of the bucket count.
    val offsets = parts.groupBy("pid").agg(sum("n_tokens").as("ptotal"))
      .withColumn("offset", coalesce(
        sum("ptotal").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .withColumn("cum", col("local_cum") + col("offset"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) DIV $budget").as("shard"))
  }

  /** Single-window reference implementation of [[shardPack]] — the
    * equivalence oracle for the distributed prefix sum (and the shape
    * the DuckDB oracle uses). Not for production: one global window
    * partition. */
  def shardPackNaive(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"),
        estTokens(col("text")).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) DIV $budget").as("shard"))
  }

  /** Materialize the packed training sequences: the [[shardPack]]
    * assignment joined back to the text, each shard's documents
    * concatenated in doc_id order with an EOS separator — the actual
    * "concatenate and cut" artifact a tokenizer consumes. Per-shard
    * state is bounded by the token budget (a shard holds ≈budget
    * tokens by construction), so the collect buffers can't blow up on
    * skew. Output: (shard, n_docs, shard_tokens, packed). */
  def packSequences(docs: DataFrame, budget: Long,
                    eos: String = "<|eos|>"): DataFrame = {
    val assigned = shardPack(docs, budget)
    assigned.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        concat_ws(eos, transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          e => e.getField("text"))).as("packed"))
  }

  /** Deterministic train/val/test split: the same overflow-safe Knuth
    * hash as [[stratifiedSample]] maps each doc id to a bucket in
    * [0, 100); contiguous bucket ranges become the splits. No RNG state
    * — the assignment is reproducible on any engine, cluster, or retry,
    * and a document NEVER migrates between splits when the corpus grows
    * (membership depends only on its own id), which is what keeps
    * eval-set contamination impossible across pipeline re-runs.
    * Output: docs + `split` column. */
  def assignSplit(docs: DataFrame, trainPct: Int = 80,
                  valPct: Int = 10): DataFrame =
    docs.withColumn("split", splitOf(col("doc_id"), trainPct, valPct))

  /** The split-assignment column [[assignSplit]] applies to `doc_id`,
    * exposed on an arbitrary non-negative BIGINT key so group-level
    * splitters (q343's near-dup-component split) reuse the identical
    * overflow-safe Knuth bucket arithmetic. */
  def splitOf(key: Column, trainPct: Int = 80,
              valPct: Int = 10): Column = {
    require(trainPct + valPct < 100, "test split must be non-empty")
    val A = 2654435761L
    val d32 = pmod(key, lit(4294967296L))
    val lo = d32.bitwiseAND(lit(65535L))
    val hi = shiftright(d32, 16)
    val h32 = pmod(lo * A + pmod(hi * A, lit(65536L)) * 65536L, lit(4294967296L))
    when(pmod(h32, lit(100L)) < trainPct, "train")
      .when(pmod(h32, lit(100L)) < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic stratified sampling: per-stratum (language) keep
    * rates, membership decided by a Knuth multiplicative hash of the
    * document id — no RNG state, identical output on any engine,
    * cluster, or retry (sampleBy's Bernoulli draw is engine-specific;
    * reproducible sampling wants pure arithmetic). Keep iff
    * (doc_id · 2654435761) mod 2³² mod 100 < rate(lang).
    *
    * The multiply is overflow-safe for the full non-negative doc_id
    * domain: a direct `doc_id * 2654435761` wraps Spark's (non-ANSI)
    * Long above doc_id ≈ 3.47e9 while DuckDB raises a BIGINT overflow —
    * so the low 32 bits are split into 16-bit halves and reduced mod 2³²
    * term-by-term ((x·2¹⁶) mod 2³² = (x mod 2¹⁶)·2¹⁶); every partial
    * product stays below 2⁴⁸ on both engines. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    val A = 2654435761L
    val d32 = pmod(col("doc_id"), lit(4294967296L))
    val lo = d32.bitwiseAND(lit(65535L))
    val hi = shiftright(d32, 16)
    val h32 = pmod(lo * A + pmod(hi * A, lit(65536L)) * 65536L, lit(4294967296L))
    docs
      .withColumn("__h", pmod(h32, lit(100L)))
      .where(col("__h") < rate)
      .drop("__h")
  }

  /** RENDEZVOUS (highest-random-weight) shard assignment audit
    * (Thaler &amp; Ravishankar, ToN 1998 — the consistent-assignment
    * rule behind cache rings, shard routers, and shuffle services):
    * every document routes to argmax over shards of
    * fnv(doc_id : "node" : shard) — a pure per-row computation, no
    * coordination, no ring metadata — and the DEFINING property is
    * minimal disruption: removing one shard moves ONLY the documents
    * that lived on it (each survivor keeps its argmax among the
    * remaining shards). The audit measures both halves: per-shard
    * balance before/after dropping shard `dropId`, and the moved-doc
    * count — which the gate row certifies EQUALS the dropped shard's
    * former population (anything else means the assignment is not
    * HRW).
    *
    * Output per surviving shard: n_before, n_after, n_gained (docs
    * inherited from the dropped shard) — plus the dropped shard's row
    * (n_after = 0, n_gained = 0), so Σ n_gained = dropped population
    * is readable off the table.
    *
    * Determinism: pure integer fnv argmax with shard-id tiebreak
    * (max over (w, −shard) structs — higher weight wins, ties to the
    * LOWER id).
    * Scale: ONE fnv expression over the exploded (doc, shard) rows —
    * an n-way inline fold of fnv blobs breaks the 64 KB codegen
    * method limit and drops the stage to interpreted mode (measured;
    * this shape stays whole-stage) — then one doc-keyed max-agg whose
    * map-side partial collapses the ×nShards inflation back to one
    * compact row per doc before the exchange. */
  def rendezvousShards(docs: DataFrame, nShards: Int = 8,
                       dropId: Int = 3): DataFrame = {
    val scored = docs.select(col("doc_id"),
        explode(sequence(lit(0L), lit(nShards - 1L))).as("s"))
      .select(col("doc_id"), col("s"),
        graft.functions.HashExprs.fnv1a32(
          "concat(cast(doc_id as string), ':node:', cast(s as string))")
          .as("w"))
    val routed = scored.groupBy("doc_id")
      .agg(max(struct(col("w"), (-col("s")).as("ns"))).as("mb"),
        max(when(col("s") =!= dropId.toLong,
          struct(col("w"), (-col("s")).as("ns")))).as("ma"))
      .select(col("doc_id"), (-col("mb.ns")).as("shard_before"),
        (-col("ma.ns")).as("shard_after"))
    routed.groupBy(col("shard_before").as("shard"))
      .agg(count(lit(1)).as("n_before"))
      .join(routed.groupBy(col("shard_after").as("shard"))
        .agg(count(lit(1)).as("n_after")), Seq("shard"), "full_outer")
      .join(routed.where(col("shard_before") === dropId.toLong)
        .groupBy(col("shard_after").as("shard"))
        .agg(count(lit(1)).as("n_gained")), Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        when(col("shard") === dropId.toLong, lit(0L))
          .otherwise(coalesce(col("n_gained"), lit(0L))).as("n_gained"))
      .orderBy("shard")
  }
}
