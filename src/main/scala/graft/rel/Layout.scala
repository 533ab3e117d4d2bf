package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout techniques for shuffle elimination and skew handling
  * at cluster scale. Nothing here changes query semantics — both helpers
  * are equivalence-tested against their naive counterparts.
  */
object Layout {

  /** Write a table bucketed (and sorted) by the join key. Two tables
    * bucketed the same way join with NO exchange — at 100 TB this turns
    * the nightly fact⋈fact join from a full network shuffle into a
    * partition-local merge. (Bucketing metadata lives in the session
    * catalog, hence saveAsTable rather than a bare path.) */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    writeBucketedBy(df, table, buckets, key)

  /** Multi-key form of [[writeBucketed]]: bucket (and sort) by a
    * composite key. The planner only rides a bucketed layout when the
    * join/grouping keys MATCH the bucket spec — a store bucketed by a
    * strict subset of the join keys gets `Bucketed: false (disabled by
    * query planner)` and re-shuffles (observed on the q75 signature
    * store; pinned in PlanSpec) — so the bucket columns must be exactly
    * the keys the consumer joins on. */
  def writeBucketedBy(df: DataFrame, table: String, buckets: Int,
                      keys: String*): Unit = {
    val s = df.sparkSession
    // A managed-table location left behind by a PREVIOUS session (whose
    // catalog entry died with it) blocks recreation with
    // LOCATION_ALREADY_EXISTS — drop the catalog entry and clear any
    // stale directory before writing.
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Append into an EXISTING bucketed table with the identical bucket
    * spec — the incremental write path of a persisted layout: cost is
    * O(appended batch) (one new file per non-empty bucket), the table
    * is never rewritten, and the scan stays `Bucketed: true` across
    * appends (files of the same bucket id are grouped into one input
    * partition), so downstream bucket-keyed joins/aggs remain
    * exchange-free. The spec must match the table's exactly — Spark
    * rejects a mismatched bucketBy at write time. */
  def appendBucketedBy(df: DataFrame, table: String, buckets: Int,
                       keys: String*): Unit =
    df.write.mode("append").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket key (exchange-free —
    * asserted in LayoutSpec). The merge hint keeps the planner on the
    * sort-merge path — a broadcast would bypass the bucket layout (and
    * is the right choice anyway when one side is broadcast-small). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).hint("merge").join(spark.table(right).hint("merge"), key)

  /** Hive-style partitioned layout: one directory per partition-column
    * value. A reader filtering on the partition column touches ONLY its
    * directories — the listing prunes before any file is opened
    * (`PartitionFilters` in the scan, plan-asserted in LayoutSpec). The
    * 100-TB ingest norm: partition by coarse selective keys (date, lang,
    * source), bucket by join keys — this is the read-side complement of
    * [[writeBucketed]]. */
  def writePartitioned(df: DataFrame, out: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(out)

  /** Range-sorted parquet layout (the zone-map / min-max-skipping
    * technique): globally range-partition on `key`, sort within each
    * file, write. Every file and row group then covers a NARROW key
    * interval, so parquet's min/max statistics let a pushed-down range
    * predicate skip whole row groups — the reader produces only the
    * matching slice instead of scanning the corpus (LayoutSpec
    * measures the scan's numOutputRows collapsing vs an unsorted
    * layout of the same rows). At 100 TB this is the difference
    * between a time-range query touching ~selectivity of the bytes
    * and touching all of them; it composes with [[writePartitioned]]
    * (coarse partition dirs, fine range-sort within) and is the write-
    * side discipline behind the streaming gates' time-ordered layout
    * contract. The range exchange samples the key to build balanced
    * bounds — skew-tolerant by construction.
    *
    * Gotcha this helper exists to encode: Spark's LEGACY default
    * parquet timestamp encoding is INT96, which carries NO min/max
    * statistics and no pushdown — a time-sorted layout written that
    * way silently skips nothing (measured: the full table scanned).
    * The write forces INT64 TIMESTAMP_MICROS (session conf restored
    * after), which every modern reader stats-prunes. */
  def writeRangeSorted(df: DataFrame, out: String, nFiles: Int,
                       key: String): Unit = {
    val s = df.sparkSession
    val k = "spark.sql.parquet.outputTimestampType"
    val old = s.conf.get(k)
    s.conf.set(k, "TIMESTAMP_MICROS")
    try df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(out)
    finally s.conf.set(k, old)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetFiles` evenly-sized files. The 100-TB housekeeping
    * operator — streaming ingest and over-parallel writers leave
    * thousands of tiny files whose per-file open/footer/listing cost
    * dominates scans. `repartition` (round-robin shuffle) rather than
    * `coalesce`: coalesce chains the upstream partitioning into the
    * write and skews file sizes; the shuffle is the price of even
    * output. Row-preservation is gate-checked (q63); the file-count
    * contract is asserted in LayoutSpec. */
  def compact(spark: SparkSession, in: String, out: String,
              targetFiles: Int): Unit =
    spark.read.parquet(in).repartition(targetFiles)
      .write.mode("overwrite").parquet(out)

  /** Morton (Z-order) key: interleave the low 32 bits of two
    * non-negative integer columns bit-by-bit into one 64-bit key
    * (Morton, "A computer oriented geodetic data base", IBM 1966 — the
    * curve behind every warehouse's Z-ORDER BY clustering). The classic
    * magic-mask bit spread, expressed entirely in codegen'd integer
    * ops — no UDF. */
  def mortonKey(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      var x = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ordered parquet layout: [[writeRangeSorted]]'s min/max-skipping
    * idea extended to TWO dimensions. Range-partition + sort on the
    * Morton key, so every file/row group covers a small Z-curve segment
    * — a bounded box in BOTH dimensions at once — and parquet min/max
    * stats prune scans filtered on EITHER column (or a 2-D box). The
    * single-key sort can only skip on its leading column; Z-order trades
    * a little per-column locality for locality in both (LayoutSpec
    * measures both scans collapsing where the single-sorted layout
    * collapses only one). At 100 TB this is how a fact table serves
    * both "by order" and "by part" range scans from one copy — the
    * manual form of Delta/Iceberg `ZORDER BY`. The sort key is dropped
    * before the write: the layout is pure physics, the schema is
    * unchanged.
    *
    * Each dimension is first NORMALIZED to a 16-bit grid over its
    * observed [min, max] (pure integer math, a 1-row broadcast stats
    * aggregate — no driver action): raw interleaving would let the
    * wider-ranged column own all the high Z bits and the curve
    * degenerates to a plain sort on it, skipping nothing on the other
    * dimension (measured: that exact failure on the unequal-width
    * lineitem keys). This is the same equal-width-rank trick production
    * ZORDER implementations apply before interleaving. The stats
    * pre-pass is part of the write job, like the range exchange's own
    * bounds sampling. */
  def writeZOrdered(df: DataFrame, out: String, nFiles: Int,
                    colA: String, colB: String): Unit = {
    val stats = df.agg(
      min(col(colA)).cast("long").as("__amin"),
      max(col(colA)).cast("long").as("__amax"),
      min(col(colB)).cast("long").as("__bmin"),
      max(col(colB)).cast("long").as("__bmax"))
    def grid(c: Column, lo: Column, hi: Column): Column =
      ((c.cast("long") - lo) * lit(65536L)) / greatest(hi - lo + 1L, lit(1L))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", mortonKey(
        grid(col(colA), col("__amin"), col("__amax")),
        grid(col(colB), col("__bmin"), col("__bmax"))))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__amin", "__amax", "__bmin", "__bmax")
      .write.mode("overwrite").parquet(out)
  }

  /** Bloom-filter runtime pruning of a fact table against a dim-side
    * key set — the manual form of the semi-join-reduction / runtime-
    * filter rewrite warehouse optimizers apply at scale: at 100 TB the
    * win is shedding non-matching fact rows BEFORE the join's shuffle
    * (or before a non-broadcastable dim side forces a full fact
    * exchange), for the price of one tiny aggregate on the dim side
    * and a per-row hash check on the fact side.
    *
    * Mechanics: `bits` bloom bits packed into a word-indexed
    * map&lt;int,bigint&gt; (8 KB at the default 2¹⁶), built with bit_or
    * partial aggregation over the dim keys and attached to every fact
    * row via a 1-row broadcast; `k` probe positions by
    * Kirsch–Mitzenmacher double hashing (h1 + i·h2 mod bits) over two
    * independent FNV-1a streams of the key's string form. A bloom has
    * NO false negatives, so downstream results are unchanged — false
    * positives merely survive until the exact join, which is why the
    * gate oracle is the plain join. Deterministic end to end (FNV +
    * integer math), so the pruned set itself is reproducible. */
  def bloomPrune(fact: DataFrame, factKey: String, dim: DataFrame,
                 dimKey: String, bits: Int = 1 << 16, k: Int = 3): DataFrame = {
    def posSql(key: String, i: Int): String =
      s"pmod(fnv1a32(CAST($key AS STRING), ${graft.functions.Fnv1a32.Seed}L) " +
        s"+ ${i}L * fnv1a32(CAST($key AS STRING), ${graft.functions.Fnv1a32.Seed2}L), ${bits}L)"
    val words = dim
      .select((0 until k).map(i => expr(posSql(dimKey, i)).as(s"p$i")): _*)
      .select(explode(array((0 until k).map(i => col(s"p$i")): _*)).as("p"))
      .select((col("p") / lit(64L)).cast("int").as("w"),
        expr("shiftleft(1L, CAST(p % 64 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bm"))
    val bloom = words
      .agg(map_from_entries(collect_list(struct(col("w"), col("bm"))))
        .as("__bloom"))
    val checks = (0 until k).map { i =>
      val p = posSql(factKey, i)
      s"(coalesce(element_at(__bloom, CAST(($p) DIV 64 AS INT)), 0L) " +
        s"& shiftleft(1L, CAST(($p) % 64 AS INT))) != 0L"
    }.mkString(" AND ")
    fact.crossJoin(broadcast(bloom)).where(expr(checks)).drop("__bloom")
  }

  /** Salted inner equi-join for skewed keys: the build side is
    * replicated `saltFactor`× with an explicit salt column, the probe
    * side gets a deterministic salt in [0, saltFactor) per row, and the
    * join key becomes (key, salt). A hot key's rows thus spread over
    * `saltFactor` reducers instead of one. Produces exactly the rows of
    * `big.join(small, bigKey === smallKey)`.
    *
    * AQE's skew-join split handles moderate skew automatically; explicit
    * salting is for the pathological keys AQE can't split (e.g. a single
    * key exceeding one executor's memory in a hash build). */
  def saltedJoin(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String,
                 saltFactor: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(saltFactor)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig
      .join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey) &&
          saltedBig("__salt") === saltedSmall("__salt"))
      .drop("__salt")
  }

  /** Skew ADVISOR — the planning half of [[saltedJoin]]: per-key row
    * counts over a prospective shuffle key, the share of the table each
    * key carries, and the salt factor (`ceil(cnt / targetRows)`) a
    * salted join/agg needs to spread that key across tasks. A key
    * under `targetRows` recommends salt 1 (no salting). This is the
    * diagnostic a pipeline runs BEFORE wiring a join at a new scale:
    * AQE's skew-join split handles sort-merge spills adaptively, but
    * broadcast-salting, per-key caps, and bucket sizing all want the
    * histogram up front. Emits the top `topK` keys by count with a
    * deterministic (cnt DESC, key ASC) ranking.
    *
    * Scale: one map-side-combined hash-agg on the key plus one 1-row
    * total broadcast; the rank window runs on the aggregated key table
    * (TakeOrderedAndProject keeps it top-k, never a full sort of the
    * key space). Share is a femit-emitted ratio of exact counts. */
  def skewAdvisor(df: DataFrame, keyCol: String, targetRows: Long,
                  topK: Int = 20): DataFrame = {
    val cnt = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // |keys| rows; feeds the total branch + select
    val tot = cnt.agg(sum(col("cnt")).as("total"))
    cnt.crossJoin(broadcast(tot))
      .select(col("key").cast("string").as("key"), col("cnt"),
        Queries.femit(col("cnt").cast("double") / col("total").cast("double"))
          .as("share"),
        greatest(lit(1L),
          ceil(col("cnt").cast("double") / lit(targetRows.toDouble)))
          .as("salt"))
      .orderBy(col("cnt").desc, col("key").asc)
      .limit(topK)
  }

  /** Join-size estimation via correlated bottom-k sampling — the
    * planning companion to [[skewAdvisor]]: before committing a
    * full-corpus shuffle, estimate |A ⋈ B| on a key from two tiny
    * mergeable sketches (Vengerov et al., "Join Size Estimation
    * Subject to Filter Conditions", VLDB 2015 — the correlated/
    * coordinated sampling family; same hash ⇒ the two sides sample
    * the SAME keys, which is what makes intersection estimable at
    * all). Each side keeps its distinct keys' fnv hashes with
    * multiplicities; τ = min of the two k-th-smallest hashes (a side
    * with fewer than k keys contributes τ = 2³² — fully sampled);
    * every key with h &lt; τ is sampled on BOTH sides with probability
    * p = τ/2³², so Σ c_A·c_B over sampled common keys, divided by p,
    * estimates the true join size Σ c_A·c_B. The output carries the
    * estimate NEXT TO the exact size (the kmvSketch audit convention)
    * — at production scale only the sketch side runs.
    *
    * Determinism: hashes, thresholds, the sampled key set, and the
    * sampled mass are exact integer math; the only double op is the
    * final division, emitted through femit. An empty sampled
    * intersection emits NULL (sum over zero rows), identically on
    * both engines.
    *
    * Scale: each sketch is one map-side-combined distinct-key
    * aggregate + a top-k (k rows out); τ is a 1-row broadcast; the
    * estimate touches ≤ 2k rows. The exact audit column is the only
    * full-key join — drop it and nothing above |keys| ever moves. */
  def joinSizeEstimate(left: DataFrame, leftKey: String,
                       right: DataFrame, rightKey: String,
                       k: Int = 64): DataFrame = {
    val full = lit(4294967296L)
    def side(df: DataFrame, key: String, cn: String): DataFrame =
      df.groupBy(col(key).cast("string").as("key"))
        .agg(count(lit(1)).as(cn))
        .select(col("key"), col(cn),
          graft.functions.HashExprs.fnv1a32("key").as("h"))
        .localCheckpoint() // feeds tau, the sample, and the exact audit
    val a = side(left, leftKey, "ca")
    val b = side(right, rightKey, "cb")
    def tau(x: DataFrame, name: String): DataFrame =
      x.select(col("h")).orderBy(col("h").asc).limit(k)
        .agg(count(lit(1)).as("nk"), max(col("h")).as("hk"))
        .select(when(col("nk") < k, full).otherwise(col("hk")).as(name))
    val t = tau(a, "tau_a").crossJoin(tau(b, "tau_b"))
      .select(col("tau_a"), col("tau_b"),
        least(col("tau_a"), col("tau_b")).as("tau"))
    val sampled = a.crossJoin(broadcast(t)).where(col("h") < col("tau"))
      .join(b, "key")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("sm"),
        count(lit(1)).as("n_common_sampled"),
        first(col("tau")).as("tau"))
    val exact = a.join(b, "key")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
        .as("exact_join_size"))
    val na = a.agg(count(lit(1)).as("n_keys_a"))
    val nb = b.agg(count(lit(1)).as("n_keys_b"))
    sampled.crossJoin(exact).crossJoin(na).crossJoin(nb)
      .select(col("n_keys_a"), col("n_keys_b"), col("tau"),
        col("n_common_sampled"),
        Queries.femit(col("sm").cast("double")
          / (col("tau").cast("double") / lit(4294967296.0)))
          .as("est_join_size"),
        col("exact_join_size"))
  }
}
