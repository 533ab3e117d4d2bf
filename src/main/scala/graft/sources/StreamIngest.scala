package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental file ingestion — the Structured Streaming file source →
  * file sink pipeline a crawl/landing-zone feed runs in production:
  * new files appear under a glob, the source picks them up in bounded
  * batches (`maxFilesPerTrigger`), a stateless transform runs per
  * micro-batch, and the checkpointed parquet sink commits exactly-once
  * (the `_spark_metadata` log makes partial task output invisible to
  * readers). `Trigger.AvailableNow` drains everything currently present
  * and stops — the backfill/catch-up mode; a live deployment swaps the
  * trigger for a processing-time one and nothing else changes.
  *
  * Scale: the source lists and checkpoints file names, never content —
  * state is O(files); each micro-batch is an ordinary distributed batch
  * plan, so the transform inherits every batch optimization (pushdown,
  * codegen, AQE off by default in streaming).
  */
object StreamIngest {

  /** Run one drain — `body` starts a streaming query and awaits it —
    * under the session settings every drain needs, restoring the
    * session values after. The settings are read at query start (the
    * first two are baked into the checkpoint), so the scope wraps the
    * WHOLE drain, which also keeps q101's two-start resume consistent:
    *  - `spark.sql.shuffle.partitions` = 8. A stateful query creates
    *    one state-store instance per shuffle partition PER STORE PER
    *    MICRO-BATCH, and each commits its own delta file; at the gate's
    *    micro-batch sizes the session default of 32 is pure commit
    *    overhead — 8 stores cut the q109 drain 1.9× with byte-identical
    *    results (state partitioning never affects semantics, only
    *    placement). A production deployment sizes this to its real
    *    per-batch state volume instead.
    *  - the state-store provider, when `provider` is given.
    *  - `fs.AbstractFileSystem.file.impl` = [[LocalCheckpointFs]]. The
    *    per-file commit cost on a host without libhadoop is not I/O
    *    (the local filesystem does not fsync) but child processes:
    *    the stock local `AbstractFileSystem` spawns a `chmod` for every
    *    file it creates and `readlink`s for every rename, about 680
    *    processes per q102 drain, 94% of them from the checkpoint file
    *    manager (state deltas, offsets, commits, source and sink logs,
    *    and their `.crc` sidecars). The replacement writes the same
    *    files, modes and checksums with JDK calls. The key names only
    *    the `file` scheme; every other scheme keeps its stock class.
    *  - `spark.sql.artifact.isolation.enabled` = false. A streaming
    *    query runs in a cloned session with a new session UUID; with
    *    isolation on, the executor builds one classloader per UUID,
    *    and the codegen cache keys on (classloader, source), so every
    *    drain recompiled its task-side generated classes (about 9 for
    *    q102) and ran them cold. graft adds no session artifacts, and
    *    the parent session's own artifact state is computed once and
    *    keeps isolation on. */
  private def drain[T](spark: SparkSession, provider: Option[String] = None)(body: => T): T = {
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalCheckpointFs].getName,
      "spark.sql.artifact.isolation.enabled" -> "false") ++
      provider.map("spark.sql.streaming.stateStore.providerClass" -> _)
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The parquet-sink drain, inside [[drain]]: build `frame`, start it
    * with `Trigger.AvailableNow` into the checkpointed exactly-once
    * parquet sink at `out` in append mode, await it, and read the sink
    * back with `frame`'s schema — a known schema skips the
    * schema-inference job a bare `read.parquet` runs on every call.
    * Returns the sink and the finished query (for its progress). */
  private def drainToParquet(spark: SparkSession, out: String, ckpt: String,
                             provider: Option[String] = None)(
      frame: => DataFrame): (DataFrame, StreamingQuery) = drain(spark, provider) {
    val f = frame
    val q = f.writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start(out)
    q.awaitTermination()
    (spark.read.schema(f.schema).parquet(out), q)
  }

  private def rm(spark: SparkSession, p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    // the session's hadoopConfiguration, not a fresh Configuration():
    // on a real cluster the sink may live on object storage whose
    // credentials/filesystem impl are session-configured
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(path, true)
  }

  /** STATEFUL streaming at the gate: watermarked tumbling-window
    * aggregation (count + exact-decimal sum) over a file-source stream,
    * append-mode through the checkpointed exactly-once parquet sink.
    * Append mode only emits a window once the watermark (max event time
    * − delay) passes its end, so the stream's output is exactly the
    * CLOSED windows — the final open tail is retained state that is
    * discarded at drain end, and the q87 oracle applies the same cutoff.
    *
    * Determinism contract: the CALLER must lay the source files out in
    * event-time order (sequential time-sliced appends — see the q87
    * declaration); the file source processes files in modification-time
    * order, so an out-of-order layout would make rows late behind the
    * watermark and silently drop them (the exact failure mode watermarks
    * exist to bound). State is O(open windows), not O(events). */
  def windowedAggParquet(spark: SparkSession, in: String,
                         schema: StructType, out: String, ckpt: String,
                         filesPerTrigger: Int = 2): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    windowedAggParquetResume(spark, in, schema, out, ckpt, filesPerTrigger)
  }

  /** [[windowedAggParquet]] WITHOUT the wipe: start (or RESTART) the
    * same query against an existing checkpoint + sink. A restarted
    * AvailableNow drain recovers the file-source log, the watermark,
    * and the open-window state from the checkpoint, processes only the
    * files that arrived since the previous run, and appends only the
    * newly-closed windows — the exactly-once recovery contract. q101
    * exercises it across a real stop/restart boundary: a window whose
    * events straddle the two runs must be emitted once, complete. */
  def windowedAggParquetResume(spark: SparkSession, in: String,
                               schema: StructType, out: String, ckpt: String,
                               filesPerTrigger: Int = 2): DataFrame =
    drainToParquet(spark, out, ckpt)(
      hourWindows(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(in)))._1

  /** The q87 plan: 1-hour tumbling windows on a 1-hour watermark,
    * count + exact-decimal sum per window, keyed by its start second. */
  private def hourWindows(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,12)")).as("dec_sum"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("n"), col("dec_sum"))
  }

  /** RocksDB state-store provider class name (shipped in the Spark 4
    * distribution): the disk-backed state backend production stateful
    * streaming runs — state volume is bounded by local disk + an
    * in-memory working set instead of the executor heap, the property
    * that matters once keyed state outgrows memory at 100 TB. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The q87 stateful drain with the state store swapped to RocksDB —
    * same plan, same checkpoint discipline, same oracle; only the
    * state BACKEND differs, and the gate row pins that the swap is
    * semantically invisible (the contract that lets a deployment
    * change backends by config, not code). */
  def windowedAggParquetRocksDb(spark: SparkSession, in: String,
                                schema: StructType, out: String,
                                ckpt: String): DataFrame =
    drain(spark, Some(RocksDbProvider)) {
      windowedAggParquet(spark, in, schema, out, ckpt)
    }

  /** The NATIVE session-window operator executed as a real streaming
    * drain (q55 gate-checks the same plan in batch mode; q90 the
    * custom-state reimplementation): session_window grouping with a
    * watermark, append mode — a session is emitted once the watermark
    * passes its close — through the checkpointed exactly-once sink.
    * Source-layout + sentinel contract identical to
    * [[sessionizeParquet]]: the caller appends a far-future sentinel
    * event per user as the LAST file so the final watermark closes
    * every real session; the sentinel sessions themselves never close
    * and are discarded with the state (filter them on the batch
    * read-back — q144's rule). */
  def sessionWindowParquet(spark: SparkSession, in: String,
                           schema: StructType, out: String,
                           ckpt: String): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    drainToParquet(spark, out, ckpt)(
      graft.streaming.Sessions.sessionAgg(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(in)))._1
  }

  /** The Spark 4 `transformWithState` sessionizer at the gate
    * ([[graft.streaming.Sessions.TwsSessionizer]]): same drain shape
    * and sentinel contract as [[sessionizeParquet]], run under the
    * RocksDB state store (a transformWithState requirement — the v2
    * state API is implemented against RocksDB's column families). */
  def twsSessionizeParquet(spark: SparkSession, in: String,
                           schema: StructType, out: String,
                           ckpt: String): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    drainToParquet(spark, out, ckpt, Some(RocksDbProvider))(
      graft.streaming.Sessions.sessionizeTws(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2").parquet(in))
        .toDF("user_id", "sess_start_us", "sess_end_us", "n_events"))._1
  }

  /** The MapState profile accumulator at the gate
    * ([[graft.streaming.Sessions.TwsUserProfiles]]): same drain shape
    * and RocksDB requirement as [[twsSessionizeParquet]]; the caller's
    * sentinel file pushes the watermark past `flushMs`, the per-key
    * flush timers fire in the trailing no-data batch, and the whole
    * map state dumps exactly once into the checkpointed sink. */
  def userProfilesParquet(spark: SparkSession, in: String,
                          schema: StructType, out: String,
                          ckpt: String, flushMs: Long): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    userProfilesParquetResume(spark, in, schema, out, ckpt, flushMs)
  }

  /** [[userProfilesParquet]] WITHOUT the wipe — start (or RESTART) the
    * MapState drain against an existing checkpoint. The v2 analogue of
    * [[windowedAggParquetResume]]: a restarted run recovers the
    * RocksDB-backed MapState (every per-user accumulator written by the
    * previous run), its registered timers, and the file-source log from
    * the checkpoint, then folds only the new files in. q282 exercises
    * the boundary: users whose events straddle the two runs must flush
    * a SINGLE accumulator equal to the batch truth — a lost map entry,
    * a replayed file, or a timer dropped in recovery all turn the gate
    * row red. */
  def userProfilesParquetResume(spark: SparkSession, in: String,
                                schema: StructType, out: String,
                                ckpt: String, flushMs: Long): DataFrame =
    drainToParquet(spark, out, ckpt, Some(RocksDbProvider))(
      graft.streaming.Sessions.userProfilesTws(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2").parquet(in), flushMs)
        .toDF("event_type", "user_id", "n_events", "sum_vu"))._1

  /** The q87 stateful drain instrumented for OBSERVABILITY: returns
    * the streaming engine's own late-data accounting alongside the
    * sink. `numRowsDroppedByWatermark` (summed over the drain's
    * micro-batch progress reports) counts rows the watermark excluded
    * from the stateful operator — the metric a production pipeline
    * alerts on, here made a gate-checkable VALUE: with a
    * deterministic source layout (time-ordered slices + one
    * deliberately-late file appended last) the watermark sequence is
    * deterministic, so the dropped count is exactly the late file's
    * row count and the sink is untouched by it (the late rows target
    * windows that already closed). Returns (sink rows, dropped). */
  def windowedAggParquetWithLateMetrics(
      spark: SparkSession, in: String, schema: StructType, out: String,
      ckpt: String): (DataFrame, Long) = {
    rm(spark, out); rm(spark, ckpt)
    val (sink, q) = drainToParquet(spark, out, ckpt)(
      hourWindows(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(in)))
    // Total source rows the engine READ, per its own progress
    // accounting. (numRowsDroppedByWatermark is NOT usable as the late
    // count here: the watermark predicate is pushed into the scan, so
    // most late rows are filtered before the stateful operator ever
    // sees them and the per-operator counter undercounts — measured 1
    // of 21 at the gate. The balance identity input − emitted −
    // retained is exact regardless of where the filter runs.)
    (sink, q.recentProgress.map(_.numInputRows).sum)
  }

  /** The FULLY-custom-state path at the gate: drain a (user_id, ts)
    * file-source stream through
    * [[graft.streaming.Sessions.sessionizeWithState]] (gap sessionizer
    * on flatMapGroupsWithState + event-time timeouts) into the
    * checkpointed exactly-once sink. Emission is timeout-driven: a
    * session leaves state only once the watermark passes its end + gap,
    * so the CALLER must both lay the source files out in event-time
    * order (q87's contract) and append a far-future sentinel event per
    * user as the LAST file — the sentinel advances the final watermark
    * past every real session's close, and the trailing no-data batch
    * fires the timeouts that flush them. Sentinel sessions themselves
    * stay open and are discarded at drain end. */
  def sessionizeParquet(spark: SparkSession, in: String,
                        schema: StructType, out: String,
                        ckpt: String): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    drainToParquet(spark, out, ckpt)(
      graft.streaming.Sessions.sessionizeWithState(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2").parquet(in))
        .toDF("user_id", "sess_start_us", "sess_end_us", "n_events"))._1
  }

  /** Streaming EXACT DEDUP at the gate (E14's unbounded form): drain a
    * (doc_id, text, lang, ts) file-source stream through
    * [[graft.streaming.Sessions.streamingDedup]]
    * (dropDuplicatesWithinWatermark keyed on the content hash — state
    * bounded by the watermark horizon, the property that makes
    * streaming dedup viable on an unbounded crawl) into the
    * checkpointed exactly-once parquet sink. Kept rows pass through
    * append-mode immediately (dedup is not an aggregation), so the
    * sink content is exactly the first-seen row per content within the
    * horizon — cross-micro-batch duplicates are dropped from state,
    * which is what the q102 layout (originals first, duplicate copies
    * in a LATER file) exercises. */
  def dedupParquet(spark: SparkSession, in: String, schema: StructType,
                   out: String, ckpt: String): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    drainToParquet(spark, out, ckpt)(
      graft.streaming.Sessions.streamingDedup(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(in), "text")
        .select("doc_id", "lang"))._1
  }

  /** STREAM-STREAM JOIN at the gate: view-to-click attribution joining
    * two branches of one watermarked file-source stream (a self-join —
    * the source is scanned once per side each micro-batch at identical
    * offsets). A click matches every view by the same user in the
    * preceding 30 event-time minutes; the inner join emits each pair
    * exactly once, AS both sides arrive, through the checkpointed
    * exactly-once parquet sink — so with the full AvailableNow drain
    * the sink equals the batch join and the oracle needs no watermark
    * cutoff (unlike q87's append-mode aggregation).
    *
    * The watermarks + the two-sided time-range condition are what
    * BOUND THE STATE: Spark derives each side's retention from them
    * (a view can only match clicks ≤ 30 min ahead, so view state older
    * than watermark − 30 min − 1 h is evicted) — without them an
    * unbounded crawl feed accretes join state forever. The caller owes
    * the q87 event-time-ordered layout; a late file behind the
    * watermark would silently lose its pairs (the failure mode the
    * ordered-layout contract exists to prevent). */
  def streamJoinParquet(spark: SparkSession, in: String,
                        schema: StructType, out: String, ckpt: String,
                        filesPerTrigger: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions._
    rm(spark, out); rm(spark, ckpt)
    drainToParquet(spark, out, ckpt) {
      val (views, clicks) = viewsAndClicks(spark, in, schema, filesPerTrigger)
      clicks.join(views,
          col("user_id") === col("v_user") &&
            col("cts") >= col("vts") &&
            col("cts") <= col("vts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("view_id"), col("click_id"),
          (unix_timestamp(col("cts")) - unix_timestamp(col("vts")))
            .as("lag_sec"))
    }._1
  }

  /** The two watermarked branches of one event file-source stream the
    * stream-stream joins read: views (v_user, view_id, vts) and clicks
    * (user_id, click_id, cts), each on a 1-hour watermark. */
  private def viewsAndClicks(spark: SparkSession, in: String, schema: StructType,
                             filesPerTrigger: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(in)
    val views = src.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    val clicks = src.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    (views, clicks)
  }

  /** Watermarked stream-stream LEFT OUTER join — the state-EXPIRY
    * semantics [[streamJoinParquet]]'s inner join never exercises: an
    * unmatched left row can only be emitted once the global watermark
    * proves no future right row can match it (Spark emits it with null
    * right columns at state eviction), so correctness depends on
    * watermark progress, not just on data arrival. Every view row
    * appears exactly once in the drained sink — matched with each
    * qualifying click, or null-extended — and must equal the BATCH
    * left outer band join row for row, which is what the oracle
    * recomputes: a row stuck in state (watermark stalled), double
    * emission, or premature eviction all fail the gate.
    *
    * Drain mechanics: the caller appends a LATE sentinel (far-future
    * ts, negative user id) to BOTH event types — the q90 flush pattern
    * — so the final no-data batch advances the watermark past every
    * real view's match window. The sentinel view itself stays in state
    * forever (its own window never closes) and is filtered out.
    *
    * Scale: join state is bounded by the watermark delay + match
    * window on both sides; keyed shuffles are per micro-batch. */
  def streamOuterJoinParquet(spark: SparkSession, in: String,
                             schema: StructType, out: String, ckpt: String,
                             filesPerTrigger: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions._
    rm(spark, out); rm(spark, ckpt)
    // No sentinel filter inside the streaming plan: a predicate on the
    // views-side column would be PUSHED below the views watermark node,
    // silently removing the sentinel before it can advance the
    // watermark — the whole flush mechanism dies (observed: the last
    // ~1.5 h of unmatched views stay in state forever). Sentinels are
    // filtered on the batch read-back below instead.
    drainToParquet(spark, out, ckpt) {
      val (views, clicks) = viewsAndClicks(spark, in, schema, filesPerTrigger)
      views.join(clicks,
          col("user_id") === col("v_user") &&
            col("cts") >= col("vts") &&
            col("cts") <= col("vts") + expr("INTERVAL 30 MINUTES"),
          "leftOuter")
        .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
          (unix_timestamp(col("cts")) - unix_timestamp(col("vts")))
            .as("lag_sec"))
    }._1.where(col("user_id") >= 0)
  }

  /** Streaming CDC UPSERT at the gate — the `foreachBatch` idiom (the
    * one streaming surface the other gates don't touch): each
    * micro-batch is reduced to per-key (count, latest-event struct) and
    * MERGED last-writer-wins into a persisted keyed state table, the
    * pattern a change-feed consumer runs when the sink must hold
    * current-state rows rather than an append log (q82's merge-upsert
    * made incremental).
    *
    * Exactly-once without a transactional table format: state versions
    * are written to `state_v&lt;batchId&gt;` directories with a CURRENT
    * pointer file swapped after each commit, and a batch whose id is ≤
    * the pointer's is SKIPPED — Spark's documented batchId-based
    * idempotent-foreachBatch recipe, so a mid-drain crash and replay
    * cannot double-apply a batch. The latest-event decision is
    * max(struct(us, event_id, value)) — total order, since event ids
    * are unique — so merging per micro-batch in any grouping equals
    * the batch argmax, which is exactly what the oracle recomputes:
    * a lost batch, a double-applied batch, or a stale pointer turns
    * the row red.
    *
    * Scale: per micro-batch one keyed shuffle of the BATCH plus a
    * keyed merge against the state table. The full-state rewrite per
    * version is the local-mode simplification: a production run
    * bucket-partitions the state by key (the q53/q114 layout) and
    * rewrites only touched buckets, or delegates the merge to a
    * MERGE INTO-capable table format — the plan shape upstream of the
    * write is identical. */
  def cdcUpsertParquet(spark: SparkSession, in: String, schema: StructType,
                       stateRoot: String, ckpt: String,
                       filesPerTrigger: Int = 2): DataFrame = drain(spark) {
    import org.apache.spark.sql.functions._
    rm(spark, stateRoot); rm(spark, ckpt)
    val root = new org.apache.hadoop.fs.Path(stateRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pointer = new org.apache.hadoop.fs.Path(root, "CURRENT")
    def readPointer(): Option[(Long, String)] =
      if (!fs.exists(pointer)) None
      else {
        val s = fs.open(pointer)
        val txt = try new String(s.readAllBytes(), "UTF-8") finally s.close()
        val Array(bid, path) = txt.trim.split("\n", 2)
        Some((bid.toLong, path))
      }
    def writePointer(batchId: Long, path: String): Unit = {
      // write-then-rename: the pointer swap is the commit point (a
      // rename is atomic on HDFS/local; object stores would use a
      // conditional put here)
      val tmp = new org.apache.hadoop.fs.Path(root, s"CURRENT_tmp$batchId")
      val o = fs.create(tmp, true)
      try o.write(s"$batchId\n$path".getBytes("UTF-8")) finally o.close()
      fs.delete(pointer, false)
      fs.rename(tmp, pointer)
    }
    // per-key (count, latest event) of a batch; a state version has
    // its schema, so every state read skips schema inference
    def reduce(events: DataFrame): DataFrame = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("us"), col("event_id"), col("value"))).as("last"))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(in)
    val stateSchema = reduce(stream).schema
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = readPointer()
        if (cur.forall(_._1 < batchId)) { // idempotent-replay guard
          val bAgg = reduce(batch)
          val merged = cur match {
            case None => bAgg
            case Some((_, path)) =>
              val st = batch.sparkSession.read.schema(stateSchema).parquet(path)
                .select(col("user_id"), col("n_events").as("s_n"),
                  col("last").as("s_last"))
              st.join(bAgg.select(col("user_id"), col("n_events").as("b_n"),
                  col("last").as("b_last")), Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  (coalesce(col("s_n"), lit(0L)) +
                    coalesce(col("b_n"), lit(0L))).as("n_events"),
                  when(col("s_last").isNull, col("b_last"))
                    .when(col("b_last").isNull, col("s_last"))
                    .otherwise(greatest(col("s_last"), col("b_last")))
                    .as("last"))
          }
          val out = s"$stateRoot/state_v$batchId"
          merged.write.mode("overwrite").parquet(out)
          writePointer(batchId, out)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fin = readPointer().getOrElse(
      throw new IllegalStateException("cdc drain produced no state version"))
    spark.read.schema(stateSchema).parquet(fin._2)
      .select(col("user_id"), col("n_events"),
        col("last.us").as("last_us"), col("last.value").as("last_value"))
  }

  /** Drain the files matching `glob` under directory `in` through
    * `transform` into the exactly-once parquet sink at `out`, then
    * return the sink's content. Sink + checkpoint are wiped first: each
    * call is a from-scratch drain, re-runnable within a session.
    * `transform` must be stateless (projections/filters — append mode
    * without watermark). */
  def ingestParquet(spark: SparkSession, in: String, glob: String,
                    schema: StructType, out: String, ckpt: String,
                    transform: DataFrame => DataFrame): DataFrame = {
    rm(spark, out); rm(spark, ckpt)
    drainToParquet(spark, out, ckpt)(
      transform(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", glob).parquet(in)))._1
  }

  /** Continuously-refreshed MATERIALIZED VIEW: a complete-mode global
    * aggregation whose every micro-batch OVERWRITES the sink with the
    * full current state (the live-dashboard maintenance pattern — the
    * third foreachBatch idiom next to append-transform ingest and
    * keyed CDC merge). Complete mode needs no watermark and its state
    * is O(groups), not O(events) — for a low-cardinality group key
    * this is the cheapest streaming aggregate there is; the overwrite
    * makes replay idempotent by construction (a re-run of the last
    * batch rewrites the same state — exactly-once for free, no manual
    * batch-id fencing needed). The caller reads the sink after the
    * drain; mid-stream the sink is always SOME complete consistent
    * snapshot. */
  def matviewParquet(spark: SparkSession, in: String, schema: StructType,
                     out: String, ckpt: String,
                     agg: DataFrame => DataFrame,
                     filesPerTrigger: Int = 2): DataFrame = drain(spark) {
    rm(spark, out); rm(spark, ckpt)
    val view = agg(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(in))
    val q = view.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(view.schema).parquet(out)
  }
}
