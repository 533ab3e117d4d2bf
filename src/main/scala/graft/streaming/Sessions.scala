package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming surface (SURVEY.md §2.3 E13 + streaming forms of
  * E12): event-time windowed aggregation with watermarks, gap-based
  * session windows, and custom keyed state via mapGroupsWithState.
  *
  * Every transform here takes a DataFrame that may be either a static
  * batch or a `readStream` source — the plans are identical; only the
  * sink differs (`write` vs `writeStream`). The batch twin of
  * [[sessionAgg]] is `graft.rel.Queries.sessionize` (same ≥gap boundary
  * semantics), which is what the DuckDB oracle checks; the streaming
  * path is equivalence-tested against it in the test suite via
  * MemoryStream.
  */
object Sessions extends Serializable {
  // Serializable because the fMGWS lambda in [[sessionizeWithState]]
  // calls [[mergeSessions]] — a method on this object — and therefore
  // captures the module reference into the task closure (a lambda
  // inside the object captures `this`; a method body in a separate
  // class, like TwsSessionizer's, does not).

  /** E12 streaming form: tumbling event-time window with a watermark
    * bounding state (late data beyond `late` is dropped). */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour",
                  late: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("win_start"), col("n"), col("sum_value"))

  /** E13: gap-based session windows. session_window merges events whose
    * half-open [ts, ts+gap) windows overlap — i.e. a new session starts
    * when the inactivity gap is ≥ `gap`. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 late: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("sess_start_us"),
        max(unix_micros(col("ts"))).as("sess_end_us"))
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"), col("n_events"))

  /** [[sessionAgg]] widened with the per-session exact-decimal value sum
    * — the form the correctness gate runs in BATCH mode (session_window
    * is a batch-legal grouping expression and `withWatermark` is a no-op
    * on a bounded input), so the exact streaming session plan gets a
    * DuckDB-oracled row (q55) instead of only MemoryStream equivalence
    * tests. Same ≥gap boundary semantics as `rel.Queries.sessionize`. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
                   late: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("sess_start_us"),
        max(unix_micros(col("ts"))).as("sess_end_us"),
        graft.rel.Queries.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"),
        col("n_events"), col("sum_value"))

  /** Stream-stream inner join: each click matched to the same user's
    * views within `gap` BEFORE it, both sides watermarked so the join
    * state is BOUNDED — without the time-band condition + watermarks a
    * stream-stream join buffers both streams forever. This is the
    * attribution-join shape (click ⟕ recent impressions) every event
    * pipeline runs; the batch twin is the same expression over static
    * frames, asserted equal in StreamingSpec. Expects `clicks`
    * (click_id, user_id, ts) and `views` (view_id, v_user_id, ts). */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    gap: String = "10 minutes",
                    late: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", late).alias("c")
    val v = views.withWatermark("ts", late).alias("v")
    c.join(v,
      col("c.user_id") === col("v.v_user_id") &&
        col("v.ts") >= col("c.ts") - expr(s"INTERVAL $gap") &&
        col("v.ts") <= col("c.ts"))
      .select(col("c.click_id"), col("c.user_id"),
        col("v.view_id"),
        (unix_micros(col("c.ts")) - unix_micros(col("v.ts"))).as("gap_us"))
  }

  /** One open (not-yet-final) session in [[sessionizeWithState]]'s
    * per-user state. */
  case class OpenSession(startUs: Long, endUs: Long, n: Long)

  /** The ≥gap merge shared by [[sessionizeWithState]] and
    * [[TwsSessionizer]]: fold event times into the open-session list,
    * coalescing any session/event pair closer than `gapUs`. */
  private[streaming] def mergeSessions(gapUs: Long)(
      sessions: List[OpenSession], evs: Seq[Long]): List[OpenSession] = {
    val all = (sessions ++ evs.map(u => OpenSession(u, u, 1L)))
      .sortBy(s => (s.startUs, s.endUs))
    all.foldLeft(List.empty[OpenSession]) {
      case (acc @ (cur :: rest), s) if s.startUs - cur.endUs < gapUs =>
        OpenSession(cur.startUs, math.max(cur.endUs, s.endUs), cur.n + s.n) :: rest
      case (acc, s) => s :: acc
    }.reverse
  }

  /** E13 with FULLY custom state: the gap sessionizer re-implemented on
    * `flatMapGroupsWithState` + event-time timeout — the API a pipeline
    * reaches for when `session_window` can't express its semantics
    * (e.g. per-session early results, value-dependent gaps, capped
    * session length). Semantics here intentionally match [[sessionAgg]]
    * so the MemoryStream spec can assert equality against the
    * oracle-checked batch plan.
    *
    * Mechanics: per user, open sessions merge arriving events by the
    * ≥gap rule; a session is EMITTED (append mode) only once the
    * watermark passes its end + gap — the point it can no longer grow —
    * via `GroupState.setTimeoutTimestamp`. State per key is O(open
    * sessions within the watermark horizon), evicted on emission. */
  def sessionizeWithState(events: DataFrame,
                          gapUs: Long = 1800L * 1000000L,
                          late: String = "1 hour")
      : Dataset[(Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._

    def merge(sessions: List[OpenSession], evs: Seq[Long]): List[OpenSession] =
      mergeSessions(gapUs)(sessions, evs)

    events
      .withWatermark("ts", late)
      // the watermarked ts column must survive into the stateful
      // operator's input — projecting it away detaches the watermark
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSession], (Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[List[OpenSession]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val merged = merge(state.getOption.getOrElse(Nil),
            rows.map(_._3).toSeq.sorted)
          // final = can no longer grow: watermark passed end + gap
          val (fin, open) = merged.partition(_.endUs + gapUs <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            val nextClose = (open.map(_.endUs).min + gapUs) / 1000L
            state.setTimeoutTimestamp(
              math.max(nextClose, state.getCurrentWatermarkMs() + 1L))
          }
          fin.sortBy(_.startUs).iterator
            .map(s => (user, s.startUs, s.endUs, s.n))
      }
  }

  /** The gap sessionizer on the Spark 4 `transformWithState` API
    * (StatefulProcessor + typed state variables + explicit event-time
    * timers) — arbitrary stateful processing v2, the successor to
    * [[sessionizeWithState]]'s flatMapGroupsWithState: state is a NAMED
    * ListState variable instead of one opaque blob (RocksDB-backed, so
    * per-key state no longer has to fit a single value write), and
    * timers are first-class (many per key, listable, deletable) instead
    * of the single setTimeoutTimestamp slot. Semantics intentionally
    * IDENTICAL to [[sessionizeWithState]] (same [[mergeSessions]] fold,
    * same emit-when-watermark-passes-end+gap rule), so both engines and
    * all three session plans (q16 batch, q55 session_window, q90
    * fMGWS) pin to one truth.
    *
    * Mechanics: input rows merge into the ListState; sessions already
    * closable emit immediately; otherwise ONE timer is kept at the
    * earliest close point (existing timers deleted first — the v2 API
    * makes the reconcile explicit where GroupState silently replaced
    * it). [[handleExpiredTimer]] re-checks the list against the current
    * watermark, emits what closed, and re-arms for the remainder.
    * State per key is O(open sessions); requires the RocksDB state
    * store provider (a transformWithState constraint — see
    * [[graft.sources.StreamIngest.twsSessionizeParquet]]). */
  class TwsSessionizer(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      OutputMode, TTLConfig, TimeMode, TimerValues}

    @transient private var open: ListState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    private def emitAndRearm(key: Long, sessions: List[OpenSession],
        wmUs: Long): Iterator[(Long, Long, Long, Long)] = {
      val (fin, still) = sessions.partition(_.endUs + gapUs <= wmUs)
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (still.isEmpty) open.clear()
      else {
        open.put(still.toArray)
        val nextCloseMs = (still.map(_.endUs).min + gapUs) / 1000L
        getHandle.registerTimer(math.max(nextCloseMs, wmUs / 1000L + 1L))
      }
      fin.sortBy(_.startUs).iterator
        .map(s => (key, s.startUs, s.endUs, s.n))
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val merged = mergeSessions(gapUs)(
        if (open.exists()) open.get().toList else Nil,
        rows.map(_._3).toSeq.sorted)
      emitAndRearm(key, merged, wmUs)
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      emitAndRearm(key,
        if (open.exists()) open.get().toList else Nil, wmUs)
    }
  }

  /** Per-user accumulator held in [[TwsUserProfiles]]'s MapState. */
  case class UserAcc(n: Long, vu: Long)

  /** Per-event-type user profile accumulation on `transformWithState`
    * MAP state — the state-variable kind [[TwsSessionizer]]'s ListState
    * does not exercise: state is a keyed sub-map (user → (count,
    * value-sum)) with point lookups and point updates, RocksDB-backed,
    * so ONE hot group key (an event type) can hold millions of user
    * entries without ever materializing them as a single value — the
    * blob-state failure mode flatMapGroupsWithState hits at 100 TB
    * (its whole per-key state must round-trip every batch; MapState
    * touches only the entries a batch updates).
    *
    * Emission: nothing streams out until the fixed flush point —
    * handleInputRows only folds rows into the map and keeps ONE timer
    * armed at `flushMs`; when the watermark (driven past it by the
    * caller's sentinel file) expires the timer, the whole map dumps as
    * (type, user, n, value-sum-µ) rows and clears. Value sums are exact
    * micro-unit int64s. Sentinel rows carry user_id = −1 and are never
    * accumulated — they exist to advance the watermark and arm timers. */
  class TwsUserProfiles(flushMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long, java.sql.Timestamp),
        (String, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
      OutputMode, TTLConfig, TimeMode, TimerValues}

    @transient private var users: MapState[Long, UserAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      users = getHandle.getMapState[Long, UserAcc]("users",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[UserAcc], TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      rows.foreach { r =>
        if (r._2 >= 0L) {
          val prev =
            if (users.containsKey(r._2)) users.getValue(r._2)
            else UserAcc(0L, 0L)
          users.updateValue(r._2, UserAcc(prev.n + 1L, prev.vu + r._3))
        }
      }
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(flushMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long, Long)] = {
      val out = users.iterator()
        .map { case (u, acc) => (key, u, acc.n, acc.vu) }.toList
      users.clear()
      out.iterator
    }
  }

  /** [[TwsUserProfiles]] wired to a watermarked event frame. */
  def userProfilesTws(events: DataFrame, flushMs: Long,
                      late: String = "1 hour")
      : Dataset[(String, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", late)
      .select(col("event_type"), col("user_id"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vu"), col("ts"))
      .as[(String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TwsUserProfiles(flushMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** [[TwsSessionizer]] wired to a watermarked event frame — the same
    * input contract as [[sessionizeWithState]]. */
  def sessionizeTws(events: DataFrame,
                    gapUs: Long = 1800L * 1000000L,
                    late: String = "1 hour")
      : Dataset[(Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", late)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new TwsSessionizer(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Running per-user event count + value total — the custom-keyed-state
    * pattern (KeyValueGroupedDataset.mapGroupsWithState). State here is a
    * simple (count, sum) pair; a production pipeline would hold session
    * buffers or model state. Works under Update output mode. */
  def runningUserTotals(events: DataFrame): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (user, n, s)
      }
  }

  /** Streaming word count (reference O1–O5 as an unbounded pipeline):
    * same tokenizer core as the batch path; no ordering/limit (not
    * streamable) — Complete/Update-mode counts per (category, token). */
  def streamingWordCount(lines: DataFrame, textCol: String): DataFrame =
    graft.text.CoOccur.wordCount(lines, textCol)

  /** Streaming exact dedup — E14 as an unbounded pipeline: keep the
    * first document per content hash, with dedup state BOUNDED by the
    * watermark (`dropDuplicatesWithinWatermark`: a duplicate arriving
    * within `late` of the original is dropped; state for horizons past
    * the watermark is evicted, so memory is O(docs per horizon), not
    * O(corpus) — the property that makes streaming dedup viable on an
    * unbounded crawl). Content is keyed by xxhash64, the same exact-
    * dedup key the batch path would shuffle on at 100 TB. */
  def streamingDedup(docs: DataFrame, textCol: String,
                     late: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", xxhash64(col(textCol)))
      .withWatermark("ts", late)
      .dropDuplicatesWithinWatermark("text_hash")
}
