package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rel.Tables
import graft.text.{CoOccur, Tokenize}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a
  * `queries` entry `(spark, sfDir) => DataFrame`; SQL-expressible ones
  * carry a DuckDB `oracleSql` twin over the same parquet tables
  * (registered by bare table name). Oracle-comparability rules
  * (FIXTURES.md §3): total deterministic ORDER BY on every query,
  * aggregate columns aliased identically on both sides, no top-level
  * map columns, float accumulations routed through DECIMAL(38,12) so
  * both engines sum exactly.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by region/nation — exercises scan, broadcast joins, agg, sort. */
  def entry(spark: SparkSession): DataFrame =
    rel.Queries.joinAgg(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- text
  private val textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1-O5, O11 (Spark-variant: lowercase + top-1000, SparkWordCount.scala:28-35)
    "wordcount_alpha" -> ((s, dir) =>
      CoOccur.topK(CoOccur.wordCount(Tables.read(s, dir, "documents"), "text", lowercase = true), "alpha", 1000)),
    "wordcount_num" -> ((s, dir) =>
      CoOccur.topK(CoOccur.wordCount(Tables.read(s, dir, "documents"), "text", lowercase = true), "num", 1000)),
    // O1-O6 (Hadoop variant: no lowercase, both categories, category column = the
    // reference's categorical partition routing re-expressed as data)
    "hadoop_wordcount" -> ((s, dir) =>
      CoOccur.wordCount(Tables.read(s, dir, "documents"), "text")
        .orderBy("category", "tok")),
    // O7: adjacent pairs
    "pairs_m1" -> ((s, dir) =>
      CoOccur.pairs(Tables.read(s, dir, "documents"), "text", 1).orderBy("w1", "w2")),
    // O8: windowed pairs, m=4
    "pairs_m4" -> ((s, dir) =>
      CoOccur.pairs(Tables.read(s, dir, "documents"), "text", 4).orderBy("w1", "w2")),
    // O9 in the reference's ACTUAL output shape: map-typed stripes
    // (MapWritable per word, including the EMPTY stripes the reference
    // writes unconditionally for category words). Map columns can't be
    // gate-compared directly (engine-specific entry order, FIXTURES.md
    // §3), so the declared row renders each map as its key-sorted
    // "neighbor:cnt|…" string — order-canonical on both engines.
    "q74_stripes_map" -> ((s, dir) =>
      CoOccur.stripesMap(Tables.read(s, dir, "documents"), "text", 1)
        .select(col("word"),
          concat_ws("|", transform(array_sort(map_entries(col("stripe"))),
            e => concat_ws(":", e.getField("key"), e.getField("value"))))
            .as("stripe"))
        .orderBy("word")),
    // O9: stripes m=1 (exploded oracle form, FIXTURES.md §3)
    "stripes_m1" -> ((s, dir) =>
      CoOccur.stripesExploded(Tables.read(s, dir, "documents"), "text", 1).orderBy("word", "neighbor")),
    // O10: windowed stripes m=4
    "stripes_m4" -> ((s, dir) =>
      CoOccur.stripesExploded(Tables.read(s, dir, "documents"), "text", 4).orderBy("word", "neighbor")),
    // O1+O12 end-to-end: the reference's literal text I/O contract —
    // read a raw text FILE (`sc.textFile`/`TextInputFormat`), word-count
    // both categories, write the tab-separated text sink
    // (`HadoopWordCount.java:123-127`), read it back. The fixture carries
    // numeric tokens (the parquet documents corpus has none), so the num
    // category gets corpus-level coverage here. The TSV write+readback IS
    // the operator under test — the deliberate plan-build side effect.
    "raw_text_wordcount" -> ((s, dir) => {
      val in = sources.TextLines.ensureFixture()
      val out = Scratch.dir("raw_text_wordcount")
      sources.TextLines.writeTsv(
        CoOccur.wordCount(sources.TextLines.readLines(s, in), "text")
          .select("category", "tok", "cnt"), out)
      sources.TextLines.readTsv(s, out, "category", "tok", "cnt")
        .withColumn("cnt", col("cnt").cast("long"))
        .orderBy("category", "tok")
    }),
    // O7 sink parity: adjacent pairs rendered as the reference's
    // "left:right" pair keys (`HadoopWordPairs.java:73`) through the
    // same TSV sink round-trip.
    "pairs_m1_keyed" -> ((s, dir) => {
      val out = Scratch.dir("pairs_m1_keyed")
      sources.TextLines.writeTsv(
        CoOccur.pairs(Tables.read(s, dir, "documents"), "text", 1)
          .select(concat(col("w1"), lit(":"), col("w2")).as("pair"), col("cnt")), out)
      sources.TextLines.readTsv(s, out, "pair", "cnt")
        .withColumn("cnt", col("cnt").cast("long"))
        .orderBy("pair")
    }),
    // O6 gate row: the reference's categorical output routing (its custom
    // Partitioner sending word-keys and number-keys to different reducer
    // files) re-expressed as writer-side partitionBy — word counts land
    // in category=alpha/ and category=num/ directories, read back through
    // partition discovery. The write+readback IS the operator under test;
    // the oracle recomputes the counts from the documents table, so any
    // routing loss/dup/corruption turns the row red.
    "q56_category_sink" -> ((s, dir) => {
      val out = Scratch.dir("category_sink")
      sources.TextLines.writeByCategory(
        CoOccur.wordCount(Tables.read(s, dir, "documents"), "text"), out)
      s.read.parquet(out)
        .select(col("category").cast("string").as("category"),
          col("tok"), col("cnt"))
        .orderBy("category", "tok")
    }),
    // JSON-lines source/sink round trip (the crawl/ingest interchange
    // format): documents -> .json sink -> schema-pinned read-back ->
    // per-lang aggregate. The round trip is lossless, so the oracle
    // aggregates the original parquet directly — any sink/source
    // corruption (escaping, schema drift, row loss) turns the row red.
    "q50_json_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = Scratch.dir("json_docs")
      sources.TextLines.writeJsonl(
        Tables.read(s, dir, "documents").select("doc_id", "lang", "text"), out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      sources.TextLines.readJsonl(s, out, schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // CSV source/sink round trip (the other interchange format a crawl
    // pipeline meets): documents -> RFC-4180 CSV -> schema-pinned
    // read-back -> per-lang aggregate. Lossless, so the oracle
    // aggregates the original parquet — quoting/escaping/schema drift
    // in either direction turns the row red.
    "q57_csv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = Scratch.dir("csv_docs")
      sources.TextLines.writeCsv(
        Tables.read(s, dir, "documents").select("doc_id", "lang", "text"), out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      sources.TextLines.readCsv(s, out, schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ", -1))).cast("long").as("sum_tokens"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // Corrupt-tolerant ingestion: PERMISSIVE CSV with the malformed row
    // quarantined into _corrupt_record instead of failing the job. The
    // oracle is a GOLDEN over the embedded fixture (engine-behavior
    // semantics have no independent SQL recompute): clean rows keep
    // their ids, the type-failed row lands in quarantine.
    "q68_corrupt_records" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val in = sources.TextLines.ensureCorruptCsv()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType)))
      sources.TextLines.readCsvPermissive(s, in, schema)
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("_corrupt_record").isNull, 1)).as("n_valid"),
          count(col("_corrupt_record")).as("n_quarantined"),
          sum(when(col("_corrupt_record").isNull, col("doc_id"))).as("sum_valid_ids"))
    }),
    // ORC source/sink round trip — Spark's other native columnar format,
    // same lossless-oracle contract as the CSV/JSON rows.
    "q62_orc_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = Scratch.dir("orc_docs")
      sources.TextLines.writeOrc(
        Tables.read(s, dir, "documents").select("doc_id", "lang", "text"), out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      sources.TextLines.readOrc(s, out, schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("text"))).cast("long").as("sum_bytes"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // Avro OCF round trip on the public avro-core API (spark-avro is
    // not on this classpath — see sources.AvroBlob): one container file
    // per partition out, record-streamed back, same lossless-oracle
    // contract as the other interchange rows. Both char and byte sums:
    // an encoder that mangled UTF-8 would shift bytes but not chars.
    "q445_avro_roundtrip" -> ((s, dir) => {
      val out = Scratch.dir("avro_docs")
      sources.AvroBlob.writeAvro(
        Tables.read(s, dir, "documents").select("doc_id", "lang", "text"), out)
      sources.AvroBlob.readAvro(s, out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_chars"),
          sum(octet_length(col("text"))).cast("long").as("sum_bytes"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // Avro SCHEMA EVOLUTION: the q445 container files read through a
    // reader schema that drops `text` and adds a defaulted `quality` —
    // avro-core's resolution must skip the dropped field and
    // materialize the default (min=max=-1 proves it), with the
    // surviving columns still lossless against the original parquet.
    "q447_avro_evolution" -> ((s, dir) => {
      val out = Scratch.dir("avro_docs_evo")
      sources.AvroBlob.writeAvro(
        Tables.read(s, dir, "documents").select("doc_id", "lang", "text"), out)
      sources.AvroBlob.readAvroEvolved(s, out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"))
        .orderBy("lang")
    }),
    // A REAL Structured Streaming execution at the gate: the file-source
    // stream drains documents.parquet in bounded micro-batches
    // (maxFilesPerTrigger), a stateless quality projection runs per
    // batch, and the checkpointed parquet sink commits exactly-once;
    // the declared result aggregates the sink. The oracle computes the
    // same thing from the original table — row loss, duplication, or
    // transform drift across the streaming boundary turns the row red.
    "q60_stream_ingest" -> ((s, dir) => {
      val out = Scratch.dir("stream_ingest")
      val ingested = sources.StreamIngest.ingestParquet(
        s, dir, "documents.parquet",
        Tables.read(s, dir, "documents").schema, out, out + "_ckpt",
        df => df.where(length(col("text")) >= 100)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tokens")))
      ingested.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // Multimodal ingest surface: the `binaryFile` source — how raw
    // image/audio/video blobs enter a pipeline as (path, length,
    // content) rows. Fixture-prep writes one .bin file per document
    // (content = the UTF-8 text bytes) from the EXECUTORS (foreachPartition
    // — no driver collect); the declared query reads them back through
    // the binaryFile source, recovers the doc id from the path, and
    // verifies the byte round trip by decoding content and matching
    // length. The oracle recomputes from the documents table — a lost,
    // duplicated, or corrupted blob fails the row.
    "q95_binary_ingest" -> ((s, dir) => {
      val out = Scratch.dir("bin_docs")
      // Idempotent fixture prep (Scratch.stamped): the blob store is
      // the query's INPUT, so it is written once per fixture and
      // reused. Repeat passes (bench warm/timed) therefore measure the
      // binaryFile READ, not 5000 file creations.
      Scratch.stamped("bin_docs", dir, "documents") {
        val outPath = new org.apache.hadoop.fs.Path(out)
        outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(outPath, true)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
        Tables.read(s, dir, "documents").select("doc_id", "text")
          .where(col("doc_id") < 500)
          .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
            rows.forEachRemaining { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$out/doc_${r.getLong(0)}.bin"),
                r.getString(1).getBytes("UTF-8"))
            }
          }
      }
      // 500 blobs at any SF: the blob COUNT is a fixture bound (the
      // per-file open cost is the small-files problem q63 addresses,
      // not this operator's), the source/roundtrip coverage is
      // identical.
      s.read.format("binaryFile").load(s"$out/*.bin")
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          col("content").cast("string").as("decoded"))
        .join(Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
          .where(col("doc_id") < 500), "doc_id")
        .select(col("doc_id"), col("n_bytes"),
          (col("decoded") === col("text")).as("roundtrip_ok"))
        .orderBy("doc_id")
    }),
    // STATEFUL streaming at the gate (q60 is stateless): watermarked
    // tumbling-window count+sum through the checkpointed exactly-once
    // sink. The source is the events table re-laid as SEQUENTIAL
    // time-sliced appends (each append gets a later mtime, and the file
    // source processes files in mtime order), so the watermark advances
    // monotonically across micro-batches and nothing is late-dropped —
    // the layout discipline a production event feed provides via
    // date-partitioned arrival. Append mode emits exactly the windows
    // the final watermark (max ts − 1 h) closed; the oracle recomputes
    // those windows from the original table with the same cutoff, so
    // loss, duplication, OR an unexpected late-drop turns the row red.
    // (The 1-row bounds collect is source-prep control flow, not part
    // of the streaming plan.)
    // MATERIALIZED-VIEW maintenance: complete-mode per-type aggregate
    // whose every micro-batch overwrites the sink with the full state
    // (the live-dashboard idiom — replay-idempotent by construction,
    // state O(types) with no watermark). The oracle is the plain batch
    // aggregate over all events: a lost batch, a stale snapshot left
    // behind, or double-counted state all diverge.
    "q229_stream_matview" -> ((s, dir) => {
      val out = Scratch.dir("stream_matview")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val (src, _, _) = stampedSource(s, "stream_matview_src", dir, "events")(
        writeTimeSlices(ev, _))
      sources.StreamIngest.matviewParquet(s, src, ev.schema, out,
          out + "_ckpt",
          df => df.groupBy("event_type").agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(38,12)")).as("dec_sum")))
        .select(col("event_type"), col("n"),
          graft.rel.Queries.femit(col("dec_sum").cast("double")).as("sum_value"))
        .orderBy("event_type")
    }),
    "q87_stream_window" -> ((s, dir) => {
      val out = Scratch.dir("stream_window")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val (src, _, _) = stampedSource(s, "stream_window_src", dir, "events")(
        writeTimeSlices(ev, _))
      val agged = sources.StreamIngest.windowedAggParquet(
        s, src, ev.schema, out, out + "_ckpt")
      agged
        .select(col("win_start"), col("n"),
          col("dec_sum").cast("double").as("sum_value"))
        .orderBy("win_start")
    }),
    // Exactly-once ACROSS A RESTART (VERDICT r6 item 2): the q87 drain
    // split over two separate streaming queries sharing one checkpoint.
    // Stage 1 drains the first half of the feed from scratch; stage 2 —
    // after the remaining files "arrive" — starts a NEW query on the
    // SAME checkpoint, which recovers the file-source log, watermark,
    // and open-window state, processes only the new files, and appends
    // only the newly-closed windows. The oracle is q87's (the final
    // watermark is identical), so ANY failure mode across the boundary
    // turns the row red: re-processing stage-1 files duplicates rows,
    // lost window state emits a straddling window with partial counts,
    // a reset watermark re-emits closed windows.
    "q101_stream_resume" -> ((s, dir) => {
      val src = Scratch.dir("stream_resume_src")
      val out = Scratch.dir("stream_resume")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      writeTimeSlices(ev, src, 0 until 3, clean = true)
      sources.StreamIngest.windowedAggParquet(
        s, src, ev.schema, out, out + "_ckpt")
      writeTimeSlices(ev, src, 3 until 6)
      val agged = sources.StreamIngest.windowedAggParquetResume(
        s, src, ev.schema, out, out + "_ckpt")
      agged
        .select(col("win_start"), col("n"),
          col("dec_sum").cast("double").as("sum_value"))
        .orderBy("win_start")
    }),
    // The CUSTOM-state streaming API at the gate: the gap sessionizer on
    // flatMapGroupsWithState + event-time timeouts (q55 gate-checks the
    // built-in session_window; this gate-checks the API a pipeline drops
    // to when session_window can't express its semantics), executed as a
    // REAL multi-micro-batch drain. Source layout: q87's time-sliced
    // sequential appends, plus a far-future sentinel event per user as
    // the LAST file — it pushes the final watermark past every real
    // session's close so the timeout flush emits them all; the sentinel
    // sessions themselves never close and are discarded with the state.
    // The oracle is q16's session computation reduced to the emitted
    // columns — so the custom-state plan, the session_window plan (q55),
    // and the batch window plan (q16) are all pinned to ONE truth.
    // Streaming EXACT DEDUP at the gate (VERDICT r6 item 6 — was
    // MemoryStream-unit-only): originals arrive first, duplicate
    // copies (ids +10000, identical text — the q97 fixture pattern)
    // arrive in a LATER file, so the drop decision crosses the
    // micro-batch boundary through checkpointed dedup state. All event
    // times sit inside one watermark horizon, so every duplicate must
    // be dropped. The declared aggregate is survivor-independent by
    // construction (copies share lang and doc_id MOD 10000 with their
    // original), so whichever copy wins within a batch, the oracle —
    // one row per distinct text, recomputed from the original table —
    // pins the result; a missed dup, a lost original, or a re-emission
    // turns the row red. The two source files are a stamped fixture
    // (stampedSource): written once per fixture generation of
    // `documents`, then replayed by every execution's drain.
    "q102_stream_dedup" -> ((s, dir) => {
      val out = Scratch.dir("stream_dedup")
      // The corpus MAY carry exact-duplicate texts (sf0.1 has 8; the
      // r7-advice fixture guard tripped on them at bench scale), and
      // dropDuplicatesWithinWatermark keeps an arbitrary first-seen
      // row — nondeterministic survivors would break the value oracle.
      // So the SOURCE is deduplicated deterministically first (min
      // doc_id per text — a batch window, mirrored in the oracle); the
      // streaming operator's cross-micro-batch drop decision is still
      // fully exercised by the injected copies arriving in a LATER
      // file against checkpointed state.
      val docs = Tables.read(s, dir, "documents").select("doc_id", "text", "lang")
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("text").orderBy("doc_id")))
        .where(col("__rn") === 1).drop("__rn")
      val base = 1700000000L
      val originals = docs.withColumn("ts", timestamp_seconds(lit(base)))
      val copies = docs.where(col("doc_id") < 25)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"), col("lang"))
        .withColumn("ts", timestamp_seconds(lit(base + 10)))
      val (src, _, _) = stampedSource(s, "stream_dedup_src", dir, "documents") { src =>
        originals.coalesce(1).write.mode("append").parquet(src)
        copies.coalesce(1).write.mode("append").parquet(src)
        (base, base + 10)
      }
      sources.StreamIngest.dedupParquet(
          s, src, originals.schema, out, out + "_ckpt")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_uniq"),
          sum(pmod(col("doc_id"), lit(10000L))).as("sum_id_mod"))
        .orderBy("lang")
    }),
    // STREAM-STREAM JOIN at the gate (the E13 surface q87/q90 don't
    // touch): view-to-click attribution as a watermarked self-join of
    // the event feed, drained through the checkpointed exactly-once
    // sink. Inner-join pairs emit as both sides arrive, so the full
    // drain equals the batch join and the oracle is the plain SQL
    // band join — a pair lost to premature state eviction, duplicated
    // across micro-batches, or late-dropped by a mis-ordered layout
    // turns the row red.
    "q109_stream_stream_join" -> ((s, dir) => {
      val out = Scratch.dir("stream_join")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val (src, _, _) = stampedSource(s, "stream_join_src", dir, "events")(
        writeTimeSlices(ev, _))
      sources.StreamIngest.streamJoinParquet(
          s, src, ev.schema, out, out + "_ckpt")
        .orderBy("user_id", "view_id", "click_id")
    }),
    // Stream-stream LEFT OUTER join at the gate — the state-EXPIRY
    // semantics q109's inner join never exercises: unmatched views
    // emit null-extended only when the watermark proves no click can
    // still match. Far-future sentinels on BOTH streams (q90's flush
    // pattern) close every real view's window at the no-data batch;
    // the drained sink must equal the batch left outer band join.
    "q144_stream_outer_join" -> ((s, dir) => {
      val out = Scratch.dir("stream_outer")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      import s.implicits._
      // THREE sentinel waves in separate files: join-state eviction
      // only happens in a batch that RUNS with the advanced watermark,
      // and watermarks advance at batch END — so the last batch must
      // carry data while an earlier batch already saw a sentinel. With
      // maxFilesPerTrigger=2, three files guarantee ≥2 sentinel
      // batches, the last of which runs at watermark ≥ wave-1 − delay,
      // closing every real view's window.
      val (src, _, _) = stampedSource(s, "stream_outer_src", dir, "events") { src =>
        val (lo, hi) = writeTimeSlices(ev, src)
        (1 to 3).foreach { wave =>
          Seq((-wave.toLong, -1L, "view"), (-wave.toLong - 10L, -1L, "click"))
            .toDF("event_id", "user_id", "event_type")
            .withColumn("ts", timestamp_seconds(lit(hi + wave * 864000L)))
            .select("event_id", "user_id", "ts", "event_type")
            .coalesce(1).write.mode("append").parquet(src)
        }
        (lo, hi)
      }
      sources.StreamIngest.streamOuterJoinParquet(
          s, src, ev.schema, out, out + "_ckpt")
        .orderBy("user_id", "view_id", "click_id")
    }),
    // Streaming CDC UPSERT at the gate — the foreachBatch idiom: each
    // micro-batch merges last-writer-wins into a versioned keyed state
    // table behind an atomic pointer swap, with the batchId guard
    // making replays idempotent (see cdcUpsertParquet's scaladoc). The
    // oracle recomputes the final state from the original events (per
    // user: event count + the argmax-(ts, event_id) event's time and
    // value), so a lost batch, a double-applied batch, or a stale
    // pointer turns the row red.
    "q118_stream_cdc" -> ((s, dir) => {
      val stateRoot = Scratch.dir("stream_cdc_state")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val (src, _, _) = stampedSource(s, "stream_cdc_src", dir, "events")(
        writeTimeSlices(ev, _))
      sources.StreamIngest.cdcUpsertParquet(
          s, src, ev.schema, stateRoot, stateRoot + "_ckpt")
        .orderBy("user_id")
    }),
    // STREAM-STATIC JOIN at the gate: the enrichment idiom — each
    // micro-batch of the event stream inner-joins a broadcast batch
    // dimension (customer segment keyed by user id) with ZERO streaming
    // state; append mode needs no watermark because the join is
    // stateless. At 100 TB the static side is re-planned per micro-
    // batch, so a production run persists the dim (or uses the q53
    // bucketed layout for a dim too big to broadcast) — the streaming
    // semantics are unchanged. The drained sink must equal the batch
    // join exactly, so the oracle is the plain join + aggregate; a
    // dropped or duplicated micro-batch row turns the count red.
    "q125_stream_static_join" -> ((s, dir) => {
      val out = Scratch.dir("stream_enrich")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val (src, _, _) = stampedSource(s, "stream_enrich_src", dir, "events")(
        writeTimeSlices(ev, _))
      val dim = Tables.read(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val enriched = sources.StreamIngest.ingestParquet(
        s, src, "part-*", ev.schema, out, out + "_ckpt",
        df => df.join(broadcast(dim), Seq("user_id")))
      enriched.groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"),
          graft.rel.Queries.femit(rel.Queries.dsum(col("value"))).as("sum_value"))
        .orderBy("segment", "event_type")
    }),
    "q90_custom_state_sessions" -> ((s, dir) => {
      val out = Scratch.dir("custom_state")
      val ev = rel.Queries.events(s, dir).select(col("user_id"), col("ts"))
      val (src, _, _) = stampedSource(s, "custom_state_src", dir, "events") { src =>
        val (lo, hi) = writeTimeSlices(ev, src)
        // sentinel: 2*(late+gap) past the end, one per user, LAST append
        ev.select(col("user_id")).distinct()
          .withColumn("ts", timestamp_seconds(lit(hi + 10860L)))
          .write.mode("append").parquet(src)
        (lo, hi)
      }
      sources.StreamIngest.sessionizeParquet(
          s, src, ev.schema, out, out + "_ckpt")
        .orderBy("user_id", "sess_start_us")
    }),
    // The NATIVE session_window operator as a REAL streaming drain —
    // closes the last E13 execution gap (q16 pins the batch-window
    // truth, q55 the session_window PLAN in batch mode, q90 the
    // custom-state API; this runs session_window itself through
    // micro-batches, watermark-driven append emission, and the
    // exactly-once sink). Same source layout + sentinel contract as
    // q90; sentinel sessions never close and the read-back filter
    // drops anything past the real horizon (q144's rule — filter on
    // the BATCH side, never between the stateful operator and the
    // sink). All four session rows pin to ONE oracle truth.
    "q239_stream_session_native" -> ((s, dir) => {
      val out = Scratch.dir("stream_session")
      val ev = rel.Queries.events(s, dir).select(col("user_id"), col("ts"))
      val (src, _, hi) = stampedSource(s, "stream_session_src", dir, "events") { src =>
        val (lo, hi) = writeTimeSlices(ev, src)
        ev.select(col("user_id")).distinct()
          .withColumn("ts", timestamp_seconds(lit(hi + 10860L)))
          .write.mode("append").parquet(src)
        (lo, hi)
      }
      sources.StreamIngest.sessionWindowParquet(
          s, src, ev.schema, out, out + "_ckpt")
        .where(col("sess_start_us") < lit(hi + 10860L) * 1000000L)
        .orderBy("user_id", "sess_start_us")
    }),
    // The q87 stateful drain on the ROCKSDB state store — the
    // disk-backed backend production runs once keyed state outgrows
    // the heap. Same plan, same checkpoint discipline, same oracle as
    // q87: the gate row pins that swapping the state BACKEND is
    // semantically invisible (config, not code).
    "q240_rocksdb_state" -> ((s, dir) => {
      val out = Scratch.dir("rocksdb_state")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val (src, _, _) = stampedSource(s, "rocksdb_state_src", dir, "events")(
        writeTimeSlices(ev, _))
      sources.StreamIngest.windowedAggParquetRocksDb(
          s, src, ev.schema, out, out + "_ckpt")
        .select(col("win_start"), col("n"),
          col("dec_sum").cast("double").as("sum_value"))
        .orderBy("win_start")
    }),
    // XML source/sink round trip (Spark 4 folds spark-xml into the
    // distribution — the last built-in interchange format next to
    // q50's JSON-lines, q57's CSV, q62's ORC): documents → rowTag
    // elements → schema-pinned read-back → per-lang aggregate.
    // Lossless (XML escaping round-trips the text exactly; the corpus
    // has no surrounding-whitespace edge), so the oracle aggregates
    // the original parquet — escaping, schema drift, or row loss in
    // either direction turns the row red.
    "q243_xml_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = Scratch.dir("xml_docs")
      Tables.read(s, dir, "documents").select("doc_id", "lang", "text")
        .write.mode("overwrite").format("xml").option("rowTag", "doc")
        .save(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      s.read.format("xml").option("rowTag", "doc").schema(schema).load(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // The Spark 4 STATE-STORE READER: after a q87-shape drain, the
    // checkpoint's keyed state is read back as a DataFrame (format
    // "statestore") — the operational surface for inspecting,
    // auditing, or migrating live streaming state without replaying
    // the stream. Append mode evicts a window from state when it
    // emits, so the retained state is exactly the OPEN tail — the
    // complement of q87's emitted set under the same final watermark
    // — and the oracle recomputes that complement from the original
    // events: a window emitted-but-not-evicted, evicted-but-never-
    // emitted, or a corrupted buffer all turn the row red.
    "q244_state_reader" -> ((s, dir) => {
      val out = Scratch.dir("state_reader")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val (src, _, _) = stampedSource(s, "state_reader_src", dir, "events")(
        writeTimeSlices(ev, _))
      sources.StreamIngest.windowedAggParquet(
        s, src, ev.schema, out, out + "_ckpt")
      s.read.format("statestore").load(out + "_ckpt")
        .select(unix_timestamp(col("key.window.start")).as("win_start"),
          col("value.count").as("n"),
          col("value.sum").cast("double").as("sum_value"))
        .orderBy("win_start")
    }),
    // STREAMING OBSERVABILITY at the gate: the engine's own late-data
    // accounting (numRowsDroppedByWatermark, summed over the drain's
    // progress reports) turned into a gate-checked VALUE. The source
    // is q87's time-ordered layout plus one deliberately-LATE file
    // appended last — clones (ids +10⁷) of the first hour-window's
    // events, arriving when the watermark is hours past them. The
    // late rows target a window that already emitted, so the sink is
    // exactly q87's set and the dropped count is exactly the clone
    // count — the oracle recomputes both relationally: a late row
    // leaking into state, a duplicate emission, or missing/phantom
    // drop accounting all turn the row red. (The metric itself is
    // driver-side progress data — that IS the observability surface
    // under test; the windows still come from the sink.)
    "q254_late_data_metrics" -> ((s, dir) => {
      val out = Scratch.dir("late_metrics")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val (src, _, _) = stampedSource(s, "late_metrics_src", dir, "events") { src =>
        val bounds = writeTimeSlices(ev, src)
        ev.crossJoin(broadcast(ev.agg(min(unix_micros(col("ts"))).as("mn"))))
          .where(expr("unix_micros(ts) DIV 3600000000 = mn DIV 3600000000"))
          .select((col("event_id") + 10000000L).as("event_id"),
            col("user_id"), col("ts"), col("value"))
          .coalesce(1).write.mode("append").parquet(src)
        bounds
      }
      val (sink, nInput) = sources.StreamIngest
        .windowedAggParquetWithLateMetrics(s, src, ev.schema, out, out + "_ckpt")
      // Row-balance identity across THREE observability surfaces: the
      // progress metrics (rows read), the sink (rows emitted in closed
      // windows), and the state-store reader (rows retained in open
      // windows). input − emitted − retained = rows the watermark
      // dropped — exact wherever the engine places the late filter.
      val state = s.read.format("statestore").load(out + "_ckpt")
        .agg(coalesce(sum(col("value.count")), lit(0L)).as("n_state_rows"))
      sink.agg(count(lit(1)).as("n_windows"), sum(col("n")).as("total_rows"))
        .crossJoin(broadcast(state))
        .select(lit(nInput).as("n_input"), col("n_windows"),
          col("total_rows"), col("n_state_rows"),
          (lit(nInput) - col("total_rows") - col("n_state_rows"))
            .as("n_late_dropped"))
    }),
    // The Spark 4 transformWithState API at the gate: the gap
    // sessionizer on StatefulProcessor + named ListState + explicit
    // event-time timers (arbitrary stateful processing v2 — the
    // successor to q90's flatMapGroupsWithState), under the RocksDB
    // provider it requires. Same sentinel/no-data-batch flush
    // mechanics as q90, and the SAME oracle — so the v1 API, the v2
    // API, the native operator (q239), and the batch plan (q16) are
    // all pinned to one session truth.
    "q241_tws_sessionize" -> ((s, dir) => {
      val out = Scratch.dir("tws_session")
      val ev = rel.Queries.events(s, dir).select(col("user_id"), col("ts"))
      val (src, _, hi) = stampedSource(s, "tws_session_src", dir, "events") { src =>
        val (lo, hi) = writeTimeSlices(ev, src)
        ev.select(col("user_id")).distinct()
          .withColumn("ts", timestamp_seconds(lit(hi + 10860L)))
          .write.mode("append").parquet(src)
        (lo, hi)
      }
      sources.StreamIngest.twsSessionizeParquet(
          s, src, ev.schema, out, out + "_ckpt")
        .where(col("sess_start_us") < lit(hi + 10860L) * 1000000L)
        .orderBy("user_id", "sess_start_us")
    }),
    // transformWithState MAP state at the gate: per-type user profiles
    // accumulated as a RocksDB-backed sub-map (point updates only — the
    // state shape that survives a hot group key at 100 TB, where
    // fMGWS's whole-blob state cannot), flushed exactly once by per-key
    // timers when the sentinel drives the watermark past the fixed
    // flush point. Sentinels carry user_id = −1 and are never
    // accumulated; the oracle is the plain batch group-by, so a lost
    // update, a double flush, or a sentinel leaking into the counts
    // all turn the row red. Value sums are exact micro-unit int64s.
    "q278_stream_map_state" -> ((s, dir) => {
      val out = Scratch.dir("tws_profiles")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"), col("value"))
      val (src, _, hi) = stampedSource(s, "tws_profiles_src", dir, "events") { src =>
        val (lo, hi) = writeTimeSlices(ev, src)
        ev.select(col("event_type")).distinct()
          .select(col("event_type"), lit(-1L).as("user_id"),
            timestamp_seconds(lit(hi + 10860L)).as("ts"), lit(0.0).as("value"))
          .write.mode("append").parquet(src)
        (lo, hi)
      }
      sources.StreamIngest.userProfilesParquet(
          s, src, ev.schema, out, out + "_ckpt", (hi + 7200L) * 1000L)
        .orderBy("event_type", "user_id")
    }),
    // q278 across a STOP/RESTART boundary — the v2-state recovery
    // contract (q101 proved it for built-in window state; this proves
    // it for RocksDB-backed MapState + timers): run 1 drains half the
    // slices and stops with every accumulator held ONLY in the
    // checkpoint (the flush point is far in the future, so nothing has
    // been emitted); run 2 restarts from that checkpoint with the
    // remaining slices + sentinel and flushes. Users straddling the
    // boundary must produce a single accumulator equal to the batch
    // truth — same oracle as q278, bound to one shared string.
    "q282_stream_state_resume" -> ((s, dir) => {
      val src = Scratch.dir("tws_profiles_resume_src")
      val out = Scratch.dir("tws_profiles_resume")
      val ev = rel.Queries.events(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"), col("value"))
      val (_, hi) = writeTimeSlices(ev, src, 0 until 3, clean = true)
      sources.StreamIngest.userProfilesParquet(
        s, src, ev.schema, out, out + "_ckpt", (hi + 7200L) * 1000L)
      writeTimeSlices(ev, src, 3 until 6)
      ev.select(col("event_type")).distinct()
        .select(col("event_type"), lit(-1L).as("user_id"),
          timestamp_seconds(lit(hi + 10860L)).as("ts"), lit(0.0).as("value"))
        .write.mode("append").parquet(src)
      sources.StreamIngest.userProfilesParquetResume(
          s, src, ev.schema, out, out + "_ckpt", (hi + 7200L) * 1000L)
        .orderBy("event_type", "user_id")
    }),
  )

  /** A stream source as a stamped fixture ([[Scratch.stampedValue]]):
    * `write` lays the source files out under `root`/`name` once per
    * fixture generation of `table` and returns the source's (lo, hi)
    * epoch-second event-time bounds, which the marker keeps. Every
    * later execution replays its drain over the same files in the same
    * mtime order (the drain wipes only its sink and checkpoint), so a
    * repeat run pays for the drain alone. Returns (source dir, lo, hi).
    * The two-phase resume rows (q101, q282) append their second phase
    * after the first drain, so they write their source per execution. */
  private def stampedSource(s: SparkSession, name: String, dir: String, table: String)(
      write: String => (Long, Long)): (String, Long, Long) = {
    val src = Scratch.dir(name)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bounds = Scratch.stampedValue(name, dir, table, present = fs.exists(srcPath)) {
      fs.delete(srcPath, true)
      val (lo, hi) = write(src)
      s"$lo $hi"
    }
    val Array(lo, hi) = bounds.split(' ').map(_.toLong)
    (src, lo, hi)
  }

  /** Lay `ev` (must carry an event-time `ts`) out under `src` as the
    * sequential time-sliced appends the streaming gates consume: the
    * event-time range split into 6 equal cells, slice `range` written
    * in ascending order, ONE file per slice — a slice split across part
    * files would straddle micro-batches (maxFilesPerTrigger) and its
    * unordered later files would arrive behind the watermark and be
    * late-dropped (StreamingSpec pins that failure mode). Sequential
    * appends give ascending mtimes, and the file source processes files
    * in mtime order — the layout discipline a production event feed
    * gets from date-partitioned arrival. `clean` deletes `src` first.
    * Returns the (lo, hi) epoch-second event-time bounds; the 1-row
    * bounds collect is fixture control flow, not part of any declared
    * query plan. The single-phase rows write all six slices inside
    * [[stampedSource]], so their source is a stamped fixture written
    * once per fixture generation; q101 and q282 call it twice per
    * execution (slices 0–2 before the first drain, 3–5 before the
    * resumed one). */
  private def writeTimeSlices(ev: DataFrame, src: String,
                              range: Range = 0 until 6,
                              clean: Boolean = false): (Long, Long) = {
    val s = ev.sparkSession
    val Array(lo, hi) = ev
      .agg(unix_timestamp(min(col("ts"))), unix_timestamp(max(col("ts"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val width = (hi - lo) / 6 + 1
    val sliced = ev.withColumn("slice",
      ((unix_timestamp(col("ts")) - lo) / width).cast("int"))
    if (clean) {
      val srcPath = new org.apache.hadoop.fs.Path(src)
      srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(srcPath, true)
    }
    range.foreach { i =>
      sliced.where(col("slice") === i).drop("slice")
        .coalesce(1)
        .write.mode("append").parquet(src)
    }
    (lo, hi)
  }

  private def wcOracle(re: String): String =
    s"""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
       |SELECT tok, count(*) AS cnt FROM tok
       |WHERE regexp_full_match(tok, '$re')
       |GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 1000""".stripMargin

  private def tokCatCte: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |p AS (SELECT doc_id, unnest(ts) AS tok, unnest(range(len(ts))) AS pos FROM t),
       |c AS (SELECT doc_id, pos, tok,
       |  CASE WHEN regexp_full_match(tok, '^[a-z-_]+$$') THEN 'alpha'
       |       WHEN regexp_full_match(tok, '^[-+]?[0-9]+[.]{0,1}[0-9]*$$') THEN 'num'
       |  END AS cat FROM p)""".stripMargin

  private def pairsOracle(m: Int): String =
    s"""$tokCatCte
       |SELECT a.tok AS w1, b.tok AS w2, count(*) AS cnt
       |FROM c a JOIN c b ON a.doc_id = b.doc_id
       |  AND b.pos > a.pos AND b.pos <= a.pos + $m AND b.cat = a.cat
       |WHERE a.cat IS NOT NULL
       |GROUP BY w1, w2 ORDER BY w1, w2""".stripMargin

  private def stripesOracle(m: Int): String =
    s"""$tokCatCte
       |SELECT a.tok AS word, b.tok AS neighbor, count(*) AS cnt
       |FROM c a JOIN c b ON a.doc_id = b.doc_id
       |  AND b.pos BETWEEN a.pos - $m AND a.pos + $m AND b.pos <> a.pos
       |  AND b.cat = a.cat
       |WHERE a.cat IS NOT NULL
       |GROUP BY word, neighbor ORDER BY word, neighbor""".stripMargin

  /** Epoch-aligned hour windows recomputed from the original events,
    * kept only where the window END precedes the stream's final
    * watermark (max event time, ms precision, minus the 1 h delay) —
    * exactly the set append mode emits. The decimal VARCHAR round-trip
    * matches the streaming sum's decimal(38,12) accumulation. Shared
    * verbatim by q87 (single drain) and q101 (drain split across a
    * checkpoint restart): both must converge to the same final
    * watermark and window set. Defined BEFORE textOracles so the map
    * captures the initialized value. */
  private val streamWindowOracle: String =
    """WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
      |mx AS (SELECT max(us) AS mxus FROM e),
      |w AS (SELECT (us // 3600000000) * 3600 AS win_start, value FROM e)
      |SELECT win_start, count(*) AS n,
      |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM w CROSS JOIN mx
      |WHERE (win_start + 3600) * 1000 <= mxus // 1000 - 3600000
      |GROUP BY win_start ORDER BY win_start""".stripMargin

  /** Batch truth for the MapState profile drains (q278 single-run,
    * q282 stop/restart): per-(type, user) count and exact micro-unit
    * value sum. */
  private val profilesOracle: String =
    """SELECT event_type, user_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_vu
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The gap-session truth (q16's boundary semantics reduced to the
    * streaming operators' emitted columns), shared verbatim by
    * q90/q239/q241. */
  private val sessionTruthOracle: String =
    """WITH x AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
      |  FROM events),
      |y AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |z AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM y)
      |SELECT user_id, min(us) AS sess_start_us, max(us) AS sess_end_us,
      |  count(*) AS n_events
      |FROM z GROUP BY user_id, sess_id ORDER BY user_id, sess_start_us""".stripMargin

  private val textOracles: Map[String, String] = Map(
    "wordcount_alpha" -> wcOracle(Tokenize.AlphaRe),
    "wordcount_num" -> wcOracle(Tokenize.NumRe),
    "hadoop_wordcount" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |cat AS (SELECT tok,
         |  CASE WHEN regexp_full_match(tok, '^[a-z-_]+$$') THEN 'alpha'
         |       WHEN regexp_full_match(tok, '^[-+]?[0-9]+[.]{0,1}[0-9]*$$') THEN 'num'
         |  END AS category FROM tok)
         |SELECT category, tok, count(*) AS cnt FROM cat
         |WHERE category IS NOT NULL
         |GROUP BY category, tok ORDER BY category, tok""".stripMargin,
    // Same recomputation as hadoop_wordcount: the sink round trip must
    // be lossless.
    "q56_category_sink" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |cat AS (SELECT tok,
         |  CASE WHEN regexp_full_match(tok, '^[a-z-_]+$$') THEN 'alpha'
         |       WHEN regexp_full_match(tok, '^[-+]?[0-9]+[.]{0,1}[0-9]*$$') THEN 'num'
         |  END AS category FROM tok)
         |SELECT category, tok, count(*) AS cnt FROM cat
         |WHERE category IS NOT NULL
         |GROUP BY category, tok ORDER BY category, tok""".stripMargin,
    "pairs_m1" -> pairsOracle(1),
    "pairs_m4" -> pairsOracle(4),
    // Every occurrence-distinct category word appears, empty stripe or
    // not (HadoopWordStripes2.java:108-111); entries key-sorted.
    "q74_stripes_map" ->
      s"""$tokCatCte,
         |w AS (SELECT DISTINCT tok AS word FROM c WHERE cat IS NOT NULL),
         |sp AS (SELECT a.tok AS word, b.tok AS neighbor, count(*) AS cnt
         |  FROM c a JOIN c b ON a.doc_id = b.doc_id
         |    AND b.pos BETWEEN a.pos - 1 AND a.pos + 1 AND b.pos <> a.pos
         |    AND b.cat = a.cat
         |  WHERE a.cat IS NOT NULL
         |  GROUP BY word, neighbor),
         |agg AS (SELECT word,
         |    string_agg(neighbor || ':' || cnt, '|' ORDER BY neighbor) AS stripe
         |  FROM sp GROUP BY word)
         |SELECT w.word, coalesce(agg.stripe, '') AS stripe
         |FROM w LEFT JOIN agg ON w.word = agg.word ORDER BY w.word""".stripMargin,
    "stripes_m1" -> stripesOracle(1),
    "stripes_m4" -> stripesOracle(4),
    // The raw-text oracle runs over the same fixture lines as SQL VALUES
    // literals — DuckDB recomputes the counts from identical input.
    "raw_text_wordcount" -> {
      val vals = sources.TextLines.FixtureLines
        .map(l => "('" + l.replace("'", "''") + "')").mkString(", ")
      s"""WITH lines(text) AS (VALUES $vals),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM lines),
         |cat AS (SELECT tok,
         |  CASE WHEN regexp_full_match(tok, '^[a-z-_]+$$') THEN 'alpha'
         |       WHEN regexp_full_match(tok, '^[-+]?[0-9]+[.]{0,1}[0-9]*$$') THEN 'num'
         |  END AS category FROM tok)
         |SELECT category, tok, count(*) AS cnt FROM cat
         |WHERE category IS NOT NULL
         |GROUP BY category, tok ORDER BY category, tok""".stripMargin
    },
    "pairs_m1_keyed" ->
      s"""$tokCatCte
         |SELECT a.tok || ':' || b.tok AS pair, count(*) AS cnt
         |FROM c a JOIN c b ON a.doc_id = b.doc_id
         |  AND b.pos = a.pos + 1 AND b.cat = a.cat
         |WHERE a.cat IS NOT NULL
         |GROUP BY pair ORDER BY pair""".stripMargin,
    // Both round trips are lossless, so the oracles read the original
    // parquet table.
    "q57_csv_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Golden over the fixture: 4 lines, 3 type-clean (ids 1+2+9), 1
    // quarantined ('bad' fails the BIGINT parse).
    "q68_corrupt_records" ->
      """SELECT CAST(4 AS BIGINT) AS n_rows, CAST(3 AS BIGINT) AS n_valid,
        |  CAST(1 AS BIGINT) AS n_quarantined, CAST(12 AS BIGINT) AS sum_valid_ids""".stripMargin,
    "q62_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q445_avro_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q447_avro_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(-1 AS BIGINT) AS min_quality,
        |  CAST(-1 AS BIGINT) AS max_quality
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q60_stream_ingest" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE length(text) >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q50_json_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // The blob round trip must be lossless: n_bytes = the text's UTF-8
    // byte length, decode-match true for every doc.
    "q95_binary_ingest" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  true AS roundtrip_ok
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,
    // q16's session boundaries reduced to the emitted columns — ONE
    // truth (one shared val, the q87/q101 binding discipline) for q90
    // (flatMapGroupsWithState), q239 (native session_window streaming
    // drain), and q241 (transformWithState): the three streaming
    // session APIs and the batch plan may not disagree.
    "q90_custom_state_sessions" -> sessionTruthOracle,
    "q239_stream_session_native" -> sessionTruthOracle,
    "q241_tws_sessionize" -> sessionTruthOracle,
    // The drained MapState dump must equal the plain batch group-by —
    // count AND exact micro-unit value sum, per (type, user). One
    // shared string for the single-run (q278) and stop/restart (q282)
    // drains: both must land on the identical truth by construction.
    "q278_stream_map_state" -> profilesOracle,
    "q282_stream_state_resume" -> profilesOracle,
    // The state-backend swap must be invisible: q240 shares q87's
    // oracle string.
    "q240_rocksdb_state" -> streamWindowOracle,
    // Emitted windows = q87's closed set (the late clones change
    // nothing); input = events + clones; retained = the open tail;
    // dropped = the first hour-window's event count.
    "q254_late_data_metrics" ->
      """WITH e AS (SELECT epoch_us(ts) AS us FROM events),
        |mx AS (SELECT max(us) AS mxus, min(us) AS mnus FROM e),
        |late AS (SELECT count(*) AS n_late FROM e CROSS JOIN mx
        |  WHERE us // 3600000000 = mnus // 3600000000),
        |w AS (SELECT (us // 3600000000) * 3600 AS win_start FROM e),
        |emitted AS (SELECT win_start, count(*) AS n FROM w CROSS JOIN mx
        |  WHERE (win_start + 3600) * 1000 <= mxus // 1000 - 3600000
        |  GROUP BY win_start)
        |SELECT (SELECT count(*) FROM e) + (SELECT n_late FROM late) AS n_input,
        |  (SELECT count(*) FROM emitted) AS n_windows,
        |  (SELECT CAST(sum(n) AS BIGINT) FROM emitted) AS total_rows,
        |  (SELECT count(*) FROM e)
        |    - (SELECT CAST(sum(n) AS BIGINT) FROM emitted) AS n_state_rows,
        |  (SELECT n_late FROM late) AS n_late_dropped""".stripMargin,
    // XML round trip is lossless ⇒ aggregate the original table.
    "q243_xml_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // The OPEN-window tail: q87's window set with the cutoff predicate
    // NEGATED (windows the final watermark did NOT close are exactly
    // what append-mode state retains).
    "q244_state_reader" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
        |mx AS (SELECT max(us) AS mxus FROM e),
        |w AS (SELECT (us // 3600000000) * 3600 AS win_start, value FROM e)
        |SELECT win_start, count(*) AS n,
        |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM w CROSS JOIN mx
        |WHERE (win_start + 3600) * 1000 > mxus // 1000 - 3600000
        |GROUP BY win_start ORDER BY win_start""".stripMargin,
    // One survivor per distinct text; lang and id-mod are copy-invariant.
    // Aggregating ALL documents rows equals the survivor set only
    // because the corpus has no exact-duplicate texts — the q102
    // declaration guards that property at the source (see there).
    // One survivor per distinct text (min doc_id — the same batch
    // pre-dedup the declaration applies), robust under any corpus.
    "q102_stream_dedup" ->
      """WITH s AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT lang, count(*) AS n_uniq,
        |  CAST(sum(doc_id % 10000) AS BIGINT) AS sum_id_mod
        |FROM s WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,
    // q87 and q101 share ONE oracle string by construction (bound
    // below): the restart must be invisible in the result, and an edit
    // to the cutoff in one row can no longer silently desynchronize
    // the other (ADVICE r7).
    "q101_stream_resume" -> streamWindowOracle,
    "q87_stream_window" -> streamWindowOracle,
    // The matview's final snapshot must equal the plain batch aggregate
    // (same DECIMAL route as q125's sum).
    "q229_stream_matview" ->
      s"""SELECT event_type, count(*) AS n,
        |  ${graft.rel.Queries.femitSql("CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)")} AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // The final CDC state recomputed from the original events: per
    // user, the event count and the latest event by (ts, event_id) —
    // the same total order as the stream's max(struct(us, event_id,
    // value)) merge.
    "q118_stream_cdc" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |g AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id),
        |r AS (SELECT user_id, us, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY us DESC, event_id DESC) AS rn FROM e)
        |SELECT g.user_id, g.n_events, r.us AS last_us, r.value AS last_value
        |FROM g JOIN r ON r.user_id = g.user_id AND r.rn = 1
        |ORDER BY g.user_id""".stripMargin,
    // The plain batch join + aggregate the drained stream-static sink
    // must reproduce exactly (same DECIMAL route as q87's sum).
    "q125_stream_static_join" ->
      s"""SELECT c_mktsegment AS segment, event_type, count(*) AS n,
        |  ${graft.rel.Queries.femitSql("CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)")} AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The plain batch band join: the streaming inner join must emit
    // exactly these pairs. lag_sec mirrors Spark's unix_timestamp
    // (floor each side to seconds, then subtract).
    "q109_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
        |v AS (SELECT user_id, event_id AS view_id, us AS vus FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, us AS cus FROM e WHERE event_type = 'click')
        |SELECT c.user_id, v.view_id, c.click_id,
        |  (cus // 1000000) - (vus // 1000000) AS lag_sec
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND cus >= vus AND cus <= vus + 1800000000
        |ORDER BY c.user_id, view_id, click_id""".stripMargin,
    // The batch left outer band join: every view exactly once, matched
    // or null-extended — state stuck past the watermark, double
    // emission, or premature eviction all change the row set.
    "q144_stream_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
        |v AS (SELECT user_id, event_id AS view_id, us AS vus FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, us AS cus FROM e WHERE event_type = 'click')
        |SELECT v.user_id, v.view_id, c.click_id,
        |  (cus // 1000000) - (vus // 1000000) AS lag_sec
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |  AND cus >= vus AND cus <= vus + 1800000000
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    disjointUnion(textQueries, rel.Queries.queries, llm.Queries.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    disjointUnion(textOracles, rel.Queries.oracles, llm.Queries.oracles)

  /** Merges the per-family registries, failing on a key defined twice —
    * `++` would silently keep the later family's entry. */
  private[graft] def disjointUnion[V](maps: Map[String, V]*): Map[String, V] =
    maps.reduce { (a, b) =>
      val dup = a.keySet.intersect(b.keySet)
      require(dup.isEmpty,
        s"registry key defined twice: ${dup.toSeq.sorted.mkString(", ")}")
      a ++ b
    }
}
