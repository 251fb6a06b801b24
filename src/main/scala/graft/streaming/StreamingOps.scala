package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming ingest + stateful processing — an extension beyond the
  * reference (which is batch-only; its only ingest paths are
  * cpimport and DML, SURVEY §2.10). A 100 TB training-data pipeline
  * ingests continuously, so the engine ships the Structured
  * Streaming surface for it:
  *
  *  - `windowedCounts`: event-time windowed aggregation with a
  *    watermark — state is bounded by (watermark horizon × key
  *    cardinality); late data beyond the watermark is dropped
  *    deterministically rather than growing state forever.
  *  - `sessionize`: per-user sessions via mapGroupsWithState with a
  *    processing-time timeout — the custom-state shape
  *    (KeyValueGroupedDataset) for anything windowing can't express.
  *  - `ingest`: stream → parquet with `Trigger.AvailableNow` — the
  *    incremental-batch pattern: each run drains what's new, commits
  *    via the checkpoint, and exits; restart-safe, exactly-once into
  *    the table directory.
  */
object StreamingOps {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Session(user_id: Long, n_events: Int, first_ts: Long, last_ts: Long,
      total_value: Double, closed: Boolean)

  /** Event-time windowed counts with a watermark (bounded state). */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour",
      window_ : String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** Streaming OHLC bars — the twin of batch `q_resample_ohlc`:
    * per-(type, window) open/high/low/close where open/close ride
    * `min_by`/`max_by` over the total (ts, event_id) order. The
    * aggregate's partial state is ONE candidate row per live window
    * per group (never a sorted buffer), so state store size is
    * (watermark horizon / window) × key cardinality × O(1). */
  def ohlcStream(events: DataFrame, watermark: String = "1 hour",
      window_ : String = "15 minutes"): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"), count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Streaming heavy hitters: the SpaceSaving sketch
    * ([[graft.functions.SpaceSavingTopK]]) inside a watermarked
    * windowed aggregate — per-window top keys with EXACTLY k counters
    * of state per window, where a windowed exact count-DISTINCT-key
    * aggregate would hold the key universe in the state store. The
    * sketch's mergeable partials flow through the streaming
    * aggregation like any typed aggregate; the watermark bounds how
    * many windows are live. Same guarantee as batch: freq > N/k per
    * window is always captured. */
  def topKStream(events: DataFrame, k: Int = 8,
      watermark: String = "1 hour", window_ : String = "15 minutes",
      keyCol: String = "event_type"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(call_function("heavy_hitters", col(keyCol), lit(k)).as("_hh"))
      .select(col("window.start").as("w_start"), explode(col("_hh")).as("_e"))
      .select(col("w_start"), col("_e.item").as("item"),
        col("_e.est").as("est"), col("_e.err").as("err"))

  /** Session assembly with explicit state + timeout — the
    * mapGroupsWithState path for custom stateful logic. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000): Dataset[Session] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Session, Session](GroupStateTimeout.ProcessingTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val s = state.get.copy(closed = true)
            state.remove()
            s
          } else {
            val evs = batch.toSeq
            val prev = state.getOption
            val merged = Session(
              uid,
              prev.map(_.n_events).getOrElse(0) + evs.size,
              math.min(prev.map(_.first_ts).getOrElse(Long.MaxValue),
                evs.map(_.ts.getTime).minOption.getOrElse(Long.MaxValue)),
              math.max(prev.map(_.last_ts).getOrElse(Long.MinValue),
                evs.map(_.ts.getTime).maxOption.getOrElse(Long.MinValue)),
              prev.map(_.total_value).getOrElse(0.0) + evs.map(_.value).sum,
              closed = false)
            state.update(merged)
            state.setTimeoutDuration(gapMs)
            merged
          }
      }
  }

  final case class FunnelState(stage: Int, stageTs: Long, anchorTs: Long)
  final case class FunnelProgress(user_id: Long, stage_idx: Int, stage: String,
      ts: Long)

  /** Streaming funnel: the per-user stage-progression state machine —
    * each user's state is (stage reached, its time, the stage-1
    * anchor), three longs regardless of event volume, and a
    * stage-advance emits one FunnelProgress row (Append mode; count
    * rows per stage_idx downstream for live conversion totals).
    * `maxSpanMs` bounds later stages to the stage-1 anchor like the
    * batch operator's conversion window.
    *
    * Matches `operators/EventAnalytics.funnel` on in-order streams
    * (events are sorted by (ts, event_id) WITHIN each batch; an event
    * arriving in a later batch with an earlier timestamp than an
    * already-consumed stage is gone — the inherent single-pass
    * tradeoff, same class as dedupStream's watermark horizon). */
  def funnelStream(spark: SparkSession, events: Dataset[Event],
      stages: Seq[String], maxSpanMs: Long = Long.MaxValue): Dataset[FunnelProgress] = {
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue, 0L))
          val out = Seq.newBuilder[FunnelProgress]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (st.stage < stages.length && e.event_type == stages(st.stage) &&
                t >= st.stageTs &&
                (st.stage == 0 || t - st.anchorTs <= maxSpanMs)) {
              val anchor = if (st.stage == 0) t else st.anchorTs
              st = FunnelState(st.stage + 1, t, anchor)
              out += FunnelProgress(uid, st.stage, stages(st.stage - 1), t)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class LocfState(lastTick: Long, lastValue: Double)
  final case class Tick(user_id: Long, tick_ts: java.sql.Timestamp,
      value: Double, observed: Boolean)

  /** Streaming LOCF gap-fill — the streaming twin of
    * `operators/Resample.{timeGrid,fillForward}`: every key emits a
    * dense `stepMs` grid of ticks, observed readings pass through and
    * gaps carry the last observation forward, continuously as events
    * arrive (the metrics/telemetry downsampling shape).
    *
    * State per key is TWO scalars (last emitted tick, last value) —
    * O(keys), independent of stream age; the grid never materializes
    * anywhere. Within a micro-batch events sort by (ts, event_id);
    * an event older than the key's last emitted tick is late beyond
    * repair and is dropped (the batch resampler owns backfills, the
    * same batch/stream split as dedupStream). Gap width is capped by
    * `maxTicksPerGap` (a dead key returning after a month must not
    * emit 40k ticks in one batch — the cap jumps the grid forward
    * and the audit column marks the discontinuity). */
  def locfStream(spark: SparkSession, events: Dataset[Event],
      stepMs: Long, maxTicksPerGap: Int = 1000): Dataset[Tick] = {
    import spark.implicits._
    def floorTick(t: Long): Long = Math.floorDiv(t, stepMs) * stepMs
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LocfState, Tick](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LocfState]) =>
          var st = state.getOption.getOrElse(LocfState(Long.MinValue, Double.NaN))
          val out = Seq.newBuilder[Tick]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val tick = floorTick(e.ts.getTime)
            // first-in-tick wins: an Append sink can't retract an
            // emitted tick, so the carried value matches what was
            // emitted; later same-tick events are ignored
            if (tick > st.lastTick) {
              if (st.lastTick != Long.MinValue) {
                // fill the gap with carried values (capped)
                val gapTicks = (tick - st.lastTick) / stepMs - 1
                val from =
                  if (gapTicks > maxTicksPerGap) tick - maxTicksPerGap * stepMs
                  else st.lastTick + stepMs
                var t = from
                while (t < tick) {
                  out += Tick(uid, new java.sql.Timestamp(t), st.lastValue,
                    observed = false)
                  t += stepMs
                }
              }
              out += Tick(uid, new java.sql.Timestamp(tick), e.value,
                observed = true)
              st = LocfState(tick, e.value)
            } // else: same tick or late beyond the grid — dropped
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class SmoothState(ewma: Double, sp: Double, sn: Double,
      seeded: Boolean, lastTs: Long, lastEid: Long)
  final case class Smoothed(user_id: Long, ts: java.sql.Timestamp,
      value: Double, ewma: Double, sp: Double, sn: Double, alarm: Boolean)

  /** Streaming twin of `Resample.ewma` + `Resample.cusum` — the
    * continuous drift monitor: every accepted event updates the key's
    * EWMA and Page CUSUM pair with the SAME recurrences as the batch
    * operators (identical doubles in, identical smoothed series out),
    * and emits the smoothed row with its alarm flag.
    *
    * State per key is four scalars + the last accepted (ts, event_id)
    * position — O(keys), independent of stream age. Within a
    * micro-batch events sort by (ts, event_id); an event at or before
    * the key's last accepted position arrived late beyond repair and
    * is dropped (an Append sink can't retract the smoothed rows that
    * followed it — same split as locfStream: the batch operators own
    * backfilled reprocessing). */
  def driftStream(spark: SparkSession, events: Dataset[Event],
      alpha: Double, target: Double, slack: Double, h: Double): Dataset[Smoothed] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SmoothState, Smoothed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SmoothState]) =>
          var st = state.getOption.getOrElse(
            SmoothState(0.0, 0.0, 0.0, seeded = false, Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[Smoothed]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (t > st.lastTs || (t == st.lastTs && e.event_id > st.lastEid)) {
              val ewma =
                if (!st.seeded) e.value
                else alpha * e.value + (1 - alpha) * st.ewma
              val sp = math.max(0.0, st.sp + (e.value - target - slack))
              val sn = math.min(0.0, st.sn + (e.value - target + slack))
              st = SmoothState(ewma, sp, sn, seeded = true, t, e.event_id)
              out += Smoothed(uid, e.ts, e.value, ewma, sp, sn,
                alarm = sp > h || sn < -h)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class Scd2State(state: String, validFrom: Long,
      lastTs: Long, lastEid: Long)
  final case class ClosedVersion(user_id: Long, state: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp)

  /** Streaming twin of `operators/Scd2`: maintain each key's CURRENT
    * dimension version in state and emit a version row the moment it
    * CLOSES (the next differing state arrives). An Append sink can't
    * retract, so open versions live only in state — the emitted
    * stream is exactly the `is_current = false` half of the batch
    * builder, which owns backfills and the open tail. No-op repeats
    * (same state value) extend the current version without emitting;
    * late events at or before the key's last accepted (ts, event_id)
    * drop. State per key is one version — O(keys). */
  def scd2Stream(spark: SparkSession, events: Dataset[Event],
      stateOf: Event => String): Dataset[ClosedVersion] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, ClosedVersion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Scd2State]) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[ClosedVersion]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (st == null || t > st.lastTs ||
                (t == st.lastTs && e.event_id > st.lastEid)) {
              val s = stateOf(e)
              if (st == null) st = Scd2State(s, t, t, e.event_id)
              else if (s != st.state) {
                out += ClosedVersion(uid, st.state,
                  new java.sql.Timestamp(st.validFrom), new java.sql.Timestamp(t))
                st = Scd2State(s, t, t, e.event_id)
              } else st = st.copy(lastTs = t, lastEid = e.event_id)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming EXACT dedup with bounded state: the first occurrence
    * of each content hash within the watermark horizon passes; later
    * copies are dropped. State is the hash set pruned at the
    * watermark — memory is (horizon × arrival rate), NOT corpus
    * size, so the operator runs forever at 100 TB. Cross-horizon
    * duplicates are the batch `Dedup.exactDedup` compaction pass's
    * job (the same split the reference makes between DML-time checks
    * and offline jobs). */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour",
      text: String = "text"): DataFrame =
    docs.withColumn("content_hash", md5(col(text)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** STREAM-STREAM interval join (view→conversion attribution): each
    * conversion matches the views of the SAME user within
    * [view_ts, view_ts + horizon]. Both sides carry watermarks and the
    * join condition carries the time bound, so Spark derives a state
    * eviction horizon for EACH side — state is (watermark + horizon) ×
    * arrival rate, never unbounded (the condition-less stream-stream
    * join Spark rejects outright). Append-mode: a pair emits once both
    * watermarks pass it. The batch twin is q_attribution. */
  def attributionJoin(views: DataFrame, conversions: DataFrame,
      watermark: String = "1 hour", horizonMinutes: Int = 30): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = conversions.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("conv_ts"),
        col("event_id").as("conv_id"), col("value"))
    v.join(c, expr(
        s"""user_id = c_user AND conv_ts >= view_ts
           |AND conv_ts <= view_ts + interval $horizonMinutes minutes""".stripMargin))
      .select(col("user_id"), col("view_id"), col("conv_id"),
        col("view_ts"), col("conv_ts"), col("value"))
  }

  /** Incremental near-dup: probe each incoming document against a
    * STATIC reference corpus via minhash64 band buckets — the
    * stream-static join, so the historical corpus is never rescanned
    * or held in streaming state; per micro-batch only the matching
    * band buckets are touched (bucket/partition the corpus by
    * `_bucket` on disk and the probe prunes to matching partitions).
    * Candidates are verified by exact n-gram Jaccard computed per
    * candidate pair (sparse by the LSH contract; the array-HOF
    * verify is per-CANDIDATE, not per-corpus-row). A pair colliding
    * in several bands is collapsed within the watermark horizon. */
  def nearDupVsCorpus(stream: DataFrame, corpus: DataFrame,
      threshold: Double = 0.6, watermark: String = "1 hour",
      id: String = "doc_id", text: String = "text",
      bands: Int = 16, shingleN: Int = 3): DataFrame = {
    import graft.llm.Dedup
    val s = Dedup.minhashBandBuckets(stream.withWatermark("ts", watermark),
        id, text, bands, shingleN, keep = Seq("ts", text))
      .select(col("_id").as("stream_id"), col("ts"), col(text).as("_stext"), col("_bucket"))
    val c = Dedup.minhashBandBuckets(corpus, id, text, bands, shingleN, keep = Seq(text))
      .select(col("_id").as("corpus_id"), col(text).as("_ctext"), col("_bucket"))
    s.join(c, "_bucket")
      .withColumn("jaccard",
        Dedup.jaccard(call_function("shingle_set", col("_stext"), lit(shingleN)),
          call_function("shingle_set", col("_ctext"), lit(shingleN))))
      .filter(col("jaccard") >= threshold)
      .select(col("stream_id"), col("ts"), col("corpus_id"), col("jaccard"))
      .dropDuplicatesWithinWatermark("stream_id", "corpus_id")
  }

  /** Streaming similarity probe vs a STATIC vector corpus — the
    * embedding sibling of [[nearDupVsCorpus]]: each incoming vector is
    * sign-LSH-bucketed (multi-table, 1-bit multiprobe — the bucket
    * and probe rows of `AnnSearch.lshTopK`) and joined to the corpus's
    * precomputed bucket table; bucket-collision candidates score by
    * exact cosine and rows ≥ `threshold` emit. Stream-static join =
    * NO streaming state beyond the emit-dedup watermark; the corpus
    * bucket table is built once per query start and never rescanned
    * per batch beyond the bucket join. The per-batch cost is
    * candidates-in-colliding-buckets, not corpus size. */
  def annProbeStream(stream: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, watermark: String = "1 hour",
      numPlanes: Int = 6, numTables: Int = 4, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding",
      sid: String = "doc_id", svec: String = "embedding"): DataFrame = {
    import graft.llm.AnnSearch
    val doubles = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)
    val c = corpus.select(col(id).as("corpus_id"), col(vec).cast(doubles).as("_v"))
      .select(col("corpus_id"), col("_v"),
        AnnSearch.lshBucketRows(col("_v"), numPlanes, numTables, dim).as("_tb"))
    val s = stream.withWatermark("ts", watermark)
      .select(col(sid).as("stream_id"), col("ts"), col(svec).cast(doubles).as("_q"))
      .select(col("stream_id"), col("ts"), col("_q"),
        AnnSearch.lshProbeRows(col("_q"), numPlanes, numTables, dim).as("_tb"))
    s.join(c, "_tb")
      .withColumn("cosine", AnnSearch.cosine(col("_q"), col("_v")))
      .filter(col("cosine") >= threshold)
      .select(col("stream_id"), col("ts"), col("corpus_id"), col("cosine"))
      .dropDuplicatesWithinWatermark("stream_id", "corpus_id")
  }

  /** Streaming decontamination: drop incoming documents that share
    * ≥ `minHits` distinct shingles with a STATIC benchmark set — the
    * ingest-time version of `llm.Decontamination`, so contaminated
    * docs never land in the corpus at all. Same scale shape as the
    * batch pass: the benchmark's distinct-shingle table is
    * broadcast-joined (stream-static, no streaming state beyond the
    * aggregation watermark); per micro-batch the per-doc hit count is
    * a partial-aggregable groupBy. */
  def decontaminateStream(stream: DataFrame, bench: DataFrame,
      minHits: Long = 1, watermark: String = "1 hour",
      id: String = "doc_id", text: String = "text",
      shingleN: Int = 3): DataFrame = {
    import graft.llm.Decontamination
    val b = broadcast(Decontamination.benchShingles(bench, text, shingleN)
      .withColumn("_hit", lit(1L)))
    // LEFT join so zero-overlap docs keep their rows (the inner-join
    // batch shape would drop exactly the docs we want to keep); the
    // doc's payload rides the group keys, watermarked ts bounds the
    // aggregation state
    stream.withWatermark("ts", watermark)
      .select(col(id), col("ts"), col(text),
        explode_outer(call_function("shingle_set", col(text), lit(shingleN))).as("_ng"))
      .join(b, Seq("_ng"), "left")
      .groupBy(col(id), col("ts"), col(text))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .filter(col("n_hits") < minHits)
  }

  /** Streaming UPSERT into a [[graft.dml.VersionedTable]]: each
    * micro-batch lands as ONE transactional MERGE (matched keys
    * replaced, new keys appended), so downstream readers only ever
    * see whole-batch version boundaries — the streaming face of the
    * reference's DML path, where every statement is one DBRM-
    * serialized transaction. A commit that loses the manifest race
    * to a concurrent writer retries against the fresh version
    * (re-read → re-merge is safe: MERGE is idempotent per key); the
    * checkpoint makes a crashed batch replay to the same end state
    * for the same reason. AvailableNow = drain-and-stop, the
    * incremental-batch shape of `ingest`. */
  def upsertStream(docs: DataFrame, table: graft.dml.VersionedTable, key: String,
      checkpoint: String): Unit =
    upsert(docs, table, key, None, checkpoint)

  /** Streaming ingest with a LIVE rollup: each micro-batch merges into
    * the versioned table ([[upsertStream]] semantics), then the
    * incremental rollup folds exactly that batch's CDC delta — so the
    * materialized aggregate is current after every transaction without
    * ever rescanning the table. This is the composed shape a 100 TB
    * ingestion pipeline runs continuously: corpus-sized state only on
    * disk, per-batch work proportional to the batch.
    * AvailableNow + checkpoint: re-running after a crash replays only
    * unprocessed batches; an already-merged batch re-merges
    * idempotently (key upsert) and the rollup refresh is a no-op when
    * the table version hasn't moved. */
  def upsertStreamWithRollup(docs: DataFrame, table: graft.dml.VersionedTable,
      key: String, rollup: graft.dml.IncrementalRollup,
      checkpoint: String): Unit =
    upsert(docs, table, key, Some(rollup), checkpoint)

  /** Retries of a micro-batch's MERGE after it loses the manifest race,
    * before the stream fails. */
  private val MergeRetries = 5

  /** The one merge-with-retry loop behind both upserts; `rollup`, when
    * given, refreshes after each batch's merge. */
  private def upsert(docs: DataFrame, table: graft.dml.VersionedTable, key: String,
      rollup: Option[graft.dml.IncrementalRollup], checkpoint: String): Unit =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          var attempt = 0
          var done = false
          while (!done) {
            try { table.merge(batch, key); done = true }
            catch { case e: graft.dml.ConcurrentWriteException =>
              attempt += 1
              if (attempt > MergeRetries) throw e
            }
          }
          rollup.foreach(_.refresh())
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Stream-STREAM click attribution: join the click stream to the
    * impression stream within an attribution horizon
    * (imp_ts ≤ click_ts ≤ imp_ts + horizon), both sides watermarked.
    *
    * The time-range join condition is what makes this safe
    * unbounded: it lets Spark derive a state-eviction bound for BOTH
    * sides — an impression leaves the join state once the watermark
    * passes imp_ts + horizon, a click once it passes click_ts — so
    * state is (horizon + watermark) × arrival rate, independent of
    * stream age. Without the range condition a stream-stream join
    * must retain every row forever.
    *
    * `leftOuter = true` additionally emits never-attributed
    * impressions (null click columns) once their horizon closes —
    * the "no conversion" record, emitted exactly once, and only when
    * the watermark proves no matching click can still arrive. */
  def attributionStream(impressions: DataFrame, clicks: DataFrame,
      watermark: String = "10 minutes", horizon: String = "30 minutes",
      leftOuter: Boolean = false): DataFrame = {
    val imp = impressions
      .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
        col("ts").as("imp_ts"), col("value").as("imp_value"))
      .withWatermark("imp_ts", watermark)
    val clk = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", watermark)
    imp.join(clk,
      col("imp_user") === col("click_user") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"INTERVAL '$horizon'"),
      if (leftOuter) "leftOuter" else "inner")
  }

  /** Incremental-batch ingest: drain available input into parquet and
    * stop (AvailableNow), checkpointed for exactly-once resume. */
  def ingest(events: DataFrame, path: String, checkpoint: String): Unit =
    events.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
