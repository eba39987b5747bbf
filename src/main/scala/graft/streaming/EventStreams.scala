package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}
import org.apache.spark.sql.types._

/** Structured-Streaming surface over the `events` table (SURVEY.md §2.2: the
  * reference is strictly batch — two-phase barrier at `src/master.h:259-267` —
  * so all of this is north-star extension).
  *
  * Design: every streaming computation is a plan builder that also accepts a
  * batch DataFrame, so batch queries (driver-verified against the DuckDB
  * oracle) and streaming queries (tested with the memory sink) share one
  * definition — the Structured Streaming model's batch/stream unification.
  *
  * Scale: windowed aggregation states are bounded by watermark horizon ×
  * group cardinality; sessionization state is one small record per active
  * user. Both shuffle on the group key only.
  */
object EventStreams {

  /** Streaming source over an events parquet directory.
    *
    * File-stream sources need the schema declared up front, and the events
    * table has shipped with two `ts` layouts (epoch-nanos long under the
    * engine session's `nanosAsLong`, plain micros `TIMESTAMP_NTZ` — see
    * [[graft.sources.Tables]]). Probe the on-disk layout with a one-footer
    * batch schema read (driver-side metadata only, no data scan), then apply
    * the same normalization as the batch loader so the streaming and batch
    * plans see an identical logical column.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // An EMPTY landing directory is a legitimate stream start (checkpoint
    // created before the producer's first file); the schema probe cannot
    // infer from zero files, so fall back to the current generation's
    // declared layout (plain micros ts — an empty-dir start cannot know
    // which generation will arrive, so this one path commits to the
    // current one) — normalizeTs maps either declared or probed layout to
    // the same logical column. The catch is NARROW: only the
    // cannot-infer-from-zero-files condition falls back; a nonexistent or
    // unreadable path still fails loudly at start rather than beginning a
    // silently-empty stream. If a DIFFERENT-generation file later lands in
    // a stream started on this fallback, the declared-vs-file type clash
    // surfaces as a StreamingQueryException (spec-proved: a raw-int64 ts
    // file raises, zero rows emit) — the operator restarts the query and
    // the non-empty dir then probes the true layout; timestamps are never
    // silently misread mid-stream.
    val onDisk =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          StructType(Seq(
            StructField("event_id", LongType),
            StructField("ts", TimestampNTZType),
            StructField("user_id", LongType),
            StructField("event_type", StringType),
            StructField("value", DoubleType),
            StructField("props", StringType)))
      }
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(onDisk).parquet(dir))
  }

  /** Tumbling 1-hour window × event_type counts and value sums. Works on both
    * batch and streaming inputs; streaming callers add `withWatermark`.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value")
      )
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked streaming variant of [[windowedAgg]]. */
  def streamingWindowedAgg(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "10 minutes"))

  /** Stream-static enrichment join: events against a static customer
    * dimension (user_id = c_custkey), aggregated by market segment ×
    * event type. The static side is explicitly broadcast — in streaming
    * mode Spark re-plans it per micro-batch, so the stream side never
    * shuffles for the join; state is bounded by group cardinality.
    * Works on both batch and streaming event inputs (the batch twin is
    * oracle-checked as `ev_enriched`).
    */
  def enriched(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(
        broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))), // bounded: customer dim (stream-static build side)
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** Error→click interval-join horizon: clicks within 5 minutes after an
    * error (micros; ts is micro-precision after the nanos conversion).
    */
  val ErrorClickHorizon = "5 minutes"
  val ErrorClickHorizonMicros: Long = 5L * 60 * 1000000

  /** STREAM-STREAM interval join: every click a user makes within
    * [[ErrorClickHorizon]] after one of their errors — each error pairs with
    * ALL such clicks (contrast with the as-of join `j1_asof_error_click`,
    * which keeps only the first). The join condition is an equality on
    * user_id plus a time-range constraint between the two event-time
    * columns; with a watermark on both inputs that range bounds how long
    * each side's rows are retained in join state, so state expires instead
    * of growing with the stream. Accepts batch inputs unchanged (the batch
    * twin `ev_error_click_pairs` is oracle-checked; the streaming path is
    * asserted equal in EventStreamsSpec).
    */
  def errorClickPairs(errors: DataFrame, clicks: DataFrame): DataFrame = {
    val e = errors.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    e.join(
        c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("e_ts") &&
          col("c_ts") <= col("e_ts") + expr(s"INTERVAL $ErrorClickHorizon"))
      .select(col("error_id"), col("click_id"), col("user_id"))
  }

  /** Watermarked streaming variant of [[errorClickPairs]]. */
  def streamingErrorClickPairs(errors: DataFrame, clicks: DataFrame): DataFrame =
    errorClickPairs(
      errors.withWatermark("ts", "10 minutes"),
      clicks.withWatermark("ts", "10 minutes"))

  /** LEFT OUTER interval join: EVERY error emits, with its follow-up click
    * or with `click_id = -1` — the "errors with no follow-up click"
    * alerting shape. The null is coalesced to a sentinel so the output
    * stays a non-nullable hashable column for the cross-engine gate.
    *
    * Streaming semantics (the part worth testing): a matched pair emits as
    * soon as both sides arrive, but an UNMATCHED error can only emit once
    * the watermark has passed the end of its join window — before that, a
    * matching click might still arrive. State stays watermark-bounded
    * exactly as in the inner form; the cost of outer is emission LATENCY on
    * the unmatched tail, not state growth.
    */
  def errorClickPairsOuter(errors: DataFrame, clicks: DataFrame): DataFrame = {
    val e = errors.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    e.join(
        c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("e_ts") &&
          col("c_ts") <= col("e_ts") + expr(s"INTERVAL $ErrorClickHorizon"),
        "left_outer")
      .select(col("error_id"), coalesce(col("click_id"), lit(-1L)).as("click_id"),
        col("user_id"), col("e_ts"))
  }

  /** Watermarked streaming variant of [[errorClickPairsOuter]]. */
  def streamingErrorClickPairsOuter(errors: DataFrame, clicks: DataFrame): DataFrame =
    errorClickPairsOuter(
      errors.withWatermark("ts", "10 minutes"),
      clicks.withWatermark("ts", "10 minutes"))

  /** Streaming exact dedup by event_id: watermark-bounded state, the
    * streaming twin of the batch dedup tier. Duplicates older than the
    * watermark horizon are expired from state — at 100 TB/day the state held
    * is horizon × arrival rate, not the full history.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id")

  /** Streaming dedup with GUARANTEED bounded state: plain `dropDuplicates`
    * ([[dedupStream]]) only expires per-key state when the dedup key itself
    * embeds the event-time column — keyed on a pure id, its state grows with
    * the key universe forever. `dropDuplicatesWithinWatermark` expires each
    * key once its FIRST-SEEN event time ages past the watermark, so state is
    * O(horizon × arrival rate) by construction whatever the key shape, and
    * duplicates are suppressed whenever they arrive within the horizon of
    * the first copy — the contract ingest-side retry storms need (a retry
    * lands seconds after the original, never days).
    */
  def dedupWithinWatermarkStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")

  /** Session gap: a new session starts when a user is idle > 30 minutes. */
  val SessionGapMicros: Long = 30L * 60 * 1000 * 1000

  final case class EventRec(event_id: Long, tsMicros: Long, user_id: Long)
  final case class SessionRec(
      user_id: Long,
      sess_id: Long,
      n_events: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp
  )

  /** Core sessionizer state: O(1) per user — current session's id, bounds, and
    * count only, never the event history. `add` consumes one time-ordered event
    * and emits the previous session iff the gap closed it; `finish` emits the
    * open session. Shared by [[splitSessions]] (streaming stateful path) and
    * [[sessionizePartition]] (batch sorted-scan path), so both provably
    * implement the same semantics. Sessions are numbered 1..n in time order
    * (matching the window-function formulation's cumulative-sum id).
    */
  final class SessionAccumulator(val userId: Long) {
    private var sessId = 0L
    private var start = 0L
    private var last = 0L
    private var n = 0L

    def add(tsMicros: Long): Option[SessionRec] = {
      if (n > 0 && tsMicros - last <= SessionGapMicros) {
        last = tsMicros; n += 1
        None
      } else {
        val closed = finish()
        sessId += 1; start = tsMicros; last = tsMicros; n = 1
        closed
      }
    }

    def finish(): Option[SessionRec] =
      if (n == 0) None
      else Some(SessionRec(userId, sessId, n, micToTs(start), micToTs(last)))
  }

  /** Sessionize one user's time-sorted events via [[SessionAccumulator]]. */
  def splitSessions(userId: Long, sorted: Seq[EventRec]): Seq[SessionRec] = {
    val acc = new SessionAccumulator(userId)
    val out = Seq.newBuilder[SessionRec]
    sorted.foreach(e => acc.add(e.tsMicros).foreach(out += _))
    acc.finish().foreach(out += _)
    out.result()
  }

  /** One streaming pass over a partition sorted by (user_id, tsMicros,
    * event_id): adjacent rows of one user feed a [[SessionAccumulator]], a
    * user change flushes it. O(1) state per partition — a hot user's history
    * is never materialized (the `it.toSeq` a naive flatMapGroups would need).
    */
  def sessionizePartition(rows: Iterator[EventRec]): Iterator[SessionRec] =
    new Iterator[SessionRec] {
      private var acc: SessionAccumulator = _
      private var pending: Option[SessionRec] = None

      // Each row emits at most one session: a same-user gap split, or the
      // previous user's final session on a user change (the row itself then
      // opens a fresh accumulator, which cannot also emit).
      private def step(e: EventRec): Option[SessionRec] =
        if (acc == null || acc.userId != e.user_id) {
          val closed = if (acc == null) None else acc.finish()
          acc = new SessionAccumulator(e.user_id)
          acc.add(e.tsMicros)
          closed
        } else acc.add(e.tsMicros)

      def hasNext: Boolean = {
        while (pending.isEmpty && rows.hasNext) pending = step(rows.next())
        if (pending.isEmpty && acc != null) { pending = acc.finish(); acc = null }
        pending.nonEmpty
      }
      def next(): SessionRec = {
        if (!hasNext) throw new NoSuchElementException("empty session iterator")
        val r = pending.get
        pending = None
        r
      }
    }

  private def micToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** Batch typed sessionization (the reference's reduce-UDF shape —
    * `src/worker.h:105-106` — typed): hash-partition on user, partition-local
    * sort, one streaming adjacent-group pass. The same secondary-sort shape as
    * [[graft.core.MapReduceJob.reduceSorted]]: Spark's external sorter spills,
    * the pass holds O(1) state, so a user with a 100 TB event history costs
    * disk, not executor memory — unlike `groupByKey.flatMapGroups + it.toSeq`,
    * which materializes each user's history on the heap.
    * Explicit partition count: exempt from AQE coalescing (see
    * [[graft.operators.Dedup.spread]]).
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), unix_micros(col("ts")).as("tsMicros"), col("user_id"))
      .as[EventRec]
      .repartition(spark.sparkContext.defaultParallelism, col("user_id"))
      .sortWithinPartitions("user_id", "tsMicros", "event_id")
      .mapPartitions(sessionizePartition)
      .toDF()
  }

  /** Streaming stateful sessionization with flatMapGroupsWithState: buffers a
    * user's open session in state, emits a session once the gap passes (or on
    * final flush in tests via a long watermark). State is one record per
    * active user — bounded, watermark-expirable.
    */
  def sessionizeStream(events: DataFrame): Dataset[SessionRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), unix_micros(col("ts")).as("tsMicros"), col("user_id"))
      .as[EventRec]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionRec](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { (uid, it, state) =>
        val buffered = state.getOption.map(_.pending).getOrElse(Seq.empty)
        val all = (buffered ++ it.map(e => (e.tsMicros, e.event_id))).sorted
        val recs = all.map { case (ts, id) => EventRec(id, ts, uid) }
        val sessions = splitSessions(uid, recs)
        if (sessions.isEmpty) Iterator.empty
        else {
          // Emit all closed sessions; keep the open (last) one in state.
          val closed = sessions.init
          val open = sessions.last
          val baseId = state.getOption.map(_.emitted).getOrElse(0L)
          val openEvents = all.takeRight(open.n_events.toInt)
          state.update(SessionBuf(openEvents, baseId + closed.size))
          closed.iterator.map(s => s.copy(sess_id = baseId + s.sess_id))
        }
      }
  }

  final case class SessionBuf(pending: Seq[(Long, Long)], emitted: Long)

  final case class TransEvent(event_id: Long, tsMicros: Long, user_id: Long, event_type: String)
  final case class LastSeen(tsMicros: Long, eventId: Long, eventType: String)
  final case class TransitionRec(user_id: Long, prev_type: String, next_type: String)

  /** One event in the rolling-feature history: value carried as EXACT cents
    * (a long), converted to double only at emission — the same
    * exact-until-the-boundary contract as the batch DECIMAL(18,2) plan.
    */
  final case class FeatEvent(event_id: Long, tsMicros: Long, user_id: Long, cents: Long)

  /** Per-user state: the last ≤2 events, oldest first — exactly the lookback
    * the 3-row trailing frame and the lag-1 features need, so state is O(1)
    * per user regardless of history length.
    */
  final case class RollBuf(hist: Seq[FeatEvent])

  final case class RollingFeatRec(
      event_id: Long, user_id: Long, prev_value: Option[Double],
      gap_us: Option[Long], roll3_sum: Double, roll3_n: Long)

  final case class FunnelEvent(tsMicros: Long, user_id: Long, event_type: String)

  /** Windowed-funnel DP state: `cur` = latest chain-completion time per
    * stage after every tick ≤ `lastTs`; `pre` = the state BEFORE the
    * `lastTs` tick, kept so a timestamp tick SPLIT ACROSS MICRO-BATCHES
    * still updates against pre-tick state (the batch DP's strict-progress
    * rule); `emitted` = highest stage already emitted for this user.
    * Long.MinValue = unset. O(|steps|) per user.
    */
  final case class FunnelBuf(lastTs: Long, pre: Seq[Long], cur: Seq[Long], emitted: Int)

  /** A user newly reaching a funnel stage (each (user, stage) emits once). */
  final case class FunnelStageRec(user_id: Long, stage: Int)

  /** Streaming twin of the batch transition matrix (`ev_transitions`): the
    * (prev → next) pair stream, one row per consecutive event pair per
    * user. Per-user state is ONLY the last-seen event — a three-field
    * record, the smallest state any cross-batch pairing can carry — so
    * state size is O(active users), independent of history length (the
    * sessionizer buffers an open session; this buffers one event). Events
    * within a micro-batch pair in deterministic (ts, event_id) order; the
    * stored last event bridges batch boundaries. Cross-batch disorder is
    * handled by the FRONTIER RULE (see [[rollingFeaturesStream]]): an
    * incoming event ordered before the stored last-seen event is dropped
    * and counted, never paired backwards. EventStreamsSpec asserts the
    * aggregated pair counts equal the batch lag-window matrix.
    */
  def transitionsStream(events: DataFrame): Dataset[TransitionRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    val late = spark.sparkContext.longAccumulator("eventstreams.transitions.late_dropped")
    events
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), unix_micros(col("ts")).as("tsMicros"),
        col("user_id"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, TransitionRec](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { (uid, it, state) =>
        val frontier = state.getOption.map(ls => (ls.tsMicros, ls.eventId))
        val (kept, dropped) = it.toSeq.partition(e =>
          frontier.forall(f => Ordering[(Long, Long)].gteq((e.tsMicros, e.event_id), f)))
        late.add(dropped.size)
        val incoming = kept.sortBy(e => (e.tsMicros, e.event_id))
        val all = state.getOption
          .map(ls => TransEvent(ls.eventId, ls.tsMicros, uid, ls.eventType)).toSeq ++ incoming
        if (all.nonEmpty) {
          val last = all.last
          state.update(LastSeen(last.tsMicros, last.event_id, last.event_type))
        }
        all.zip(all.drop(1)).iterator
          .map { case (p, n) => TransitionRec(uid, p.event_type, n.event_type) }
      }
  }

  /** Streaming twin of the batch feature frame (`ev_rolling_features`):
    * per event, lag-1 value, inter-event gap, and the trailing 3-row
    * sum/count, computed as the event stream arrives. Per-user state is the
    * last ≤2 events ([[RollBuf]]) — the minimal lookback the features need,
    * O(active users) total like [[transitionsStream]]. Values ride as exact
    * integer cents and become doubles only at emission, so the streamed
    * frame is bit-equal to the batch DECIMAL plan (both emit the correctly
    * rounded double of the same exact rational). Events within a
    * micro-batch order by (ts, event_id); the stored tail bridges batch
    * boundaries — EventStreamsSpec asserts streamed == batch across a
    * 2-file incremental load.
    *
    * FRONTIER RULE (cross-batch disorder): the watermark only EXPIRES
    * state — Spark still delivers late-but-within-watermark input to
    * flatMapGroupsWithState, unsorted, in a later micro-batch. An event
    * ordered (ts, event_id) before the stored per-user frontier (the tail's
    * last event) cannot be retro-inserted into frames already emitted, so
    * it is DROPPED and counted in the `late_dropped` accumulator — features
    * stay per-user monotone (gap_us ≥ 0 always) and every emitted row is
    * final. EventStreamsSpec lands an out-of-order second file and asserts
    * the streamed frame equals the batch frame over exactly the kept
    * events. (The lossless alternative — buffer until the watermark passes
    * — costs O(watermark-window) state per user; this operator chooses the
    * standard emit-final/drop-late contract instead.)
    */
  def rollingFeaturesStream(events: DataFrame): Dataset[RollingFeatRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    val late = spark.sparkContext.longAccumulator("eventstreams.rollingfeatures.late_dropped")
    events
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), unix_micros(col("ts")).as("tsMicros"), col("user_id"),
        col("value").cast(DecimalType(18, 2)).multiply(lit(100)).cast("long").as("cents"))
      .as[FeatEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollBuf, RollingFeatRec](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { (uid, it, state) =>
        val frontier = state.getOption.flatMap(_.hist.lastOption)
          .map(f => (f.tsMicros, f.event_id))
        val (kept, dropped) = it.toSeq.partition(e =>
          frontier.forall(f => Ordering[(Long, Long)].gteq((e.tsMicros, e.event_id), f)))
        late.add(dropped.size)
        val incoming = kept.sortBy(e => (e.tsMicros, e.event_id))
        val prefix = state.getOption.map(_.hist).getOrElse(Seq.empty)
        val all = prefix ++ incoming
        state.update(RollBuf(all.takeRight(2)))
        all.zipWithIndex.drop(prefix.length).iterator.map { case (e, i) =>
          val frame = all.slice(math.max(0, i - 2), i + 1)
          val prev = if (i > 0) Some(all(i - 1)) else None
          RollingFeatRec(
            e.event_id, uid,
            prev.map(_.cents / 100.0),
            prev.map(p => e.tsMicros - p.tsMicros),
            frame.map(_.cents).sum / 100.0,
            frame.length.toLong)
        }
      }
  }

  final case class AttribEvent(tsMicros: Long, event_id: Long, user_id: Long, event_type: String)

  /** Per-user attribution state: recent touches still inside the lookback
    * of any FUTURE purchase (ts ≥ frontier − window), plus the processed
    * frontier. O(window × per-user rate), the dropDuplicatesWithinWatermark
    * state-bound class.
    */
  final case class AttribBuf(lastTs: Long, touches: Seq[(Long, Long, String)])

  /** One attributed purchase: first- and last-touch types ('none' when the
    * lookback is empty) — the live marketing-attribution feed.
    */
  final case class AttribRec(event_id: Long, user_id: Long, ft_type: String, lt_type: String)

  /** Streaming twin of the batch attribution models (`ev_attribution`):
    * emits each purchase's first/last-touch assignment the moment the
    * purchase arrives. Events process in (ts, event_id) order per user,
    * TICK-AT-A-TIME like [[funnelStream]]: all of a timestamp's touches
    * enter the buffer before that timestamp's purchases attribute, which
    * reproduces the batch RANGE frame's peer semantics (an equal-ts touch
    * counts regardless of event-id order). The buffer prunes below
    * tick − window, so state is O(window × rate) per user. FRONTIER RULE:
    * events with ts strictly below the stored frontier are dropped and
    * counted ([[rollingFeaturesStream]]); an equal-ts arrival in a LATER
    * micro-batch still enters the buffer but cannot retro-update purchases
    * already emitted — exactness holds whenever a timestamp's events land
    * in one batch (the time-split landing contract; spec-asserted across a
    * clean 2-file split).
    */
  def attributionStream(events: DataFrame): Dataset[AttribRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = graft.operators.Events.AttribWindowMicros
    val late = spark.sparkContext.longAccumulator("eventstreams.attribution.late_dropped")
    events
      .withWatermark("ts", "10 minutes")
      .select(unix_micros(col("ts")).as("tsMicros"), col("event_id"),
        col("user_id"), col("event_type"))
      .as[AttribEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribBuf, AttribRec](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { (uid, it, state) =>
        var buf = state.getOption.getOrElse(AttribBuf(Long.MinValue, Seq.empty))
        val (kept, dropped) = it.toSeq.partition(_.tsMicros >= buf.lastTs)
        late.add(dropped.size)
        val out = Seq.newBuilder[AttribRec]
        kept.sortBy(e => (e.tsMicros, e.event_id))
          .groupBy(_.tsMicros).toSeq.sortBy(_._1)
          .foreach { case (ts, tick) =>
            val touches = buf.touches.filter(_._1 >= ts - w) ++
              tick.filter(_.event_type != "purchase")
                .map(e => (e.tsMicros, e.event_id, e.event_type))
            tick.filter(_.event_type == "purchase").foreach { p =>
              val inWin = touches.filter(t => t._1 >= p.tsMicros - w)
              val ft = if (inWin.isEmpty) "none" else inWin.min._3
              val lt = if (inWin.isEmpty) "none" else inWin.max._3
              out += AttribRec(p.event_id, uid, ft, lt)
            }
            buf = AttribBuf(ts, touches)
          }
        state.update(buf)
        out.result().iterator
      }
  }

  /** Streaming twin of the time-bounded funnel
    * (`ev_funnel_windowed` / [[graft.operators.Events.windowedFunnelReach]]):
    * emits a [[FunnelStageRec]] the moment a user first reaches each stage —
    * the live conversion dashboard feed. Same linear DP, same O(|steps|)
    * state; the [[FunnelBuf]] pre-tick snapshot preserves the batch DP's
    * equal-timestamp atomicity even when one timestamp's events straddle a
    * micro-batch boundary, so streamed max-stage == batch reach exactly
    * (EventStreamsSpec, 2-file time-split load). Cross-batch disorder is
    * handled by the FRONTIER RULE (see [[rollingFeaturesStream]]): an
    * incoming event with ts strictly below the last processed tick is
    * dropped and counted — a late event can never snapshot CURRENT state as
    * its pre-tick state or regress `lastTs`, so the DP stays equivalent to
    * the batch EXISTS semantics over the kept events (an equal-ts arrival
    * still merges into its tick via the re-opened-tick path).
    */
  def funnelStream(events: DataFrame): Dataset[FunnelStageRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    val steps = graft.operators.Events.FunnelSteps
    val w = graft.operators.Events.FunnelWindowMicros
    val none = Long.MinValue
    val late = spark.sparkContext.longAccumulator("eventstreams.funnel.late_dropped")
    events
      .withWatermark("ts", "10 minutes")
      .filter(col("event_type").isin(steps: _*))
      .select(unix_micros(col("ts")).as("tsMicros"), col("user_id"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelStageRec](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { (uid, it, state) =>
        val empty = Seq.fill(steps.length)(none)
        var buf = state.getOption.getOrElse(FunnelBuf(none, empty, empty, 0))
        val (keptIn, droppedIn) = it.toSeq.partition(e =>
          buf.lastTs == none || e.tsMicros >= buf.lastTs)
        late.add(droppedIn.size)
        val incoming = keptIn.sortBy(_.tsMicros)
        incoming.groupBy(_.tsMicros).toSeq.sortBy(_._1).foreach { case (ts, tick) =>
          // A re-opened tick keeps updating against its pre-tick snapshot;
          // a new tick snapshots the current state first.
          val pre = if (ts == buf.lastTs) buf.pre else buf.cur
          val cur = buf.cur.toArray
          tick.foreach { e =>
            val k = steps.indexOf(e.event_type)
            val ok = k == 0 || (pre(k - 1) != none && ts - pre(k - 1) <= w)
            if (ok) cur(k) = ts
          }
          buf = FunnelBuf(ts, pre, cur.toSeq, buf.emitted)
        }
        val reached = buf.cur.lastIndexWhere(_ != none) + 1
        val out = ((buf.emitted + 1) to reached).map(FunnelStageRec(uid, _))
        buf = buf.copy(emitted = math.max(buf.emitted, reached))
        state.update(buf)
        out.iterator
      }
  }

  /** The same sessionizer on Spark 4's arbitrary-state API
    * (`transformWithState` + [[SessionizeProcessor]]): state is a named,
    * schema-evolvable `ValueState` in the RocksDB state store instead of a
    * single opaque `GroupState` blob. At scale that buys incremental
    * (changelog) checkpointing, state reads that spill to disk instead of
    * the executor heap, and BOUNDED state: an event-time reaper timer
    * clears users idle past [[SessionStateRetentionMs]], so state tracks
    * recently active users, not lifetime-distinct ones — the operational
    * posture a 100 TB event stream needs. Semantics are byte-identical to
    * [[sessionizeStream]]: both feed [[splitSessions]], and
    * EventStreamsSpec asserts all three paths (batch, GroupState, TWS)
    * agree on closed sessions.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState does not
    * run on the default HDFS-backed store.
    */
  def sessionizeStreamTws(events: DataFrame): Dataset[SessionRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), unix_micros(col("ts")).as("tsMicros"), col("user_id"))
      .as[EventRec]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** One `ValueState[SessionBuf]` per user: the open session's events and the
    * count of sessions already emitted (for stable 1..n numbering across
    * micro-batches). Same merge-sort-split algorithm as the GroupState
    * path, PLUS the semantic the GroupState twin lacks: an event-time timer
    * re-armed at (last event + gap) flushes the open session once the
    * WATERMARK passes the gap — a quiet user's final session emits without
    * waiting for that user's next event. Stale timers are deleted on every
    * new input, so an expiring timer always refers to a genuinely aged-out
    * session; the emitted-counter survives the flush, keeping 1..n session
    * numbering stable across flush + reactivation.
    */
  final class SessionizeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRec, SessionRec] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}

    @transient private var buf: ValueState[SessionBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      implicit val enc: Encoder[SessionBuf] = Encoders.product[SessionBuf]
      buf = getHandle.getValueState[SessionBuf]("sessionBuf", enc, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[EventRec],
        timerValues: TimerValues): Iterator[SessionRec] = {
      val prev = if (buf.exists()) Some(buf.get()) else None
      val buffered = prev.map(_.pending).getOrElse(Seq.empty)
      val all = (buffered ++ rows.map(e => (e.tsMicros, e.event_id))).sorted
      val recs = all.map { case (ts, id) => EventRec(id, ts, uid) }
      val sessions = splitSessions(uid, recs)
      if (sessions.isEmpty) Iterator.empty
      else {
        val closed = sessions.init
        val open = sessions.last
        val baseId = prev.map(_.emitted).getOrElse(0L)
        val openEvents = all.takeRight(open.n_events.toInt)
        buf.update(SessionBuf(openEvents, baseId + closed.size))
        // Re-arm the gap timer for the (single) open session: +1 ms past
        // the gap so a timer never fires on the exact boundary an in-gap
        // event could still extend.
        // Materialize before deleting: listTimers is backed by the state
        // store, and deleting mid-iteration would mutate under the cursor.
        getHandle.listTimers().toList.foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(all.last._1 / 1000 + SessionGapMicros / 1000 + 1)
        closed.iterator.map(s => s.copy(sess_id = baseId + s.sess_id))
      }
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRec] = {
      if (!buf.exists()) Iterator.empty
      else {
        val st = buf.get()
        if (st.pending.isEmpty) {
          // Reaper case: no events since the last flush. Clearing here is
          // what BOUNDS state — without it every user ever seen keeps a
          // (Seq.empty, emitted) row forever. The price: a user returning
          // after a full retention horizon restarts session numbering at 1
          // (the GroupState twin keeps its counter — and its state —
          // unboundedly; bounded state is this path's point).
          buf.clear()
          Iterator.empty
        } else {
          val recs = st.pending.sorted.map { case (ts, id) => EventRec(id, ts, uid) }
          val flushed = splitSessions(uid, recs) // exactly one open session
          buf.update(SessionBuf(Seq.empty, st.emitted + flushed.size))
          // Arm the retention reaper: if the user stays quiet for the whole
          // horizon, the next expiry finds pending empty and clears state.
          getHandle.registerTimer(
            expiredTimerInfo.getExpiryTimeInMs() + SessionStateRetentionMs)
          flushed.iterator.zipWithIndex.map { case (s, i) =>
            s.copy(sess_id = st.emitted + i + 1)
          }
        }
      }
    }
  }

  /** Event-time retention for a flushed user's numbering counter: after this
    * long with no events, the reaper timer clears the user's state row
    * entirely, keeping total state proportional to RECENTLY ACTIVE users
    * instead of lifetime-distinct users. 90 days ≫ any test corpus span, so
    * the three-way batch/GroupState/TWS agreement is unaffected there.
    */
  val SessionStateRetentionMs: Long = 90L * 24 * 3600 * 1000

  /** Exactly-once `foreachBatch` sink into a [[graft.sources.Versioned]]
    * table: micro-batch b commits as table version b. Spark's built-in file
    * sink gets exactly-once from its own commit log; a CUSTOM sink must
    * supply idempotence itself, and this one gets it from the manifest
    * commit protocol — replay-safe at both crash points:
    *
    *  - crash AFTER the sink committed but BEFORE the checkpoint advanced:
    *    the replayed batch finds `latest >= batchId` and skips — the
    *    version is already durable, re-appending would duplicate;
    *  - crash MID-commit (data files written, manifest not): the replayed
    *    batch's commit clears the invisible orphan and lands cleanly
    *    ([[graft.sources.Versioned.append]]).
    *
    * foreachBatch delivers batch ids sequentially from the checkpoint, so
    * version == batchId is an invariant. OWNERSHIP CONTRACT: the sink must
    * create the table (its checkpoint and the table advance together); a
    * legitimate replay can only ever be the LAST committed batch (crash
    * after commit, before the checkpoint advanced), so batchId < latest —
    * a fresh checkpoint pointed at a table it did not build — fails fast
    * rather than silently dropping the leading batches as "replays".
    */
  def versionedSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val latest = graft.sources.Versioned.latest(tableDir)
    require(!latest.exists(_ > batchId),
      s"sink does not own table $tableDir: it is at v${latest.get} but the " +
        "checkpoint delivered batch " + batchId + " — replays can only be the last batch")
    if (latest.contains(batchId)) () // replayed, already-committed last batch
    else {
      val v = graft.sources.Versioned.append(batch, tableDir)
      require(v == batchId, s"sink table out of sync: committed v$v for batch $batchId")
    }
  }

  /** Stream into a versioned table via [[versionedSink]] (AvailableNow:
    * drains what exists, then stops) — the one exactly-once drain. Each
    * micro-batch passes through `transform` inside `foreachBatch`, i.e. at
    * the SINK, after any stateful operator in `stream`'s body.
    */
  def writeVersioned(stream: DataFrame, tableDir: String, ckpt: String,
      transform: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        versionedSink(tableDir)(transform(batch), batchId)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
