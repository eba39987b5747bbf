package graft.streaming

import graft.operators.{Pipeline, Relational}
import graft.sources.{Stored, Versioned}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The exactly-once streaming sink ON the driver's hash gate.
  *
  * Every other streaming twin is proved equal to its batch query in
  * ScalaTest; this module routes one through the DRIVER gate: the query's
  * input is a [[graft.sources.Versioned]] table that a Structured Streaming
  * job committed — across multiple micro-batches AND a query restart — and
  * its oracle is plain SQL over the original `events` parquet. A hash match
  * therefore proves the whole chain end-to-end: file-source discovery →
  * per-micro-batch transformation → manifest-commit exactly-once sink →
  * checkpoint-resumed restart → time-travel read, with zero lost and zero
  * duplicated rows. (The reference engine's append-mode retry DUPLICATES
  * output — `mr_tasks.h:25,69`; this gate row is the strongest form of the
  * not-replicating-that-bug contract.)
  *
  * Build shape: the ingest runs ONCE per corpus fingerprint
  * ([[graft.sources.Stored.path]]) like the time-travel gate tables — a
  * landing dir is seeded with the events split into [[Splits]] files, a
  * first AvailableNow query drains the first two (maxFilesPerTrigger=1 →
  * one version per file), then the THIRD file lands and a SECOND query
  * resumes from the same checkpoint — the restart path a production ingest
  * exercises daily ([[restartDrain]], shared by all six gates). Repeat
  * invocations read the committed table (manifest resolve + scan): steady
  * state.
  *
  * Scale: the streamed body is a stateless narrow projection (the
  * DocStreams contract — per-row work, no shuffle, no state); the sink
  * appends one parquet dir + one manifest line per micro-batch. At 100 TB
  * this is the firehose-ingest layout: commit cost is O(batch), read cost
  * is O(manifest + referenced files).
  */
object StreamGate {

  /** Landing files = micro-batches = committed versions (2 before the
    * restart, 1 after).
    */
  val Splits = 3

  /** Schema of the `events` table (file-source streams must declare). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Land `df` as EXACTLY ONE parquet file at `dest` (the file source
    * discovers files, not directories): write a single-part dir, hoist the
    * leaf file out, drop the dir. `Files.list` holds an open directory
    * handle — closed in finally or one handle leaks per landed split.
    */
  private def landSingleFile(df: DataFrame, tmpDir: String, dest: String): Unit = {
    val pdir = Paths.get(tmpDir)
    df.coalesce(1).write.parquet(tmpDir)
    val st = Files.list(pdir)
    val leaf =
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      finally st.close()
    Files.move(leaf, Paths.get(dest))
    org.apache.commons.io.FileUtils.deleteDirectory(pdir.toFile)
  }

  /** Stamp strictly increasing modification times on the landed/staged
    * files, in intended delivery order. FileStreamSource orders new files
    * by mtime, and `Files.move` into the landing dir PRESERVES whatever
    * mtime the parquet write left — two files written in the same
    * millisecond (or a slow staged write finishing after a fast one) could
    * otherwise be picked up out of order, and in the watermarked gates an
    * out-of-order sentinel advances the event-time clock past the real
    * tail's rows, dropping them as late (a loud but spurious gate failure —
    * ADVICE r10). One-second spacing keeps the ordering unambiguous on
    * coarse-mtime filesystems.
    */
  private def stampDeliveryOrder(paths: Seq[String]): Unit = {
    val t0 = System.currentTimeMillis()
    paths.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(Paths.get(p),
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
  }

  /** The restart skeleton every gate shares, under the gate's build dir
    * `base`: land each `before` frame as one file f0, f1, … in
    * `base/landing`, stage the `after` frames OUTSIDE it, stamp delivery
    * order over all of them, run `drain(landing, table, ckpt)` to
    * completion, release the staged files into the landing dir, and drain
    * again — a NEW query resuming from the same checkpoint commits exactly
    * the late files. Returns the committed table's dir.
    */
  private def restartDrain(base: String, before: Seq[DataFrame], after: Seq[DataFrame])(
      drain: (String, String, String) => StreamingQuery): String = {
    val (landing, table, ckpt) = (s"$base/landing", s"$base/table", s"$base/ckpt")
    Files.createDirectories(Paths.get(landing))
    val files = (before ++ after).indices.map { k =>
      if (k < before.size) s"$landing/f$k.parquet" else s"$base/f$k.staged"
    }
    (before ++ after).zip(files).zipWithIndex.foreach { case ((df, dest), k) =>
      landSingleFile(df, s"$base/part$k", dest)
    }
    stampDeliveryOrder(files)
    drain(landing, table, ckpt).awaitTermination()
    files.zipWithIndex.drop(before.size).foreach { case (f, k) =>
      Files.move(Paths.get(f), Paths.get(s"$landing/f$k.parquet"))
    }
    drain(landing, table, ckpt).awaitTermination()
    table
  }

  /** An events-schema file stream over the landing dir, one file per
    * micro-batch.
    */
  private def eventStream(s: SparkSession, landing: String): DataFrame =
    s.readStream.schema(EventSchema).option("maxFilesPerTrigger", 1).parquet(landing)

  private def us = unix_micros(col("ts"))

  /** The events' time span and its two global time cuts at a third and two
    * thirds: (min, c1, c2, max) in epoch micros. An empty events table has
    * NULL min/max — fail with a clear message instead of an opaque NPE.
    */
  private def thirds(ev: DataFrame, gate: String, dir: String): (Long, Long, Long, Long) = {
    val r = ev.agg(min(us), max(us)).head()
    require(!r.isNullAt(0), s"$gate: events table at $dir is empty — nothing to stream")
    val (minUs, maxUs) = (r.getLong(0), r.getLong(1))
    (minUs, minUs + (maxUs - minUs) / 3, minUs + 2 * (maxUs - minUs) / 3, maxUs)
  }

  /** Far-future heartbeat rows in the events schema: `rows` supplies
    * event_id, user_id and event_type; every row is stamped at `tsUs`.
    */
  private def sentinel(rows: DataFrame, tsUs: Long): DataFrame =
    rows.select(col("event_id"), timestamp_micros(lit(tsUs)).as("ts"), col("user_id"),
      col("event_type"), lit(0.0).as("value"), lit(null).cast("string").as("props"))

  /** The per-micro-batch transformation: a stateless exact-cents projection
    * (value → integer cents via the DECIMAL(18,2) cast — the
    * EventStreams/rolling-features money contract).
    */
  private def project(batch: DataFrame): DataFrame =
    batch.select(col("event_id"), col("user_id"), col("event_type"),
      col("value").cast(DecimalType(18, 2)).multiply(lit(100)).cast("long").as("cents"))

  /** Build (once per corpus fingerprint) the stream-committed table and
    * return its directory. A partial build (transient failure between the
    * two queries) stores nothing, so the next call rebuilds from scratch in
    * a new dir rather than wedging on a half-landed table.
    */
  private def streamedTable(s: SparkSession, dir: String): String =
    Stored.path("st_stream_commit", dir, s) { base =>
      val ev = Relational.t(s, dir, "events")
      val files = (0 until Splits).map(k => ev.filter(pmod(col("event_id"), lit(Splits)) === k))
      val committed = restartDrain(base, files.init, files.takeRight(1)) { (landing, table, ckpt) =>
        EventStreams.writeVersioned(eventStream(s, landing), table, ckpt, project)
      }
      require(Versioned.latest(committed).contains(Splits - 1),
        s"stream gate expected ${Splits} committed versions")
    } + "/table"

  /** Document-pipeline sibling of [[streamedTable]] — the SECOND gated
    * exactly-once chain, and a strictly harder one: the per-micro-batch
    * body is not a projection but the full incremental near-dup match
    * ([[DocStreams.dedupDocStream]] → [[graft.operators.Dedup
    * .incrementalMatches]]) of each arriving doc batch against the STATIC
    * existing-corpus shingle index. The incoming (bucket ≥ 80) docs land as
    * [[Splits]] files → one micro-batch/version each, with the restart
    * between file 2 and 3 exactly like the events gate. Because matches for
    * an incoming doc depend only on that doc and the static index, the
    * committed union across batches + restart must equal the one-pass batch
    * result — which is what the dd_incremental ORACLE computes, so this
    * query reuses that oracle verbatim (one source of truth).
    */
  private def streamedDocTable(s: SparkSession, dir: String): String =
    Stored.path("st_doc_commit", dir, s) { base =>
      val incoming = Relational.t(s, dir, "documents")
        .filter(Pipeline.bucket(col("doc_id")) >= Pipeline.LandingBucketCap)
      val files = (0 until Splits).map(k => incoming.filter(pmod(col("doc_id"), lit(Splits.toLong)) === k))
      val existing = graft.operators.Dedup.materialized(
        graft.operators.Dedup.shingled(s, dir)
          .filter(Pipeline.bucket(col("doc_id")) < Pipeline.LandingBucketCap))
      val committed = restartDrain(base, files.init, files.takeRight(1)) { (landing, table, ckpt) =>
        DocStreams.dedupDocStream(DocStreams.readDocStream(s, landing), existing, table, ckpt)
      }
      require(Versioned.latest(committed).contains(Splits - 1),
        s"doc stream gate expected ${Splits} committed versions")
    } + "/table"

  /** Window-gate versions: two time cuts before the restart, then the last
    * cut plus TWO sentinel flush files after. Append-mode windowed
    * aggregation emits a window one batch AFTER the watermark passes its
    * end: sentinel A advances the watermark beyond every real window,
    * sentinel B's batch performs the final eviction — the end-of-stream
    * flush shape for the built-in aggregation state store (the
    * flatMapGroupsWithState sessionizer needs only one sentinel because it
    * applies its frontier rule inline in the same batch).
    */
  val WinSplits = 5

  /** WATERMARKED-AGGREGATION sibling of [[streamedTable]] — the fourth
    * gated exactly-once chain, covering the state mechanism the other
    * three do not: Spark's built-in streaming-aggregation state store
    * (partial window counts/sums + the event-time watermark), where the
    * session gate covers user-code flatMapGroupsWithState state. Landing
    * files are GLOBAL TIME CUTS (the file source's production contract —
    * watermarks assume broadly time-ordered arrival), the restart falls
    * between cuts 2 and 3 with real windows still OPEN in the state store,
    * and the committed union across batches and the restart must equal the
    * one-pass batch windowed aggregate: a lost partial undercounts, a
    * replayed file overcounts, a re-emitted finalized window duplicates
    * rows, and a watermark regression re-opens closed windows — none of
    * which can hash-match. The sentinels' own `__flush` windows never
    * finalize (no later data passes them), so they never reach the sink
    * and the gate reuses ev_window_agg's oracle verbatim (one source of
    * truth — the st_doc_commit device).
    */
  private def streamedWindowTable(s: SparkSession, dir: String): String =
    Stored.path("st_window_commit", dir, s) { base =>
      val ev = Relational.t(s, dir, "events")
      val (_, c1, c2, maxUs) = thirds(ev, "streamedWindowTable", dir)
      def flush(k: Int, tsUs: Long) = sentinel(s.range(1).select(
        lit(-k.toLong).as("event_id"), lit(0L).as("user_id"), lit("__flush").as("event_type")), tsUs)
      // The last cut and both sentinels stage until after the restart, and
      // the real tail f2 MUST be processed before the watermark-advancing
      // sentinels f3/f4. Sentinel A sits > 1 h + watermark past the last
      // real event, so the post-A watermark clears every real window end;
      // B sits another hour out so A's own window cannot finalize either.
      val committed = restartDrain(base,
        Seq(ev.filter(us < c1), ev.filter(us >= c1 && us < c2)),
        Seq(ev.filter(us >= c2), flush(3, maxUs + 2L * 3600 * 1000000),
          flush(4, maxUs + 3L * 3600 * 1000000))) { (landing, table, ckpt) =>
        // The sentinels are HEARTBEAT rows (the production pattern for
        // advancing an event-time clock on a quiet stream): they must flow
        // through the watermark collector, so their window is excluded at
        // the SINK, not in the stream body — a pre-aggregation filter gets
        // pushed below EventTimeWatermark by Catalyst, the sentinels never
        // reach the clock, and the last real windows never flush
        // (measured: 5 rows short). Sink-side the drop is trivially safe:
        // at most the one __flush window row, in the final eviction batch.
        EventStreams.writeVersioned(
          EventStreams.streamingWindowedAgg(eventStream(s, landing)), table, ckpt,
          _.filter(col("event_type") =!= "__flush"))
      }
      // ≥, not ==: AvailableNow appends a NO-DATA batch after each drain
      // when the watermark advanced (the stateful-query eviction batch),
      // so the five landing files commit as five-plus versions.
      require(Versioned.latest(committed).exists(_ >= WinSplits - 1),
        s"window stream gate expected at least $WinSplits committed versions")
    } + "/table"

  /** Dedup-gate versions: landing files = micro-batches (2 before the
    * restart, 1 after), each carrying deliberately REPLAYED rows.
    */
  val DedupSplits = 3

  /** Width of the deliberately-replayed tail slice (1 day) and the dedup
    * watermark delay (2 days — state must outlive the replay horizon).
    */
  val ReplayHorizonUs: Long = 86400L * 1000000
  val DedupDelay = "48 hours"

  /** AT-LEAST-ONCE-UPSTREAM sibling of [[streamedTable]] — the fifth gated
    * chain, covering the last of Spark's state mechanisms: the streaming
    * DEDUPLICATION state store (`dropDuplicatesWithinWatermark`), which
    * exists precisely because real upstreams redeliver. Here the source
    * itself duplicates: each landing file carries, besides its time cut,
    * a REPLAY of the previous cut's trailing day — inside the 2-day
    * watermark horizon, so the replays are NOT late-droppable and only the
    * dedup state can exclude them. The third file's replay arrives AFTER
    * the checkpoint restart, so its exclusion proves the id state survived
    * the restart: lost state commits the replayed rows twice and the
    * row-level hash (vs plain SELECT over the original events) cannot
    * match. The builder requires both replay slices non-empty — a corpus
    * change must fail loudly, never pass vacuously with no duplicates to
    * drop. The micro-batches are global time cuts, so the delivery-order
    * stamp keeps the advanced watermark from late-dropping an earlier
    * cut's rows.
    */
  private def streamedDedupTable(s: SparkSession, dir: String): String =
    Stored.path("st_dedup_commit", dir, s) { base =>
      val ev = Relational.t(s, dir, "events")
      val (_, c1, c2, _) = thirds(ev, "streamedDedupTable", dir)
      val replay1 = ev.filter(us >= c1 - ReplayHorizonUs && us < c1)
      val replay2 = ev.filter(us >= c2 - ReplayHorizonUs && us < c2)
      require(replay1.limit(1).count() == 1 && replay2.limit(1).count() == 1,
        "streamedDedupTable: a replay slice is empty — the gate would pass " +
          "vacuously with no duplicates for the state store to drop")
      val committed = restartDrain(base,
        Seq(ev.filter(us < c1), ev.filter(us >= c1 && us < c2).unionByName(replay1)),
        Seq(ev.filter(us >= c2).unionByName(replay2))) { (landing, table, ckpt) =>
        EventStreams.writeVersioned(
          eventStream(s, landing).withWatermark("ts", DedupDelay)
            .dropDuplicatesWithinWatermark("event_id"),
          table, ckpt, project)
      }
      // ≥, not ==: stateful drains may append trailing no-data eviction
      // batches (the window-gate observation).
      require(Versioned.latest(committed).exists(_ >= DedupSplits - 1),
        s"dedup stream gate expected at least $DedupSplits committed versions")
    } + "/table"

  /** Session-gate versions: two before the restart, two after (the last
    * time cut + the sentinel flush file).
    */
  val SessSplits = 4

  /** STATEFUL sibling of [[streamedTable]] — the third gated exactly-once
    * chain, and the hardest: the streamed body is flatMapGroupsWithState
    * sessionization ([[EventStreams.sessionizeStream]]), so the restart
    * must restore per-user OPERATOR STATE (each open session) from the
    * checkpoint's state store, not just source offsets. Micro-batches are
    * GLOBAL TIME CUTS of the events table — a modulo split would deliver
    * time-disordered batches, which a stateful operator handles by the
    * frontier rule (drop-and-count); time-ordered landing files are the
    * file source's production contract, and sessions STRADDLING a cut are
    * exactly the state the restart must carry: a session open in version 1
    * closes correctly in version 2, across the restart.
    *
    * Final sessions flush via a SENTINEL file — one far-future event per
    * user (> gap beyond the corpus maximum), the standard end-of-stream
    * flush: it closes every user's last real session; the sentinel's own
    * session stays open and never emits. The committed table is therefore
    * EXACTLY the batch sessionization of the real events, and the gate
    * reuses ev_sessions' oracle verbatim (one source of truth — the
    * st_doc_commit device). The real tail f2 must precede the sentinel f3
    * after the restart, or the flush closes every session before f2's
    * events arrive and the frontier rule drops them.
    */
  private def streamedSessionTable(s: SparkSession, dir: String): String =
    Stored.path("st_session_commit", dir, s) { base =>
      val ev = Relational.t(s, dir, "events")
      val (_, c1, c2, maxUs) = thirds(ev, "streamedSessionTable", dir)
      val flush = sentinel(
        ev.select(col("user_id")).distinct()
          .select((-col("user_id")).as("event_id"), col("user_id"), lit("__flush").as("event_type")),
        maxUs + EventStreams.SessionGapMicros + 3600L * 1000000)
      val committed = restartDrain(base,
        Seq(ev.filter(us < c1), ev.filter(us >= c1 && us < c2)),
        Seq(ev.filter(us >= c2), flush)) { (landing, table, ckpt) =>
        EventStreams.writeVersioned(
          EventStreams.sessionizeStream(eventStream(s, landing)).toDF(), table, ckpt)
      }
      require(Versioned.latest(committed).contains(SessSplits - 1),
        s"session stream gate expected $SessSplits committed versions")
    } + "/table"

  /** Join-gate versions: two time cuts before the restart, then the last
    * cut plus TWO sentinel files after (the window gate's flush shape:
    * sentinel A advances the watermark past every real error's join
    * window, sentinel B's batch performs the eviction that emits the
    * unmatched errors).
    */
  val JoinSplits = 5

  /** STREAM-STREAM JOIN sibling of [[streamedTable]] — the sixth gated
    * exactly-once chain, covering the one state mechanism the first five
    * do not: the symmetric join state store. The streamed body is
    * [[EventStreams.streamingErrorClickPairsOuter]] — a LEFT OUTER
    * interval join of the error stream against the click stream (both
    * sides the same landing files, read as two independent file sources,
    * watermarked 10 min) — so the checkpoint restart must restore BOTH
    * sides' buffered rows: an error from cut 2 whose 5-minute click window
    * straddles the cut must still match a click arriving in cut 3 AFTER
    * the restart, and an error still unmatched at the restart must emit
    * its null-extended row exactly once when the watermark finally passes
    * its window. Lost join state drops matches or double-emits null rows;
    * either breaks the row-level hash against the batch LEFT JOIN oracle
    * (reused verbatim from ev_error_click_outer — one source of truth).
    *
    * Sentinels must advance the event-time clock of BOTH sources, and each
    * source's type filter is pushed below its watermark collector (the
    * window-gate observation), so each sentinel file carries one far-future
    * 'error' row AND one far-future 'click' row, with negative event_ids
    * and user_ids -1/-2 that match no real row and not each other; their
    * own join outputs are excluded at the SINK (error_id >= 0), the
    * window gate's trivially-safe drop.
    */
  private def streamedJoinTable(s: SparkSession, dir: String): String =
    Stored.path("st_join_commit", dir, s) { base =>
      val ev = Relational.t(s, dir, "events")
      val (minUs, thirdUs, _, maxUs) = thirds(ev, "streamedJoinTable", dir)
      // Non-vacuity by CONSTRUCTION: natural thirds cuts make straddling
      // matches a corpus accident (measured zero at sf0.01 — matches are
      // rare and the horizon is 5 minutes of a 30-day span), so the restart
      // cut is DERIVED from a matched pair instead: c2 = the click's
      // timestamp of the latest strictly-ordered error→click match, putting
      // the error in the pre-restart file and its click in the post-restart
      // one. This also pins the error in the join buffer at the restart
      // structurally: every f1 event time is < c2 = c_ts ≤ e_ts + horizon,
      // so the pre-restart watermark (max f1 ts − 10 min delay) sits below
      // e_ts + horizon and cannot have evicted it. The pick is a bounded
      // one-row driver-side read (deterministic order), the gate-builder
      // analogue of the other builders' min/max head().
      val m = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("eid"), col("user_id").as("uid"), us.as("etu"))
        .join(ev.filter(col("event_type") === "click")
          .select(col("user_id").as("uid"), us.as("ctu")), "uid")
        .filter(col("ctu") > col("etu") &&
          col("ctu") <= col("etu") + lit(EventStreams.ErrorClickHorizonMicros))
        .orderBy(col("etu").desc, col("eid"), col("ctu"))
        .limit(1).collect()
      require(m.nonEmpty,
        "streamedJoinTable: the corpus has no strictly-ordered error→click " +
          "match — no cut can exercise restart-surviving join state")
      val (eTu, c2) = (m(0).getLong(m(0).fieldIndex("etu")), m(0).getLong(m(0).fieldIndex("ctu")))
      // Keep the thirds shape when the pair allows it; pull c1 below the
      // error when it sits early so the error always lands in f1 (the file
      // whose state the restart must carry), never in f0.
      val c1 = math.min(thirdUs, (minUs + eTu) / 2)
      // Twin-typed sentinel file k: one error + one click row, far future.
      def flush(k: Int, tsUs: Long) = sentinel(s.range(2).select(
        (lit(-(2L * k)) - col("id")).as("event_id"),
        (lit(-1L) - col("id")).as("user_id"),
        when(col("id") === 0, lit("error")).otherwise(lit("click")).as("event_type")), tsUs)
      val committed = restartDrain(base,
        Seq(ev.filter(us < c1), ev.filter(us >= c1 && us < c2)),
        Seq(ev.filter(us >= c2), flush(3, maxUs + 2L * 3600 * 1000000),
          flush(4, maxUs + 3L * 3600 * 1000000))) { (landing, table, ckpt) =>
        EventStreams.writeVersioned(
          EventStreams.streamingErrorClickPairsOuter(eventStream(s, landing), eventStream(s, landing))
            .select(col("error_id"), col("click_id"), col("user_id")),
          table, ckpt, _.filter(col("error_id") >= 0))
      }
      require(Versioned.latest(committed).exists(_ >= JoinSplits - 1),
        s"join stream gate expected at least $JoinSplits committed versions")
    } + "/table"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Aggregate the stream-committed table's LATEST version per event type;
    // the oracle computes the same numbers from the original events parquet
    // — equality proves the restart-spanning ingest lost nothing and
    // duplicated nothing (sums and counts would both move on any slip).
    "st_stream_commit" -> { (s, dir) =>
      Versioned.read(s, streamedTable(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("total_cents"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .orderBy("event_type")
    },

    // The committed near-dup matches of the streamed doc pipeline, read
    // from the versioned sink's latest snapshot; the oracle is the
    // dd_incremental statement over the ORIGINAL documents parquet, so a
    // hash match proves the micro-batched/restarted ingest produced
    // exactly the one-pass batch matches — nothing lost, duplicated, or
    // drifted through the streaming chain.
    "st_doc_commit" -> { (s, dir) =>
      Versioned.read(s, streamedDocTable(s, dir))
        .orderBy("incoming_id", "existing_id")
    },

    // The committed sessions of the STATEFUL streamed chain: every session
    // the sessionizer emitted across four micro-batches and a mid-stream
    // restart, read from the versioned sink's latest snapshot. The oracle
    // is ev_sessions' statement over the ORIGINAL events parquet — a hash
    // match proves per-user operator state (the open sessions) survived the
    // checkpoint restart intact: a lost open session drops rows, a replayed
    // one duplicates or renumbers them, and a cut-straddling session would
    // split in two. Nothing of the kind may appear for the hash to hold.
    "st_session_commit" -> { (s, dir) =>
      Versioned.read(s, streamedSessionTable(s, dir))
        .orderBy("user_id", "sess_id")
    },

    // The committed finalized windows of the WATERMARKED streaming
    // aggregation, across five micro-batches and a restart with real
    // windows open in the built-in aggregation state store; the oracle is
    // ev_window_agg's statement over the ORIGINAL events parquet — a hash
    // match proves partial window state and the watermark both survived
    // the checkpoint restart, and that append-mode finalization emitted
    // every real window exactly once.
    "st_window_commit" -> { (s, dir) =>
      Versioned.read(s, streamedWindowTable(s, dir))
        .orderBy("window_start", "event_type")
    },

    // The committed rows of the dedup-on-ingest chain fed by a
    // deliberately REDELIVERING source (each file replays the previous
    // cut's trailing day, once across the restart); the oracle is a plain
    // row-level SELECT over the ORIGINAL events parquet — a hash match
    // proves the dedup state store excluded every replayed row, including
    // the ones arriving after the checkpoint restart, and passed every
    // genuine row exactly once.
    "st_dedup_commit" -> { (s, dir) =>
      Versioned.read(s, streamedDedupTable(s, dir))
        .orderBy("event_id")
    },

    // The committed rows of the STREAM-STREAM outer-join chain, across
    // five micro-batches and a restart with both join buffers non-empty;
    // the oracle is ev_error_click_outer's batch LEFT JOIN over the
    // ORIGINAL events parquet — a hash match proves the symmetric join
    // state survived the restart (cut-straddling matches found, unmatched
    // errors null-extended exactly once at watermark eviction).
    "st_join_commit" -> { (s, dir) =>
      Versioned.read(s, streamedJoinTable(s, dir))
        .orderBy("error_id", "click_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "st_stream_commit" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |  MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Verbatim reuse of the batch oracle: the streamed result must equal
    // the one-pass batch matches, so they share ONE statement.
    "st_doc_commit" -> graft.operators.Dedup.oracles("dd_incremental"),
    // Verbatim reuse again: the restart-spanning stateful sessionization
    // must equal the one-pass batch sessionization.
    "st_session_commit" -> graft.operators.Events.oracles("ev_sessions"),
    // Verbatim reuse once more: the restart-spanning watermarked window
    // aggregation must equal the one-pass batch windowed aggregate.
    "st_window_commit" -> graft.operators.Events.oracles("ev_window_agg"),
    // Row-level: the deduped ingest of a redelivering source must equal
    // the original table, exactly (the cents cast is the project() twin).
    "st_dedup_commit" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,
    // Verbatim reuse: the restart-spanning stream-stream outer join must
    // equal the one-pass batch LEFT JOIN.
    "st_join_commit" -> graft.operators.Events.oracles("ev_error_click_outer")
  )
}
