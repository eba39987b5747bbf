package graft.streaming

import graft.SparkSpec
import graft.operators.{Events, Relational}
import org.apache.spark.sql.functions._

class EventStreamsSpec extends SparkSpec {

  /** File-stream sources need a directory: stage the single events.parquet
    * file into a temp dir once for the suite.
    */
  lazy val eventsDir: String = {
    val d = SparkSpec.tempDir("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      d.resolve("events.parquet")
    )
    d.toString
  }

  test("splitSessions splits on >30min gaps and numbers sessions in order") {
    import EventStreams._
    val m = 60L * 1000 * 1000
    val evs = Seq(
      EventRec(1, 0 * m, 7), EventRec(2, 10 * m, 7), EventRec(3, 45 * m, 7),
      EventRec(4, 120 * m, 7)
    )
    // Gaps: 0→10 (10min, same), 10→45 (35min, new), 45→120 (75min, new).
    val got = splitSessions(7, evs)
    assert(got.map(s => (s.sess_id, s.n_events)) == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(got.head.session_start.getTime == 0 && got.head.session_end.getTime == 10 * 60 * 1000)
  }

  test("sessionizePartition streams multi-user sorted partitions with O(1) state") {
    import EventStreams._
    val m = 60L * 1000 * 1000
    // Two users adjacent in one sorted partition: user 1 has a gap split,
    // user 2 opens on the user-boundary row and flushes at end-of-partition.
    val rows = Iterator(
      EventRec(1, 0 * m, 1), EventRec(2, 5 * m, 1), EventRec(3, 90 * m, 1),
      EventRec(4, 0 * m, 2)
    )
    val got = sessionizePartition(rows).toVector
    assert(got.map(s => (s.user_id, s.sess_id, s.n_events)) ==
      Vector((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
    // Agrees with the per-user core on the same data.
    assert(got.filter(_.user_id == 1) ==
      splitSessions(1, Seq(EventRec(1, 0 * m, 1), EventRec(2, 5 * m, 1), EventRec(3, 90 * m, 1))))
    assert(sessionizePartition(Iterator.empty).isEmpty)
  }

  test("streaming windowed agg over the events parquet equals batch result") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.streamingWindowedAgg(stream)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("win_agg_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_agg_test")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = Events.queries("ev_window_agg")(spark, sf()).collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful streaming sessionizer agrees with batch sessionizer on closed sessions") {
    import spark.implicits._
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.sessionizeStream(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_test")
        .select("user_id", "sess_id", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      // All data arrives in one micro-batch: streaming emits every session
      // except each user's final (still-open) one.
      val batchAll = EventStreams.sessionizeBatch(Relational.t(spark, sf(), "events"))
        .select("user_id", "sess_id", "n_events")
        .as[(Long, Long, Long)].collect()
      val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batchClosed = batchAll.filter { case (u, s, _) => s != lastPerUser(u) }.toSet
      assert(streamed == batchClosed)
    } finally q.stop()
  }

  test("transformWithState sessionizer agrees with batch sessionizer on closed sessions") {
    import spark.implicits._
    // transformWithState only runs on the RocksDB state store — set it for
    // this query's lifetime and restore after (session conf is read at
    // stream start).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.sessionizeStreamTws(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_tws_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_tws_test")
        .select("user_id", "sess_id", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      val batch = EventStreams.sessionizeBatch(Relational.t(spark, sf(), "events"))
      val batchAll = batch
        .select("user_id", "sess_id", "n_events")
        .as[(Long, Long, Long)].collect()
      val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batchClosed = batchAll.filter { case (u, s, _) => s != lastPerUser(u) }.toSet
      // Gap-closed sessions all emit, like the GroupState path...
      assert(streamed.intersect(batchClosed) == batchClosed,
        "every gap-closed session must be emitted")
      // ...and additionally the event-time timers flush final sessions the
      // watermark has aged out — something the GroupState twin never emits.
      // Every extra emission must BE a user's final batch session, and at
      // least one must have flushed (the corpus spans ≫ gap+watermark).
      val extras = streamed -- batchClosed
      val finals = batchAll.filter { case (u, s, _) => s == lastPerUser(u) }.toSet
      assert(extras.subsetOf(finals),
        s"timer flushes must match the batch final sessions, got ${extras -- finals}")
      assert(extras.nonEmpty, "event-time timers should flush aged-out final sessions")
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("streaming transition pairs aggregate to the batch lag-window matrix") {
    import spark.implicits._
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.transitionsStream(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("trans_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("trans_test")
        .groupBy("prev_type", "next_type").count()
        .as[(String, String, Long)].collect().map { case (p, n, c) => (p, n) -> c }.toMap
      // Batch truth: the full lag-window matrix (ev_transitions without its
      // top-k cut).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.col("event_id"))
      import org.apache.spark.sql.functions._
      val batch = graft.operators.Relational.t(spark, sf(), "events")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").count()
        .as[(String, String, Long)].collect().map { case (p, n, c) => (p, n) -> c }.toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming rolling features equal the batch frame across a 2-file incremental load") {
    import org.apache.spark.sql.functions._
    // Split the corpus in half by event time so the second file genuinely
    // extends users' histories — the stored 2-event tail must bridge the
    // batch boundary for every user.
    val ev = graft.operators.Relational.t(spark, sf(), "events")
    val cut = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)")).head().getLong(0)
    val d = SparkSpec.tempDir("events-roll")
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1).write.parquet(d.resolve("p1").toString)
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1).write.parquet(d.resolve("p2").toString)
    def land(part: String, name: String): Unit = {
      val leaf = java.nio.file.Files.list(d.resolve(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(leaf, d.resolve(name))
    }
    land("p1", "a.parquet")
    val q = EventStreams.rollingFeaturesStream(EventStreams.readEventStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("roll_test").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("roll_test").count()
      assert(afterFirst > 0)
      land("p2", "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("roll_test")
        .select("event_id", "user_id", "prev_value", "gap_us", "roll3_sum", "roll3_n")
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      val batch = graft.operators.Events.queries("ev_rolling_features")(spark, sf())
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(afterFirst < batch.size, "both files must contribute rows")
      assert(streamed.size == batch.size)
      streamed.foreach { case (id, row) =>
        assert(row == batch(id), s"event $id: streamed $row != batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming attribution equals the batch RANGE window across a 2-file split") {
    import org.apache.spark.sql.functions._
    val ev = graft.operators.Relational.t(spark, sf(), "events")
    val cut = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)")).head().getLong(0)
    val d = SparkSpec.tempDir("events-attr")
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1).write.parquet(d.resolve("p1").toString)
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1).write.parquet(d.resolve("p2").toString)
    def land(part: String, name: String): Unit = {
      val leaf = java.nio.file.Files.list(d.resolve(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(leaf, d.resolve(name))
    }
    land("p1", "a.parquet")
    val q = EventStreams.attributionStream(EventStreams.readEventStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("attr_test").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("attr_test").count()
      assert(afterFirst > 0)
      land("p2", "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("attr_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getString(3)))).toMap
      // Batch truth: the ev_attribution window form per purchase.
      val W = graft.operators.Events.AttribWindowMicros
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tsu").rangeBetween(-W, 0)
      val touch = when(col("event_type") =!= "purchase",
        struct(col("tsu"), col("event_id"), col("event_type")))
      val batch = ev
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("event_id"), col("event_type"))
        .withColumn("lt", max(touch).over(w))
        .withColumn("ft", min(touch).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          coalesce(col("ft.event_type"), lit("none")).as("ft"),
          coalesce(col("lt.event_type"), lit("none")).as("lt"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
      assert(afterFirst < batch.size, "both files must contribute purchases")
      assert(streamed.size == batch.size)
      streamed.foreach { case (id, fl) =>
        assert(fl == batch(id), s"purchase $id: streamed $fl != batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming windowed funnel reaches the batch stages across a 2-file split") {
    import org.apache.spark.sql.functions._
    val ev = graft.operators.Relational.t(spark, sf(), "events")
    val cut = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)")).head().getLong(0)
    val d = SparkSpec.tempDir("events-funnel")
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1).write.parquet(d.resolve("p1").toString)
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1).write.parquet(d.resolve("p2").toString)
    def land(part: String, name: String): Unit = {
      val leaf = java.nio.file.Files.list(d.resolve(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(leaf, d.resolve(name))
    }
    land("p1", "a.parquet")
    val q = EventStreams.funnelStream(EventStreams.readEventStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("funnel_test").start()
    try {
      q.processAllAvailable()
      land("p2", "b.parquet")
      q.processAllAvailable()
      val emitted = spark.table("funnel_test").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // Each (user, stage) emits exactly once.
      assert(emitted.distinct.length == emitted.length)
      val streamedMax = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batch = graft.operators.Events
        .windowedFunnelReach(ev).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamedMax == batch.filter(_._2 >= 1),
        s"streamed reach differs from batch")
      // Stages emit densely: a user reaching k emitted 1..k.
      emitted.groupBy(_._1).foreach { case (u, rs) =>
        assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq, s"gaps for user $u")
      }
    } finally q.stop()
  }

  /** Author a two-file landing sequence where the second file carries an
    * event BELOW one user's stored frontier but within the watermark (Spark
    * delivers it — the watermark only expires state): batch A = user 1
    * view@0m + click@20m, user 2 view@10m; batch B = user 1 purchase@15m
    * (LATE: ts < user 1's 20m frontier), user 2 click@12m (in order),
    * user 3 view@18m (new user). Watermark after A is 20m − 10m = 10m, so
    * every B event is late-but-within-watermark.
    */
  private def landDisordered(): (java.nio.file.Path, Long) = {
    import spark.implicits._
    val t0 = 1700000000000000L
    val m = 60L * 1000000
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val d = SparkSpec.tempDir("ooo-stage")
      rows.toDF("event_id", "tsu", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("tsu")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.parquet(d.resolve("p").toString)
      val leaf = java.nio.file.Files.list(d.resolve("p")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(leaf, landing.resolve(name))
    }
    lazy val landing = SparkSpec.tempDir("ooo-events")
    write("a.parquet", Seq(
      (1L, t0 + 0 * m, 1L, "view", 10.0, "{}"),
      (2L, t0 + 20 * m, 1L, "click", 20.0, "{}"),
      (10L, t0 + 10 * m, 2L, "view", 5.0, "{}")))
    (landing, t0)
  }

  private def landSecond(landing: java.nio.file.Path, t0: Long): Unit = {
    import spark.implicits._
    val m = 60L * 1000000
    val d = SparkSpec.tempDir("ooo-stage2")
    Seq(
      (3L, t0 + 15 * m, 1L, "purchase", 30.0, "{}"),
      (11L, t0 + 12 * m, 2L, "click", 6.0, "{}"),
      (20L, t0 + 18 * m, 3L, "view", 7.0, "{}"))
      .toDF("event_id", "tsu", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("tsu")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(d.resolve("p").toString)
    val leaf = java.nio.file.Files.list(d.resolve("p")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(leaf, landing.resolve("b.parquet"))
  }

  test("rolling features drop events below the stored per-user frontier") {
    import spark.implicits._
    val (landing, t0) = landDisordered()
    val q = EventStreams.rollingFeaturesStream(EventStreams.readEventStream(spark, landing.toString))
      .writeStream.outputMode("append").format("memory").queryName("roll_ooo_test").start()
    try {
      q.processAllAvailable()
      landSecond(landing, t0)
      q.processAllAvailable()
      val got = spark.table("roll_ooo_test")
        .select("event_id", "prev_value", "gap_us", "roll3_sum", "roll3_n")
        .as[(Long, Option[Double], Option[Long], Double, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      // The late event (id 3) is dropped — never emitted, never retro-
      // inserted into neighbors' frames; every kept event's features are
      // the batch semantics over the KEPT set, and no gap is negative.
      assert(!got.contains(3L), "late event must be dropped")
      assert(got == Map(
        1L -> ((None, None, 10.0, 1L)),
        2L -> ((Some(10.0), Some(20L * 60 * 1000000), 30.0, 2L)),
        10L -> ((None, None, 5.0, 1L)),
        11L -> ((Some(5.0), Some(2L * 60 * 1000000), 11.0, 2L)),
        20L -> ((None, None, 7.0, 1L))))
      got.values.foreach { case (_, gap, _, _) => assert(gap.forall(_ >= 0)) }
    } finally q.stop()
  }

  test("windowed funnel drops a late event instead of chaining it backwards") {
    val (landing, t0) = landDisordered()
    val q = EventStreams.funnelStream(EventStreams.readEventStream(spark, landing.toString))
      .writeStream.outputMode("append").format("memory").queryName("funnel_ooo_test").start()
    try {
      q.processAllAvailable()
      landSecond(landing, t0)
      q.processAllAvailable()
      val emitted = spark.table("funnel_ooo_test").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(emitted.distinct.length == emitted.length)
      val maxStage = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      // User 1's purchase@15m arrives AFTER its click@20m was processed: a
      // time-travelling chain view→click@20m→purchase@15m must not count
      // (the pre-fix DP would have snapshotted current state as the late
      // tick's pre-state and granted stage 3). User 2's click@12m is in
      // order ACROSS the batch split and chains; user 3 starts fresh.
      assert(maxStage == Map(1L -> 2, 2L -> 2, 3L -> 1))
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch twin") {
    val customer = graft.sources.Tables.t(spark, sf(), "customer")
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.enriched(stream, customer)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("enrich_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_test").collect().map(_.toSeq).toSet
      val batch = Events.queries("ev_enriched")(spark, sf()).collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("a stream can start on an EMPTY landing directory and pick up late files") {
    // Production bootstrap order: checkpoint + query first, producer's
    // first file later. The schema probe cannot infer from zero files, so
    // readEventStream must fall back to the declared layout instead of
    // throwing at start.
    val d = SparkSpec.tempDir("events-empty")
    val q = EventStreams.dedupStream(EventStreams.readEventStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("empty_start_test").start()
    try {
      q.processAllAvailable()
      assert(spark.table("empty_start_test").count() == 0)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${sf()}/events.parquet"), d.resolve("late.parquet"))
      q.processAllAvailable()
      val expected = graft.operators.Relational.t(spark, sf(), "events").count()
      assert(spark.table("empty_start_test").count() == expected)
    } finally q.stop()
  }

  test("empty-dir fallback schema fails LOUDLY if a wrong-generation file lands") {
    // The empty-dir start commits to the current generation's micros-NTZ
    // layout (it cannot know which generation will arrive). If a file from
    // a different generation (ts as a raw int64 — the nanosAsLong read of
    // the nanos layout) lands later, the declared-vs-file type clash must
    // surface as a stream error, never as silently misread timestamps.
    import org.apache.spark.sql.functions.{col, lit}
    val d = SparkSpec.tempDir("events-wronggen")
    val q = EventStreams.readEventStream(spark, d.toString)
      .writeStream.outputMode("append").format("memory").queryName("wronggen_test").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wronggen_test").count() == 0)
      // A wrong-generation file: same columns, ts physically int64.
      graft.operators.Relational.t(spark, sf(), "events")
        .withColumn("ts", lit(1700000000000000000L))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(d.resolve("gen2").toString)
      val leaf = java.nio.file.Files.list(d.resolve("gen2")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(leaf, d.resolve("late.parquet"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        // If no read error surfaced, any emitted row would be a silent
        // misread — fail the test explicitly in that case.
        assert(spark.table("wronggen_test").count() == 0,
          "wrong-generation file was silently misread into rows")
        throw new IllegalStateException("no rows emitted and no error raised")
      }
      assert(err.getMessage != null)
    } finally q.stop()
  }

  test("streaming dedup drops exact duplicate events across files") {
    // Stage the same events file twice: every event arrives in duplicate.
    val d = SparkSpec.tempDir("events-dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"), d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"), d.resolve("b.parquet"))
    val q = EventStreams.dedupStream(EventStreams.readEventStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("dedup_test").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_test").count()
      val expected = graft.operators.Relational.t(spark, sf(), "events").count()
      assert(n == expected, s"streamed $n vs distinct $expected")
    } finally q.stop()
  }

  test("watermark-scoped dedup suppresses in-horizon duplicates with bounded state") {
    // Same duplicate staging as the plain-dedup test: every event's copy
    // arrives in the same micro-batch, i.e. well within the 10-minute
    // horizon of the original — exactly the retry-storm arrival pattern the
    // operator's state bound is designed around.
    val d = SparkSpec.tempDir("events-dupww")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"), d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"), d.resolve("b.parquet"))
    val q = EventStreams.dedupWithinWatermarkStream(EventStreams.readEventStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("dedup_ww_test").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_ww_test").count()
      val expected = graft.operators.Relational.t(spark, sf(), "events").count()
      assert(n == expected, s"streamed $n vs distinct $expected")
    } finally q.stop()
  }

  test("streaming dedup is exactly-once across restart (checkpointed state + file sink)") {
    import org.apache.spark.sql.streaming.Trigger
    // Run 1 processes the corpus; run 2 restarts from the checkpoint after a
    // full duplicate replay lands in the source dir. The file-sink commit log
    // plus checkpointed dedup state must yield zero new rows — the streaming
    // analogue of the batch retry-no-duplicates guarantee (FailureRecoverySpec),
    // and the bug class the reference's append-mode sinks had.
    val srcDir = SparkSpec.tempDir("ex1-src")
    val outDir = SparkSpec.tempDir("ex1-out").toString
    val ckpt = SparkSpec.tempDir("ex1-ckpt").toString
    def stage(name: String): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${sf()}/events.parquet"), srcDir.resolve(name))
      ()
    }
    def runOnce(): Unit = {
      val q = EventStreams.dedupStream(EventStreams.readEventStream(spark, srcDir.toString))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage("a.parquet")
    runOnce()
    val expected = Relational.t(spark, sf(), "events").count()
    assert(spark.read.parquet(outDir).count() == expected)
    stage("b.parquet") // full replay: every event is a duplicate
    runOnce()
    assert(spark.read.parquet(outDir).count() == expected, "restart re-emitted rows")
  }

  test("foreachBatch versioned sink is idempotent under batch replay (custom-sink exactly-once)") {
    import graft.sources.Versioned
    val srcDir = SparkSpec.tempDir("vsink-src")
    val tableDir = SparkSpec.tempDir("vsink-tbl").toString + "/t"
    val ckpt = SparkSpec.tempDir("vsink-ckpt").toString
    def stage(name: String): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${sf()}/events.parquet"), srcDir.resolve(name))
      ()
    }
    def runOnce(): Unit =
      EventStreams.writeVersioned(
        EventStreams.readEventStream(spark, srcDir.toString), tableDir, ckpt)
        .awaitTermination()

    stage("a.parquet")
    runOnce()
    val perFile = Relational.t(spark, sf(), "events").count()
    assert(Versioned.latest(tableDir).contains(0))
    assert(Versioned.read(spark, tableDir).count() == perFile)

    // Simulate the crash-replay: the checkpoint did not advance, so batch 0
    // is delivered AGAIN with the same data. The sink must skip — version 0
    // is already durable.
    EventStreams.versionedSink(tableDir)(
      Relational.t(spark, sf(), "events"), 0L)
    assert(Versioned.latest(tableDir).contains(0), "replayed batch must not commit a new version")
    assert(Versioned.read(spark, tableDir).count() == perFile, "replayed batch duplicated rows")

    // New source data after restart commits as the NEXT version.
    stage("b.parquet")
    runOnce()
    assert(Versioned.latest(tableDir).contains(1))
    assert(Versioned.read(spark, tableDir).count() == 2 * perFile)
    // and time travel still sees the pre-restart snapshot
    assert(Versioned.readVersion(spark, tableDir, 0).count() == perFile)
  }

  test("stream-stream interval join equals the batch twin") {
    val errors = EventStreams.readEventStream(spark, eventsDir)
    val clicks = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.streamingErrorClickPairs(errors, clicks)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_test").collect().map(_.toSeq).toSet
      val batch = Events.queries("ev_error_click_pairs")(spark, sf()).collect().map(_.toSeq).toSet
      assert(batch.nonEmpty, "corpus should contain error→click pairs")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("outer stream-stream join: matches emit eagerly, unmatched only after window close") {
    val errors = EventStreams.readEventStream(spark, eventsDir)
    val clicks = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.streamingErrorClickPairsOuter(errors, clicks)
      .select("error_id", "click_id", "user_id")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj_outer_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_outer_test").collect().map(_.toSeq).toSet
      val batchRows = Events.queries("ev_error_click_outer")(spark, sf()).collect()
      val batch = batchRows.map(_.toSeq).toSet

      // Everything streamed must be a batch row (no spurious emissions)...
      assert(streamed.subsetOf(batch), s"streaming emitted rows batch never produces")
      // ...every MATCHED pair emits (matches never wait on the watermark)...
      val matched = batch.filter(r => r(1).asInstanceOf[Long] != -1L)
      assert(matched.subsetOf(streamed), "matched pairs must all emit")
      // ...and unmatched emission follows the outer join's defining
      // behavior: a sentinel row appears only once the watermark passes the
      // error's join window, so the emitted/held split must be a MONOTONE
      // FRONTIER in window-close time (every emitted close < every held
      // close), the frontier must sit at or before the final watermark
      // (nothing emits early), and both sides must be non-empty on this
      // corpus (the last horizon's errors are necessarily still held). The
      // exact frontier position includes Spark's internal eviction margin,
      // so the test pins the semantics, not the implementation constant.
      import org.apache.spark.sql.functions._
      val ev = graft.operators.Relational.t(spark, sf(), "events")
      val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val wmMicros = maxTs - 10L * 60 * 1000000
      val eTs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val horizon = 5L * 60 * 1000000
      val unmatchedStreamed =
        streamed.filter(_(1).asInstanceOf[Long] == -1L).map(_(0).asInstanceOf[Long])
      val (emittedCloses, heldCloses) = batch.toSeq
        .filter(r => r(1).asInstanceOf[Long] == -1L)
        .map(r => (r(0).asInstanceOf[Long], eTs(r(0).asInstanceOf[Long]) + horizon))
        .partition { case (id, _) => unmatchedStreamed.contains(id) }
      assert(emittedCloses.nonEmpty, "no unmatched error ever emitted its sentinel row")
      assert(heldCloses.nonEmpty, "the final horizon's unmatched errors must still be held")
      assert(emittedCloses.map(_._2).max < heldCloses.map(_._2).min,
        "emitted/held must split as a monotone frontier in window-close time")
      assert(emittedCloses.map(_._2).max <= wmMicros,
        "no sentinel row may emit before the watermark passed its window")
    } finally q.stop()
  }

  test("batch sessionizers (window-function and typed) agree exactly") {
    val a = Events.queries("ev_sessions")(spark, sf()).collect().map(_.toSeq).toSet
    val b = Events.queries("ev_sessions_typed")(spark, sf()).collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
