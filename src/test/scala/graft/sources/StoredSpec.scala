package graft.sources

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The stored-structure tier's caching and eviction contracts: build thunks
  * run once per (structure, dataset dir) and again when a file under the
  * dir changes (a synthetic dir that does not exist never changes); pinned
  * frames are cached per OWNING SparkContext and evicted only when that
  * context stops (the r10 advisory fix — eviction used to key on the
  * current applicationId, which would let two live contexts thrash each
  * other's pins). Each key builds single-flight: builds of different keys
  * overlap, waiters on one key share its one build and its failure, and a
  * build that re-enters its own key fails at once. Every test that starts a
  * thread bounds its wait, so a build that serializes or deadlocks fails
  * the test instead of hanging the suite.
  */
class StoredSpec extends SparkSpec {

  /** `body` on a new daemon thread. */
  private final class Run[A](body: => A) {
    private val out = new AtomicReference[Either[Throwable, A]]()
    val thread = new Thread(() => out.set(try Right(body) catch { case e: Throwable => Left(e) }))
    thread.setDaemon(true)
    thread.start()

    /** What `body` returned or threw, waiting at most `secs` seconds. */
    def await(secs: Long): Either[Throwable, A] = {
      thread.join(secs * 1000)
      Option(out.get).getOrElse(fail(s"no result within $secs s"))
    }
  }

  test("materialize builds once per (name, dir) and round-trips the rows") {
    import spark.implicits._
    var builds = 0
    def frame = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val d1 = Stored.materialize("spec_mat", "specdir1", spark)(frame)
    val d2 = Stored.materialize("spec_mat", "specdir1", spark)(frame)
    assert(builds == 1, "second call must read the stored parquet, not rebuild")
    assert(d1.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(d2.count() == 2)
    // A different dataset dir is a different structure.
    Stored.materialize("spec_mat", "specdir2", spark)(frame)
    assert(builds == 2)
  }

  test("scalarLong computes once and folds back the cached value") {
    var evals = 0
    def v = { evals += 1; 42L }
    assert(Stored.scalarLong("spec_scalar", "specdir", spark)(v) == 42L)
    assert(Stored.scalarLong("spec_scalar", "specdir", spark)(v) == 42L)
    assert(evals == 1)
  }

  test("pinned caches one checkpointed frame per live context and keeps it across calls") {
    import spark.implicits._
    var builds = 0
    def frame = { builds += 1; Seq(1L, 2L, 3L).toDF("id") }
    val p1 = Stored.pinned("spec_pin", "specdirA", spark)(frame)
    val p2 = Stored.pinned("spec_pin", "specdirA", spark)(frame)
    assert(builds == 1, "second call must return the pinned checkpoint, not rebuild")
    assert(p1 eq p2, "both consumers must share the SAME checkpointed frame")
    assert(p2.agg(sum("id")).head().getLong(0) == 6L)
    // The entry survives unrelated pinned calls from the same live context
    // (the old applicationId-prefix eviction would also have kept it, but
    // the point pinned entries live or die on is their OWNING context).
    Stored.pinned("spec_pin_other", "specdirA", spark)(Seq(9L).toDF("id"))
    val p3 = Stored.pinned("spec_pin", "specdirA", spark)(frame)
    assert(builds == 1 && (p1 eq p3))
    assert(Stored.livePinCount >= 2)
  }

  test("pinnedIfBounded pins under the bound and falls back LIVE over it") {
    import spark.implicits._
    // Under the bound: behaves exactly like pinned (cached, counted once).
    val under = Stored.pinnedIfBounded("spec_pib_small", "specdirC", spark, 10L)(
      Seq(1L, 2L).toDF("id"))
    assert(Stored.isPinned("spec_pib_small", "specdirC", spark),
      "a frame under the bound must be pinned")
    assert(under.count() == 2)
    // Over the bound: the frame must NOT enter the pin tier — consumers get
    // the live plan (still correct) instead of an executor-memory cliff.
    var builds = 0
    def big = { builds += 1; Seq(1L, 2L, 3L, 4L).toDF("id") }
    val over = Stored.pinnedIfBounded("spec_pib_big", "specdirC", spark, 3L)(big)
    assert(!Stored.isPinned("spec_pib_big", "specdirC", spark),
      "a frame over the bound must fall back to the live plan, not pin")
    assert(over.agg(sum("id")).head().getLong(0) == 10L)
    // The boundedness COUNT itself rides the scalar cache — a second call
    // re-builds the live plan (by-name thunk) but does not re-count.
    // Exactly 3 builds: call 1 evaluates the thunk for the count AND again
    // for the returned live frame (the documented deliberate extra pass);
    // call 2 skips the count (scalar cache) and builds only its live frame.
    // A regression to a cached/pinned over-bound frame would leave this at
    // 2, and a regression that drops the count cache would push it to 4.
    Stored.pinnedIfBounded("spec_pib_big", "specdirC", spark, 3L)(big)
    assert(builds == 3, "over-bound frames stay live (rebuilt per consumer), count cached once")
    assert(Stored.scalarLong("spec_pib_big:nrows", "specdirC", spark)(99L) == 4L,
      "the row count must be cached from the first boundedness check")
  }

  test("pinned entries of a stopped context are evicted; a fresh context re-pins") {
    var builds = 0
    def frame(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      builds += 1; Seq(5L).toDF("id")
    }
    Stored.pinned("spec_pin_evict", "specdirB", spark)(frame(spark))
    assert(builds == 1)
    assert(Stored.livePinCount >= 1)
    // Stop the shared session: every pinned entry of this context must be
    // evicted on the next tier access, and the recreated context rebuilds.
    graft.SparkSpec.reset()
    assert(Stored.livePinCount == 0, "stopped-context entries must all be evicted")
    // `spark` (the suite's lazy val) now points at the stopped session —
    // take the recreated shared one, as a following suite would.
    val s2 = graft.SparkSpec.session
    val fresh = Stored.pinned("spec_pin_evict", "specdirB", s2)(frame(s2))
    assert(builds == 2, "a fresh context must re-pin, not read dead blocks")
    assert(fresh.head().getLong(0) == 5L)
  }

  test("a replaced file under a real dir rebuilds materialize, scalarLong and pinned once each") {
    // The shared session, not `spark`: the eviction test above stopped that one.
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val dir = SparkSpec.tempDir("stored-fingerprint")
    val file = dir.resolve("part.txt")
    java.nio.file.Files.writeString(file, "one")
    var mats, scalars, pins = 0
    def touchAll(): Unit = {
      Stored.materialize("spec_fp", dir.toString, spark) { mats += 1; Seq(1L).toDF("id") }
      Stored.scalarLong("spec_fp", dir.toString, spark) { scalars += 1; 7L }
      Stored.pinned("spec_fp", dir.toString, spark) { pins += 1; Seq(1L).toDF("id") }
    }
    touchAll(); touchAll()
    assert((mats, scalars, pins) == ((1, 1, 1)), "an unchanged dir reuses every kind")
    // A different length changes the fingerprint whatever the mtime resolution.
    java.nio.file.Files.delete(file)
    java.nio.file.Files.writeString(file, "two, longer")
    touchAll(); touchAll()
    assert((mats, scalars, pins) == ((2, 2, 2)), "a replaced file rebuilds each kind exactly once")
  }

  test("builds of different keys run at the same time") {
    val spark = graft.SparkSpec.session
    val started = new CountDownLatch(2)
    // 1 if the other build started while this one ran, 0 if they ran in turn.
    def build: Long = { started.countDown(); if (started.await(10, TimeUnit.SECONDS)) 1L else 0L }
    val runs = Seq("spec_overlap_a", "spec_overlap_b").map(k => new Run(Stored.scalarLong(k, "specdirO", spark)(build)))
    assert(runs.map(_.await(60)) == Seq(Right(1L), Right(1L)), "builds of different keys must not serialize")
  }

  test("a micro-batch reads an unread table while a Stored.path build awaits its stream") {
    val spark = graft.SparkSpec.session
    val root = SparkSpec.tempDir("stored-stream")
    val (table, landing) = (root.resolve("t.parquet").toString, root.resolve("landing").toString)
    spark.range(3).write.parquet(table)
    spark.range(2).write.parquet(landing)
    val read = new AtomicLong(-1)
    var query: StreamingQuery = null
    var finished = false
    try {
      Stored.path("spec_stream_gate", "specdirS", spark) { _ =>
        query = spark.readStream.schema(spark.read.parquet(landing).schema).parquet(landing).writeStream
          .foreachBatch { (_: DataFrame, _: Long) => read.set(Tables.parquet(spark, table).count()) }
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        finished = query.awaitTermination(30000)
      }
      assert(finished && query.exception.isEmpty, "the stream must finish while the build awaits it")
      assert(read.get == 3L)
    } finally if (query != null) query.stop()
  }

  test("a build that re-enters its own key fails at once, naming the key, and stores nothing") {
    val spark = graft.SparkSpec.session
    def key(v: => Long) = Stored.scalarLong("spec_reenter", "specdirR", spark)(v)
    val r = new Run(key(key(1L))).await(60)
    assert(r.left.exists(e => e.isInstanceOf[IllegalStateException] && e.getMessage.contains("spec_reenter")),
      s"expected an IllegalStateException naming the key, got $r")
    assert(key(5L) == 5L, "the failed build must leave no entry")
  }

  test("a failed build leaves no entry, and a caller waiting on it gets the same cause") {
    val spark = graft.SparkSpec.session
    val (entered, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val boom = new RuntimeException("spec build failed")
    def key(v: => Long) = Stored.scalarLong("spec_fail", "specdirF", spark)(v)
    val builder = new Run(key { entered.countDown(); release.await(30, TimeUnit.SECONDS); throw boom })
    assert(entered.await(30, TimeUnit.SECONDS))
    val waiter = new Run(key(2L))
    // Fail the build only once the waiter is parked on it (or, under a lock, blocked).
    def parked = waiter.thread.getState == Thread.State.BLOCKED ||
      waiter.thread.getStackTrace.exists(f => f.getClassName == "java.util.concurrent.FutureTask" && f.getMethodName == "get")
    val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
    while (!parked && System.nanoTime < deadline) Thread.sleep(10)
    release.countDown()
    assert(builder.await(60) == Left(boom))
    assert(waiter.await(60) == Left(boom), "the waiter must get the build's own failure, not build again")
    var rebuilt = 0
    assert(key { rebuilt += 1; 3L } == 3L && rebuilt == 1, "the next call must build again")
  }

  test("threads that miss on one key together run its build once") {
    val spark = graft.SparkSpec.session
    val (go, builds) = (new CountDownLatch(1), new AtomicInteger)
    val runs = (1 to 8).map(_ => new Run({
      go.await()
      Stored.scalarLong("spec_once", "specdirN", spark) { builds.incrementAndGet(); Thread.sleep(200); 9L }
    }))
    go.countDown()
    assert(runs.map(_.await(60)).forall(_ == Right(9L)))
    assert(builds.get == 1)
  }
}
