package graft.sources

import java.util.concurrent.{Callable, ExecutionException, FutureTask}
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session-scoped stored-structure tier (shared by the ANN indexes in
  * [[graft.operators.Similarity]], the BPE merge table in
  * [[graft.operators.BpeTrainer]], the dd_* / rt_* / LM model stores):
  * build a trained or derived structure ONCE per (structure, corpus) and
  * reuse it — the production shape, where codebooks, centroids, and
  * tokenizers are built offline once and STORED; every query (and every
  * repeat invocation in this JVM) reads the stored artifact.
  *
  * One cache holds every artifact kind — a built directory ([[path]]; the
  * stream and versioned gate tables, and [[materialize]]'s parquet frames),
  * a driver-side long ([[scalarLong]]), an executor-pinned frame
  * ([[pinned]]) and a parquet file's inferred schema ([[schema]], read by
  * [[Tables.parquet]] and [[Versioned.readVersion]]) — keyed by (kind,
  * name, dataset dir, and for pins the owning applicationId). The build
  * thunks are by-name so a cache hit constructs no training plan at all
  * (plan construction itself was the LSH planning cliff). Keyed by dataset
  * dir so scale factors never share a structure; a new process rebuilds,
  * exactly like a cold index build.
  *
  * Fingerprint contract: every entry carries the (relative path, length,
  * mtime) listing of the files under its `dir`, taken before the build. A
  * lookup whose listing differs is a miss, so a rewritten corpus rebuilds.
  * A schema's `dir` is the parquet path itself, so rewriting one table
  * re-infers that table's schema only; a versioned table's is the
  * manifest of the version read.
  *
  * Each key builds single-flight (the memoizer of Goetz et al., *Java
  * Concurrency in Practice* §5.6): the first caller to miss installs the
  * entry and runs the build on its own thread, since job groups and the
  * active session are thread-local; callers of the same key wait for that
  * build, and builds of other keys, nested or on other threads, run
  * alongside it.
  */
object Stored {
  private case class Key(kind: String, name: String, dir: String, app: String = "")

  /** One artifact's build, run once by the thread that installed it. A
    * failed build takes its entry out of the cache before its waiters wake,
    * so the next call builds again.
    */
  private final class Entry(key: Key, val fp: Set[(String, Long, Long)], val owner: Option[SparkContext],
      build: Callable[Any]) extends FutureTask[Any](build) {
    val builder: Thread = Thread.currentThread
    override protected def setException(t: Throwable): Unit = {
      cache.remove(key, this)
      super.setException(t)
    }
  }
  private val cache = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The corpus fingerprint: every file under `dir` (recursively) with its
    * length and modification time. A missing dir has the empty fingerprint.
    */
  private[graft] def fingerprint(dir: String, s: SparkSession): Set[(String, Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root).toUri
    try {
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { st =>
        (base.relativize(st.getPath.toUri).getPath, st.getLen, st.getModificationTime)
      }.toSet
    } catch { case _: java.io.FileNotFoundException => Set.empty }
  }

  /** The one lookup: a hit is an entry whose fingerprint matches the
    * corpus now; anything else installs a new entry, unless another caller
    * just installed a fresh one, and waits for the build.
    */
  private def lookup[A](key: Key, s: SparkSession, owner: Option[SparkContext] = None)(
      build: => A): A = {
    val fp = fingerprint(key.dir, s)
    val hit = cache.get(key)
    val e =
      if (hit != null && hit.fp == fp) hit
      else {
        val mine = new Entry(key, fp, owner, () => build)
        val won = cache.compute(key, (_, cur) => if (cur != null && cur.fp == fp) cur else mine)
        if (won eq mine) mine.run()
        won
      }
    if (!e.isDone && (e.builder eq Thread.currentThread))
      throw new IllegalStateException(
        s"Stored: the build of ${key.kind} '${key.name}' for ${key.dir} re-enters its own key")
    // Built (`mine` ran above) or reused: the one place to report it.
    try e.get().asInstanceOf[A]
    catch { case x: ExecutionException => throw x.getCause }
  }

  /** A stored ONE-VALUE structure (a model hyperstat like the LM vocabulary
    * size): computed once per (name, corpus) and cached on the driver, so
    * consumers fold it into their plans as a LITERAL — removing a one-row
    * scan + broadcast-join stage from every query that needs it. The value
    * thunk may itself call [[materialize]].
    */
  def scalarLong(name: String, dir: String, s: SparkSession)(v: => Long): Long =
    lookup(Key("scalar", name, dir), s)(v)

  /** A stored structure ALSO pinned in executor memory: one eagerly
    * localCheckpointed frame per (SparkContext, name, corpus), shared by
    * every consumer in the session. The bench's build/exec attribution
    * showed each consuming query paying ~1.4 s re-reading AND
    * re-checkpointing the same stored parquet at construction; a production
    * engine keeps hot model artifacts in the block manager once, not once
    * per query. Only for boundedly-small frames (signature/model tables —
    * the blocks stay resident for the context's lifetime); keyed by
    * applicationId so a new context re-pins instead of reading another
    * context's dead blocks. Entries of stopped contexts are dropped on the
    * next lookup.
    */
  def pinned(name: String, dir: String, s: SparkSession)(df: => DataFrame): DataFrame = {
    evictStopped()
    lookup(Key("pin", name, dir, s.sparkContext.applicationId), s, Some(s.sparkContext))(
      df.localCheckpoint(true))
  }

  // Evict only entries whose OWNING context has stopped (each pin keeps its
  // context ref so liveness is checked directly) — keying eviction on the
  // current applicationId would let two live contexts in one JVM thrash
  // each other's pins. A stopped context's checkpoint blocks died with its
  // block manager, so dropping the entry is the whole cleanup.
  private def evictStopped(): Unit = cache.values().removeIf(_.owner.exists(_.isStopped))

  /** [[pinned]] with a LOUD boundedness check (ADVICE r11): the pin tier is
    * only for metadata-sized frames, but some "grids" are bounded by a
    * DOMAIN assumption (e.g. values snapping to a small price grid) that a
    * different corpus can break — a near-continuous value column makes the
    * grid scale with the fact table, and a strong-referenced localCheckpoint
    * of that would hold O(|events|) blocks in executor memory for the
    * context's lifetime. Counts the frame ONCE per (name, corpus) via the
    * scalar cache; pins only under `maxRows`, otherwise warns once (inside
    * the count's build, so once per corpus fingerprint) and returns the
    * LIVE frame — consumers stay correct (they re-aggregate per query, the
    * pre-pin behavior) and the engine degrades to the shuffle-per-query
    * plan instead of an executor-memory cliff.
    *
    * The pin path DELIBERATELY executes the frame twice at first touch
    * (once for the boundedness count, once inside [[pinned]]'s eager
    * localCheckpoint). The alternative — pin first, count the checkpointed
    * blocks, evict if over — would MATERIALIZE the over-bound frame in
    * executor memory before the check can reject it, i.e. suffer exactly
    * the cliff this guard exists to prevent; and localCheckpoint blocks
    * have no public eager-eviction handle, so "evict" would really mean
    * "hold until context GC". One extra execution, once per (name, corpus)
    * per session, is the price of checking BEFORE committing memory.
    */
  def pinnedIfBounded(name: String, dir: String, s: SparkSession, maxRows: Long)(
      df: => DataFrame): DataFrame = {
    val n = scalarLong(s"$name:nrows", dir, s) {
      val rows = df.count()
      // stderr, not log4j: pin-tier misuse must be visible in any run log,
      // not filtered by logger level.
      if (rows > maxRows)
        System.err.println(
          s"[graft.Stored] NOT pinning '$name' for $dir: $rows rows exceeds the " +
            s"metadata-size bound $maxRows - the domain-boundedness assumption " +
            "does not hold on this corpus; consumers fall back to live plans")
      rows
    }
    if (n <= maxRows) pinned(name, dir, s)(df) else df
  }

  /** Whether a frame is currently pinned (test hook for the boundedness
    * fallback — proves an over-bound frame was NOT pinned).
    */
  private[graft] def isPinned(name: String, dir: String, s: SparkSession): Boolean =
    cache.containsKey(Key("pin", name, dir, s.sparkContext.applicationId))

  /** Live pinned-entry count AFTER eviction — test hook for the eviction
    * policy (StoredSpec proves stopped-context entries are dropped and live
    * ones survive).
    */
  private[sources] def livePinCount: Int = {
    evictStopped()
    cache.keySet().stream().filter(_.kind == "pin").count().toInt
  }

  /** An inferred parquet schema, once per listing of `path`: the parquet
    * file or directory itself, or the manifest naming the directories read.
    * A missing path fails in `infer` and stores nothing, so a call after
    * the file appears reads it.
    */
  private[sources] def schema(path: String, s: SparkSession)(infer: => StructType): StructType =
    lookup(Key("schema", "", path), s)(infer)

  /** A stored directory: a fresh [[graft.operators.Connectors.tmp]] path
    * that `build` fills ONCE per (name, corpus); returns the path. A
    * rebuild writes a new path, so frames read from the old one stay
    * readable; a failed build stores nothing, so the next call starts
    * from scratch in another new path. The path is removed at JVM exit.
    */
  def path(name: String, dir: String, s: SparkSession)(build: String => Unit): String =
    lookup(Key("path", name, dir), s) {
      val p = graft.operators.Connectors.tmp(name)
      build(p)
      p
    }

  /** Write a trained structure to parquet ONCE per (name, corpus) and read
    * it back. Within one build this also keeps the training dataflow
    * single-execution when two downstream consumers would otherwise each
    * re-run the whole Lloyd's chain (exchange reuse does not deduplicate
    * across an AQE plan's independent broadcasts).
    */
  def materialize(name: String, dir: String, s: SparkSession)(df: => DataFrame): DataFrame =
    Tables.parquet(s, path(name, dir, s)(df.write.mode("overwrite").parquet(_)))
}
