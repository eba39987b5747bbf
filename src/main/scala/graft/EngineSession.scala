package graft

import org.apache.spark.sql.SparkSession

/** Engine entry-point SparkSession factory — the single place that sets the
  * engine's fault-tolerance / straggler posture (SURVEY.md §2 O9).
  *
  * The reference's only graded robustness criteria are slow-worker and
  * worker-failure handling (reference `description.md:85-86`,
  * `src/master.h:19,82-84,234-256`). Spark subsumes both, but only if the
  * posture is actually configured:
  *
  *  - `spark.task.maxFailures=4` — a failed task attempt is re-run up to 4
  *    times before the job fails (≡ the master re-dispatching a failed
  *    worker's shard). Retried attempts cannot duplicate output: the
  *    MapReduce sink publishes only each partition's accepted attempt file,
  *    and the query writers' task commit protocol discards uncommitted
  *    attempt files, which fixes the reference's append-mode
  *    double-write-on-retry hazard (`src/mr_tasks.h:25,69`) by construction
  *    — asserted by `graft.core.FailureRecoverySpec`.
  *  - `spark.speculation=true` — stragglers are re-launched speculatively
  *    (≡ `master.h:234-256` backup tasks). Quantile 0.95 / multiplier 3
  *    re-launches only extreme outliers, so speculation never duplicates
  *    healthy compute-bound tasks on a saturated local box.
  *
  * Every entry point builds its session here: `Bench`, `Verify`, the
  * `tools/` mains and `examples.WordCountDemo` through `local()`, the test
  * suites through [[create]], so the tests run the configuration that ships.
  *
  * Note: local masters (`local[N]`) pin task attempts to 1 regardless of
  * `spark.task.maxFailures`; the conf is the cluster posture. Retry behavior
  * itself is tested with a `local[N, maxFailures]` master in
  * FailureRecoverySpec.
  */
object EngineSession {

  /** ONE constant behind the AQE advisory partition size AND the
    * sort-merge→shuffled-hash conversion threshold (ADVICE r19: the
    * conversion is only honored while its threshold is ≥ the advisory size,
    * so the two values were implicitly coupled — deriving both from one
    * constant makes a future advisory bump impossible to silently decouple).
    */
  val AdvisoryPartitionBytes = "64m"

  /** `local[N]` with N shuffle partitions, N from `$SPARK_GRAFT_CPUS`
    * (default: the JVM's available processors).
    */
  def local(): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))

  /** `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: String): SparkSession = create(s"local[$cpus]", cpus.toInt)

  /** The engine session on `master` with `partitions` shuffle partitions.
    * Static and context confs are fixed by the first session in a JVM; a
    * later call while that context lives only re-applies the runtime confs.
    */
  def create(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      // The engine's own Catalyst surface: graft_* SQL functions and the
      // four injected optimizer rules — TopKRewrite, MatViewReroute,
      // JoinElimination, EagerAggregation (plans/GraftExtensions).
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE sort-merge→shuffled-hash conversion (r19, optimization guide
      // §3.1): default 0 leaves the rewrite OFF even when AQE knows every
      // post-shuffle build partition is tiny. 64m matches the AQE advisory
      // partition size, so the planner swaps the per-partition sort for a
      // hash build exactly when the build side fits one advisory partition —
      // a RUNTIME decision on real sizes (never estimates), which is what
      // makes it scale-safe: an oversized build partition simply keeps its
      // sort-merge plan. Honest local verdict (OPTIMIZATION_r19.md §2):
      // exactly four gate queries' FINAL plans convert (cd_apply_changelog,
      // cd_snapshot_diff, rt_df_incremental, rt_hybrid_rrf — arm-pinned
      // executed-plan census over all 256), and the order-alternating A/B
      // over those four is a WASH at sf0.1 (−4 % to +6 %, inside noise —
      // the removed sorts are KB-scale there). Kept for the cluster
      // posture, where the per-partition sorts it removes are ~advisory-
      // sized; the whole oracle gate hash-matches with the conversion on.
      // PRECONDITION (ADVICE r19): the conversion only fires while this
      // threshold is ≥ the advisory partition size — both now derive from
      // [[AdvisoryPartitionBytes]], and the advisory size is set explicitly
      // below so a Spark default change cannot silently decouple them.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        AdvisoryPartitionBytes)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        AdvisoryPartitionBytes)
      // Always use the SORT-BASED shuffle writer, never the bypass-merge
      // one (r20, optimization guide §2.2 — the M×R small-block problem at
      // its file-system root). The bypass writer opens R partition files
      // PER MAP TASK and then concatenates them, so every exchange pays
      // M×R file creates/opens/closes; with 32-way maps × 32-way reduces
      // that is ~1024 file round-trips per exchange, and this engine's
      // query shapes are many sequential byte-light exchanges — measured
      // (r20, two-JVM×two-arm alternating A/B, warm): rt_prf_expansion
      // 3.04→1.66 s, ss_bfs_hops 1.87→1.24, ev_rfm 1.94→1.17,
      // dd_incremental 3.28→1.72 (−34..−48 %). The sort writer inserts
      // rows into one in-memory buffer and writes ONE file + index per map
      // task regardless of R. Scale-NEUTRAL by construction: the bypass
      // path only ever fires when R ≤ 200 and there is no map-side
      // combine, so a 100 TB shuffle (R ≫ 200) already runs the sort
      // writer — threshold 0 makes the local bench exercise the exact
      // writer the cluster posture uses instead of a small-R special case.
      // Shuffle OUTPUT is identical (same partitioning; rows within a
      // partition keep arrival order under the stable partition-id sort),
      // so plans and results are untouched — the full oracle gate
      // hash-matches with the sort writer (r20 verification).
      // A hybrid threshold (bypass for tiny R only, e.g. 16) was A/B'd and
      // is WORSE: the bypass path's final concat re-copies every byte, so
      // it loses even at R=8 once the shuffle carries real data
      // (mt_compact_roundtrip warm 3.4–3.8 s under threshold 16 vs
      // 1.1–1.6 s under 0, both arms twice, r20).
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // InferFiltersFromGenerate turns every explode(f(text)) into an
      // inferred `size(f(text)) > 0 AND f(text) IS NOT NULL` filter that
      // pushdown then moves BELOW the parallelizing exchange — so the
      // expensive array expression (tokenization, shingling) is evaluated
      // an extra time per row inside the narrow scan task (profiled: a 2 s
      // single-task stage in cl_nb_model's tokenize filter). The explode
      // operator already skips empty/null arrays natively, and this
      // engine's generators are all computed arrays over non-null corpus
      // columns, so the inferred filter prunes nothing it would not prune
      // anyway — excluding the rule removes the duplicated evaluation with
      // no semantic change (the whole oracle gate hash-matches without it).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // The generated-class cache (whole-stage codegen + expression
      // compilers) defaults to 100 entries — sized for a handful of hot
      // plans, not a resident engine serving this library's 250-query
      // surface: at default size every query's generated classes are
      // evicted before it runs again, so each re-invocation pays Janino
      // compilation AND a fresh C2 JIT of brand-new classes (measured
      // +0.3–0.7 s per mid-tier query once runs stop being back-to-back).
      // A long-lived analytics JVM keeps its compiled plans; entries are
      // source-keyed and tens of KB, so 5000 is tens of MB. Static conf —
      // must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // That cache is keyed by class loader as well as source, and a session
      // with isolated artifacts gets its own executor class loader. Every
      // MapReduceJob runs on a new session (per-job split size), so with
      // isolation on each job recompiled all its generated classes on the
      // executors (perfbench wordcount, 4 vCPUs: warm_cpu_s 1.1 → 1.6 s).
      // The engine adds no per-session jars or files, so sessions share one
      // loader.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The events table has shipped with parquet TIMESTAMP(NANOS) `ts`,
      // which Spark's reader otherwise rejects (PARQUET_TYPE_ILLEGAL); the
      // legacy flag reads it as an epoch-nanos long that Tables.normalizeTs
      // turns back into a timestamp. It changes only nanosecond timestamp
      // columns, and fixing it for the whole engine keeps a table's inferred
      // schema a function of its files alone (the Stored schema cache key).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.task.maxFailures", "4")
      .config("spark.speculation", "true")
      .config("spark.speculation.quantile", "0.95")
      .config("spark.speculation.multiplier", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
