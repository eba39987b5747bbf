package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Queries run against the `noop` sink — unlike
  * `count()`, which lets Catalyst prune every computed column from per-row
  * queries, noop forces full evaluation of the real output while writing
  * nothing.
  *
  * Robustness against a contended run (the r01 driver bench was 4-8× slower
  * than identical-plan re-timings — sandbox contention, not code):
  *  - each query runs [[Passes]] = THREE times and the MEDIAN is reported;
  *    the passes are INTERLEAVED (all queries pass 1, then pass 2, then
  *    pass 3) so a query's samples land minutes apart — back-to-back passes
  *    shed a one-query spike but not a multi-minute contended window (the
  *    r10 cd_ / an_ cluster sat inside one), and the median drops one
  *    inflated pass whichever it is;
  *  - TWO fixed CONTROL probes are timed every [[ControlEvery]] slots and
  *    their trajectories recorded in bench_detail.json: a trivial 2-stage
  *    plan (CPU-contention signal) and a byte-light ~6-sequential-stage
  *    chain (per-stage-latency signal — the r11 lesson: multi-stage
  *    low-data queries inflated 3–5× under a flat trivial control, which a
  *    stage-count-amplifying probe would have flagged). Both spike → CPU
  *    hog; staged spikes over a flat trivial one → stage-latency window;
  *    both flat → the plans own their numbers;
  *  - a query that fails ALL passes is listed in `failed` and EXCLUDED from
  *    `queries`/`total` (a broken query must not silently look "fast", and
  *    its time-to-exception must not deflate the headline number); a query
  *    that fails one or two passes keeps the median of its surviving passes
  *    AND is listed in `flaky`, so a contention-induced failure loses
  *    neither the measurement nor the failure signal. `value` is the raw
  *    sum of the per-query figures, nothing substituted into it;
  *  - total JVM GC time over the timed region is reported as `gc_sec`, so a
  *    memory-pressure-inflated run is diagnosable from the artifact alone;
  *  - the per-run detail artifact is also copied to
  *    `bench_detail_<total-ms>.json` (VERDICT r15 #5: `bench_detail.json`
  *    is overwritten by every run, and the r14 driver's per-query detail
  *    was clobbered before anyone read it), so consecutive runs leave
  *    consecutive files;
  *  - a DURABLE one-line-per-run ledger (VERDICT r17 #2: the whole r16
  *    day's gitignored detail files were erased by one glob-rm — a
  *    gitignored file is not an archive): the compact facts of every run
  *    — total, pass count, both control medians, GC, sf — are APPENDED to
  *    the TRACKED `bench_ledger.jsonl` at the same point the detail copy is
  *    made, so the replayable history survives any cleanup of the detail
  *    files;
  *  - the stdout line's fixed overhead is MEASURED from the rendered
  *    template, not estimated, with a compact fallback that folds the
  *    failed/flaky lists into counts — the line length is bounded by
  *    [[LineBudget]] on any input (ADVICE r15; the r15 driver line
  *    overflowed the 2000-char log tail and was head-truncated into
  *    unparseability).
  */
object Bench {
  /** Slot spacing of the control probe (one control per ~20 query runs). */
  val ControlEvery = 20

  /** Interleaved timed passes over every query; each query reports the
    * median of its surviving passes.
    */
  val Passes = 3

  /** True median of an ALREADY-SORTED sample: odd size → the middle
    * element; even size → the mean of the two middle elements (a flaky
    * query with two surviving passes reports their mean).
    */
  private[graft] def medianOf(sorted: scala.collection.Seq[Double]): Double =
    if (sorted.isEmpty) 0.0
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0

  /** A JSON string literal: quotes the value and escapes `"`, `\` and
    * control characters (ADVICE r18 — an `sf` path containing a quote or
    * backslash previously produced an unparseable ledger line, and the stdout
    * line and detail file interpolated it raw).
    */
  private[graft] def jsonStr(s: String): String =
    s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    }.mkString("\"", "", "\"")

  /** Locale-stable decimal rendering (ADVICE r18): the `f` interpolator
    * formats through the default JVM locale, so under a comma-decimal
    * locale (de_DE) the emitted JSON would be invalid. Every double in the
    * ledger line goes through Locale.ROOT explicitly — the stdout/detail
    * lines are covered by the Locale.ROOT default set in [[main]].
    */
  private def rootF(fmt: String, x: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(x))

  /** One compact ledger line per bench run (VERDICT r17 #2) — the durable,
    * TRACKED record of the run's headline facts. Deliberately excludes the
    * per-query map: the ledger is the history that must survive a cleanup
    * of the (gitignored, bulky) detail files, not a second copy of them.
    * `ts` is wall-clock ISO-8601 UTC so the ledger orders runs across days
    * without relying on file mtimes; `passes` tells its `total` (per-query
    * medians of three) from the older min-of-2 lines, which lack the
    * field. `cpus` (the session's cores, `SPARK_GRAFT_CPUS`) and
    * `host_cpus` (the machine's) tell a host change from a code change.
    * Pure — BenchSpec pins the shape, the string escaping, and the locale
    * stability.
    */
  private[graft] def composeLedgerLine(
      ts: String, total: Double, ctlMed: Double, stgMed: Double,
      gcSec: Double, sf: String, cpus: Int, hostCpus: Int): String =
    s"""{"ts":${jsonStr(ts)},"total":${rootF("%.3f", total)},"passes":$Passes,"control_med":${rootF("%.3f", ctlMed)},"control_staged_med":${rootF("%.3f", stgMed)},"gc_sec":${rootF("%.1f", gcSec)},"sf":${jsonStr(sf)},"cpus":$cpus,"host_cpus":$hostCpus}"""

  /** Stdout-line length contract: the driver captures only the last ~2000
    * chars of the run log, and sbt prints its own `[success] Total time …`
    * line (~75 chars) AFTER ours, so the line must stay within this budget
    * to survive the tail intact — the r15 driver line overflowed (the old
    * ~400-char fixed-overhead ESTIMATE undershot the real prefix) and was
    * head-truncated into unparseability, which is why the fixed overhead is
    * now MEASURED from the rendered template instead of estimated
    * (ADVICE r15).
    */
  private[graft] val LineBudget = 1880
  /** Below this many chars for the kept-queries map, the line switches to
    * compact mode: the failed/flaky lists collapse to `[]` (their counts
    * survive in the always-present `failed_n`/`flaky_n` fields; the detail
    * file keeps the full lists), so the budget floor never forces an
    * overflow.
    */
  private[graft] val MinKeptBudget = 300

  /** Compose the stdout JSON line: most expensive queries first up to the
    * measured budget, the cheap remainder folded into
    * `queries_omitted`/`omitted_sec` so `value` always equals sum(kept) +
    * omitted_sec. Pure — BenchSpec pins the length bound on pathological
    * inputs and the kept-prefix/omitted-suffix arithmetic.
    *
    * @param byCost full per-query results sorted by (-seconds, name)
    */
  private[graft] def composeStdoutLine(
      total: Double,
      byCost: Seq[(String, Double)],
      nQueries: Int,
      sfDir: String,
      ctlMed: Double, ctlMax: Double, stgMed: Double, stgMax: Double,
      failed: Seq[String],
      flaky: Seq[String],
      gcSec: Double): String = {
    def jnames(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // sfDir is env-supplied and unbounded; the detail file keeps it whole.
    val sfShown = jsonStr(if (sfDir.length <= 60) sfDir else "..." + sfDir.takeRight(57))
    def render(kept: String, nOmitted: Int, omittedSec: Double, fS: String, flS: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{$kept},"queries_omitted":$nOmitted,"omitted_sec":$omittedSec%.3f,"n_queries":$nQueries,"sf":$sfShown,"passes":$Passes,"interleaved":true,"control_med":$ctlMed%.3f,"control_max":$ctlMax%.3f,"control_staged_med":$stgMed%.3f,"control_staged_max":$stgMax%.3f,"failed":$fS,"failed_n":${failed.size},"flaky":$flS,"flaky_n":${flaky.size},"gc_sec":$gcSec%.1f,"detail":"bench_detail.json"}"""
    // Fixed overhead MEASURED on the empty-kept render: with zero kept
    // entries, queries_omitted/omitted_sec take their widest values
    // (nQueries/total), so this length upper-bounds the fixed part of any
    // final render — keeping entries only shrinks those two fields.
    def fixed(fS: String, flS: String): Int = render("", nQueries, total, fS, flS).length
    val (fS, flS) =
      if (LineBudget - fixed(jnames(failed), jnames(flaky)) >= MinKeptBudget) (jnames(failed), jnames(flaky))
      else ("[]", "[]")
    val budget = LineBudget - fixed(fS, flS)
    val kept = new StringBuilder
    var nKept = 0
    var full = false
    byCost.foreach { case (k, v) =>
      val entry = (if (nKept == 0) "" else ",") + "\"" + k + f"\":$v%.3f"
      // Stop at the first entry that does not fit (rather than best-fit
      // packing smaller later entries) so the kept set is exactly a prefix
      // of the cost-sorted order and `omitted` is exactly the suffix.
      if (!full && kept.length + entry.length <= budget) { kept.append(entry); nKept += 1 }
      else full = true
    }
    val omitted = byCost.drop(nKept)
    render(kept.result(), omitted.size, omitted.map(_._2).sum, fS, flS)
  }

  def main(args: Array[String]): Unit = {
    // Locale-stable launcher default (ADVICE r18): the stdout line and the
    // detail file are built with the `f` interpolator, which formats through
    // the default JVM locale — under a comma-decimal locale (de_DE) every
    // emitted double would break the JSON. Pin ROOT before any formatting.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    // JVM/classloader warm-up outside the timed region. The range-sum alone
    // is NOT enough (r10 lesson): the session's first window, first shuffle
    // join, and first parquet scan each pay a one-time codegen/JIT bill of
    // seconds, and without exercising those operator classes here the bill
    // lands on pass 1 of whichever queries sort first alphabetically.
    spark.range(1000000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      // Through Relational.t (the Tables.t layout/normalization seam), so
      // the warm-up exercises the SAME table-resolution path as every timed
      // query — a resolution change can't silently leave the warm-up on a
      // different read path (ADVICE r11).
      val c = graft.operators.Relational.t(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val ranked = c.withColumn("rk", row_number().over(
        Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))))
      // full_outer is never broadcastable, so this warms the sort-merge
      // join path regardless of AQE's size estimates; the window above
      // warms WindowExec + Exchange + external sort.
      noop(ranked.join(
        c.groupBy("c_nationkey").agg(avg("c_acctbal").as("nation_avg")),
        Seq("c_nationkey"), "full_outer"))
    }
    // One-time write-side setup outside the timed region: the bucketed gate
    // tables are a write-once-query-many LAYOUT (the ingest shuffle is paid
    // at table build, every query is exchange-free) — timing the build
    // inside the first bk_ query would report ingest, not the plan.
    graft.sources.Bucketing.ensureGateTables(spark, sfDir)

    import scala.jdk.CollectionConverters._
    def gcMillis: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum

    // Each pass is timed in two phases: BUILD (query construction — where
    // eager state materializes: Stored-structure builds, localCheckpoint
    // tiers, CC fixpoint loops) and EXEC (the noop write of the returned
    // plan). A regression names its phase from the artifact alone — a
    // build-side jump is amortizable shared state, an exec-side jump is the
    // steady-state plan itself.
    def once(name: String, fn: (SparkSession, String) => DataFrame): Option[(Double, Double)] = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        noop(df)
        Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }

    // The control: a constant trivial plan (25-row parquet scan + one-group
    // aggregate). Its cost is dominated by scheduler/JVM/sandbox latency —
    // exactly the contention signal — not by data.
    // Both controls read nation.parquet RAW, intentionally BYPASSING the
    // Relational.t table-resolution seam the warm-up exercises: the
    // controls measure the ENVIRONMENT (scheduler/JVM/stage latency), not
    // the engine's data path, and routing them through the seam would let
    // a data-path change move the very yardstick used to detect
    // environmental shifts across rounds.
    def controlOnce(): Double = {
      val t0 = System.nanoTime()
      noop(spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")))
      (System.nanoTime() - t0) / 1e9
    }
    // The STAGED control: the same 25 rows through a chain of sequential
    // stage boundaries (repartition → window → aggregate → global sort —
    // byte-light, data-trivial, ~6 stages like the cd_* MERGE chain). The
    // r11 lesson: the trivial control stayed flat while multi-sequential-
    // stage low-data queries ran 3–5× — a PER-STAGE-LATENCY shift that a
    // 2-stage probe amplifies ~2× but a 6-stage probe ~6×. Two controls
    // make the failure modes separable from the artifact alone: both spike
    // → CPU contention; staged spikes over a flat trivial one → stage-
    // latency window (scheduler/JVM), indicting neither the plans nor the
    // data path.
    def stagedControlOnce(): Double = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
        .select(col("n_nationkey"), col("n_regionkey"))
        .repartition(4, col("n_regionkey"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
        .groupBy("n_regionkey").agg(max("rk").as("n"))
        .orderBy("n_regionkey")
      noop(n)
      (System.nanoTime() - t0) / 1e9
    }
    controlOnce() // warm both controls' plans so sample 0 isn't a JIT outlier
    stagedControlOnce()

    val gc0 = gcMillis
    val namesSorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val controls = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val stagedControls = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var slot = 0
    def passOver(): Seq[Option[(Double, Double)]] =
      namesSorted.map { case (name, fn) =>
        if (slot % ControlEvery == 0) {
          controls += ((slot, controlOnce()))
          stagedControls += ((slot, stagedControlOnce()))
        }
        slot += 1
        once(name, fn)
      }
    val passes = (1 to Passes).map(_ => passOver())
    val gcSec = (gcMillis - gc0) / 1000.0
    val runs = namesSorted.map(_._1).zip(passes.transpose).map { case (name, ts) => name -> ts.flatten }

    val results = runs.collect { case (name, ts) if ts.nonEmpty =>
      name -> medianOf(ts.map { case (b, e) => b + e }.sorted)
    }
    val failed = runs.collect { case (name, ts) if ts.isEmpty => name }
    val flaky = runs.collect { case (name, ts) if ts.nonEmpty && ts.size < Passes => name }

    def names(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum

    // Full artifact — every query time plus every surviving pass per query
    // (a contention-inflated pass, pass A ≫ pass B at an identical plan, is
    // diagnosable from the file alone instead of needing a judge re-timing).
    // This goes to a FILE: the round driver captures only the last ~2000
    // chars of the run log, and a 119-query JSON line is ~3× that — every
    // prior round's stdout line was head-truncated into unparseability.
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val passTimes = runs.collect { case (name, ts) if ts.nonEmpty =>
      "\"" + name + "\":" + ts.map { case (b, e) => f"${b + e}%.3f" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-pass (build, exec) pairs — the phase attribution behind pass_times.
    val phased = runs.collect { case (name, ts) if ts.nonEmpty =>
      "\"" + name + "\":" +
        ts.map { case (b, e) => f"[$b%.3f,$e%.3f]" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Control trajectories: [slot, seconds] per probe, slots counted across
    // all passes (slot k·n_queries = start of pass k+1). `control` is the
    // 2-stage trivial probe (CPU-contention signal); `control_staged` the
    // ~6-sequential-stage byte-light probe (per-stage-latency signal).
    val ctl = controls.map { case (i, t) => f"[$i,$t%.3f]" }.mkString("[", ",", "]")
    val ctlStaged = stagedControls.map { case (i, t) => f"[$i,$t%.3f]" }.mkString("[", ",", "]")
    val ctlSorted = controls.map(_._2).sorted
    val ctlMed = medianOf(ctlSorted)
    val ctlMax = if (ctlSorted.isEmpty) 0.0 else ctlSorted.last
    val stgSorted = stagedControls.map(_._2).sorted
    val stgMed = medianOf(stgSorted)
    val stgMax = if (stgSorted.isEmpty) 0.0 else stgSorted.last
    val detailPath = java.nio.file.Paths.get("bench_detail.json")
    java.nio.file.Files.writeString(
      detailPath,
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"pass_times":$passTimes,"pass_build_exec":$phased,"control":$ctl,"control_staged":$ctlStaged,"sf":${jsonStr(sfDir)},"passes":$Passes,"interleaved":true,"failed":${names(
          failed)},"flaky":${names(flaky)},"gc_sec":$gcSec%.1f}""")
    // Preserve this run's detail against the next run's overwrite (VERDICT
    // r15 #5: the r14 driver per-query detail was lost to a clobber before
    // anyone read it). Suffix = the run's total in milliseconds —
    // effectively unique per read, and self-describing in a directory
    // listing. Gitignored alongside bench_detail.json.
    val keepAs = java.nio.file.Paths.get(
      s"bench_detail_${math.round(total * 1000)}.json")
    java.nio.file.Files.copy(detailPath, keepAs,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    System.err.println(s"[bench] detail preserved as $keepAs")
    // Durable history (VERDICT r17 #2): append the run's compact facts to
    // the TRACKED ledger at the same point the detail copy is made. The
    // append is best-effort — a read-only checkout must not fail the bench.
    try {
      val line = composeLedgerLine(
        ts = java.time.Instant.now()
          .truncatedTo(java.time.temporal.ChronoUnit.SECONDS).toString,
        total = total, ctlMed = ctlMed, stgMed = stgMed, gcSec = gcSec, sf = sfDir,
        cpus = spark.sparkContext.defaultParallelism,
        hostCpus = Runtime.getRuntime.availableProcessors)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_ledger.jsonl"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      System.err.println("[bench] ledger line appended to bench_ledger.jsonl")
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal, not Throwable (ADVICE r18): swallowing OutOfMemoryError or
      // InterruptedException here would hide a dying JVM / clear interrupts.
      System.err.println(s"[bench] ledger append failed (non-fatal): ${e.getMessage}")
    }

    val byCost = results.sortBy { case (n, t) => (-t, n) }
    // Stdout line — must survive the driver's 2000-char log tail INTACT to
    // be machine-parseable; see composeStdoutLine for the measured budget
    // and the compact fallback.
    println(composeStdoutLine(
      total, byCost, results.size, sfDir,
      ctlMed, ctlMax, stgMed, stgMax, failed, flaky, gcSec))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
