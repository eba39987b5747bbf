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
  *  - each query runs TWICE and the MIN is reported; the passes are
  *    INTERLEAVED (all queries pass 1, then all queries pass 2) so a
  *    query's two samples land minutes apart — back-to-back passes shed a
  *    one-query spike but not a multi-minute contended window (the r10
  *    cd_ / an_ cluster sat inside one with BOTH passes inflated);
  *  - TWO fixed CONTROL probes are timed every [[ControlEvery]] slots and
  *    their trajectories recorded in bench_detail.json: a trivial 2-stage
  *    plan (CPU-contention signal) and a byte-light ~6-sequential-stage
  *    chain (per-stage-latency signal — the r11 lesson: multi-stage
  *    low-data queries inflated 3–5× under a flat trivial control, which a
  *    stage-count-amplifying probe would have flagged). Both spike → CPU
  *    hog; staged spikes over a flat trivial one → stage-latency window;
  *    both flat → the plans own their numbers;
  *  - a query that fails BOTH passes is listed in `failed` and EXCLUDED from
  *    `queries`/`total` (a broken query must not silently look "fast", and
  *    its time-to-exception must not deflate the headline number); a query
  *    that fails exactly one pass keeps its surviving pass's time AND is
  *    listed in `flaky`, so a contention-induced failure loses neither the
  *    measurement nor the failure signal;
  *  - total JVM GC time over the timed region is reported as `gc_sec`, so a
  *    memory-pressure-inflated run is diagnosable from the artifact alone;
  *  - SELF-HEALING against contended windows (VERDICT r14 #1 — window noise
  *    was the dominant judging cost for three rounds: r13's driver total
  *    +11 % on an unchanged tree, r14's dd_containment +43 % over its probe
  *    floor with both control maxes spiking at the same sample): after both
  *    passes, any query whose min trips BOTH gates — above [[RereadFactor]]×
  *    its recorded quiet-JVM median (checked in as `quiet_medians.json`)
  *    AND above the median by [[RereadSlackSec]] — is re-run ONCE at the
  *    end of the run — minutes
  *    after its inflated samples, when a transient window has passed. The
  *    first read stays in `queries`/`value` (honesty: the run measured what
  *    it measured); the re-read goes to `reread` and the substituted total
  *    to `value_adjudicated`, so an inflated read adjudicates itself from
  *    the artifact alone instead of consuming a judging round. No medians
  *    file → no re-reads (the harness degrades to the r14 behavior);
  *  - a STALE-REFERENCE guard (VERDICT r15 #4, outcome conjunct VERDICT
  *    r16 #1): many queries tripping the re-read gate while both control
  *    medians sit flat against their quiet-era references
  *    (`_control_med`/`_control_staged_med` in the medians file) — or the
  *    re-read cap saturating — indicts the reference file ONLY when a
  *    majority of the completed re-reads REPRODUCE the excess; when most
  *    adjudicate down the reference is demonstrably current and the run is
  *    a sub-threshold contended window (the r16 driver read: 11 tripped
  *    under just-flat controls, 9/11 re-reads down); when NO re-read
  *    completed there is no adjudication evidence either way and the
  *    verdict hedges (`indeterminate`, ADVICE r17). The verdict is a
  *    machine-readable `guard` code (`none`/`stale`/`contended`/
  *    `saturated-stale`/`indeterminate`) recorded with the uncapped `tripped_n` in both
  *    the stdout line and bench_detail.json (VERDICT r16 #4), plus a
  *    one-line stderr diagnosis;
  *  - the per-run detail artifact is also copied to
  *    `bench_detail_<total-ms>.json` (VERDICT r15 #5: `bench_detail.json`
  *    is overwritten by every run, and the r14 driver's per-query detail
  *    was clobbered before anyone read it), so consecutive runs leave
  *    consecutive files;
  *  - a DURABLE one-line-per-run ledger (VERDICT r17 #2: the whole r16
  *    day's gitignored detail files were erased by one glob-rm — a
  *    gitignored file is not an archive): the compact facts of every run
  *    — total, adjudicated total, both control medians, trip/re-read
  *    counts, guard code, GC, sf — are APPENDED to the TRACKED
  *    `bench_ledger.jsonl` at the same point the detail copy is made, so
  *    the replayable history survives any cleanup of the detail files;
  *  - the stdout line's fixed overhead is MEASURED from the rendered
  *    template, not estimated, with a compact fallback that folds the
  *    reread/failed/flaky structures into counts — the line length is
  *    bounded by [[LineBudget]] on any input (ADVICE r15; the r15 driver
  *    line overflowed the 2000-char log tail and was head-truncated into
  *    unparseability).
  */
object Bench {
  /** Slot spacing of the control probe (one control per ~20 query runs). */
  val ControlEvery = 20

  /** Re-read trigger: first-read min > RereadFactor × quiet median ... */
  val RereadFactor = 1.5
  /** ... AND the absolute excess over the median is at least this many
    * seconds — 1.5× of a 0.1 s query is scheduler noise, not a window; the
    * expensive tail the re-read exists for clears this easily.
    */
  val RereadSlackSec = 0.25
  /** Cap on re-reads per run: a fully contended run must not double its own
    * wall clock chasing every query; the cap keeps the adjudication pass
    * focused on the worst offenders (sorted by absolute excess).
    */
  val MaxRereads = 24

  /** Quiet-JVM reference file text (flat JSON at the repo root, provenance
    * in its `_provenance` key and README "Performance measurement notes").
    * Read leniently — absent or unreadable file means empty text, never a
    * failed bench.
    */
  private def quietMediansText(): String =
    try {
      val p = java.nio.file.Paths.get("quiet_medians.json")
      if (!java.nio.file.Files.exists(p)) ""
      else java.nio.file.Files.readString(p)
    } catch { case _: Throwable => "" }

  /** One `"name": seconds` entry per line, ANCHORED at line start and end —
    * the file is written by make_quiet_medians.py with indent=0 (each entry
    * alone on its own column-0 line), and anchoring means a number embedded
    * inside a STRING value (e.g. a caller-supplied `_provenance` label
    * containing an escaped quoted name) can never inject a bogus median
    * (ADVICE r15).
    */
  private val MedianEntry =
    """(?m)^"([^"]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)\s*,?\s*$""".r

  /** Flat `{"name": seconds, …}` parse; meta keys (the `_provenance` note,
    * the `_control_*` references) are skipped by the underscore prefix.
    * Separated from the file read for BenchSpec.
    */
  private[graft] def parseQuietMedians(text: String): Map[String, Double] =
    MedianEntry.findAllMatchIn(text)
      .filterNot(_.group(1).startsWith("_"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** A single underscore-prefixed numeric meta entry (the quiet-era control
    * references `_control_med` / `_control_staged_med`), absent when the
    * file predates them.
    */
  private[graft] def parseMetaMedian(text: String, key: String): Option[Double] =
    MedianEntry.findAllMatchIn(text)
      .find(_.group(1) == key).map(_.group(2).toDouble)

  /** Every query whose first read trips BOTH re-read gates ([[RereadFactor]]×
    * the quiet median AND [[RereadSlackSec]] absolute excess), worst absolute
    * excess first, UNCAPPED — the size of this set is the stale-reference
    * signal ([[guardVerdict]]), independent of how many re-reads the run
    * actually pays for.
    */
  private[graft] def rereadCandidates(
      results: Seq[(String, Double)],
      medians: Map[String, Double]): Seq[String] =
    results
      .collect { case (name, t) if medians.get(name).exists(m =>
        t > RereadFactor * m && t - m > RereadSlackSec) => (name, t - medians(name)) }
      .sortBy { case (name, excess) => (-excess, name) }
      .map(_._1)

  /** The adjudication-pass selection: [[rereadCandidates]] capped at
    * [[MaxRereads]]. Pure — BenchSpec pins the trigger, the ordering, and
    * the cap.
    */
  private[graft] def rereadSelection(
      results: Seq[(String, Double)],
      medians: Map[String, Double]): Seq[String] =
    rereadCandidates(results, medians).take(MaxRereads)

  /** Stale-reference guard (VERDICT r15 #4 + ADVICE r15): a run where MANY
    * queries trip the re-read gate while BOTH control medians sit flat
    * against their quiet-era references is not "many contended windows" —
    * flat controls say the environment is quiet, so broad-based excess over
    * the medians means the MEDIANS have drifted out of era (the r15 dd-tier
    * floor lesson applied to the reference file itself).
    */
  private[graft] val StaleTripThreshold = 8
  /** "Flat" for the guard: a control median within this factor of its
    * quiet-era reference (quiet runs land within a few percent; genuinely
    * contended windows run 1.5–3×). Both sides of the comparison compute
    * the SAME statistic since r18 (ADVICE r17): [[medianOf]] averages the
    * two middle samples on even counts, exactly like the
    * `statistics.median` call that builds `_control_med`/
    * `_control_staged_med` in make_quiet_medians.py — the old upper-middle
    * convention biased run medians slightly high against the reference.
    *
    * Transient, r18 until the next medians refresh (ADVICE r18): the
    * COMMITTED `_control_med`/`_control_staged_med` (0.108/0.157) were
    * built with the pre-r18 upper-middle per-run convention, so they sit a
    * hair high against today's true-median run statistics — the comparison
    * is slightly LENIENT (a marginally elevated window can still grade
    * flat). Leniency here only widens the `contended`/`none` side; it can
    * never manufacture a false `stale`, which additionally requires a
    * majority of re-reads to reproduce the excess. Self-heals at the next
    * refresh: make_quiet_medians.py emits true-median references since r18.
    */
  private[graft] val ControlFlatFactor = 1.3

  /** True median of an ALREADY-SORTED sample: odd size → the middle
    * element; even size → the mean of the two middle elements. Matches
    * Python's `statistics.median` (the convention of the quiet-era control
    * references this value is compared against — see [[ControlFlatFactor]]).
    */
  private[graft] def medianOf(sorted: scala.collection.Seq[Double]): Double =
    if (sorted.isEmpty) 0.0
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0

  /** How many completed re-reads REPRODUCED the excess — i.e. the re-read
    * value itself still trips both re-read gates against the quiet median.
    * This is the decisive stale-vs-contended evidence (VERDICT r16 #1): a
    * stale reference makes re-reads reproduce the excess (the medians are
    * unreachable on this tree), while a contended window makes them
    * adjudicate back down to ≈ their medians.
    */
  private[graft] def rereadReproducedCount(
      reread: Map[String, Double], medians: Map[String, Double]): Int =
    reread.count { case (name, t) => medians.get(name).exists(m =>
      t > RereadFactor * m && t - m > RereadSlackSec) }

  /** The guard verdict: a machine-readable code — `none` / `stale` /
    * `contended` / `saturated-stale` / `indeterminate` — recorded in the stdout line and
    * bench_detail.json (VERDICT r16 #4), plus the stderr message when there
    * is one. Pure — BenchSpec pins every branch, including the r16 driver
    * run's real numbers as a test vector.
    *
    * The stale diagnosis requires BOTH conjuncts (VERDICT r16 #1 — the r16
    * driver run exposed the flat-controls trigger alone misclassifying the
    * mild-contention class: 11 tripped under just-flat controls 0.120/0.189,
    * but 9/11 re-reads adjudicated DOWN, proof the reference was current):
    *   1. broad trips while both control medians are flat vs their quiet-era
    *      references, AND
    *   2. a MAJORITY of completed re-reads reproduce the excess.
    * Broad flat-controls trips whose re-reads mostly adjudicate down are a
    * sub-threshold contended window (`contended`), not a stale reference.
    * Broad flat-controls trips with ZERO completed re-reads (every re-read
    * threw — pathological) carry NO adjudication evidence in either
    * direction, so the verdict is `indeterminate` rather than a claim the
    * reference is current (ADVICE r17: the old message asserted
    * "the reference is current" on 0/0 evidence).
    */
  private[graft] def guardVerdict(
      tripped: Int, rereadCount: Int, rereadReproduced: Int,
      ctlMed: Double, stgMed: Double,
      refCtl: Option[Double], refStg: Option[Double]): (String, Option[String]) = {
    val controlsFlat = (refCtl, refStg) match {
      case (Some(c), Some(s)) =>
        ctlMed <= ControlFlatFactor * c && stgMed <= ControlFlatFactor * s
      case _ => false
    }
    val controlsElevated = (refCtl, refStg) match {
      case (Some(c), Some(s)) =>
        ctlMed > ControlFlatFactor * c || stgMed > ControlFlatFactor * s
      case _ => false
    }
    // Strict majority of COMPLETED re-reads; with zero completed re-reads
    // (every re-read threw — pathological, the failures carry their own
    // signal) there is no adjudication evidence and the broad-flat branch
    // hedges to `indeterminate` instead of claiming the reference current.
    val staleSupported = rereadCount > 0 && 2 * rereadReproduced > rereadCount
    val rereadsDown = rereadCount - rereadReproduced
    if (tripped >= StaleTripThreshold && controlsFlat) {
      if (rereadCount == 0)
        ("indeterminate",
          Some(f"[bench] $tripped%d queries tripped the reread gate under flat control medians " +
            f"(trivial $ctlMed%.3f, staged $stgMed%.3f) but NO re-read completed (every re-read threw) — " +
            "no adjudication evidence either way: a stale reference cannot be distinguished from a " +
            "sub-threshold contended window; fix the re-read failures (see stderr above) and re-run " +
            "before trusting this read or refreshing quiet_medians.json"))
      else if (staleSupported)
        ("stale",
          Some(f"[bench] $tripped%d queries tripped the reread gate under FLAT control medians " +
            f"(trivial $ctlMed%.3f vs quiet ${refCtl.get}%.3f, staged $stgMed%.3f vs ${refStg.get}%.3f) " +
            f"and $rereadReproduced%d/$rereadCount%d re-reads REPRODUCED the excess — the medians are " +
            "unreachable on this tree: quiet_medians.json is stale for this era; refresh it " +
            "(scripts/make_quiet_medians.py over >=3 quiet runs with flat controls)"))
      else
        ("contended",
          Some(f"[bench] $tripped%d queries tripped the reread gate under flat control medians " +
            f"(trivial $ctlMed%.3f, staged $stgMed%.3f) but $rereadsDown%d/$rereadCount%d re-reads " +
            "adjudicated DOWN to ~ their quiet medians — the reference is current and this is a " +
            "sub-threshold contended window; trust value_adjudicated, do not refresh quiet_medians.json"))
    } else if (rereadCount >= MaxRereads && controlsElevated)
      // Saturation under ELEVATED controls: a heavily contended run
      // (observed live in r16: 194.6 s, controls 0.136/0.200, 50 tripped) —
      // the reference is not implicated; the adjudicated total and the
      // re-read trajectory carry the signal.
      ("contended",
        Some(f"[bench] adjudication pass SATURATED ($rereadCount%d re-reads = MaxRereads cap, $tripped%d tripped) " +
          f"under ELEVATED control medians (trivial $ctlMed%.3f vs quiet ${refCtl.get}%.3f, staged $stgMed%.3f " +
          f"vs ${refStg.get}%.3f) — a heavily contended run, not a stale reference; trust value_adjudicated " +
          "and the control trajectories, do not chase per-query numbers"))
    else if (rereadCount >= MaxRereads) {
      // Refs absent (with refs present, flat/elevated are complements and
      // saturation implies tripped >= threshold, so the branches above
      // apply). Without control references the controls cannot grade the
      // window (ADVICE r16 #3), so the re-read outcomes decide — hedged,
      // because sustained contention spanning the re-read pass cannot be
      // fully excluded without the references.
      if (staleSupported)
        ("saturated-stale",
          Some(s"[bench] adjudication pass SATURATED ($rereadCount re-reads = MaxRereads cap, $tripped tripped) " +
            s"and $rereadReproduced/$rereadCount re-reads REPRODUCED the excess — likely a stale quiet-median " +
            "reference (refresh quiet_medians.json), though with no _control_med/_control_staged_med references " +
            "heavy sustained contention cannot be excluded; check the control trajectories in bench_detail.json"))
      else
        ("contended",
          Some(s"[bench] adjudication pass SATURATED ($rereadCount re-reads = MaxRereads cap, $tripped tripped) " +
            s"but $rereadsDown/$rereadCount re-reads adjudicated DOWN — a contended run, not a stale reference; " +
            "no _control_med/_control_staged_med references in quiet_medians.json, so confirm via the control " +
            "trajectories in bench_detail.json; trust value_adjudicated"))
    } else ("none", None)
  }

  /** A JSON string literal: quotes the value and escapes `"`, `\` and
    * control characters (ADVICE r18 — an `sf` path containing a quote or
    * backslash previously produced an unparseable ledger line; `ts` and
    * `guard` are safe by construction but go through the same door).
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
    * without relying on file mtimes. Pure — BenchSpec pins the shape,
    * the string escaping, and the locale stability.
    */
  private[graft] def composeLedgerLine(
      ts: String, total: Double, adjudicated: Double,
      ctlMed: Double, stgMed: Double,
      tripped: Int, rereadN: Int, guard: String,
      gcSec: Double, sf: String): String =
    s"""{"ts":${jsonStr(ts)},"total":${rootF("%.3f", total)},"value_adjudicated":${rootF("%.3f", adjudicated)},"control_med":${rootF("%.3f", ctlMed)},"control_staged_med":${rootF("%.3f", stgMed)},"tripped_n":$tripped,"reread_n":$rereadN,"guard":${jsonStr(guard)},"gc_sec":${rootF("%.1f", gcSec)},"sf":${jsonStr(sf)}}"""

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
    * compact mode: the reread map and failed/flaky lists collapse to
    * `{}`/`[]` (their counts survive in the always-present
    * `reread_n`/`failed_n`/`flaky_n` fields; the detail file keeps the full
    * structures), so the budget floor never forces an overflow.
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
      reread: Map[String, Double],
      rereadRef: Int,
      tripped: Int,
      guard: String,
      adjudicated: Double,
      gcRereadSec: Double,
      failed: Seq[String],
      flaky: Seq[String],
      gcSec: Double): String = {
    def jnames(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // sfDir is env-supplied and unbounded; the detail file keeps it whole.
    val sfShown = if (sfDir.length <= 60) sfDir else "..." + sfDir.takeRight(57)
    def render(kept: String, nOmitted: Int, omittedSec: Double,
               rrS: String, fS: String, flS: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{$kept},"queries_omitted":$nOmitted,"omitted_sec":$omittedSec%.3f,"n_queries":$nQueries,"sf":"$sfShown","passes":2,"interleaved":true,"control_med":$ctlMed%.3f,"control_max":$ctlMax%.3f,"control_staged_med":$stgMed%.3f,"control_staged_max":$stgMax%.3f,"reread":$rrS,"reread_n":${reread.size},"reread_ref":$rereadRef,"tripped_n":$tripped,"guard":"$guard","value_adjudicated":$adjudicated%.3f,"gc_reread_sec":$gcRereadSec%.1f,"failed":$fS,"failed_n":${failed.size},"flaky":$flS,"flaky_n":${flaky.size},"gc_sec":$gcSec%.1f,"detail":"bench_detail.json"}"""
    val rrFull = reread.toSeq.sorted
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // Fixed overhead MEASURED on the empty-kept render: with zero kept
    // entries, queries_omitted/omitted_sec take their widest values
    // (nQueries/total), so this length upper-bounds the fixed part of any
    // final render — keeping entries only shrinks those two fields.
    def fixed(rrS: String, fS: String, flS: String): Int =
      render("", nQueries, total, rrS, fS, flS).length
    val (rrS, fS, flS) =
      if (LineBudget - fixed(rrFull, jnames(failed), jnames(flaky)) >= MinKeptBudget)
        (rrFull, jnames(failed), jnames(flaky))
      else ("{}", "[]", "[]")
    val budget = LineBudget - fixed(rrS, fS, flS)
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
    render(kept.result(), omitted.size, omitted.map(_._2).sum, rrS, fS, flS)
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
    val pass1 = passOver()
    val pass2 = passOver()
    val gcSec = (gcMillis - gc0) / 1000.0
    val runs = namesSorted.zip(pass1).zip(pass2).map { case (((name, _), a), b) =>
      name -> Seq(a, b).flatten
    }

    val results = runs.collect { case (name, ts) if ts.nonEmpty =>
      name -> ts.map { case (b, e) => b + e }.min
    }
    val failed = runs.collect { case (name, ts) if ts.isEmpty => name }
    val flaky = runs.collect { case (name, ts) if ts.size == 1 => name }

    // The adjudication pass (see the header): re-read the worst
    // quiet-median outliers once, minutes after their inflated samples,
    // controls still sampled on the same cadence so the re-read window's
    // environment is itself diagnosable from the trajectories.
    val fnByName = namesSorted.toMap
    // `reread_ref` (the loaded median count) distinguishes "nothing tripped
    // the gate" from "the harness was OFF" (missing/malformed medians file,
    // or a wrong CWD) — an empty reread map alone cannot tell them apart.
    val medText = quietMediansText()
    val medians = parseQuietMedians(medText)
    val gcReread0 = gcMillis
    val reread = rereadSelection(results, medians).flatMap { name =>
      // A control pair per re-read (not per ControlEvery): the re-reads ARE
      // the adjudication evidence, so their window must be densely
      // diagnosable — a GC- or contention-inflated re-read that reproduces
      // the elevated first read must be attributable from the artifact
      // before it triggers a probe round. ~0.25 s per pair against ≥0.7 s
      // re-reads.
      controls += ((slot, controlOnce()))
      stagedControls += ((slot, stagedControlOnce()))
      slot += 1
      once(name, fnByName(name)).map { case (b, e) => name -> (b + e) }
    }.toMap
    val gcRereadSec = (gcMillis - gcReread0) / 1000.0
    // First reads stay authoritative in `queries`/`value`; the adjudicated
    // total substitutes the re-read where it is FASTER (a re-read that
    // reproduces the elevated number confirms the first read instead).
    val adjudicated = results.map { case (name, t) =>
      math.min(t, reread.getOrElse(name, t))
    }.sum

    def names(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum

    // Full artifact — every query time plus every surviving pass per query
    // (a contention-inflated pass, pass A ≫ pass B at an identical plan, is
    // diagnosable from the file alone instead of needing a judge re-timing).
    // This goes to a FILE: the round driver captures only the last ~2000
    // chars of the run log, and a 119-query JSON line is ~3× that — every
    // prior round's stdout line was head-truncated into unparseability.
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val passes = runs.collect { case (name, ts) if ts.nonEmpty =>
      "\"" + name + "\":" + ts.map { case (b, e) => f"${b + e}%.3f" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-pass (build, exec) pairs — the phase attribution behind pass_times.
    val phased = runs.collect { case (name, ts) if ts.nonEmpty =>
      "\"" + name + "\":" +
        ts.map { case (b, e) => f"[$b%.3f,$e%.3f]" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Control trajectories: [slot, seconds] per probe, slots counted across
    // both passes (slot n_queries = start of pass 2). `control` is the
    // 2-stage trivial probe (CPU-contention signal); `control_staged` the
    // ~6-sequential-stage byte-light probe (per-stage-latency signal).
    val ctl = controls.map { case (i, t) => f"[$i,$t%.3f]" }.mkString("[", ",", "]")
    val ctlStaged = stagedControls.map { case (i, t) => f"[$i,$t%.3f]" }.mkString("[", ",", "]")
    val rr = reread.toSeq.sorted
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val ctlSorted = controls.map(_._2).sorted
    val ctlMed = medianOf(ctlSorted)
    val ctlMax = if (ctlSorted.isEmpty) 0.0 else ctlSorted.last
    val stgSorted = stagedControls.map(_._2).sorted
    val stgMed = medianOf(stgSorted)
    val stgMax = if (stgSorted.isEmpty) 0.0 else stgSorted.last
    // Guard verdict (VERDICT r16 #1/#4): the trip count is the UNCAPPED
    // candidate set (the stale signal must not be masked by the re-read
    // cap), and the stale-vs-contended call reads the re-read OUTCOMES —
    // both recorded in the artifacts so the diagnosis needs no recompute.
    val trippedN = rereadCandidates(results, medians).size
    val (guard, guardNote) = guardVerdict(
      tripped = trippedN, rereadCount = reread.size,
      rereadReproduced = rereadReproducedCount(reread, medians),
      ctlMed = ctlMed, stgMed = stgMed,
      refCtl = parseMetaMedian(medText, "_control_med"),
      refStg = parseMetaMedian(medText, "_control_staged_med"))
    val detailPath = java.nio.file.Paths.get("bench_detail.json")
    java.nio.file.Files.writeString(
      detailPath,
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"pass_times":$passes,"pass_build_exec":$phased,"control":$ctl,"control_staged":$ctlStaged,"reread":$rr,"reread_ref":${medians.size},"tripped_n":$trippedN,"guard":"$guard","value_adjudicated":$adjudicated%.3f,"gc_reread_sec":$gcRereadSec%.1f,"sf":"$sfDir","passes":2,"interleaved":true,"failed":${names(
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
        total = total, adjudicated = adjudicated,
        ctlMed = ctlMed, stgMed = stgMed,
        tripped = trippedN, rereadN = reread.size, guard = guard,
        gcSec = gcSec, sf = sfDir)
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
    // Guard message on stderr, BEFORE the stdout line so the tail keeps the
    // machine-parseable line last; the code itself rides in both artifacts.
    guardNote.foreach(System.err.println)
    // Stdout line — must survive the driver's 2000-char log tail INTACT to
    // be machine-parseable; see composeStdoutLine for the measured budget
    // and the compact fallback.
    println(composeStdoutLine(
      total, byCost, results.size, sfDir,
      ctlMed, ctlMax, stgMed, stgMax,
      reread, medians.size, trippedN, guard, adjudicated, gcRereadSec,
      failed, flaky, gcSec))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
