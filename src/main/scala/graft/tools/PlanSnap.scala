package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: write each named query's `.explain("formatted")` text to
  * `<outDir>/<name>_<suffix>.txt` — the optimization-round evidence format
  * (plans/rNN/<query>_before.txt / _after.txt). Build-only: plans are
  * captured without executing the query, so a snapshot run is cheap and
  * does not disturb a concurrent measurement.
  * Usage: PlanSnap <outDir> <suffix> <sfDir> <q1,q2,...> [exec] [conf:key=value ...]
  *
  * With the trailing `exec` flag each query is RUN (noop sink) before the
  * dump, so the text carries the AQE FINAL plan (`isFinalPlan=true`) —
  * runtime rewrites like the sort-merge→shuffled-hash conversion are
  * invisible in the initial plan and need this mode for honest evidence.
  */
object PlanSnap {
  private val Usage = "usage: PlanSnap <outDir> <suffix> <sfDir> <q1,q2,...> [exec] [conf:key=value ...]"

  def main(args: Array[String]): Unit = {
    if (args.length < 4) ToolArgs.orUsage(Usage)(None)
    val (outDir, suffix, sfDir) = (args(0), args(1), args(2))
    val names = args(3).split(",").toSeq
    // Flags live strictly AFTER the four positionals (ADVICE r19: a bare
    // args.contains("exec") scanned the positionals too, so an outDir or
    // suffix literally named "exec" silently flipped execution mode).
    val flags = args.drop(4)
    val exec = flags.contains("exec")
    // Optional runtime-conf overrides (`conf:key=value` args): lets a
    // snapshot pin an A/B arm, e.g. conf:spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=0.
    val confs = ToolArgs.orUsage(Usage)(ToolArgs.prefixed(flags.filterNot(_ == "exec").toSeq, "conf:"))
    val spark = graft.EngineSession.local()
    Files.createDirectories(Paths.get(outDir))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    var failures = 0
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // collect(), not a noop write: the write wraps the plan in its OWN
        // QueryExecution, leaving df.queryExecution un-executed (and the
        // dump on the initial plan); collect() drives this one, so the dump
        // carries the AQE final plan. Gate outputs are result-sized.
        if (exec) df.collect()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"[plansnap] wrote $outDir/${name}_$suffix.txt (${txt.linesIterator.size} lines)")
      } catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    // Exit non-zero when any requested snapshot failed (ADVICE r19: a
    // silent rc=0 made an evidence-capture run that produced nothing look
    // successful to a calling script).
    if (failures > 0) {
      System.err.println(s"[plansnap] $failures/${names.size} snapshots FAILED")
      sys.exit(1)
    }
  }
}
