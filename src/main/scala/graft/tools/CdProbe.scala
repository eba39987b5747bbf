package graft.tools

import graft.operators.{Changes, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev probe: one-variable attribution of the cd_* pair's cost — (a) the
  * spreadKeys pin on/off, (b) the md5 changelog derivation in isolation,
  * (c) the output orderBy on/off. Run in a QUIET JVM; numbers recorded in
  * README "Performance measurement notes" (r12).
  *
  * The variants are the production builders themselves
  * ([[Changes.scd2History]] / [[Changes.applyLatest]]) with the knobs
  * exposed as parameters — NOT inline restatements — so a plan change in
  * Changes.scala flows into the probe automatically (ADVICE r12 closed the
  * drift hazard structurally). CdProbeSpec pins the other direction: the
  * `*_full` variants must stay plan-identical to `Changes.queries`.
  */
object CdProbe {

  /** The probe variants over corpus `dir` — shared by [[main]] and
    * CdProbeSpec's probe-vs-production plan-equality assertions.
    */
  private[graft] def variants(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    def log() = Changes.changelog(Relational.t(s, dir, "orders"))
    def base() = Relational.t(s, dir, "customer")
    Seq(
      "changelog_only" -> (() => log()),
      "scd2_full" -> (() => Changes.scd2History(log(), pin = true, sort = true)),
      "scd2_nopin" -> (() => Changes.scd2History(log(), pin = false, sort = true)),
      "scd2_nosort" -> (() => Changes.scd2History(log(), pin = true, sort = false)),
      "apply_full" -> (() => Changes.applyLatest(base(), log(), pin = true, sort = true)),
      "apply_nopin" -> (() => Changes.applyLatest(base(), log(), pin = false, sort = true)),
      "apply_nosort" -> (() => Changes.applyLatest(base(), log(), pin = true, sort = false)),
    )
  }

  def main(args: Array[String]): Unit = {
    // The corpus dir is REQUIRED (ADVICE r14 on TailProbe, applied to every
    // probe main): a machine-specific default silently probed the wrong (or
    // a missing) tree on any other checkout.
    if (args.isEmpty) {
      System.err.println("usage: CdProbe <corpusDir>   (e.g. CdProbe /root/testdata/sf0.1)")
      sys.exit(2)
    }
    val dir = args(0)
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    // Era yardsticks (shared across probe mains — see Yardsticks).
    Yardsticks.record("cdprobe", dir, Seq("orders", "customer"))

    val vs = variants(s, dir)
    // Warm every variant once (JIT/codegen), then 3 timed passes each.
    vs.foreach { case (_, f) => noop(f()) }
    (1 to 3).foreach { p =>
      vs.foreach { case (n, f) =>
        val t0 = System.nanoTime()
        noop(f())
        println(f"[cdprobe] pass$p $n%-14s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
    }
    s.stop()
  }
}
