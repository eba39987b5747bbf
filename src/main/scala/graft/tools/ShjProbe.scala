package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev probe: A/B the AQE sort-merge→shuffled-hash join conversion
  * (`spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`, default 0 =
  * off; guide §3.1) over the gate's SMJ-heavy queries. Runtime conf, so the
  * arms alternate inside ONE JVM per pass — a contended window inflates
  * both arms equally. Usage: ShjProbe <corpusDir> <q1,q2,...> [thresholdBytes]
  */
object ShjProbe {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: ShjProbe <corpusDir> <q1,q2,...> [thresholdBytes]")
      sys.exit(2)
    }
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val thr = args.lift(2).getOrElse((64L * 1024 * 1024).toString)
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    Yardsticks.record("shjprobe", dir, Seq("orders", "embeddings"))
    // Warm both arms once (stored builds + codegen).
    for (arm <- Seq("0", thr)) {
      s.conf.set(key, arm)
      names.foreach(n => noop(graft.SparkEntry.queries(n)(s, dir)))
    }
    (1 to 6).foreach { p =>
      // Alternate which arm goes first each pass: a fixed order lets
      // within-pass warming systematically favor the second arm (observed
      // in this probe's first run, where 8 queries with arm-identical
      // final plans still read "faster" on the second arm).
      for (arm <- if (p % 2 == 1) Seq("0", thr) else Seq(thr, "0")) {
        s.conf.set(key, arm)
        names.foreach { n =>
          val t0 = System.nanoTime()
          noop(graft.SparkEntry.queries(n)(s, dir))
          println(f"[shjprobe] pass$p arm=${if (arm == "0") "smj" else "shj"}%-3s $n%-24s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
        }
      }
    }
    s.conf.set(key, "0")
    s.stop()
  }
}
