package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev probe: A/B an arbitrary RUNTIME SQL conf over a list of gate queries
  * (the ShjProbe discipline generalized): both arms alternate inside ONE JVM
  * per pass, with within-pass arm order alternating across passes — the r19
  * fixed-arm-order lesson — so a contended window inflates both arms equally
  * and within-pass warming favors neither. Yardsticks recorded so the window
  * grades itself.
  *
  * Usage: ConfProbe <corpusDir> <q1,q2,...> <confKey> <valA> <valB> [passes] [fix:key=value ...]
  *
  * Trailing `fix:key=value` args are runtime confs applied to BOTH arms
  * before the warm-up — for combined-knob arms (e.g. A/B the advisory
  * partition size with parallelismFirst pinned false on both sides).
  */
object ConfProbe {
  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println("usage: ConfProbe <corpusDir> <q1,q2,...> <confKey> <valA> <valB> [passes] [fix:key=value ...]")
      sys.exit(2)
    }
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val key = args(2)
    val valA = args(3)
    val valB = args(4)
    val passes = args.lift(5).filterNot(_.startsWith("fix:")).map(_.toInt).getOrElse(6)
    val fixed = args.drop(5).filter(_.startsWith("fix:")).map { a =>
      val kv = a.stripPrefix("fix:").split("=", 2); (kv(0), kv(1))
    }
    val s = graft.EngineSession.local()
    val orig = s.conf.getOption(key)
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    fixed.foreach { case (k, v) => s.conf.set(k, v); println(s"[confprobe] fixed $k=$v (both arms)") }
    Yardsticks.record("confprobe", dir, Seq("orders", "embeddings"))
    // Warm both arms once (stored builds + codegen for each arm's plans).
    for (arm <- Seq(valA, valB)) {
      s.conf.set(key, arm)
      names.foreach(n => noop(graft.SparkEntry.queries(n)(s, dir)))
    }
    (1 to passes).foreach { p =>
      for (arm <- if (p % 2 == 1) Seq(valA, valB) else Seq(valB, valA)) {
        s.conf.set(key, arm)
        names.foreach { n =>
          val t0 = System.nanoTime()
          noop(graft.SparkEntry.queries(n)(s, dir))
          println(f"[confprobe] pass$p arm=$arm%-6s $n%-26s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
        }
      }
    }
    orig match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
    s.stop()
  }
}
