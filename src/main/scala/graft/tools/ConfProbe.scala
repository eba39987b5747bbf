package graft.tools

import org.apache.spark.sql.DataFrame

/** Argument parsing shared by the tool mains: pure parsers that return
  * `None` on bad input, and [[orUsage]], which turns a `None` into the
  * usage line on stderr and exit status 2 (the rule every tool main
  * follows for a missing argument).
  */
private[graft] object ToolArgs {

  /** `key=value` with a non-empty key and value; the value may hold `=`. */
  def keyValue(arg: String): Option[(String, String)] = arg.split("=", 2) match {
    case Array(k, v) if k.nonEmpty && v.nonEmpty => Some((k, v))
    case _                                       => None
  }

  /** A positive integer count. */
  def count(arg: String): Option[Int] = arg.toIntOption.filter(_ > 0)

  /** Every arg as `<prefix>key=value`; `None` if any lacks the prefix or
    * is malformed.
    */
  def prefixed(args: Seq[String], prefix: String): Option[Seq[(String, String)]] = {
    val kvs = args.map(a => Option.when(a.startsWith(prefix))(a.stripPrefix(prefix)).flatMap(keyValue))
    Option.when(kvs.forall(_.isDefined))(kvs.flatten)
  }

  def orUsage[A](usage: String)(parsed: Option[A]): A = parsed.getOrElse {
    System.err.println(usage)
    sys.exit(2)
  }
}

/** Dev probe: A/B an arbitrary RUNTIME SQL conf over a list of gate
  * queries: both arms alternate inside ONE JVM per pass, with within-pass
  * arm order alternating across passes — the r19 fixed-arm-order lesson —
  * so a contended window inflates both arms equally and within-pass
  * warming favors neither.
  *
  * Usage: ConfProbe <corpusDir> <q1,q2,...> <confKey> <valA> <valB> [passes] [fix:key=value ...]
  *
  * Trailing `fix:key=value` args are runtime confs applied to BOTH arms
  * before the warm-up — for combined-knob arms (e.g. A/B the advisory
  * partition size with parallelismFirst pinned false on both sides).
  */
object ConfProbe {
  private val Usage =
    "usage: ConfProbe <corpusDir> <q1,q2,...> <confKey> <valA> <valB> [passes] [fix:key=value ...]"

  /** The args after `<valB>`: an optional pass count (default 6), then
    * `fix:key=value` confs; `None` on anything else.
    */
  private[graft] def options(rest: Seq[String]): Option[(Int, Seq[(String, String)])] = {
    val (passArg, fixes) = rest.headOption.filterNot(_.startsWith("fix:")) match {
      case Some(p) => (Some(p), rest.tail)
      case None    => (None, rest)
    }
    for {
      passes <- passArg.fold(Option(6))(ToolArgs.count)
      fixed <- ToolArgs.prefixed(fixes, "fix:")
    } yield (passes, fixed)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 5) ToolArgs.orUsage(Usage)(None)
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val key = args(2)
    val valA = args(3)
    val valB = args(4)
    val (passes, fixed) = ToolArgs.orUsage(Usage)(options(args.toSeq.drop(5)))
    val s = graft.EngineSession.local()
    val orig = s.conf.getOption(key)
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    fixed.foreach { case (k, v) => s.conf.set(k, v); println(s"[confprobe] fixed $k=$v (both arms)") }
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
