package graft.tools

/** Dev tool: print a declared query's executed-plan lines (optionally only
  * those matching a filter substring). Usage:
  * `runMain graft.tools.PlanDump <query> [sfDir] [filterSubstring]`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PlanDump <query> [sfDir] [filterSubstring]")
      sys.exit(2)
    }
    // Dir from arg or SPARK_GRAFT_SF_DIR — no machine-specific literal
    // default (the ADVICE r14 rule applied to every tool main).
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse {
      System.err.println("usage: PlanDump <query> <sfDir> [filterSubstring] (or set SPARK_GRAFT_SF_DIR)")
      sys.exit(2); ""
    }
    val spark = graft.EngineSession.local()
    val p = graft.SparkEntry.queries(args(0))(spark, dir)
      .queryExecution.executedPlan.toString
    val lines = args.lift(2) match {
      case Some(f) => p.linesIterator.filter(_.toLowerCase.contains(f.toLowerCase))
      case None    => p.linesIterator
    }
    lines.foreach(l => println("LINE: " + l))
    spark.stop()
  }
}
