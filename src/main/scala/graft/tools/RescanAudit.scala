package graft.tools

/** Dev audit: for every declared query, count how many times each CORPUS
  * parquet location appears as a scan in the initial physical plan. A table
  * scanned ≥2 times in one plan means a shared subtree was planned twice
  * (the ev_cuped / dfHistogram hazard — a frame feeding two consumers
  * without materialization) OR a legitimate self-join; the output is a
  * review list, not a verdict. Stored-structure tmp paths are reported
  * separately (re-reading a stored parquet twice is cheap by design).
  */
object RescanAudit {

  /** Every parquet scan location in a physical-plan string — ONE definition
    * of the walk, shared by this tool and PlanAuditSpec's standing
    * regression pin so the dev report and the gate can never count
    * different things.
    */
  private[graft] def scanLocations(plan: String): Seq[String] = {
    val loc = """InMemoryFileIndex\(\d+ paths?\)\[([^\]]+)""".r
    loc.findAllMatchIn(plan).map(_.group(1)).toSeq
  }

  def main(args: Array[String]): Unit = {
    // Dir REQUIRED: no machine-specific default (ADVICE r14).
    if (args.isEmpty) {
      System.err.println("usage: RescanAudit <sfDir>")
      sys.exit(2)
    }
    val dir = args(0)
    val s = graft.EngineSession.local()
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val p = fn(s, dir).queryExecution.executedPlan.toString
        val hits = scanLocations(p)
        val corpus = hits.filter(_.contains(dir)).groupBy(identity).view.mapValues(_.size)
          .filter(_._2 >= 2).toMap
        val stored = hits.filterNot(_.contains(dir)).groupBy(identity).view.mapValues(_.size)
          .filter(_._2 >= 2).toMap
        def fmt(m: Map[String, Int]) =
          m.map { case (k, v) => s"${k.split('/').last}x$v" }.mkString(",")
        if (corpus.nonEmpty) println(s"[rescan] CORPUS $name: ${fmt(corpus)}")
        else if (stored.nonEmpty) println(s"[rescan] stored $name: ${fmt(stored)}")
      } catch { case e: Throwable => println(s"[rescan] ERROR $name: ${e.getMessage}") }
    }
    s.stop()
  }
}
