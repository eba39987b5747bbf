package graft.tools

import graft.SparkEntry

/** Dev tool: time a comma-separated list of queries sequentially in ONE JVM
  * (the bench's session + accumulated-state conditions) against the noop
  * sink. Unlike [[TimeQuery]], the timer covers query CONSTRUCTION too —
  * operators that materialize state eagerly (trained ANN indexes, layout
  * rewrites, MV builds) do that work at construction, and excluding it
  * understates their cost.
  * Usage: TimeMany <q1,q2,...> <sfDir>
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    // Names AND dir REQUIRED — same rule as the probe mains (ADVICE r14).
    if (args.length < 2) {
      System.err.println("usage: TimeMany <name,name,...> <sfDir>")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val sfDir = args(1)
    val spark = graft.EngineSession.local()
    // Optional per-stage attribution (TimeQuery's listener, under the
    // bench's accumulated-state conditions): "stages" as a trailing arg.
    if (names.contains("stages")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
          if (dur >= 0.1)
            println(f"[stage] ${si.stageId}%4d ${si.numTasks}%4d tasks ${dur}%7.2f s  ${si.details.linesIterator.take(1).mkString}")
        }
      })
    }
    names.filterNot(_ == "stages").foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"[time] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
