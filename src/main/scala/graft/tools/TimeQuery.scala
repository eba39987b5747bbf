package graft.tools

import graft.SparkEntry

/** Dev tool: time named queries one after another in ONE JVM, with a
  * per-stage listener.
  * Usage: TimeQuery <name[,name...]> <sfDir> [noop]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    // Names AND dir REQUIRED: no machine-specific default (ADVICE r14).
    if (args.length < 2) {
      System.err.println("usage: TimeQuery <name[,name...]> <sfDir> [noop]")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val sfDir = args(1)
    val flags = args.drop(2)
    // The ENGINE session, not a bare builder: a hand-rolled session here
    // silently dropped GraftExtensions and every injected optimizer rule
    // (TopKRewrite, JoinElimination, EagerAggregation) that the gate and
    // bench sessions run with.
    val spark = graft.EngineSession.local()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        println(f"[stage] ${si.stageId}%3d ${si.numTasks}%4d tasks ${dur}%8.2f s  ${si.name.takeWhile(_ != '(')} ${si.details.linesIterator.take(1).mkString}")
      }
    })
    names.foreach { name =>
      // Time CONSTRUCTION separately: eager materializations (localCheckpoint
      // tiers, stored-structure builds, fixpoint loops) execute while the
      // query function builds its frame, before any action on the result —
      // the bench's per-pass cost is build + exec, not exec alone.
      val tb = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      val n = if (flags.contains("noop")) {
        df.write.mode("overwrite").format("noop").save(); -1L
      } else df.count()
      val execSec = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name: build $buildSec%.2f s + exec $execSec%.2f s = ${buildSec + execSec}%.2f s, $n rows")
    }
    spark.stop()
  }
}
