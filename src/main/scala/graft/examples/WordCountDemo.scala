package graft.examples

import graft.EngineSession
import graft.core.{JobSpec, MapReduceJob, TaskRegistry}
import graft.tasks.WordCount

/** Runnable example: the reference's end-to-end test (`test/main.cc:21-22`) on this
  * engine — `MapReduce::run(config.ini)` ≡ `WordCountDemo <config.ini>`. Runs on
  * the engine session, `EngineSession.local()`.
  */
object WordCountDemo {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: WordCountDemo <config.ini>")
    val spark = EngineSession.local()
    TaskRegistry.register("cs6210", WordCount)
    val spec = JobSpec.fromConfig(args(0))
    println(s"[demo] spec: $spec")
    MapReduceJob.run(spark, spec)
    println(s"[demo] wrote ${spec.numOutputs} result files to ${spec.outputDir}")
    spark.stop()
  }
}
