package graft.core

import graft.SparkSpec
import graft.tasks.WordCount
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** `map_kilobytes` is scoped to its job: each job runs on its own session, so
  * jobs sharing a session neither race on the split size nor leave it behind.
  */
class JobSessionSpec extends SparkSpec {

  private val splitKey = "spark.sql.files.maxPartitionBytes"

  private def spec(in: String, out: String, kb: Int) =
    JobSpec(1, Seq("localhost:1"), Seq(in), out, 3, kb, "cs6210")

  test("the job session carries the engine confs and the split size; the caller's conf is untouched") {
    val before = spark.conf.getOption(splitKey)
    val job = MapReduceJob.jobSession(spark, spec("/etc/hostname", "/tmp/unused", 7))
    assert(job ne spark)
    assert(job.sparkContext eq spark.sparkContext)
    assert(job.conf.get(splitKey) == (7 * 1024).toString)
    assert(spark.conf.getOption(splitKey) == before)
    assert(job.conf.get("spark.sql.optimizer.excludedRules").contains("InferFiltersFromGenerate"))
    assert(job.conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") ==
      graft.EngineSession.AdvisoryPartitionBytes)
    assert(job.catalog.functionExists("graft_fnv64"), "GraftExtensions missing on the job session")
  }

  test("concurrent jobs with different map_kilobytes on one session keep their own split size") {
    // 64 KiB of words: 4 KiB splits make 16 map tasks, 64 KiB splits one.
    val in = SparkSpec.tempDir("split-in").resolve("input.txt")
    val text = Iterator.from(0).map(i => s"w${i % 97} x${i % 13}").take(20000).mkString("\n").take(65536)
    Files.writeString(in, text)
    val expected = text.split("\n").flatMap(_.split(WordCount.DelimRegex)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toString).toMap
    TaskRegistry.register("cs6210", WordCount)

    // Task counts of each job's stages: its map stage and its R = 3 reduce tasks.
    val stageTasks = TrieMap.empty[String, Set[Int]]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        for (p <- Option(e.properties); g <- Option(p.getProperty("spark.jobGroup.id")))
          stageTasks.updateWith(g)(s => Some(s.getOrElse(Set.empty) + e.stageInfo.numTasks))
    }
    spark.sparkContext.addSparkListener(listener)
    val before = spark.conf.getOption(splitKey)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val runs = Seq(4, 64).map { kb =>
        val out = SparkSpec.tempDir(s"split-out-$kb")
        Future {
          spark.sparkContext.setJobGroup(s"split$kb", s"map_kilobytes=$kb")
          try MapReduceJob.run(spark, spec(in.toString, out.toString, kb))
          finally spark.sparkContext.clearJobGroup()
          out
        }
      }
      for (out <- Await.result(Future.sequence(runs), Duration(120, "s"))) {
        val got = (0 until 3).flatMap(r => Files.readAllLines(out.resolve(s"cs6210_result_$r")).asScala)
          .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }
        assert(got.toMap == expected && got.size == expected.size)
      }
      eventually(timeout(10.seconds)) {
        assert(stageTasks.get("split4").contains(Set(16, 3)) &&
          stageTasks.get("split64").contains(Set(1, 3)), stageTasks)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.conf.getOption(splitKey) == before)
  }

  test("a repeated job compiles no new generated classes on its new session") {
    // The generated-class cache is keyed by class loader; were sessions'
    // artifacts isolated, each job's session would get its own executor
    // class loader and recompile every generated class.
    val in = SparkSpec.tempDir("codegen-in").resolve("input.txt")
    Files.writeString(in, "a b c\nb c\nc")
    TaskRegistry.register("cs6210", WordCount)
    def job(): Unit =
      MapReduceJob.run(spark, spec(in.toString, SparkSpec.tempDir("codegen-out").toString, 64))
    job()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    job()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }
}
