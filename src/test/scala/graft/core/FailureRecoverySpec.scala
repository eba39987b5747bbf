package graft.core

import graft.{EngineSession, SparkSpec}
import graft.tasks.WordCount
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A task whose reduce throws once per (partition, attempt 0), AFTER the
  * first group of that task has already been emitted — so the failing attempt
  * has streamed real rows toward the text sink before dying, exercising the
  * reference's append-mode double-write-on-retry hazard
  * (reference `src/mr_tasks.h:25,69`).
  */
private object FlakyReduce extends MapReduceTask {
  val groupsSeen: TrieMap[(Int, Int), Int] = TrieMap.empty
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0) {
      val k = (tc.partitionId(), tc.attemptNumber())
      val n = groupsSeen.updateWith(k) { c => Some(c.getOrElse(0) + 1) }.get
      if (n == 2) throw new RuntimeException(s"injected reduce failure, partition ${tc.partitionId()}")
    }
    WordCount.reduce(key, values)
  }
}

/** A task whose map throws on the first record of every attempt-0 map task. */
private object FlakyMap extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0)
      throw new RuntimeException(s"injected map failure, partition ${tc.partitionId()}")
    WordCount.map(line)
  }
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
    WordCount.reduce(key, values)
}

/** O9 — failure semantics (SURVEY.md §5 item 5; reference
  * `description.md:85-86`, `src/master.h:234-256`): a failed task attempt is
  * retried, and the retry produces NO duplicate output. The reference's
  * append-mode sinks double-write on retry; here each reduce attempt writes
  * its own staged file and the job publishes only the accepted attempt of
  * each partition, so the failed attempt's partial file is never published
  * and the result must be identical to a failure-free run.
  *
  * Local masters pin task attempts to 1, so this suite swaps the shared test
  * session for an engine session on `local[4, 2]` (2 attempts per task — one
  * injected failure + one retry). Tests run sequentially in one forked JVM;
  * SparkSpec.session recreates the shared session for later suites.
  * The cluster-side posture (spark.task.maxFailures, spark.speculation) is
  * set centrally in [[graft.EngineSession]].
  */
class FailureRecoverySpec extends AnyFunSuite {

  private val lines = (1 to 500).map(i => s"w${i % 37} w${i % 11} common word$i")

  /** Run `f` on an engine session with `master` in place of the shared test
    * session; SparkSpec.session recreates the shared one afterwards.
    */
  private def withSession(master: String)(f: SparkSession => Unit): Unit = {
    SparkSpec.reset()
    try f(EngineSession.create(master, 4))
    finally SparkSpec.reset()
  }

  private def runJob(spark: SparkSession, task: MapReduceTask, id: String, in: java.nio.file.Path): Seq[String] = {
    val out = SparkSpec.tempDir(s"o9-out-$id")
    TaskRegistry.register(id, task)
    MapReduceJob.run(
      spark,
      JobSpec(1, Seq("localhost:1"), Seq(in.toString), out.toString, 4, 500, id)
    )
    (0 until 4).flatMap(r => Files.readAllLines(out.resolve(s"${id}_result_$r")).asScala).sorted
  }

  test("reduce task failing once per attempt is retried; output has no duplicates (O9)") {
    withSession("local[4, 2]") { spark =>
      val in = SparkSpec.tempDir("o9-in").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      val clean = runJob(spark, WordCount, "o9clean", in)
      assert(clean.nonEmpty)
      FlakyReduce.groupsSeen.clear()
      val flaky = runJob(spark, FlakyReduce, "o9flakyreduce", in)
      // The injection actually fired (attempt-0 reduce tasks saw groups) …
      assert(FlakyReduce.groupsSeen.nonEmpty, "failure injection never ran")
      // … and the committed output is identical: nothing lost, nothing doubled.
      assert(flaky == clean)
    }
  }

  test("map task failing once per attempt is retried; shuffle output not duplicated (O9)") {
    withSession("local[4, 2]") { spark =>
      val in = SparkSpec.tempDir("o9-in-map").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      val clean = runJob(spark, WordCount, "o9clean2", in)
      val flaky = runJob(spark, FlakyMap, "o9flakymap", in)
      assert(flaky == clean)
    }
  }

  test("without retries, the same injected failure fails the job (control)") {
    withSession("local[4]") { s => // 1 attempt per task
      s.sparkContext.setLogLevel("ERROR")
      val in = SparkSpec.tempDir("o9-in-ctl").resolve("input.txt")
      Files.writeString(in, lines.mkString("\n"))
      intercept[org.apache.spark.SparkException] {
        runJob(s, FlakyMap, "o9control", in)
      }
    }
  }
}
