package graft.core

import graft.SparkSpec
import graft.tasks.WordCount
import org.apache.spark.{SparkException, TaskContext}

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.HexFormat
import scala.jdk.CollectionConverters._

/** WordCount whose reduce always throws in reduce partition 0. */
private object FailingPartitionZero extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    if (TaskContext.getPartitionId() == 0) throw new RuntimeException("injected reduce failure, partition 0")
    WordCount.reduce(key, values)
  }
}

/** The sink publishes a job's result files with one directory rename:
  * a failed job leaves the previous output as it was, and no job leaves its
  * staging directory behind.
  */
class ResultPublishSpec extends SparkSpec {

  private def input(text: String): String = {
    val in = Files.createTempDirectory("publish-in").resolve("input.txt")
    Files.writeString(in, text)
    in.toString
  }

  private val words = input((1 to 500).map(i => s"w${i % 50} x${i % 7}").mkString("\n"))

  private def run(task: MapReduceTask, in: String, out: Path, r: Int): Unit = {
    TaskRegistry.register("publish", task)
    MapReduceJob.run(spark, JobSpec(1, Seq("localhost:1"), Seq(in), out.toString, r, 64, "publish"))
  }

  /** Every file under `dir` (hidden ones included), name → SHA-256 of its bytes. */
  private def snapshot(dir: Path): Map[String, String] =
    Files.list(dir).iterator.asScala.map { p =>
      p.getFileName.toString -> HexFormat.of.formatHex(MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)))
    }.toMap

  private def stagingLeft(out: Path): Seq[String] =
    Files.list(out.getParent).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s".${out.getFileName}.staging-")).toSeq

  test("a failed job leaves the previous output byte for byte and no staging directory") {
    val out = Files.createTempDirectory("publish").resolve("out")
    run(WordCount, words, out, 4)
    val before = snapshot(out)
    assert(before.keySet.count(_.startsWith("publish_result_")) == 4)
    val e = intercept[SparkException](run(FailingPartitionZero, words, out, 4))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("injected reduce failure"))), e)
    assert(snapshot(out) == before)
    assert(stagingLeft(out).isEmpty, stagingLeft(out))
  }

  test("a successful job replaces the previous output whole and leaves no staging directory") {
    val out = Files.createTempDirectory("publish").resolve("out")
    run(WordCount, words, out, 4)
    run(WordCount, input("b a\nc a"), out, 2)
    val visible = Files.list(out).iterator.asScala.toSeq.filterNot(p => p.getFileName.toString.startsWith("."))
    assert(visible.map(_.getFileName.toString).toSet == Set("publish_result_0", "publish_result_1"))
    assert(visible.flatMap(Files.readAllLines(_).asScala).toSet == Set("a 2", "b 1", "c 1"))
    assert(stagingLeft(out).isEmpty, stagingLeft(out))
  }
}
