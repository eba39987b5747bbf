package graft.core

import graft.SparkSpec
import graft.tasks.WordCount
import org.apache.hadoop.fs.{RawLocalFileSystem, Path => HPath}
import org.apache.spark.{SparkException, TaskContext}

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.HexFormat
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** WordCount whose reduce always throws in reduce partition 0. */
private object FailingPartitionZero extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    if (TaskContext.getPartitionId() == 0) throw new RuntimeException("injected reduce failure, partition 0")
    WordCount.reduce(key, values)
  }
}

/** The local filesystem under the `faulty:` scheme. It logs every rename
  * and delete, and fails those whose 1-based position in the log is armed:
  * by throwing before the operation runs, or by returning false untouched.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def rename(src: HPath, dst: HPath): Boolean =
    FaultyFileSystem.op(s"rename $src $dst")(super.rename(src, dst))
  override def delete(p: HPath, recursive: Boolean): Boolean =
    FaultyFileSystem.op(s"delete $p")(super.delete(p, recursive))
}

object FaultyFileSystem {
  private val log = ArrayBuffer.empty[String]
  private var failAt = Set.empty[Int]
  private var throws = true

  def op(name: String)(run: => Boolean): Boolean = {
    val fail = synchronized { log += name; failAt(log.size) }
    if (!fail) run
    else if (throws) throw new IOException(s"injected fault: $name")
    else false
  }

  /** Runs `body` with the given operations failing; returns the log. */
  def failing(at: Set[Int], throwing: Boolean)(body: => Unit): Seq[String] = {
    synchronized { log.clear(); failAt = at; throws = throwing }
    try body
    finally synchronized { failAt = Set.empty }
    synchronized(log.toList)
  }
}

/** The sink publishes a job's result files by directory renames: a failed
  * job leaves the previous output as it was, a fault at any publish step
  * leaves the old output or the new one whole, and no job leaves its
  * staging directory behind unless restoring the old output failed.
  */
class ResultPublishSpec extends SparkSpec {

  private def input(text: String): String = {
    val in = SparkSpec.tempDir("publish-in").resolve("input.txt")
    Files.writeString(in, text)
    in.toString
  }

  private val words = input((1 to 500).map(i => s"w${i % 50} x${i % 7}").mkString("\n"))

  private def run(task: MapReduceTask, in: String, out: Path, r: Int): Unit = runAt(task, in, out.toString, r)

  private def runAt(task: MapReduceTask, in: String, outputDir: String, r: Int): Unit = {
    TaskRegistry.register("publish", task)
    MapReduceJob.run(spark, JobSpec(1, Seq("localhost:1"), Seq(in), outputDir, r, 64, "publish"))
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
    val out = SparkSpec.tempDir("publish").resolve("out")
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
    val out = SparkSpec.tempDir("publish").resolve("out")
    run(WordCount, words, out, 4)
    run(WordCount, input("b a\nc a"), out, 2)
    val visible = Files.list(out).iterator.asScala.toSeq.filterNot(p => p.getFileName.toString.startsWith("."))
    assert(visible.map(_.getFileName.toString).toSet == Set("publish_result_0", "publish_result_1"))
    assert(visible.flatMap(Files.readAllLines(_).asScala).toSet == Set("a 2", "b 1", "c 1"))
    assert(stagingLeft(out).isEmpty, stagingLeft(out))
  }

  /** Runs `body` against `faulty:<root>/out`, with a new-output input under
    * `root`.
    */
  private def withFaultyOut(body: (Path, String, String) => Unit): Unit = {
    val root = SparkSpec.tempDir("publish-fault")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    try {
      val in = Files.writeString(root.resolve("new.txt"), "b a\nc a").toString
      body(root.resolve("out"), s"faulty://${root.resolve("out")}", in)
    } finally conf.unset("fs.faulty.impl")
  }

  test("a fault at any driver-side rename or delete leaves the old output or the new one") {
    withFaultyOut { (out, faulty, newInput) =>
      runAt(WordCount, newInput, faulty, 2)
      val fresh = snapshot(out)
      runAt(WordCount, words, faulty, 4)
      val old = snapshot(out)
      assert(fresh != old)
      for (throwing <- Seq(true, false)) {
        var n = 0
        var ops = Seq.empty[String]
        do {
          n += 1
          runAt(WordCount, words, faulty, 4)
          ops = FaultyFileSystem.failing(Set(n), throwing) {
            try runAt(WordCount, newInput, faulty, 2) catch { case _: IOException => }
          }
          val at = ops.lift(n - 1).getOrElse("no fault")
          assert(Files.isDirectory(out), s"no output after a fault at $at (throwing=$throwing)")
          val got = snapshot(out)
          assert(got == old || got == fresh, s"mixed output after a fault at $at (throwing=$throwing)")
        } while (n <= ops.size)
        // Five operations faulted in turn: two attempt renames, the old
        // output out, `final` in, staging deleted.
        assert(n == 6, ops)
      }
    }
  }

  test("a failed restore keeps the previous output in staging and names it") {
    withFaultyOut { (out, faulty, newInput) =>
      runAt(WordCount, words, faulty, 4)
      val ops = FaultyFileSystem.failing(Set.empty, throwing = true)(runAt(WordCount, newInput, faulty, 2))
      runAt(WordCount, words, faulty, 4)
      val old = snapshot(out)
      val publish = ops.indexWhere(op => op.startsWith("rename ") && op.contains("/final faulty:"))
      assert(publish >= 0, ops)
      // The publishing rename and the restore that follows it both fail.
      val e = intercept[IOException] {
        FaultyFileSystem.failing(Set(publish + 1, publish + 2), throwing = true)(runAt(WordCount, newInput, faulty, 2))
      }
      assert(!Files.exists(out))
      val Seq(staging) = stagingLeft(out)
      val previous = out.resolveSibling(staging).resolve("previous")
      assert(snapshot(previous) == old)
      assert(e.getMessage.contains(s"$previous") && e.getMessage.contains(s"$out"), e.getMessage)
    }
  }
}
