package graft.core

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Reduce emits `pairs` verbatim: map turns input line `i` into `pairs(i)`,
  * reduce passes every value of a key through unchanged.
  */
private final case class EmitPairs(pairs: Vector[(String, String)]) extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = Iterator.single(pairs(line.toInt))
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
    values.map(key -> _)
}

/** The `key value` sink: every pair it accepts reads back from the result
  * files as the same pair; a pair it cannot hold fails the job naming it.
  */
class SinkFormatSpec extends SparkSpec {

  /** Run one job emitting `pairs` and read its result files back, each line
    * split at its first space (the reader's side of the contract).
    */
  private def roundTrip(pairs: Vector[(String, String)]): Seq[(String, String)] = {
    val dir = SparkSpec.tempDir("sink")
    val in = dir.resolve("input.txt")
    Files.writeString(in, pairs.indices.mkString("\n"))
    TaskRegistry.register("sink", EmitPairs(pairs))
    MapReduceJob.run(spark, JobSpec(1, Nil, Seq(in.toString), dir.resolve("out").toString, 3, 64, "sink"))
    (0 until 3).flatMap(r => Files.readAllLines(dir.resolve(s"out/sink_result_$r")).asScala).map { l =>
      val i = l.indexOf(' ')
      l.substring(0, i) -> l.substring(i + 1)
    }
  }

  private def accepted(k: String, v: String): Boolean =
    scala.util.Try(MapReduceJob.resultLine(k, v)).isSuccess

  test("a pair the sink cannot hold fails the job, naming the pair") {
    for ((k, v) <- Seq("a b" -> "1", "a\nb" -> "1", "a\rb" -> "1", "a" -> "1\n2", "a" -> "1\r2")) {
      val e = intercept[IllegalArgumentException](roundTrip(Vector(k -> v, "ok" -> "1")))
      assert(e.getMessage.contains("reduce emitted"), e)
    }
  }

  test("every accepted pair reads back from the result files as the same pair (property)") {
    val char = Gen.frequency(
      10 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 1 -> Gen.const('\n'), 1 -> Gen.const('\r'),
      1 -> Gen.const('\t'), 1 -> Gen.oneOf('\u0085', ' ', 'é', '中'))
    val str = Gen.choose(0, 6).flatMap(Gen.listOfN(_, char)).map(_.mkString)
    val pairs = Gen.choose(1, 20).flatMap(Gen.listOfN(_, Gen.zip(str, str))).map(_.toVector)
    val prop = Prop.forAll(pairs) { ps =>
      val (ok, rejected) = ps.partition { case (k, v) => accepted(k, v) }
      // Only pairs the line format cannot hold are rejected …
      val rejectedNeedlessly = rejected.filterNot { case (k, v) =>
        k.exists(" \n\r".contains(_)) || v.exists("\n\r".contains(_))
      }
      // … and the rest survive the files unchanged.
      rejectedNeedlessly.isEmpty && (ok.isEmpty || roundTrip(ok).sorted == ok.sorted)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result)
  }
}
