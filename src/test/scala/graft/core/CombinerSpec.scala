package graft.core

import graft.SparkSpec
import graft.tasks.WordCount

import java.nio.file.Files
import scala.util.Random

/** WordCount without its combiner: the same map and reduce, every pair shuffled. */
private object WordCountNoCombiner extends MapReduceTask {
  override def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
    WordCount.reduce(key, values)
}

/** The map-side combiner (OSDI'04 §4.3) changes what is shuffled, never
  * what is written.
  */
class CombinerSpec extends SparkSpec {

  test("the bounded combine flushes when full and the counts still add up") {
    // Runs of 5 equal keys, 20 keys in all, each seen twice.
    val pairs = (0 until 200).map(i => (s"k${i / 5 % 20}", "1"))
    val sum = (a: String, b: String) => (a.toLong + b.toLong).toString
    def totals(ps: Seq[(String, String)]) =
      ps.groupMapReduce(_._1)(_._2.toLong)(_ + _)
    val bounded = MapReduceJob.combineBounded(pairs.iterator, sum, 4).toSeq
    assert(bounded.size > 20, "a bound of 4 keys over 20 keys must flush")
    assert(bounded.size < pairs.size)
    assert(totals(bounded) == totals(pairs))
    val unbounded = MapReduceJob.combineBounded(pairs.iterator, sum, 1000).toSeq
    assert(unbounded.size == 20 && totals(unbounded) == totals(pairs))
    assert(MapReduceJob.combineBounded(Iterator.empty, sum, 4).isEmpty)
  }

  test("the bounded combine also flushes on bytes: a few 1 MiB keys fill a small byte bound first") {
    // Four keys of ~1 MiB, each in a run of three; about 2 MiB of estimate per key.
    val keys = (0 until 4).map(i => s"$i" + "x" * (1 << 20))
    val pairs = keys.flatMap(k => Seq.fill(3)((k, "1")))
    val sum = (a: String, b: String) => (a.toLong + b.toLong).toString
    def totals(ps: Seq[(String, String)]) =
      ps.groupMapReduce(_._1)(_._2.toLong)(_ + _)
    val bounded = MapReduceJob.combineBounded(pairs.iterator, sum, 1000, 5L << 20).toSeq
    assert(bounded.size > keys.size, "5 MiB over 8 MiB of keys must flush before the 1000-key bound")
    assert(bounded.size < pairs.size, "equal keys within one fill still merge")
    assert(totals(bounded) == totals(pairs))
    assert(MapReduceJob.combineBounded(pairs.iterator, sum, 1000).size == keys.size,
      "under the production byte bound the four keys fit in one fill")
  }

  test("WordCount with its combiner writes the same bytes as without one, Zipf-like input, R=8") {
    // ~20k words over a 2k vocabulary, rank frequencies ∝ 1/r^1.1, joined by
    // runs of the reference delimiters; 16 KiB splits give several map tasks.
    val rnd = new Random(11)
    val delims = Array(" ", ",", ".", "\"", "'", " ,", ". ")
    val text = Iterator.fill(2000) {
      Iterator.fill(10)(s"w${math.min(2000, math.pow(1 - rnd.nextDouble(), -1 / 1.1).toInt)}")
        .mkString(delims(rnd.nextInt(delims.length)))
    }.mkString("\n")
    val in = SparkSpec.tempDir("combine-in").resolve("input.txt")
    Files.writeString(in, text)

    def run(id: String, task: MapReduceTask): Seq[Array[Byte]] = {
      val out = SparkSpec.tempDir(s"combine-out-$id")
      TaskRegistry.register(id, task)
      MapReduceJob.run(spark, JobSpec(1, Seq("localhost:1"), Seq(in.toString), out.toString, 8, 16, id))
      (0 until 8).map(r => Files.readAllBytes(out.resolve(s"${id}_result_$r")))
    }
    val combined = run("wc", WordCount)
    val plain = run("wc", WordCountNoCombiner)
    assert(combined.map(_.toSeq) == plain.map(_.toSeq))
    assert(combined.map(_.length).sum > 0)

    // … while the map phase emits fewer pairs toward the shuffle.
    val lines = spark.read.textFile(in.toString)
    val mapped = MapReduceJob.mapPhase(lines, WordCountNoCombiner).count()
    assert(mapped == text.split("\n").flatMap(WordCount.tokenize).length)
    assert(MapReduceJob.mapPhase(lines, WordCount).count() * 3 < mapped)
  }
}
