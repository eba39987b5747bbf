package graft.core

import graft.SparkSpec
import graft.tasks.WordCount
import java.nio.file.Files

class AdjacentGroupsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("groups adjacent equal keys and streams values") {
    val in = Iterator(("a", "1"), ("a", "2"), ("b", "3"), ("c", "4"), ("c", "5"))
    val out = MapReduceJob.adjacentGroups(in).map { case (k, vs) => (k, vs.toList) }.toList
    assert(out == List(("a", List("1", "2")), ("b", List("3")), ("c", List("4", "5"))))
  }

  test("drains unconsumed values when caller skips a group's iterator") {
    val in = Iterator(("a", "1"), ("a", "2"), ("b", "3"))
    val out = MapReduceJob.adjacentGroups(in).map { case (k, _) => k }.toList
    assert(out == List("a", "b"))
  }

  test("empty input yields no groups") {
    assert(MapReduceJob.adjacentGroups(Iterator.empty).isEmpty)
  }
}

class JobSpecSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def base = JobSpec(
    numWorkers = 6,
    workerAddrs = (1 to 6).map(i => s"localhost:5005$i"),
    inputFiles = Seq("/etc/hostname"),
    outputDir = "/tmp/out",
    numOutputs = 8,
    mapKilobytes = 500,
    userId = "cs6210"
  )

  test("valid spec passes (reference mapreduce_spec.h:51-64 parity)") {
    assert(base.validate().isRight)
  }
  test("rejects worker count mismatch") {
    assert(base.copy(numWorkers = 3).validate().isLeft)
  }
  test("rejects non-positive R / shard size / empty user") {
    assert(base.copy(numOutputs = 0).validate().isLeft)
    assert(base.copy(mapKilobytes = 0).validate().isLeft)
    assert(base.copy(userId = "").validate().isLeft)
    assert(base.copy(outputDir = "").validate() == Left("output_dir must be non-empty"))
  }
  test("rejects unreadable input file") {
    assert(base.copy(inputFiles = Seq("/nonexistent/x.txt")).validate().isLeft)
  }
  test("a non-integer value names its key and the value") {
    for (k <- Seq("n_workers", "n_output_files", "map_kilobytes")) {
      val e = intercept[IllegalArgumentException](JobSpec.fromMap(Map(k -> "abc")))
      assert(e.getClass == classOf[IllegalArgumentException], e)
      assert(e.getMessage.contains(k) && e.getMessage.contains("'abc'"), e.getMessage)
    }
  }
  test("parses INI key=value config") {
    val f = SparkSpec.tempDir("cfg").resolve("cfg.ini")
    Files.writeString(
      f,
      """n_workers=2
        |worker_ipaddr_ports=localhost:1,localhost:2
        |input_files=/etc/hostname
        |output_dir=/tmp/o
        |n_output_files=4
        |map_kilobytes=500
        |user_id=cs6210
        |""".stripMargin
    )
    val s = JobSpec.fromConfig(f.toString)
    assert(s.numWorkers == 2 && s.numOutputs == 4 && s.userId == "cs6210")
    assert(s.validate().isRight)
  }
}

class WordCountJobSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val lines = Seq(
    "dairy respect gazing Savannah.nanoseconds. waxiest small fustiest.",
    "the quick, brown \"fox\" jumps. the 'lazy' dog",
    "",
    "...,,''\"\"",
    "the the the"
  )

  /** Independent in-memory oracle with the same tokenizer semantics. */
  private def oracle(ls: Seq[String]): Map[String, Long] =
    ls.flatMap(_.split(WordCount.DelimRegex)).filter(_.nonEmpty).groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def runJob(r: Int): (Map[String, Long], Seq[Seq[String]]) = {
    val in = SparkSpec.tempDir("wc-in")
    val out = SparkSpec.tempDir("wc-out")
    Files.writeString(in.resolve("input.txt"), lines.mkString("\n"))
    TaskRegistry.register("cs6210", WordCount)
    MapReduceJob.run(
      spark,
      JobSpec(1, Seq("localhost:1"), Seq(in.resolve("input.txt").toString), out.toString, r, 500, "cs6210")
    )
    val files = (0 until r).map(i => out.resolve(s"cs6210_result_$i"))
    files.foreach(f => assert(Files.exists(f), s"missing result file $f"))
    val perFile = files.map(f => Files.readAllLines(f).asScala.toSeq)
    val all = perFile.flatten.map { l =>
      val i = l.lastIndexOf(' '); (l.substring(0, i), l.substring(i + 1).toLong)
    }.toMap
    (all, perFile)
  }

  test("end-to-end word count matches independent oracle, R=8") {
    val (got, perFile) = runJob(8)
    assert(got == oracle(lines))
    // keys sorted within each result file (description.md:62 contract)
    perFile.foreach(f => assert(f == f.sorted, "keys not sorted within file"))
  }

  test("partition-count invariance: R=1 equals R=8 (SURVEY §5 property)") {
    assert(runJob(1)._1 == runJob(8)._1)
  }

  test("MapReduceTask path agrees with declarative DataFrame path") {
    import spark.implicits._
    val ds = spark.createDataset(lines)
    val df = WordCount.dataFrameQuery(ds).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == oracle(lines))
  }

  test("reduce streams values (group larger than a small buffer)") {
    val vs = Iterator.fill(100000)("1")
    val out = WordCount.reduce("k", vs).iterator.toList
    assert(out == List(("k", "100000")))
  }
}
