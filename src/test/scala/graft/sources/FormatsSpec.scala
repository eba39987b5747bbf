package graft.sources

import graft.SparkSpec

class FormatsSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("CSV round-trip preserves the customer table exactly") {
    val src = Tables.t(spark, sf(), "customer")
    val dir = SparkSpec.tempDir("csv-rt").toString
    Formats.writeCsv(src, dir)
    val back = Formats.readCsv(spark, dir, src.schema)
    assert(back.schema == src.schema)
    assert(canon(back) == canon(src))
  }

  test("JSON round-trip preserves the orders table (timestamps included)") {
    val src = Tables.t(spark, sf(), "orders")
    val dir = SparkSpec.tempDir("json-rt").toString
    Formats.writeJson(src, dir)
    val back = Formats.readJson(spark, dir, src.schema)
    assert(back.schema == src.schema)
    assert(canon(back) == canon(src))
  }

  test("JSON round-trip preserves the embeddings array column") {
    val src = Tables.t(spark, sf(), "embeddings")
    val dir = SparkSpec.tempDir("json-emb").toString
    Formats.writeJson(src, dir)
    val back = Formats.readJson(spark, dir, src.schema)
    assert(canon(back) == canon(src))
  }

  test("ORC round-trip preserves the orders table (timestamps included)") {
    val src = Tables.t(spark, sf(), "orders")
    val dir = SparkSpec.tempDir("orc-rt").toString
    Formats.writeOrc(src, dir)
    val back = Formats.readOrc(spark, dir)
    assert(back.schema == src.schema)
    assert(canon(back) == canon(src))
  }

  test("partitioned write lays out lang directories and prunes them at plan time") {
    import org.apache.spark.sql.functions.col
    val src = Tables.t(spark, sf(), "documents")
    val dir = SparkSpec.tempDir("part-rt").toString
    Formats.writePartitioned(src, dir, "lang")
    // One directory per language value.
    val langDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("lang=")).map(_.getName)
    val langs = src.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langDirs.map(_.stripPrefix("lang=")).toSet == langs)
    // A partition-column filter must become a PartitionFilter on the scan
    // (planning-time directory pruning), not a post-scan data filter.
    val q = Formats.readPartitioned(spark, dir).filter(col("lang") === "en")
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("lang")),
      s"expected lang in partitionFilters, got ${scan.partitionFilters}")
    assert(scan.relation.location.inputFiles.forall(_.contains("lang=")),
      "expected hive-style partitioned layout")
    // And the values survive the round-trip (modulo column order).
    val cols = src.columns.toSeq
    assert(canon(Formats.readPartitioned(spark, dir).select(cols.map(col): _*)) == canon(src))
  }

  test("gzip text round-trip preserves lines and produces .gz part files") {
    import org.apache.spark.sql.functions.col
    val src = Tables.t(spark, sf(), "documents").select(col("text"))
    val dir = SparkSpec.tempDir("txt-gz").toString
    Formats.writeTextGz(src, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".gz")))
    val back = spark.read.text(dir)
    assert(canon(back) == canon(src.toDF("value")))
  }

  test("csv splits into multiple input partitions under a small split size") {
    val src = Tables.t(spark, sf(), "lineitem")
    val dir = SparkSpec.tempDir("csv-split").toString
    Formats.writeCsv(src.coalesce(1), dir)
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      val parts = Formats.readCsv(spark, dir, src.schema).rdd.getNumPartitions
      assert(parts > 1, s"expected byte-range splitting, got $parts partition(s)")
    } finally prev.foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))
  }
}
