package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** The engine's pipeline-observability surface: `observe()` attaches named
  * metric aggregates to a plan that are collected AS THE QUERY RUNS — no
  * second scan, no separate monitoring job. This is how a 100 TB pipeline
  * reports rows-kept/rows-dropped/volume counters per run without paying
  * for them: the aggregation rides the existing pass (an accumulator-backed
  * per-partition fold, not a shuffle), and the driver reads the result after
  * the action completes.
  */
class ObservabilitySpec extends SparkSpec {

  test("batch observe() reports pipeline counters from the same single pass") {
    val obs = Observation("corpus-ingest")
    val kept = graft.operators.Relational.t(spark, sf(), "documents")
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(col("n_chars")).as("chars_seen"))
      .filter(col("n_chars") >= 200)
      .count()
    val m = obs.get
    // The observation sees PRE-filter volume (it is attached below the
    // filter), the action's result the post-filter count — one scan, both
    // numbers.
    val expectSeen = graft.operators.Relational.t(spark, sf(), "documents").count()
    assert(m("rows_seen") == expectSeen, s"observed ${m("rows_seen")} vs $expectSeen")
    assert(kept < expectSeen && kept > 0)
    assert(m("chars_seen").asInstanceOf[Long] > 0)
  }

  test("streaming observe() surfaces per-batch metrics in query progress") {
    val d = SparkSpec.tempDir("events-obs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"), d.resolve("a.parquet"))
    val q = EventStreams.readEventStream(spark, d.toString)
      .observe("ingest", count(lit(1)).as("rows"), max(col("ts")).as("max_ts"))
      .writeStream.outputMode("append").format("noop").start()
    try {
      q.processAllAvailable()
      val rows = q.recentProgress.flatMap { p =>
        Option(p.observedMetrics.get("ingest")).map(_.getAs[Long]("rows"))
      }.sum
      val expected = graft.operators.Relational.t(spark, sf(), "events").count()
      assert(rows == expected, s"progress reported $rows vs $expected")
    } finally q.stop()
  }
}
