package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MatViewReroute: the plan substitution itself, the roll-up correctness,
  * and the decline guards (the `mv_agg_reroute` gate query additionally
  * hash-matches the recompute-from-base DuckDB oracle).
  */
class MatViewsSpec extends SparkSpec {

  // Plan STRING, not collectLeaves: under AQE the pre-execution executedPlan
  // is an AdaptiveSparkPlanExec whose leaves are hidden until runtime; the
  // printed form still names every scan's location.
  private def scanPaths(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def fixture(): (String, String) = {
    val base = SparkSpec.tempDir("mv-base").toString
    val mv = SparkSpec.tempDir("mv-view").toString
    graft.operators.Relational.t(spark, sf(), "documents")
      .write.mode("overwrite").parquet(base)
    MatViews.buildAndRegister(spark, base, mv, Seq("lang", "source"), Seq("n_chars"))
    (base, mv)
  }

  test("matching roll-up reroutes to the view and matches the base recompute") {
    val (base, mv) = fixture()
    try {
      def userQuery = spark.read.parquet(base)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("lang")

      val rerouted = userQuery
      assert(scanPaths(rerouted).contains(mv), s"expected the MV scan, got ${scanPaths(rerouted)}")
      assert(!scanPaths(rerouted).contains(base), "base table must not be scanned after reroute")

      MatViews.unregister(base)
      val direct = userQuery
      assert(scanPaths(direct).contains(base), "unregister must restore the base scan")
      assert(rerouted.collect().map(_.toSeq).toSeq == direct.collect().map(_.toSeq).toSeq,
        "rerouted and direct results must be identical")
    } finally MatViews.unregister(base)
  }

  test("full-key grouping reroutes too (no roll-up needed)") {
    val (base, mv) = fixture()
    try {
      val q = spark.read.parquet(base)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      assert(scanPaths(q).contains(mv))
      val expected = graft.operators.Relational.t(spark, sf(), "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      assert(q.orderBy("lang", "source").collect().map(_.toSeq).toSeq ==
        expected.orderBy("lang", "source").collect().map(_.toSeq).toSeq)
    } finally MatViews.unregister(base)
  }

  test("append refresh merges batch partials; rerouted result equals full recompute") {
    val base = SparkSpec.tempDir("mv-incr-base").toString
    val mv1 = SparkSpec.tempDir("mv-incr-v1").toString
    val mv2 = SparkSpec.tempDir("mv-incr-v2").toString
    val docs = graft.operators.Relational.t(spark, sf(), "documents")
    try {
      docs.filter(col("doc_id") < 300).write.mode("overwrite").parquet(base)
      MatViews.buildAndRegister(spark, base, mv1, Seq("lang", "source"), Seq("n_chars"))
      val batch = docs.filter(col("doc_id") >= 300)
      batch.write.mode("append").parquet(base)
      MatViews.refreshAppend(spark, base, batch, mv2)

      def userQuery = spark.read.parquet(base)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("lang")

      val rerouted = userQuery
      assert(scanPaths(rerouted).contains(mv2), "refresh must flip the registration to the v2 path")
      val got = rerouted.collect().map(_.toSeq).toSeq

      MatViews.unregister(base)
      val direct = userQuery
      assert(scanPaths(direct).contains(base))
      assert(got == direct.collect().map(_.toSeq).toSeq,
        "merged-increment view must equal the full recompute")
    } finally MatViews.unregister(base)
  }

  test("declines: filters, distinct, count(col), unregistered measures, global agg") {
    val (base, _) = fixture()
    try {
      val b = spark.read.parquet(base)
      val declined = Seq(
        // row-level filter invalidates pre-aggregation
        b.filter(col("n_chars") > 100).groupBy("lang").agg(count(lit(1)).as("n")),
        // distinct is not re-aggregable from count/sum/min/max partials
        b.groupBy("lang").agg(countDistinct(col("source")).as("n")),
        // count(col) skips nulls; the view only stores count(*)
        b.groupBy("lang").agg(count(col("n_chars")).as("n")),
        // doc_id is not a registered measure
        b.groupBy("lang").agg(sum(col("doc_id")).as("s")),
        // global aggregate (empty-input semantics differ)
        b.agg(count(lit(1)).as("n"))
      )
      declined.foreach { q =>
        assert(scanPaths(q).contains(base), s"should stay on base:\n${q.queryExecution.executedPlan}")
      }
    } finally MatViews.unregister(base)
  }
}
