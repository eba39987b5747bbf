package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
class PlanAuditDetectorSpec extends SparkSpec {
  test("the funnel detector fires on a planted global window") {
    val df = operators.Relational.t(spark, sf(), "documents")
      .withColumn("rn", row_number().over(Window.orderBy("doc_id")))
    assert(PlanAuditSpec.hasGlobalWindowFunnel(df.queryExecution.executedPlan.toString))
  }
  test("and stays silent on a partitioned window") {
    val df = operators.Relational.t(spark, sf(), "documents")
      .withColumn("rn", row_number().over(Window.partitionBy("lang").orderBy("doc_id")))
    assert(!PlanAuditSpec.hasGlobalWindowFunnel(df.queryExecution.executedPlan.toString))
  }
  test("the distinct-buffer detector fires on a distinct beside a collect_set") {
    val df = operators.Relational.t(spark, sf(), "documents")
      .agg(countDistinct("doc_id"), size(collect_set("lang")))
    assert(PlanAuditSpec.hasDistinctOverObjectBuffers(df.queryExecution.executedPlan.toString))
  }
  test("and stays silent on a distinct beside fixed-width buffers") {
    val df = operators.Relational.t(spark, sf(), "documents")
      .agg(countDistinct("doc_id"), count(lit(1)), max("n_chars"))
    assert(!PlanAuditSpec.hasDistinctOverObjectBuffers(df.queryExecution.executedPlan.toString))
  }
}
