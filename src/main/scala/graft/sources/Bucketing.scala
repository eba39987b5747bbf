package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table support: pre-shuffling fact tables on their join key at
  * write time so later joins and aggregations on that key need no exchange.
  *
  * This is the 100 TB co-location play: a nightly 100 TB lineitem write
  * bucketed by orderkey turns every subsequent orderkey join/agg from a
  * full shuffle into a map-side zip of matching buckets. Verified by
  * BucketingSpec: the physical plan of a bucketed join contains no Exchange
  * on the bucketed side.
  */
object Bucketing {

  /** Write `df` as a bucketed external table (sorted within buckets on the
    * same key, enabling sort-merge joins without a sort either). Its files
    * live at a fresh `Connectors.tmp` path, so they go at JVM exit.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", graft.operators.Connectors.tmp(table))
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Co-located fact-fact join: lineitem and orders are both written
    // bucketed (and sorted) on the order key, so the join needs NO exchange
    // and NO sort on either side — the map task zips matching buckets
    // directly. This is the recurring-join layout a 100 TB lake bakes in at
    // write time: one shuffle at ingest, zero on every subsequent join.
    // The `merge` hint pins a sort-merge join (a broadcast of the small sf
    // test side would bypass — and thus hide — the bucket co-location being
    // demonstrated); BucketingSpec asserts the executed plan carries no
    // Exchange on the bucket key. The DuckDB oracle runs the plain
    // unbucketed join — hash-equality proves the layout is semantically
    // free, exactly like the salting oracles ([[graft.operators.Skew]]).
    "bk_colocated_join" -> { (s, dir) =>
      val (liT, oT) = gateTables(s, dir)
      read(s, liT)
        .join(read(s, oT).hint("merge"), "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          graft.operators.Relational.dsum(col("l_quantity")).as("total_qty"))
        .orderBy("o_orderpriority")
    },

    // Co-located aggregation: a groupBy on the bucket key over a bucketed
    // (and in-bucket sorted) table needs NO exchange — each map task
    // aggregates its own buckets to completion. This is the recurring
    // per-entity rollup (per-order, per-user, per-document) a lake runs
    // daily over its largest fact table; bucketing turns it from a full
    // shuffle of the fact table into a scan. BucketingSpec asserts the
    // executed plan is Exchange-free; the oracle proves the layout is
    // semantically invisible.
    "bk_colocated_agg" -> { (s, dir) =>
      val (liT, _) = gateTables(s, dir)
      read(s, liT)
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n_items"),
          graft.operators.Relational.dsum(col("l_quantity")).as("total_qty"))
        .orderBy("l_orderkey")
    }
  )

  /** Bench/setup hook: build the bucketed layout ahead of the timed region.
    * Bucketing is write-once-query-many — the one-time ingest shuffle is a
    * SETUP cost, not a per-query cost; without this hook the bench charged
    * the two-table build (~11 s) to whichever bk_ query happened to run
    * first, reporting ingest where the steady-state plan is ~1 s.
    */
  def ensureGateTables(s: SparkSession, dir: String): Unit = gateTables(s, dir)

  /** Build the gate's bucketed tables once per (session, corpus).
    *
    * Bucketing is a write-ONCE-query-many layout: the ingest shuffle is
    * paid at table build, every later join/agg on the bucket key is
    * exchange-free. Model that honestly — repeat invocations measure the
    * steady state. Catalog tables live per SparkContext, so they cannot sit
    * in the context-free [[Stored]] cache; instead the names carry a short
    * hash of the dir and its [[Stored.fingerprint]], so another scale
    * factor or a rewritten corpus finds no table and builds its own. The
    * in-memory catalog scopes reuse to this JVM.
    */
  private def gateTables(s: SparkSession, dir: String): (String, String) = {
    val key = f"${(dir, Stored.fingerprint(dir, s)).hashCode}%08x"
    val liT = s"bk_gate_lineitem_$key"
    val oT = s"bk_gate_orders_$key"
    if (!s.catalog.tableExists(liT) || !s.catalog.tableExists(oT)) {
      val li = graft.operators.Relational.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = graft.operators.Relational.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      writeBucketed(li, liT, "l_orderkey", 8)
      writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"), oT, "l_orderkey", 8)
    }
    (liT, oT)
  }

  val oracles: Map[String, String] = Map(
    "bk_colocated_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "bk_colocated_agg" ->
      """SELECT l_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  )
}
