package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("bucketed join on the bucket key needs no shuffle exchange") {
    val li = Tables.t(spark, sf(), "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.t(spark, sf(), "orders").select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    Bucketing.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"), "b_orders", "l_orderkey", 8)
    // Force the non-broadcast path: the point is the bucket-aligned
    // sort-merge join with no shuffle (a broadcast would hide it).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.read(spark, "b_lineitem")
        .join(Bucketing.read(spark, "b_orders"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed join should be shuffle-free:\n$plan")
      // and it still computes the right thing
      val expected = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // Bucketed tables, the gate's included, are external: their files are
    // not under the warehouse dir, where nothing would ever delete them.
    Bucketing.ensureGateTables(spark, sf())
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val tables = Seq("b_lineitem", "b_orders") ++
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("bk_gate_"))
    assert(tables.size >= 4, s"expected the two gate tables: $tables")
    tables.foreach { t =>
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
        .collectFirst { case r if r.getString(0) == "Location" => r.getString(1) }.get
      assert(!loc.stripPrefix("file:").startsWith(warehouse), s"$t is stored under the warehouse dir: $loc")
    }
  }

  test("gate query bk_colocated_join joins bucket-to-bucket with no exchange on the key") {
    val df = Bucketing.queries("bk_colocated_join")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    // The join itself must be exchange- and sort-free on the bucket key;
    // the only hash exchange allowed is the downstream group-by on
    // o_orderpriority.
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed gate join must not shuffle on the bucket key:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected the pinned sort-merge join:\n$plan")
    assert(df.count() > 0)
  }

  test("gate query bk_colocated_agg aggregates bucket-locally with no exchange") {
    val df = Bucketing.queries("bk_colocated_agg")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed gate agg must not shuffle:\n$plan")
    assert(df.count() > 0)
  }

  test("aggregation on the bucket key is also exchange-free") {
    val agg = Bucketing.read(spark, "b_lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("q"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"bucketed agg should be shuffle-free:\n$plan")
  }

  test("point lookup on the bucket key prunes to one bucket's files") {
    // The third bucketed-layout dividend beside shuffle-free joins and
    // aggs: an equality predicate on the bucket key hashes to ONE bucket at
    // planning time, so the scan reads 1/N of the table's files — the
    // needle-in-100-TB lookup path. Asserted from the scan node's
    // SelectedBucketsCount annotation.
    val li = Tables.t(spark, sf(), "lineitem").select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(li, "b_li_prune", "l_orderkey", 8)
    // A bare filter has no distribution-consuming operator, so the planner's
    // auto-bucketed-scan heuristic would fall back to a plain file scan and
    // skip bucket pruning with it; pin bucketed reading on for the lookup.
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val df = Bucketing.read(spark, "b_li_prune").filter(col("l_orderkey") === 42L)
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.toString.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected one selected bucket:\n$scan")
      // And the pruned scan still answers exactly.
      val expected = Tables.t(spark, sf(), "lineitem").filter(col("l_orderkey") === 42L).count()
      assert(df.count() == expected)
    } finally spark.conf.set(key, prev)
  }
}
