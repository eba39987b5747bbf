package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualitySpec extends SparkSpec {

  test("referential audit: null keys, orphans, duplicate PKs and an empty FK table count exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("dq-referential")
    def table(name: String, cols: (String, DataType)*)(rows: Row*): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(cols.map { case (c, t) => StructField(c, t) }))
        .write.parquet(dir.resolve(s"$name.parquet").toString)
    val (b, i) = (LongType, IntegerType)
    table("lineitem", "l_orderkey" -> b, "l_partkey" -> b, "l_suppkey" -> b)(
      Row(1L, 10L, 100L), Row(1L, 10L, 100L), Row(null, 11L, 100L), Row(99L, 77L, null))
    table("orders", "o_orderkey" -> b, "o_custkey" -> b)(
      Row(1L, 5L), Row(1L, 5L), Row(null, 555L))
    table("customer", "c_custkey" -> b, "c_nationkey" -> i)(Row(5L, 3), Row(null, null))
    table("supplier", "s_suppkey" -> b, "s_nationkey" -> i)()
    table("nation", "n_nationkey" -> i, "n_regionkey" -> i)(Row(3, 0), Row(3, 7))
    table("region", "r_regionkey" -> i)(Row(0))
    table("part", "p_partkey" -> b)(Row(10L), Row(10L), Row(null))
    // The DuckDB oracle's answer on this corpus (Quality.oracles), as
    // (constraint_name, n_rows, n_null_fk, n_orphans, n_dup_pk).
    val rows = Quality.queries("dq_referential")(spark, dir.toString).collect().toSeq
      .map(r => (r.getString(0), r.get(1), r.get(2), r.get(3), r.get(4)))
    assert(rows == Seq(
      ("customer.c_nationkey->nation.n_nationkey", 2L, 1L, 0L, 1L),
      ("lineitem.l_orderkey->orders.o_orderkey", 4L, 1L, 1L, 2L),
      ("lineitem.l_partkey->part.p_partkey", 4L, 0L, 2L, 2L),
      ("lineitem.l_suppkey->supplier.s_suppkey", 4L, 1L, 3L, 0L),
      ("nation.n_regionkey->region.r_regionkey", 2L, 0L, 1L, 0L),
      ("orders.o_custkey->customer.c_custkey", 3L, 0L, 1L, 1L),
      ("supplier.s_nationkey->nation.n_nationkey", 0L, 0L, 0L, 1L)))
  }

  test("referential audit executes as one aggregate: at most 4 Spark jobs") {
    val df = Quality.queries("dq_referential")(spark, sf())
    val jobs = jobsStartedBy(df.write.format("noop").mode("overwrite").save())
    assert(jobs <= 4, s"dq_referential started $jobs jobs")
  }

  test("k-anonymity: reported groups are exactly those under K") {
    val flagged = Quality.queries("dq_k_anonymity")(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val all = Relational.t(spark, sf(), "customer")
      .groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(flagged == all.filter(_._2 < Quality.KAnonymity))
    flagged.values.foreach(n => assert(n > 0 && n < Quality.KAnonymity))
  }

  test("t-closeness: tvd in [0,1], covers every QI group, matches a driver-side recompute") {
    val rows = Quality.queries("dq_t_closeness")(spark, sf()).collect()
    val fact = Relational.t(spark, sf(), "customer")
      .join(Relational.t(spark, sf(), "orders"), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("o_orderpriority"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getString(2)))
    val bigN = fact.length.toLong
    val globalDist = fact.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSet ==
      fact.map(_._1).toSet, "one row per observed QI group")
    rows.foreach { r =>
      val key = (r.getInt(0), r.getString(1))
      val n = r.getLong(r.fieldIndex("n"))
      val tvd = r.getDouble(r.fieldIndex("tvd"))
      assert(tvd >= 0.0 && tvd <= 1.0)
      // Exact recompute of D = Σ_v |ns·N − Ns·n| over the full value set,
      // including values the group is missing.
      val grpDist = fact.filter(_._1 == key).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      assert(n == grpDist.values.sum)
      val dNum = globalDist.map { case (v, gs) =>
        (BigInt(grpDist.getOrElse(v, 0L)) * bigN - BigInt(gs) * n).abs
      }.sum
      val expected = dNum.toDouble / (2.0 * n.toDouble * bigN.toDouble)
      assert(math.abs(tvd - expected) < 1e-12, s"$key: $tvd vs $expected")
    }
  }

  test("pseudonymized join preserves cleartext join cardinalities; no cleartext ids survive") {
    val out = Quality.queries("dq_pseudonymize")(spark, sf())
    assert(out.columns.toSeq == Seq("pid", "c_mktsegment", "n_events", "total_value"))
    val rows = out.collect()
    // The surrogate is an opaque 32-hex digest, never the source integer.
    rows.foreach(r => assert(r.getString(0).matches("[0-9a-f]{32}")))
    // Injective on this domain: one surrogate per distinct cleartext user.
    val ev = Relational.t(spark, sf(), "events")
    val users = ev.select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(rows.map(_.getString(0)).distinct.length.toLong == users)
    // The pseudonymous join loses no fact rows vs the cleartext join.
    val cleartext = ev.join(
      Relational.t(spark, sf(), "customer"),
      col("user_id") === col("c_custkey")).count()
    assert(rows.map(_.getLong(2)).sum == cleartext)
  }

  test("erasure audit counts are the exact pre/post contract of a versioned REPLACE purge") {
    import graft.sources.Versioned
    val audit = Quality.queries("dq_erasure")(spark, sf()).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit.keySet == Set("customer", "orders", "lineitem"))
    // Cascade sanity: some rows purge at every level, none purge fully.
    audit.values.foreach { case (before, purged, after) =>
      assert(purged > 0 && purged < before && after == before - purged)
    }
    // Apply the purge physically: REPLACE-commit the surviving customers
    // into a versioned table; the new version must hold exactly n_after
    // rows and zero requested keys, while time travel still reads the
    // pre-purge version in full (the audit trail survives the erasure).
    val dir = SparkSpec.tempDir("erasure").toString
    val cust = Relational.t(spark, sf(), "customer")
    val req = cust.filter(Pipeline.bucket(col("c_custkey")) < Quality.ErasurePct)
      .select(col("c_custkey").as("k"))
    val v0 = Versioned.append(cust, dir)
    val v1 = Versioned.replace(
      cust.join(req, col("c_custkey") === col("k"), "left_anti"), dir)
    assert(Versioned.readVersion(spark, dir, v1).count() == audit("customer")._3)
    assert(Versioned.readVersion(spark, dir, v1)
      .join(req, col("c_custkey") === col("k")).count() == 0)
    assert(Versioned.readVersion(spark, dir, v0).count() == audit("customer")._1)
  }

  test("profile: nulls, duplicates and an empty table count exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("dq-profile")
    val schema = StructType(Seq(
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_shipdate", TimestampNTZType)))
    def day(d: String) = java.time.LocalDate.parse(d).atStartOfDay
    def profile(name: String, rows: Row*) = {
      val corpus = dir.resolve(name)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(corpus.resolve("lineitem.parquet").toString)
      Quality.queries("dq_profile")(spark, corpus.toString).collect().toSeq
        .map(r => (r.getString(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5)))
    }
    // The DuckDB oracle's answer on each corpus (Quality.oracles), as
    // (column_name, n, n_null, n_distinct, min_value, max_value).
    assert(profile("dups",
      Row(1.0, 10.5, "A", day("1995-01-01")),
      Row(1.0, 10.5, "A", day("1995-01-01")),
      Row(null, 20.25, "R", day("1996-03-15")),
      Row(3.0, null, null, day("1996-03-15")),
      Row(2.5, 10.5, "N", null),
      Row(null, null, "N", day("1994-12-31"))) == Seq(
      ("l_extendedprice", 6L, 2L, 2L, "10.50", "20.25"),
      ("l_quantity", 6L, 2L, 3L, "1.00", "3.00"),
      ("l_returnflag", 6L, 1L, 3L, "A", "R"),
      ("l_shipdate", 6L, 1L, 3L, "1994-12-31 00:00:00", "1996-03-15 00:00:00")))
    assert(profile("empty") == Seq("l_extendedprice", "l_quantity", "l_returnflag", "l_shipdate")
      .map(c => (c, 0L, 0L, 0L, null, null)))
  }

  test("profile stats match directly computed column facts") {
    val rows = Quality.queries("dq_profile")(spark, sf()).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(rows.keySet == Set("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"))
    val li = Relational.t(spark, sf(), "lineitem")
    val n = li.count()
    rows.values.foreach { case (gn, nNull, nDist, minV, maxV) =>
      assert(gn == n)
      assert(nNull == 0) // corpus has no nulls in the profiled columns
      assert(nDist > 0 && nDist <= n)
      assert(minV.nonEmpty && maxV.nonEmpty)
    }
    val flagDist = li.select(countDistinct("l_returnflag")).collect().head.getLong(0)
    assert(rows("l_returnflag")._3 == flagDist)
    val qtyMin = li.select(min(col("l_quantity").cast(
      org.apache.spark.sql.types.DecimalType(18, 2)))).collect().head.getDecimal(0)
    assert(rows("l_quantity")._4 == qtyMin.toString)
  }
}
