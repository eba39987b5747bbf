package graft.operators

import graft.SparkSpec
import graft.functions.BitmapDistinct
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {

  test("seasonality: deviations sum to zero; chi-square equals a direct recompute") {
    val rows = Analytics.queries("an_seasonality")(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0 until 7))
    val n = rows.map(_._2).sum
    assert(rows.map(_._3).sum == 0L)
    rows.foreach { case (_, nd, dev, _) => assert(dev == 7 * nd - n) }
    val chi2 = (7.0 * rows.map(d => d._2.toDouble * d._2).sum - n.toDouble * n) / n
    rows.foreach { case (_, _, _, c) => assert(math.abs(c - chi2) < 1e-6) }
    assert(n == Relational.t(spark, sf(), "events").count())
  }

  test("mann-whitney U equals a driver-side midrank recompute") {
    val r = Analytics.queries("an_mannwhitney")(spark, sf()).head()
    val rows = Relational.t(spark, sf(), "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val n1 = rows.count(_._1 == "F").toLong
    val n2 = rows.count(_._1 == "O").toLong
    // Classic per-row midranks over the pooled sample.
    val byValue = rows.map(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val below = {
      val vs = byValue.keys.toSeq.sorted
      vs.zip(vs.scanLeft(0L)((a, v) => a + byValue(v))).toMap
    }
    def midrank(v: Long): Double = below(v) + (byValue(v) + 1) / 2.0
    val rank1 = rows.collect { case ("F", v) => midrank(v) }.sum
    val u1 = rank1 - n1 * (n1 + 1) / 2.0
    assert(r.getLong(0) == n1 && r.getLong(1) == n2)
    assert(math.abs(r.getDouble(2) - u1) < 1e-6, s"U1 ${r.getDouble(2)} vs $u1")
    // z is finite and centered sanely: |z| below any astronomical blowup.
    assert(!r.isNullAt(3) && math.abs(r.getDouble(3)) < 50)
  }

  test("an_runs survives near-constant daily series (degenerate guards)") {
    import spark.implicits._
    def eventsDir(counts: Seq[Int]): String = {
      val dir = SparkSpec.tempDir("an_runs_degen").toString
      counts.zipWithIndex.flatMap { case (n, d) =>
        (0 until n).map(i => java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:$i%02d:00"))
      }.toDF("ts").write.parquet(s"$dir/events.parquet")
      dir
    }
    // Exactly ONE non-median day kept: the adjacent frame is empty, so t
    // must coalesce to 0 (one run), and z's variance is 0 → NULL.
    val one = Analytics.queries("an_runs")(spark, eventsDir(Seq(2, 2, 3, 2, 2))).head()
    assert((one.getLong(0), one.getLong(1), one.getLong(2), one.getLong(3)) == ((1L, 1L, 0L, 1L)))
    assert(one.isNullAt(4), "z must be NULL when the runs variance is zero")
    // Fully constant series: nothing kept — zero days, zero runs, NULL z.
    val const = Analytics.queries("an_runs")(spark, eventsDir(Seq(2, 2, 2, 2, 2))).head()
    assert((const.getLong(0), const.getLong(3)) == ((0L, 0L)))
    assert(const.isNullAt(4))
  }

  test("skyline: equals brute-force pareto frontier; mutually non-dominating") {
    val rows = Analytics.queries("an_skyline")(spark, sf()).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // Brute force on the collected distinct point set.
    val pts = Relational.t(spark, sf(), "part")
      .groupBy(col("p_retailprice").as("p"), col("p_size").cast("long").as("s"))
      .agg(count(lit(1)).as("n"), min("p_partkey").as("pk"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def dominates(a: (Double, Long, Long, Long), b: (Double, Long, Long, Long)) =
      a._1 <= b._1 && a._2 <= b._2 && (a._1 < b._1 || a._2 < b._2)
    val brute = pts.filter(q => !pts.exists(p => dominates(p, q)))
    assert(rows.toSet == brute.toSet)
    // Frontier is strictly decreasing in size as price increases.
    val sorted = rows.sortBy(_._1)
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a._1 < b._1 && a._2 > b._2, s"$a vs $b not strictly staircase")
    }
  }

  test("linreg: slope/intercept match an independent double-precision fit closely") {
    val rows = Analytics.queries("an_linreg")(spark, sf()).collect()
    assert(rows.length > 1)
    val data = Relational.t(spark, sf(), "lineitem")
      .join(Relational.t(spark, sf(), "part"), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_quantity"), col("l_extendedprice"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val xs = data(r.getString(0)).map(t => (t.getDouble(1), t.getDouble(2)))
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
      val sxx = xs.map(t => t._1 * t._1).sum
      val sxy = xs.map(t => t._1 * t._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy - slope * sx) / n
      assert(math.abs(r.getDouble(2) - slope) < 1e-6 * math.max(1, math.abs(slope)))
      assert(math.abs(r.getDouble(3) - intercept) < 1e-6 * math.max(1, math.abs(intercept)))
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
    }
  }

  test("gini: matches the straight-line rank formulation; bounded in [0, 1)") {
    val row = Analytics.queries("an_gini")(spark, sf()).collect().head
    val (n, total, g) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val spends = Relational.t(spark, sf(), "orders")
      .groupBy("o_custkey").agg(sum(col("o_totalprice").cast(
        org.apache.spark.sql.types.DecimalType(18, 2))).as("x"))
      .collect().map(r => BigDecimal(r.getDecimal(1))).sorted
    assert(n == spends.length)
    assert(math.abs(total - spends.sum.toDouble) < 1e-6)
    val sxr = spends.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val expected = (2 * sxr.toDouble - (n + 1) * spends.sum.toDouble) / (n * spends.sum.toDouble)
    assert(math.abs(g - expected) < 1e-9)
    assert(g >= 0.0 && g < 1.0)
  }

  test("chisq: deviations and cell contributions match the contingency table") {
    val got = Analytics.queries("an_chisq")(spark, sf()).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(got.nonEmpty)
    val cells = Relational.t(spark, sf(), "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = cells.values.sum
    val rT = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cT = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    got.foreach { case ((lang, src), (o, dev, chi2)) =>
      assert(o == cells((lang, src)))
      assert(dev == n * o - rT(lang) * cT(src))
      val expect = dev.toDouble * dev.toDouble / (n.toDouble * rT(lang).toDouble * cT(src).toDouble)
      assert(math.abs(chi2 - expect) < 1e-12)
      assert(chi2 >= 0.0)
    }
    // Top-15 really is the 15 largest |dev| cells.
    val allDevs = cells.map { case ((l, s2), o) => math.abs(n * o - rT(l) * cT(s2)) }.toSeq
    val floor = got.map(g => math.abs(g._2._2)).min
    assert(allDevs.count(_ > floor) < 15)
  }

  test("pareto: n_top80 equals a sequential greedy cover of 80% revenue") {
    val Array(r) = Analytics.queries("an_pareto")(spark, sf()).collect()
    val cents = Relational.t(spark, sf(), "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val total = cents.map(_._2).sum
    val sorted = cents.sortBy { case (k, c) => (-c, k) }
    var cum = 0L; var k = 0
    while (5 * cum < 4 * total) { cum += sorted(k)._2; k += 1 }
    assert(r.getLong(r.fieldIndex("n_customers")) == cents.length.toLong)
    assert(r.getLong(r.fieldIndex("n_top80")) == k.toLong)
    assert(k > 0 && k < cents.length, "concentration must be non-degenerate")
  }

  test("benford: digits partition the orders; deviation identity holds exactly") {
    val rows = Analytics.queries("an_benford")(spark, sf()).collect()
    val total = Relational.t(spark, sf(), "orders").count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_orders"))).sum == total)
    assert(rows.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    val ppm = Analytics.BenfordPpm.toMap
    rows.foreach { r =>
      val d = r.getInt(r.fieldIndex("digit"))
      val nd = r.getLong(r.fieldIndex("n_orders"))
      assert(r.getLong(r.fieldIndex("exp_ppm")) == ppm(d))
      assert(r.getLong(r.fieldIndex("dev_ppm_n")) == nd * 1000000L - ppm(d) * total)
      assert(r.getDouble(r.fieldIndex("observed")) == nd.toDouble / total)
    }
  }

  test("bitmap distinct: equals exact count(distinct) per group") {
    val got = Analytics.queries("an_bitmap_distinct")(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Relational.t(spark, sf(), "events")
      .groupBy("event_type").agg(countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
    assert(got.values.sum > 0)
  }

  test("bitmap aggregator: merge is a set union; popcount exact at segment edges") {
    val edge = Seq(0, 63, 64, 255, 0, 63) // duplicates must not double-count
    val b = edge.foldLeft(BitmapDistinct.Agg.zero)(BitmapDistinct.Agg.reduce)
    assert(BitmapDistinct.Agg.finish(b) == 4)
    val left = Seq(1, 2, 3).foldLeft(BitmapDistinct.Agg.zero)(BitmapDistinct.Agg.reduce)
    val right = Seq(3, 4, 200).foldLeft(BitmapDistinct.Agg.zero)(BitmapDistinct.Agg.reduce)
    assert(BitmapDistinct.Agg.finish(BitmapDistinct.Agg.merge(left, right)) == 5)
  }
}
