package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventsSpec extends SparkSpec {

  test("winsorize: rank-exact bounds; clipping moves sums toward the interior") {
    val rows = Events.queries("ev_winsorize")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val raw = Relational.t(spark, sf(), "events")
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .groupBy(_._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val vs = raw(t).map(_._2).sorted
      val n = vs.length
      assert(r.getLong(1) == n)
      val p05 = vs((n + 19) / 20 - 1)
      val p95 = vs((19 * n + 19) / 20 - 1)
      assert(math.abs(r.getDouble(2) - p05.toDouble) < 1e-9)
      assert(math.abs(r.getDouble(3) - p95.toDouble) < 1e-9)
      val clipped = vs.map(v => v.max(p05).min(p95))
      assert(math.abs(r.getDouble(5) - clipped.sum.toDouble) < 1e-6)
      assert(r.getLong(6) == vs.count(v => v < p05 || v > p95))
      // Clipping can only pull the sum toward the interior, and about 10%
      // of points sit outside the [p05, p95] band.
      assert(r.getLong(6) <= n / 5 && r.getLong(6) > 0)
    }
  }

  test("ks two-sample: 1 on disjoint supports, 0 on identical samples, exact on a hand case") {
    import spark.implicits._
    // Type "shift": A-values all below every B-value → D = 1.
    // Type "same": A and B are the same multiset → D = 0.
    // Type "hand": A = {1,2,3}, B = {2,3,4} → ECDF gap peaks at v=1
    //   (1/3 − 0) and v=3 (1 − 2/3) → D = 1/3; numerator max |ca·3 − cb·3| = 3.
    val rows =
      (1 to 10).map(i => ("shift", i.toDouble, 1L)) ++
        (1 to 10).map(i => ("shift", 100.0 + i, 0L)) ++
        (1 to 10).flatMap(i => Seq(("same", i.toDouble, 1L), ("same", i.toDouble, 0L))) ++
        Seq(("hand", 1.0, 1L), ("hand", 2.0, 1L), ("hand", 3.0, 1L),
          ("hand", 2.0, 0L), ("hand", 3.0, 0L), ("hand", 4.0, 0L))
    val ev = rows.toDF("event_type", "value", "is_a")
    val out = Events.ksTwoSample(ev, col("is_a"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("shift") == ((10L, 10L, 100L, 1.0)))
    assert(out("same") == ((10L, 10L, 0L, 0.0)))
    assert(out("hand") == ((3L, 3L, 3L, 1.0 / 3.0)))
  }

  test("rolling features: gaps are non-negative, frames bounded, sums telescope") {
    val rows = Events.queries("ev_rolling_features")(spark, sf()).collect()
    assert(rows.length == Relational.t(spark, sf(), "events").count())
    rows.foreach { r =>
      val n3 = r.getLong(r.fieldIndex("roll3_n"))
      assert(n3 >= 1 && n3 <= 3)
      if (!r.isNullAt(r.fieldIndex("gap_us")))
        assert(r.getLong(r.fieldIndex("gap_us")) >= 0L)
      // First event of a user (null prev) must have a 1-row frame.
      if (r.isNullAt(r.fieldIndex("prev_value"))) assert(n3 == 1L)
    }
  }

  test("cusum: peak equals a straight-line replay of the scaled recursion") {
    val rows = Events.queries("ev_cusum")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val hourly = graft.streaming.EventStreams
      .windowedAgg(Relational.t(spark, sf(), "events"))
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getString(1), r.getTimestamp(0), r.getLong(2)))
    rows.foreach { r =>
      val t = r.getString(0)
      val series = hourly.filter(_._1 == t).sortBy(_._2.getTime)
      val n = series.length.toLong
      val tot = series.map(_._3).sum
      var acc = 0L; var peak = 0L; var peakH = series.head._2
      series.foreach { case (_, h, x) =>
        acc = math.max(0L, acc + n * x - tot - n * Events.CusumSlack)
        if (acc > peak) { peak = acc; peakH = h }
      }
      assert(r.getLong(r.fieldIndex("n_hours")) == n)
      assert(r.getLong(r.fieldIndex("peak_cusum")) == peak)
      assert(r.getTimestamp(r.fieldIndex("peak_hour")) == peakH)
    }
  }

  test("stickiness: wau equals a direct trailing-window distinct; ratio bounded") {
    val rows = Events.queries("ev_stickiness")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val act = Relational.t(spark, sf(), "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate)).toSet
    rows.foreach { r =>
      val day = r.getTimestamp(0).toLocalDateTime.toLocalDate
      val dau = act.count(_._2 == day).toLong
      val wau = act.filter { case (_, d) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._1).size.toLong
      assert(r.getLong(r.fieldIndex("dau")) == dau)
      assert(r.getLong(r.fieldIndex("wau")) == wau)
      val st = r.getDouble(r.fieldIndex("stickiness"))
      assert(st > 0.0 && st <= 1.0 && st == dau.toDouble / wau)
    }
  }

  test("user growth: month-stitched cumulative equals a straight running sum across months") {
    import spark.implicits._
    // Users first appearing across 4 months (some repeat later — only the
    // FIRST day counts), several days per month.
    val rows = Seq(
      (1L, "2024-01-03"), (2L, "2024-01-03"), (3L, "2024-01-20"),
      (1L, "2024-02-11"), // repeat: must not count again
      (4L, "2024-02-05"), (5L, "2024-02-05"), (6L, "2024-02-28"),
      (7L, "2024-03-15"),
      (8L, "2024-04-01"), (9L, "2024-04-01"), (10L, "2024-04-30"))
      .toDF("user_id", "d")
      .select(col("user_id"), col("d").cast("timestamp").as("ts"))
    val got = Events.userGrowth(rows).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2)))
    val want = Seq(
      ("2024-01-03", 2L, 2L), ("2024-01-20", 1L, 3L),
      ("2024-02-05", 2L, 5L), ("2024-02-28", 1L, 6L),
      ("2024-03-15", 1L, 7L),
      ("2024-04-01", 2L, 9L), ("2024-04-30", 1L, 10L))
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("windowed funnel: greedy-earliest trap, window cutoffs, equal-ts ticks") {
    import spark.implicits._
    val H = 3600L * 1000000 // 1h in micros
    def ev(uid: Long, hoursMicros: Long, t: String) =
      (uid, new java.sql.Timestamp(1704067200000L + hoursMicros / 1000), t)
    val rows = Seq(
      // u1: earliest view (0h) times out vs click@7h, but view@2h chains —
      // greedy earliest-step chaining says stage 1; EXISTS says stage 2.
      ev(1, 0, "view"), ev(1, 2 * H, "view"), ev(1, 7 * H, "click"),
      // u2: click precedes every view → stage 1.
      ev(2, 2 * H, "click"), ev(2, 3 * H, "view"),
      // u3: full chain within windows → stage 3.
      ev(3, 0, "view"), ev(3, H, "click"), ev(3, 5 * H, "purchase"),
      // u4: purchase 7h after click (> 6h window) → stage 2.
      ev(4, 0, "view"), ev(4, H, "click"), ev(4, 8 * H, "purchase"),
      // u5: click at the SAME timestamp as its view → no strict progress,
      // stage 1.
      ev(5, 0, "view"), ev(5, 0, "click"))
      .toDF("user_id", "ts", "event_type")
    val reach = Events.windowedFunnelReach(rows)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reach == Map(1L -> 2, 2L -> 1, 3L -> 3, 4L -> 2, 5L -> 1), s"got $reach")
  }

  test("markov stationary matches a driver-side power iteration; mass conserved") {
    val got = Events.queries("ev_markov_stationary")(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.values.forall(_ >= 0))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass drifted: ${got.values.sum}")
    // Straight-line replay over the full transition matrix (rebuilt
    // directly — the ev_transitions gate query is top-20-cut).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val full = Relational.t(spark, sf(), "events")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = full.keys.map(_._1).toSeq.distinct.sorted
    val rowSum = states.map(s => s -> full.collect { case ((p, _), c) if p == s => c }.sum).toMap
    var pi = states.map(s => s -> 1.0 / states.length).toMap
    for (_ <- 1 to Events.MarkovIters)
      pi = states.map { j =>
        j -> states.map(i => pi(i) * full.getOrElse((i, j), 0L).toDouble / rowSum(i)).sum
      }.toMap
    states.foreach { s =>
      assert(math.abs(got(s) - pi(s)) < 1e-9, s"$s: ${got(s)} vs ${pi(s)}")
    }
  }

  test("survival: KM invariants — risk set shrinks, log-survival falls, terminal S=0 is NULL") {
    val rows = Events.queries("ev_survival")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(rows.nonEmpty)
    // The first level's risk set is every user (all durations ≥ min level).
    val users = Relational.t(spark, sf(), "events").select("user_id").distinct().count()
    assert(rows.head._2 == users)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 < b._1 && a._2 > b._2, s"risk set must shrink strictly: $a -> $b")
      (a._4, b._4) match {
        case (Some(x), Some(y)) => assert(y < x, "log-survival must strictly fall")
        case (None, _) => fail("S=0 before the terminal level")
        case _ => ()
      }
    }
    // km_log_q is NULL exactly where conversion empties the risk set.
    rows.foreach { case (_, n, d, lq) => assert(lq.isEmpty == (n == d)) }
  }

  test("attribution: window exclusion, equal-ts touch, first/last split, none tier") {
    import spark.implicits._
    def ev(id: Long, uid: Long, hours: Long, t: String) =
      (id, new java.sql.Timestamp(1704067200000L + hours * 3600000L), uid, t)
    val rows = Seq(
      // u1: view then click precede the purchase → first=view, last=click.
      ev(1, 1, 0, "view"), ev(2, 1, 2, "click"), ev(3, 1, 3, "purchase"),
      // u2: only touch is 25h before the purchase — outside the 24h
      // lookback → none under both models.
      ev(4, 2, 0, "view"), ev(5, 2, 25, "purchase"),
      // u3: no touch at all → none.
      ev(6, 3, 1, "purchase"),
      // u4: touch at the SAME timestamp as the purchase — RANGE peers are
      // in the frame → attributed.
      ev(7, 4, 0, "click"), ev(8, 4, 0, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = Events.attributionModels(rows)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("first", "view") -> 1L, ("first", "click") -> 1L, ("first", "none") -> 2L,
      ("last", "click") -> 2L, ("last", "none") -> 2L), s"got $got")
    // Each model credits every purchase exactly once.
    assert(got.filter(_._1._1 == "first").values.sum == 4L)
    assert(got.filter(_._1._1 == "last").values.sum == 4L)
  }

  test("cuped: moments, theta, adjusted means and variances equal a straight-line recompute") {
    val rows = Events.queries("ev_cuped")(spark, sf()).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "B"))
    // Raw per-user (x, y) cent sums around the corpus midpoint, driver-side.
    val ev = Relational.t(spark, sf(), "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mn = ev.map(_._2).min; val mx = ev.map(_._2).max
    val mid = mn + (mx - mn) / 2
    val perUser = ev.groupBy(_._1).map { case (u, es) =>
      (u, es.filter(_._2 < mid).map(_._3).sum, es.filter(_._2 >= mid).map(_._3).sum)
    }.toSeq
    // Arm assignment must match the engine's hash family.
    val armOf = Relational.t(spark, sf(), "events")
      .select(col("user_id")).distinct()
      .select(col("user_id"), (Pipeline.bucket(col("user_id")) < 50).as("isA"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def moments(xs: Seq[(Long, Long)]): (Long, BigInt, BigInt, BigInt, BigInt, BigInt) =
      (xs.length.toLong,
        xs.map(p => BigInt(p._1)).sum, xs.map(p => BigInt(p._2)).sum,
        xs.map(p => BigInt(p._1) * p._1).sum, xs.map(p => BigInt(p._1) * p._2).sum,
        xs.map(p => BigInt(p._2) * p._2).sum)
    val a = moments(perUser.filter(p => armOf(p._1)).map(p => (p._2, p._3)))
    val b = moments(perUser.filterNot(p => armOf(p._1)).map(p => (p._2, p._3)))
    val (gn, gsx, gsy, gsxx, gsxy) =
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5)
    val theta = (gn.toDouble * gsxy.toDouble - gsx.toDouble * gsy.toDouble) /
      (gn.toDouble * gsxx.toDouble - gsx.toDouble * gsx.toDouble)
    rows.foreach { r =>
      val m = if (r.getString(0) == "A") a else b
      val (n, sx, sy, sxx, sxy, syy) = m
      assert(r.getLong(r.fieldIndex("n")) == n)
      assert(math.abs(r.getDouble(r.fieldIndex("theta")) - theta) < 1e-12)
      val meanY = sy.toDouble / n
      assert(math.abs(r.getDouble(r.fieldIndex("mean_y")) - meanY) < 1e-9)
      val meanCuped = meanY - theta * (sx.toDouble / n - gsx.toDouble / gn.toDouble)
      assert(math.abs(r.getDouble(r.fieldIndex("mean_y_cuped")) - meanCuped) < 1e-9)
      val varY = (syy.toDouble - sy.toDouble * sy.toDouble / n) / (n - 1.0)
      val covXY = (sxy.toDouble - sx.toDouble * sy.toDouble / n) / (n - 1.0)
      val varX = (sxx.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1.0)
      val varCuped = varY - 2.0 * theta * covXY + theta * theta * varX
      assert(math.abs(r.getDouble(r.fieldIndex("var_y")) - varY) / varY < 1e-12)
      assert(math.abs(r.getDouble(r.fieldIndex("var_y_cuped")) - varCuped) / varY < 1e-12)
      assert(math.abs(r.getDouble(r.fieldIndex("var_reduction")) -
        (1.0 - varCuped / varY)) < 1e-9)
    }
  }

  test("ab conversion: 2x2 cells and chi-square equal a straight-line recompute") {
    val Array(r) = Events.queries("ev_ab_conversion")(spark, sf()).collect()
    val perUser = Relational.t(spark, sf(), "events")
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(Pipeline.bucket(col("user_id")).as("b"), col("np"))
      .collect().map(x => (x.getLong(x.fieldIndex("b")) < 50,
        x.getLong(x.fieldIndex("np")) >= Events.ConvPurchases))
    val na = perUser.count(_._1); val nb = perUser.length - na
    val ca = perUser.count(p => p._1 && p._2); val cb = perUser.count(p => !p._1 && p._2)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((na.toLong, nb.toLong, ca.toLong, cb.toLong)))
    val dev = ca.toLong * (nb - cb) - cb.toLong * (na - ca)
    assert(r.getLong(r.fieldIndex("dev")) == dev)
    assert(ca > 0 && ca < na && cb > 0 && cb < nb, "conversion split must have variation")
    val chi2 = (na + nb).toDouble * dev.toDouble * dev.toDouble /
      (na.toDouble * nb.toDouble * (ca + cb).toDouble * (na + nb - ca - cb).toDouble)
    assert(r.getDouble(r.fieldIndex("chi2")) == chi2)
  }

  test("rfm: scores are balanced quintiles and the segment encodes them") {
    val rows = Events.queries("ev_rfm")(spark, sf()).collect()
    val n = rows.length
    assert(n > 0)
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val byScore = rows.groupBy(_.getInt(rows.head.fieldIndex(c))).view.mapValues(_.length)
      assert(byScore.keys.toSet.subsetOf((1 to 5).toSet), s"$c out of range")
      // Equi-depth buckets: (rk−1)·5 div n puts either ⌊n/5⌋ or ⌈n/5⌉ per score.
      byScore.values.foreach(sz => assert(sz == n / 5 || sz == n / 5 + (if (n % 5 == 0) 0 else 1),
        s"$c bucket sizes unbalanced: ${byScore.toMap}"))
    }
    rows.foreach { r =>
      val seg = r.getString(r.fieldIndex("segment"))
      val want = s"${r.getInt(r.fieldIndex("r_score"))}${r.getInt(r.fieldIndex("f_score"))}${r.getInt(r.fieldIndex("m_score"))}"
      assert(seg == want)
    }
  }

  test("locf: dense hourly spine; imputed values carry the last observation forward") {
    val rows = Events.queries("ev_locf")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getBoolean(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, series) =>
      val s = series.sortBy(_._2.getTime)
      // Dense: consecutive hours, no gaps.
      s.zip(s.tail).foreach { case (a, b) =>
        assert(b._2.getTime - a._2.getTime == 3600 * 1000L, s"$t spine gap")
      }
      // Carry-forward: unobserved hours repeat the previous imputed value;
      // observed hours define it.
      var carry = 0L
      s.foreach { case (_, _, observed, imputed) =>
        if (observed) carry = imputed
        else assert(imputed == carry, s"$t LOCF break")
      }
      // Some gap must exist at sf0.001 for the op to be exercised.
      assert(s.exists(!_._3), s"$t has no gaps — test corpus too dense")
    }
  }

  test("transitions: counts sum to events minus users (one chain per user)") {
    val rows = Events.queries("ev_transitions")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    val ev = Relational.t(spark, sf(), "events")
    val n = ev.count()
    val users = ev.select("user_id").distinct().count()
    // At sf0.001 there are ≤ 25 distinct transitions, so the top-20 list
    // covers all but the smallest; bound rather than equate when truncated.
    if (rows.length < 20) assert(total == n - users)
    else assert(total <= n - users && total > (n - users) * 8 / 10)
    // Deterministic ordering: counts non-increasing.
    val counts = rows.map(_.getLong(2))
    counts.zip(counts.tail).foreach { case (a, b) => assert(a >= b) }
  }

  test("mad outliers: median/MAD/count equal a straight-line reference computation") {
    val got = Events.queries("ev_mad_outliers")(spark, sf()).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    val raw = Relational.t(spark, sf(), "events")
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .groupBy(_._1)
    raw.foreach { case (t, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      def med2(s: Seq[BigDecimal]) = s((s.length - 1) / 2) + s(s.length / 2)
      val m2 = med2(sorted)
      val dev2 = sorted.map(v => (v * 2 - m2).abs).sorted
      val mad4 = med2(dev2)
      val nOut = dev2.count(d => d * 2 > mad4 * 3)
      val (gn, gmed, gmad, gout) = got(t)
      assert(gn == n)
      assert(math.abs(gmed - (m2 / 2).toDouble) < 1e-9, s"median for $t")
      assert(math.abs(gmad - (mad4 / 4).toDouble) < 1e-9, s"mad for $t")
      assert(gout == nOut, s"outlier count for $t")
      // The estimator is robust: at most half the points can be flagged.
      assert(nOut <= n / 2)
    }
  }

  test("autocorrelation equals a driver-side pearson over lagged daily counts") {
    val r = Events.queries("ev_autocorr")(spark, sf()).head()
    val daily = Relational.t(spark, sf(), "events")
      .select(expr("unix_micros(ts) DIV 86400000000").as("dy"))
      .groupBy("dy").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val pairs = daily.toSeq.collect {
      case (dy, x) if daily.contains(dy + 1) => (x.toDouble, daily(dy + 1).toDouble)
    }
    assert(r.getLong(0) == pairs.length)
    val n = pairs.length
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val expected = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(r.getDouble(1) - expected) < 1e-9, s"r1 ${r.getDouble(1)} vs $expected")
    assert(math.abs(r.getDouble(1)) <= 1.0)
  }

  test("hll rollup: merged daily sketches track exact weekly distincts") {
    // The query emits (week, exact_users, within_bound) — the 5% sketch
    // bound is checked in-plan; the spec asserts every verdict and
    // re-proves the exact column against an independent recount.
    val got = Events.queries("ev_hll_rollup")(spark, sf()).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

    val exact = Relational.t(spark, sf(), "events")
      .groupBy(floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
        .cast("int").as("week"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    assert(got.keySet == exact.keySet, s"week sets differ: $got vs $exact")
    exact.foreach { case (w, n) =>
      val (e, bound) = got(w)
      assert(e == n, s"week $w: exact_users $e vs recount $n")
      // Default lgK=12 HLL on a few hundred distincts: ≈exact; 5% bound.
      assert(bound, s"week $w: merged sketch left the 5% bound")
    }

    // Merging daily sketches must estimate like one sketch built from the
    // raw week — the lossless-merge property that makes the sketch table a
    // valid distinct-count materialized view. The merged estimate is no
    // longer a query output column (the gated shape emits exact +
    // within_bound), so rebuild the daily→weekly union here.
    val weekOf = floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
      .cast("int").as("week")
    val merged = Relational.t(spark, sf(), "events")
      .select(col("user_id"), to_date(col("ts")).as("day"), weekOf)
      .groupBy("week", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("week")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = Relational.t(spark, sf(), "events")
      .groupBy(floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
        .cast("int").as("week"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    direct.foreach { case (w, d) =>
      assert(math.abs(merged(w) - d).toDouble / math.max(d, 1) <= 0.01,
        s"week $w: merged ${merged(w)} vs direct $d")
    }
  }

  test("anomaly flags exactly the windows beyond 2 sample stddevs (integer recompute)") {
    val flagged = Events.queries("ev_anomaly")(spark, sf()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1))).toSet
    // Independent recomputation on the driver with the same exact integer
    // criterion, from the raw hourly series.
    val hourly = graft.streaming.EventStreams
      .windowedAgg(Relational.t(spark, sf(), "events"))
      .select(col("window_start"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val expected = hourly.groupBy(_._2).toSeq.flatMap { case (tpe, rows) =>
      val n = rows.length.toLong
      val s = rows.map(_._3).sum
      val s2 = rows.map(x => x._3 * x._3).sum
      rows.collect {
        case (ts, _, x) if n > 1 &&
          (x * n - s) * (x * n - s) * (n - 1) > 4 * n * (n * s2 - s * s) => (ts, tpe)
      }
    }.toSet
    assert(flagged == expected)
    assert(flagged.nonEmpty, "corpus should contain at least one >2-sigma hour")
  }

  test("changepoint locates a planted mean shift exactly; constant series tie-break is the first day") {
    import spark.implicits._
    // Type "a": 20 days at 10.00 then 10 days at 50.00 - the centered-CUSUM
    // |n*S_t - t*S_n| is maximized exactly at the last pre-shift day.
    // Type "b": constant - every D_t is 0, so the deterministic
    // (|D| DESC, day ASC) tie-break must pick the FIRST day and both
    // segment means must equal the level.
    def ev(id: Long, day: Long, typ: String, v: Double) =
      (id, new java.sql.Timestamp(day * 86400000L), 1L, typ, v, null: String)
    val rows =
      (0L until 30L).map(d => ev(d, d, "a", if (d < 20) 10.0 else 50.0)) ++
        (0L until 30L).map(d => ev(100 + d, d, "b", 7.0))
    val dir = SparkSpec.tempDir("cp").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = Events.queries("ev_changepoint")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toList
    assert(got.map(_._1) == List("a", "b"))
    val a = got.head
    assert(a._2 == 30L && a._3 == 19L, s"shift must split after day 19: $a")
    assert(a._5 == 10.0 && a._6 == 50.0, s"segment means must be exact: $a")
    // D_t at the true split, scaled by n: |30*(20*1000) - 20*(20*1000+10*5000)| cents.
    assert(a._4 == math.abs(30L * 20000 - 20L * 70000), s"unexpected D: $a")
    val b = got(1)
    assert(b._3 == 0L && b._4 == 0L && b._5 == 7.0 && b._6 == 7.0,
      s"constant series must tie-break to day 0 with equal means: $b")
  }
}
