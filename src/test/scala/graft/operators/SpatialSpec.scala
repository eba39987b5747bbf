package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SpatialSpec extends SparkSpec {

  test("radius join: grid decomposition equals the brute-force all-pairs result") {
    val grid = Spatial.queries("geo_radius_join")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Brute force over the same derived points, computed independently.
    val pts = Relational.t(spark, sf(), "customer").select(
      col("c_custkey"),
      (graft.functions.HashFunctions.md5Long(Spatial.xSeed, col("c_custkey")) % Spatial.Extent).as("x"),
      (graft.functions.HashFunctions.md5Long(Spatial.ySeed, col("c_custkey")) % Spatial.Extent).as("y")
    ).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a < b
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
      if d2 <= Spatial.Radius * Spatial.Radius
    } yield (a, b, d2)
    assert(grid.toSet == brute.toSet)
    assert(grid.nonEmpty, "radius must capture at least one pair at sf0.001")
  }

  test("nearest neighbor: symmetric pair membership and minimality") {
    val nn = Spatial.queries("geo_nn")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(nn.nonEmpty)
    val pairs = Spatial.queries("geo_radius_join")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Each directed nn edge appears (in some orientation) in the radius join,
    // with the same distance.
    val undirected = pairs.flatMap { case (a, b, d) => Seq((a, b, d), (b, a, d)) }.toSet
    nn.foreach { case (a, b, d) => assert(undirected.contains((a, b, d)), s"$a->$b") }
    // Minimality: no strictly closer neighbor for any point.
    val byPoint = undirected.groupBy(_._1)
    nn.foreach { case (a, _, d) =>
      assert(byPoint(a).forall(_._3 >= d), s"point $a has a closer neighbor than $d")
    }
    // Tie-break: among equal-distance neighbors the lowest id wins.
    nn.foreach { case (a, b, d) =>
      val ties = byPoint(a).filter(_._3 == d).map(_._2)
      assert(ties.min == b, s"tie-break for $a")
    }
  }

  test("core points: neighbor counts consistent with the radius-join pair set") {
    val cores = Spatial.queries("geo_core_points")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Undirected pairs → per-point degree.
    val deg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    Spatial.queries("geo_radius_join")(spark, sf()).collect().foreach { r =>
      deg(r.getLong(0)) += 1; deg(r.getLong(1)) += 1
    }
    val expected = deg.toMap.filter(_._2 >= Spatial.MinPts)
    assert(cores == expected, s"census differs: got $cores want $expected")
    cores.values.foreach(n => assert(n >= Spatial.MinPts))
  }

  test("dbscan: clusters equal a driver-side union-find over the pair set") {
    val got = Spatial.queries("geo_dbscan")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = Spatial.queries("geo_radius_join")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    pairs.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val cores = deg.filter(_._2 >= Spatial.MinPts).keySet.toSet
    // Union-find over core-core edges.
    val parent = scala.collection.mutable.Map(cores.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      if (cores(a) && cores(b)) parent(find(a)) = find(b)
    }
    val coreCluster = cores.map(c => c -> cores.filter(d => find(d) == find(c)).min).toMap
    val borderCluster = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).collect { case (p, c) if !cores(p) && cores(c) => p -> coreCluster(c) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val exp = (coreCluster.values.map(c => c -> ((1L, 0L))) ++
      borderCluster.values.map(c => c -> ((0L, 1L))))
      .groupBy(_._1).map { case (c, xs) =>
        (c, xs.map(_._2._1).sum, xs.map(_._2._2).sum)
      }.toSeq.sortBy(_._1)
    assert(got.toSeq == exp, s"got ${got.toSeq} want $exp")
    // Border points are never cores; every cluster id IS a core id.
    got.foreach { case (cid, nc, _) => assert(cores(cid) && nc >= 1) }
  }

  test("core graph has at most half the radius pairs; CC labels its endpoints") {
    val dir = sf()
    // Scale-robust invariants (at sf0.001 the core graph can be EMPTY):
    // a < b halves the directed pair set, and the CC stage labels exactly
    // the distinct endpoints of the core graph, no more, no fewer.
    val pairs = Spatial.pairStore(spark, dir).count()
    val corePairs = Spatial.dbscanCorePairs(spark, dir)
    assert(corePairs.count() <= pairs / 2, "more core-core edges than undirected radius pairs")
    val endpoints = corePairs.select("doc_a")
      .union(corePairs.select("doc_b")).distinct().count()
    val cc = Spatial.geoComponents(corePairs).count()
    assert(cc == endpoints, s"geoComponents labeled $cc nodes; the core graph has $endpoints endpoints")
  }

  test("salted neighborhood join: identical pairs, hot cell spread r ways") {
    import spark.implicits._
    // Planted urban skew: 240 points packed into a 200×200 corner of cell
    // (0,0) — every pair qualifies (max distance < Radius) — plus 60
    // scattered points, one per distant cell. Unsalted, the hot cell's
    // whole candidate volume lands on ONE (cx, cy) shuffle key/task.
    val hot = (0 until 240).map(i => (i.toLong, (i % 20) * 10L, (i / 20) * 10L))
    val sparse = (0 until 60).map(i => (1000L + i, 5000L + 3000L * i, 7000L + 3000L * i))
    val pts = (hot ++ sparse).toDF("id", "x", "y")
      .withColumn("cx", floor(col("x") / Spatial.Radius))
      .withColumn("cy", floor(col("y") / Spatial.Radius))
    val keep = col("a") < col("b")
    val r = 8
    val plain = Spatial.neighborhoodPairsOf(pts, keep)
      .select(col("a"), col("b")).collect().map(x => (x.getLong(0), x.getLong(1)))
    val salted = Spatial.saltedNeighborhoodPairsOf(pts, keep, r)
    val saltedPairs = salted.select(col("a"), col("b")).collect().map(x => (x.getLong(0), x.getLong(1)))
    // Salting is semantically free: exactly the same pair set, no dup/loss.
    assert(saltedPairs.length == plain.length && saltedPairs.toSet == plain.toSet)
    assert(plain.count { case (a, b) => a < 240 && b < 240 } == 240 * 239 / 2,
      "the planted hot cell must contribute its full quadratic pair set")
    // The per-task bound, measured in the 100 TB regime (broadcast off —
    // at scale neither side of the self-join fits in memory): unsalted,
    // the (cx, cy) shuffle key puts the ENTIRE hot cell on one partition;
    // salted, its pairs spread across the r salt shards.
    // Coalescing off too: AQE folds a toy-sized shuffle into ONE partition,
    // which would mask the spread being measured (at real scale partitions
    // exceed the advisory size and stay apart).
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = (keys :+ "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
        df.groupBy(org.apache.spark.sql.functions.spark_partition_id().as("p"))
          .count().agg(max("count")).head().getLong(0)
      val plainMax = maxPartitionRows(Spatial.neighborhoodPairsOf(pts, keep))
      val saltedShuffle = Spatial.saltedNeighborhoodPairsOf(pts, keep, r)
      val saltedMax = maxPartitionRows(saltedShuffle)
      assert(plainMax >= 240 * 239 / 2, s"unsalted hot cell should own one task, got $plainMax")
      assert(saltedMax * 2 <= plainMax,
        s"salting must spread the hot cell: salted max $saltedMax vs unsalted $plainMax")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("cell stats: occupancy sums to points living in multi-point cells") {
    val rows = Spatial.queries("geo_cell_stats")(spark, sf()).collect()
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      assert(n >= 2)
      // min/max stay inside the cell's coordinate range.
      val cx = r.getLong(r.fieldIndex("cx")); val cy = r.getLong(r.fieldIndex("cy"))
      assert(r.getLong(r.fieldIndex("min_x")) >= cx * Spatial.Radius)
      assert(r.getLong(r.fieldIndex("max_x")) < (cx + 1) * Spatial.Radius)
      assert(r.getLong(r.fieldIndex("min_y")) >= cy * Spatial.Radius)
      assert(r.getLong(r.fieldIndex("max_y")) < (cy + 1) * Spatial.Radius)
    }
  }

  test("k-NN lists: rank-1 equals geo_nn, distances ascend, pairs subset the radius join") {
    val knn = Spatial.queries("geo_knn")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(knn.nonEmpty)
    // Rank 1 must be exactly the 1-NN query (same (d2, id) tie-break).
    val rank1 = knn.filter(_._2 == 1L).map(t => (t._1, t._3, t._4)).toSet
    val nn = Spatial.queries("geo_nn")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rank1 == nn, "rank-1 neighbors must equal the 1-NN query")
    // Per point: ranks contiguous from 1, distances non-decreasing.
    knn.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"ranks broken for $id")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq, s"d2 not ascending for $id")
      assert(sorted.length <= Spatial.KnnK)
    }
    // Every k-NN pair is a radius-join pair.
    val radius = Spatial.queries("geo_radius_join")(spark, sf()).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    assert(knn.forall(t => radius((t._1, t._3))), "k-NN emitted a pair outside the radius")
  }

  // --- multilevel geometric CC seam ------------------------------------

  /** Driver-side twin of geoComponents' superKey: the level-`sc` supercell
    * of node id `c` (same md5-derived coordinates as Spatial.points).
    */
  private def superCell(c: Long, sc: Long): Long = {
    def h(seed: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$c".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var out = 0L; var i = 0
      while (i < 8) { out = (out << 8) | (d(i) & 0xffL); i += 1 }
      out >>> 4
    }
    (h(41) % Spatial.Extent / Spatial.Radius / sc) * 1024 +
      (h(42) % Spatial.Extent / Spatial.Radius / sc)
  }

  test("geoComponents: chains spanning many supercells resolve identically across ladders") {
    import spark.implicits._
    // Planted edge sets that stress the SEAM of the multilevel scheme:
    // sequential-id paths whose endpoints hash to scattered grid cells, so
    // chains cross supercell boundaries at every fine level and only merge
    // at coarser tiers — plus two isolated two-node components.
    val paths = Seq(0L to 99L, 200L to 259L, 400L to 409L)
    val edges = paths.flatMap(p => p.zip(p.tail)) ++ Seq((1000L, 1001L), (2000L, 2001L))
    // The planted structure genuinely exercises the seam: every path spans
    // >= 3 DISTINCT supercells at both fine levels of the 3-tier ladder
    // (asserted, not assumed — a hash-seed change that collapsed the spread
    // would silently weaken this test).
    for (sc <- Seq(2L, 10L); p <- paths)
      assert(p.map(superCell(_, sc)).distinct.size >= 3,
        s"planted path does not span 3 supercells at level $sc")
    val pairs = edges.toDF("doc_a", "doc_b")
    // Ground truth: driver union-find (union by min root).
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
    assert(want.values.toSet == Set(0L, 200L, 400L, 1000L, 2000L))
    // Every ladder — the 3-tier seam shape, the derived default, and the
    // degenerate one-group apex-only ladder — must label identically.
    for (ladder <- Seq(Seq(2L, 10L, 128L), Spatial.coarseningLevels(), Seq(128L))) {
      val got = Spatial.geoComponents(pairs, ladder).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"ladder $ladder diverges from driver union-find")
    }
  }

  test("geoComponents: a non-covering ladder is rejected before any level runs") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Spatial.geoComponents(Seq((1L, 2L)).toDF("doc_a", "doc_b"), Seq(2L, 10L))
    }
    assert(e.getMessage.contains("cover the grid"))
  }

  test("coarseningLevels: derived ladder covers any grid and starts bounded") {
    for (cells <- Seq(1L, 5L, 10L, 100L, 1000L, 1000000L)) {
      val ladder = Spatial.coarseningLevels(cellsPerAxis = cells)
      assert(ladder.last >= cells, s"ladder $ladder does not cover $cells cells")
      assert(ladder == ladder.sorted && ladder.distinct == ladder,
        s"ladder $ladder not strictly increasing")
      assert(ladder.head <= math.max(10L, cells))
    }
    // The engine default covers the engine grid.
    assert(Spatial.coarseningLevels().last * Spatial.Radius >= Spatial.Extent)
  }
}
