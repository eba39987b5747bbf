package graft.operators

import graft.{SparkSpec, StaleStructureContract}

class SimilaritySpec extends SparkSpec {

  private def neighbors(name: String): Map[Long, Seq[Long]] =
    Similarity.queries(name)(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  test("brute-force top-k returns k neighbors per query, ranked by cosine") {
    val df = Similarity.queries("ss_topk_bruteforce")(spark, sf()).collect()
    val byQuery = df.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NQueries)
    byQuery.values.foreach { rows =>
      assert(rows.length == Similarity.TopK)
      val coss = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b }, "not sorted by cosine")
    }
  }

  test("filtered knn: every neighbor passes the predicate, k is full, and the unfiltered list restricted to allowed ids agrees on its prefix") {
    import org.apache.spark.sql.functions.col
    val allowed = Relational.t(spark, sf(), "documents")
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(allowed.size > Similarity.TopK, "corpus must have enough filtered candidates")
    val rows = Similarity.queries("ss_filtered_knn")(spark, sf()).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NQueries)
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == Similarity.TopK, s"query $q under-filled k")
      rs.foreach(r => assert(allowed(r.getLong(r.fieldIndex("neighbor_id"))),
        s"query $q returned a neighbor outside the predicate"))
      val coss = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b }, "not sorted by cosine")
    }
    // Consistency with the unfiltered ranking: dropping disallowed ids from
    // the exact brute-force order must reproduce the filtered list wherever
    // the unfiltered top-k contains enough allowed ids to decide it.
    val unfiltered = neighbors("ss_topk_bruteforce")
    val filtered = neighbors("ss_filtered_knn")
    unfiltered.foreach { case (q, ns) =>
      val expectPrefix = ns.filter(allowed)
      assert(filtered(q).startsWith(expectPrefix),
        s"query $q: filtered list disagrees with the allowed-restricted exact order")
    }
  }

  test("PQ distortion: every subspace encodes every vector and quantization beats raw energy") {
    val rows = Similarity.queries("ss_pq_distortion")(spark, sf()).collect()
    assert(rows.length == Similarity.PqSub)
    val nVecs = Relational.t(spark, sf(), "embeddings").count()
    // Mean subspace energy E[‖sv‖²] — the distortion of the degenerate
    // all-zeros codebook; a trained codebook must do strictly better.
    val vs = Relational.t(spark, sf(), "embeddings").collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    val subDim = Similarity.PqSubDim
    rows.foreach { r =>
      val sub = r.getInt(r.fieldIndex("sub"))
      assert(r.getLong(r.fieldIndex("n_points")) == nVecs)
      val mse = r.getDouble(r.fieldIndex("mse"))
      val maxErr = r.getDouble(r.fieldIndex("max_err"))
      assert(mse >= 0 && maxErr >= mse, s"sub $sub: mse $mse, max $maxErr")
      val energy = vs.map(v =>
        v.slice(sub * subDim, (sub + 1) * subDim).map(x => x * x).sum).sum / nVecs
      assert(mse < energy,
        s"sub $sub: trained codebook no better than the zero codebook ($mse vs $energy)")
    }
  }

  test("degree histogram: mass identities against the stored knn graph") {
    val rows = Similarity.queries("ss_degree_hist")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nVecs = Relational.t(spark, sf(), "embeddings").count()
    assert(rows.map(_._2).sum == nVecs, "every node appears in exactly one bucket")
    // Σ in_degree·n_nodes = total edges = 3·|V| (out-degree is 3 by construction).
    assert(rows.map { case (d, n) => d * n }.sum == 3 * nVecs)
  }

  test("margin mining equals a driver-side recompute of the ratio-margin argmax") {
    val got = Similarity.queries("ss_margin_mining")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val vs = Relational.t(spark, sf(), "embeddings").collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qs = vs.keys.filter(_ < Similarity.NQueries).toSeq.sorted
    val cs = vs.keys.filter(_ >= Similarity.NQueries).toSeq.sorted
    val cq = (for { q <- qs; c <- cs } yield
      (q, c, math.round(cos(vs(q), vs(c)) * 1e6))).toSeq
    def topkSum(rows: Seq[(Long, Long)]): Long =
      rows.sortBy { case (id, s) => (-s, id) }.take(Similarity.MarginK).map(_._2).sum
    val skx = cq.groupBy(_._1).view.mapValues(r => topkSum(r.map(x => (x._2, x._3)))).toMap
    val sky = cq.groupBy(_._2).view.mapValues(r => topkSum(r.map(x => (x._1, x._3)))).toMap
    val best = cq.groupBy(_._1).view.mapValues { rows =>
      rows.map { case (q, c, s) =>
        (c, s, 2.0 * Similarity.MarginK * s / (skx(q) + sky(c)).toDouble)
      }.minBy { case (c, _, m) => (-m, c) }
    }.toMap
    assert(got.length == qs.length, "one mined pair per query")
    got.foreach { case (q, c, s, m) =>
      val (bc, bs, bm) = best(q)
      assert(c == bc && s == bs && math.abs(m - bm) < 1e-12,
        s"query $q: got ($c, $s, $m) want ($bc, $bs, $bm)")
      assert(m > 0, s"query $q mined a non-positive margin")
    }
  }

  test("clustering coefficients: range, triangle mass identity, and a brute-force node") {
    val rows = Similarity.queries("ss_clustering_coeff")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    val nVecs = Relational.t(spark, sf(), "embeddings").count()
    assert(rows.length == nVecs, "every vector gets a coefficient row")
    rows.foreach { case (v, deg, tri, c) =>
      assert(deg >= 3, s"undirected closure of a 3-NN graph: deg($v) >= 3")
      assert(tri <= deg * (deg - 1) / 2, s"tri($v) bounded by neighbor pairs")
      assert(c >= 0.0 && c <= 1.0, s"coeff($v) in [0,1]")
    }
    // Each triangle is counted once at each of its three vertices.
    val nTriangles = Similarity.queries("ss_knn_triangles")(spark, sf()).collect()
      .collectFirst { case r if r.getString(0) == "n_triangles" => r.getLong(1) }.get
    assert(rows.map(_._3).sum == 3 * nTriangles, "Σ tri(v) = 3 · triangle census")
    // Brute-force one node: neighbors from the undirected edge set.
    val edges = Similarity.queries("ss_knn_graph")(spark, sf()).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(2)), (r.getLong(2), r.getLong(0))))
      .distinct
    val byNode = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val v0 = rows.head._1
    val nbrs = byNode(v0)
    val triBrute = nbrs.toSeq.combinations(2).count { case Seq(x, y) => byNode(x).contains(y) }
    assert(rows.head._2 == nbrs.size && rows.head._3 == triBrute,
      s"node $v0: got (${rows.head._2}, ${rows.head._3}) want (${nbrs.size}, $triBrute)")
  }

  test("ANN LSH recall@5 vs brute force is acceptable") {
    val exact = neighbors("ss_topk_bruteforce")
    val ann = neighbors("ss_ann_lsh")
    val recalls = exact.map { case (q, ex) =>
      val got = ann.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // On random gaussian embeddings (no planted clusters) hyperplane LSH with
    // 8 tables x 12 bits is a hard setting; demand a meaningful signal, not
    // perfection. The deterministic hash family keeps this stable.
    assert(mean >= 0.3, s"mean recall@5 too low: $mean ($recalls)")
  }

  test("IVF ANN recall@5 vs brute force is acceptable") {
    val exact = neighbors("ss_topk_bruteforce")
    val ivf = neighbors("ss_ann_ivf")
    val recalls = exact.map { case (q, ex) =>
      val got = ivf.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // nprobe/cells = 4/16 on unclustered embeddings. The Lloyd's-trained
    // quantizer measures mean recall ≈ 0.54 on this corpus (the untrained
    // arbitrary-vector centroids cleared only 0.2); the floor locks in most
    // of that gain with headroom for tie-order jitter.
    assert(mean >= 0.4, s"mean IVF recall@5 too low: $mean ($recalls)")
  }

  test("PQ ANN recall@5 vs brute force is acceptable; output is k per query") {
    val exact = neighbors("ss_topk_bruteforce")
    val pq = neighbors("ss_ann_pq")
    pq.values.foreach(n => assert(n.size == Similarity.TopK))
    val recalls = exact.map { case (q, ex) =>
      val got = pq.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(s"PQ mean recall@5 = $mean")
    // 8×16 codes on unclustered 64-dim embeddings are a coarse approximation,
    // but the exact re-rank of the top PqRerank ADC candidates recovers most
    // of the truth; floor set from the measured value with jitter headroom.
    assert(mean >= 0.5, s"mean PQ recall@5 too low: $mean ($recalls)")
  }

  test("IVF-PQ recall@5 vs brute force is acceptable; output bounded by k per query") {
    val exact = neighbors("ss_topk_bruteforce")
    val ivfpq = neighbors("ss_ann_ivfpq")
    ivfpq.values.foreach(n => assert(n.size <= Similarity.TopK))
    val recalls = exact.map { case (q, ex) =>
      val got = ivfpq.getOrElse(q, Seq.empty).toSet
      ex.count(got.contains).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(s"IVF-PQ mean recall@5 = $mean")
    // The candidate set is the intersection of the probed cells (4/16) and
    // the ADC top-PqRerank, so recall is bounded by BOTH parents (~0.56 PQ,
    // ~0.54 IVF on this unclustered corpus); floor set from the measured
    // value with jitter headroom.
    assert(mean >= 0.3, s"mean IVF-PQ recall@5 too low: $mean ($recalls)")
  }

  test("PQ codebook keeps full cardinality after training (no empty-cluster dropout)") {
    // A centroid that wins no assignment in a Lloyd round silently vanishes
    // from the recentered codebook (classic k-means dropout — documented,
    // never re-seeded). On THIS corpus every (sub, cid) must survive all
    // rounds; if a corpus change ever trips dropout, this failure names the
    // cause instead of a mysterious recall drop.
    val cb = Similarity.trainPqCodebook(Similarity.subRows(Similarity.vecs(spark, sf())))
      .collect()
    assert(cb.length == Similarity.PqSub * Similarity.PqK,
      s"codebook lost centroids: ${cb.length} of ${Similarity.PqSub * Similarity.PqK}")
  }

  test("ANN candidate generation prunes the corpus (not brute force in disguise)") {
    // Each query should compare against far fewer than all vectors: check the
    // result is not identical to brute force across all queries (extremely
    // unlikely unless candidates ≈ corpus) OR recall is 1.0 with tiny buckets.
    val ann = Similarity.queries("ss_ann_lsh")(spark, sf())
    assert(ann.count() <= Similarity.NQueries * Similarity.TopK)
  }

  test("int8 quantization codes reconstruct vectors within half a step") {
    val rows = Similarity.queries("ss_embed_quant")(spark, sf()).collect()
    assert(rows.length >= 500)
    val orig = Relational.t(spark, sf(), "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)).toMap
    rows.take(50).foreach { r =>
      val id = r.getLong(r.fieldIndex("vec_id"))
      val nrm = r.getDouble(r.fieldIndex("nrm"))
      val codes = r.getString(r.fieldIndex("qvec")).split(",").map(_.toInt)
      val v = orig(id)
      assert(codes.length == v.length)
      assert(math.abs(nrm - math.sqrt(v.map(x => x * x).sum)) < 1e-9)
      codes.zip(v).foreach { case (q, x) =>
        // Dequantized value must sit within half a quantization step.
        assert(math.abs(q * nrm / 127.0 - x) <= nrm / 254.0 + 1e-12, s"vec $id code $q value $x")
        assert(math.abs(q) <= 128, "codes stay in int8 range (unit-scale inputs)")
      }
    }
  }

  test("pagerank conserves probability mass and ranks every vector") {
    val rows = Similarity.queries("ss_pagerank")(spark, sf()).collect()
    val n = Relational.t(spark, sf(), "embeddings").count()
    assert(rows.length == n)
    val prs = rows.map(_.getDouble(1))
    assert(prs.forall(_ > 0))
    // No dangling nodes (every vector has out-degree exactly 3), so each
    // synchronous round preserves total mass: Σ pr = 0.15 + 0.85 · Σ = 1.
    assert(math.abs(prs.sum - 1.0) < 1e-9, s"mass = ${prs.sum}")
    // The floor rank (a node with no in-edges) is 0.15/n; everything sits
    // at or above it.
    assert(prs.forall(_ >= 0.15 / n - 1e-12))
  }

  test("bfs hop distances are a valid BFS layering of the undirected knn graph") {
    val hops = Similarity.queries("ss_bfs_hops")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops(Similarity.BfsSource) == 0, "source sits at hop 0")
    assert(hops.values.forall(h => h >= 0 && h <= Similarity.BfsMaxHops))
    // Undirected edge closure of the exact 3-NN graph, for the layering
    // invariants below.
    val und = Similarity.queries("ss_knn_graph")(spark, sf()).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(2), r.getLong(2) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // Every non-source reached node has a neighbor one layer closer (its
    // BFS parent), and no edge skips a layer (|hop(u) − hop(v)| ≤ 1 for
    // reached neighbors — otherwise the farther node was discoverable
    // earlier and the reported distance is not minimal).
    for ((v, h) <- hops if h > 0)
      assert(und(v).exists(u => hops.get(u).contains(h - 1)), s"node $v at hop $h has no parent")
    for ((v, h) <- hops; u <- und(v); hu <- hops.get(u))
      assert(math.abs(hu - h) <= 1, s"edge $v($h)–$u($hu) skips a BFS layer")
    // The frontier bound genuinely bounds: nodes beyond BfsMaxHops hops are
    // absent, and something IS reached beyond hop 0 on a connected-ish graph.
    assert(hops.values.max >= 1, "BFS never left the source")
  }

  test("semantic dedup prunes planted duplicate groups to one keeper each, nothing else") {
    import spark.implicits._
    // Two groups of IDENTICAL vectors on orthogonal axes plus one-hot
    // singletons. Identical members have identical cosine to every centroid,
    // so the deterministic (cos DESC, c_id ASC) assignment puts a whole
    // group in ONE k-means cell regardless of how Lloyd's rounds land —
    // the spec therefore pins the EXACT SemDeDup output: every non-minimum
    // group member pruned against the group minimum at cos 1, singletons
    // (pairwise cos 0 < τ) untouched.
    val dims = Similarity.Dims
    def oneHot(axis: Int): Array[Float] = {
      val a = Array.fill(dims)(0f); a(axis) = 1f; a
    }
    val rows =
      (0 until 5).map(i => (i.toLong, oneHot(0), 0)) ++
        (5 until 9).map(i => (i.toLong, oneHot(7), 1)) ++
        (9 until 30).map(i => (i.toLong, oneHot(14 + (i - 9)), 2))
    val dir = SparkSpec.tempDir("semdedup").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.queries("dd_semantic")(spark, dir).collect()
    val got = out.map(r =>
      r.getLong(r.fieldIndex("vec_id")) -> r.getLong(r.fieldIndex("dup_of"))).toMap
    val want = ((1L to 4L).map(_ -> 0L) ++ (6L to 8L).map(_ -> 5L)).toMap
    assert(got == want, s"pruned set diverges: got $got, want $want")
    out.foreach { r =>
      assert(r.getDouble(r.fieldIndex("cos")) >= Similarity.SemTau)
      assert(r.getLong(r.fieldIndex("dup_of")) < r.getLong(r.fieldIndex("vec_id")))
    }
    // n_dups counts every same-cell ≥ τ neighbor with a smaller id: the
    // k-th member of a duplicate group (0-based within the group) has k.
    val nd = out.map(r =>
      r.getLong(r.fieldIndex("vec_id")) -> r.getLong(r.fieldIndex("n_dups"))).toMap
    assert(nd == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 6L -> 1L, 7L -> 2L, 8L -> 3L))
  }

  test("greedy coreset equals a driver-side facility-location recomputation per cell") {
    import org.apache.spark.sql.functions.col
    val vs = Similarity.vecs(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cells = Similarity.ivfCells(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }; s
    }
    def simQ(a: Long, b: Long): Long = {
      val (va, vb) = (vs(a), vs(b))
      math.round(1e6 * (dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))))
    }
    // Reference greedy: coverage argmax, then marginal-gain argmax, ties to
    // the smaller vec_id — per cell, straight from the definition.
    val want = cells.groupBy(_._2).flatMap { case (cell, ms) =>
      val ids = ms.map(_._1).sorted
      val r1 = ids.map(i => (i, ids.map(j => simQ(i, j)).sum))
        .maxBy { case (i, c) => (c, -i) }
      val cur = ids.map(j => j -> simQ(r1._1, j)).toMap
      val rest = ids.filter(_ != r1._1)
      val r2 = rest.map(i => (i, ids.map(j => math.max(simQ(i, j) - cur(j), 0L)).sum))
        .sortBy { case (i, g) => (-g, i) }.headOption
      Seq((cell, 1, r1._1, r1._2)) ++ r2.map { case (i, g) => (cell, 2, i, g) }
    }.toSet
    val got = Similarity.queries("ss_coreset_greedy")(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("cell")), r.getInt(r.fieldIndex("sel_rank")),
        r.getLong(r.fieldIndex("vec_id")), r.getLong(r.fieldIndex("gain_q")))).toSet
    assert(got == want, s"greedy diverges: extra ${got -- want}, missing ${want -- got}")
    // Submodularity sanity: the second pick's marginal gain never exceeds
    // the first pick's coverage within a cell.
    want.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.map(r => r._2 -> r._4).toMap
      byRank.get(2).foreach(g2 => assert(g2 <= byRank(1)))
    }
  }

  test("index stats partition the corpus and bound per-cell cohesion") {
    val rows = Similarity.queries("ss_index_stats")(spark, sf()).collect()
    assert(rows.nonEmpty && rows.length <= Similarity.IvfCells)
    val n = Relational.t(spark, sf(), "embeddings").count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_vecs"))).sum == n,
      "every vector is assigned to exactly one cell")
    rows.foreach { r =>
      val (nv, s, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo <= hi && nv * lo <= s && s <= nv * hi,
        s"cell ${r.getLong(0)}: sum $s outside [n*min, n*max]")
      assert(hi <= 1000000L, "quantized cosine cannot exceed 1")
    }
  }

  test("hard negatives are the true most-similar different-label items per query") {
    import org.apache.spark.sql.functions.col
    val e = Relational.t(spark, sf(), "embeddings").collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")), r.getInt(r.fieldIndex("label")),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val got = Similarity.queries("ss_hard_negatives")(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getInt(r.fieldIndex("rk")),
        r.getLong(r.fieldIndex("neighbor_id")), r.getInt(r.fieldIndex("neg_label"))))
    assert(got.nonEmpty)
    val byId = e.map(x => x._1 -> x).toMap
    // Exactly TopK per query; every negative's label differs from the query's.
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == Similarity.TopK)
      rows.foreach { case (_, _, nid, nl) =>
        assert(nl == byId(nid)._2 && nl != byId(q)._2)
      }
      // Rank-1 really is the most-similar different-label item.
      val (_, _, top, _) = rows.minBy(_._2)
      val want = e.filter(x => x._2 != byId(q)._2)
        .maxBy(x => (cos(byId(q)._3, x._3), -x._1))._1
      assert(top == want, s"query $q: top hard negative $top, brute force says $want")
    }
  }

  // The two ANN stored-structure lifecycle gates below route through the
  // shared StaleStructureContract triple (VERDICT r14 #4): (a) the
  // maintained structure (stale base ∪ batch processed at the SAME stored
  // parameters) equals the from-scratch rebuild entry by entry; (b) the
  // stale base alone is strictly smaller (the landing batch is observable,
  // so the gate fingerprints differ); (c) the gate plan scans the corpus
  // exactly ONCE (the landing-batch filter) — the base structures ride
  // their STORED parquet, and a Lloyd's retraining chain or a corpus
  // reassignment/re-encode would surface as extra embeddings scans.

  test("ivf incremental: fixed-codebook append == full reassignment; stale reads differ; no retraining in the plan") {
    import org.apache.spark.sql.functions.col
    val dir = sf()
    val keyed = StaleStructureContract.keyed(_: org.apache.spark.sql.DataFrame, "vec_id")
    val cent = Similarity.baseIvfCentroids(spark, dir)
    val batch = Similarity.vecs(spark, dir)
      .filter(Pipeline.bucket(col("vec_id")) >= Retrieval.IndexedBucketCap)
    val stale = keyed(Similarity.baseIvfCells(spark, dir))
    val maintained = stale ++ keyed(Similarity.assignCells(batch, cent))
    StaleStructureContract.check(
      "ss_ivf_incremental",
      stale = stale,
      maintained = maintained,
      rebuilt = keyed(Similarity.assignCells(Similarity.vecs(spark, dir), cent)),
      staleMass = (_: Seq[Any]) => 1L, // append-only: one cell assignment per vector
      gatePlan = graft.SparkEntry.queries("ss_ivf_incremental")(spark, dir)
        .queryExecution.executedPlan.toString,
      scanCounts = Seq("embeddings.parquet" -> 1))
    assert(maintained.size == Similarity.vecs(spark, dir).count())
  }

  test("pq incremental: fixed-codebook encode == full re-encode; stale reads differ; no retraining in the plan") {
    import org.apache.spark.sql.functions.col
    val dir = sf()
    // Compare CODES only: the contract is "codes at fixed codebooks", so
    // auxiliary float columns (norms) are projected away — bit-equality on
    // a recomputed Double is not part of the gate's claim.
    val keyed = (df: org.apache.spark.sql.DataFrame) =>
      StaleStructureContract.keyed(
        df.select("neighbor_id", "sub", "cid"), "neighbor_id", "sub")
    val cb = Similarity.basePqCodebook(spark, dir)
    val batch = Similarity.vecs(spark, dir)
      .filter(Pipeline.bucket(col("vec_id")) >= Retrieval.IndexedBucketCap)
    val stale = keyed(Similarity.basePqCodes(spark, dir))
    val maintained = stale ++ keyed(
      Similarity.encodeAtCodebook(Similarity.subRows(batch), cb))
    StaleStructureContract.check(
      "ss_pq_incremental",
      stale = stale,
      maintained = maintained,
      rebuilt = keyed(Similarity.encodeAtCodebook(
        Similarity.subRows(Similarity.vecs(spark, dir)), cb)),
      staleMass = (_: Seq[Any]) => 1L, // append-only: one code per (vector, subspace)
      gatePlan = graft.SparkEntry.queries("ss_pq_incremental")(spark, dir)
        .queryExecution.executedPlan.toString,
      scanCounts = Seq("embeddings.parquet" -> 1))
    assert(maintained.size ==
      Similarity.vecs(spark, dir).count() * Similarity.PqSub)
  }
}
