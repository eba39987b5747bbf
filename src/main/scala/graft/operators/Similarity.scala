package graft.operators

import graft.functions.HashFunctions.md5Long
import graft.sources.Stored
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`).
  *
  *  - [[queries ss_topk_bruteforce]] — exact cosine top-k for a query set,
  *    the correctness baseline. Deterministic via sequential left-fold dot
  *    products ([[Dedup.dotSeq]]) and vec_id tie-breaks → full DuckDB oracle.
  *  - [[queries ss_ann_lsh]] — the scale path: random-hyperplane LSH (signs of
  *    projections onto md5-derived pseudo-random hyperplanes) buckets vectors;
  *    candidates come from same-bucket joins only. Fully hash-gated since r7:
  *    the DuckDB twin ([[annLshSql]]) re-derives the hyperplanes and replays
  *    the bucket joins from scratch, so "approximate" means approximate
  *    NEIGHBORS, not an approximate gate; SimilaritySpec additionally
  *    measures recall vs the brute-force baseline.
  *
  * Scale design (100 TB): brute force is O(queries × corpus) — fine for a
  * bounded query set, impossible corpus × corpus. The LSH path is
  * O(corpus × planes) for bucketing plus O(Σ bucket²) for candidate
  * generation; bucket width (number of hyperplanes) tunes the
  * recall/cost trade-off, and multiple independent tables raise recall
  * without quadratic blowup. Hyperplanes are derived deterministically from
  * md5, so results are reproducible across runs and engines.
  */
object Similarity {

  /** Number of query vectors (lowest vec_ids) for the top-k queries. */
  val NQueries = 10
  val TopK = 5

  /** Neighborhood size of [[queries ss_margin_mining]]'s density
    * normalization (the k of the ratio-margin criterion).
    */
  val MarginK = 4

  /** Hyperplane LSH params: Tables × PlanesPerTable sign bits. Tuned for a
    * corpus with no planted clusters (neighbor cosines ~0.3-0.5): collision
    * probability per table (1-θ/π)^6 ≈ 0.05-0.15, so 12 independent tables
    * give useful recall while each table's 64 buckets still prune ~80% of the
    * corpus per query. With real clustered embeddings (near-dup cosine ≥ 0.9,
    * collision ~0.8 per table) the same structure gives recall ≈ 1 with far
    * stronger pruning.
    */
  val Tables = 12
  val PlanesPerTable = 6

  /** Single-file parquet = one input partition; repartition to parallelize
    * the per-vector work (see Dedup.shingled).
    */
  private[graft] def vecs(s: SparkSession, dir: String): DataFrame =
    Relational.t(s, dir, "embeddings")
      .transform(Dedup.spread("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  def cosine(a: Column, b: Column): Column =
    Dedup.dotSeq(a, b) / (sqrt(Dedup.dotSeq(a, a)) * sqrt(Dedup.dotSeq(b, b)))

  /** Embedding dimensionality of the corpus (64-dim float vectors). */
  val Dims = 64

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * ((md5Long("p:<plane>:<dim>") mod 2000) - 1000) / 1000 — precomputed on
    * the driver (the planes are a 96×64 constant matrix; recomputing md5 per
    * row × plane × dim inside the scan was the ANN bottleneck) and shipped as
    * literal arrays.
    */
  def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"p:$plane:$dim".getBytes("UTF-8")).map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2000L) - 1000L) / 1000.0
  }

  private lazy val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until Tables * PlanesPerTable).map(p => (0 until Dims).map(d => planeComponent(p, d)))

  /** All `Tables` bucket keys of `v` (bit `p` of entry `t` = sign of the
    * projection onto plane `t·PlanesPerTable + p`), as one expression node —
    * see [[graft.functions.LshBuckets]] for why this is not a per-plane
    * SeqDot composition (a 4600-literal tree that dominated planning time).
    */
  def lshBuckets(v: Column): Column =
    graft.functions.LshBuckets(v, planes, PlanesPerTable)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact top-k cosine neighbors for the NQueries lowest vec_ids.
    "ss_topk_bruteforce" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = q.join(e, col("query_id") =!= col("vec_id"))
        .select(
          col("query_id"),
          col("vec_id").as("neighbor_id"),
          cosine(col("qv"), col("v")).as("cos")
        )
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select("query_id", "rk", "neighbor_id", "cos")
        .orderBy("query_id", "rk")
    },

    // FILTERED k-NN — the filtered-vector-search primitive every production
    // vector store exposes (metadata predicate + top-k in ONE query, the
    // "find similar docs that are also lang='en'" shape): exact top-k
    // cosine among only the candidates whose DOCUMENT row passes the
    // predicate — the filter lives in the metadata table, not the index,
    // so the plan must join it in and prune BEFORE scoring. Pre-filtering
    // (prune, then score |filtered| candidates) beats post-filtering
    // (score, then drop — which under-fills k when the filter is
    // selective) and that choice is exactly what this query pins: the
    // equality join on vec_id reduces the scoring input to the filtered
    // subset, the cosine never evaluates on a filtered-out vector, and
    // every probe still returns a full k. At corpus scale the candidate
    // generator swaps to the IVF tier with the predicate applied at the
    // posting-list probe (the cl_knn_label swap argument); the scoring
    // tail is unchanged.
    "ss_filtered_knn" -> { (s, dir) =>
      val e = vecs(s, dir)
      val allowed = Relational.t(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val cand = e.join(allowed, "vec_id")
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = q.join(cand, col("query_id") =!= col("vec_id"))
        .select(
          col("query_id"),
          col("vec_id").as("neighbor_id"),
          cosine(col("qv"), col("v")).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select("query_id", "rk", "neighbor_id", "cos")
        .orderBy("query_id", "rk")
    },

    // Exact 3-NN graph over EVERY vector — see [[knnGraph]].
    "ss_knn_graph" -> { (s, dir) => knnGraph(s, dir).orderBy("vec_id", "rank") },

    // In-degree histogram of the stored k-NN graph — the graph-health
    // observability artifact beside ss_index_stats: out-degree is k by
    // construction, so the IN-degree distribution is where hubness shows
    // (a few high-in-degree hub vectors degrade ANN recall and k-NN label
    // quality; heavy right tail → recenter or prune). Fourth consumer of
    // the stored edge table: one count aggregation over edges, a left join
    // against the node list to keep in-degree-0 nodes, one |degrees|-row
    // histogram aggregate — nothing rescans the vectors.
    "ss_degree_hist" -> { (s, dir) =>
      val indeg = knnGraph(s, dir)
        .groupBy(col("nbr_id").as("vec_id")).agg(count(lit(1)).as("in_degree"))
      Relational.t(s, dir, "embeddings").select(col("vec_id"))
        .join(indeg, Seq("vec_id"), "left_outer")
        .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
        .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("in_degree")
    },

    // Hard-negative mining — the contrastive-training data-prep contract
    // (DPR/SimCSE-style): for each query item, the TopK most-similar items
    // with a DIFFERENT label — maximally confusable non-matches, the
    // examples a bi-encoder trains against. Same bounded-query brute-force
    // scan as ss_topk_bruteforce with the label-inequality predicate fused
    // into the join; at corpus×corpus scale the candidate generator swaps
    // to the ANN tier with the label filter and re-rank tail unchanged
    // (the cl_knn_label argument).
    "ss_hard_negatives" -> { (s, dir) =>
      val e = Relational.t(s, dir, "embeddings")
        .transform(Dedup.spread("vec_id"))
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("v").as("qv"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      q.join(e, col("label") =!= col("q_label"))
        .select(col("query_id"), col("q_label"),
          col("vec_id").as("neighbor_id"), col("label").as("neg_label"),
          cosine(col("qv"), col("v")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select("query_id", "q_label", "rk", "neighbor_id", "neg_label", "cos")
        .orderBy("query_id", "rk")
    },

    // Triangle count over the exact 3-NN graph — graph analytics expressed
    // relationally: orient each undirected edge low-id → high-id, then a
    // wedge join (shared middle vertex) closed by an edge-existence hash
    // join. Both joins are equality-keyed; at scale the standard refinement
    // is to orient by DEGREE (low-degree endpoint first) so the wedge set
    // is bounded by Σ deg(v)·min(deg(v), √E) — the id orientation here is
    // that algorithm with ids standing in for the (uniform) degrees of a
    // k-NN graph, where every out-degree is exactly k. The k-NN edge set
    // itself is oracle-checked (`ss_knn_graph`), so the DuckDB twin derives
    // the IDENTICAL graph and the triangle census is exact.
    "ss_knn_triangles" -> { (s, dir) =>
      val edges = knnGraph(s, dir)
        .select(least(col("vec_id"), col("nbr_id")).as("a"),
          greatest(col("vec_id"), col("nbr_id")).as("b"))
        .distinct()
      val wedges = edges.join(
        edges.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      val triangles = wedges.join(
          edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("value"))
      edges.agg(count(lit(1)).as("value"))
        .select(lit("n_edges").as("metric"), col("value"))
        .unionByName(triangles.select(lit("n_triangles").as("metric"), col("value")))
        .orderBy("metric")
    },

    // Margin-based candidate mining (Artetxe & Schwenk 2019, ratio margin)
    // — the bitext/alignment-mining contract: a raw cosine threshold
    // over-selects in dense regions and under-selects in sparse ones, so
    // each query×candidate score is NORMALIZED by both endpoints' local
    // neighborhood density: margin(x,y) = cos(x,y) / ((mean_k NN cos of x
    // + mean_k NN cos of y)/2). Exactness: per-pair cosines quantized to
    // integer millionths (the quantize-before-sum contract), the two
    // k-NN sums are integer aggregates over rank-selected rows, and the
    // margin is ONE division of exact integers — 2k·cq / (skx + sky) —
    // so the per-query argmax ranking is cross-engine deterministic.
    // Shape: the |Q|×|C| score frame is the bounded-query brute-force
    // scan (|Q| = NQueries broadcast); both k-NN sums reduce it with
    // partitioned (never global) windows; at corpus scale the score
    // frame swaps to the ANN candidate tier with the margin tail
    // unchanged. Output: each query's best-margin candidate.
    "ss_margin_mining" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = e.filter(col("vec_id") >= NQueries)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val cq = Dedup.materialized(
        c.crossJoin(broadcast(q)) // bounded: |queries| rows
          .select(col("qid"), col("cid"),
            round(cosine(col("qv"), col("cv")) * lit(1000000.0)).cast("long").as("cq")))
      val wq = Window.partitionBy("qid").orderBy(col("cq").desc, col("cid").asc)
      val skx = cq.withColumn("r", row_number().over(wq)).filter(col("r") <= MarginK)
        .groupBy("qid").agg(sum("cq").as("skx"))
      val wc = Window.partitionBy("cid").orderBy(col("cq").desc, col("qid").asc)
      val sky = cq.withColumn("r", row_number().over(wc)).filter(col("r") <= MarginK)
        .groupBy("cid").agg(sum("cq").as("sky"))
      val wm = Window.partitionBy("query_id")
        .orderBy(col("margin").desc_nulls_last, col("cand_id").asc)
      cq.join(broadcast(skx), "qid") // bounded: |queries| rows
        .join(sky, "cid")
        .select(col("qid").as("query_id"), col("cid").as("cand_id"), col("cq"),
          when(col("skx") + col("sky") =!= 0,
            (lit(2.0 * MarginK) * col("cq").cast("double")) /
              (col("skx") + col("sky")).cast("double")).as("margin"))
        .withColumn("rk", row_number().over(wm))
        .filter(col("rk") === 1)
        .select("query_id", "cand_id", "cq", "margin")
        .orderBy("query_id")
    },

    // Per-node LOCAL CLUSTERING COEFFICIENT over the undirected closure of
    // the exact 3-NN graph — the community-structure observability metric
    // beside ss_degree_hist's hubness: c(v) = 2·tri(v)/(deg(v)·(deg(v)−1)),
    // the fraction of v's neighbor pairs that are themselves connected.
    // High mean coefficient = tight semantic micro-clusters (duplicate-rich
    // or topic-collapsed regions a diversity sampler should downweight);
    // ≈0 = tree-like embedding space. Shape: wedges are the per-vertex
    // neighbor-pair join (Σ deg² — deg ≤ 2k on a k-NN closure, so linear in
    // nodes), closed by one equality join against the oriented edge set;
    // integers end-to-end with ONE boundary division per node. The same
    // oracle-checked edge derivation as ss_knn_triangles proves census and
    // normalization jointly exact.
    "ss_clustering_coeff" -> { (s, dir) =>
      val e = knnGraph(s, dir)
      val und = Dedup.materialized(
        e.select(least(col("vec_id"), col("nbr_id")).as("a"),
          greatest(col("vec_id"), col("nbr_id")).as("b")).distinct())
      val adj = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
      val deg = adj.groupBy(col("a").as("vec_id")).agg(count(lit(1)).as("degree"))
      val wedges = adj.select(col("a").as("v"), col("b").as("n1"))
        .join(adj.select(col("a").as("v"), col("b").as("n2")), "v")
        .filter(col("n1") < col("n2"))
      val tri = wedges
        .join(und.select(col("a").as("n1"), col("b").as("n2")), Seq("n1", "n2"))
        .groupBy(col("v").as("vec_id")).agg(count(lit(1)).as("n_tri"))
      deg.join(tri, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("coeff",
          when(col("degree") >= 2,
            (col("n_tri") * 2).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double")))
        .orderBy("vec_id")
    },

    // PageRank over the exact 3-NN graph — the iterative-dataflow graph
    // centrality the diversity-sampling / seed-selection tier uses (rank a
    // corpus by graph importance, sample high-rank docs first). PrIters
    // synchronous power-iteration rounds at damping 0.85 over the
    // oracle-checked edge set; every node has out-degree exactly 3, so the
    // contribution of u to each neighbor is pr(u)/3 and there are no
    // dangling-mass corrections. Per-round shape: one equality join
    // (edges × ranks, shuffled on the SAME src/vec_id key every round — at
    // scale both sides pre-partition once) + one hash aggregate; in-edge
    // contributions sum through DECIMAL(38,18) (exact, order-independent),
    // so ranks are bit-reproducible across partitionings and engines — the
    // unrolled DuckDB oracle lands on identical doubles. The edge set is
    // the STORED k-NN index ([[knnGraph]]): built once, scanned per round.
    "ss_pagerank" -> { (s, dir) => pageRankRanks(s, dir) },

    // Single-source BFS hop distances over the undirected 3-NN graph — the
    // frontier-expansion iteration pattern (the third iterative-dataflow
    // shape after label propagation's fixpoint and PageRank's fixed power
    // rounds): round h joins ONLY the hop-(h−1) frontier against the edge
    // table and min-merges the discoveries, so per-round work is
    // O(frontier × k), never O(nodes) — on a 100 TB graph the early rounds
    // touch a vanishing fraction of the edge exchange a whole-graph round
    // would shuffle. Edges come from the STORED k-NN index ([[knnGraph]]),
    // re-read per round like ss_pagerank; hop counts are exact integers, so
    // the bounded recursive-CTE oracle lands on identical rows. Unreached
    // nodes are absent (not ∞) — membership itself is the result.
    "ss_bfs_hops" -> { (s, dir) =>
      val e = knnGraph(s, dir)
      // k-NN edges are directed (a's neighbor b need not have a in ITS top
      // 3); hop distance is over the undirected closure. Materialized: every
      // expansion round probes this frame, and the doubled-union distinct is
      // the query's only corpus-sized shuffle — un-checkpointed it re-ran
      // once per round inside the folded plan.
      val und = Dedup.materialized(
        e.select(col("vec_id").as("src"), col("nbr_id").as("dst"))
          .unionByName(e.select(col("nbr_id").as("src"), col("vec_id").as("dst")))
          .distinct())
      val init = s.range(1).select(lit(BfsSource).cast("long").as("vec_id"), lit(0).as("hops"))
      (1 to BfsMaxHops).foldLeft(init) { (dist, h) =>
        val expanded = dist.filter(col("hops") === h - 1)
          .join(und, col("vec_id") === col("src"))
          .select(col("dst").as("vec_id"), lit(h).as("hops"))
        dist.unionByName(expanded)
          .groupBy("vec_id")
          .agg(min(col("hops")).as("hops"))
      }.orderBy("vec_id")
    },

    // LSH-bucketed ANN: same output shape, approximate neighbor set.
    // FULLY oracle-gated (round 6): the md5-derived hyperplanes, sign-bit
    // bucketing, candidate join, and exact re-rank are all reproduced in
    // DuckDB SQL, so the hash match proves the engine's LSH implements its
    // spec bit-for-bit; SimilaritySpec separately bounds recall vs brute
    // force. Candidate generation is ids-only: the bucket join and the distinct
    // shuffle two longs per hit, never the 64-dim vectors (a vector lives in
    // |Tables| buckets, so carrying payloads through the join would replicate
    // every vector 12× into the shuffle and make the distinct hash 128
    // doubles per row). Vectors are fetched once per distinct candidate pair
    // afterwards: the query side by broadcast, the corpus side by an equality
    // join on the id.
    "ss_ann_lsh" -> { (s, dir) =>
      val e = vecs(s, dir)
      // All 12 bucket keys in one expression, then fan out.
      val bucketed = e
        .select(col("vec_id"), posexplode(lshBuckets(col("v"))).as(Seq("tbl", "bucket")))
      val q = bucketed.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"),
          col("tbl").as("q_tbl"), col("bucket").as("q_bucket"))
      val cands = q.join(
          bucketed,
          col("q_tbl") === col("tbl") && col("q_bucket") === col("bucket") &&
            col("query_id") =!= col("vec_id")
        )
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .distinct()
      val qv = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val nv = e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      cands
        .join(broadcast(qv), "query_id") // bounded: |queries| vectors
        .join(nv, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("nv")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select("query_id", "rk", "neighbor_id", "cos")
        .orderBy("query_id", "rk")
    },

    // IVF-bucketed ANN: same output shape; FULLY oracle-gated (round 6) —
    // the DuckDB twin unrolls the deterministic Lloyd's rounds (hash-sample
    // init, cosine argmin assignment, decimal-exact centroid means) the way
    // ss_pagerank unrolls power iteration; recall measured in SimilaritySpec.
    "ss_ann_ivf" -> { (s, dir) => ivfTopk(s, dir) },

    // Product-quantization ANN (ADC scan + exact re-rank): same output
    // shape; FULLY oracle-gated (round 7) — the DuckDB twin unrolls the 8
    // per-subspace Lloyd's codebooks the way ss_ann_ivf unrolls its coarse
    // quantizer ([[pqChainCte]]); recall measured in SimilaritySpec.
    "ss_ann_pq" -> { (s, dir) => pqTopk(s, dir) },

    // IVF-PQ composition (cells prune rows, codes prune bytes): same output
    // shape; FULLY oracle-gated (round 7) — the twin composes the SHARED
    // trained-cells CTE (ss_ann_ivf's coarse quantizer) with the PQ codebook
    // chain, mirroring the engine's shared stored index; recall in
    // SimilaritySpec.
    "ss_ann_ivfpq" -> { (s, dir) => ivfPqTopk(s, dir) },

    // ANN recall@k ON the gate — the index-quality observability number an
    // ANN deployment actually monitors, computed IN the engine instead of
    // only in ScalaTest: per query, how many of the LSH top-k survive in
    // the exact brute-force top-k. Both inputs are deterministic gated
    // queries, so their intersection is oracle-checkable — the recall
    // REPORT itself gets the hash-proof treatment (the ss_index_stats
    // philosophy applied to retrieval quality). Cost: the two component
    // pipelines (stored-index reads) + a k×queries-row join.
    "ss_ann_recall" -> { (s, dir) =>
      val bf = queries("ss_topk_bruteforce")(s, dir).select("query_id", "neighbor_id")
      val lsh = queries("ss_ann_lsh")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      bf.join(lsh, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(TopK.toDouble)).as("recall"))
        .orderBy("query_id")
    },

    // Recall-vs-nprobe SWEEP — the IVF tuning curve an ANN deployment
    // reads to pick its probe depth (the recall/latency trade is THE
    // operational knob of an inverted-file index): total exact-top-k hits
    // and recall at each probe depth in [[IvfSweepProbes]], every depth
    // served from the SAME stored coarse quantizer (probing is a query-time
    // parameter — nothing retrains). Counts are exact integers; each recall
    // is one final division by the fixed |queries|·k denominator. The
    // oracle replays the full IVF statement per depth (nested-statement
    // CTEs — the ss_ann_recall device, swept), so the hash match proves
    // the whole curve, not one operating point.
    "ss_ivf_probe_sweep" -> { (s, dir) =>
      // Multi-consumer materialization (the module doctrine): the
      // brute-force reference frame and ONE max-depth scored candidate
      // frame are each computed once; every depth's report is a crk-filter
      // + re-rank over the same materialized rows (shallower probe sets
      // are exact subsets — see [[ivfScoredCandidates]]) instead of three
      // full brute-force evaluations and three corpus scans in one
      // unioned plan.
      val bf = Dedup.materialized(
        queries("ss_topk_bruteforce")(s, dir).select("query_id", "neighbor_id"))
      val scored = Dedup.materialized(
        ivfScoredCandidates(s, dir, IvfSweepProbes.max))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      IvfSweepProbes.map { p =>
        val hits = scored.filter(col("crk") <= p)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= TopK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        bf.join(hits, Seq("query_id", "neighbor_id"), "left_outer")
          .agg(count(col("hit")).as("n_hits"))
          .select(lit(p).as("nprobe"), col("n_hits"),
            (col("n_hits").cast("double") / lit((NQueries * TopK).toDouble)).as("recall"))
      }.reduce(_.unionByName(_)).orderBy("nprobe")
    },

    // Stored-structure LIFECYCLE for the ANN tier — the rt_df_incremental
    // staleness contract applied to the IVF index (VERDICT r12 §next-2): a
    // landing batch of vectors arrives AFTER the coarse quantizer was
    // trained, and the index must be maintained by FIXED-CODEBOOK append —
    // assign the batch to the EXISTING centroids ([[baseIvfCentroids]],
    // trained on the pre-landing partition only), never re-cluster and
    // never re-assign the already-indexed corpus. The maintained cell
    // table is stale base cells (read from the store AS-IS) ∪ the batch
    // assignment — O(|batch| · |cells|) new work. The gate output is a
    // lossless per-cell fingerprint (count + keyed checksum of member
    // ids), and the oracle re-derives the SAME table from scratch — full
    // Lloyd's training on the base partition, then one assignment pass
    // over the whole corpus — so the hash match proves
    // append(stale, assign(batch, C)) ≡ assign(corpus, C) exactly. The
    // stale-read-vs-maintained-read distinction (the base cells alone
    // fingerprint DIFFERENTLY) and the no-retraining plan shape (one
    // embeddings scan, no Lloyd's chain) are spec-asserted in
    // SimilaritySpec.
    "ss_ivf_incremental" -> { (s, dir) =>
      val batch = vecs(s, dir)
        .filter(Pipeline.bucket(col("vec_id")) >= Pipeline.LandingBucketCap)
      val maintained = baseIvfCells(s, dir)
        .union(assignCells(batch, baseIvfCentroids(s, dir)))
      cellFingerprint(maintained)
    },

    // Stored-structure LIFECYCLE for the PQ tier — the ss_ivf_incremental
    // staleness contract applied to the CODE TABLE (completing the ANN
    // lifecycle series: df index r12, IVF cells r13, PQ codes r14): a
    // landing batch of vectors arrives AFTER the per-subspace codebooks
    // were trained, and the index must be maintained by FIXED-CODEBOOK
    // encode — slice the batch and assign each slice to the EXISTING
    // codewords ([[basePqCodebook]], trained on the pre-landing partition
    // only), never re-train a subquantizer and never re-encode the
    // already-indexed corpus. The maintained code table is stale base codes
    // (read from the store AS-IS) ∪ the batch encoding — O(|batch|·PqSub·K)
    // new work. The gate output is a lossless per-(subspace, codeword)
    // fingerprint (member count + keyed checksum of member ids), and the
    // oracle re-derives the SAME table from scratch — full per-subspace
    // Lloyd's training on the base partition, then one encode pass over the
    // whole corpus — so the hash match proves
    // append(stale, encode(batch, CB)) ≡ encode(corpus, CB) exactly. The
    // stale-read-vs-maintained-read distinction and the no-retraining plan
    // shape (one embeddings scan, no Lloyd's chain) are spec-asserted in
    // SimilaritySpec.
    "ss_pq_incremental" -> { (s, dir) =>
      val batch = vecs(s, dir)
        .filter(Pipeline.bucket(col("vec_id")) >= Pipeline.LandingBucketCap)
      val maintained = basePqCodes(s, dir)
        .unionByName(encodeAtCodebook(subRows(batch), basePqCodebook(s, dir)))
      codeFingerprint(maintained)
    },

    // PQ DISTORTION audit — the codebook-quality artifact a vector store
    // reads before trusting ADC distances (and re-reads on every corpus
    // snapshot: rising distortion means the trained codebook no longer fits
    // the data → retrain signal). Per subspace: the number of encoded
    // points, the quantized sum of squared reconstruction errors
    // ‖sv − cv(assigned)‖², the mean squared error, and the worst single
    // error. Determinism is the engine's quantize-before-sum contract
    // (TextOps.qlog doctrine): each per-row error is one fixed IEEE tree of
    // SeqDot compositions (err = sv·sv − 2·sv·cv + cv·cv — no zip_with
    // subtraction, same argmin-identity trick as [[pqScore]]), rounded to
    // integer millionths BEFORE the cross-row sum AND the cross-row max,
    // so every gated statistic is a function of exact integers (the raw
    // per-row double diverges from DuckDB's libm at 1 ulp — measured — and
    // an unquantized max would expose that bit on the gate).
    // Shape: the stored code table (n·PqSub rows) equality-joined
    // to the subspace slices and the K-entry broadcast codebook, one hash
    // aggregation (map-side partial) to PqSub rows — O(n) with no extra
    // training pass, the index is read as-is.
    "ss_pq_distortion" -> { (s, dir) =>
      val cb = Stored.materialize("pq_codebook", dir, s)(
        trainPqCodebook(subRows(vecs(s, dir))))
      val (codes, _) = pqIndex(s, dir)
      val sr = subRows(vecs(s, dir))
        .select(col("vec_id").as("neighbor_id"), col("sub"), col("sv"))
      codes.join(sr, Seq("neighbor_id", "sub"))
        .join(broadcast(cb), Seq("sub", "cid")) // bounded: K-entry codebook per subspace
        .select(col("sub"),
          (Dedup.dotSeq(col("sv"), col("sv"))
            - lit(2) * Dedup.dotSeq(col("sv"), col("cv"))
            + Dedup.dotSeq(col("cv"), col("cv"))).as("err"))
        .select(col("sub"),
          round(lit(1000000.0) * col("err")).cast("long").as("err_q"))
        .groupBy("sub")
        .agg(count(lit(1)).as("n_points"),
          sum(col("err_q")).as("sse_q"),
          (sum(col("err_q")).cast("double") /
            (lit(1000000.0) * count(lit(1)))).as("mse"),
          // Max over the QUANTIZED errors, not the raw doubles: the raw
          // per-row err diverges from DuckDB's libm at 1 ulp, and max
          // (unlike the quantized sum) would expose that bit on the gate.
          (max(col("err_q")).cast("double") / lit(1000000.0)).as("max_err"))
        .orderBy("sub")
    },

    // Norm + int8 quantization codes per vector — the storage/SIMD form a
    // vector store keeps (4× smaller than float32). One narrow codegen'd
    // pass, no shuffle; deterministic via floor(x+0.5) round-half-up and the
    // shared SeqDot norm (see [[graft.functions.QuantizeInt8]]). Codes ride
    // as a comma-joined string because the driver gate hash-compares scalar
    // columns (same convention as q32's array_agg).
    "ss_embed_quant" -> { (s, dir) =>
      vecs(s, dir)
        .withColumn("nrm", sqrt(Dedup.dotSeq(col("v"), col("v"))))
        .select(
          col("vec_id"),
          col("nrm"),
          array_join(
            graft.functions.QuantizeInt8(col("v"), col("nrm")).cast("array<string>"),
            ",").as("qvec"))
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    // web-scale through semantic deduplication"): prune semantically
    // near-duplicate items by clustering embeddings with k-means and
    // comparing pairs ONLY within a cluster — the published trick that
    // turns embedding dedup's O(n²) into Σ|cell|² with bounded cells (at
    // 100 TB you raise k with n, so |cell| stays constant and the pair tier
    // is linear in the corpus). Reuses the STORED IVF coarse quantizer
    // (`ivf_centroids`/`ivf_cells` — one trained structure serving both ANN
    // and dedup, like a production vector lake); each pruned vector reports
    // its lowest-id duplicate keeper and the cosine to it. Fully hash-gated:
    // the oracle re-runs the unrolled Lloyd's rounds (shared CTE with
    // ss_ann_ivf) and the same intra-cell pair scan.
    "dd_semantic" -> { (s, dir) =>
      val m = vecs(s, dir).join(ivfCells(s, dir), "vec_id")
      val keep = m.select(col("cell"), col("vec_id").as("keep_id"), col("v").as("kv"))
      m.join(keep, Seq("cell"))
        .filter(col("keep_id") < col("vec_id"))
        .select(col("cell"), col("vec_id"), col("keep_id"),
          cosine(col("kv"), col("v")).as("cos"))
        .filter(col("cos") >= SemTau)
        .groupBy("vec_id", "cell")
        .agg(
          min("keep_id").as("dup_of"),
          min_by(col("cos"), col("keep_id")).as("cos"),
          count(lit(1)).as("n_dups"))
        .orderBy("vec_id")
    },

    // IVF index health report — the observability artifact an ANN
    // deployment monitors to decide when to RETRAIN: per trained cell, its
    // population (balance — a skewed quantizer concentrates probes) and the
    // quantized cosine-to-centroid distribution (cohesion — drifting data
    // pulls assignments away from their centroids). One broadcast of the
    // |cells|-row centroid table into a narrow scan + one bounded hash
    // aggregate; the mean rides as an exact integer sum (sum_cos_q / n_vecs
    // is the consumer's division). Fourth consumer of the stored index.
    "ss_index_stats" -> { (s, dir) =>
      val e = vecs(s, dir)
      val cent = Stored.materialize("ivf_centroids", dir, s)(trainCentroids(e))
      e.join(ivfCells(s, dir), "vec_id")
        .join(broadcast(cent.select(col("c_id").as("cell"), col("cv"))), Seq("cell")) // bounded: |cells| centroids
        .select(col("cell"),
          round(cosine(col("v"), col("cv")) * lit(1000000.0)).cast("long").as("cq"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum("cq").as("sum_cos_q"),
          min("cq").as("min_cos_q"), max("cq").as("max_cos_q"))
        .orderBy("cell")
    },

    // Greedy facility-location coreset selection, partitioned by k-means
    // cell — the data-pruning contract (pick the few most REPRESENTATIVE
    // items; train on the coreset): rank-1 representative per cell is the
    // coverage argmax (the vector whose summed similarity to every cell
    // member is highest), rank-2 the marginal-gain argmax (classic greedy
    // submodular maximization, within-cell — the divide-and-conquer
    // formulation that makes facility location tractable at corpus scale:
    // the quadratic similarity scan is bounded at Σ|cell|², exactly the
    // SemDeDup shape, and cells run in parallel). Third consumer of the
    // stored IVF cells. Determinism: each pairwise cosine quantizes to
    // integer millionths BEFORE the coverage/gain sums (the NB/LM
    // contract), so every argmax compares exact integers with (value DESC,
    // vec_id ASC) tie-breaks; the whole selection is hash-gated against a
    // DuckDB twin over the shared trained-cells CTE.
    "ss_coreset_greedy" -> { (s, dir) =>
      val m = vecs(s, dir).join(ivfCells(s, dir), "vec_id")
      val a = m.select(col("cell"), col("vec_id").as("j"), col("v").as("vj"))
      val b = m.select(col("cell"), col("vec_id").as("i"), col("v").as("vi"))
      val pairs = Dedup.materialized(
        a.join(b, Seq("cell"))
          .select(col("cell"), col("j"), col("i"),
            round(cosine(col("vj"), col("vi")) * lit(1000000.0)).cast("long").as("sim_q")))
      val w1 = Window.partitionBy("cell").orderBy(col("cov_q").desc, col("i").asc)
      val r1 = pairs.groupBy("cell", "i").agg(sum("sim_q").as("cov_q"))
        .withColumn("rk", row_number().over(w1)).filter(col("rk") === 1)
        .select(col("cell"), col("i").as("rep1"), col("cov_q"))
      val cur = pairs.join(r1.select(col("cell"), col("rep1")), Seq("cell"))
        .filter(col("i") === col("rep1"))
        .select(col("cell"), col("j"), col("sim_q").as("cur_q"))
      val w2 = Window.partitionBy("cell").orderBy(col("gain_q").desc, col("i").asc)
      val r2 = pairs.join(cur, Seq("cell", "j"))
        .join(broadcast(r1.select(col("cell"), col("rep1"))), Seq("cell")) // bounded: |cells| rows
        .filter(col("i") =!= col("rep1"))
        .select(col("cell"), col("i"),
          greatest(col("sim_q") - col("cur_q"), lit(0L)).as("g"))
        .groupBy("cell", "i").agg(sum("g").as("gain_q"))
        .withColumn("rk", row_number().over(w2)).filter(col("rk") === 1)
        .select(col("cell"), col("i").as("vec_id"), lit(2).as("sel_rank"), col("gain_q"))
      r1.select(col("cell"), col("rep1").as("vec_id"), lit(1).as("sel_rank"),
          col("cov_q").as("gain_q"))
        .unionByName(r2)
        .orderBy("cell", "sel_rank")
    }
  )

  /** SemDeDup intra-cluster cosine threshold. The corpus has no planted
    * embedding clusters (pair cosines ~0.3-0.5), so the threshold sits in
    * the distribution's upper tail to exercise a real pruned set at every
    * SF; with genuinely clustered embeddings the published τ ≈ 0.95+ drops
    * in unchanged.
    */
  val SemTau = 0.42

  /** PageRank power-iteration rounds for [[queries ss_pagerank]]. */
  val PrIters = 3

  /** The ss_pagerank plan: the stored-graph read + uniform init, then
    * [[PrIters]] rounds of one edges-join + hash aggregate each.
    */
  private[graft] def pageRankRanks(s: SparkSession, dir: String): DataFrame = {
    val nodes = vecs(s, dir).select(col("vec_id"))
    // Corpus-constant node count, folded in as a LITERAL via the stored-
    // scalar tier (the lm_vocab_v device — "removing a one-row scan +
    // broadcast-join stage from every query that needs it", and this plan
    // needed it PrIters+1 times): the old one-row count aggregate was
    // broadcast-cross-joined into init AND every round, costing an extra
    // corpus scan + broadcast build per round — 4 scans/builds at PrIters=3
    // (r19 plan evidence, OPTIMIZATION_r19.md: 8 → 4 embeddings scans).
    // Arithmetic is unchanged: count→long→double is exact (n ≪ 2^53) and
    // `lit(0.15)/lit(n)` constant-folds through the
    // same IEEE division the broadcast column fed, so the ranks are
    // bit-identical (oracle-gated).
    val nD = Stored.scalarLong("pr_n_nodes", dir, s)(nodes.count()).toDouble
    // knnGraph is a stored parquet index ([[Stored.materialize]]): each round's
    // scan of the edge table is a cheap re-read, no checkpoint needed.
    val edges = knnGraph(s, dir).select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val init = nodes.select(col("vec_id"), (lit(1.0) / lit(nD)).as("pr"))
    (1 to PrIters).foldLeft(init) { (pr, _) =>
      val contrib = edges
        .join(pr.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"),
          (col("pr") / lit(3.0)).cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).cast("double").as("s"))
      nodes
        .join(contrib, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
          (lit(0.15) / lit(nD) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr"))
    }.orderBy("vec_id")
  }

  /** BFS source vertex and hop bound for [[queries ss_bfs_hops]]. The bound
    * is structural, not a tuning knob: it caps the recursion in BOTH engines
    * (the oracle's recursive CTE would otherwise rediscover cycle nodes at
    * ever-higher hop counts forever).
    */
  val BfsSource = 0L
  val BfsMaxHops = 4

  /** IVF parameters: cells, probed cells per query, Lloyd's rounds. */
  val IvfCells = 16
  val IvfProbes = 4
  val IvfIters = 3

  /** Probe depths of [[queries ss_ivf_probe_sweep]] (includes [[IvfProbes]],
    * so one sweep row reproduces the production setting).
    */
  val IvfSweepProbes: Seq[Int] = Seq(1, 2, 4)

  /** Init-sample draw seed of [[trainCentroids]] — its OWN family: was the
    * literal 7 == [[Pipeline.SampleSeed]], which made the quantizer's init
    * rank and the landing-bucket base/landing split (ss_ivf_incremental)
    * functions of ONE md5Long draw on the same vec_id space, the dependence
    * class SeedHygieneSpec exists to ban. Pinned pairwise-distinct there.
    */
  private[graft] val IvfInitSeed = 37

  /** Train the coarse quantizer with Lloyd's k-means — all dataflow, no
    * driver-side actions:
    *
    *  - init: the IvfCells vectors with the LOWEST md5Long(vec_id) — a
    *    deterministic uniform pseudo-random sample (lowest raw ids would
    *    inherit any ingest-order bias). `orderBy.limit` plans as
    *    TakeOrderedAndProject: per-partition top-k + driver merge, never a
    *    global sort. The sampled vec_id doubles as the stable cell id.
    *  - IvfIters rounds of assign-to-nearest (broadcast cross-join against
    *    IvfCells rows, nearest by cosine with a c_id tie-break) then
    *    per-cell mean. Means accumulate in DECIMAL(38,18): exact,
    *    order-independent addition, so the trained centroids — and with them
    *    the whole ANN result — are bit-reproducible across partitionings
    *    (double sums are not). Per-dimension means via posexplode +
    *    re-assembly keyed on (c_id, pos): one narrow shuffle of
    *    corpus×Dims scalar rows per round.
    *
    * A cell that captures no vectors in some round drops out (its key simply
    * stops appearing), so the quantizer degrades gracefully. No caching:
    * each round's centroid frame feeds exactly one downstream broadcast, so
    * the whole training chain evaluates once per action — a persist here
    * would let a SECOND action (e.g. a benchmark's repeat pass) silently
    * reuse the first pass's cached rounds and under-state training cost.
    */
  private def trainCentroids(e: DataFrame): DataFrame = {
    val init = e
      .orderBy(md5Long(IvfInitSeed, col("vec_id").cast("string")), col("vec_id"))
      .limit(IvfCells)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    (1 to IvfIters).foldLeft(init) { (cent, _) =>
      val wc = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
      val assigned = e.crossJoin(broadcast(cent)) // bounded: |cells| centroids
        .select(col("vec_id"), col("v"), col("c_id"), cosine(col("v"), col("cv")).as("c_cos"))
        .withColumn("crk", row_number().over(wc))
        .filter(col("crk") === 1)
      assigned
        .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("c_id", "pos")
        // Exact DECIMAL sum (order-independent), ONE double division — not
        // decimal division: Spark rounds a decimal quotient to scale 18
        // before the double cast while DuckDB divides through DOUBLE, so
        // the quotient forms diverge at the ulp; sum→double→÷n is a single
        // correctly-rounded IEEE op in both engines, which is what lets
        // the whole IVF pipeline carry a full SQL oracle.
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy("c_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          _.getField("m")).as("cv"))
    }
  }

  /** IVF-style ANN with a TRAINED coarse quantizer: Lloyd's k-means
    * centroids ([[trainCentroids]]) partition the corpus into cells; every
    * vector is assigned to its nearest centroid, and each query searches
    * only the IvfProbes nearest cells. The quantizer is a broadcast
    * cross-join (centroids ≪ corpus); at scale the cell assignment is one
    * narrow pass and each query touches |corpus|·(probes/cells) candidates.
    * The trained centroid table and cell assignment are persisted once per
    * corpus and reused across queries AND across the sibling IVF-PQ path
    * ([[Stored.materialize]]); training has zero driver-side actions.
    */
  private def ivfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkAt(s, dir, IvfProbes)

  /** [[ivfTopk]] at an explicit probe depth — the sweep's parameter
    * ([[queries ss_ivf_probe_sweep]]).
    */
  private def ivfTopkAt(s: SparkSession, dir: String, probes: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    ivfScoredCandidates(s, dir, probes)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select("query_id", "rk", "neighbor_id", "cos")
      .orderBy("query_id", "rk")
  }

  /** The probed-candidate scoring behind [[ivfTopkAt]] and the probe-depth
    * sweep: every (query, neighbor) cosine for neighbors in the query's
    * `probes` closest cells, with the query-cell rank `crk` retained so a
    * deeper scan subsumes every shallower one — filtering `crk <= p` on the
    * max-depth frame reproduces depth p exactly (a neighbor lives in
    * exactly one cell, so shrinking the probed cell set only removes rows).
    */
  private def ivfScoredCandidates(s: SparkSession, dir: String, probes: Int): DataFrame = {
    val e = vecs(s, dir)
    val cent = Stored.materialize("ivf_centroids", dir, s)(trainCentroids(e))
    // The corpus-side cell assignment comes from the STORED index
    // ([[ivfCells]]); only the (tiny) query side re-scores against the
    // broadcast centroids to pick its probe cells.
    val corpusCells = e.join(ivfCells(s, dir), "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("v"), col("cell").as("c_id"))
    val wc = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val queryCells = e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(cent)) // bounded: |cells| centroids
      .select(col("vec_id"), col("v"), col("c_id"), cosine(col("v"), col("cv")).as("c_cos"))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= probes)
      .select(col("vec_id").as("query_id"), col("crk"), col("v").as("qv"), col("c_id"))
    // No distinct needed: a neighbor lives in exactly one cell (crk = 1), so
    // each (query, neighbor) pair arises from at most one probed c_id — a
    // distinct here would only re-shuffle the scored rows.
    queryCells
      .join(corpusCells, Seq("c_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("crk"), col("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos"))
  }

  /** Product-quantization parameters: subspaces × per-subspace codebook
    * size, Lloyd's rounds, and the exact-re-rank candidate budget. 8×16
    * codes compress a 64-dim float vector 64× (8 nibbles vs 256 bytes) —
    * at 100 TB the ADC scan reads the code table, not the vectors.
    * PqRerank is a constant PER QUERY (independent of corpus size): the
    * ADC pass nominates that many candidates and only they are fetched
    * for exact scoring.
    */
  val PqSub = 8
  val PqSubDim = Dims / PqSub
  val PqK = 16
  val PqIters = 3
  val PqRerank = 50

  /** Argmin-L2 assignment score: for fixed sv, min ‖sv−cv‖² ⇔ max
    * (sv·cv − ‖cv‖²/2). Keeps assignment a pure SeqDot composition — no
    * vector subtraction (zip_with lambdas evaluate interpreted per element).
    */
  private def pqScore(sv: Column, cv: Column): Column =
    Dedup.dotSeq(sv, cv) - Dedup.dotSeq(cv, cv) / 2

  /** One row per (vector, subspace): the PqSubDim-wide slice, with the
    * vector's norm carried along (stored WITH the codes in production, so
    * cosine needs no second lookup).
    */
  private[operators] def subRows(e: DataFrame): DataFrame =
    e.withColumn("nrm", sqrt(Dedup.dotSeq(col("v"), col("v"))))
      .select(col("vec_id"), col("nrm"),
        explode(sequence(lit(0), lit(PqSub - 1))).as("sub"), col("v"))
      .select(col("vec_id"), col("nrm"), col("sub"),
        slice(col("v"), col("sub") * lit(PqSubDim) + lit(1), lit(PqSubDim)).as("sv"))

  /** Init-sample draw seed of [[trainPqCodebook]] — its OWN family: was the
    * literal 11 == [[Changes.OpSeed]]. Pinned pairwise-distinct in
    * SeedHygieneSpec alongside [[IvfInitSeed]].
    */
  private[graft] val PqInitSeed = 43

  /** Per-subspace Lloyd's k-means codebook: (sub, cid, cv). Same training
    * dataflow as [[trainCentroids]] (deterministic hash-sample init, K
    * assign/recenter rounds, zero driver-side actions), run for all PqSub
    * subspaces at once — the subspace id is just another grouping column,
    * so one plan trains every codebook in parallel.
    *
    * Assignment is `max_by` over a (score, -cid) struct, not a ranked
    * window: an argmax needs no sort, the hash aggregate's partial step
    * merges map-side, and each Lloyd round drops an exchange+sort pair —
    * the struct tie-break reproduces the window's (sc DESC, cid ASC)
    * order exactly.
    */
  private[operators] def trainPqCodebook(sr: DataFrame): DataFrame = {
    val wi = Window.partitionBy("sub")
      .orderBy(md5Long(PqInitSeed, col("vec_id").cast("string")), col("vec_id"))
    val init = sr.withColumn("irk", row_number().over(wi))
      .filter(col("irk") <= PqK)
      .select(col("sub"), (col("irk") - 1).cast("int").as("cid"), col("sv").as("cv"))
    (1 to PqIters).foldLeft(init) { (cb, _) =>
      sr.join(broadcast(cb), Seq("sub")) // bounded: K-entry codebook per subspace
        .select(col("sub"), col("vec_id"), col("sv"), col("cid"),
          pqScore(col("sv"), col("cv")).as("sc"))
        .groupBy("sub", "vec_id")
        // sv is functionally determined by (sub, vec_id): first() is unique.
        .agg(max_by(col("cid"), struct(col("sc"), -col("cid"))).as("cid"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "cid", "pos")
        // Same sum→double→÷n form as trainCentroids (cross-engine-exact).
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy("sub", "cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          _.getField("m")).as("cv"))
    }
  }

  /** Exact 3-NN graph over EVERY vector — the structure diversity sampling,
    * cluster seeding, and graph-based dedup all start from. Composes two
    * proven mechanisms: the dd_embed_pairs block-grid equality join (G²
    * balanced tiles, no cartesian node, shuffle O(n·G)) generates every
    * ordered pair once, and the TopKRows bounded heap reduces each vector's
    * n-1 candidate neighbors to k map-side, so the second exchange carries
    * O(n·k) entries — never the O(n²) pair set. Hash-matched against a
    * DuckDB all-pairs + ROW_NUMBER oracle (cosines are bit-identical via
    * the shared sequential-fold dot product).
    */
  private[graft] def knnGraph(s: SparkSession, dir: String): DataFrame =
    // The k-NN graph is itself a stored index structure (diversity
    // sampling, cluster seeding, triangles, and PageRank all start from
    // it): the O(n²/G) block-grid build runs once per corpus, every
    // downstream consumer — including repeat invocations of the graph
    // query itself — reads the edge table.
    Stored.materialize("knn_graph", dir, s)(knnGraphBuild(s, dir))

  /** The one-time k-NN build plan (audited by PlanAuditSpec: partial
    * map-side heap shrink before the exchange, no cartesian node).
    */
  private[graft] def knnGraphBuild(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir).withColumn("nrm", sqrt(Dedup.dotSeq(col("v"), col("v"))))
    Dedup.blockGridPairs(e, "vec_id", Dedup.embedGrid(s))
      .filter(col("vec_id_a") =!= col("vec_id_b"))
      .select(col("vec_id_a").as("id_a"), col("vec_id_b").as("id_b"),
        (Dedup.dotSeq(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"))
      .groupBy("id_a")
      .agg(graft.functions.TopKRows(3, col("cos"), col("id_b").cast("string")).as("top"))
      .select(col("id_a").as("vec_id"), posexplode(col("top")))
      .select(
        col("vec_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.payload").cast("long").as("nbr_id"),
        col("col.ord").as("cosine"))
  }

  /** PQ index for a corpus: (codes, qparts). `codes` is the 64×-compressed
    * code table (neighbor_id, nrm, sub, cid) — the only thing the recurring
    * ADC scan reads; `qparts` is each query's partial-dot table against
    * every (sub, cid) codeword (queries × PqSub × PqK rows, broadcastable).
    */
  private def pqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cb = Stored.materialize("pq_codebook", dir, s)(trainPqCodebook(subRows(vecs(s, dir))))
    // Encode: nearest codeword per (vector, subspace). The encoded corpus is
    // itself part of the stored index: built once, every ADC scan reads the
    // code table (that IS the 64× compression payoff).
    val codes = Stored.materialize("pq_codes", dir, s)(
      encodeAtCodebook(subRows(vecs(s, dir)), cb))
    val qparts = subRows(vecs(s, dir).filter(col("vec_id") < NQueries))
      .select(col("vec_id").as("query_id"), col("nrm").as("qnrm"), col("sub"), col("sv"))
      .join(broadcast(cb), Seq("sub")) // bounded: K-entry codebook per subspace
      .select(col("query_id"), col("qnrm"), col("sub"), col("cid"),
        Dedup.dotSeq(col("sv"), col("cv")).as("pdot"))
    (codes, qparts)
  }

  /** Nearest-codeword encoding of subspace slices against a (broadcast)
    * codebook — the ONE definition of "which code does this slice get",
    * shared by the full index build ([[pqIndex]]), the stale base code
    * table, and ss_pq_incremental's fixed-codebook landing-batch append
    * (exactly [[assignCells]]'s role in the IVF tier). max_by argmax, same
    * sort-free shape as training assignment. O(|sr| · K) work, one narrow
    * pass — encoding never shuffles the slices beyond its own aggregation.
    */
  private[operators] def encodeAtCodebook(sr: DataFrame, cb: DataFrame): DataFrame =
    sr.join(broadcast(cb), Seq("sub")) // bounded: K-entry codebook per subspace
      .select(col("vec_id"), col("nrm"), col("sub"), col("cid"),
        pqScore(col("sv"), col("cv")).as("sc"))
      .groupBy(col("vec_id").as("neighbor_id"), col("nrm"), col("sub"))
      .agg(max_by(col("cid"), struct(col("sc"), -col("cid"))).as("cid"))

  /** Stored corpus-side cell assignment (vec_id → nearest trained centroid)
    * shared by the IVF and IVF-PQ paths — the index structure a production
    * deployment persists next to the centroids. max_by argmax reproduces
    * the ranked-window (c_cos DESC, c_id ASC) assignment exactly.
    */
  private[operators] def ivfCells(s: SparkSession, dir: String): DataFrame =
    Stored.materialize("ivf_cells", dir, s) {
      val e = vecs(s, dir)
      val cent = Stored.materialize("ivf_centroids", dir, s)(trainCentroids(e))
      assignCells(e, cent)
    }

  /** Nearest-centroid assignment of a vector frame against a (broadcast)
    * centroid table — the ONE definition of "which cell does this vector
    * live in", shared by the full index build ([[ivfCells]]), the stale
    * base index, and ss_ivf_incremental's fixed-codebook landing-batch
    * append. max_by argmax reproduces the ranked-window
    * (c_cos DESC, c_id ASC) assignment exactly. O(|e| · |cells|) work, one
    * narrow pass — assignment never shuffles the vectors.
    */
  private[operators] def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent)) // bounded: |cells| centroids
      .select(col("vec_id"), col("c_id"), cosine(col("v"), col("cv")).as("c_cos"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("cell"))

  /** Checksum seed for [[cellFingerprint]] (no other seeded hash family in
    * the engine uses 23, so the checksum is independent of every sampling /
    * op-assignment / quantizer-init draw).
    */
  val CellCkSeed = 23

  /** Compact fingerprint of a (vec_id, cell) assignment table: per cell,
    * the member count and the sum of each member id's keyed md5 hash
    * reduced mod 1e9+7. The mod keeps each term under 2³⁰ so the BIGINT
    * sum stays exact up to ~10⁹ members per cell; it also caps the per-pair
    * collision odds at ~10⁻⁹ (NOT the raw hash's 60 bits — the reduction
    * spends entropy for sum headroom), which is fingerprint-grade, not
    * proof-grade. The gate's actual equality proof is the DuckDB oracle
    * recomputing the identical checksum from a from-scratch rebuild, plus
    * SimilaritySpec's EXACT row-level append≡rebuild comparison at spec
    * scale; the fingerprint only compresses the assignment to ≤ |cells|
    * gate rows.
    */
  private def cellFingerprint(cells: DataFrame): DataFrame =
    cells.groupBy("cell")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(pmod(md5Long(CellCkSeed, col("vec_id").cast("string")), lit(1000000007L)))
          .as("vec_ck"))
      .orderBy("cell")

  /** The pre-landing base partition of the corpus (bucket < the shared
    * [[Retrieval.IndexedBucketCap]] split, the same 80/20 landing shape as
    * rt_df_incremental / dd_incremental).
    */
  private def baseVecs(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).filter(Pipeline.bucket(col("vec_id")) < Pipeline.LandingBucketCap)

  /** The STALE coarse quantizer: centroids trained on the pre-landing base
    * partition only, stored — the index artifact that predates the landing
    * batch. A landing batch NEVER retrains this (fixed-codebook append, the
    * FAISS production discipline); re-clustering is a scheduled rebuild,
    * not a maintenance step.
    */
  private[graft] def baseIvfCentroids(s: SparkSession, dir: String): DataFrame =
    Stored.materialize("ivf_base_centroids", dir, s)(trainCentroids(baseVecs(s, dir)))

  /** The STALE cell table: base-partition vectors assigned to the base
    * centroids, stored next to them (what a deployment has on disk when the
    * landing batch arrives).
    */
  private[graft] def baseIvfCells(s: SparkSession, dir: String): DataFrame =
    Stored.materialize("ivf_base_cells", dir, s)(
      assignCells(baseVecs(s, dir), baseIvfCentroids(s, dir)))

  /** The STALE product quantizer: per-subspace codebooks trained on the
    * pre-landing base partition only, stored — the PQ analog of
    * [[baseIvfCentroids]]. A landing batch NEVER retrains the
    * subquantizers (fixed-codebook encode, the FAISS production
    * discipline); re-training is a scheduled rebuild, not maintenance.
    */
  private[graft] def basePqCodebook(s: SparkSession, dir: String): DataFrame =
    Stored.materialize("pq_base_codebook", dir, s)(
      trainPqCodebook(subRows(baseVecs(s, dir))))

  /** The STALE code table: base-partition slices encoded at the base
    * codebooks, stored next to them (what a vector store has on disk when
    * the landing batch arrives) — the PQ analog of [[baseIvfCells]].
    */
  private[graft] def basePqCodes(s: SparkSession, dir: String): DataFrame =
    Stored.materialize("pq_base_codes", dir, s)(
      encodeAtCodebook(subRows(baseVecs(s, dir)), basePqCodebook(s, dir)))

  /** Checksum seed for [[codeFingerprint]] — PQ's own draw family
    * (SeedHygieneSpec pins every `*Seed` constant pairwise distinct, so the
    * code checksum is independent of the IVF cell checksum and every
    * sampling / op-assignment / quantizer-init draw).
    */
  val PqCkSeed = 19

  /** Compact fingerprint of a (neighbor_id, sub, cid) code table: per
    * (subspace, codeword), the member count and the mod-1e9+7 sum of each
    * member id's keyed md5 hash — the [[cellFingerprint]] construction with
    * (sub, cid) as the bucket key (same sum-headroom / collision-odds
    * analysis; the gate's actual equality proof is the DuckDB oracle
    * recomputing the identical checksum from a from-scratch rebuild plus
    * SimilaritySpec's exact row-level append≡rebuild comparison).
    */
  private def codeFingerprint(codes: DataFrame): DataFrame =
    codes.groupBy("sub", "cid")
      .agg(
        count(lit(1)).as("n_codes"),
        sum(pmod(md5Long(PqCkSeed, col("neighbor_id").cast("string")), lit(1000000007L)))
          .as("code_ck"))
      .orderBy("sub", "cid")

  /** Shared ADC tail: sum partial dots per (query, neighbor), keep the top
    * PqRerank by approximate cosine (EXACT norms ride with the codes), then
    * re-score the nominated candidates against their true vectors. The
    * PqSub partial dots accumulate through DECIMAL(38,18) — exact,
    * order-independent addition (the trainCentroids contract), so the ADC
    * score — and with it the candidate set and the whole PQ result — is
    * bit-reproducible across partitionings and engines.
    */
  private def adcRerank(e: DataFrame, joined: DataFrame): DataFrame = {
    val wadc = Window.partitionBy("query_id").orderBy(col("adc_cos").desc, col("neighbor_id").asc)
    val candidates = joined
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id", "qnrm", "nrm")
      .agg(sum(col("pdot").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double").as("adc"), count(lit(1)).as("nsub"))
      .filter(col("nsub") === PqSub)
      .select(col("query_id"), col("neighbor_id"),
        (col("adc") / (col("qnrm") * col("nrm"))).as("adc_cos"))
      .withColumn("crk", row_number().over(wadc)).filter(col("crk") <= PqRerank)
      .select("query_id", "neighbor_id")
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(candidates.join(broadcast(q), Seq("query_id"))) // bounded: per-query cell-pruned candidates
      .join(e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= TopK)
      .select("query_id", "rk", "neighbor_id", "cos")
      .orderBy("query_id", "rk")
  }

  /** PQ ANN with asymmetric distance computation and exact re-rank.
    *
    * Offline: train per-subspace codebooks, encode every corpus vector as
    * PqSub code ids (argmin-L2 per subspace) — the code table plus norm is
    * all the ADC scan ever reads. Query time: each query precomputes its
    * partial-dot table against every (sub, cid) codeword — queries ×
    * PqSub × PqK rows, broadcast — and the ADC score is the SUM of the
    * partials matching the corpus codes: q·v ≈ Σ_s q_s·c_{s,code_s(v)}.
    * The top PqRerank candidates per query by approximate cosine are then
    * re-scored EXACTLY against their true vectors (a broadcast of the
    * candidate id set — queries × PqRerank rows, constant-size) for the
    * final top-k.
    *
    * 100 TB shape: training/encoding are broadcast joins against ≤
    * PqSub×PqK codewords; the recurring per-query cost is one narrow scan
    * of the 64×-compressed code table + a grouped sum, and the exact pass
    * touches PqRerank vectors per query instead of the corpus. This is the
    * memory-bandwidth trade every production vector store makes (FAISS
    * IVF-PQ); compose with the IVF cells of [[ivfTopk]] to also prune
    * WHICH codes are scanned.
    */
  private def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val (codes, qparts) = pqIndex(s, dir)
    adcRerank(vecs(s, dir), codes.join(broadcast(qparts), Seq("sub", "cid"))) // bounded: |queries| x subspaces rows
  }

  /** IVF-PQ: the two pruning structures composed (the FAISS production
    * shape). The trained coarse quantizer assigns every vector to a cell
    * (WHICH code rows a query scans — prunes rows); the PQ codes compress
    * what is read per row (prunes bytes). A query probes its IvfProbes
    * nearest cells and runs the ADC sum only over codes in those cells, so
    * the recurring cost is |corpus|·(probes/cells) code-table rows, each 8
    * nibbles wide — at 100 TB the cell id would be stored WITH the codes
    * (here it rides in on a vec-id join) and the code table would be
    * cluster-by-cell laid out ([[graft.operators.Maintenance.clusterBy]])
    * so probed cells are contiguous file ranges.
    */
  private def ivfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    // Both pruning structures come from the SHARED stored index: the same
    // trained centroids/cells as ss_ann_ivf (one coarse quantizer per
    // corpus, not one per query family) and the same code table as
    // ss_ann_pq. Only the query probes re-score against the broadcast
    // centroids at query time.
    val cent = Stored.materialize("ivf_centroids", dir, s)(trainCentroids(e))
    val wq = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val qprobes = e.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(cent)) // bounded: |cells| centroids
      .select(col("vec_id"), col("c_id"), cosine(col("v"), col("cv")).as("c_cos"))
      .withColumn("crk", row_number().over(wq)).filter(col("crk") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("c_id").as("cell"))
    val (codes, qparts) = pqIndex(s, dir)
    val joined = codes
      .join(ivfCells(s, dir).withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qprobes), Seq("cell")) // bounded: |queries| x probes rows
      .join(broadcast(qparts), Seq("query_id", "sub", "cid")) // bounded: |queries| x subspaces rows
    adcRerank(e, joined)
  }

  /** DuckDB sequential-fold dot product / cosine over list columns — the
    * bit-exact twin of [[Dedup.dotSeq]] / [[cosine]] (left fold in index
    * order, 0.0 seed ≡ first-element seed).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce([$a[i] * $b[i] FOR i IN range(1, len($a)+1)], (p, s) -> p + s)"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** The brute-force and LSH oracle statements as vals so the recall
    * oracle can nest them as CTE bodies (one definition, two consumers).
    */
  /** The full gated IVF statement at probe depth `probes` — ss_ann_ivf is
    * this at [[IvfProbes]]; the sweep nests one per depth.
    */
  private def ivfSqlAt(probes: Int): String =
    s"""WITH $trainedCellsCte, qc AS (
       |  SELECT vec_id AS query_id, v AS qv, c_id
       |  FROM (
       |    SELECT e.vec_id, e.v, c.c_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS crk
       |    FROM e CROSS JOIN c$IvfIters c WHERE e.vec_id < $NQueries
       |  ) WHERE crk <= $probes
       |), scored AS (
       |  SELECT qc.query_id, cc.neighbor_id, ${cosSql("qc.qv", "cc.nv")} AS cos
       |  FROM qc JOIN cc USING (c_id) WHERE qc.query_id <> cc.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  private lazy val bruteforceSql: String =
    s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_reduce([q.v[i] * e.v[i] FOR i IN range(1, len(q.v)+1)], (p, s) -> p + s)
         |      / (sqrt(list_reduce([q.v[i] * q.v[i] FOR i IN range(1, len(q.v)+1)], (p, s) -> p + s))
         |         * sqrt(list_reduce([e.v[i] * e.v[i] FOR i IN range(1, len(e.v)+1)], (p, s) -> p + s))) AS cos
         |  FROM e q JOIN e ON q.vec_id < $NQueries AND q.vec_id <> e.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
         |  FROM scored
         |)
         |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos
         |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  private lazy val annLshSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), pl AS (
       |  SELECT pp.p AS p,
       |    list(((CAST('0x' || substr(md5('p:' || pp.p || ':' || dd.d), 1, 15) AS BIGINT)
       |           % 2000) - 1000) / 1000.0 ORDER BY dd.d) AS pv
       |  FROM range(${Tables * PlanesPerTable}) pp(p) CROSS JOIN range($Dims) dd(d)
       |  GROUP BY pp.p
       |), sg AS (
       |  SELECT e.vec_id, pl.p // $PlanesPerTable AS tbl, pl.p % $PlanesPerTable AS bit,
       |    CASE WHEN ${dotSql("e.v", "pl.pv")} >= 0 THEN 1 ELSE 0 END AS s
       |  FROM e CROSS JOIN pl
       |), bk AS (
       |  SELECT vec_id, tbl, SUM(s * (1 << bit)) AS bucket FROM sg GROUP BY vec_id, tbl
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM bk q JOIN bk b ON q.tbl = b.tbl AND q.bucket = b.bucket
       |  WHERE q.vec_id < $NQueries AND q.vec_id <> b.vec_id
       |), scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cosSql("q.v", "n.v")} AS cos
       |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  /** Filtered twin of [[bruteforceSql]]: the candidate side is restricted to
    * documents passing the metadata predicate before any scoring.
    */
  private lazy val filteredKnnSql: String =
    s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), cand AS (
         |  SELECT e.vec_id, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = 'en'
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce([q.v[i] * c.v[i] FOR i IN range(1, len(q.v)+1)], (p, s) -> p + s)
         |      / (sqrt(list_reduce([q.v[i] * q.v[i] FOR i IN range(1, len(q.v)+1)], (p, s) -> p + s))
         |         * sqrt(list_reduce([c.v[i] * c.v[i] FOR i IN range(1, len(c.v)+1)], (p, s) -> p + s))) AS cos
         |  FROM e q JOIN cand c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
         |  FROM scored
         |)
         |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos
         |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  val oracles: Map[String, String] = Map(
    "ss_topk_bruteforce" -> bruteforceSql,
    "ss_filtered_knn" -> filteredKnnSql,
    // Recall-report twin: both component statements nested as CTE bodies
    // (DuckDB supports a WITH inside a CTE), intersection counted per query.
    "ss_ann_recall" ->
      s"""WITH bf AS ($bruteforceSql), lsh AS ($annLshSql)
         |SELECT bf.query_id, COUNT(lsh.neighbor_id) AS n_hits,
         |  CAST(COUNT(lsh.neighbor_id) AS DOUBLE) / $TopK AS recall
         |FROM bf LEFT JOIN lsh
         |  ON lsh.query_id = bf.query_id AND lsh.neighbor_id = bf.neighbor_id
         |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin,
    // Hard-negative twin: the brute-force scan with the label-inequality
    // predicate in the join.
    "ss_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS q_label,
         |    e.vec_id AS neighbor_id, e.label AS neg_label,
         |    ${cosSql("q.v", "e.v")} AS cos
         |  FROM e q JOIN e ON q.vec_id < $NQueries AND q.label <> e.label
         |), ranked AS (
         |  SELECT query_id, q_label, neighbor_id, neg_label, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
         |  FROM scored
         |)
         |SELECT query_id, q_label, CAST(rk AS INT) AS rk, neighbor_id, neg_label, cos
         |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "ss_knn_graph" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
        |  FROM e
        |), p AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
        |    list_reduce([a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)], (p, q) -> p + q)
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |), r AS (
        |  SELECT vec_id, nbr_id, cosine,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY vec_id
        |      ORDER BY cosine DESC, CAST(nbr_id AS VARCHAR) ASC) AS rnk
        |  FROM p
        |)
        |SELECT vec_id, CAST(rnk AS INT) AS rank, nbr_id, cosine
        |FROM r WHERE rnk <= 3 ORDER BY vec_id, rank""".stripMargin,
    // Same knn-edge CTE chain, then in-degree counts with 0-degree nodes
    // kept via the left join.
    "ss_degree_hist" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
        |  FROM e
        |), p AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
        |    list_reduce([a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)], (p, q) -> p + q)
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |), r AS (
        |  SELECT vec_id, nbr_id, cosine,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY vec_id
        |      ORDER BY cosine DESC, CAST(nbr_id AS VARCHAR) ASC) AS rnk
        |  FROM p
        |), indeg AS (
        |  SELECT nbr_id AS vec_id, COUNT(*) AS ind FROM r WHERE rnk <= 3 GROUP BY nbr_id
        |)
        |SELECT COALESCE(ind, 0) AS in_degree, COUNT(*) AS n_nodes
        |FROM embeddings em LEFT JOIN indeg USING (vec_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same knn-edge CTE chain as ss_knn_graph, then PrIters unrolled
    // synchronous PageRank rounds (built programmatically below): each
    // round is contributions (SUM of pr/3.0 through DECIMAL(38,18), exact
    // and order-independent) then rank refresh 0.15/nn + 0.85·Σ.
    "ss_pagerank" -> {
      val rounds = (1 to PrIters).map { i =>
        s"""c$i AS (
           |  SELECT dst, CAST(SUM(CAST(pr / 3.0 AS DECIMAL(38,18))) AS DOUBLE) AS s
           |  FROM ed JOIN p${i - 1} ON src = p${i - 1}.vec_id GROUP BY dst
           |), p$i AS (
           |  SELECT em.vec_id, 0.15 / nn + 0.85 * COALESCE(s, 0.0) AS pr
           |  FROM embeddings em CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = em.vec_id
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), n AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
         |  FROM e
         |), p AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |    list_reduce([a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)], (p, q) -> p + q)
         |      / (a.nrm * b.nrm) AS cosine
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT vec_id, nbr_id, cosine,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY vec_id
         |      ORDER BY cosine DESC, CAST(nbr_id AS VARCHAR) ASC) AS rnk
         |  FROM p
         |), ed AS (
         |  SELECT vec_id AS src, nbr_id AS dst FROM r WHERE rnk <= 3
         |), nn AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM embeddings
         |), p0 AS (
         |  SELECT vec_id, 1.0 / nn AS pr FROM embeddings CROSS JOIN nn
         |), $rounds
         |SELECT vec_id, pr FROM p$PrIters ORDER BY vec_id""".stripMargin
    },
    // Same knn-edge CTE chain, undirected closure, then a bounded
    // recursive walk: UNION dedups (vec_id, hops) states, the hop bound
    // terminates cycles, MIN picks the BFS distance.
    "ss_bfs_hops" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), n AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
         |  FROM e
         |), p AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |    list_reduce([a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)], (p, q) -> p + q)
         |      / (a.nrm * b.nrm) AS cosine
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT vec_id, nbr_id,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY vec_id
         |      ORDER BY cosine DESC, CAST(nbr_id AS VARCHAR) ASC) AS rnk
         |  FROM p
         |), und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT vec_id AS src, nbr_id AS dst FROM r WHERE rnk <= 3
         |    UNION ALL
         |    SELECT nbr_id, vec_id FROM r WHERE rnk <= 3
         |  )
         |), walk(vec_id, hops) AS (
         |  SELECT CAST($BfsSource AS BIGINT), 0
         |  UNION
         |  SELECT u.dst, w.hops + 1
         |  FROM walk w JOIN und u ON u.src = w.vec_id
         |  WHERE w.hops < $BfsMaxHops
         |)
         |SELECT vec_id, MIN(hops) AS hops FROM walk
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "ss_knn_triangles" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
        |  FROM e
        |), p AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
        |    list_reduce([a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)], (p, q) -> p + q)
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |), r AS (
        |  SELECT vec_id, nbr_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY vec_id
        |      ORDER BY cosine DESC, CAST(nbr_id AS VARCHAR) ASC) AS rnk
        |  FROM p
        |), ed AS (
        |  SELECT DISTINCT LEAST(vec_id, nbr_id) AS a, GREATEST(vec_id, nbr_id) AS b
        |  FROM r WHERE rnk <= 3
        |)
        |SELECT metric, value FROM (
        |  SELECT 'n_edges' AS metric, COUNT(*) AS value FROM ed
        |  UNION ALL
        |  SELECT 'n_triangles', COUNT(*)
        |  FROM ed e1 JOIN ed e2 ON e1.b = e2.a JOIN ed e3
        |    ON e3.a = e1.a AND e3.b = e2.b
        |) ORDER BY metric""".stripMargin,
    // Quantized cosine matrix, two rank-selected k-NN integer sums, one
    // exact-integer division per pair, argmax per query.
    "ss_margin_mining" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), n AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
         |  FROM e
         |), p AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    CAST(round((list_reduce([q.v[i] * c.v[i] FOR i IN range(1, len(q.v)+1)], (p, q) -> p + q)
         |      / (q.nrm * c.nrm)) * 1000000.0) AS BIGINT) AS cq
         |  FROM n q JOIN n c ON q.vec_id < $NQueries AND c.vec_id >= $NQueries
         |), skx AS (
         |  SELECT qid, CAST(SUM(cq) AS BIGINT) AS skx FROM (
         |    SELECT qid, cq, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cq DESC, cid ASC) AS r
         |    FROM p) WHERE r <= $MarginK GROUP BY qid
         |), sky AS (
         |  SELECT cid, CAST(SUM(cq) AS BIGINT) AS sky FROM (
         |    SELECT cid, cq, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY cq DESC, qid ASC) AS r
         |    FROM p) WHERE r <= $MarginK GROUP BY cid
         |), m AS (
         |  SELECT p.qid AS query_id, p.cid AS cand_id, p.cq,
         |    CASE WHEN skx.skx + sky.sky <> 0 THEN
         |      (${2.0 * MarginK} * CAST(p.cq AS DOUBLE)) / CAST(skx.skx + sky.sky AS DOUBLE)
         |    ELSE NULL END AS margin
         |  FROM p JOIN skx USING (qid) JOIN sky USING (cid)
         |), r AS (
         |  SELECT query_id, cand_id, cq, margin,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY margin DESC NULLS LAST, cand_id ASC) AS rk
         |  FROM m
         |)
         |SELECT query_id, cand_id, cq, margin FROM r WHERE rk = 1 ORDER BY query_id""".stripMargin,
    // Same knn-edge CTE chain; wedges per center vertex closed against the
    // oriented edge set, one boundary division per node.
    "ss_clustering_coeff" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
        |  FROM e
        |), p AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
        |    list_reduce([a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)], (p, q) -> p + q)
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |), r AS (
        |  SELECT vec_id, nbr_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY vec_id
        |      ORDER BY cosine DESC, CAST(nbr_id AS VARCHAR) ASC) AS rnk
        |  FROM p
        |), ed AS (
        |  SELECT DISTINCT LEAST(vec_id, nbr_id) AS a, GREATEST(vec_id, nbr_id) AS b
        |  FROM r WHERE rnk <= 3
        |), adj AS (
        |  SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed
        |), deg AS (
        |  SELECT a AS vec_id, COUNT(*) AS degree FROM adj GROUP BY a
        |), tri AS (
        |  SELECT w.v AS vec_id, COUNT(*) AS n_tri FROM (
        |    SELECT x.a AS v, x.b AS n1, y.b AS n2
        |    FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b
        |  ) w JOIN ed ON ed.a = w.n1 AND ed.b = w.n2
        |  GROUP BY w.v
        |)
        |SELECT deg.vec_id, CAST(degree AS BIGINT) AS degree,
        |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN degree >= 2
        |    THEN CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE)
        |      / CAST(degree * (degree - 1) AS DOUBLE)
        |    ELSE NULL END AS coeff
        |FROM deg LEFT JOIN tri USING (vec_id) ORDER BY vec_id""".stripMargin,
    "ss_embed_quant" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, q) -> p + q)) AS nrm
        |  FROM e
        |)
        |SELECT vec_id, nrm,
        |  array_to_string(list_transform(v, x ->
        |    CAST(CAST(floor(x * 127 / nrm + 0.5) AS INT) AS VARCHAR)), ',') AS qvec
        |FROM n ORDER BY vec_id""".stripMargin,
    // Full LSH twin: plane components re-derived from md5 exactly as
    // [[planeComponent]] ('p:<plane>:<dim>', first 15 hex chars → 60-bit
    // int, % 2000 − 1000, ÷ 1000.0), sign-bit bucketing per
    // [[graft.functions.LshBuckets]] (bit p of table t = sign of the fold
    // dot with plane t·PlanesPerTable+p), same-bucket candidate join, exact
    // cosine re-rank. A hash match proves the engine LSH implements its
    // spec bit-for-bit — the approximation is in the DESIGN (bucketing),
    // not the execution, so it is as oracle-checkable as any exact query.
    "ss_ann_lsh" -> annLshSql,
    // Full IVF twin: Lloyd's rounds unrolled the way ss_pagerank unrolls
    // power iteration ([[trainedCellsCte]]). Query probes its IvfProbes
    // nearest final cells; candidates come from the stored corpus-cell
    // assignment; exact cosine re-rank.
    "ss_ann_ivf" -> ivfSqlAt(IvfProbes),
    // One full IVF statement per probe depth as a nested CTE (the
    // ss_ann_recall device, swept), each joined against the shared
    // brute-force truth.
    "ss_ivf_probe_sweep" -> locally {
      val per = IvfSweepProbes.map { p =>
        s"""iv$p AS (${ivfSqlAt(p)}), r$p AS (
           |  SELECT $p AS nprobe, COUNT(i.neighbor_id) AS n_hits
           |  FROM bf LEFT JOIN iv$p i
           |    ON bf.query_id = i.query_id AND bf.neighbor_id = i.neighbor_id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH bf AS ($bruteforceSql),
         |$per
         |SELECT nprobe, CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_hits AS DOUBLE) / ${NQueries * TopK} AS recall
         |FROM (${IvfSweepProbes.map(p => s"SELECT * FROM r$p").mkString(" UNION ALL ")})
         |ORDER BY nprobe""".stripMargin
    },
    // Fixed-codebook maintenance twin: trains the quantizer FROM SCRATCH on
    // the pre-landing base partition (the parameterized Lloyd's unroll —
    // same text as every other IVF oracle), then assigns the WHOLE corpus
    // to those centroids in one pass and fingerprints per cell. The engine
    // side instead reads its stored base cells and assigns only the batch —
    // the hash match proves the append path reproduces the rebuild exactly.
    "ss_ivf_incremental" -> locally {
      val baseSelect =
        s"""SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE ${Pipeline.bucketSql("vec_id")} < ${Pipeline.LandingBucketCap}""".stripMargin
      s"""WITH ${trainedCellsCteFrom(baseSelect)}, eall AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), cells AS (
         |  SELECT vec_id, c_id AS cell FROM (
         |    SELECT ea.vec_id, c.c_id,
         |      ROW_NUMBER() OVER (
         |        PARTITION BY ea.vec_id
         |        ORDER BY ${cosSql("ea.v", "c.cv")} DESC, c.c_id ASC) AS crk
         |    FROM eall ea CROSS JOIN c$IvfIters c
         |  ) WHERE crk = 1
         |)
         |SELECT cell, COUNT(*) AS n_vecs,
         |  CAST(SUM(CAST('0x' || substr(md5('$CellCkSeed:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000007) AS BIGINT) AS vec_ck
         |FROM cells GROUP BY cell ORDER BY cell""".stripMargin
    },
    // Fixed-codebook PQ maintenance twin: trains the per-subspace codebooks
    // FROM SCRATCH on the pre-landing base partition (the parameterized
    // per-subspace Lloyd's unroll — same text as every other PQ oracle),
    // then encodes the WHOLE corpus's slices at those codebooks in one pass
    // and fingerprints per (subspace, codeword). The engine side instead
    // reads its stored base codes and encodes only the batch — the hash
    // match proves the append path reproduces the rebuild exactly.
    "ss_pq_incremental" -> locally {
      val baseSelect =
        s"""SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE ${Pipeline.bucketSql("vec_id")} < ${Pipeline.LandingBucketCap}""".stripMargin
      val fullSelect =
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"
      s"""WITH e AS (
         |  $baseSelect
         |), ${pqChainCteFrom(
          s"eall AS ($fullSelect), ${pqSliceCtes("eall", "nall", "srall")}",
          "srall")}
         |SELECT sub, cid, COUNT(*) AS n_codes,
         |  CAST(SUM(CAST('0x' || substr(md5('$PqCkSeed:' || CAST(neighbor_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000007) AS BIGINT) AS code_ck
         |FROM codes GROUP BY sub, cid ORDER BY sub, cid""".stripMargin
    },
    // SemDeDup twin: the SAME trained-cells CTE as ss_ann_ivf (one coarse
    // quantizer, two consumers — mirroring the engine's shared stored
    // index), then the identical intra-cell pair scan, threshold, and
    // per-vector lowest-keeper aggregation.
    "dd_semantic" ->
      s"""WITH $trainedCellsCte, pr AS (
         |  SELECT b.neighbor_id AS vec_id, c_id AS cell, a.neighbor_id AS keep_id,
         |    ${cosSql("a.nv", "b.nv")} AS cos
         |  FROM cc a JOIN cc b USING (c_id)
         |  WHERE a.neighbor_id < b.neighbor_id
         |)
         |SELECT vec_id, cell, MIN(keep_id) AS dup_of, arg_min(cos, keep_id) AS cos,
         |  COUNT(*) AS n_dups
         |FROM pr WHERE cos >= $SemTau
         |GROUP BY vec_id, cell ORDER BY vec_id""".stripMargin,
    // Index-stats twin: shared trained-cells CTE; per-cell counts and the
    // quantized cosine-to-centroid sum/min/max against the FINAL round's
    // centroid table.
    "ss_index_stats" ->
      s"""WITH $trainedCellsCte, st AS (
         |  SELECT cc.c_id AS cell,
         |    CAST(round(1000000.0 * (${cosSql("cc.nv", "c.cv")})) AS BIGINT) AS cq
         |  FROM cc JOIN c$IvfIters c ON cc.c_id = c.c_id
         |)
         |SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(cq) AS BIGINT) AS sum_cos_q,
         |  MIN(cq) AS min_cos_q, MAX(cq) AS max_cos_q
         |FROM st GROUP BY cell ORDER BY cell""".stripMargin,
    // Coreset twin: shared trained-cells CTE, the same quantized intra-cell
    // similarity matrix, the same two greedy rounds with (value DESC, id
    // ASC) tie-breaks. SUMs cast to BIGINT (HUGEINT/driver-type lesson).
    "ss_coreset_greedy" ->
      s"""WITH $trainedCellsCte, m AS (
         |  SELECT neighbor_id AS vid, nv AS v, c_id AS cell FROM cc
         |), p AS (
         |  SELECT a.cell, a.vid AS j, b.vid AS i,
         |    CAST(round(1000000.0 * (${cosSql("a.v", "b.v")})) AS BIGINT) AS sim_q
         |  FROM m a JOIN m b USING (cell)
         |), cov AS (
         |  SELECT cell, i, CAST(SUM(sim_q) AS BIGINT) AS cov_q FROM p GROUP BY cell, i
         |), r1 AS (
         |  SELECT cell, i AS rep1, cov_q FROM cov
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cov_q DESC, i ASC) = 1
         |), cur AS (
         |  SELECT p.cell, p.j, p.sim_q AS cur_q
         |  FROM p JOIN r1 ON p.cell = r1.cell AND p.i = r1.rep1
         |), g AS (
         |  SELECT p.cell, p.i, CAST(SUM(greatest(p.sim_q - cur.cur_q, 0)) AS BIGINT) AS gain_q
         |  FROM p
         |  JOIN cur ON p.cell = cur.cell AND p.j = cur.j
         |  JOIN r1 ON p.cell = r1.cell
         |  WHERE p.i <> r1.rep1
         |  GROUP BY p.cell, p.i
         |), r2 AS (
         |  SELECT cell, i AS vec_id, gain_q FROM g
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY gain_q DESC, i ASC) = 1
         |)
         |SELECT cell, rep1 AS vec_id, 1 AS sel_rank, cov_q AS gain_q FROM r1
         |UNION ALL SELECT cell, vec_id, 2 AS sel_rank, gain_q FROM r2
         |ORDER BY cell, sel_rank""".stripMargin,
    // Full PQ twin: the 8 per-subspace codebooks are the same unrolled
    // Lloyd's recursion as ss_ann_ivf's coarse quantizer, run over vector
    // SLICES with the subspace id as one more grouping column
    // ([[pqChainCte]]); then the code/partial-dot tables and the ADC tail
    // ([[adcTailSql]]) replay the engine's scan exactly — DECIMAL-exact
    // partial-dot sums make the ADC score order-independent in both engines.
    "ss_ann_pq" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), $pqChainCte, ${adcTailSql(
          s"""(SELECT q.query_id, c.neighbor_id, q.qnrm, c.nrm, q.pdot
             |   FROM codes c JOIN qparts q USING (sub, cid))""".stripMargin)}""".stripMargin,
    // Distortion twin: the shared PQ chain re-trained from scratch, each
    // reconstruction error as the same three-dot IEEE tree, quantized to
    // integer millionths before the per-subspace sum (the qlog doctrine).
    "ss_pq_distortion" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), $pqChainCte, err AS (
         |  SELECT c.sub,
         |    ${dotSql("sr.sv", "sr.sv")} - 2 * ${dotSql("sr.sv", "cb.cv")} + ${dotSql("cb.cv", "cb.cv")} AS err
         |  FROM codes c
         |  JOIN sr ON sr.vec_id = c.neighbor_id AND sr.sub = c.sub
         |  JOIN cb$PqIters cb ON cb.sub = c.sub AND cb.cid = c.cid
         |), q AS (
         |  SELECT sub, CAST(ROUND(1000000.0 * err) AS BIGINT) AS err_q FROM err
         |)
         |SELECT sub, COUNT(*) AS n_points,
         |  CAST(SUM(err_q) AS BIGINT) AS sse_q,
         |  CAST(SUM(err_q) AS DOUBLE) / (1000000.0 * COUNT(*)) AS mse,
         |  CAST(MAX(err_q) AS DOUBLE) / 1000000.0 AS max_err
         |FROM q GROUP BY sub ORDER BY sub""".stripMargin,
    // Full IVF-PQ twin: the SHARED trained-cells CTE (one coarse quantizer,
    // three consumers now — ss_ann_ivf, dd_semantic, and this) composed
    // with the PQ chain; the ADC scan is pruned to the query's probed
    // cells before the partial-dot join, exactly like the engine.
    "ss_ann_ivfpq" ->
      s"""WITH $trainedCellsCte, $pqChainCte, cells AS (
         |  SELECT neighbor_id, c_id AS cell FROM cc
         |), qprobes AS (
         |  SELECT vec_id AS query_id, c_id AS cell FROM (
         |    SELECT e.vec_id, c.c_id,
         |      ROW_NUMBER() OVER (
         |        PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS crk
         |    FROM e CROSS JOIN c$IvfIters c WHERE e.vec_id < $NQueries
         |  ) WHERE crk <= $IvfProbes
         |), ${adcTailSql(
          s"""(SELECT q.query_id, c.neighbor_id, q.qnrm, c.nrm, q.pdot
             |   FROM codes c
             |   JOIN cells ce USING (neighbor_id)
             |   JOIN qprobes p USING (cell)
             |   JOIN qparts q ON q.query_id = p.query_id AND q.sub = c.sub AND q.cid = c.cid)""".stripMargin)}""".stripMargin
  )

  /** Shared DuckDB CTE prefix re-deriving the engine's stored coarse
    * quantizer: `e` (double vectors), hash-sample init `c0`, unrolled
    * Lloyd's rounds (cosine-argmin assignment, DECIMAL(38,18)-exact sums,
    * ONE double division per mean — the engine's sum→double→÷n form;
    * decimal-quotient rounding is NOT cross-engine), ending in `cc` — the
    * corpus cell assignment (neighbor_id, nv, c_id). Shared by the
    * ss_ann_ivf and dd_semantic oracles so both consume literally the same
    * trained structure, exactly like the engine's shared stored index.
    */
  private lazy val trainedCellsCte: String = trainedCellsCteFrom(
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings")

  /** [[trainedCellsCte]] with the training population as a parameter: the
    * full-corpus oracles train on all of `embeddings`; the incremental-
    * maintenance twin (ss_ivf_incremental) trains on the pre-landing base
    * partition only. ONE textual definition of the Lloyd's unroll serves
    * both, so the two oracle families cannot drift.
    */
  private def trainedCellsCteFrom(eSelect: String): String = {
    val rounds = (1 to IvfIters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, v, c_id,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id ASC) AS crk
         |  FROM (SELECT e.vec_id, e.v, c.c_id, ${cosSql("e.v", "c.cv")} AS ccos
         |        FROM e CROSS JOIN c${i - 1} c)
         |), m$i AS (
         |  SELECT c_id, d.d AS pos,
         |    CAST(SUM(CAST(v[d.d + 1] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
         |  FROM a$i CROSS JOIN range($Dims) d(d) WHERE crk = 1
         |  GROUP BY c_id, d.d
         |), c$i AS (
         |  SELECT c_id, list(m ORDER BY pos) AS cv FROM m$i GROUP BY c_id
         |)""".stripMargin
    }.mkString(", ")
    s"""e AS (
       |  $eSelect
       |), c0 AS (
       |  SELECT vec_id AS c_id, v AS cv FROM e
       |  ORDER BY CAST('0x' || substr(md5('$IvfInitSeed:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |    vec_id
       |  LIMIT $IvfCells
       |), $rounds, cc AS (
       |  SELECT vec_id AS neighbor_id, v AS nv, c_id
       |  FROM (
       |    SELECT e.vec_id, e.v, c.c_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS crk
       |    FROM e CROSS JOIN c$IvfIters c
       |  ) WHERE crk = 1
       |)""".stripMargin
  }

  /** The [[pqScore]] twin: argmin-L2 as max (sv·cv − ‖cv‖²/2), token-identical
    * arithmetic in both engines.
    */
  private def pqScoreSql(sv: String, cv: String): String =
    s"${dotSql(sv, cv)} - ${dotSql(cv, cv)} / 2"

  /** DuckDB CTE chain re-deriving the engine's stored PQ index (assumes a
    * preceding `e` CTE with double vectors): `n` (norms), `sr` (per-subspace
    * slices ≡ [[subRows]]), hash-sample init `cb0` (seed 11, cid = rank−1 —
    * the md5 order is subspace-independent, so every subspace samples the
    * same vectors, exactly like the engine's per-sub window), PqIters
    * unrolled Lloyd's rounds per subspace (`pa`/`pm`/`cb` — the
    * [[trainedCellsCte]] recursion with `sub` as one more grouping column
    * and the same DECIMAL-exact sum → double → ÷n mean form), ending in the
    * stored `codes` table (argmax assignment per (vector, subspace)) and the
    * query-side partial-dot table `qparts`. Round CTE names are disjoint
    * from [[trainedCellsCte]]'s (`a`/`m`/`c`) so the IVF-PQ oracle can
    * compose both chains in one WITH clause.
    */
  private lazy val pqChainCte: String = pqChainCteFrom("", "sr")

  /** Norm + per-subspace slice derivation over a named vector CTE — the
    * ONE textual definition of "slice a vector table" ([[subRows]]'s twin),
    * used for the training population inside [[pqChainCteFrom]] and for the
    * incremental-maintenance twin's full-corpus encode population, so the
    * two slice derivations cannot drift.
    */
  private def pqSliceCtes(e: String, n: String, sr: String): String =
    s"""$n AS (
       |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM $e
       |), $sr AS (
       |  SELECT vec_id, nrm, s.s AS sub,
       |    v[s.s * $PqSubDim + 1 : s.s * $PqSubDim + $PqSubDim] AS sv
       |  FROM $n CROSS JOIN range($PqSub) s(s)
       |)""".stripMargin

  /** [[pqChainCte]] with the ENCODE population as a parameter (the
    * [[trainedCellsCteFrom]] device applied to the PQ chain): training
    * always runs over the preceding `e` CTE's slices (`sr`); the full-
    * corpus oracles encode those same slices, while the incremental-
    * maintenance twin (ss_pq_incremental) interposes `extraCtes` deriving
    * the whole corpus's slices and encodes THOSE at the base-trained
    * codebooks. ONE textual definition of the per-subspace Lloyd's unroll
    * and the encode argmax serves both, so the oracle families cannot
    * drift.
    */
  private def pqChainCteFrom(extraCtes: String, encodeSr: String): String = {
    val rounds = (1 to PqIters).map { i =>
      s"""pa$i AS (
         |  SELECT sub, vec_id, sv, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sub, vec_id ORDER BY sc DESC, cid ASC) AS crk
         |  FROM (SELECT sr.sub, sr.vec_id, sr.sv, cb.cid, ${pqScoreSql("sr.sv", "cb.cv")} AS sc
         |        FROM sr JOIN cb${i - 1} cb USING (sub))
         |), pm$i AS (
         |  SELECT sub, cid, d.d AS pos,
         |    CAST(SUM(CAST(sv[d.d + 1] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
         |  FROM pa$i CROSS JOIN range($PqSubDim) d(d) WHERE crk = 1
         |  GROUP BY sub, cid, d.d
         |), cb$i AS (
         |  SELECT sub, cid, list(m ORDER BY pos) AS cv FROM pm$i GROUP BY sub, cid
         |)""".stripMargin
    }.mkString(", ")
    val extra = if (extraCtes.isEmpty) "" else s"$extraCtes, "
    s"""${pqSliceCtes("e", "n", "sr")}, ini AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
       |    CAST('0x' || substr(md5('$PqInitSeed:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |    vec_id) AS irk
       |  FROM e
       |), cb0 AS (
       |  SELECT sr.sub, CAST(ini.irk - 1 AS INT) AS cid, sr.sv AS cv
       |  FROM sr JOIN ini USING (vec_id) WHERE ini.irk <= $PqK
       |), $rounds, ${extra}codes AS (
       |  SELECT vec_id AS neighbor_id, nrm, sub, cid FROM (
       |    SELECT vec_id, nrm, sub, cid,
       |      ROW_NUMBER() OVER (PARTITION BY sub, vec_id ORDER BY sc DESC, cid ASC) AS crk
       |    FROM (SELECT sr.vec_id, sr.nrm, sr.sub, cb.cid, ${pqScoreSql("sr.sv", "cb.cv")} AS sc
       |          FROM $encodeSr sr JOIN cb$PqIters cb USING (sub))
       |  ) WHERE crk = 1
       |), qparts AS (
       |  SELECT sr.vec_id AS query_id, sr.nrm AS qnrm, sr.sub, cb.cid,
       |    ${dotSql("sr.sv", "cb.cv")} AS pdot
       |  FROM sr JOIN cb$PqIters cb USING (sub) WHERE sr.vec_id < $NQueries
       |)""".stripMargin
  }

  /** The [[adcRerank]] twin over a `joined` relation exposing (query_id,
    * neighbor_id, qnrm, nrm, pdot): DECIMAL-exact partial-dot sum, top
    * PqRerank by approximate cosine, exact re-rank to the final top-k.
    * Ends the WITH clause (includes the final SELECT).
    */
  private def adcTailSql(joined: String): String =
    s"""adc AS (
       |  SELECT query_id, neighbor_id, qnrm, nrm,
       |    CAST(SUM(CAST(pdot AS DECIMAL(38,18))) AS DOUBLE) AS adc, COUNT(*) AS nsub
       |  FROM $joined
       |  WHERE query_id <> neighbor_id
       |  GROUP BY query_id, neighbor_id, qnrm, nrm
       |), cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id ASC) AS crk
       |    FROM (SELECT query_id, neighbor_id, adc / (qnrm * nrm) AS adc_cos
       |          FROM adc WHERE nsub = $PqSub)
       |  ) WHERE crk <= $PqRerank
       |), scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cosSql("q.v", "x.v")} AS cos
       |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e x ON x.vec_id = c.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
}
