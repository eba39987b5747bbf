package graft.tools

import graft.operators.{Maintenance, Multimodal, Retrieval, Similarity, Spatial}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev probe: stage decomposition of the next cost tier below the
  * >1.5 s gate entries DdProbe/DqProbe already pinned — ss_pagerank,
  * rt_prf_expansion, mt_compact_partitioned, geo_dbscan, and
  * mm_phash_neardup, the five most expensive unprobed queries in BENCH_r13
  * (1.45–1.49 s driver-run, routinely over 1.5 s in contended windows).
  * Run in a QUIET JVM; numbers go to README "Performance measurement
  * notes".
  *
  * The knobbed variants come FROM the production builders
  * ([[Similarity.pageRankRanks]] / [[Retrieval.prfRanked]] /
  * [[Maintenance.fragmentByLang]]-[[Maintenance.compactLangTree]]-
  * [[Maintenance.compactedLangReport]]) — the CdProbe/DqProbe no-drift
  * discipline; TailProbeSpec pins probe-full ≡ production and that each
  * knob actually changes the result.
  *
  * Attribution map:
  *  - pr_init (iters=0) = node scan + uniform init + output sort floor;
  *    each +1 iter adds exactly one stored-edge-table join + hash
  *    aggregate round, so consecutive deltas price a power-iteration
  *    round. Synchronous PageRank NEEDS all PrIters rounds — the probe
  *    shows the total is rounds × a flat per-round cost, not a hidden
  *    recomputation blow-up (lineage is linear: each round consumes the
  *    previous frame once).
  *  - prf_seed (expand=false) = stage-1 BM25 over the stored token index;
  *    full − seed prices the pseudo-relevance tier (FbDocs cut, feedback
  *    term promotion, second ranked pass). Two ranked passes ARE the
  *    operator's contract (Rocchio/RM): the probe shows pass 2 costs the
  *    same as pass 1, i.e. the expansion adds no super-linear work.
  *  - mt phases: fragment write (test FIXTURE — a deployment already has
  *    the fragmented tree), compaction rewrite (the OPERATOR), pruned
  *    report read (the PROOF). The gate's headline number is dominated by
  *    the two full table writes, which is the honest cost of a compaction
  *    gate, not plan waste.
  *  - db stages: the stored radius-pair index read floor, the
  *    RAM-materialized core-core edge set, the multilevel supercell CC
  *    over it, and the full census+borders report — full − cc prices the
  *    border-assignment joins and output aggregate.
  *  - ph stages: the decode + dHash tier (the mapPartitions codec pass,
  *    materialized once) vs the full band-join + popcount verification —
  *    full − hashes prices the lossless-banding candidate tier.
  */
object TailProbe {

  /** Declarative probe variants over corpus `dir` — shared by [[main]] and
    * TailProbeSpec's probe-vs-production assertions.
    */
  private[graft] def variants(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] =
    Seq(
      "pr_init" -> (() => Similarity.pageRankRanks(s, dir, 0)),
      "pr_iter1" -> (() => Similarity.pageRankRanks(s, dir, 1)),
      "pr_iter2" -> (() => Similarity.pageRankRanks(s, dir, 2)),
      "pr_full" -> (() => Similarity.pageRankRanks(s, dir, Similarity.PrIters)),
      "prf_seed" -> (() => Retrieval.prfRanked(s, dir, expand = false)),
      "prf_full" -> (() => Retrieval.prfRanked(s, dir, expand = true)),
      // geo_dbscan stages read the SAME stored/shared builders production
      // composes; db_full / ph_full ARE the production query functions
      // (identity — no pin needed, drift impossible).
      "db_pairs" -> (() => Spatial.pairStore(s, dir).select("a", "b")),
      "db_corepairs" -> (() => Spatial.dbscanCorePairs(s, dir)),
      "db_cc" -> (() => Spatial.geoComponents(Spatial.dbscanCorePairs(s, dir))),
      "db_full" -> (() => Spatial.queries("geo_dbscan")(s, dir)),
      "ph_hashes" -> (() => Multimodal.phashFrame(s, dir)),
      "ph_full" -> (() => Multimodal.queries("mm_phash_neardup")(s, dir)),
    )

  def main(args: Array[String]): Unit = {
    // The corpus dir is REQUIRED (ADVICE r14): a machine-specific default
    // here silently probed the wrong (or a missing) tree on any other
    // checkout; the other probe mains take the dir the same way.
    if (args.isEmpty) {
      System.err.println("usage: TailProbe <corpusDir>   (e.g. TailProbe /root/testdata/sf0.1)")
      sys.exit(2)
    }
    val dir = args(0)
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def timed(pass: Int, name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[tailprobe] pass$pass $name%-12s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
    }

    // Era yardsticks (shared across probe mains — see Yardsticks).
    Yardsticks.record("tailprobe", dir, Seq("documents", "embeddings", "events"))

    val vs = variants(s, dir)
    // Warm every path once (JIT/codegen + the stored-structure builds the
    // production bench also pays outside its timed region), then 3 timed
    // passes each.
    vs.foreach { case (_, f) => noop(f()) }
    noop(Maintenance.compactedLangReport(
      s, Maintenance.compactLangTree(s, Maintenance.fragmentByLang(s, dir))))
    (1 to 3).foreach { p =>
      vs.foreach { case (n, f) => timed(p, n)(noop(f())) }
      // The imperative compaction phases, timed in their production order.
      var frag: String = null
      var compacted: String = null
      timed(p, "mt_frag") { frag = Maintenance.fragmentByLang(s, dir) }
      timed(p, "mt_compact") { compacted = Maintenance.compactLangTree(s, frag) }
      timed(p, "mt_read") { noop(Maintenance.compactedLangReport(s, compacted)) }
    }
    s.stop()
  }
}
