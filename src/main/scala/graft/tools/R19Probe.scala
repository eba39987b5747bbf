package graft.tools

import graft.operators.{Quality, Relational, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe for the round-19 optimization changes: each variant pair is
  * (r18 formulation restated INLINE — the DqProbe pf_expand4 precedent for
  * re-costing a rejected/former plan — vs the current production builder),
  * timed interleaved in ONE JVM so a contended window inflates both sides
  * equally. Run in as quiet a JVM as available; yardsticks recorded so the
  * window grades itself.
  *
  *  - pr_old/pr_new: ss_pagerank with the one-row n_nodes count aggregate
  *    broadcast-cross-joined into init + every round (old, the r18 plan) vs
  *    the stored-scalar literal fold (new, r19 — production).
  *  - rf_prod/rf_shared: dq_referential as shipped vs the REJECTED r19
  *    "share one per-key parent aggregation between the distinct'd join
  *    side and the dup-PK scalar" restructure — rejected because column
  *    pruning rewrites the join side's `groupBy(pk)+select(pk)` back to
  *    `distinct()`, the two subtrees diverge after optimization, and the
  *    sharing never materializes: the before/after plans were node-for-node
  *    identical (42 scans, 28 exchanges, 112 HashAggregates) and the probe
  *    read neutral-to-slightly-worse. Kept here as a re-costable variant,
  *    the DqProbe pf_expand4 convention.
  *
  * Both pairs are also VALUE-checked (collected and compared row-for-row)
  * before timing, so the probe doubles as an equivalence proof at the
  * probed SF.
  */
object R19Probe {

  private def prOld(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val nodes = Similarity.vecs(s, dir).select(col("vec_id"))
    val nN = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val edges = Similarity.knnGraph(s, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val init = nodes.join(broadcast(nN)) // bounded: one row
      .select(col("vec_id"), (lit(1.0) / col("n_nodes")).as("pr"))
    (1 to iters).foldLeft(init) { (pr, _) =>
      val contrib = edges
        .join(pr.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"),
          (col("pr") / lit(3.0)).cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).cast("double").as("s"))
      nodes.join(broadcast(nN)) // bounded: one row
        .join(contrib, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
          (lit(0.15) / col("n_nodes") + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr"))
    }.orderBy("vec_id")
  }

  private def rfConstraintShared(s: SparkSession, dir: String,
      ft: String, fk: String, pt: String, pk: String): DataFrame = {
    val f = Relational.t(s, dir, ft).select(col(fk).as("fk"))
    val p = Relational.t(s, dir, pt).select(col(pk).as("pk"))
    // The rejected shape: one per-key parent aggregation intended to serve
    // both consumers (see class doc for why it optimizes back to two).
    val pkCounts = p.groupBy("pk").agg(count(lit(1)).as("pk_cnt"))
    val base = f.join(pkCounts.select("pk"), col("fk") === col("pk"), "left_outer")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
        sum(when(col("fk").isNotNull && col("pk").isNull, 1L).otherwise(0L))
          .as("n_orphans"))
    base.crossJoin(broadcast( // bounded: one row
        pkCounts.agg((sum(col("pk_cnt")) -
          count(when(col("pk").isNotNull, lit(1)))).as("n_dup_pk"))))
      .select(lit(s"$ft.$fk->$pt.$pk").as("constraint_name"),
        col("n_rows"), col("n_null_fk"), col("n_orphans"), col("n_dup_pk"))
  }

  private def rfShared(s: SparkSession, dir: String): DataFrame =
    graft.plans.JoinElimination.Declared.map { case (ft, fk, pt, pk) =>
      rfConstraintShared(s, dir, ft, fk, pt, pk)
    }.reduce(_.unionByName(_)).orderBy("constraint_name")

  /** ta_heaps with the r18 in-plan one-row doc-count aggregate (old) vs the
    * r19 stored-scalar literal fold (production).
    */
  private def heapsOld(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Pipeline, TextAnalysis}
    val base = Dedup.materialized(
      Relational.t(s, dir, "documents")
        .transform(Dedup.spread("doc_id"))
        .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("ts")))
    val ranked = Dedup.materialized(
      Pipeline.globalRowNumbers(s,
        base.select(col("doc_id"), size(col("ts")).as("n_toks")), "r", col("doc_id")))
    val tokFirst = base.select(col("doc_id"), explode(array_distinct(col("ts"))).as("tok"))
      .join(ranked.select("doc_id", "r"), "doc_id")
      .groupBy("tok").agg(min("r").as("fr"))
    val ck = ranked.agg(count(lit(1)).as("d"))
      .select(explode(sequence(lit(1), lit(TextAnalysis.HeapsK))).as("k"), col("d"))
      .select(col("k"), expr(s"(k * d) DIV ${TextAnalysis.HeapsK}").as("n_k"))
    val v = tokFirst.crossJoin(broadcast(ck)).filter(col("fr") <= col("n_k")) // bounded: HeapsK rows
      .groupBy("k").agg(count(lit(1)).as("vocab"))
    val n = ranked.crossJoin(broadcast(ck)).filter(col("r") <= col("n_k")) // bounded: HeapsK rows
      .groupBy("k").agg(sum("n_toks").as("n_tokens"))
    ck.join(n, "k").join(v, "k")
      .select(col("k").cast("int").as("ckpt"), col("n_k").as("n_docs"),
        col("n_tokens"), col("vocab"))
      .orderBy("ckpt")
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: R19Probe <corpusDir>")
      sys.exit(2)
    }
    val dir = args(0)
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    Yardsticks.record("r19probe", dir, Seq("embeddings", "orders"))

    val vs: Seq[(String, () => DataFrame)] = Seq(
      "pr_old" -> (() => prOld(s, dir, Similarity.PrIters)),
      "pr_new" -> (() => Similarity.pageRankRanks(s, dir, Similarity.PrIters)),
      "rf_prod" -> (() => graft.SparkEntry.queries("dq_referential")(s, dir)),
      "rf_shared" -> (() => rfShared(s, dir)),
      "heaps_old" -> (() => heapsOld(s, dir)),
      "heaps_new" -> (() => graft.SparkEntry.queries("ta_heaps")(s, dir)))

    // Equivalence proof first: old ≡ new row-for-row at this SF. The pairing
    // is positional, so an unpaired trailing variant must fail LOUDLY here —
    // grouped(2)'s trailing singleton would otherwise be silently filtered
    // out by the two-element pattern and skip its value-identity proof
    // (ADVICE r19).
    require(vs.length % 2 == 0,
      s"R19Probe variants must pair up (old, new); got ${vs.length}: ${vs.map(_._1).mkString(", ")}")
    for (Seq((an, af), (bn, bf)) <- vs.grouped(2)) {
      val a = af().collect().map(_.toString).sorted
      val b = bf().collect().map(_.toString).sorted
      require(a.sameElements(b), s"$an and $bn DIVERGED:\n${a.take(3).mkString("\n")}\nvs\n${b.take(3).mkString("\n")}")
      println(s"[r19probe] $an == $bn (${a.length} rows, value-identical)")
    }

    vs.foreach { case (_, f) => noop(f()) } // warm (JIT/codegen/stored builds)
    (1 to 6).foreach { p =>
      // Alternate within-pair order per pass: a fixed order lets within-pass
      // warming systematically favor the second member (the ShjProbe
      // fixed-arm-order lesson from this same round).
      val order = if (p % 2 == 1) vs else vs.grouped(2).flatMap(_.reverse).toSeq
      order.foreach { case (n, f) =>
        val t0 = System.nanoTime()
        noop(f())
        println(f"[r19probe] pass$p $n%-9s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
    }
    s.stop()
  }
}
