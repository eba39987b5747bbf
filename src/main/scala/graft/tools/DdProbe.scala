package graft.tools

import graft.operators.{Dedup, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: stage decomposition of the "documented inherent" dedup costs
  * (VERDICT r12 §next-7) — dd_ngram_pairs, dd_incremental, dd_containment.
  * Run in a QUIET JVM; numbers go to README "Performance measurement notes".
  *
  * r16 (VERDICT r15 #1 — attribute the 20–35 % dd-tier floor drift measured
  * between the r13 and r15 eras on byte-identical code and data): the probe
  * now separates measurement AXES so a floor shift names its mechanism
  * instead of just being re-measured:
  *
  *  - every variant's FIRST execution is recorded as `cold` (it pays
  *    codegen/JIT plus any one-time stored-structure build first reachable
  *    through it), then 5 warmed passes are recorded individually with
  *    per-pass GC deltas — `steady` is the median of the LAST 3, and a
  *    pass-5-still-dropping trajectory would indict JIT tier convergence;
  *  - three ERA YARDSTICKS run alongside the variants, chosen so each loads
  *    exactly one axis: `yard_cpu` (a fixed Spark-free 64-bit mix loop —
  *    host CPU throughput/JIT era, no I/O, no Spark), `yard_raw_read`
  *    (streaming every byte of documents.parquet + embeddings.parquet
  *    through plain FileInputStream — page-cache/storage bandwidth era, no
  *    compute), and `yard_spark_cpu` (an I/O-free codegen'd
  *    range→xxhash64→sum plan — the Spark scheduler/codegen path with zero
  *    data). A future floor shift with flat yardsticks is a real plan
  *    regression; a shift proportional to `yard_cpu`/`yard_spark_cpu` is
  *    compute-era drift; one proportional to `yard_raw_read` is storage-era
  *    drift. The dd-tier substrate is `localCheckpoint`ed block-manager
  *    state, so steady-state passes do NOT touch the parquet files —
  *    storage era can only move the `cold` reads, which is itself an
  *    attribution: a steady-state floor shift cannot be page cache.
  *
  * Production variants come from the shared gate builders
  * (`Dedup.queries` / the private[graft] tier functions — the CdProbe
  * no-drift discipline); the one INLINE plan here (`inc_cands_stored`) is
  * deliberately NOT a production restatement but a hypothetical
  * alternative being costed: cross-set candidates read from the STORED
  * ranked index (both sides' prefixes under the stored full-corpus
  * (df, sng) order — lossless under ANY common total order, so
  * verification keeps the result exact) instead of re-deriving df+rank
  * windows live over the union. The delta inc_cands − inc_cands_stored is
  * the price dd_incremental pays for measuring the ranking pass live.
  */
object DdProbe {
  def main(args: Array[String]): Unit = {
    // The corpus dir is REQUIRED (ADVICE r14 on TailProbe, applied to every
    // probe main): a machine-specific default silently probed the wrong (or
    // a missing) tree on any other checkout.
    if (args.isEmpty) {
      System.err.println("usage: DdProbe <corpusDir> [warmedPasses]   (e.g. DdProbe /root/testdata/sf0.1 5)")
      sys.exit(2)
    }
    val dir = args(0)
    // Warmed-pass count (default 5): the r16 trajectories show variants
    // still dropping through pass ~4 (JIT/GC convergence), so a converged
    // floor wants >=5 passes; raise it when adjudicating a drift question.
    // Validated at parse time (ADVICE r16 #1): the steady summary is the
    // median of the LAST 3 warmed passes, so fewer than 3 would either
    // throw after the whole probe has run (1) or silently report a max (2).
    val warmedPasses = args.lift(1).map { a =>
      scala.util.Try(a.toInt).toOption.filter(_ >= 3).getOrElse {
        System.err.println(s"DdProbe: warmedPasses must be an integer >= 3 " +
          s"(steady floor = median of the last 3 warmed passes); got '$a'")
        System.err.println("usage: DdProbe <corpusDir> [warmedPasses>=3]   (e.g. DdProbe /root/testdata/sf0.1 5)")
        sys.exit(2)
      }
    }.getOrElse(5)
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    import scala.jdk.CollectionConverters._
    def gcMillis: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum

    def sh() = Dedup.shingleStore(s, dir)
    def incCandsStored(): DataFrame = {
      // Hypothetical: prefixes from the stored index, sides by bucket tag.
      val pfx = Dedup.rankedStore(s, dir)
        .filter(col("rk") <= Dedup.prefixLenCol(Dedup.MinJaccardNum, Dedup.MinJaccardDen))
        .select(col("doc_id"), col("sng"),
          (Pipeline.bucket(col("doc_id")) >= Pipeline.LandingBucketCap).as("incoming"))
      pfx.filter(!col("incoming")).as("x")
        .join(pfx.filter(col("incoming")).as("y"), col("x.sng") === col("y.sng"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .transform(Dedup.spreadKeys("doc_a", "doc_b"))
        .distinct()
    }
    // The I/O-free Spark compute yardstick: 200M codegen'd hash rows
    // folded by bit_xor (overflow-free under ANSI mode, unlike sum), zero
    // input bytes — scheduler + whole-stage-codegen throughput only.
    def yardSparkCpu(): DataFrame =
      s.range(200000000L).select(bit_xor(xxhash64(col("id"))).as("h"))

    val variants: Seq[(String, () => DataFrame)] = Seq(
      // Tier substrate reads (floors): the stored prefix index and the
      // session-pinned shingle table. Both are localCheckpointed block-
      // manager state after their cold build — their steady reads are the
      // STORAGE-SIDE attribution of every stage below (stage − substrate ≈
      // join/verify compute).
      "ranked_read" -> (() => Dedup.rankedStore(s, dir)),
      "shingle_read" -> (() => sh()),
      // dd_ngram_pairs decomposition: candidates over the stored index,
      // then the full gate query (adds verification joins + output sort).
      "ng_cands" -> (() => Dedup.jaccardCandidatesFrom(Dedup.rankedStore(s, dir))),
      "ng_full" -> (() => Dedup.queries("dd_ngram_pairs")(s, dir)),
      // dd_incremental decomposition: the live cross-set candidate tier
      // (union + df window + rank window + collision join), the stored-
      // index hypothetical, and the full gate query.
      "inc_cands" -> (() => Dedup.ngramCandidatesAcross(
        sh().filter(Pipeline.bucket(col("doc_id")) < Pipeline.LandingBucketCap),
        sh().filter(Pipeline.bucket(col("doc_id")) >= Pipeline.LandingBucketCap))),
      "inc_cands_stored" -> (() => incCandsStored()),
      "inc_full" -> (() => Dedup.queries("dd_incremental")(s, dir)),
      // dd_containment decomposition: one-sided prefix × FULL index
      // candidates over the stored index, then the full gate query
      // (adds the two shingle-store joins + array_intersect + sort).
      "ct_cands" -> (() => Dedup.containmentCandidatesFrom(Dedup.rankedStore(s, dir))),
      "ct_full" -> (() => Dedup.queries("dd_containment")(s, dir)),
      // Spark-side compute-era yardstick (I/O-free; see header).
      "yard_spark_cpu" -> (() => yardSparkCpu()),
    )

    // Era yardsticks FIRST — before Spark touches the files — so the raw
    // read sees whatever page-cache state the cold builds will see
    // (shared across all probe mains: see Yardsticks).
    Yardsticks.record("ddprobe", dir, Seq("documents", "embeddings"))

    // COLD pass, recorded per variant: first execution in this JVM —
    // codegen/JIT plus any one-time stored build first reachable through
    // it (ranked_read pays the shingle+ranked builds for the whole tier).
    variants.foreach { case (n, f) =>
      val g0 = gcMillis
      val t0 = System.nanoTime()
      noop(f())
      println(f"[ddprobe] cold  $n%-16s ${(System.nanoTime() - t0) / 1e9}%6.3f s  gc ${(gcMillis - g0) / 1000.0}%4.1f s")
    }
    // Warmed passes (median of the LAST 3 is the steady floor; a late
    // trajectory still dropping would indict JIT convergence).
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (1 to warmedPasses).foreach { p =>
      variants.foreach { case (n, f) =>
        val g0 = gcMillis
        val t0 = System.nanoTime()
        noop(f())
        val sec = (System.nanoTime() - t0) / 1e9
        samples(n) = samples(n) :+ sec
        println(f"[ddprobe] pass$p $n%-16s $sec%6.3f s  gc ${(gcMillis - g0) / 1000.0}%4.1f s")
      }
    }
    // Machine-readable summary: steady = median of last 3 warmed passes.
    variants.foreach { case (n, _) =>
      val last3 = samples(n).takeRight(3).sorted
      println(f"[ddprobe] steady $n%-16s ${last3(1)}%6.3f s  (passes ${samples(n).map(t => f"$t%.3f").mkString(" ")})")
    }
    s.stop()
  }
}
