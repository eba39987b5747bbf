package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

class DedupSpec extends SparkSpec {

  private def pairs(name: String): Set[(Long, Long)] =
    Dedup.queries(name)(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b")))).toSet

  test("minhash LSH has 100% recall vs exact n-gram jaccard at >= 0.8") {
    val exact = pairs("dd_ngram_pairs")
    val lsh = pairs("dd_minhash_pairs")
    assert(exact.nonEmpty, "corpus should contain planted near-duplicates")
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("band sweep covers every config, is monotone in rows-per-band, and detects all pairs at (48,1)") {
    val rows = Dedup.queries("dd_lsh_band_sweep")(spark, sf()).collect()
    assert(rows.length == Dedup.BandSweepConfigs.length)
    val byR = rows.map { r =>
      (r.getInt(r.fieldIndex("rows_per_band")),
        (r.getInt(r.fieldIndex("n_bands")),
          r.getLong(r.fieldIndex("n_pairs")),
          r.getDouble(r.fieldIndex("detect_rate"))))
    }.sortBy(_._1)
    // Every config evaluates the SAME ground-truth pair set.
    assert(byR.map(_._2._2).distinct.length == 1)
    assert(byR.head._2._2 > 0, "corpus should contain planted near-duplicates")
    // (48, 1) detects a pair iff ANY of the 48 components matches — with the
    // verified-recall family this is total detection.
    assert(byR.head == ((1, (48, byR.head._2._2, 1.0))))
    // Detection under a coarser split is STRUCTURALLY implied by the finer
    // one only when every coarse band contains a complete aligned finer
    // band (then a fully-matching coarse band witnesses a fine detection).
    // That holds for e.g. 1→2 and 4→6 but NOT for 3→4 or 6→8 (a matching
    // 4-row band at components 4–7 contains no complete 3-row band), where
    // the ordering is merely statistical — assert it with a tolerance so an
    // unlucky corpus localizes as a distribution question, not a flake.
    def nests(rFine: Int, rCoarse: Int): Boolean =
      (0 until 48 by rCoarse).forall(s => (s to s + rCoarse - rFine).exists(_ % rFine == 0))
    byR.toSeq.sliding(2).foreach {
      case Seq((rf, (_, _, finer)), (rc, (_, _, coarser))) =>
        if (nests(rf, rc)) assert(finer >= coarser, s"structural r=$rf->$rc")
        else assert(finer >= coarser - 0.15, s"statistical r=$rf->$rc")
      case _ =>
    }
    // The end-to-end trend is unconditional: maximal recall at r=1 (==1.0,
    // asserted above) dominates the coarsest split.
    assert(byR.head._2._3 >= byR.last._2._3)
  }

  test("near-dup pairs have near-identical simhash (hamming small)") {
    val sim = Dedup.queries("dd_simhash")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = pairs("dd_ngram_pairs")
    val hammings = exact.toSeq.map { case (a, b) => java.lang.Long.bitCount(sim(a) ^ sim(b)) }
    // Jaccard >= 0.8 pairs should have much-lower-than-random hamming (random ≈ 30 of 60 bits).
    assert(hammings.forall(_ <= 15), s"unexpectedly distant simhashes: $hammings")
  }

  test("simhash pair query returns subset of band-collision pairs with hamming <= 3") {
    val rows = Dedup.queries("dd_simhash_pairs")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getInt(r.fieldIndex("hamming")) <= 3) }
  }

  test("exact summary counts are consistent") {
    val Row(n: Long, distinct: Long, dups: Long) =
      Dedup.queries("dd_exact_summary")(spark, sf()).head()
    assert(n == 500 && n - distinct == dups)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.queries("dd_embed_pairs")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(r.fieldIndex("cosine")) >= 0.4)
    }
  }

  test("prefix filtering bounds the candidate set under a planted stop-phrase (skew control)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, size, split, trim}
    // 200 documents all sharing one stop-phrase shingle ("lorem ipsum dolor"),
    // plus unique content — a naive full-index self-join pays 200·199/2 =
    // 19900 candidate pairs for the hot shingle alone; prefix filtering
    // indexes only each doc's rarest shingles, so the stop-phrase (always
    // outranked by the doc's unique df=1 shingles) never reaches the join.
    val docs = (0 until 200)
      .map(i => (i.toLong, s"lorem ipsum dolor unique$i word${i}a word${i}b"))
      .toDF("doc_id", "text")
    val sh = docs
      .filter(size(split(trim(col("text")), " +")) >= 3)
      .select(col("doc_id"), graft.functions.ShingleSet(col("text")).as("shingles"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("sng"))
    val naive = inv.as("x")
      .join(inv.as("y"), col("x.sng") === col("y.sng") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val pruned = Dedup.ngramCandidates(sh).count()
    assert(naive >= 19900L, s"hot shingle should explode the naive join, got $naive")
    assert(pruned == 0L, s"prefix filtering should exclude the stop-phrase, got $pruned")
  }

  test("prefix filtering keeps large boilerplate duplicate families (lossless candidates)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 70 documents sharing a 20-token boilerplate with one unique trailing
    // token each: 19 shingles/doc of which 18 are shared (df = 70), so
    // pairwise Jaccard = 18/20 = 0.9 ≥ 0.8. A candidate generator that drops
    // high-df shingles (the earlier DF-cap-inside-prefix variant) would index
    // only each doc's unique-touching shingle and silently lose all 70·69/2
    // true pairs — the mass-duplication case the operator exists for.
    val boiler = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = (0 until 70).map(i => (i.toLong, s"$boiler unique$i")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), graft.functions.ShingleSet(col("text")).as("shingles"))
    val cands = Dedup.ngramCandidates(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for { a <- 0 until 70; b <- a + 1 until 70 } yield (a.toLong, b.toLong)).toSet
    assert(want.subsetOf(cands), s"lost ${want.size - (want & cands).size} of ${want.size} true family pairs")
  }

  test("prefix-filtered candidates cover the verified pair set on the corpus") {
    val sh = Dedup.shingled(spark, sf())
    val exact = pairs("dd_ngram_pairs")
    val cands = Dedup.ngramCandidates(sh).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cands), s"prefix candidates missed true pairs: ${exact -- cands}")
  }

  test("containment finds the asymmetric excerpt pair symmetric Jaccard misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Doc 0 is a 6-token excerpt of doc 1's 60 tokens: containment(0→1) = 1
    // while Jaccard = 5/59 ≈ 0.08 — far below the 0.8 near-dup threshold.
    // Distractor docs 2-9 share nothing with either.
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (21 to 26).map(i => s"w$i").mkString(" ")
    val docs = (Seq((0L, excerpt), (1L, long)) ++
      (2 to 9).map(i => (i.toLong, (1 to 10).map(j => s"x${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val sh2 = docs.select(col("doc_id"), graft.functions.ShingleSet(col("text")).as("shingles"))
    val cands = Dedup.containmentCandidates(sh2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), s"candidate tier missed the excerpt pair: $cands")
    // Verified output (same shape as the gate query, on the planted frame).
    val a = sh2.select(col("doc_id").as("contained_id"), col("shingles").as("sh_a"))
    val b = sh2.select(col("doc_id").as("container_id"), col("shingles").as("sh_b"))
    import org.apache.spark.sql.functions.{array_intersect, size => asize}
    val out = Dedup.containmentCandidates(sh2)
      .join(a, "contained_id").join(b, "container_id")
      .select(col("contained_id"), col("container_id"),
        (asize(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          asize(col("sh_a"))).as("containment"))
      .filter(col("containment") >= Dedup.MinContain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)),
      s"expected exactly the excerpt pair (0,1) at containment >= 0.9, got $out")
    // The symmetric Jaccard tier must NOT pair them (that's the point).
    val jac = Dedup.ngramCandidates(sh2)
    val verified = jac.join(a.withColumnRenamed("contained_id", "doc_a")
        .withColumnRenamed("sh_a", "s1"), "doc_a")
      .join(b.withColumnRenamed("container_id", "doc_b")
        .withColumnRenamed("sh_b", "s2"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (asize(array_intersect(col("s1"), col("s2"))).cast("double") /
          (asize(col("s1")) + asize(col("s2")) -
            asize(array_intersect(col("s1"), col("s2"))))).as("j"))
      .filter(col("j") >= Dedup.MinJaccard).count()
    assert(verified == 0L, "excerpt pair should be invisible to symmetric Jaccard")
  }

  test("incremental dedup equals the cross-side subset of the full pair set") {
    import org.apache.spark.sql.functions.col
    val buckets = Relational.t(spark, sf(), "documents")
      .select(col("doc_id"), Pipeline.bucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = pairs("dd_ngram_pairs")
    val wantCross = full.collect {
      case (a, b) if buckets(a) < 80 && buckets(b) >= 80 => (b, a) // (incoming, existing)
      case (a, b) if buckets(b) < 80 && buckets(a) >= 80 => (a, b)
    }
    val got = Dedup.queries("dd_incremental")(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("incoming_id")), r.getLong(r.fieldIndex("existing_id")))).toSet
    assert(wantCross.nonEmpty, "corpus should have near-dup pairs straddling the split")
    assert(got == wantCross, s"missing ${wantCross -- got}, extra ${got -- wantCross}")
  }

  test("cross-set prefix filtering keeps boilerplate families split across sides (lossless)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Same boilerplate family as the self-join losslessness test, but split
    // into an index half and a probe half: every cross pair must survive.
    val boiler = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = (0 until 70).map(i => (i.toLong, s"$boiler unique$i")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), graft.functions.ShingleSet(col("text")).as("shingles"))
    val index = sh.filter(col("doc_id") < 35)
    val probe = sh.filter(col("doc_id") >= 35)
    val cands = Dedup.ngramCandidatesAcross(index, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for { a <- 0 until 35; b <- 35 until 70 } yield (a.toLong, b.toLong)).toSet
    assert(want.subsetOf(cands), s"lost ${(want -- cands).size} of ${want.size} cross pairs")
  }

  test("cluster assignment equals union-find closure of the pair set") {
    import org.apache.spark.sql.functions.col
    def unionFind(edges: Set[(Long, Long)]): Map[Long, Long] = {
      // Reference closure: driver-side union-find over the collected pair set.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    def got(name: String): Map[Long, Long] =
      Dedup.queries(name)(spark, sf()).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getLong(r.fieldIndex("cluster_id"))).toMap
    val full = pairs("dd_ngram_pairs")
    // dd_clusters_ls closes the FULL pair set; dd_clusters (label-prop) runs
    // on the deterministic bucket<cap tier — equal to the full pair set
    // restricted to both-endpoints-in-tier (Jaccard is pairwise).
    val wantFull = unionFind(full)
    val gotLs = got("dd_clusters_ls")
    assert(gotLs == wantFull,
      s"ls labels diverge: ${gotLs.toSet -- wantFull.toSet} vs ${wantFull.toSet -- gotLs.toSet}")
    val buckets = Relational.t(spark, sf(), "documents")
      .select(col("doc_id"), Pipeline.bucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cap = Dedup.LabelPropCapBucket
    val wantTier = unionFind(full.filter { case (a, b) => buckets(a) < cap && buckets(b) < cap })
    val gotLp = got("dd_clusters")
    assert(wantTier.nonEmpty, "tier should retain near-dup pairs")
    assert(gotLp == wantTier,
      s"label-prop labels diverge: ${gotLp.toSet -- wantTier.toSet} vs ${wantTier.toSet -- gotLp.toSet}")
  }

  test("cluster sizes count members per label") {
    val rows = Dedup.queries("dd_clusters")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val byLabel = rows.groupBy(_.getLong(1))
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("cluster_size")) == byLabel(r.getLong(1)).length.toLong)
      assert(r.getLong(r.fieldIndex("cluster_size")) >= 2, "every clustered doc has a partner")
    }
  }

  test("both CC algorithms equal union-find on seeded random graphs") {
    import spark.implicits._
    // Five deterministic Erdős–Rényi-ish graphs spanning the regimes that
    // break CC implementations differently: sub-critical (forest of small
    // components), near-critical (one giant + many small), and dense (one
    // component, high-degree propagation). Both algorithms must land on the
    // union-find fixpoint exactly.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val p = Seq(0.01, 0.02, 0.05, 0.1, 0.2)(seed - 1)
      val edges = (for {
        a <- 0 until n; b <- a + 1 until n if rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val q = parent.getOrElseUpdate(x, x)
          if (q == x) x else { val r = find(q); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        val df = edges.toDF("doc_a", "doc_b")
        for ((algo, cc) <- Seq(
            "label-prop" -> Dedup.connectedComponents(df),
            "stars" -> Dedup.connectedComponentsStars(df))) {
          val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == want, s"seed=$seed p=$p $algo diverges from union-find")
        }
      }
    }
  }

  test("connected components closes a deep chain within a logarithmic round budget") {
    import spark.implicits._
    // A 512-vertex chain has diameter 511: plain min-propagation needs ~511
    // rounds, so converging under a 25-round budget is only possible with
    // pointer doubling (≈ log2(512) + propagation slack). This is the
    // chain-shaped boilerplate-family case that would blow round count (and,
    // without checkpointing, lineage) at corpus scale.
    val n = 512L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain, maxRounds = 25).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L), "every chain vertex must reach the component minimum 0")
  }

  test("connected components survives many rounds without lineage blowup (per-round checkpoint)") {
    import spark.implicits._
    // Each round references the previous labels three times, so an uncut
    // plan grows 3^rounds nodes — diameter 4096 needs ~13 rounds, which
    // OOM'd the driver before the per-round localCheckpoint (3^13 ≈ 1.6M
    // plan nodes just to render). Converging here proves the lineage cut
    // works and a second small component proves labels don't bleed.
    val n = 4096L
    val chain = (0L until n - 1).map(i => (i, i + 1)) ++ Seq((100000L, 100001L))
    val labels = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"), maxRounds = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n + 2)
    assert((0L until n).forall(labels(_) == 0L))
    assert(labels(100000L) == 100000L && labels(100001L) == 100000L)
  }

  test("alternating-star CC matches label propagation on a chain + islands graph") {
    import spark.implicits._
    // 256-vertex chain (diameter 255) plus two 2-vertex islands: the star
    // rounds must land on the identical labeling the propagation/doubling
    // algorithm produces, within a logarithmic round budget (a linear
    // algorithm would need ~255 rounds).
    val n = 256L
    val edges = (0L until n - 1).map(i => (i, i + 1)) ++
      Seq((100000L, 100001L), (200001L, 200000L))
    val df = edges.toDF("doc_a", "doc_b")
    val viaStars = Dedup.connectedComponentsStars(df, maxRounds = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = Dedup.connectedComponents(df, maxRounds = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == viaProp)
    assert(viaStars.size == n + 4)
    assert((0L until n).forall(viaStars(_) == 0L))
    assert(viaStars(100001L) == 100000L && viaStars(200001L) == 200000L)
  }

  test("jaccard pairs stable across partition counts (scale invariance)") {
    val base = pairs("dd_ngram_pairs")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      assert(pairs("dd_ngram_pairs") == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("contamination screen: flagged docs are corpus-side and really share an eval gram") {
    import org.apache.spark.sql.functions._
    val flagged = Dedup.queries("dd_contamination")(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.values.forall(_ >= 1))
    // Recompute the gram overlap independently (set algebra on the driver —
    // fine at test scale) and require exact agreement.
    val grams = Relational.t(spark, sf(), "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= Dedup.ContamGram)
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(1), size(col("ts")) - (Dedup.ContamGram - 1)),
          i => concat_ws(" ", slice(col("ts"), i, lit(Dedup.ContamGram))))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${Pipeline.SampleSeed}:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 100L
    }
    val evalGrams = grams.collect { case (id, g) if bucket(id) >= 90 => g }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = grams.collect {
      case (id, g) if bucket(id) < 90 && (g & evalGrams).nonEmpty => id -> (g & evalGrams).size.toLong
    }.toMap
    assert(flagged == expected)
  }

  test("duplicate spans find exactly the planted shared block, maximal, and nothing else") {
    import spark.implicits._
    val K = Dedup.SpanGram
    // Planted corpus: docs 1 and 2 share a 20-token block at token positions
    // 11..30 (each has 10 unique leading and 10 unique trailing tokens);
    // doc 3 is entirely unique. The duplicated K-gram starts are exactly
    // 11..(30-K+1), so the ONE maximal span per sharing doc must be
    // [11, 30] with 20-K+1 windows — any wider span would need a duplicated
    // window outside the block, any narrower misses an adjacent duplicate.
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 10).map(i => s"a$i").mkString(" ")) + " " + shared + " " +
        ((1 to 10).map(i => s"az$i").mkString(" "))),
      (2L, ((1 to 10).map(i => s"b$i").mkString(" ")) + " " + shared + " " +
        ((1 to 10).map(i => s"bz$i").mkString(" "))),
      (3L, (1 to 40).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("spans").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val spans = Dedup.queries("dd_dup_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val expected = Set(
      (1L, 11, 30, (20 - K + 1).toLong),
      (2L, 11, 30, (20 - K + 1).toLong))
    assert(spans == expected, s"got $spans")
  }

  test("er_best_match links each probe to exactly its highest-Jaccard index record, or none") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Split membership is a pure hash of doc_id — recover each id's side
    // the same way the operator does instead of assuming it.
    val ids = (0L until 40L).toDF("doc_id")
      .select(col("doc_id"), Pipeline.bucket(col("doc_id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val index = ids.filter(_._2 < 80).map(_._1)
    val probes = ids.filter(_._2 >= 80).map(_._1)
    assert(index.length >= 3 && probes.length >= 2, s"unlucky hash spread: ${ids.mkString(",")}")

    val base = (1 to 100).map(i => s"w$i")
    val exact = base.mkString(" ")                                  // jac 1.0 vs probe0
    val near = base.updated(50, "CHANGED").mkString(" ")            // jac ≈ 0.94
    val far = (1 to 100).map(i => s"z$i").mkString(" ")             // index noise
    val half = (base.take(50) ++ (1 to 50).map(i => s"q$i")).mkString(" ") // < 0.8 vs probe1
    val docs = Seq(
      (index(0), exact), (index(1), near), (index(2), far),
      (probes(0), exact),                                           // must link to index(0)
      (probes(1), base.take(50).mkString(" ") + " " + (1 to 50).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("er").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val links = Dedup.queries("er_best_match")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(links.toSeq == Seq((probes(0), index(0), 1.0)),
      s"expected one link (probe ${probes(0)} -> index ${index(0)}), got ${links.mkString(", ")}; half=$half")
  }

  test("alternating-star CC handles a giant skewed star within a constant round budget") {
    import spark.implicits._
    // The adversarial shape for the round's u-keyed exchange: a hub whose
    // id is LARGER than every leaf, so large-star emits the hub's whole
    // neighborhood keyed by the hub (one hot u). The round's hot task is
    // inherent and bytes-bounded (measured in StarSkewExperiment: max
    // single-task shuffle read identical with and without the explicit
    // repartition(u)); this spec pins that the shape CONVERGES fast - a
    // star is one contraction away from the star-forest fixpoint the
    // early-exit certificate detects - with exact labels, alongside a
    // second component proving no label bleed through the hot round.
    val hub = 1000000L
    val leaves = 5000L
    val edges = (0L until leaves).map(i => (hub, i)) ++ Seq((2000000L, 2000001L))
    val labels = Dedup.connectedComponentsStars(edges.toDF("doc_a", "doc_b"), maxRounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == leaves + 3)
    assert(labels(hub) == 0L)
    assert((0L until leaves).forall(labels(_) == 0L))
    assert(labels(2000000L) == 2000000L && labels(2000001L) == 2000000L)
  }
}
