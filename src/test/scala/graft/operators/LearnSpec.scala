package graft.operators

import graft.SparkSpec

/** Learning-behavior tests for the [[Learn]] tier. The driver gate proves the
  * arithmetic is cross-engine exact on the real tables (where labels are
  * content-independent by construction); these specs prove the MODELS LEARN
  * on planted separable corpora — NB and k-NN must both reach 100% heldout
  * accuracy when the classes actually differ.
  */
class LearnSpec extends SparkSpec {

  test("NB trained on a separable planted corpus classifies every heldout doc correctly") {
    import spark.implicits._
    // Two classes with disjoint vocabularies; class = doc_id parity. The
    // md5 split buckets scatter doc_ids across train/test, so both splits
    // contain both classes (asserted, not assumed).
    // Even doc_ids are class "en" (= Learn.AucPosLabel, so the AUC query is
    // exercised with real positives), odd are class "xx".
    val vocabA = Seq("apple", "banana", "cherry", "date", "elder")
    val vocabB = Seq("quark", "rho", "sigma", "tau", "upsilon")
    val docs = (0 until 200).map { i =>
      val v = if (i % 2 == 0) vocabA else vocabB
      val text = (0 until 12).map(j => v((i + j) % v.length)).mkString(" ")
      (i.toLong, if (i % 2 == 0) Learn.AucPosLabel else "xx", text)
    }.toDF("doc_id", "lang", "text")
    val dir = SparkSpec.tempDir("nb").toString
    docs.write.parquet(s"$dir/documents.parquet")

    // Model: no token may appear under the wrong class.
    val model = Learn.queries("cl_nb_model")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(model.nonEmpty)
    assert(model.forall { case (lang, token) =>
      if (lang == Learn.AucPosLabel) vocabA.contains(token) else vocabB.contains(token)
    }, s"cross-class token leakage: ${model.mkString(", ")}")

    val pred = Learn.queries("cl_nb_predict")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(pred.length > 10, s"heldout split too small: ${pred.length}")
    assert(pred.map(_._1 % 2).toSet.size == 2, "heldout split missing a class")
    val wrong = pred.filterNot { case (id, lang) =>
      lang == (if (id % 2 == 0) Learn.AucPosLabel else "xx")
    }
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")

    // Confusion matrix: strictly diagonal on a separable corpus.
    val conf = Learn.queries("cl_eval")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(conf.forall { case (t, p, _) => t == p }, s"off-diagonal entries: ${conf.mkString(", ")}")
    assert(conf.map(_._3).sum == pred.length.toLong)

    // AUC: every positive outranks every negative on the positive-class score.
    val auc = Learn.queries("cl_auc")(spark, dir).collect().head
    assert(auc.getLong(0) > 0 && auc.getLong(1) > 0, s"degenerate split: $auc")
    assert(auc.getDouble(2) == 1.0, s"AUC on a separable corpus must be exactly 1.0: $auc")
  }

  test("per-class PRF1 is exactly the confusion matrix re-aggregated") {
    val cm = Learn.queries("cl_eval")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val report = Learn.queries("cl_prf1")(spark, sf()).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      val c = r.getString(r.fieldIndex("lang"))
      val tp = cm.getOrElse((c, c), 0L)
      val fn = cm.collect { case ((t, p), n) if t == c && p != c => n }.sum
      val fp = cm.collect { case ((t, p), n) if t != c && p == c => n }.sum
      assert(r.getLong(r.fieldIndex("tp")) == tp)
      assert(r.getLong(r.fieldIndex("fp")) == fp)
      assert(r.getLong(r.fieldIndex("fn")) == fn)
      assert(r.getLong(r.fieldIndex("support")) == tp + fn)
      assert(r.getDouble(r.fieldIndex("rec")) == tp.toDouble / (tp + fn))
      if (tp + fp > 0)
        assert(r.getDouble(r.fieldIndex("prec")) == tp.toDouble / (tp + fp))
      assert(r.getDouble(r.fieldIndex("f1")) == 2.0 * tp / (2 * tp + fp + fn))
    }
  }

  test("mcnemar cells partition the heldout set and agree with both classifiers") {
    val r = Learn.queries("cl_mcnemar")(spark, sf()).collect().head
    val cells = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val heldout = Learn.queries("cl_nb_predict")(spark, sf()).count()
    assert(cells._1 + cells._2 + cells._3 + cells._4 == heldout)
    // NB's marginal accuracy from the cells equals the confusion diagonal.
    val nbRight = Learn.queries("cl_eval")(spark, sf()).collect()
      .filter(row => row.getString(0) == row.getString(1)).map(_.getLong(2)).sum
    assert(cells._1 + cells._2 == nbRight)
    // LM marginal accuracy from the cells equals a direct recompute.
    val truth = Relational.t(spark, sf(), "documents")
      .select("doc_id", "lang").collect().map(row => row.getLong(0) -> row.getString(1)).toMap
    val lmRight = Learn.queries("cl_lm_classify")(spark, sf()).collect()
      .count(row => truth(row.getLong(0)) == row.getString(1))
    assert(cells._1 + cells._3 == lmRight)
    // Statistic recompute (or NULL when the classifiers never disagree).
    val (b, c) = (cells._2, cells._3)
    if (b + c == 0) assert(r.isNullAt(4))
    else assert(r.getDouble(4) == (b - c).toDouble * (b - c) / (b + c))
  }

  test("kappa equals a straight-line recompute from the confusion matrix") {
    val cm = Learn.queries("cl_eval")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = cm.values.sum
    val agree = cm.collect { case ((t, p), c) if t == p => c }.sum
    val rowM = cm.groupBy(_._1._1).view.mapValues(_.values.sum)
    val colM = cm.groupBy(_._1._2).view.mapValues(_.values.sum)
    val chance = rowM.map { case (l, rn) => rn * colM.getOrElse(l, 0L) }.sum
    val kappa = (n.toDouble * agree - chance) / (n.toDouble * n - chance)
    val got = Learn.queries("cl_kappa")(spark, sf()).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((n, agree, chance)))
    // Same integer operands; the query's single division may associate n·n
    // differently than n.toDouble*n only when n² exceeds 2^53 — not here.
    assert(math.abs(r.getDouble(3) - kappa) < 1e-12, s"${r.getDouble(3)} vs $kappa")
    // Predictions beat chance on the planted-separable corpus: κ ∈ (0, 1].
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
  }

  test("calibration bins are equi-depth with ascending disjoint margin ranges") {
    val rows = Learn.queries("cl_calibration")(spark, sf()).collect()
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
    val n = rows.map(_.getLong(rows.head.fieldIndex("n_docs"))).sum
    rows.foreach { r =>
      val sz = r.getLong(r.fieldIndex("n_docs"))
      assert(sz == n / 10 || sz == n / 10 + 1, s"bin not equi-depth: $sz of $n")
      val acc = r.getDouble(r.fieldIndex("accuracy"))
      assert(acc >= 0.0 && acc <= 1.0)
      assert(r.getLong(r.fieldIndex("margin_lo")) <= r.getLong(r.fieldIndex("margin_hi")))
    }
    // Equi-depth bin ranges never overlap (margins ascend with bin index).
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(a.fieldIndex("margin_hi")) <= b.getLong(b.fieldIndex("margin_lo")))
      case _ =>
    }
  }

  test("k-NN vote labels every heldout vector with its planted cluster") {
    import spark.implicits._
    // Two tight clusters on orthogonal axes with small deterministic jitter;
    // label = vec_id parity.
    val vecs = (0 until 200).map { i =>
      val j = 0.01f * (i % 7)
      val v = if (i % 2 == 0) Array(1.0f, j, 0.0f, j) else Array(j, 0.0f, 1.0f, j)
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val dir = SparkSpec.tempDir("knn").toString
    vecs.write.parquet(s"$dir/embeddings.parquet")

    val pred = Learn.queries("cl_knn_label")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(pred.length > 10, s"heldout split too small: ${pred.length}")
    val wrong = pred.filterNot { case (id, label, _) => label == (id % 2).toInt }
    assert(wrong.isEmpty, s"mislabeled: ${wrong.mkString(", ")}")
    // With tight clusters every vote should be unanimous.
    assert(pred.forall(_._3 == Learn.Knn), s"non-unanimous votes: ${pred.mkString(", ")}")
  }

  test("LM perplexity separates in-distribution from out-of-distribution heldout text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Every doc cycles the same 5-word chain, so the train split's bigram
    // table contains exactly those transitions. One heldout doc is rewritten
    // in a vocabulary the model never saw: each of its transitions falls to
    // the Laplace floor 1/(0+V), while in-distribution transitions are
    // train-frequent — its mean NLL must exceed every in-distribution
    // heldout doc's, with a wide margin (≥ twice the in-distribution max).
    val chain = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val ids = (0L until 300L)
    // One job for all 300 bucket evaluations (a per-id 1-row DataFrame +
    // head() would launch 300 sequential jobs of pure scheduler overhead).
    val buckets = ids.toDF("doc_id")
      .select(col("doc_id"), Pipeline.bucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val heldout = ids.filter(buckets(_) >= Learn.TestBucket)
    assert(heldout.size >= 2, s"need ≥2 heldout docs, got ${heldout.size}")
    val oodId = heldout.head
    val docs = ids.map { i =>
      val text =
        if (i == oodId) (0 until 12).map(j => s"zx$j").mkString(" ")
        else (0 until 12).map(j => chain(((i + j) % chain.length).toInt)).mkString(" ")
      (i, "en", text)
    }.toDF("doc_id", "lang", "text")
    val dir = SparkSpec.tempDir("lm").toString
    docs.write.parquet(s"$dir/documents.parquet")

    val scored = Learn.queries("cl_lm_perplexity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(scored.keySet == heldout.toSet, s"scored ${scored.keySet} vs $heldout")
    val ood = scored(oodId)
    val inDist = (scored - oodId).values
    assert(inDist.nonEmpty && ood > 2 * inDist.max,
      s"OOD doc must score far above in-distribution: ood=$ood in=${inDist.toSeq.sorted}")
  }

  test("DSIR weights rank target-like raw docs strictly above raw-typical docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The target split (bucket >= TestBucket) speaks vocabT. Raw-pool docs
    // (bucket < TrainBucket) split by parity: even doc_ids speak vocabT
    // (target-like — what DSIR should select), odd speak vocabR. Every doc
    // has the same token count, so the importance weights are directly
    // comparable: every target-like raw doc must outweigh every raw-typical
    // one (its features are common under the target LM and no rarer under
    // the raw LM).
    val vocabT = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val vocabR = Seq("omega", "psi", "chi", "phi", "upsilon")
    val ids = (0L until 400L)
    val buckets = ids.toDF("doc_id")
      .select(col("doc_id"), Pipeline.bucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = ids.map { i =>
      val v = if (buckets(i) >= Learn.TestBucket || i % 2 == 0) vocabT else vocabR
      (i, "en", (0 until 12).map(j => v(((i + j) % v.length).toInt)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val dir = SparkSpec.tempDir("dsir").toString
    docs.write.parquet(s"$dir/documents.parquet")

    val w = Learn.queries("pl_dsir_weights")(spark, dir).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("n_tokens")), r.getLong(r.fieldIndex("w_q")))).toSeq
    val rawIds = ids.filter(i => buckets(i) < Learn.TrainBucket)
    assert(w.map(_._1).toSet == rawIds.toSet, "exactly the raw pool is scored")
    assert(w.forall(_._2 == 12L), "equal token counts by construction")
    val (tLike, rLike) = w.partition(_._1 % 2 == 0)
    assert(tLike.nonEmpty && rLike.nonEmpty)
    assert(tLike.map(_._3).min > rLike.map(_._3).max,
      s"target-like min ${tLike.map(_._3).min} must exceed raw-typical max ${rLike.map(_._3).max}")
  }

  test("DSIR selection is exactly the per-language greedy weight prefix within budget") {
    val weights = Learn.queries("pl_dsir_weights")(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("n_tokens")),
        r.getLong(r.fieldIndex("w_q"))))
    val langs = Relational.t(spark, sf(), "documents").select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = weights.groupBy(x => langs(x._1)).toSeq.flatMap { case (lang, ds) =>
      val sorted = ds.sortBy { case (id, _, w) => (-w, id) }
      val cums = sorted.scanLeft(0L)(_ + _._2).tail
      sorted.zip(cums).filter(_._2 <= Learn.DsirLangBudget)
        .map { case ((id, n, w), c) => (id, lang, w, n, c) }
    }.toSet
    val got = Learn.queries("pl_dsir_select")(spark, sf()).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getString(r.fieldIndex("lang")),
        r.getLong(r.fieldIndex("w_q")), r.getLong(r.fieldIndex("n_tokens")),
        r.getLong(r.fieldIndex("cum_tokens")))).toSet
    assert(want.nonEmpty, "budget should admit some docs")
    assert(got == want, s"selection diverges: extra ${got -- want}, missing ${want -- got}")
    // The budget genuinely cuts: some raw docs are NOT selected.
    assert(got.size < weights.length)
  }

  test("perplexity buckets split each language into ordered nearest-rank tertiles") {
    val rows = Learn.queries("cl_ppl_buckets")(spark, sf()).collect()
      .map(r => (r.getString(r.fieldIndex("lang")),
        r.getDouble(r.fieldIndex("mean_nll_q")), r.getString(r.fieldIndex("ppl_bucket"))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val n = docs.length.toLong
      val byB = docs.groupBy(_._3).view.mapValues(_.map(_._2).toSeq).toMap
      val head = byB.getOrElse("head", Seq.empty[Double])
      val mid = byB.getOrElse("middle", Seq.empty[Double])
      val tail = byB.getOrElse("tail", Seq.empty[Double])
      // Nearest-rank tertile sizes: ceil(n/3), ceil(2n/3)-ceil(n/3), rest.
      val c1 = (n + 2) / 3
      val c2 = (2 * n + 2) / 3
      assert(head.size == c1 && mid.size == c2 - c1 && tail.size == n - c2,
        s"$lang sizes (${head.size},${mid.size},${tail.size}) != ($c1,${c2 - c1},${n - c2}) for n=$n")
      // Buckets are value-ordered (ties may straddle a boundary, hence <=).
      if (head.nonEmpty && mid.nonEmpty) assert(head.max <= mid.min)
      if (mid.nonEmpty && tail.nonEmpty) assert(mid.max <= tail.min)
    }
  }

  test("lmScoreDocs uniqueness contract: duplicate doc_ids double-count; lmScoreRaw dedupes") {
    import spark.implicits._
    // The documented sharp edge (Learn.lmScoreDocs): the scorer trusts its
    // callers to feed ONE row per doc_id — a violated contract corrupts
    // silently (duplicate output rows, double-counted transitions), so this
    // spec pins both the failure shape and the entry point that guards it.
    val bg = Seq(("a", "b", 5L)).toDF("w1", "w2", "cnt")
    val ctx = Seq(("a", 5L)).toDF("w1", "ctx")
    val one = Seq((1L, Seq("a", "b", "a", "b"))).toDF("doc_id", "ts")
    val clean = Learn.lmScoreDocs(one, bg, ctx, 10L).collect()
    assert(clean.length == 1 && clean.head.getLong(1) == 3L) // a->b, b->a, a->b
    val dirty = Learn.lmScoreDocs(one.union(one), bg, ctx, 10L).collect()
    assert(dirty.length == 2, "duplicate input must surface as duplicate output rows")
    assert(dirty.forall(_.getLong(1) == 2 * clean.head.getLong(1)),
      "duplicate input double-counts every transition")
    // The streaming entry point (re-delivered micro-batch rows are EXPECTED
    // there) dedupes before scoring — same duplicated payload, clean result.
    val raw = Seq((1L, "a b a b"), (1L, "a b a b")).toDF("doc_id", "text")
    val viaRaw = Learn.lmScoreRaw(raw, bg, ctx, 10L).collect()
    assert(viaRaw.length == 1 && viaRaw.head.getLong(1) == clean.head.getLong(1))
  }
}
