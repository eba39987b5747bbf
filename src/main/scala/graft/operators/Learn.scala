package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trainable-model operators expressed as pure dataflow: a multinomial
  * Naive-Bayes text classifier (train = counting, predict = additive
  * log-scoring) and a k-NN majority-vote label propagator over the embedding
  * corpus. These are the "cheap classifier" shapes a large-scale corpus
  * pipeline actually runs — fastText-style quality/language gates, label
  * transfer from a seed set — re-expressed so the MODEL IS A DATAFRAME
  * (no driver-side state, no mutable model object, retrainable by re-running
  * the plan on new data).
  *
  * Reference scope: the reference engine has no learning surface at all (its
  * only UDFs are word count, `test/user_tasks.cc:12-34`); this tier is a
  * north-star extension composed from the engine's verified primitives
  * (hash-split sampling, token explode + partial aggregation, broadcast
  * joins, bounded-set brute-force scoring).
  *
  * Determinism contract (the gate hash-compares against DuckDB):
  *  - Training is INTEGER counting — exact on any engine.
  *  - Prediction quantizes each log-probability to a 64-bit integer
  *    (`round(1e6·ln p)`) BEFORE summation, so the per-document score is an
  *    integer sum — order-independent within an engine (no float
  *    accumulation-order drift between runs) and stable across engines (a
  *    1-ulp libm `ln` difference flips a quantized value only within ~2e-9
  *    of a rounding boundary; argmax margins here are ≥ thousands of
  *    quanta). Ties break on label order.
  *  - k-NN votes are integer counts over a top-k selected by the
  *    cross-engine-exact cosine ([[Similarity.cosine]] — sequential-fold dot
  *    products) with total-order tie-breaks.
  *
  * NOTE on the synthetic corpus: `documents.lang` and `embeddings.label` are
  * assigned independently of content, so heldout accuracy at any SF is chance
  * level BY CONSTRUCTION — the gate verifies the math is exact, and
  * LearnSpec proves the learning behavior (100% heldout accuracy) on planted
  * separable corpora.
  *
  * Scale shape (100 TB):
  *  - Train: one token explode + one (label, token) partial-agg — linear in
  *    corpus tokens, map-side combined, no other exchange.
  *  - Predict: the model (vocab × |labels| rows) broadcasts; the test stream
  *    fans out only ×|labels| before its per-document aggregation. With a
  *    vocabulary too large to broadcast, the same plan holds with the model
  *    join falling back to an equality shuffle join on `token` — no shape
  *    change.
  *  - k-NN: the labeled seed query set is BOUNDED (heldout bucket), so the
  *    scan is one broadcast-nested-loop pass over the train corpus — the
  *    declared ss_topk_bruteforce baseline shape; corpus-×-corpus label
  *    propagation swaps the candidate generator for the ANN tier
  *    (ss_knn_graph / ss_ann_lsh) without touching the vote/argmax tail.
  */
object Learn {

  /** Hash-split thresholds (see [[Pipeline.bucket]]): bucket < TrainBucket →
    * train; bucket >= TestBucket → heldout test. (80/10/10 — the val slice
    * [80, 90) is deliberately untouched by both queries.)
    */
  val TrainBucket = 80
  val TestBucket = 90

  /** k for the k-NN vote. */
  val Knn = 5

  /** Positive class for the one-vs-rest ROC-AUC (`cl_auc`). */
  val AucPosLabel = "en"

  /** The shared quantize-before-sum log ([[TextOps.qlog]]); its `1000000.0`
    * literal appears in this module's oracle SQL — keep in sync.
    */
  private def qlog(p: Column): Column = TextOps.qlog(p)

  /** Per-(heldout doc, label) quantized NB log-posterior scores — the shared
    * scoring frame behind cl_nb_predict (argmax), cl_auc (ranking),
    * cl_eval / cl_prf1 / cl_kappa (confusion-matrix reports),
    * cl_calibration (margins) and cl_mcnemar (paired comparison).
    *
    * The score frame itself lives in the stored-structure tier: it is the
    * "scored predictions" table a model registry materializes once per
    * (model, eval split) and every report reads — seven gate queries
    * consume it, and re-running the explode→model-join→aggregate scoring
    * pass per consumer charged the corpus scan seven times (the r8 bench's
    * cl_* regression cluster). Size is |heldout docs| × |labels| — bounded
    * by the eval split, not the corpus. The corpus is NOT materialized:
    * train tokens feed only the model build, test tokens one scoring pass.
    *
    * PINNED ([[graft.sources.Stored.pinned]], the dd_* store doctrine):
    * seven consumers share ONE RAM-resident checkpointed copy per session
    * instead of each re-paying the parquet decode + repartition at
    * construction; the spread below the per-doc argmax window satisfies its
    * required distribution so no second exchange is planned.
    */
  private def nbScores(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.pinned("nb_scores", dir, s)(
      graft.sources.Stored.materialize("nb_scores", dir, s)(nbScoresBuild(s, dir))
        .transform(Dedup.spread("doc_id")))

  /** The scoring PASS behind [[nbScores]] — package-visible so the plan
    * audit can assert the broadcast/partial-agg shape of the pass itself
    * (the consuming queries read the stored frame, where those operators
    * no longer appear).
    */
  private[graft] def nbScoresBuild(s: SparkSession, dir: String): DataFrame = {
    val (counts, labelStats) = nbModel(s, dir)
    scoreDocs(docs(s, dir).filter(col("b") >= TestBucket).select("doc_id", "ts"),
      counts, labelStats)
  }

  /** Train the NB model frames from the train bucket: the (label, token,
    * count) table (materialized — three consumers) and the one-row-per-label
    * stats frame (priors, totals, vocab size). Both broadcast at predict
    * time; both are plain DataFrames a caller can persist and reuse — in
    * particular the streaming scorer closes over them as static sides.
    */
  private[graft] def nbModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // Model frames live in the stored-structure tier (train ONCE per
    // (session, corpus), read thereafter — the ANN-index/BPE-table shape):
    // seven gate queries and the streaming scorer all consume the same
    // trained artifact, exactly like a model registry.
    val counts = graft.sources.Stored.materialize("nb_counts", dir, s)(
      docs(s, dir).filter(col("b") < TrainBucket)
        .select(col("lang"), explode(col("ts")).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt")))
    val labelStats = graft.sources.Stored.materialize("nb_label_stats", dir, s) {
      val totals = counts.groupBy("lang").agg(sum("cnt").as("tot"))
      val vocab = counts.agg(countDistinct(col("token")).as("v"))
      val trainDocs = docs(s, dir).filter(col("b") < TrainBucket)
      val priors = trainDocs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val totalDocs = trainDocs.agg(count(lit(1)).as("total_docs"))
      priors.join(totals, "lang").crossJoin(vocab).crossJoin(totalDocs)
    }
    (counts, labelStats)
  }

  /** Per-(doc, label) quantized scores for a (doc_id, ts) token frame
    * against trained model frames — the shared scoring tail.
    */
  private[graft] def scoreDocs(docsTs: DataFrame, counts: DataFrame,
      labelStats: DataFrame): DataFrame =
    docsTs
      .select(col("doc_id"), explode(col("ts")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(labelStats)) // bounded: |langs| rows
      .join(broadcast(counts), Seq("lang", "token"), "left") // bounded: vocabulary-sized model frame
      .select(
        col("doc_id"), col("lang"),
        (col("tf") * qlog((coalesce(col("cnt"), lit(0L)) + lit(1.0)) / (col("tot") + col("v")))).as("c"),
        qlog(col("n_docs").cast("double") / col("total_docs")).as("prior_q"))
      .groupBy("doc_id", "lang")
      .agg((min(col("prior_q")) + sum(col("c"))).as("score"))

  /** Per-document argmax over a (doc_id, lang, score) frame →
    * (doc_id, pred_lang, score); ties break on label order.
    */
  private[graft] def argmaxLabel(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang").asc)
    scores
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("score"))
  }

  /** Classify raw (doc_id, text) rows with trained model frames. Stateless
    * given the model — the streaming scorer applies exactly this per
    * micro-batch ([[graft.streaming.DocStreams]]).
    */
  private[graft] def classifyDocs(raw: DataFrame, counts: DataFrame,
      labelStats: DataFrame): DataFrame =
    argmaxLabel(scoreDocs(
      raw.select(col("doc_id"), TextOps.tokens(col("text")).as("ts")),
      counts, labelStats))

  /** Tokenized, split-bucketed documents — shared scan for train/predict. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Relational.t(s, dir, "documents")
      .transform(Dedup.spread("doc_id"))
      .select(
        col("doc_id"), col("lang"),
        Pipeline.bucket(col("doc_id")).as("b"),
        TextOps.tokens(col("text")).as("ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multinomial NB training: the model is the (label, token, count) table
    // over the train split. Pure integer counting — one explode, one
    // partial aggregation; the model for this corpus is vocab×|labels| rows.
    "cl_nb_model" -> { (s, dir) =>
      docs(s, dir)
        .filter(col("b") < TrainBucket)
        .select(col("lang"), explode(col("ts")).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "token")
    },

    // NB prediction over the heldout split: per (doc, label) score =
    // qlog(prior) + Σ_tokens tf · qlog((cnt+1)/(total+V)) (Laplace
    // smoothing), argmax by (score desc, label asc). Integer arithmetic
    // end-to-end after quantization — see the determinism contract above.
    "cl_nb_predict" -> { (s, dir) =>
      argmaxLabel(nbScores(s, dir)).orderBy("doc_id")
    },

    // Model evaluation: the confusion matrix of the NB predictions against
    // the true labels — pure integer counting over a doc_id equality join;
    // the canonical model-eval artifact, sized |labels|².
    "cl_eval" -> { (s, dir) =>
      val pred = argmaxLabel(nbScores(s, dir)).select("doc_id", "pred_lang")
      val truth = Relational.t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("true_lang"))
      pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    },

    // Per-class precision / recall / F1 — the classification report beside
    // the raw confusion matrix: tp/fp/fn per true class in pure integer
    // counting, each metric then ONE IEEE division (F1 in its one-division
    // form 2·tp/(2·tp+fp+fn), never 2PR/(P+R) whose nested roundings are
    // not cross-engine stable). Classes are the truth-side labels; a class
    // never predicted gets fp = 0 and NULL precision in both engines.
    // Shape: the |labels|²-row confusion frame aggregated twice and joined
    // on the class — every frame after the doc join is |labels|-sized, so
    // the report costs nothing beyond cl_eval at any corpus size.
    "cl_prf1" -> { (s, dir) =>
      val pred = argmaxLabel(nbScores(s, dir)).select("doc_id", "pred_lang")
      val truth = Relational.t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("true_lang"))
      val cm = Dedup.materialized(pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n")))
      val cls = cm.groupBy(col("true_lang").as("lang"))
        .agg(sum("n").as("n_true"),
          sum(when(col("pred_lang") === col("true_lang"), col("n"))
            .otherwise(0L)).as("tp"))
      val pcls = cm.groupBy(col("pred_lang").as("lang")).agg(sum("n").as("n_pred"))
      cls.join(pcls, Seq("lang"), "left_outer")
        .select(col("lang"), col("n_true").as("support"), col("tp"),
          (coalesce(col("n_pred"), lit(0L)) - col("tp")).as("fp"),
          (col("n_true") - col("tp")).as("fn"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            col("tp").cast("double") / col("n_pred").cast("double")).as("prec"),
          (col("tp").cast("double") / col("n_true").cast("double")).as("rec"),
          ((col("tp") * 2).cast("double") /
            (col("tp") * 2 + coalesce(col("n_pred"), lit(0L)) - col("tp") +
              col("n_true") - col("tp")).cast("double")).as("f1"))
        .orderBy("lang")
    },

    // Cohen's kappa — chance-corrected agreement between the NB predictions
    // and the true labels, the promotion gate an auto-labeling pipeline
    // reads (accuracy alone rewards majority-class collapse; κ subtracts
    // the agreement the marginals would produce by chance). Every term is
    // an exact integer from the |labels|²-row confusion frame: agree =
    // Σ diag, chance_q = Σ_k row_k·col_k (marginals joined on the class —
    // a label never predicted contributes col_k = 0 through the inner
    // join), and κ = (n·agree − chance_q) / (n² − chance_q) — the
    // integer-ratio form whose single division is the only inexact op (the
    // an_linreg contract; the textbook (p_o − p_e)/(1 − p_e) nests three
    // roundings). Products ride DECIMAL(38,0) so n² is exact far past any
    // corpus size; every frame after the doc join is |labels|-sized.
    "cl_kappa" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val pred = argmaxLabel(nbScores(s, dir)).select("doc_id", "pred_lang")
      val truth = Relational.t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("true_lang"))
      val cm = Dedup.materialized(pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n")))
      val tot = cm.agg(sum("n").as("n_docs"),
        sum(when(col("true_lang") === col("pred_lang"), col("n")).otherwise(0L)).as("n_agree"))
      val rows = cm.groupBy(col("true_lang").as("lang")).agg(sum("n").as("rn"))
      val cols = cm.groupBy(col("pred_lang").as("lang")).agg(sum("n").as("cn"))
      val chance = rows.join(cols, "lang")
        .agg(coalesce(sum(col("rn").cast(dec) * col("cn").cast(dec)), lit(0).cast(dec))
          .as("chance_q"))
      tot.crossJoin(broadcast(chance)) // bounded: one row
        .select(col("n_docs"), col("n_agree"), col("chance_q").cast("long").as("chance_q"),
          ((col("n_docs").cast(dec) * col("n_agree").cast(dec) - col("chance_q"))
            .cast("double") /
            (col("n_docs").cast(dec) * col("n_docs").cast(dec) - col("chance_q"))
              .cast("double")).as("kappa"))
    },

    // Calibration / reliability report: heldout docs in 10 EQUI-DEPTH bins
    // of prediction margin (top score − runner-up score, an integer number
    // of log-prob quanta — the NB confidence proxy), each bin reporting
    // exact margin bounds and accuracy. A calibrated classifier's accuracy
    // rises with margin; a flat profile says the margins carry no signal —
    // the decision artifact behind confidence-thresholded auto-labeling.
    // Determinism: margins are integer differences of the quantized scores,
    // bins come from the exact rank formula over the range-partition
    // numbering (margin, doc_id order — no NTILE, no global-sort funnel),
    // and accuracy is the single IEEE division per bin.
    "cl_calibration" -> { (s, dir) =>
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang").asc)
      val m = nbScores(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .groupBy("doc_id")
        .agg(max(when(col("rk") === 1, col("lang"))).as("pred_lang"),
          (max(when(col("rk") === 1, col("score"))) -
            max(when(col("rk") === 2, col("score")))).as("margin_q"))
      val truth = Relational.t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val scored = m.join(truth, "doc_id")
        .select(col("doc_id"), col("margin_q"),
          (col("pred_lang") === col("lang")).cast("long").as("correct"))
      val n = scored.agg(count(lit(1)).as("n_total"))
      Pipeline.globalRowNumbers(s, scored, "rk", col("margin_q"), col("doc_id"))
        .crossJoin(broadcast(n)) // bounded: one row
        .withColumn("bin", expr("((rk - 1) * 10) div n_total").cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          min("margin_q").as("margin_lo"), max("margin_q").as("margin_hi"),
          sum("correct").as("n_correct"))
        .select(col("bin"), col("n_docs"), col("margin_lo"), col("margin_hi"),
          col("n_correct"),
          (col("n_correct").cast("double") / col("n_docs").cast("double")).as("accuracy"))
        .orderBy("bin")
    },

    // Exact one-vs-rest ROC-AUC of the [[AucPosLabel]] score via the
    // Mann-Whitney rank statistic: AUC = (R⁺ − P(P+1)/2) / (P·N) with
    // midranks for ties. DISTRIBUTED ranking: items are range-partitioned by
    // score and numbered with per-partition prefix offsets
    // ([[Pipeline.globalRowNumbers]] — the an_gini machinery), then each tie
    // block's midrank is (min+max)/2 of its row numbers — no
    // single-partition ORDER BY funnel anywhere. Every intermediate is an
    // integer or an exact half (≤ n² ≪ 2⁵³), so the sums are
    // order-independent and the single final division is the only inexact
    // IEEE op — bit-identical across engines.
    "cl_auc" -> { (s, dir) =>
      val truth = Relational.t(s, dir, "documents")
        .select(col("doc_id"), (col("lang") === AucPosLabel).cast("long").as("y"))
      val scored = nbScores(s, dir)
        .filter(col("lang") === AucPosLabel)
        .select(col("doc_id"), col("score"))
        .join(truth, "doc_id")
      Pipeline.globalRowNumbers(s, scored.select(col("score"), col("y")), "rn", col("score"))
        .groupBy("score")
        .agg(min("rn").as("lo"), max("rn").as("hi"),
          sum("y").as("p"), count(lit(1)).as("t"))
        .agg(
          sum(col("p")).as("n_pos"),
          sum(col("t") - col("p")).as("n_neg"),
          sum(col("p") * ((col("lo") + col("hi")) / lit(2.0))).as("r_pos"))
        .select(col("n_pos"), col("n_neg"),
          ((col("r_pos") - col("n_pos") * (col("n_pos") + lit(1L)) / lit(2.0))
            / (col("n_pos") * col("n_neg")).cast("double")).as("auc"))
    },

    // k-NN label vote: each heldout vector takes the majority label of its
    // Knn nearest train-split neighbors by exact cosine (ties: higher vote
    // count, then smaller label). The bounded heldout set makes this the
    // ss_topk_bruteforce scan shape.
    "cl_knn_label" -> { (s, dir) =>
      val e = Relational.t(s, dir, "embeddings")
        .transform(Dedup.spread("vec_id"))
        .select(
          col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"),
          Pipeline.bucket(col("vec_id")).as("b"))
      val test = e.filter(col("b") >= TestBucket).select(col("vec_id"), col("v"))
      val train = e.filter(col("b") < TrainBucket)
        .select(col("vec_id").as("nid"), col("label").as("nlabel"), col("v").as("nv"))
      val wk = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nid").asc)
      val wv = Window.partitionBy("vec_id").orderBy(col("votes").desc, col("nlabel").asc)
      test.join(train, col("vec_id") =!= col("nid"))
        .select(col("vec_id"), col("nid"), col("nlabel"),
          Similarity.cosine(col("v"), col("nv")).as("cos"))
        .withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= Knn)
        .groupBy("vec_id", "nlabel")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("vec_id"), col("nlabel").as("pred_label"), col("votes"))
        .orderBy("vec_id")
    },

    // Bigram-LM perplexity scoring — the CCNet/KenLM-style quality filter a
    // pretraining pipeline runs: train a Laplace-smoothed bigram model on
    // the train split, score every heldout document by its mean negative
    // log-probability per transition (high = unlike the corpus → filter or
    // down-weight). Determinism is the NB contract: every transition's
    // log-probability is quantized to integer millionths BEFORE summation,
    // so per-doc sums are order-independent integers within an engine. The
    // quantization does NOT make ln() itself cross-engine bit-stable (JVM
    // vs DuckDB libm): the gate hash-match relies on no operand's
    // 1e6·ln(p) landing within an ulp of a rounding half-boundary — true
    // on this corpus, and any future divergence fails the gate loudly
    // rather than passing wrong. Scale shape: the
    // model IS a DataFrame (bigram counts = one explode + map-side-combined
    // aggregation over the train split — the raw transition stream is never
    // materialized); scoring joins the heldout transition tf stream against
    // the model and context tables with AQE choosing broadcast vs
    // shuffle-join-on-w1 by actual model size (the cl_nb_predict fallback
    // argument); per-doc sums are one hash aggregation.
    "cl_lm_perplexity" -> { (s, dir) =>
      lmHeldoutScored(s, dir).orderBy("doc_id")
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    // scored corpus into head/middle/tail tertiles PER LANGUAGE by LM
    // perplexity — the published recipe for training-data curation where
    // "head" (most in-distribution) feeds pretraining first and "tail" is
    // dropped or down-weighted. Rank semantics, not value cutoffs: each
    // lang's docs take the total (mean_nll_q ASC, doc_id ASC) order — ties
    // split deterministically — and the tertile boundaries are nearest-rank
    // ceil(n/3)/ceil(2n/3) in exact integer arithmetic (the ev_winsorize
    // rank lesson: never floor(0.33·n) through a float). Scale shape: the
    // per-doc global order comes from range-partition + per-partition
    // offset numbering ([[Pipeline.globalRowNumbers]] — no single-partition
    // ORDER BY funnel), per-lang ranks are recovered by subtracting each
    // lang's first global number (a |langs|-row broadcast), and the bucket
    // label is a narrow integer comparison.
    "cl_ppl_buckets" -> { (s, dir) =>
      val scored = lmHeldoutScored(s, dir)
        .filter(col("n_transitions") > 0)
        .select(col("doc_id"), col("mean_nll_q"))
        .join(Relational.t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      val numbered = Pipeline.globalRowNumbers(
        s, scored, "grn", col("lang"), col("mean_nll_q"), col("doc_id"))
      val base = numbered.groupBy("lang")
        .agg(min(col("grn")).as("g0"), count(lit(1)).as("n"))
      numbered.join(broadcast(base), "lang") // bounded: |langs| rows
        .withColumn("rn", col("grn") - col("g0") + 1)
        .select(col("doc_id"), col("lang"), col("mean_nll_q"),
          when(col("rn") <= expr("(n + 2) div 3"), lit("head"))
            .when(col("rn") <= expr("(2 * n + 2) div 3"), lit("middle"))
            .otherwise(lit("tail")).as("ppl_bucket"))
        .orderBy("doc_id")
    },

    // Per-language bigram-LM GENERATIVE classifier — the second document
    // classifier beside NB, with a genuinely different inductive bias
    // (class-conditional sequence likelihood vs bag-of-words posterior):
    // train one Laplace-smoothed bigram LM per language on the train split
    // and classify each heldout doc by argmax of
    // prior + Σ tf·log P(w2|w1, lang) — langid-by-LM, the production
    // fastText/KenLM-style identifier shape. Determinism is the NB/LM
    // contract (every log quantized to integer millionths before the sum;
    // scores exact integer sums; (score DESC, lang ASC) argmax). Shape:
    // one train bigram aggregation keyed by (lang, w1, w2), model frames
    // vocabulary-sized with the lmScoreDocs no-hint broadcast argument,
    // one heldout bigram aggregation, |langs|× score cells per doc. The
    // doc × lang shell keeps bigram-free docs classifiable by prior alone.
    "cl_lm_classify" -> { (s, dir) =>
      argmaxLabel(lmLangScores(s, dir)).orderBy("doc_id")
    },

    // McNemar's paired comparison of the two classifiers on the SAME
    // heldout docs — the statistically correct "is NB actually better than
    // the LM classifier" test (two accuracies alone ignore pairing): only
    // the discordant cells carry signal, χ² = (b − c)²/(b + c) over
    // b = NB-right/LM-wrong and c = the reverse. All four cells are exact
    // integer counts from one three-way doc_id join; the statistic is the
    // single division (DECIMAL(38,0)/HUGEINT products — the cl_kappa
    // contract), NULL when the classifiers never disagree.
    "cl_mcnemar" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val nb = argmaxLabel(nbScores(s, dir)).select(col("doc_id"), col("pred_lang").as("nb_pred"))
      val lm = argmaxLabel(lmLangScores(s, dir)).select(col("doc_id"), col("pred_lang").as("lm_pred"))
      val truth = Relational.t(s, dir, "documents").select(col("doc_id"), col("lang"))
      nb.join(lm, "doc_id").join(truth, "doc_id")
        .select((col("nb_pred") === col("lang")).as("nb_ok"),
          (col("lm_pred") === col("lang")).as("lm_ok"))
        .agg(
          sum(when(col("nb_ok") && col("lm_ok"), 1L).otherwise(0L)).as("n_both_right"),
          sum(when(col("nb_ok") && !col("lm_ok"), 1L).otherwise(0L)).as("n_nb_only"),
          sum(when(!col("nb_ok") && col("lm_ok"), 1L).otherwise(0L)).as("n_lm_only"),
          sum(when(!col("nb_ok") && !col("lm_ok"), 1L).otherwise(0L)).as("n_both_wrong"))
        .select(col("n_both_right"), col("n_nb_only"), col("n_lm_only"), col("n_both_wrong"),
          when(col("n_nb_only") + col("n_lm_only") > 0,
            ((col("n_nb_only") - col("n_lm_only")).cast(dec)
              * (col("n_nb_only") - col("n_lm_only")).cast(dec)).cast("double")
              / (col("n_nb_only") + col("n_lm_only")).cast("double"))
            .as("mcnemar_chi2"))
    },

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw-pool
    // document by how much more likely its hashed-unigram features are
    // under the TARGET distribution than under the raw pool itself —
    // w(x) = Σ_features tf(f) · [log p̂_target(f) − log p̂_raw(f)], the
    // log importance ratio between two Laplace-smoothed hashed n-gram LMs.
    // Here the deterministic heldout split (bucket ≥ TestBucket) stands in
    // for the target corpus and the train split is the raw crawl pool; the
    // selected-for-pretraining subset is then any downstream resample over
    // w (sp_weighted_sample composes directly). Determinism is the NB/LM
    // contract: each log is quantized to integer millionths BEFORE the
    // per-doc sum, so weights are exact integer sums. Scale shape: BOTH
    // feature LMs are ≤ DsirFeatures rows (hashing is the paper's trick to
    // bound model size independent of vocabulary) and broadcast; the corpus
    // makes one explode → (doc, feat) tf aggregation; totals are one-row
    // broadcast cross-joins. Nothing corpus-sized is ever collected,
    // checkpointed, or shuffled more than once.
    "pl_dsir_weights" -> { (s, dir) => dsirWeights(s, dir).orderBy("doc_id") },

    // DSIR's second half — importance RESAMPLING under a budget: select the
    // raw-pool docs a pretraining run keeps, per language, in (weight DESC,
    // doc_id ASC) order until the language's token budget is exhausted
    // (per-language budgets are how mixtures are actually specified — the
    // pl_mixture_weights contract). The running token total is the
    // pl_token_pack shape: one window per language stream (at scale,
    // lang × hash-bucket substreams), never a global cumulative funnel.
    "pl_dsir_select" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("w_q").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dsirWeights(s, dir)
        .join(Relational.t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= DsirLangBudget)
        .select(col("doc_id"), col("lang"), col("w_q"), col("n_tokens"), col("cum_tokens"))
        .orderBy("lang", "cum_tokens")
    }
  )

  /** Per-document DSIR importance weights (doc_id, n_tokens, w_q) over the
    * raw pool — the shared scoring frame behind pl_dsir_weights and
    * pl_dsir_select. Stored ([[nbScores]] doctrine): importance weights are
    * computed once per (target, pool) pair and then consumed by every
    * downstream selection/resampling policy — re-scoring the pool per
    * policy query doubles the corpus passes for identical output.
    */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.materialize("dsir_weights", dir, s)(dsirWeightsBuild(s, dir))

  private[graft] def dsirWeightsBuild(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5Long
    val d = docs(s, dir)
    def feats(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(col("ts")).as("token"))
      .select(col("doc_id"),
        pmod(md5Long(DsirSeed, col("token")), lit(DsirFeatures.toLong)).as("feat"))
    val targetCounts = feats(d.filter(col("b") >= TestBucket))
      .groupBy("feat").agg(count(lit(1)).as("ct"))
    val rawFeats = feats(d.filter(col("b") < TrainBucket))
    val rawCounts = rawFeats.groupBy("feat").agg(count(lit(1)).as("cr"))
    val totals = targetCounts.agg(sum(col("ct")).as("n_t"))
      .crossJoin(rawCounts.agg(sum(col("cr")).as("n_r")))
    rawFeats.groupBy("doc_id", "feat").agg(count(lit(1)).as("tf"))
      .join(broadcast(targetCounts), Seq("feat"), "left") // bounded: feature-vocabulary frame
      .join(broadcast(rawCounts), Seq("feat")) // bounded: feature-vocabulary frame
      .crossJoin(broadcast(totals)) // bounded: one row
      .select(col("doc_id"), col("tf"),
        (col("tf") *
          (qlog((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("n_t") + lit(DsirFeatures))) -
            qlog((col("cr") + lit(1.0)) / (col("n_r") + lit(DsirFeatures))))).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), sum(col("c")).as("w_q"))
  }

  /** Token budget PER LANGUAGE for [[queries pl_dsir_select]]. */
  val DsirLangBudget = 1000L

  /** DSIR hashed-feature space: tokens hash into this many buckets (bounds
    * both feature LMs at DsirFeatures rows regardless of vocabulary — the
    * paper's scalability device) under seed [[DsirSeed]].
    */
  val DsirFeatures = 4096
  // 31 is DSIR's own draw family: 13 would collide with
  // Pipeline.WSampleSeed — both feed the same md5Long(seed, id) family, so
  // a pipeline composing sp_weighted_sample with pl_dsir_select would get
  // statistically dependent draws (VERDICT r13 §wrong-1). SeedHygieneSpec
  // pins all *Seed constants pairwise distinct.
  val DsirSeed = 31

  /** Per-(heldout doc, lang) quantized generative scores under the
    * per-language bigram LMs — the shared frame behind cl_lm_classify and
    * cl_mcnemar (the LM-side analog of [[nbScores]]). Smoothing is Laplace
    * over the GLOBAL train vocabulary (one v for every language — symmetric
    * smoothing keeps cross-language scores comparable); an unseen context
    * in some language contributes qlog(1/v)-per-occurrence, the standard
    * backstop. The doc × lang shell (heldout ids × broadcast lang stats)
    * keeps bigram-free docs classifiable by prior alone.
    *
    * Stored like [[nbScores]]: the per-(doc, lang) score frame is the model
    * registry's scored-predictions artifact, materialized once per
    * (session, corpus) and read by both consumers — cl_mcnemar previously
    * re-ran BOTH full scoring chains per invocation (r8's worst bench
    * regression, +104 %) for a 4-cell statistic. Pinned like [[nbScores]].
    */
  private def lmLangScores(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.pinned("lm_lang_scores", dir, s)(
      graft.sources.Stored.materialize("lm_lang_scores", dir, s)(lmLangScoresBuild(s, dir))
        .transform(Dedup.spread("doc_id")))

  /** The heldout split scored ONCE by the corpus bigram LM — the shared
    * frame behind cl_lm_perplexity (read + orderBy) and cl_ppl_buckets
    * (read + per-language numbering). Stored like [[nbScores]]: the scored
    * eval split is a model registry's perplexity artifact, materialized per
    * (session, corpus); both consumers previously re-ran the full
    * explode→model-join→aggregate scoring chain over the heldout corpus
    * (the r9 bench's slowest two queries, 3.6 s/3.9 s for what is one
    * scoring pass + two cheap reports). Size is |heldout docs| rows.
    * Pinned like [[nbScores]] — two consumers share one RAM copy.
    */
  private def lmHeldoutScored(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.pinned("lm_heldout_scored", dir, s)(
      graft.sources.Stored.materialize("lm_heldout_scored", dir, s)(
        lmHeldoutScoredBuild(s, dir))
        .transform(Dedup.spread("doc_id")))

  /** The scoring PASS behind [[lmHeldoutScored]] — package-visible so the
    * plan audit can assert the broadcast/partial-agg shape of the pass
    * itself (the consuming queries read the stored frame, where those
    * operators no longer appear — the [[nbScoresBuild]] pattern).
    */
  private[graft] def lmHeldoutScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val (bgCounts, ctxCounts, vocab) = lmModel(s, dir)
    lmScoreDocs(
      docs(s, dir).filter(col("b") >= TestBucket).select(col("doc_id"), col("ts")),
      bgCounts, ctxCounts, vocab)
  }

  private def lmLangScoresBuild(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val train = d.filter(col("b") < TrainBucket)
    val langBg = train.filter(size(col("ts")) >= 2)
      .select(col("lang"), explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("bg"))
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counts = graft.sources.Stored.materialize("lm_lang_counts", dir, s)(
      langBg.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("cnt")))
    val ctx = counts.groupBy("lang", "w1").agg(sum(col("cnt")).as("ctx"))
    val vocab = counts.select(col("w2")).union(counts.select(col("w1")))
      .agg(countDistinct(col("w2")).as("v"))
    val langStats = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .crossJoin(vocab)
      .crossJoin(train.agg(count(lit(1)).as("total_docs")))
      .select(col("lang"),
        qlog(col("n_docs").cast("double") / col("total_docs")).as("prior_q"), col("v"))
    val testBg = bigramsOf(d.filter(col("b") >= TestBucket).select(col("doc_id"), col("ts")))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    // No broadcast hint on the model sides (the lmScoreDocs argument) —
    // AQE broadcasts while they fit, falls back to the (lang, w1) shuffle
    // join when a corpus outgrows it.
    val contrib = testBg
      .crossJoin(broadcast(langStats.select(col("lang"), col("v")))) // bounded: |langs| rows
      .join(counts, Seq("lang", "w1", "w2"), "left")
      .join(ctx, Seq("lang", "w1"), "left")
      .select(col("doc_id"), col("lang"),
        (col("tf") * qlog((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
          (coalesce(col("ctx"), lit(0L)) + col("v")))).as("c"))
      .groupBy("doc_id", "lang").agg(sum(col("c")).as("bg_q"))
    d.filter(col("b") >= TestBucket).select(col("doc_id"))
      .crossJoin(broadcast(langStats.select(col("lang"), col("prior_q")))) // bounded: |langs| rows
      .join(contrib, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (col("prior_q") + coalesce(col("bg_q"), lit(0L))).as("score"))
  }

  /** Consecutive-token bigrams of a (doc_id, ts) frame → (doc_id, w1, w2). */
  private def bigramsOf(docsTs: DataFrame): DataFrame = docsTs
    .filter(size(col("ts")) >= 2)
    .select(col("doc_id"), explode(transform(
      sequence(lit(1), size(col("ts")) - 1),
      i => struct(element_at(col("ts"), i).as("w1"),
        element_at(col("ts"), i + 1).as("w2")))).as("bg"))
    .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Train the bigram LM on the hash-split train bucket:
    * (bigram counts, context counts, 1-row vocabulary size). Plain
    * DataFrames a caller can persist and reuse — the streaming scorer
    * ([[graft.streaming.DocStreams.lmScoreDocStream]]) closes over them as
    * static sides, like the NB model frames.
    */
  private[graft] def lmModel(s: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    // Aggregate BEFORE materializing: the raw bigram stream is O(corpus
    // tokens) rows — checkpointing it (the round-5 shape) writes the whole
    // corpus to the block manager before any reduction, which cannot exist
    // at scale. One map-side-combined count collapses it to the
    // distinct-bigram table (vocabulary-sized); context counts and the
    // vocabulary size then derive from that table alone — sums of cnt per
    // w1 equal raw w1 occurrence counts, and the distinct tokens of the
    // (w1, w2) keys equal the distinct tokens of the raw stream. Only the
    // model-sized frames are checkpointed (they are what batch + every
    // streaming micro-batch re-read).
    // Stored-structure tier (see nbModel): the LM frames are a persisted
    // model artifact, trained once per (session, corpus).
    val bgCounts = graft.sources.Stored.materialize("lm_bg_counts", dir, s)(
      bigramsOf(docs(s, dir).filter(col("b") < TrainBucket).select(col("doc_id"), col("ts")))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt")))
    (bgCounts,
      graft.sources.Stored.materialize("lm_ctx_counts", dir, s)(
        bgCounts.groupBy("w1").agg(sum(col("cnt")).as("ctx"))),
      // The vocabulary SIZE is a one-value model stat: store it once and
      // fold it into scoring plans as a literal — the one-row frame +
      // broadcast join it replaced cost two plan stages per scoring query.
      graft.sources.Stored.scalarLong("lm_vocab_v", dir, s)(
        graft.sources.Stored.materialize("lm_vocab", dir, s)(
          bgCounts.select(col("w2")).union(bgCounts.select(col("w1")))
            .agg(countDistinct(col("w2")).as("v")))
          .head().getLong(0)))
  }

  /** Mean quantized negative log-probability per transition for a
    * (doc_id, ts) frame against trained LM frames — the shared scoring tail
    * (batch gate query and per-micro-batch streaming scorer).
    *
    * EVERY input document gets a row: a doc with fewer than 2 tokens has no
    * transitions to score, so it is emitted with n_transitions = 0 and a
    * NULL mean (explicit CASE — Spark's and DuckDB's x/0 semantics differ,
    * NULL must not depend on them) rather than silently dropped. Dropping
    * it would pass exactly the degenerate crawl junk a quality filter most
    * wants to surface.
    */
  private[graft] def lmScoreDocs(docsTs: DataFrame, bgCounts: DataFrame,
      ctxCounts: DataFrame, vocabV: Long): DataFrame = {
    // Input must be unique per doc_id: the batch gate queries feed bucketed
    // doc splits (unique by construction), and the streaming entry
    // [[lmScoreRaw]] dedupes its micro-batch before calling here — keeping
    // the per-pass exchange out of the batch path. A violated contract
    // corrupts silently (duplicate rows, double-counted transitions) —
    // LearnSpec's "lmScoreDocs uniqueness contract" test pins the failure
    // shape and the guarding entry point.
    val docs = docsTs
    val scored = bigramsOf(docs)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
      // No broadcast hint on the model sides: distinct-bigram counts grow
      // with corpus token diversity, and a hint OVERRIDES the planner's
      // size threshold — past Spark's broadcast limit the job would fail
      // outright instead of taking the shuffle-join-on-w1 fallback the
      // design promises. The checkpointed model frames have accurate
      // runtime sizes, so AQE picks broadcast when they fit (it does at
      // every test SF) and a plain equality shuffle join when they don't.
      // The vocab size is a stored scalar folded in as a literal.
      .join(bgCounts, Seq("w1", "w2"), "left")
      .join(ctxCounts, Seq("w1"), "left")
      .select(col("doc_id"), col("tf"),
        (col("tf") * -qlog((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
          (coalesce(col("ctx"), lit(0L)) + lit(vocabV)))).as("nll_q"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_transitions"), sum(col("nll_q")).as("nll_q_sum"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"),
        coalesce(col("nll_q_sum"), lit(0L)).as("nll_q_sum"))
      .select(col("doc_id"), col("n_transitions"), col("nll_q_sum"),
        when(col("n_transitions") === 0, lit(null).cast("double"))
          .otherwise(col("nll_q_sum").cast("double") / col("n_transitions"))
          .as("mean_nll_q"))
  }

  /** Tokenize raw (doc_id, text, ...) rows to the (doc_id, ts) scoring
    * input — the entry the streaming scorer uses per micro-batch. A
    * re-delivered duplicate row would double-count every transition AND
    * emit the row once per copy, so the micro-batch dedupes HERE (the batch
    * gate queries feed bucketed splits that are unique by construction and
    * skip this exchange).
    */
  private[graft] def lmScoreRaw(raw: DataFrame, bgCounts: DataFrame,
      ctxCounts: DataFrame, vocabV: Long): DataFrame =
    lmScoreDocs(
      raw.select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
        .dropDuplicates("doc_id"),
      bgCounts, ctxCounts, vocabV)

  /** Shared oracle CTE chain ending at `scored` — the DuckDB twin of
    * [[nbScores]]; consumers append `SELECT ...` or further `, x AS (...)`
    * clauses.
    */
  private def nbScoredSql: String =
    s"""WITH d AS (
       |  $docsSql
       |), counts AS (
       |  SELECT lang, token, COUNT(*) AS cnt
       |  FROM (SELECT lang, UNNEST(ts) AS token FROM d WHERE b < $TrainBucket)
       |  GROUP BY lang, token
       |), totals AS (
       |  SELECT lang, SUM(cnt) AS tot FROM counts GROUP BY lang
       |), vocab AS (
       |  SELECT COUNT(DISTINCT token) AS v FROM counts
       |), priors AS (
       |  SELECT lang, COUNT(*) AS n_docs FROM d WHERE b < $TrainBucket GROUP BY lang
       |), td AS (
       |  SELECT COUNT(*) AS total_docs FROM d WHERE b < $TrainBucket
       |), ls AS (
       |  SELECT p.lang, p.n_docs, t.tot, v.v, td.total_docs
       |  FROM priors p JOIN totals t USING (lang) CROSS JOIN vocab v CROSS JOIN td
       |), test_tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(ts) AS token FROM d WHERE b >= $TestBucket)
       |  GROUP BY doc_id, token
       |), scored AS (
       |  SELECT tt.doc_id, ls.lang,
       |    CAST(MIN(CAST(round(1000000.0 * ln(CAST(ls.n_docs AS DOUBLE) / ls.total_docs)) AS BIGINT))
       |      + SUM(tt.tf * CAST(round(1000000.0 * ln((COALESCE(c.cnt, 0) + 1.0) / (ls.tot + ls.v))) AS BIGINT))
       |      AS BIGINT) AS score
       |  FROM test_tf tt CROSS JOIN ls
       |  LEFT JOIN counts c ON c.lang = ls.lang AND c.token = tt.token
       |  GROUP BY tt.doc_id, ls.lang
       |)""".stripMargin

  private def docsSql: String =
    s"""SELECT doc_id, lang, ${Pipeline.bucketSql("doc_id")} AS b,
       |    list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
       |  FROM documents""".stripMargin

  val oracles: Map[String, String] = Map(
    "cl_nb_model" ->
      s"""WITH d AS (
         |  $docsSql
         |)
         |SELECT lang, token, COUNT(*) AS cnt
         |FROM (SELECT lang, UNNEST(ts) AS token FROM d WHERE b < $TrainBucket)
         |GROUP BY lang, token ORDER BY lang, token""".stripMargin,
    "cl_nb_predict" ->
      s"""$nbScoredSql
         |SELECT doc_id, lang AS pred_lang, score FROM scored
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |ORDER BY doc_id""".stripMargin,
    "cl_eval" ->
      s"""$nbScoredSql, pred AS (
         |  SELECT doc_id, lang AS pred_lang FROM scored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |)
         |SELECT d2.lang AS true_lang, p.pred_lang, COUNT(*) AS n
         |FROM pred p JOIN documents d2 USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Kappa twin: same scored-prediction CTE; HUGEINT keeps n² exact, the
    // single division mirrors the engine's integer-ratio form.
    "cl_kappa" ->
      s"""$nbScoredSql, pred AS (
         |  SELECT doc_id, lang AS pred_lang FROM scored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |), cm AS (
         |  SELECT d2.lang AS true_lang, p.pred_lang, COUNT(*) AS n
         |  FROM pred p JOIN documents d2 USING (doc_id)
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(SUM(n) AS HUGEINT) AS n_docs,
         |    CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END) AS HUGEINT) AS n_agree
         |  FROM cm
         |), ch AS (
         |  SELECT CAST(COALESCE(SUM(rn * cn), 0) AS HUGEINT) AS chance_q
         |  FROM (SELECT true_lang AS lang, SUM(n) AS rn FROM cm GROUP BY 1) r
         |  JOIN (SELECT pred_lang AS lang, SUM(n) AS cn FROM cm GROUP BY 1) c USING (lang)
         |)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_agree AS BIGINT) AS n_agree,
         |  CAST(chance_q AS BIGINT) AS chance_q,
         |  CAST(n_docs * n_agree - chance_q AS DOUBLE) /
         |  CAST(n_docs * n_docs - chance_q AS DOUBLE) AS kappa
         |FROM tot CROSS JOIN ch""".stripMargin,
    // LM-classifier twin: the per-language LM chain, prior + bigram sums,
    // the same (score DESC, lang ASC) argmax.
    "cl_lm_classify" ->
      s"""WITH d AS (
         |  $docsSql
         |), $lmLangScoredSql
         |SELECT doc_id, lang AS pred_lang, score FROM lmsc
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |ORDER BY doc_id""".stripMargin,
    // McNemar twin: both classifier chains in one WITH clause (the NB
    // scored CTE + the l-prefixed LM chain), four exact cells, one division
    // through HUGEINT products.
    "cl_mcnemar" ->
      s"""$nbScoredSql, $lmLangScoredSql, nbp AS (
         |  SELECT doc_id, lang AS pred_lang FROM scored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |), lmp AS (
         |  SELECT doc_id, lang AS pred_lang FROM lmsc
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |), cells AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN nb_ok AND lm_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_both_right,
         |    CAST(SUM(CASE WHEN nb_ok AND NOT lm_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_nb_only,
         |    CAST(SUM(CASE WHEN NOT nb_ok AND lm_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lm_only,
         |    CAST(SUM(CASE WHEN NOT nb_ok AND NOT lm_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_both_wrong
         |  FROM (
         |    SELECT n.pred_lang = d2.lang AS nb_ok, l.pred_lang = d2.lang AS lm_ok
         |    FROM nbp n JOIN lmp l USING (doc_id) JOIN documents d2 USING (doc_id)
         |  )
         |)
         |SELECT n_both_right, n_nb_only, n_lm_only, n_both_wrong,
         |  CASE WHEN n_nb_only + n_lm_only > 0 THEN
         |    CAST(CAST(n_nb_only - n_lm_only AS HUGEINT)
         |         * CAST(n_nb_only - n_lm_only AS HUGEINT) AS DOUBLE)
         |    / CAST(n_nb_only + n_lm_only AS DOUBLE)
         |  END AS mcnemar_chi2
         |FROM cells""".stripMargin,
    // Shares the scored-prediction CTE with cl_eval; HUGEINT sums cast to
    // BIGINT, each metric a single division on integer operands.
    "cl_prf1" ->
      s"""$nbScoredSql, pred AS (
         |  SELECT doc_id, lang AS pred_lang FROM scored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
         |), cm AS (
         |  SELECT d2.lang AS true_lang, p.pred_lang, COUNT(*) AS n
         |  FROM pred p JOIN documents d2 USING (doc_id)
         |  GROUP BY 1, 2
         |), cls AS (
         |  SELECT true_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN pred_lang = true_lang THEN n ELSE 0 END) AS BIGINT) AS tp
         |  FROM cm GROUP BY 1
         |), pcls AS (
         |  SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1
         |)
         |SELECT cls.lang, n_true AS support, tp,
         |  COALESCE(n_pred, 0) - tp AS fp,
         |  n_true - tp AS fn,
         |  CASE WHEN COALESCE(n_pred, 0) > 0
         |       THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS prec,
         |  CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) AS rec,
         |  CAST(tp * 2 AS DOUBLE)
         |    / CAST(tp * 2 + COALESCE(n_pred, 0) - tp + n_true - tp AS DOUBLE) AS f1
         |FROM cls LEFT JOIN pcls ON cls.lang = pcls.lang
         |ORDER BY cls.lang""".stripMargin,
    // Shares the scored CTE; margin = integer difference of quantized
    // scores, bins by the exact rank formula, HUGEINTs cast at the edge.
    "cl_calibration" ->
      s"""$nbScoredSql, r AS (
         |  SELECT doc_id, lang, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rk
         |  FROM scored
         |), m AS (
         |  SELECT doc_id,
         |    MAX(CASE WHEN rk = 1 THEN lang END) AS pred_lang,
         |    CAST(MAX(CASE WHEN rk = 1 THEN score END)
         |         - MAX(CASE WHEN rk = 2 THEN score END) AS BIGINT) AS margin_q
         |  FROM r WHERE rk <= 2 GROUP BY doc_id
         |), j AS (
         |  SELECT m.doc_id, margin_q,
         |    CASE WHEN pred_lang = d2.lang THEN 1 ELSE 0 END AS correct
         |  FROM m JOIN documents d2 ON m.doc_id = d2.doc_id
         |), nn AS (SELECT COUNT(*) AS n FROM j),
         |b AS (
         |  SELECT margin_q, correct,
         |    ROW_NUMBER() OVER (ORDER BY margin_q ASC, doc_id ASC) AS rk
         |  FROM j
         |)
         |SELECT CAST((rk - 1) * 10 // n AS INT) AS bin,
         |  COUNT(*) AS n_docs,
         |  CAST(MIN(margin_q) AS BIGINT) AS margin_lo,
         |  CAST(MAX(margin_q) AS BIGINT) AS margin_hi,
         |  CAST(SUM(correct) AS BIGINT) AS n_correct,
         |  CAST(SUM(correct) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM b, nn GROUP BY 1 ORDER BY 1""".stripMargin,
    "cl_auc" ->
      s"""$nbScoredSql, pos AS (
         |  SELECT s.score, CASE WHEN d2.lang = '$AucPosLabel' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d2 USING (doc_id) WHERE s.lang = '$AucPosLabel'
         |), rn AS (
         |  SELECT score, y, ROW_NUMBER() OVER (ORDER BY score) AS rn FROM pos
         |), g AS (
         |  SELECT score, MIN(rn) AS lo, MAX(rn) AS hi, SUM(y) AS p, COUNT(*) AS t
         |  FROM rn GROUP BY score
         |), agg AS (
         |  SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(t - p) AS BIGINT) AS n_neg,
         |    SUM(p * ((lo + hi) / 2.0)) AS r_pos
         |  FROM g
         |)
         |SELECT n_pos, n_neg,
         |  (r_pos - n_pos * (n_pos + 1) / 2.0) / CAST(n_pos * n_neg AS DOUBLE) AS auc
         |FROM agg""".stripMargin,
    "cl_knn_label" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    ${Pipeline.bucketSql("vec_id")} AS b
         |  FROM embeddings
         |), test AS (
         |  SELECT vec_id, v FROM e WHERE b >= $TestBucket
         |), train AS (
         |  SELECT vec_id AS nid, label AS nlabel, v AS nv FROM e WHERE b < $TrainBucket
         |), scored AS (
         |  SELECT t.vec_id, tr.nid, tr.nlabel,
         |    list_reduce([t.v[i] * tr.nv[i] FOR i IN range(1, len(t.v)+1)], (p, s) -> p + s)
         |      / (sqrt(list_reduce([t.v[i] * t.v[i] FOR i IN range(1, len(t.v)+1)], (p, s) -> p + s))
         |         * sqrt(list_reduce([tr.nv[i] * tr.nv[i] FOR i IN range(1, len(tr.nv)+1)], (p, s) -> p + s))) AS cos
         |  FROM test t JOIN train tr ON t.vec_id <> tr.nid
         |), knn AS (
         |  SELECT vec_id, nlabel,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC) AS rk
         |  FROM scored QUALIFY rk <= $Knn
         |), votes AS (
         |  SELECT vec_id, nlabel, COUNT(*) AS votes FROM knn GROUP BY vec_id, nlabel
         |)
         |SELECT vec_id, nlabel AS pred_label, votes FROM votes
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY votes DESC, nlabel ASC) = 1
         |ORDER BY vec_id""".stripMargin,
    // Same quantize-then-sum integer contract as the NB oracles; vocabulary
    // counts distinct tokens over BOTH bigram slots (w1 ∪ w2).
    "cl_lm_perplexity" ->
      s"""$lmScoredSqlPrefix
         |SELECT doc_id,
         |  COALESCE(n_transitions, 0) AS n_transitions,
         |  COALESCE(nll_q_sum, 0) AS nll_q_sum,
         |  CASE WHEN COALESCE(n_transitions, 0) = 0 THEN NULL
         |       ELSE CAST(nll_q_sum AS DOUBLE) / n_transitions END AS mean_nll_q
         |FROM (SELECT doc_id FROM d WHERE b >= $TestBucket) t
         |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // CCNet-style perplexity bucketing twin: the SAME scored/agg prefix as
    // cl_lm_perplexity, then per-lang nearest-rank tertiles over the total
    // (mean_nll_q, doc_id) order — rank semantics, not value cutoffs, so
    // tied scores split deterministically in both engines.
    "cl_ppl_buckets" ->
      s"""$lmScoredSqlPrefix, rnk AS (
         |  SELECT a.doc_id, d2.lang, a.mean_nll_q,
         |    ROW_NUMBER() OVER (PARTITION BY d2.lang ORDER BY a.mean_nll_q, a.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY d2.lang) AS n
         |  FROM (SELECT doc_id, CAST(nll_q_sum AS DOUBLE) / n_transitions AS mean_nll_q
         |        FROM agg WHERE n_transitions > 0) a
         |  JOIN documents d2 USING (doc_id)
         |)
         |SELECT doc_id, lang, mean_nll_q,
         |  CASE WHEN rn <= (n + 2) // 3 THEN 'head'
         |       WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM rnk ORDER BY doc_id""".stripMargin,
    // DSIR twin: identical hashed-feature space (md5-bucketed unigrams),
    // identical Laplace smoothing and quantize-before-sum log ratio.
    // SUM() casts to BIGINT — DuckDB's HUGEINT would skew the driver's
    // canonicalized type (the round-5 lesson).
    "pl_dsir_weights" ->
      s"""$dsirWeightsSqlPrefix
         |SELECT doc_id, n_tokens, w_q FROM w ORDER BY doc_id""".stripMargin,
    // Selection twin: same weights prefix, per-lang running token total in
    // (w_q DESC, doc_id ASC) order, budget cut. Window SUM cast to BIGINT.
    "pl_dsir_select" ->
      s"""$dsirWeightsSqlPrefix, sel AS (
         |  SELECT w.doc_id, d2.lang, w.w_q, w.n_tokens,
         |    CAST(SUM(w.n_tokens) OVER (
         |      PARTITION BY d2.lang ORDER BY w.w_q DESC, w.doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM w JOIN documents d2 USING (doc_id)
         |)
         |SELECT doc_id, lang, w_q, n_tokens, cum_tokens FROM sel
         |WHERE cum_tokens <= $DsirLangBudget
         |ORDER BY lang, cum_tokens""".stripMargin
  )

  /** Shared DSIR weight CTE prefix ending in
    * `w(doc_id, n_tokens, w_q)` — one weight definition for the
    * pl_dsir_weights and pl_dsir_select oracles, mirroring the engine's
    * shared [[dsirWeights]].
    */
  private def dsirWeightsSqlPrefix: String =
    s"""WITH d AS (
       |  $docsSql
       |), ft AS (
       |  SELECT doc_id, b,
       |    CAST('0x' || substr(md5('$DsirSeed:' || token), 1, 15) AS BIGINT) % $DsirFeatures AS feat
       |  FROM (SELECT doc_id, b, UNNEST(ts) AS token FROM d)
       |), tc AS (
       |  SELECT feat, COUNT(*) AS ct FROM ft WHERE b >= $TestBucket GROUP BY feat
       |), rc AS (
       |  SELECT feat, COUNT(*) AS cr FROM ft WHERE b < $TrainBucket GROUP BY feat
       |), tot AS (
       |  SELECT (SELECT COUNT(*) FROM ft WHERE b >= $TestBucket) AS n_t,
       |         (SELECT COUNT(*) FROM ft WHERE b < $TrainBucket) AS n_r
       |), tf AS (
       |  SELECT doc_id, feat, COUNT(*) AS tf FROM ft WHERE b < $TrainBucket
       |  GROUP BY doc_id, feat
       |), w AS (
       |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       |    CAST(SUM(tf.tf *
       |      (CAST(round(1000000.0 * ln((COALESCE(tc.ct, 0) + 1.0) / (tot.n_t + $DsirFeatures))) AS BIGINT)
       |       - CAST(round(1000000.0 * ln((rc.cr + 1.0) / (tot.n_r + $DsirFeatures))) AS BIGINT))) AS BIGINT) AS w_q
       |  FROM tf LEFT JOIN tc USING (feat) JOIN rc USING (feat) CROSS JOIN tot
       |  GROUP BY tf.doc_id
       |)""".stripMargin

  /** Per-language LM scoring CTE chain (appended after a `d` docs CTE)
    * ending in `lmsc(doc_id, lang, score)` — the DuckDB twin of
    * [[lmLangScores]], shared by the cl_lm_classify and cl_mcnemar oracles.
    * CTE names are `l`-prefixed so the chain composes with [[nbScoredSql]]
    * in one WITH clause.
    */
  private def lmLangScoredSql: String =
    s"""lbg AS (
       |  SELECT doc_id, lang, b, ts[i] AS w1, ts[i+1] AS w2
       |  FROM d, UNNEST(range(1, len(ts))) AS u(i)
       |  WHERE len(ts) >= 2
       |), lbgc AS (
       |  SELECT lang, w1, w2, COUNT(*) AS cnt FROM lbg WHERE b < $TrainBucket
       |  GROUP BY lang, w1, w2
       |), lctx AS (
       |  SELECT lang, w1, SUM(cnt) AS ctx FROM lbgc GROUP BY lang, w1
       |), lvoc AS (
       |  SELECT COUNT(DISTINCT w) AS v FROM (
       |    SELECT w2 AS w FROM lbgc UNION ALL SELECT w1 FROM lbgc)
       |), lls AS (
       |  SELECT p.lang,
       |    CAST(round(1000000.0 * ln(CAST(p.n_docs AS DOUBLE) / t.total_docs)) AS BIGINT)
       |      AS prior_q,
       |    v.v
       |  FROM (SELECT lang, COUNT(*) AS n_docs FROM d WHERE b < $TrainBucket GROUP BY lang) p
       |  CROSS JOIN (SELECT COUNT(*) AS total_docs FROM d WHERE b < $TrainBucket) t
       |  CROSS JOIN lvoc v
       |), ltf AS (
       |  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM lbg WHERE b >= $TestBucket
       |  GROUP BY doc_id, w1, w2
       |), lcon AS (
       |  SELECT ltf.doc_id, lls.lang,
       |    CAST(SUM(ltf.tf * CAST(round(1000000.0 * ln(
       |      (COALESCE(c.cnt, 0) + 1.0) / (COALESCE(x.ctx, 0) + lls.v))) AS BIGINT)) AS BIGINT)
       |      AS bg_q
       |  FROM ltf CROSS JOIN lls
       |  LEFT JOIN lbgc c ON c.lang = lls.lang AND c.w1 = ltf.w1 AND c.w2 = ltf.w2
       |  LEFT JOIN lctx x ON x.lang = lls.lang AND x.w1 = ltf.w1
       |  GROUP BY ltf.doc_id, lls.lang
       |), lmsc AS (
       |  SELECT sh.doc_id, lls.lang, lls.prior_q + COALESCE(lcon.bg_q, 0) AS score
       |  FROM (SELECT doc_id FROM d WHERE b >= $TestBucket) sh
       |  CROSS JOIN lls
       |  LEFT JOIN lcon ON lcon.doc_id = sh.doc_id AND lcon.lang = lls.lang
       |)""".stripMargin

  /** Shared bigram-LM scoring prefix (train counts → heldout per-doc
    * quantized NLL sums in `agg`) for the cl_lm_perplexity and
    * cl_ppl_buckets oracles — one LM definition, two consumers, mirroring
    * the engine's shared [[lmModel]]/[[lmScoreDocs]].
    */
  private def lmScoredSqlPrefix: String =
    s"""WITH d AS (
       |  $docsSql
       |), bg AS (
       |  SELECT doc_id, b, ts[i] AS w1, ts[i+1] AS w2
       |  FROM d, UNNEST(range(1, len(ts))) AS u(i)
       |  WHERE len(ts) >= 2
       |), bgc AS (
       |  SELECT w1, w2, COUNT(*) AS cnt FROM bg WHERE b < $TrainBucket GROUP BY w1, w2
       |), ctx AS (
       |  SELECT w1, COUNT(*) AS ctx FROM bg WHERE b < $TrainBucket GROUP BY w1
       |), voc AS (
       |  SELECT COUNT(DISTINCT w) AS v FROM (
       |    SELECT w2 AS w FROM bg WHERE b < $TrainBucket
       |    UNION ALL SELECT w1 FROM bg WHERE b < $TrainBucket)
       |), tf AS (
       |  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg
       |  WHERE b >= $TestBucket GROUP BY doc_id, w1, w2
       |), scored AS (
       |  SELECT doc_id, tf,
       |    tf * -CAST(round(1000000.0 * ln(
       |      (COALESCE(cnt, 0) + 1.0) / (COALESCE(ctx, 0) + v))) AS BIGINT) AS nll_q
       |  FROM tf
       |  LEFT JOIN bgc USING (w1, w2)
       |  LEFT JOIN ctx USING (w1)
       |  CROSS JOIN voc
       |), agg AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_transitions,
       |    CAST(SUM(nll_q) AS BIGINT) AS nll_q_sum
       |  FROM scored GROUP BY doc_id
       |)""".stripMargin
}
