package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the LLM-data-pipeline
  * extension surface (SURVEY.md §2.2 north star): token statistics, quality
  * scoring, language ID, and document fingerprinting.
  *
  * Everything is built from codegen'd `functions._` compositions (no UDFs) with
  * exact DuckDB oracle equivalents. Ratios are integer-count divisions (exact
  * operands → deterministic double results); no float aggregation is involved,
  * so no decimal casting is needed here.
  *
  * Scale: all operators are embarrassingly parallel per-document projections —
  * no shuffle at all except the final aggregations, which are algebraic. At
  * 100 TB these run at scan speed.
  */
object TextAnalysis {
  import TextOps._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Readability scoring (Flesch-shaped): reading ease from words-per-
    // sentence and syllables-per-word, with the syllable count proxied by
    // VOWEL RUNS — a single regexp_count pass, the established marker
    // idiom. All three counts are exact integers (hash-pinned alongside
    // the score); the score itself is one fixed IEEE tree over int→double
    // casts with the classic 206.835/1.015/84.6 constants, token-identical
    // in the oracle. Sentence/syllable floors via greatest(1, ·) keep the
    // divisions total. Narrow projection — no shuffle beyond the output
    // sort; the corpus-quality feature a length-normalized filter chain
    // consumes next to ta_quality.
    "ta_readability" -> { (s, dir) =>
      val words = size(TextOps.tokens(col("text")))
      val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
      val syllables = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      Relational.t(s, dir, "documents")
        .filter(size(TextOps.tokens(col("text"))) >= 1)
        .select(col("doc_id"),
          words.cast("int").as("n_words"),
          sentences.cast("int").as("n_sentences"),
          syllables.cast("int").as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
          (lit(206.835)
            - lit(1.015) * (d(col("n_words")) / d(col("n_sentences")))
            - lit(84.6) * (d(col("n_syllables")) / d(col("n_words")))).as("flesch"))
        .orderBy("doc_id")
    },

    // Token statistics: counts, type-token ratio, mean token length, plus a
    // BPE-ish regex token count (letters runs | digit runs | other symbol).
    // The token array is materialized ONCE behind a repartition barrier:
    // four downstream expressions consume it, and without the barrier
    // projection collapse re-runs split+array_remove per consumer (the
    // minhashSigs trap, Dedup.scala) — measured 3× the query cost. The
    // exchange also parallelizes the single-file scan.
    "ta_token_stats" -> { (s, dir) =>
      val toks = col("toks")
      Relational.t(s, dir, "documents")
        // The BPE-ish count is finished BEFORE the exchange (one int rides
        // the shuffle, not the lowered document text), and the token array
        // is materialized once behind it for the four consumers above.
        .select(
          col("doc_id"),
          regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_bpe_tokens"),
          tokens(col("text")).as("toks"))
        .transform(Dedup.spread("doc_id"))
        .select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_types"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("type_token_ratio"),
          // Σ token lengths ≡ length of the separator-free concatenation —
          // pure codegen'd string arithmetic; the aggregate(transform(...))
          // formulation ran an interpreted lambda per token.
          (length(concat_ws("", toks)).cast("double") / size(toks)).as("avg_token_len"),
          col("n_bpe_tokens")
        )
        .filter(col("n_tokens") >= 3)
        .orderBy("doc_id")
    },

    // Quality scoring: structural ratios + a clipped linear quality score.
    // (No exp/log — libm results are not bit-stable across engines.)
    "ta_quality" -> { (s, dir) =>
      val toks = tokens(col("text"))
      val nChars = length(col("text")).cast("double")
      val nPunct = (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:'\"]", ""))).cast("double")
      val nStop = markerCount(col("text"), Stopwords).cast("double")
      val nToks = size(toks).cast("double")
      Relational.t(s, dir, "documents")
        // Empty/whitespace-only text is excluded in BOTH engines: tokens()
        // yields [] there (matching the oracle), which would make the
        // stopword ratio 0/0 = NULL — the explicit shared gate keeps
        // degenerate rows out rather than emitting NULL-ratio rows.
        .filter(length(trim(col("text"))) > 0)
        .select(
          col("doc_id"),
          nChars.cast("long").as("n_chars"),
          nPunct.cast("long").as("n_punct"),
          (nPunct / nChars).as("punct_ratio"),
          (nStop / nToks).as("stopword_ratio"),
          qualityScore(col("text")).as("quality_score")
        )
        .filter(col("doc_id") < 1000)
        .orderBy("doc_id")
    },

    // Language ID: marker-word votes per language, deterministic arg-max with a
    // fixed preference order on ties, then confusion counts vs the labeled lang.
    "ta_langid" -> { (s, dir) =>
      val en = markerCount(col("text"), LangMarkers("en"))
      val de = markerCount(col("text"), LangMarkers("de"))
      val es = markerCount(col("text"), LangMarkers("es"))
      val fr = markerCount(col("text"), LangMarkers("fr"))
      val mx = greatest(en, de, es, fr)
      val predicted = when(mx === 0, lit("unk"))
        .when(en === mx, lit("en"))
        .when(de === mx, lit("de"))
        .when(es === mx, lit("es"))
        .otherwise(lit("fr"))
      Relational.t(s, dir, "documents")
        .select(col("lang").as("labeled_lang"), predicted.as("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("labeled_lang", "predicted_lang")
    },

    // Document fingerprinting: cross-engine content hash of normalized text
    // (md5 hex + 60-bit integer form used by the dedup tier).
    "ta_fingerprint" -> { (s, dir) =>
      Relational.t(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(normText(col("text"))).as("fp_md5"),
          HashFunctions.md5Long(normText(col("text"))).as("fp64")
        )
        .orderBy("doc_id")
    },

    // Term salience (BM25-style TF-IDF without the log — libm log is not
    // bit-stable across engines; the rational idf (N-df+0.5)/(df+0.5)
    // preserves ranking): top-3 most salient terms per document.
    // All inputs are integer counts, so the arithmetic is deterministic.
    "ta_salience" -> { (s, dir) =>
      val toks = Relational.t(s, dir, "documents")
        .transform(Dedup.spread("doc_id"))
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), " +")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = tf.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("salience").desc, col("term").asc)
      // df is vocabulary-sized (small, skewed on stopword terms): broadcast
      // it so tf is NOT reshuffled on the skewed term key — one Exchange less.
      tf.join(broadcast(df), "term") // bounded: vocabulary-sized df frame
        .join(broadcast(n)) // bounded: one row
        .select(
          col("doc_id"),
          col("term"),
          (col("tf") * ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))).as("salience")
        )
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "term", "salience")
        .orderBy("doc_id", "rk")
    },

    // Corpus n-gram frequency table: top-20 bigrams by document frequency
    // (distinct per doc via ShingleSet, so a doc repeating a phrase votes
    // once). Top-k = TakeOrderedAndProject: each partition keeps 20 rows,
    // the driver merges — no global sort at any scale. Deterministic via the
    // (df DESC, bigram ASC) total order.
    "ta_ngram_freq" -> { (s, dir) =>
      Relational.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(size(split(trim(col("text")), " +")) >= 2)
        .transform(Dedup.spread("doc_id"))
        .select(explode(graft.functions.ShingleSet(col("text"), 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram").asc)
        .limit(20)
    },

    // Blocklist-term redaction — the scrub pass a training-data pipeline
    // runs for canary strings, eval-set contamination markers, or PII
    // patterns before a corpus ships. One narrow codegen'd projection
    // (count + global word-boundary replace), no shuffle except the output
    // sort; the md5 of the redacted text makes the full rewrite
    // hash-checkable without shipping 500 redacted documents through the
    // gate. Patterns stay in the Java-regex ∩ RE2 dialect intersection
    // (`\b` word boundaries, alternation) so both engines see identical
    // semantics.
    "ta_redact" -> { (s, dir) =>
      val pat = "\\b(key|hash|join)\\b"
      Relational.t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("int").as("n_hits"),
          md5(regexp_replace(col("text"), pat, "<REDACTED>")).as("red_md5"))
        .orderBy("doc_id")
    },

    // Sketch-based heavy hitters: `approx_top_k` (DataSketches frequent
    // items) keeps a BOUNDED state per partition and merges map-side — at
    // 100 TB that is the difference between a full-vocabulary hash
    // aggregation (state = |vocab| per task) and a fixed-size sketch. On
    // this corpus the tracked-item budget exceeds the vocabulary, so the
    // sketch is exact and the query is oracle-checkable. Tie-immunity: the
    // sketch returns a top-20 SUPERSET (its choice among count-ties at the
    // 20 boundary is unspecified), and the deterministic re-sort + LIMIT 8
    // then lands on the unique true top-8 (strict count gap at rank 8).
    "ta_heavy_hitters" -> { (s, dir) =>
      Relational.t(s, dir, "documents")
        .select(explode(split(col("text"), "[ ,.\"']+")).as("word"))
        .filter(col("word") =!= "")
        .agg(expr("approx_top_k(word, 20, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("word"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(8)
    },

    // Misra–Gries heavy hitters with the error bound ON the gate — the
    // engine-built mergeable-summary sibling of ta_heavy_hitters'
    // approx_top_k: each task reduces its token stream to ≤ K counters
    // ([[graft.functions.MisraGries]]), only K-counter summaries cross the
    // exchange, and the PODS'12 merge keeps the deterministic guarantee
    // est ≤ true ≤ est + N/(K+1) under ANY merge tree. Estimates are
    // merge-order-dependent, so the sketch-contract shape applies: the
    // engine computes sketch AND exact counts in one plan and emits, per
    // exact top-8 token, (word, exact_n, within_bound) with the bound
    // check in scaled integers ((exact−est)·(K+1) ≤ N — no division); the
    // oracle computes the exact top-8 with literal TRUE, so a hash match
    // proves the sketch honored its bound on every heavy hitter.
    "ta_mg_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val words = Relational.t(s, dir, "documents")
        .transform(Dedup.spread("doc_id"))
        .select(explode(split(col("text"), "[ ,.\"']+")).as("word"))
        .filter(col("word") =!= "")
      // Typed select (the TypedColumn carries the Aggregator's input
      // encoder; the untyped API rejects it), then back to named columns.
      val mg = words.as[String]
        .select(graft.functions.MisraGries.agg.toColumn)
        .toDF("sketch")
        .select(explode(col("sketch")).as(Seq("word", "est")))
      val exact = Dedup.materialized(
        words.groupBy("word").agg(count(lit(1)).as("exact_n")))
      val total = exact.agg(sum(col("exact_n")).as("n_total"))
      exact.orderBy(col("exact_n").desc, col("word").asc).limit(8)
        .join(mg, Seq("word"), "left")
        .crossJoin(broadcast(total)) // bounded: one row
        .select(col("word"), col("exact_n"),
          (coalesce(col("est"), lit(0L)) <= col("exact_n") &&
            (col("exact_n") - coalesce(col("est"), lit(0L))) *
              (graft.functions.MisraGries.K + 1) <= col("n_total")).as("within_bound"))
        .orderBy(col("exact_n").desc, col("word").asc)
    },

    // Winnowing fingerprints (MOSS local fingerprinting): 4-gram md5 hashes,
    // minimum per sliding window of 8 — position-local signatures at
    // ~2/(w+1) the cost of the full gram set, with the guarantee that any
    // two docs sharing a run of ≥ w+k-1 = 11 tokens share a fingerprint.
    // A narrow per-document projection (one JVM call per row) + explode; the
    // only shuffle is the output sort.
    "ta_winnow" -> { (s, dir) =>
      Relational.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(size(split(trim(col("text")), " +")) >= WinnowK)
        .transform(Dedup.spread("doc_id"))
        .select(col("doc_id"), explode(graft.functions.Winnow(col("text"), WinnowK, WinnowW)).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // Engine-internal fast fingerprint via the native Fnv64 Catalyst expression
    // (whole-stage codegen). FULLY oracle-gated (round 7): FNV-1a is pure
    // 64-bit modular arithmetic, so the DuckDB twin replays the per-byte
    // recurrence h = (h ⊕ b)·0x100000001b3 mod 2⁶⁴ through HUGEINT over the
    // UTF-8 byte sequence (hex(encode(...)) pairs) — the hash match proves
    // the codegen'd expression implements its spec bit-for-bit; golden
    // vectors remain in ScalaTest as the fast spec tier.
    "ta_fingerprint_fnv" -> { (s, dir) =>
      Relational.t(s, dir, "documents")
        .select(col("doc_id"), HashFunctions.fnv64(normText(col("text"))).as("fp_fnv64"))
        .orderBy("doc_id")
    },

    // Heaps'-law vocabulary growth curve — corpus health over INGEST ORDER:
    // V(n) (distinct tokens to date) vs N(n) (token volume to date) at
    // HeapsK checkpoints. Natural text grows V ∝ N^β (β ≈ 0.5–0.8); a
    // flattening curve says new data stopped contributing vocabulary
    // (crawl loops, template floods) — the marginal-value signal a data-
    // acquisition loop reads next to the dedup rate. The interesting part
    // is making "cumulative distinct" parallel: a token's contribution to
    // EVERY checkpoint is determined by its FIRST-occurrence rank alone
    // (min over one aggregation), so V(n_k) = #{tokens: first ≤ n_k} and
    // N(n_k) = Σ_{r ≤ n_k} tok_count(r) are plain counting joins against a
    // broadcast HeapsK-row checkpoint frame — no running state, no rescan
    // per checkpoint, O(corpus + |vocab|·K) at any scale. Ranks come from
    // the range-partition numbering (never a global window); checkpoint
    // boundaries are the exact integer formula (k·D) div K.
    "ta_heaps" -> { (s, dir) =>
      val base = Dedup.materialized(
        Relational.t(s, dir, "documents")
          .transform(Dedup.spread("doc_id"))
          .select(col("doc_id"), tokens(col("text")).as("ts")))
      val ranked = Dedup.materialized(
        Pipeline.globalRowNumbers(s,
          base.select(col("doc_id"), size(col("ts")).as("n_toks")), "r", col("doc_id")))
      val tokFirst = base.select(col("doc_id"), explode(array_distinct(col("ts"))).as("tok"))
        .join(ranked.select("doc_id", "r"), "doc_id")
        .groupBy("tok").agg(min("r").as("fr"))
      // Corpus-constant doc count folded in as a literal via the stored-
      // scalar tier (r19, the ss_pagerank/lm_vocab_v device): the old
      // one-row count aggregate rode inside the checkpoint frame (broadcast
      // into BOTH counting legs and the final join — three plannings of the
      // same count lineage); as a literal, ck is a Range-derived local
      // frame with no corpus dependence, and the checkpoint boundary
      // formula (k·D) DIV K runs the identical integer arithmetic with d
      // inlined (oracle-gated).
      val d = graft.sources.Stored.scalarLong("ta_heaps_ndocs", dir, s)(ranked.count())
      val ck = s.range(1, HeapsK + 1)
        .select(col("id").cast("int").as("k"))
        .select(col("k"), expr(s"(k * ${d}L) DIV $HeapsK").as("n_k"))
      val v = tokFirst.crossJoin(broadcast(ck)).filter(col("fr") <= col("n_k")) // bounded: HeapsK rows
        .groupBy("k").agg(count(lit(1)).as("vocab"))
      val n = ranked.crossJoin(broadcast(ck)).filter(col("r") <= col("n_k")) // bounded: HeapsK rows
        .groupBy("k").agg(sum("n_toks").as("n_tokens"))
      ck.join(n, "k").join(v, "k")
        .select(col("k").cast("int").as("ckpt"), col("n_k").as("n_docs"),
          col("n_tokens"), col("vocab"))
        .orderBy("ckpt")
    },

    // CROSS-document 3-gram novelty per document — the memorization-risk /
    // boilerplate signal dual to ta_repetition's within-doc counts: the
    // share of a doc's distinct shingles that occur in NO other document.
    // Low novelty = the doc is assembled from corpus-common phrasing
    // (template/boilerplate — a dedup-pressure indicator at the sub-Jaccard
    // tier); high novelty = unique content (and, for eval-adjacent corpora,
    // the complement of contamination exposure). Shape: the one shingle
    // exchange every dedup-tier operator pays (document-frequency as a
    // count aggregate over the exploded distinct-shingle stream), joined
    // back per (doc, shingle) and reduced to two integers per doc; the
    // ratio is the single IEEE division. Reuses [[Dedup.shingled]], so the
    // shingle construction is the hash-proven dd_* twin.
    "ta_novelty" -> { (s, dir) =>
      val sh = Dedup.shingleStore(s, dir)
      val inv = sh.select(col("doc_id"), explode(col("shingles")).as("sng"))
      val df = inv.groupBy("sng").agg(count(lit(1)).as("df"))
      inv.join(df, "sng")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double")).as("novelty"))
        .orderBy("doc_id")
    },

    // Within-document repetition signals (Gopher-style quality filter):
    // duplicate-3-gram fraction and the dominant gram's count, per document.
    // One narrow pass via the RepetitionStats expression — the naive
    // explode → groupBy(doc, gram) → groupBy(doc) form shuffles O(docs ×
    // grams) rows twice; this shuffles nothing but the output sort. The
    // spread barrier materializes the stats struct once so the four field
    // consumers below don't re-run the per-document counting pass
    // (projection collapse would inline the expression per field — the
    // ta_token_stats / minhashSigs trap). The ≥3-token gate is the CHEAP
    // tokenize-only expression, evaluated before the struct is built — a
    // filter on rep.total_grams would be predicate-pushed below the
    // barrier's projection and re-run the whole counting pass per row.
    "ta_repetition" -> { (s, dir) =>
      Relational.t(s, dir, "documents")
        .filter(size(tokens(col("text"))) >= 3)
        .select(col("doc_id"), graft.functions.RepetitionStats(col("text"), 3).as("rep"))
        .transform(Dedup.spread("doc_id"))
        .select(
          col("doc_id"),
          col("rep.total_grams").as("total_grams"),
          col("rep.distinct_grams").as("distinct_grams"),
          col("rep.top_count").as("top_count"),
          ((col("rep.total_grams") - col("rep.distinct_grams")).cast("double") /
            col("rep.total_grams")).as("dup_frac"))
        .orderBy("doc_id")
    },

    // Token-distribution Shannon entropy per document — the gibberish /
    // degenerate-repetition signal beside the structural ratios: near-zero
    // entropy = one token repeated, ln(n_tokens) = all tokens distinct.
    // The identity Σ cnt·ln(cnt/n) = Σ cnt·ln(cnt) − n·ln(n) removes any
    // per-token n lookup (no window, no join): per doc the entropy is two
    // integer aggregates. Each ln is quantized to integer millionths of an
    // INTEGER operand before the sum (the cl_lm_perplexity quantization
    // contract and the same cross-engine ln caveat documented there);
    // nats = entropy_q / 1e6 / n is one fixed IEEE tree. Shape: explode →
    // (doc, token) count → per-doc sums, both map-side-combined.
    "ta_entropy" -> { (s, dir) =>
      val qln = TextOps.qlog _
      Relational.t(s, dir, "documents")
        .transform(Dedup.spread("doc_id"))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(
          sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("cnt") * qln(col("cnt"))).as("s1"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("n_tokens") * qln(col("n_tokens")) - col("s1")).as("entropy_q"),
          (((col("n_tokens") * qln(col("n_tokens")) - col("s1")).cast("double")
            / lit(1000000.0)) / col("n_tokens").cast("double")).as("entropy_nats"))
        .orderBy("doc_id")
    },

    // Per-source unigram KL divergence vs the corpus distribution — the
    // domain-shift audit the mixture/weighting tier (pl_mixture, DSIR)
    // reads before setting source weights: KL(source ‖ corpus) =
    // Σ_t (c/Nₛ)·ln((c/Nₛ)/(d/N)) over the source's token distribution.
    // Decomposed into the quantize-before-sum contract: per-token term
    // c·(qln c − qln Nₛ − qln d + qln N) is an exact integer (qln =
    // round(1e6·ln), the ONE shared definition), the per-source sum rides
    // DECIMAL(38,0), and nats emerge from ONE boundary division by 1e6·Nₛ.
    // Shape: one map-side-combined (source, token) aggregation; the
    // scoring joins run on vocabulary-sized frames against a broadcast
    // |sources| profile. KL ≥ 0 (Gibbs) up to quantization — spec-checked
    // with the slack bound, and the 0-divergence fixpoint (a source that
    // IS the corpus) is exercised on a planted frame.
    "ta_source_kl" -> { (s, dir) =>
      val qln = TextOps.qlog _
      val st = Dedup.materialized(
        Relational.t(s, dir, "documents")
          .transform(Dedup.spread("doc_id"))
          .select(col("source"), explode(tokens(col("text"))).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("c")))
      val ct = st.groupBy("token").agg(sum("c").as("d"))
      val ps = st.groupBy("source").agg(sum("c").as("ns"))
      val tot = ps.agg(sum("ns").as("n"))
      st.join(ct, "token")
        .join(broadcast(ps), "source") // bounded: |sources| rows
        .crossJoin(broadcast(tot)) // bounded: one row
        .select(col("source"), col("ns"),
          (col("c") * (qln(col("c")) - qln(col("ns")) - qln(col("d")) + qln(col("n"))))
            .as("term"))
        .groupBy("source", "ns")
        .agg(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("klq"))
        .select(col("source"), col("ns").as("n_tokens"),
          col("klq").cast("long").as("kl_q"),
          (col("klq").cast("double") / (lit(1000000.0) * col("ns").cast("double")))
            .as("kl_nats"))
        .orderBy("source")
    },

    // Collocation mining via pointwise mutual information — the phrase/
    // terminology extractor (high-PMI adjacent pairs are multi-word units:
    // names, idioms, domain terms; the feature vocabulary a tokenizer or
    // indexer should treat as one symbol). PMI = ln(p(ab)/(p(a)p(b)))
    // decomposes into FOUR logs of integer counts, each quantized to
    // integer millionths (the engine's quantize-before-sum contract), so
    // the score and the (pmi, pair) ranking are integer-exact; the noise
    // floor n_pair ≥ CollocMinCount kills the rare-pair PMI artifact.
    // Shape: bigram + unigram counts are two map-side-combined corpus
    // aggregations; the scoring joins run on the VOCAB-sized frames with
    // AQE free to broadcast them, and top-20 is TakeOrderedAndProject.
    "ta_collocations" -> { (s, dir) =>
      val qln = TextOps.qlog _
      val d = Relational.t(s, dir, "documents")
        .transform(Dedup.spread("doc_id"))
        .select(TextOps.tokens(col("text")).as("ts"))
      val bg = d.filter(size(col("ts")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val pairCnt = Dedup.materialized(
        bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair")))
      val uni = Dedup.materialized(
        d.select(explode(col("ts")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n_w")))
      val nBi = pairCnt.agg(sum("n_pair").as("n_bi"))
      val nUni = uni.agg(sum("n_w").as("n_uni"))
      pairCnt.filter(col("n_pair") >= CollocMinCount)
        .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
        .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
        .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni)) // bounded: one row each
        .select(col("w1"), col("w2"), col("n_pair"),
          (qln(col("n_pair")) - qln(col("n_bi")) - qln(col("n_w1")) -
            qln(col("n_w2")) + lit(2L) * qln(col("n_uni"))).as("pmi_q"))
        .withColumn("pmi", col("pmi_q").cast("double") / lit(1000000.0))
        .orderBy(col("pmi_q").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    },

    // Zipf rank-frequency fit over the corpus vocabulary — the classic
    // corpus-health diagnostic (natural text slopes ≈ −1 in log-log space;
    // template/boilerplate-heavy or synthetic corpora flatten or steepen).
    // OLS of qlog(freq) on qlog(rank): ranks come from the range-partition
    // global numbering over the |vocab|-row frequency table (freq DESC,
    // token tie-break — never a single-partition ROW_NUMBER funnel), both
    // logs quantized to integer millionths of INTEGER operands (the
    // engine's quantize-before-sum contract), the 5 OLS moments summed in
    // exact DECIMAL, and slope/intercept one token-identical IEEE tree in
    // both engines (the an_linreg exactness argument). Shape: one
    // corpus-sized explode + hash aggregation, then everything is
    // O(|vocab|) — the fit itself is a one-row reduction.
    "ta_zipf" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val qln = TextOps.qlog _
      val freqs = Relational.t(s, dir, "documents")
        .transform(Dedup.spread("doc_id"))
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val ranked = Pipeline.globalRowNumbers(
        s, freqs, "rk", negate(col("freq")), col("token"))
      val m = ranked
        .select(col("freq"), qln(col("rk")).as("x"), qln(col("freq")).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("freq")).as("n_tokens"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"))
      val slope =
        (col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
      m.select(col("n").as("n_types"), col("n_tokens"), slope.as("slope"))
        .select(col("n_types"), col("n_tokens"), col("slope"))
    }
  )

  /** Winnowing parameters: gram size k and hash-window size w. */
  val WinnowK = 4
  val WinnowW = 8

  /** Checkpoints of the [[queries ta_heaps]] vocabulary-growth curve. */
  val HeapsK = 16

  /** Pair-count noise floor of [[queries ta_collocations]] — below this,
    * PMI rewards rarity, not association.
    */
  val CollocMinCount = 5

  val oracles: Map[String, String] = Map(
    "ta_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')) AS INT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT) AS n_sentences,
        |    CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS INT) AS n_syllables
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')) >= 1
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
        |FROM t ORDER BY doc_id""".stripMargin,
    "ta_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(key|hash|join)\b')) AS INT) AS n_hits,
        |  md5(regexp_replace(text, '\b(key|hash|join)\b', '<REDACTED>', 'g')) AS red_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Exact top-8 with the same (cnt DESC, word ASC) total order the
    // sketch-superset re-sort produces.
    "ta_heavy_hitters" ->
      """SELECT word, cnt FROM (
        |  SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT UNNEST(string_split_regex(text, '[ ,."'']+')) AS word FROM documents
        |  ) WHERE word <> '' GROUP BY word
        |) ORDER BY cnt DESC, word ASC LIMIT 8""".stripMargin,
    // Sketch-contract gate: exact top-8 with a literal TRUE; the engine's
    // within_bound proves the merged Misra-Gries summary stayed inside
    // its N/(K+1) deterministic bound on every heavy hitter.
    "ta_mg_heavy_hitters" ->
      """SELECT word, exact_n, TRUE AS within_bound FROM (
        |  SELECT word, COUNT(*) AS exact_n FROM (
        |    SELECT UNNEST(string_split_regex(text, '[ ,."'']+')) AS word FROM documents
        |  ) WHERE word <> '' GROUP BY word
        |) ORDER BY exact_n DESC, word ASC LIMIT 8""".stripMargin,
    // Slice arithmetic (1-based inclusive): 4-grams are ts[i:i+3] for
    // i in 1..len-3; length-8 hash windows are hs[i:i+7] for i in 1..m-7.
    "ta_winnow" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, [array_to_string(ts[i:i+3], ' ') FOR i IN range(1, len(ts)-2)] AS grams
        |  FROM toks WHERE len(ts) >= 4
        |), h AS (
        |  SELECT doc_id, list_transform(grams, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
        |  FROM g
        |), wm AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) < 8 THEN [list_min(hs)]
        |         ELSE [list_min(hs[i:i+7]) FOR i IN range(1, len(hs)-6)] END AS mins
        |  FROM h
        |)
        |SELECT doc_id, UNNEST(list_distinct(mins)) AS fp
        |FROM wm ORDER BY doc_id, fp""".stripMargin,
    "ta_token_stats" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts, lower(text) AS lt
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(ts) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS INT) AS n_types,
        |  CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS type_token_ratio,
        |  CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts) AS avg_token_len,
        |  CAST(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens
        |FROM d WHERE len(ts) >= 3 ORDER BY doc_id""".stripMargin,
    "ta_quality" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g')) AS DOUBLE) AS n_punct
        |  FROM documents WHERE doc_id < 1000 AND length(trim(text)) > 0
        |), r AS (
        |  SELECT doc_id, n_chars, n_punct,
        |    n_punct / n_chars AS punct_ratio,
        |    CAST(len(list_filter(ts, t -> list_contains(['the','a','and','of','to','in','is'], t))) AS DOUBLE)
        |      / len(ts) AS stopword_ratio
        |  FROM d
        |)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_punct AS BIGINT) AS n_punct,
        |  punct_ratio, stopword_ratio,
        |  greatest(0.0, least(1.0, 0.2 + stopword_ratio * 2.0 - punct_ratio * 3.0)) AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin,
    "ta_langid" ->
      """WITH d AS (
        |  SELECT lang, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
        |  FROM documents
        |), v AS (
        |  SELECT lang AS labeled_lang,
        |    len(list_filter(ts, t -> list_contains(['the','a','and'], t))) AS en,
        |    len(list_filter(ts, t -> list_contains(['der','die','das','und'], t))) AS de,
        |    len(list_filter(ts, t -> list_contains(['el','los','las','y'], t))) AS es,
        |    len(list_filter(ts, t -> list_contains(['le','la','les','et'], t))) AS fr
        |  FROM d
        |)
        |SELECT labeled_lang,
        |  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'unk'
        |       WHEN en = greatest(en, de, es, fr) THEN 'en'
        |       WHEN de = greatest(en, de, es, fr) THEN 'de'
        |       WHEN es = greatest(en, de, es, fr) THEN 'es'
        |       ELSE 'fr' END AS predicted_lang,
        |  COUNT(*) AS n_docs
        |FROM v GROUP BY labeled_lang, predicted_lang ORDER BY labeled_lang, predicted_lang""".stripMargin,
    // NB: 0.5 must be CAST to DOUBLE in DuckDB — a bare 0.5 literal is
    // DECIMAL(2,1), which would pull the whole idf into decimal arithmetic
    // and diverge from Spark's double math.
    "ta_salience" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), ' +')) AS term FROM documents
        |), tfq AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term
        |), dfq AS (
        |  SELECT term, COUNT(*) AS df FROM tfq GROUP BY term
        |), nq AS (
        |  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tfq
        |), sal AS (
        |  SELECT doc_id, term,
        |    tf * ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) AS salience
        |  FROM tfq JOIN dfq USING (term) CROSS JOIN nq
        |), ranked AS (
        |  SELECT doc_id, term, salience,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY salience DESC, term ASC) AS rk
        |  FROM sal
        |)
        |SELECT doc_id, CAST(rk AS INT) AS rk, term, salience
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "ta_ngram_freq" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]) AS bigrams
        |  FROM toks WHERE len(ts) >= 2
        |)
        |SELECT bigram, COUNT(*) AS df
        |FROM (SELECT doc_id, UNNEST(bigrams) AS bigram FROM sh)
        |GROUP BY bigram ORDER BY df DESC, bigram ASC LIMIT 20""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
        |  CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS fp64
        |FROM documents ORDER BY doc_id""".stripMargin,
    // FNV-1a 64 replayed in DuckDB: UTF-8 bytes via hex(encode(·)) pairs, the
    // per-byte (h ⊕ b)·prime mod 2⁶⁴ recurrence through HUGEINT (the ⊕ only
    // touches the low 8 bits, so it is h − h%256 + xor(h%256, b)), and the
    // final wrap to a signed BIGINT matching the engine's Long.
    "ta_fingerprint_fnv" ->
      """WITH nt AS (
        |  SELECT doc_id,
        |    hex(encode(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS hx
        |  FROM documents
        |), fp AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        [CAST(CAST('0x' || substr(hx, 2*i-1, 2) AS INT) AS HUGEINT)
        |         FOR i IN range(1, len(hx)//2 + 1)]),
        |      (h, b) -> ((h - h % 256 + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                 * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
        |    ) AS hu
        |  FROM nt
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |       THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS fp_fnv64
        |FROM fp ORDER BY doc_id""".stripMargin,
    // Heaps twin: doc ranks by doc_id, token first-rank via one MIN, the
    // same (k·D) div K checkpoint boundaries, counting joins.
    "ta_heaps" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |), rk AS (
         |  SELECT doc_id, len(ts) AS n_toks, ROW_NUMBER() OVER (ORDER BY doc_id) AS r
         |  FROM toks
         |), tokfirst AS (
         |  SELECT tok, MIN(r) AS fr FROM (
         |    SELECT doc_id, unnest(list_distinct(ts)) AS tok FROM toks
         |  ) JOIN rk USING (doc_id) GROUP BY tok
         |), ck AS (
         |  SELECT t.k AS k, (t.k * d) // $HeapsK AS n_k
         |  FROM range(1, ${HeapsK + 1}) t(k) CROSS JOIN (SELECT COUNT(*) AS d FROM rk)
         |), v AS (
         |  SELECT k, COUNT(*) AS vocab FROM ck JOIN tokfirst ON fr <= n_k GROUP BY k
         |), n AS (
         |  SELECT k, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |  FROM ck JOIN rk ON r <= n_k GROUP BY k
         |)
         |SELECT CAST(ck.k AS INT) AS ckpt, ck.n_k AS n_docs, n.n_tokens, v.vocab
         |FROM ck JOIN n USING (k) JOIN v USING (k) ORDER BY ckpt""".stripMargin,
    // Novelty twin over the proven dd_* shingle CTE: df by counting the
    // exploded distinct-shingle stream, two integer sums per doc, one
    // division.
    "ta_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ts[i:i+2], ' ') FOR i IN range(1, len(ts)-1)]) AS shingles
        |  FROM toks WHERE len(ts) >= 3
        |), inv AS (
        |  SELECT doc_id, unnest(shingles) AS sng FROM sh
        |), df AS (
        |  SELECT sng, COUNT(*) AS df FROM inv GROUP BY sng
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_shingles,
        |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM inv JOIN df USING (sng)
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, n_shingles, n_novel,
        |  CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
        |FROM agg ORDER BY doc_id""".stripMargin,
    "ta_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, [array_to_string(ts[i:i+2], ' ') FOR i IN range(1, len(ts) - 1)] AS grams
        |  FROM toks WHERE len(ts) >= 3
        |), tc AS (
        |  SELECT doc_id, MAX(c) AS top_count
        |  FROM (SELECT doc_id, gram, COUNT(*) AS c
        |        FROM (SELECT doc_id, UNNEST(grams) AS gram FROM g) GROUP BY doc_id, gram)
        |  GROUP BY doc_id
        |)
        |SELECT g.doc_id, len(g.grams) AS total_grams,
        |  len(list_distinct(g.grams)) AS distinct_grams, tc.top_count,
        |  CAST(len(g.grams) - len(list_distinct(g.grams)) AS DOUBLE) / len(g.grams) AS dup_frac
        |FROM g JOIN tc USING (doc_id) ORDER BY g.doc_id""".stripMargin,
    // Identical quantized-log decomposition: integer per-token terms,
    // HUGEINT sum, one boundary division.
    "ta_source_kl" ->
      """WITH tok AS (
        |  SELECT source, UNNEST(list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')) AS token
        |  FROM documents
        |), st AS (
        |  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
        |), ct AS (
        |  SELECT token, CAST(SUM(c) AS BIGINT) AS d FROM st GROUP BY 1
        |), ps AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM st GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n FROM st
        |), terms AS (
        |  SELECT st.source, ps.ns,
        |    st.c * (CAST(round(1000000.0 * ln(st.c)) AS BIGINT)
        |      - CAST(round(1000000.0 * ln(ps.ns)) AS BIGINT)
        |      - CAST(round(1000000.0 * ln(ct.d)) AS BIGINT)
        |      + CAST(round(1000000.0 * ln(tot.n)) AS BIGINT)) AS term
        |  FROM st JOIN ct USING (token) JOIN ps USING (source) CROSS JOIN tot
        |)
        |SELECT source, ns AS n_tokens,
        |  CAST(SUM(term) AS BIGINT) AS kl_q,
        |  CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) / (1000000.0 * CAST(ns AS DOUBLE)) AS kl_nats
        |FROM terms GROUP BY source, ns ORDER BY source""".stripMargin,
    "ta_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, UNNEST(list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')) AS tok
        |  FROM documents WHERE length(trim(text)) > 0
        |), c AS (
        |  SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY doc_id, tok
        |), a AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS nd,
        |    CAST(SUM(cnt * CAST(round(1000000.0 * ln(cnt)) AS BIGINT)) AS BIGINT) AS s1
        |  FROM c GROUP BY doc_id
        |)
        |SELECT doc_id, n AS n_tokens, nd AS n_distinct,
        |  n * CAST(round(1000000.0 * ln(n)) AS BIGINT) - s1 AS entropy_q,
        |  CAST(n * CAST(round(1000000.0 * ln(n)) AS BIGINT) - s1 AS DOUBLE)
        |    / 1000000.0 / CAST(n AS DOUBLE) AS entropy_nats
        |FROM a ORDER BY doc_id""".stripMargin,
    // Four quantized integer logs per pair; the alias wrap lets pmi derive
    // from pmi_q without recomputation.
    "ta_collocations" ->
      s"""WITH d AS (
         |  SELECT list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |), bg AS (
         |  SELECT ts[i] AS w1, ts[i+1] AS w2
         |  FROM (SELECT ts, UNNEST(range(1, len(ts))) AS i FROM d WHERE len(ts) >= 2)
         |), pc AS (
         |  SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2
         |), uc AS (
         |  SELECT w, COUNT(*) AS n_w FROM (SELECT UNNEST(ts) AS w FROM d) GROUP BY w
         |), nb AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bi FROM pc),
         |nu AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_uni FROM uc),
         |q AS (
         |  SELECT pc.w1, pc.w2, pc.n_pair,
         |    CAST(round(1000000.0 * ln(pc.n_pair)) AS BIGINT)
         |      - CAST(round(1000000.0 * ln(n_bi)) AS BIGINT)
         |      - CAST(round(1000000.0 * ln(c1.n_w)) AS BIGINT)
         |      - CAST(round(1000000.0 * ln(c2.n_w)) AS BIGINT)
         |      + 2 * CAST(round(1000000.0 * ln(n_uni)) AS BIGINT) AS pmi_q
         |  FROM pc
         |  JOIN uc c1 ON pc.w1 = c1.w
         |  JOIN uc c2 ON pc.w2 = c2.w
         |  CROSS JOIN nb CROSS JOIN nu
         |  WHERE pc.n_pair >= $CollocMinCount
         |)
         |SELECT w1, w2, n_pair, pmi_q, CAST(pmi_q AS DOUBLE) / 1000000.0 AS pmi
         |FROM q ORDER BY pmi_q DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    // Naive global ROW_NUMBER twin of the range-partition ranking; the OLS
    // moments sum exact-integer quantized logs through DECIMAL(38,0) and
    // the slope is the an_linreg fixed IEEE tree.
    "ta_zipf" ->
      """WITH t AS (
        |  SELECT UNNEST(list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')) AS token
        |  FROM documents
        |), f AS (
        |  SELECT token, COUNT(*) AS freq FROM t GROUP BY token
        |), r AS (
        |  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rk FROM f
        |), q AS (
        |  SELECT freq,
        |    CAST(round(1000000.0 * ln(rk)) AS BIGINT) AS x,
        |    CAST(round(1000000.0 * ln(freq)) AS BIGINT) AS y
        |  FROM r
        |), m AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(freq) AS BIGINT) AS n_tokens,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
        |  FROM q
        |)
        |SELECT n AS n_types, n_tokens,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |FROM m""".stripMargin
  )
}
