package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("collocations: PMI identity on collected counts; floor respected; rank order") {
    val rows = TextAnalysis.queries("ta_collocations")(spark, sf()).collect()
    assert(rows.length == 20)
    val toks = Relational.t(spark, sf(), "documents")
      .select(TextOps.tokens(col("text")).as("ts")).collect()
      .map(_.getSeq[String](0))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nUni = toks.map(_.size.toLong).sum
    val pairs = toks.filter(_.size >= 2)
      .flatMap(ts => ts.zip(ts.tail)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nBi = pairs.values.sum
    def q(v: Long): Long = Math.round(1e6 * Math.log(v.toDouble))
    rows.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      val np = r.getLong(r.fieldIndex("n_pair"))
      assert(np == pairs((w1, w2)) && np >= TextAnalysis.CollocMinCount)
      val want = q(np) - q(nBi) - q(uni(w1)) - q(uni(w2)) + 2 * q(nUni)
      assert(r.getLong(r.fieldIndex("pmi_q")) == want)
    }
    val pmis = rows.map(_.getLong(rows.head.fieldIndex("pmi_q")))
    assert(pmis.toSeq == pmis.toSeq.sortBy(-_), "rows must descend by pmi")
  }

  test("source KL: Gibbs nonnegativity up to quantization; zero on a one-source corpus") {
    import spark.implicits._
    val rows = TextAnalysis.queries("ta_source_kl")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    // KL >= 0 exactly; quantization perturbs each per-token term by at most
    // 2 quantization units per occurrence (four rounded logs, each off by
    // <= 0.5), so kl_q >= -2 * n_tokens is the provable floor.
    rows.foreach { case (src, ns, klq, nats) =>
      assert(klq >= -2 * ns, s"$src: kl_q $klq below the quantization floor")
      assert(math.abs(nats - klq.toDouble / (1e6 * ns)) < 1e-12)
    }
    // A corpus that IS one source has KL exactly 0: every per-token term
    // cancels algebraically (c = d, ns = n), before any rounding.
    val dir = SparkSpec.tempDir("kl_onesource").toString
    Seq((1L, "the cat sat", "web"), (2L, "a dog ran far", "web"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val one = TextAnalysis.queries("ta_source_kl")(spark, dir).collect()
    assert(one.length == 1 && one.head.getLong(2) == 0L && one.head.getDouble(3) == 0.0)
  }

  test("heaps curve is monotone and its last checkpoint equals the corpus totals") {
    val rows = TextAnalysis.queries("ta_heaps")(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == TextAnalysis.HeapsK)
    // Monotone non-decreasing in every cumulative column.
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4, s"$a !<= $b")
    }
    // Final checkpoint = the whole corpus: doc count, token volume, vocab.
    val docs = Relational.t(spark, sf(), "documents")
    val d = docs.count()
    val toks = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
    val (nTok, vocab) = (toks.count(), toks.distinct().count())
    assert(rows.last == ((TextAnalysis.HeapsK, d, nTok, vocab)))
  }

  test("novelty: totals equal the df=1 shingle census; ratios bounded") {
    val rows = TextAnalysis.queries("ta_novelty")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    rows.foreach { case (_, nSh, nNov, ratio) =>
      assert(nNov >= 0 && nNov <= nSh)
      assert(math.abs(ratio - nNov.toDouble / nSh) == 0.0)
    }
    // Σ n_novel over docs == number of shingles with corpus df == 1 (each
    // df=1 shingle is novel in exactly its one document).
    val sh = graft.operators.Dedup.shingled(spark, sf())
      .select(explode(col("shingles")).as("sng"))
      .groupBy("sng").count()
    assert(rows.map(_._3).sum == sh.filter(col("count") === 1).count())
    // And Σ n_shingles == the total distinct-shingle volume.
    assert(rows.map(_._2).sum == sh.agg(sum("count")).head().getLong(0))
  }

  test("zipf slope equals a straight-line OLS over the collected frequency table") {
    val Array(row) = TextAnalysis.queries("ta_zipf")(spark, sf()).collect()
    val freqs = Relational.t(spark, sf(), "documents")
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val ranked = freqs.sortBy { case (t, f) => (-f, t) }.zipWithIndex
    def q(v: Long): Long = Math.round(1e6 * Math.log(v.toDouble))
    val pts = ranked.map { case ((_, f), i) => (q(i + 1L), q(f)) }
    val n = pts.length.toDouble
    val sx = pts.map(p => BigDecimal(p._1)).sum.toDouble
    val sy = pts.map(p => BigDecimal(p._2)).sum.toDouble
    val sxx = pts.map(p => BigDecimal(p._1) * BigDecimal(p._1)).sum.toDouble
    val sxy = pts.map(p => BigDecimal(p._1) * BigDecimal(p._2)).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(row.getLong(row.fieldIndex("n_types")) == freqs.length)
    assert(row.getDouble(row.fieldIndex("slope")) == slope)
    assert(slope < 0, "rank-frequency slope must be negative")
  }

  test("readability: counts match hand-computed values on known texts; score tree exact") {
    val rows = TextAnalysis.queries("ta_readability")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val texts = Relational.t(spark, sf(), "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val t = texts(r.getLong(0))
      val words = t.toLowerCase(java.util.Locale.ROOT).split(" +").count(_.nonEmpty)
      val sentences = math.max("[.!?]+".r.findAllIn(t).size, 1)
      val syllables = math.max("[aeiouy]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).size, 1)
      assert(r.getInt(1) == words, s"words for doc ${r.getLong(0)}")
      assert(r.getInt(2) == sentences, s"sentences for doc ${r.getLong(0)}")
      assert(r.getInt(3) == syllables, s"syllables for doc ${r.getLong(0)}")
      val flesch = 206.835 -
        1.015 * (words.toDouble / sentences.toDouble) -
        84.6 * (syllables.toDouble / words.toDouble)
      assert(r.getDouble(4) == flesch, s"score for doc ${r.getLong(0)}")
    }
  }
}
