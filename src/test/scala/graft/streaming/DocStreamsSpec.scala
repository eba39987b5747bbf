package graft.streaming

import graft.SparkSpec
import graft.operators.{Learn, Relational}
import graft.sources.Versioned
import org.apache.spark.sql.functions._

class DocStreamsSpec extends SparkSpec {

  /** Stage the documents table as TWO parquet files (split on doc_id parity)
    * so maxFilesPerTrigger=1 forces two micro-batches — the streamed result
    * must still equal one batch pass over the whole table.
    */
  lazy val docsDir: String = {
    val d = SparkSpec.tempDir("docs-stream")
    val docs = Relational.t(spark, sf(), "documents")
    Seq(0, 1).foreach { parity =>
      val tmp = SparkSpec.tempDir(s"docs-half$parity")
      docs.filter(col("doc_id") % 2 === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, d.resolve(s"half$parity.parquet"))
    }
    d.toString
  }

  test("streaming NB classification equals the batch scorer over all arriving docs") {
    val (counts, labelStats) = Learn.nbModel(spark, sf())
    val tableDir = SparkSpec.tempDir("docstream-tbl").toString + "/t"
    val ckpt = SparkSpec.tempDir("docstream-ckpt").toString

    val q = DocStreams.classifyDocStream(
      DocStreams.readDocStream(spark, docsDir), counts, labelStats, tableDir, ckpt)
    q.awaitTermination()

    // Two staged files × maxFilesPerTrigger=1 → two committed versions.
    assert(Versioned.latest(tableDir).contains(1))

    val streamed = Versioned.read(spark, tableDir)
      .collect().map(_.toSeq).toSet
    val batch = Learn.classifyDocs(
      Relational.t(spark, sf(), "documents").select("doc_id", "text"),
      counts, labelStats)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "batch scorer should classify the corpus")
    assert(streamed == batch)
  }

  test("streaming LM perplexity scoring equals the batch scorer over all arriving docs") {
    val (bg, ctx, voc) = Learn.lmModel(spark, sf())
    val tableDir = SparkSpec.tempDir("lmstream-tbl").toString + "/t"
    val ckpt = SparkSpec.tempDir("lmstream-ckpt").toString

    val q = DocStreams.lmScoreDocStream(
      DocStreams.readDocStream(spark, docsDir), bg, ctx, voc, tableDir, ckpt)
    q.awaitTermination()

    val streamed = Versioned.read(spark, tableDir).collect().map(_.toSeq).toSet
    val batch = Learn.lmScoreRaw(
      Relational.t(spark, sf(), "documents").select("doc_id", "text"), bg, ctx, voc)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "batch scorer should score the corpus")
    assert(streamed == batch)
  }

  test("per-batch scoring is per-document: each version holds exactly its file's docs") {
    // Re-run against a fresh sink; each version's doc_ids must be exactly
    // the staged half's doc_ids (no cross-batch state, no loss).
    val (counts, labelStats) = Learn.nbModel(spark, sf())
    val tableDir = SparkSpec.tempDir("docstream-tbl2").toString + "/t"
    val ckpt = SparkSpec.tempDir("docstream-ckpt2").toString
    DocStreams.classifyDocStream(
      DocStreams.readDocStream(spark, docsDir), counts, labelStats, tableDir, ckpt)
      .awaitTermination()

    val all = Relational.t(spark, sf(), "documents").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // Versions are cumulative snapshots; the per-batch delta is v minus v-1.
    val seen = (0 to 1).flatMap { v =>
      val snap = Versioned.readVersion(spark, tableDir, v).select("doc_id")
      val delta =
        if (v == 0) snap
        else snap.exceptAll(Versioned.readVersion(spark, tableDir, v - 1).select("doc_id"))
      val ids = delta.collect().map(_.getLong(0))
      assert(ids.nonEmpty, s"version $v should be non-empty")
      assert(ids.toSet.size == ids.length, s"version $v has duplicate docs")
      // A batch is one staged file = one doc_id parity class.
      assert(ids.map(_ % 2).toSet.size == 1, s"version $v mixes staged files")
      ids
    }.toSet
    assert(seen == all, "union of batch deltas must cover the corpus exactly once")
  }

  test("streaming incremental dedup equals the batch ingest-vs-corpus matches") {
    import graft.operators.{Dedup, Pipeline}
    // Static index: the existing-corpus shingles (bucket < 80), exactly the
    // index side of the dd_incremental gate query. The incoming (bucket
    // >= 80) docs stream in as two files → two micro-batches; the union of
    // streamed match versions must equal the one-pass batch result. Note
    // the candidate tiers can differ (df-order drift between a per-batch
    // union and the full union) — losslessness holds under any common
    // order and verification is exact, so the OUTPUT cannot.
    val sh = Dedup.materialized(Dedup.shingled(spark, sf()))
    val existing = sh.filter(Pipeline.bucket(col("doc_id")) < 80)
    val incoming = Relational.t(spark, sf(), "documents")
      .filter(Pipeline.bucket(col("doc_id")) >= 80)
    val d = SparkSpec.tempDir("dedup-stream")
    Seq(0, 1).foreach { parity =>
      val tmp = SparkSpec.tempDir(s"dedup-half$parity")
      incoming.filter(col("doc_id") % 2 === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, d.resolve(s"half$parity.parquet"))
    }
    val tableDir = SparkSpec.tempDir("dedupstream-tbl").toString + "/t"
    val ckpt = SparkSpec.tempDir("dedupstream-ckpt").toString
    DocStreams.dedupDocStream(
      DocStreams.readDocStream(spark, d.toString), existing, tableDir, ckpt)
      .awaitTermination()

    val streamed = Versioned.read(spark, tableDir).collect().map(_.toSeq).toSet
    val batch = Dedup.queries("dd_incremental")(spark, sf())
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "the corpus should have cross-side near-dup pairs")
    assert(streamed == batch,
      s"streamed matches diverge: extra ${streamed -- batch}, missing ${batch -- streamed}")
  }
}
