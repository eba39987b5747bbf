package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming document ingestion + model scoring: classify documents as they
  * arrive with a STATIC trained NB model ([[graft.operators.Learn]]),
  * landing predictions exactly-once in a versioned table.
  *
  * Shape: NB scoring of a document depends only on that document's row and
  * the (static, broadcast) model frames, so streaming inference is the exact
  * batch scorer applied per micro-batch — no streaming state at all. The
  * model sides re-broadcast per micro-batch (Spark re-plans the batch body
  * of foreachBatch each time); the stream side never shuffles on the skewed
  * token key. Exactly-once delivery reuses [[EventStreams.writeVersioned]]:
  * version == batchId, replays of the last committed batch are skipped, and
  * a mid-commit crash leaves only an invisible orphan the recommit clears.
  *
  * This is the production "apply the model to the firehose" contract: train
  * once in batch (`cl_nb_model`), persist the model frames, then score every
  * arriving shard with bit-identical results to the batch path
  * (DocStreamsSpec asserts streamed == batch, and the exact per-batch
  * semantics follow from the scorer's per-document independence).
  */
object DocStreams {

  /** Schema of the `documents` table (file-source streams must declare). */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based document stream over a parquet directory. */
  def readDocStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(DocSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Score a document stream with trained model frames and land
    * (doc_id, pred_lang, score) exactly-once in the versioned table at
    * `tableDir` (AvailableNow: drains what exists, then stops).
    */
  def classifyDocStream(docs: DataFrame, counts: DataFrame, labelStats: DataFrame,
      tableDir: String, ckpt: String): StreamingQuery =
    EventStreams.writeVersioned(docs, tableDir, ckpt,
      graft.operators.Learn.classifyDocs(_, counts, labelStats))

  /** Score a document stream with the trained bigram LM
    * ([[graft.operators.Learn.lmModel]]) — perplexity filtering applied to
    * the ingest firehose, same stateless per-micro-batch contract and
    * exactly-once versioned sink as [[classifyDocStream]].
    */
  def lmScoreDocStream(docs: DataFrame, bgCounts: DataFrame, ctxCounts: DataFrame,
      vocab: Long, tableDir: String, ckpt: String): StreamingQuery =
    EventStreams.writeVersioned(docs, tableDir, ckpt,
      graft.operators.Learn.lmScoreRaw(_, bgCounts, ctxCounts, vocab))

  /** Near-dup screen the ingest firehose against a STATIC corpus shingle
    * index ([[graft.operators.Dedup.shingled]], persisted in production):
    * each arriving micro-batch shingles itself, runs the SAME
    * [[graft.operators.Dedup.incrementalMatches]] the batch gate query
    * runs (lossless cross-set prefix filter + exact Jaccard verification),
    * and lands its (incoming_id, existing_id, jaccard) matches exactly-once
    * in the versioned table. Stateless across batches BY CONSTRUCTION: an
    * incoming doc's matches depend only on itself and the static index, so
    * the streamed union over micro-batches is provably the batch result
    * (DocStreamsSpec asserts streamed == dd_incremental). In production the
    * index side also ABSORBS the accepted incoming docs per commit — that
    * variant only swaps the static frame for the versioned table's latest
    * snapshot; the per-batch body is unchanged.
    */
  def dedupDocStream(docs: DataFrame, corpusShingles: DataFrame,
      tableDir: String, ckpt: String): StreamingQuery =
    EventStreams.writeVersioned(docs, tableDir, ckpt, batch =>
      graft.operators.Dedup.incrementalMatches(
        corpusShingles, graft.operators.Dedup.shingleDocs(batch)))
}
