package graft.sources

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** A corpus dir rewritten mid-session answers from its new files: the
  * stored artifacts derived from the old ones (literals folded into plans,
  * stored model frames, pinned tables) must not leak into the new answer.
  * The first three queries fold a stored count into their plan as a
  * literal; the last three read a gate table built once per corpus (a
  * stream-committed table, a versioned table and a bucketed catalog table).
  */
class StaleCorpusSpec extends SparkSpec {

  private val queries = Seq("ss_pagerank", "ta_heaps", "cl_lm_perplexity",
    "st_stream_commit", "mt_time_travel", "bk_colocated_agg")
  private val rewritten = Seq("embeddings" -> "vec_id", "documents" -> "doc_id",
    "events" -> "event_id", "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  private def run(q: String, dir: Path): Seq[String] =
    graft.SparkEntry.queries(q)(spark, dir.toString).collect().map(_.toString).toSeq

  test("a corpus dir rewritten mid-session answers like a fresh dir holding the same files") {
    val root = SparkSpec.tempDir("stale-corpus")
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val tablesBefore = tables
    try {
      val src = Paths.get(sf())
      def copyCorpus(to: Path): Unit = {
        Files.createDirectories(to)
        scala.util.Using.resource(Files.list(src))(_.forEach(f => Files.copy(f, to.resolve(f.getFileName))))
      }
      // Row subsets of the tables the queries read: the ids with an even hash.
      val subset = root.resolve("subset")
      rewritten.foreach { case (t, id) =>
        spark.read.parquet(s"$src/$t.parquet").filter(pmod(hash(col(id)), lit(2)) === 0)
          .coalesce(1).write.parquet(s"$subset/$t.parquet")
      }
      def rewrite(dir: Path): Unit = rewritten.foreach { case (t, _) =>
        Files.delete(dir.resolve(s"$t.parquet"))
        FileUtils.copyDirectory(subset.resolve(s"$t.parquet").toFile, dir.resolve(s"$t.parquet").toFile)
      }

      val live = root.resolve("live")
      copyCorpus(live)
      val before = queries.map(q => q -> run(q, live)).toMap
      rewrite(live)
      val fresh = root.resolve("fresh")
      copyCorpus(fresh)
      rewrite(fresh)
      val answers = queries.map(q => (q, run(q, live), run(q, fresh)))
      val stale = answers.collect { case (q, after, expected) if after != expected => q }
      assert(stale.isEmpty, s"answered from artifacts of the old files: ${stale.mkString(", ")}")
      answers.foreach { case (q, _, expected) =>
        assert(expected != before(q), s"$q: the rewrite must change the answer for the check to mean anything")
      }
    } finally {
      // The bucketed gate tables built on the temp dirs.
      (tables -- tablesBefore).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
