package graft.operators

import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-format connectors on the correctness gate (SURVEY.md §2.2 E1): route
  * a corpus table through a CSV / JSON round-trip
  * ([[graft.sources.Formats]]), then aggregate — the DuckDB oracle reads the
  * ORIGINAL parquet, so a hash-match proves the round-trip is lossless for
  * every value that reaches the result (strings, integers, doubles,
  * timestamps).
  *
  * The round-trip files land under the JVM temp dir ([[tmp]], the one
  * temp-path mechanism in `src/main`); writing them is part of
  * query construction (a connector test IS a write+read). Within a process,
  * re-runs overwrite; the per-process directories are deleted by a JVM
  * shutdown hook, so repeated bench/verify invocations don't accumulate
  * copies in tmp.
  */
object Connectors {
  import Relational.{dsum, t}

  // Per-process AND per-invocation paths: pid keeps two engine processes
  // (e.g. a bench and a verify run) from colliding; the invocation counter
  // keeps two constructions of the same query within one JVM (parallel test
  // suites, a second SparkSession) from overwriting each other's files
  // mid-read. Every created path is removed on JVM exit.
  private val invocation = new java.util.concurrent.atomic.AtomicLong(0)
  private val tmpPaths = scala.collection.mutable.LinkedHashSet[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpPaths.synchronized(tmpPaths.toSeq).foreach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(p))
      }
    ))

  private[graft] def tmp(name: String): String = {
    cleanupHook
    val p = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_${ProcessHandle.current().pid()}_${invocation.incrementAndGet()}_$name"
    tmpPaths.synchronized { tmpPaths += p }
    p
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CSV round-trip of `orders` (strings, bigints, doubles, TIMESTAMP_NTZ),
    // aggregated by order year × status. Exercises the pinned timestamp
    // format end-to-end: a drifted date would move rows across years.
    "q27_csv_roundtrip" -> { (s, dir) =>
      val src = t(s, dir, "orders")
      val path = tmp("orders_csv")
      Formats.writeCsv(src, path)
      Formats.readCsv(s, path, src.schema)
        .groupBy(
          year(col("o_orderdate")).cast("int").as("o_year"),
          col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_year", "o_orderstatus")
    },

    // JSON round-trip of `customer`, aggregated by market segment. Customer
    // comments carry commas/quotes — the JSON encoder must escape them for
    // the row count to survive.
    "q28_json_roundtrip" -> { (s, dir) =>
      val src = t(s, dir, "customer")
      val path = tmp("customer_json")
      Formats.writeJson(src, path)
      Formats.readJson(s, path, src.schema)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_custs"),
          dsum(col("c_acctbal")).as("total_acctbal"))
        .orderBy("c_mktsegment")
    },

    // ORC round-trip of `part` (strings, ints, doubles), aggregated by brand.
    // ORC is the third columnar format tier (text/CSV/JSON row formats,
    // parquet/ORC columnar); schema rides in the file.
    "q29_orc_roundtrip" -> { (s, dir) =>
      val src = t(s, dir, "part")
      val path = tmp("part_orc")
      Formats.writeOrc(src, path)
      Formats.readOrc(s, path)
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          dsum(col("p_retailprice")).as("total_retail"),
          max(col("p_size")).as("max_size"))
        .orderBy("p_brand")
    },

    // Partitioned-layout round-trip: documents written partitionBy(lang),
    // read back filtered to two languages — the filter becomes a
    // PartitionFilter (directory pruning at planning time, asserted in
    // FormatsSpec), so excluded partitions' data files are never opened.
    // The oracle reads the original single-file parquet with a WHERE.
    "q33_partitioned_roundtrip" -> { (s, dir) =>
      val src = t(s, dir, "documents")
      val path = tmp("documents_bylang")
      Formats.writePartitioned(src, path, "lang")
      Formats.readPartitioned(s, path)
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang", "source")
    },

    // Schema evolution: two parquet batches of the same logical table where
    // the LATER batch added a column (the routine lake migration — a field
    // starts being logged mid-stream). `mergeSchema` unions the footers at
    // planning time; the old batch's missing column reads as NULL, and
    // aggregates over the merged view count it correctly. At 100 TB this is
    // a metadata-only operation — no batch is rewritten — which is exactly
    // why production tables accrete schema instead of backfilling. The
    // oracle reconstructs the same two-batch view with UNION ALL.
    "q42_schema_evolution" -> { (s, dir) =>
      val src = t(s, dir, "documents")
      val base = tmp("documents_evolve")
      src.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$base/batch=0")
      src.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$base/batch=1")
      s.read.option("mergeSchema", "true").parquet(s"$base/batch=0", s"$base/batch=1")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_with_chars"),
          coalesce(sum(col("n_chars")), lit(0L)).as("total_chars"))
        .orderBy("lang")
    }
  )

  val oracles: Map[String, String] = Map(
    "q27_csv_roundtrip" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_year, o_orderstatus
        |ORDER BY o_year, o_orderstatus""".stripMargin,
    "q28_json_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q29_orc_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_retail,
        |  MAX(p_size) AS max_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q33_partitioned_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q42_schema_evolution" ->
      """WITH merged AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
        |)
        |SELECT lang, COUNT(*) AS n_docs, COUNT(n_chars) AS n_with_chars,
        |  CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin
  )
}
