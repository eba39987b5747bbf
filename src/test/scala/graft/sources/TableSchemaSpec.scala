package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** A table's schema is inferred once per listing of its file: a warm build
  * starts no Spark job, a rewritten file is read with its new schema, and a
  * missing file fails as a plain read does and caches nothing.
  */
class TableSchemaSpec extends SparkSpec {

  /** A temp corpus dir holding copies of `tables` from the sf0.001 corpus. */
  private def withCorpus(tables: String*)(f: Path => Unit): Unit = {
    val dir = SparkSpec.tempDir("table-schema")
    tables.foreach(t => Files.copy(Paths.get(sf(), s"$t.parquet"), dir.resolve(s"$t.parquet")))
    f(dir)
  }

  /** Replace the single parquet file `dir/<table>.parquet` with `df`. */
  private def overwrite(dir: Path, table: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val out = SparkSpec.tempDir("table-schema-out")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a warm build of a table-heavy query starts no Spark job") {
    val dir = sf()
    val jobs = Seq("dq_referential", "q51_eager_agg", "st_stream_commit", "mt_time_travel").map { q =>
      graft.SparkEntry.queries(q)(spark, dir)
      q -> jobsStartedBy(graft.SparkEntry.queries(q)(spark, dir))
    }
    assert(jobs.forall(_._2 == 0), s"Spark jobs started by a warm build: $jobs")
  }

  test("a rewritten table file is read with its new schema in the same session") {
    withCorpus("nation") { dir =>
      val d = dir.toString
      val base = Tables.t(spark, d, "nation")
      val cols = base.columns.toSeq
      val rows = base.count()

      overwrite(dir, "nation", base.withColumn("n_extra", lit(7L)))
      val added = Tables.t(spark, d, "nation")
      assert(added.columns.toSeq == cols :+ "n_extra")
      assert(added.filter(col("n_extra") === 7L).count() == rows)

      overwrite(dir, "nation", Tables.t(spark, d, "nation").drop("n_name", "n_extra"))
      val dropped = Tables.t(spark, d, "nation")
      assert(dropped.columns.toSeq == cols.filterNot(_ == "n_name"))
      assert(dropped.count() == rows)
    }
  }

  test("a missing table fails like a plain read and caches nothing") {
    withCorpus() { dir =>
      val d = dir.toString
      val plain = intercept[AnalysisException](spark.read.parquet(s"$d/nation.parquet"))
      val e = intercept[AnalysisException](Tables.t(spark, d, "nation"))
      assert(e.getCondition == plain.getCondition)
      assert(e.getCondition == "PATH_NOT_FOUND")
      Files.copy(Paths.get(sf(), "nation.parquet"), dir.resolve("nation.parquet"))
      assert(Tables.t(spark, d, "nation").count() == 25)
    }
  }
}
