package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local iteration only; the driver always runs the
    // 2-arg form): comma-separated query names to dump/compare, so one new
    // query's oracle can be checked without re-running all of them.
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = EngineSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // Every string through `Bench.jsonStr`: a tab or CR left raw in
    // builder-authored SQL would make the driver's json.load fail and
    // silently zero the round's correctness.
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full declared-query list: lets the local gate detect a query that
    // crashed (wrote no result dir) instead of silently skipping it.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.filter(keep).sorted.map(Bench.jsonStr).mkString("[", ",", "]"))
    spark.stop()
  }
}
