package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: validates the dual-control diagnostic rule under induced
  * load. Loops [trivial control, staged control, cd_apply_changelog] and
  * prints wall-clock offsets so an externally-driven load schedule (quiet →
  * hog → quiet) can be aligned with the samples afterwards. The claim under
  * test: a CPU hog inflates both controls (staged somewhat more), while the
  * multi-sequential-stage query amplifies stage-level overhead by its stage
  * count — so a "trivial flat, staged+query elevated" artifact reads as a
  * stage-latency window, the r11 signature. Usage:
  *   ControlProbe <sfDir> <iterations>
  */
object ControlProbe {
  def main(args: Array[String]): Unit = {
    // Dir REQUIRED — same rule as the probe mains (ADVICE r14): no
    // machine-specific default to silently probe a wrong or missing tree.
    if (args.isEmpty) {
      System.err.println("usage: ControlProbe <sfDir> [iterations]")
      sys.exit(2)
    }
    val dir = args(0)
    val iters = if (args.length > 1) args(1).toInt else 60
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    def trivial(): DataFrame =
      s.read.parquet(s"$dir/nation.parquet")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    def staged(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_regionkey"))
        .repartition(4, col("n_regionkey"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
        .groupBy("n_regionkey").agg(max("rk").as("n"))
        .orderBy("n_regionkey")
    }
    def cd(): DataFrame = graft.SparkEntry.queries("cd_apply_changelog")(s, dir)

    // Warm all three plans.
    noop(trivial()); noop(staged()); noop(cd())
    val t00 = System.nanoTime()
    (1 to iters).foreach { i =>
      def t(f: () => DataFrame): Double = {
        val t0 = System.nanoTime(); noop(f()); (System.nanoTime() - t0) / 1e9
      }
      val off = (System.nanoTime() - t00) / 1e9
      val (a, b, c) = (t(trivial _), t(staged _), t(cd _))
      println(f"[ctlprobe] $i%3d off=$off%7.1f trivial=$a%6.3f staged=$b%6.3f cd=$c%6.3f")
    }
    s.stop()
  }
}
