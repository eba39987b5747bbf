package graft.tools

import graft.operators.{Quality, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: stage decomposition of the two most expensive remaining gate
  * entries (VERDICT r13 §next-7) — dq_profile and dq_referential — so each
  * carries a measured-inherent note with probe numbers, like
  * [[DdProbe]]'s dedup tier. Run in a QUIET JVM; numbers go to README
  * "Performance measurement notes".
  *
  * Replaces r12's ProfileProbe, whose `hybrid` variant restated the
  * production dq_profile plan inline — the drift hazard ADVICE r12 closed
  * for CdProbe. The knobbed variants here come FROM the production
  * builders ([[Quality.profileStats]] / [[Quality.riConstraint]]);
  * DqProbeSpec pins probe-full ≡ production and that each knob actually
  * changes the plan. The two INLINE plans (`pf_expand4`, `pf_union4`) are
  * deliberately NOT production restatements but the REJECTED alternatives
  * being re-costed: the ×5-Expand 4-distinct shape dq_profile moved off in
  * r12, and the four-independent-scans union (the dq_referential
  * local-overlap shape, rejected for dq_profile).
  */
object DqProbe {

  /** The probe variants over corpus `dir` — shared by [[main]] and
    * DqProbeSpec's probe-vs-production plan-equality assertions.
    */
  private[graft] def variants(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    def scan() = Relational.parallelizeNarrowScan(
      Relational.t(s, dir, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"))
    val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
    // REJECTED alternative (r12): the SAME full report (null/min/max per
    // column, 4-row explode, sort) but with all four exact distincts as
    // raw countDistinct — plans the ×5 Expand the production
    // declared-domain strategy exists to avoid. Same output so the delta
    // vs pf_full prices exactly the distinct strategy, nothing else.
    def expand4() = {
      val a = scan().agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col("l_quantity"))).as("qty_null"),
        countDistinct(col("l_quantity")).as("qty_dist"),
        min(col("l_quantity").cast(d2)).cast("string").as("qty_min"),
        max(col("l_quantity").cast(d2)).cast("string").as("qty_max"),
        (count(lit(1)) - count(col("l_extendedprice"))).as("price_null"),
        countDistinct(col("l_extendedprice")).as("price_dist"),
        min(col("l_extendedprice").cast(d2)).cast("string").as("price_min"),
        max(col("l_extendedprice").cast(d2)).cast("string").as("price_max"),
        (count(lit(1)) - count(col("l_returnflag"))).as("flag_null"),
        countDistinct(col("l_returnflag")).as("flag_dist"),
        min(col("l_returnflag")).as("flag_min"),
        max(col("l_returnflag")).as("flag_max"),
        (count(lit(1)) - count(col("l_shipdate"))).as("date_null"),
        countDistinct(col("l_shipdate")).as("date_dist"),
        min(col("l_shipdate")).cast("string").as("date_min"),
        max(col("l_shipdate")).cast("string").as("date_max"))
      def row(name: String, p: String) = struct(
        lit(name).as("column_name"), col("n"),
        col(s"${p}_null").as("n_null"), col(s"${p}_dist").as("n_distinct"),
        col(s"${p}_min").as("min_value"), col(s"${p}_max").as("max_value"))
      a.select(explode(array(
        row("l_quantity", "qty"), row("l_extendedprice", "price"),
        row("l_returnflag", "flag"), row("l_shipdate", "date"))).as("r"))
        .select("r.*")
        .orderBy("column_name")
    }
    // REJECTED alternative: four independent column-pruned scans unioned,
    // each computing its column's full stat row (scan cost ×4; locally the
    // subtrees overlap across cores, at lake scale they are four full
    // passes over the fact table).
    def union4() = Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate").map { c =>
      Relational.parallelizeNarrowScan(Relational.t(s, dir, "lineitem").select(c)).agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_.unionByName(_)).orderBy("column_name")
    // dq_referential's constraint registry, split by role.
    val declared = graft.plans.JoinElimination.Declared
    def riAll(dupPk: Boolean) = declared.map { case (ft, fk, pt, pk) =>
      Quality.riConstraint(s, dir, ft, fk, pt, pk, dupPk)
    }.reduce(_.unionByName(_)).orderBy("constraint_name")
    Seq(
      // dq_profile decomposition: the pruned-scan floor, the production
      // aggregate WITHOUT distinct state (the knob), and the full gate
      // query — plus the two rejected alternatives for the record.
      "pf_scan" -> (() => scan()),
      "pf_nodistinct" -> (() => Quality.profileStats(s, dir, distincts = false)),
      "pf_full" -> (() => Quality.profileStats(s, dir, distincts = true)),
      "pf_expand4" -> (() => expand4()),
      "pf_union4" -> (() => union4()),
      // dq_referential decomposition: the single biggest constraint (the
      // lineitem→orders join, the unit cost), all constraints without the
      // dup-PK uniqueness aggregates (the knob), and the full gate query.
      "rf_biggest" -> (() => Quality.riConstraint(
        s, dir, "lineitem", "l_orderkey", "orders", "o_orderkey", dupPk = true)),
      "rf_nodup" -> (() => riAll(dupPk = false)),
      "rf_full" -> (() => riAll(dupPk = true)),
    )
  }

  def main(args: Array[String]): Unit = {
    // The corpus dir is REQUIRED (ADVICE r14 on TailProbe, applied to every
    // probe main): a machine-specific default silently probed the wrong (or
    // a missing) tree on any other checkout.
    if (args.isEmpty) {
      System.err.println("usage: DqProbe <corpusDir>   (e.g. DqProbe /root/testdata/sf0.1)")
      sys.exit(2)
    }
    val dir = args(0)
    val s = graft.EngineSession.local()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    // Era yardsticks (shared across probe mains — see Yardsticks): recorded
    // before Spark touches the files so a future floor move here can name
    // its mechanism by comparing them.
    Yardsticks.record("dqprobe", dir, Seq("lineitem", "orders"))

    val vs = variants(s, dir)
    // Warm every variant once (JIT/codegen), then 3 timed passes each.
    vs.foreach { case (_, f) => noop(f()) }
    (1 to 3).foreach { p =>
      vs.foreach { case (n, f) =>
        val t0 = System.nanoTime()
        noop(f())
        println(f"[dqprobe] pass$p $n%-14s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
    }
    s.stop()
  }
}
