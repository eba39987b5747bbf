package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality expectations: a declared constraint catalog evaluated into
  * (check_name, n_checked, n_violations) rows — the validation gate a
  * 100 TB pipeline runs before a corpus version ships (and the dbt-test /
  * Deequ shape users expect of an analytics engine).
  *
  * Scale posture: every check is an algebraic aggregate. Each
  * dq_expectations check is one narrow scan (nullability, ranges,
  * exact-distinct uniqueness) or a key-partitioned left join with a
  * conditional count (the probe side never materializes an anti-join
  * copy), and the checks are independent small plans unioned at the end.
  * dq_referential audits every declared constraint, and dq_profile
  * profiles every column, in one keyed union-aggregate over one scan per
  * table, so the shuffle carries per-key counts combined map-side, never
  * raw rows. Violation counts are exact, so the whole report is
  * DuckDB-oracle-checkable; the catalog deliberately mixes hard
  * constraints that hold (0 violations) with soft expectations that fail
  * (non-zero counts) — a validator that can only ever report zero is
  * untested.
  */
object Quality {

  /** Minimum group size for [[queries dq_k_anonymity]]. */
  val KAnonymity = 8

  /** Hash-bucket share (of 100) standing in for the erasure-request list. */
  val ErasurePct = 5

  private def report(name: String, agged: DataFrame): DataFrame =
    agged.select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))

  /** One-scan check: total rows vs rows violating `bad`. */
  private def scanCheck(name: String, df: DataFrame, bad: Column): DataFrame =
    report(name, df.agg(
      count(lit(1)).as("n_checked"),
      sum(when(bad, 1L).otherwise(0L)).as("n_violations")))

  /** The dq_profile plan: one keyed union-aggregate over one pruned scan.
    * Each row explodes to one (cid, value) row per profiled column, the raw
    * value riding the struct slot named after its type (the other slots
    * null). Grouping by (cid, value) counts each distinct value once,
    * combined map-side, so every aggregate below the 1-row fold is a hash
    * aggregate with fixed-width buffers. The fold reads each column's nulls
    * off its null-valued group and its exact distinct count as its number
    * of non-null groups, then explodes to the 4-row report. Every column
    * gets the same exact distinct, whatever its domain.
    */
  private[graft] def profileStats(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
    // parallelizeNarrowScan spreads the map side across the session's
    // cores when the file layout under-splits (single-file local table);
    // no-op at scale, where the table scans as thousands of splits.
    val li = Relational.parallelizeNarrowScan(Relational.t(s, dir, "lineitem").select(cols.map(col): _*))
    val typed = cols.map(c => c -> li.schema(c).dataType).zipWithIndex
    val slots = typed.map(_._1._2).distinct
    val counts = li
      .select(explode(array(typed.map { case ((c, t), cid) =>
        struct(lit(cid).as("cid") +: slots.map(u => (if (u == t) col(c) else lit(null).cast(u)).as(u.typeName)): _*)
      }: _*)).as("r"))
      .select("r.*")
      .groupBy(("cid" +: slots.map(_.typeName)).map(col): _*)
      .agg(count(lit(1)).as("k"))
    // Every column's groups count each row once; n reads the first's.
    val n = coalesce(sum(when(col("cid") === 0, col("k"))), lit(0L))
    val stats = typed.map { case ((c, t), cid) =>
      val (mine, v) = (col("cid") === cid, col(t.typeName))
      // Min/max stringify through engine-stable forms only (DECIMAL, DATE,
      // VARCHAR), never raw double formatting, which differs across engines.
      val ord = if (t == org.apache.spark.sql.types.DoubleType) Relational.dec(v) else v
      struct(lit(c).as("column_name"), n.as("n"),
        coalesce(sum(when(mine && v.isNull, col("k"))), lit(0L)).as("n_null"),
        count(when(mine && v.isNotNull, 1)).as("n_distinct"),
        min(when(mine, ord)).cast("string").as("min_value"),
        max(when(mine, ord)).cast("string").as("max_value"))
    }
    counts.agg(array(stats: _*).as("rs"))
      .select(explode(col("rs")).as("r"))
      .select("r.*")
      .orderBy("column_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RELY-registry audit — the nightly job that keeps unenforced
    // (informational) constraints honest: one row per constraint DECLARED
    // in [[graft.plans.JoinElimination.Declared]], reporting exactly the
    // three soundness conditions the join-elimination rewrite rests on
    // (null FKs, orphan FKs, duplicate PKs). Both the query AND its oracle
    // are generated from the same registry sequence, so the optimizer, the
    // auditor, and the gate can never drift apart. Shape: one keyed
    // union-aggregate for all constraints. Each table is scanned once and
    // explodes to one (cid, key, is_fk) row per role it plays in the
    // registry; grouping the union by (cid, key) counts FK rows `nf` and PK
    // rows `np` per key, combined map-side, so the shuffle carries per-key
    // counts, never raw FK rows. Grouping those by cid folds out the three
    // conditions: a non-null key with np = 0 holds orphans, and each
    // non-null key with np > 0 is one distinct PK. The report is the frame
    // of constraint names left-joined to the counts, so a constraint whose
    // tables are both empty still reports zeros.
    "dq_referential" -> { (s, dir) =>
      val declared = graft.plans.JoinElimination.Declared.zipWithIndex
      val roles = declared.flatMap { case ((ft, fk, pt, pk), cid) =>
        Seq((ft, cid, fk, true), (pt, cid, pk, false))
      }.groupBy(_._1)
      val keys = roles.toSeq.sortBy(_._1).map { case (table, rs) =>
        Relational.t(s, dir, table)
          .select(explode(array(rs.map { case (_, cid, c, isFk) =>
            struct(lit(cid).as("cid"), col(c).cast("long").as("key"), lit(isFk).as("is_fk"))
          }: _*)).as("r"))
          .select("r.*")
      }.reduce(_.unionByName(_))
      val counts = keys
        .groupBy("cid", "key").agg(
          sum(when(col("is_fk"), 1L).otherwise(0L)).as("nf"),
          sum(when(col("is_fk"), 0L).otherwise(1L)).as("np"))
        .groupBy("cid").agg(
          sum(col("nf")).as("n_rows"),
          sum(when(col("key").isNull, col("nf")).otherwise(0L)).as("n_null_fk"),
          sum(when(col("key").isNotNull && col("np") === 0L, col("nf")).otherwise(0L))
            .as("n_orphans"),
          (sum(col("np")) - count(when(col("key").isNotNull && col("np") > 0L, 1)))
            .as("n_dup_pk"))
      // bounded: one row per declared constraint, so one partition. The join
      // streams it as a single partition and the closing sort needs no
      // range-partition exchange.
      val names = s.createDataFrame(declared.map { case ((ft, fk, pt, pk), cid) =>
        (cid, s"$ft.$fk->$pt.$pk")
      }).toDF("cid", "constraint_name").coalesce(1)
      val ns = Seq("n_rows", "n_null_fk", "n_orphans", "n_dup_pk")
      names.join(broadcast(counts), Seq("cid"), "left") // bounded: one row per declared constraint
        .select(col("constraint_name") +: ns.map(n => coalesce(col(n), lit(0L)).as(n)): _*)
        .orderBy("constraint_name")
    },

    "dq_expectations" -> { (s, dir) =>
      val docs = Relational.t(s, dir, "documents")
      val orders = Relational.t(s, dir, "orders")
      val customer = Relational.t(s, dir, "customer")
      val lineitem = Relational.t(s, dir, "lineitem")

      // Uniqueness: duplicates = rows beyond the first per key.
      val docIdUnique = report("documents_doc_id_unique",
        docs.agg(
          count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("doc_id"))).as("n_violations")))
      val orderKeyUnique = report("orders_o_orderkey_unique",
        orders.agg(
          count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations")))

      // Referential integrity as a left join + conditional count — the
      // probe stream is counted in one pass, no anti-join materialization.
      // The referenced key set is DISTINCT'd first: a duplicate key in the
      // referenced table would otherwise multiply its probe rows through
      // the join and inflate n_checked past the probe-side row count —
      // exactly the anomaly class a DQ gate must not be confused by.
      val custRi = report("orders_o_custkey_in_customer",
        orders.select(col("o_custkey"))
          .join(customer.select(col("c_custkey")).distinct(),
            col("o_custkey") === col("c_custkey"), "left_outer")
          .agg(
            count(lit(1)).as("n_checked"),
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations")))
      val orderRi = report("lineitem_l_orderkey_in_orders",
        lineitem.select(col("l_orderkey"))
          .join(orders.select(col("o_orderkey")).distinct(),
            col("l_orderkey") === col("o_orderkey"), "left_outer")
          .agg(
            count(lit(1)).as("n_checked"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations")))

      // Hard range/nullability constraints (hold on this corpus).
      val qtyRange = scanCheck("lineitem_l_quantity_in_1_50", lineitem,
        col("l_quantity").isNull || col("l_quantity") < 1 || col("l_quantity") > 50)
      val textPresent = scanCheck("documents_text_nonempty", docs,
        col("text").isNull || length(trim(col("text"))) === 0)

      // Soft expectations (fail with non-zero counts on this corpus).
      val docLength = scanCheck("documents_n_chars_at_least_100", docs, col("n_chars") < 100)
      val priceCap = scanCheck("orders_totalprice_below_300k", orders,
        col("o_totalprice") >= 300000.0)

      Seq(docIdUnique, orderKeyUnique, custRi, orderRi, qtyRange, textPresent,
        docLength, priceCap)
        .reduce(_.unionByName(_))
        .orderBy("check_name")
    },

    // k-anonymity screen — the governance gate a dataset with
    // quasi-identifiers passes before release: every (nationkey, segment)
    // combination matching fewer than K individuals is re-identification
    // risk and gets reported. One hash aggregation + HAVING; exact counts,
    // so the violating-group list is oracle-checkable. At 100 TB the QI
    // cardinality (not the row count) sizes the output, and the same
    // aggregate feeds suppression/generalization decisions.
    "dq_k_anonymity" -> { (s, dir) =>
      Relational.t(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") < KAnonymity)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // l-DIVERSITY audit (Machanavajjhala et al. 2007) — k-anonymity's
    // successor check: a group can be large (k-anonymous) yet leak the
    // sensitive attribute if every member shares one value. Per
    // quasi-identifier group (nation, segment) over the customers' order
    // stream: group size, the number of DISTINCT sensitive values
    // (order priority — distinct-l), and the most frequent sensitive
    // value's count (the numerator of recursive (c,l)-diversity; kept as
    // an exact integer beside n rather than a float share). Shape: two
    // cascaded hash aggregations — (QI, sensitive) counts map-side-combine
    // BEFORE any exchange, so the sensitive column never shuffles raw rows,
    // and the second pass is |QI-groups × l| — metadata-sized at any scale.
    "dq_l_diversity" -> { (s, dir) =>
      Relational.t(s, dir, "customer")
        .join(Relational.t(s, dir, "orders"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("ns"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
          sum(col("ns")).as("n"),
          count(lit(1)).as("l_distinct"),
          max(col("ns")).as("max_sensitive_n"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the third leg
    // of the anonymity triad (k-anonymity bounds group SIZE, l-diversity
    // bounds sensitive-value VARIETY, t-closeness bounds how far a group's
    // sensitive DISTRIBUTION drifts from the global one — the residual
    // skew attack l-diversity misses: a group can hold all l values yet be
    // 95 % one of them). Distance is total variation, kept EXACT by the
    // division-free device: tvd_g = (1/2)·Σ_v |ns/n_g − Ns/N| =
    // D_g / (2·n_g·N) with D_g = Σ_v |ns·N − Ns·n_g| an exact integer
    // riding DECIMAL(38,0)/HUGEINT (the an_mannwhitney moment pattern), so
    // the only IEEE op is the one final token-identical division tree.
    // Missing (group, value) cells contribute Ns·n_g exactly, via the
    // QI×V grid LEFT join — the grid is |QI groups| × |sensitive values|,
    // metadata-sized at any scale. Shape: ONE fact aggregation to the
    // (QI, sensitive) cell frame (map-side combined before the exchange —
    // the sensitive column never shuffles raw rows), materialized once for
    // its three consumers; everything after is grid-sized.
    "dq_t_closeness" -> { (s, dir) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val d = (c: Column) => c.cast("double")
      val cell = Dedup.materialized(
        Relational.t(s, dir, "customer")
          .join(Relational.t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
          .agg(count(lit(1)).as("ns")))
      val grp = cell.groupBy("c_nationkey", "c_mktsegment").agg(sum(col("ns")).as("n"))
      val glob = cell.groupBy("o_orderpriority").agg(sum(col("ns")).as("gs"))
      val tot = glob.agg(sum(col("gs")).as("big_n"))
      grp.crossJoin(broadcast(glob)) // bounded: |QI groups| × |sensitive values|
        .join(cell, Seq("c_nationkey", "c_mktsegment", "o_orderpriority"), "left")
        .crossJoin(broadcast(tot)) // bounded: one row
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"), col("big_n"),
          abs(coalesce(col("ns"), lit(0L)).cast(dec38) * col("big_n").cast(dec38) -
            col("gs").cast(dec38) * col("n").cast(dec38)).as("dev"))
        .groupBy("c_nationkey", "c_mktsegment", "n")
        .agg(max(col("big_n")).as("bn"), sum(col("dev")).as("t_num"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          (d(col("t_num")) / (lit(2.0) * d(col("n")) * d(col("bn")))).as("tvd"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // Pseudonymization that provably preserves referential integrity: the
    // direct identifiers (c_custkey on the dim side, user_id on the fact
    // side) are replaced by a deterministic salted md5 surrogate computed
    // INDEPENDENTLY on each table, the cleartext key is dropped, and the
    // tables join ON THE SURROGATE. The oracle recomputes the surrogates
    // with DuckDB's md5 (joining on the cleartext key — the definitional
    // equivalence), so the hash-match proves both that the surrogate is
    // engine-reproducible and that the pseudonymous join returns exactly
    // the cleartext join's groups. Scale posture: each side pseudonymizes
    // in its own narrow map pass and the join shuffles exactly as the
    // cleartext join would (the key is merely hashed before partitioning),
    // so de-identification costs nothing at 100 TB; no cleartext id ever
    // reaches the shuffle, the output, or the analyst.
    "dq_pseudonymize" -> { (s, dir) =>
      def pid(key: Column) = md5(concat(lit("puid:"), key.cast("string")))
      val cust = Relational.t(s, dir, "customer")
        .select(pid(col("c_custkey")).as("pid"), col("c_mktsegment"))
      val ev = Relational.t(s, dir, "events")
        .select(pid(col("user_id")).as("pid"), col("value"))
      ev.join(cust, "pid")
        .groupBy("pid", "c_mktsegment")
        .agg(
          count(lit(1)).as("n_events"),
          sum(Relational.dec(col("value"))).cast("double").as("total_value"))
        .orderBy("pid")
    },

    // Right-to-erasure cascade audit (the GDPR triad's third leg, beside
    // dq_k_anonymity and dq_pseudonymize): a deterministic hash-bucket of
    // customers stands in for the deletion-request list, and the audit
    // reports, for every table the key cascades through (customer → orders
    // → lineitem), exactly how many rows a compliant purge removes and
    // keeps. Scale posture: the request list is always small relative to
    // the lake, so it BROADCASTS into each table's one-pass conditional
    // count; lineitem resolves its customer through its key-partitioned
    // orders join (never a second shuffle of the fact table); physical
    // row removal is a [[graft.sources.Versioned]] REPLACE commit of the
    // surviving rows — this audit is the pre/post contract for it.
    "dq_erasure" -> { (s, dir) =>
      val requests = Relational.t(s, dir, "customer")
        .filter(Pipeline.bucket(col("c_custkey")) < ErasurePct)
        .select(col("c_custkey").as("k"))
      def audit(table: String, df: DataFrame, purged: Column): DataFrame =
        df.agg(
          count(lit(1)).as("n_before"),
          sum(when(purged, 1L).otherwise(0L)).as("n_purged"))
          .select(lit(table).as("table_name"), col("n_before"), col("n_purged"),
            (col("n_before") - col("n_purged")).as("n_after"))
      val cust = audit("customer", Relational.t(s, dir, "customer"),
        Pipeline.bucket(col("c_custkey")) < ErasurePct)
      val orders = audit("orders",
        Relational.t(s, dir, "orders")
          .join(broadcast(requests), col("o_custkey") === col("k"), "left"), // bounded: |erasure requests| rows
        col("k").isNotNull)
      val li = audit("lineitem",
        Relational.t(s, dir, "lineitem")
          .join(Relational.t(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(requests), col("o_custkey") === col("k"), "left"), // bounded: |erasure requests| rows
        col("k").isNotNull)
      cust.union(orders).union(li).orderBy("table_name")
    },

    // Column profiler — the ANALYZE-style stats pass a lake runs on ingest
    // (and the numbers the CBO tier's CatalogStats path consumes): row
    // count, null count, exact distinct count, min/max per column, emitted
    // as one row per column. One keyed union-aggregate over one scan
    // computes every column's stats together (see profileStats): the scan
    // explodes to (column, value) rows counted per distinct value, and one
    // 1-row fold reads off each column's stats. No distinct aggregate is
    // planned, so no per-value group carries collect_set buffers and no
    // Expand multiplies the scan; one scan and no Expand are plan-asserted
    // in PlanAuditSpec.
    "dq_profile" -> { (s, dir) => profileStats(s, dir) },

    // Distribution-drift monitor between two corpus snapshots — the
    // dataset-shift check a training pipeline runs before accepting a new
    // crawl (has the length distribution moved?). Per n_chars histogram
    // bucket, the two-sample homogeneity deviation
    //   dev = N_new·o_old − N_old·o_new
    // is pure integer arithmetic (zero iff the bucket's proportions are
    // identical — sign gives the drift direction), and the χ² contribution
    //   dev²·(N_old+N_new) / (N_old·N_new·(o_old+o_new))
    // is one fixed IEEE tree over integer casts — the an_chisq exactness
    // argument applied to the two-sample test. Shape: two corpus-sized
    // bucket aggregations (map-side partial), a full-outer join on the
    // |buckets|-row tables (checkpointed — scanned once), and the grand
    // totals as a broadcast one-row aggregate cross-joined back — no
    // unpartitioned window, so corpus size never re-enters the drift math
    // and no WindowExec warning fires.
    "dq_drift" -> { (s, dir) =>
      val old = Relational.t(s, dir, "documents").select("doc_id", "n_chars", "lang")
      // floor(x / 100) and not a double→long cast: Spark's cast truncates
      // but DuckDB's rounds — FLOOR is the one form both engines agree on.
      def buckets(df: DataFrame, as: String) = df
        .groupBy(floor(col("n_chars") / lit(100)).as("bucket"))
        .agg(count(lit(1)).as(as))
      val cells = Dedup.materialized(buckets(old, "o_old")
        .join(buckets(Changes.perturbedDocs(old), "o_new"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("o_old"), lit(0L)).as("o_old"),
          coalesce(col("o_new"), lit(0L)).as("o_new")))
      val totals = cells.agg(sum("o_old").as("n_old"), sum("o_new").as("n_new"))
      val d = (c: Column) => c.cast("double")
      cells
        .crossJoin(broadcast(totals)) // bounded: one row
        .withColumn("dev", col("n_new") * col("o_old") - col("n_old") * col("o_new"))
        .select(col("bucket"), col("o_old"), col("o_new"), col("dev"),
          (d(col("dev")) * d(col("dev")) * d(col("n_old") + col("n_new")) /
            (d(col("n_old")) * d(col("n_new")) * d(col("o_old") + col("o_new"))))
            .as("chi2_bucket"))
        .orderBy("bucket")
    }
  )

  val oracles: Map[String, String] = Map(
    // Generated from the SAME registry sequence as the query.
    "dq_referential" ->
      // NOT EXISTS, never NOT IN: a NULL parent PK would make NOT IN yield
      // zero rows (n_orphans=0) while the engine's left-join count reports
      // the real orphans — the audit and its oracle would disagree exactly
      // in the corruption scenario the audit exists to surface.
      (graft.plans.JoinElimination.Declared.map { case (ft, fk, pt, pk) =>
        s"""SELECT '$ft.$fk->$pt.$pk' AS constraint_name,
           |  (SELECT COUNT(*) FROM $ft) AS n_rows,
           |  (SELECT COUNT(*) FROM $ft WHERE $fk IS NULL) AS n_null_fk,
           |  (SELECT COUNT(*) FROM $ft
           |   WHERE $fk IS NOT NULL
           |   AND NOT EXISTS (SELECT 1 FROM $pt WHERE $pk = $fk)) AS n_orphans,
           |  (SELECT COUNT(*) - COUNT(DISTINCT $pk) FROM $pt) AS n_dup_pk""".stripMargin
      }.mkString("", "\nUNION ALL ", "\nORDER BY constraint_name")),
    "dq_expectations" ->
      """SELECT * FROM (
        |  SELECT 'documents_doc_id_unique' AS check_name,
        |    (SELECT COUNT(*) FROM documents) AS n_checked,
        |    (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents) AS n_violations
        |  UNION ALL
        |  SELECT 'orders_o_orderkey_unique',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL
        |  SELECT 'orders_o_custkey_in_customer',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |     WHERE c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'lineitem_l_orderkey_in_orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |     WHERE o_orderkey IS NULL)
        |  UNION ALL
        |  SELECT 'lineitem_l_quantity_in_1_50',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
        |  UNION ALL
        |  SELECT 'documents_text_nonempty',
        |    (SELECT COUNT(*) FROM documents),
        |    (SELECT COUNT(*) FROM documents WHERE text IS NULL OR length(trim(text)) = 0)
        |  UNION ALL
        |  SELECT 'documents_n_chars_at_least_100',
        |    (SELECT COUNT(*) FROM documents),
        |    (SELECT COUNT(*) FROM documents WHERE n_chars < 100)
        |  UNION ALL
        |  SELECT 'orders_totalprice_below_300k',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders WHERE o_totalprice >= 300000.0)
        |) ORDER BY check_name""".stripMargin,
    "dq_erasure" ->
      s"""WITH req AS (SELECT c_custkey AS k FROM customer
         |  WHERE ${Pipeline.bucketSql("c_custkey")} < $ErasurePct)
         |SELECT * FROM (
         |  SELECT 'customer' AS table_name,
         |    (SELECT COUNT(*) FROM customer) AS n_before,
         |    (SELECT COUNT(*) FROM req) AS n_purged,
         |    (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM req) AS n_after
         |  UNION ALL
         |  SELECT 'orders',
         |    (SELECT COUNT(*) FROM orders),
         |    (SELECT COUNT(*) FROM orders JOIN req ON o_custkey = k),
         |    (SELECT COUNT(*) FROM orders)
         |      - (SELECT COUNT(*) FROM orders JOIN req ON o_custkey = k)
         |  UNION ALL
         |  SELECT 'lineitem',
         |    (SELECT COUNT(*) FROM lineitem),
         |    (SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |     JOIN req ON o_custkey = k),
         |    (SELECT COUNT(*) FROM lineitem)
         |      - (SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |         JOIN req ON o_custkey = k)
         |) ORDER BY table_name""".stripMargin,
    "dq_pseudonymize" ->
      """SELECT md5('puid:' || CAST(user_id AS VARCHAR)) AS pid, c_mktsegment,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY pid""".stripMargin,
    "dq_k_anonymity" ->
      s"""SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
         |FROM customer GROUP BY 1, 2 HAVING COUNT(*) < $KAnonymity
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "dq_l_diversity" ->
      """WITH sv AS (
        |  SELECT c_nationkey, c_mktsegment, o_orderpriority, COUNT(*) AS ns
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3
        |)
        |SELECT c_nationkey, c_mktsegment,
        |  CAST(SUM(ns) AS BIGINT) AS n,
        |  COUNT(*) AS l_distinct,
        |  CAST(MAX(ns) AS BIGINT) AS max_sensitive_n
        |FROM sv GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "dq_t_closeness" ->
      """WITH cell AS (
        |  SELECT c_nationkey, c_mktsegment, o_orderpriority, COUNT(*) AS ns
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3
        |), grp AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(SUM(ns) AS BIGINT) AS n
        |  FROM cell GROUP BY 1, 2
        |), gdist AS (
        |  SELECT o_orderpriority, CAST(SUM(ns) AS BIGINT) AS gs FROM cell GROUP BY 1
        |), tot AS (SELECT CAST(SUM(gs) AS BIGINT) AS big_n FROM gdist),
        |grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n, t.big_n,
        |    ABS(CAST(COALESCE(c.ns, 0) AS HUGEINT) * t.big_n
        |        - CAST(o.gs AS HUGEINT) * g.n) AS dev
        |  FROM grp g CROSS JOIN gdist o CROSS JOIN tot t
        |  LEFT JOIN cell c
        |    ON c.c_nationkey = g.c_nationkey AND c.c_mktsegment = g.c_mktsegment
        |    AND c.o_orderpriority = o.o_orderpriority
        |)
        |SELECT c_nationkey, c_mktsegment, n,
        |  CAST(SUM(dev) AS DOUBLE) /
        |    (2.0 * CAST(n AS DOUBLE) * CAST(MAX(big_n) AS DOUBLE)) AS tvd
        |FROM grid GROUP BY c_nationkey, c_mktsegment, n
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "dq_profile" ->
      """WITH base AS (SELECT COUNT(*) AS n FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS column_name, n,
        |    (SELECT COUNT(*) - COUNT(l_quantity) FROM lineitem) AS n_null,
        |    (SELECT COUNT(DISTINCT l_quantity) FROM lineitem) AS n_distinct,
        |    (SELECT CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) FROM lineitem) AS min_value,
        |    (SELECT CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) FROM lineitem) AS max_value
        |  FROM base
        |  UNION ALL
        |  SELECT 'l_extendedprice', n,
        |    (SELECT COUNT(*) - COUNT(l_extendedprice) FROM lineitem),
        |    (SELECT COUNT(DISTINCT l_extendedprice) FROM lineitem),
        |    (SELECT CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) FROM lineitem),
        |    (SELECT CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) FROM lineitem)
        |  FROM base
        |  UNION ALL
        |  SELECT 'l_returnflag', n,
        |    (SELECT COUNT(*) - COUNT(l_returnflag) FROM lineitem),
        |    (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem),
        |    (SELECT MIN(l_returnflag) FROM lineitem),
        |    (SELECT MAX(l_returnflag) FROM lineitem)
        |  FROM base
        |  UNION ALL
        |  SELECT 'l_shipdate', n,
        |    (SELECT COUNT(*) - COUNT(l_shipdate) FROM lineitem),
        |    (SELECT COUNT(DISTINCT l_shipdate) FROM lineitem),
        |    (SELECT CAST(MIN(l_shipdate) AS VARCHAR) FROM lineitem),
        |    (SELECT CAST(MAX(l_shipdate) AS VARCHAR) FROM lineitem)
        |  FROM base
        |) ORDER BY column_name""".stripMargin,
    // The perturbed "newer" snapshot CTE is the SHARED Changes SQL builder
    // (one definition with cd_snapshot_diff's oracle — cannot drift from
    // perturbedDocs); the χ² tree is token-identical to the Spark
    // expression.
    "dq_drift" ->
      s"""WITH newer AS (
         |  ${Changes.perturbedDocsSql}
         |), ob AS (
         |  SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket, COUNT(*) AS o_old
         |  FROM documents GROUP BY 1
         |), nb AS (
         |  SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket, COUNT(*) AS o_new
         |  FROM newer GROUP BY 1
         |), cells AS (
         |  SELECT COALESCE(ob.bucket, nb.bucket) AS bucket,
         |    COALESCE(o_old, 0) AS o_old, COALESCE(o_new, 0) AS o_new
         |  FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket
         |), t AS (
         |  SELECT bucket, o_old, o_new,
         |    CAST(SUM(o_old) OVER () AS BIGINT) AS n_old,
         |    CAST(SUM(o_new) OVER () AS BIGINT) AS n_new
         |  FROM cells
         |)
         |SELECT bucket, o_old, o_new,
         |  n_new * o_old - n_old * o_new AS dev,
         |  CAST(n_new * o_old - n_old * o_new AS DOUBLE)
         |    * CAST(n_new * o_old - n_old * o_new AS DOUBLE)
         |    * CAST(n_old + n_new AS DOUBLE)
         |    / (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE) * CAST(o_old + o_new AS DOUBLE))
         |    AS chi2_bucket
         |FROM t ORDER BY bucket""".stripMargin
  )
}
