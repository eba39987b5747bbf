package graft

/** Physical-plan audit across the whole declared query surface: the "is this
  * the plan you'd want at 100×" properties, asserted so a regression (a lost
  * pushdown, a join that degenerates to a cartesian, a broadcast that stops
  * firing) fails tests instead of surfacing as a bench cliff.
  *
  * Substring checks run against the INITIAL adaptive plan — strategy choices
  * (join selection, scan pushdown) are decided there; AQE only re-splits or
  * coalesces at runtime.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  /** Every query's plan, built once and shared by the whole-surface checks. */
  private lazy val plans: Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted.map(name => name -> plan(name))

  test("no declared query plans an unbounded cartesian product") {
    // Construction alone is enough to see the chosen join strategies; a
    // CartesianProduct (both sides large, no key) is never acceptable — the
    // deliberately-quadratic operators (dd_embed_pairs' block grid,
    // ss_topk_bruteforce's bounded query side) are shaped as equality joins
    // or small-side broadcasts precisely so they never plan one.
    for ((name, p) <- plans) {
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("no distinct aggregate groups per value under object or sort aggregate buffers") {
    // Spark plans a lone distinct aggregate beside other aggregates by
    // grouping on the distinct column first, so every other aggregate's
    // buffer rides one group per distinct value. Object buffers there
    // (collect_set and the like) fall back to sort-based aggregation past
    // a few keys and shuffle whole: fold the distinct into a keyed count
    // instead (dq_profile's shape).
    for ((name, p) <- plans) {
      assert(!PlanAuditSpec.hasDistinctOverObjectBuffers(p),
        s"$name groups a distinct aggregate under object buffers:\n$p")
    }
  }

  test("dedup pair joins are all equality-keyed (no nested-loop fallback)") {
    for (name <- Seq("dd_ngram_pairs", "dd_minhash_pairs", "dd_simhash_pairs", "dd_embed_pairs")) {
      val p = plan(name)
      assert(!p.contains("NestedLoop"), s"$name fell back to a nested-loop join:\n$p")
    }
  }

  test("selective scans push predicates into the parquet reader") {
    val p = plan("q2_filter_revenue")
    assert(p.contains("PushedFilters: [") && p.contains("l_shipdate"),
      s"expected l_shipdate pushed to the scan:\n$p")
  }

  test("narrow projections prune unread columns at the scan") {
    val p = plan("ta_token_stats")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text"), s"scan schema wrong: $read")
    assert(!read.contains("source") && !read.contains("n_chars"),
      s"scan reads columns the query never uses: $read")
  }

  test("correlated subqueries decorrelate into joins, never per-row re-execution") {
    // q45: two correlated scalar aggregates must rewrite into aggregate +
    // equality join branches (RewriteCorrelatedScalarSubquery) — a surviving
    // scalar-subquery node would re-run the aggregate per outer row. q46: the
    // LATERAL's correlated LIMIT must become a bounded per-group rank
    // (WindowGroupLimit partial on the map side), not a per-region re-run.
    for (name <- Seq("q45_corr_subquery", "q46_lateral_topn")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$name decorrelation fell back to a non-equality join:\n$p")
      // Spark prints surviving subquery remnants as "Subquery subquery#N"
      // (physical) or "scalar-subquery#N" (logical) — match those forms.
      assert(!p.contains("Subquery subquery") && !p.toLowerCase.contains("scalar-subquery"),
        s"$name kept an undecorrelated scalar subquery:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$name lost its equality join:\n$p")
    }
    assert(plan("q46_lateral_topn").contains("WindowGroupLimit"),
      "lateral LIMIT did not become a bounded group rank")
  }

  test("fact-to-dim joins broadcast the dimension side") {
    for (name <- Seq("q3_revenue_by_nation", "q4_brand_volume", "q6_customers_no_orders")) {
      assert(plan(name).contains("BroadcastHashJoin"), s"$name lost its broadcast join")
    }
  }

  test("per-row compute stays inside whole-stage codegen") {
    // The heavy per-document/per-vector projections must sit under a
    // WholeStageCodegen span (interpreted HOF lambdas or UDF boxing would
    // evict them — the 100× cliff the native expressions exist to avoid).
    // These plans contain exchanges, so they run under AQE and the `*(n)`
    // codegen markers only appear on the FINAL plan — execute first.
    for (name <- Seq("ta_token_stats", "ta_quality", "dd_exact_summary", "ss_embed_quant")) {
      val df = SparkEntry.queries(name)(spark, sf())
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("*("),
        s"$name runs outside whole-stage codegen")
    }
  }

  test("six-table star join broadcasts dims and pushes the date filter to the orders scan") {
    val p = plan("q41_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), s"q41 lost its dim broadcasts:\n$p")
    // Assert the actual pushed predicate text — 'PushedFilters: [' alone
    // also matches the empty list, and o_orderdate appears in ReadSchema
    // even when nothing is pushed.
    assert(p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("LessThan(o_orderdate"),
      s"q41's date window must reach the orders scan as pushed filters:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"q41 degenerated off the equality-join path:\n$p")
  }

  test("bloom semi-join reduction filters the fact side via a scalar subquery") {
    val p = plan("j3_bloom_semijoin")
    assert(p.contains("might_contain"), s"expected a bloom might_contain filter on the fact scan:\n$p")
    assert(p.toLowerCase.contains("subquery"), s"bloom filter should build as a scalar subquery:\n$p")
  }

  test("partitioned fact scan prunes partitions dynamically from the dim filter") {
    val p = plan("j4_dpp_partition_prune")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning expression in the scan's PartitionFilters:\n$p")
  }

  test("grouped top-k aggregate runs partial (map-side) heap shrink") {
    // ss_knn_graph serves from the stored index, so its ONE-TIME build plan
    // is audited directly (the gate query's own plan is just the index scan).
    val plans = Seq(
      "q37_topk_pergroup" -> plan("q37_topk_pergroup"),
      "knn_graph_build" ->
        graft.operators.Similarity.knnGraphBuild(spark, sf()).queryExecution.executedPlan.toString)
    for ((name, p) <- plans) {
      assert(p.toLowerCase.contains("partial_graft_topk_rows"),
        s"$name must pre-shrink groups map-side before the exchange:\n$p")
    }
  }

  test("optimizer rule rewrites window top-k into the heap aggregate") {
    val p = plan("q38_topk_rewrite")
    assert(!p.contains("Window"), s"the Window node must be rewritten away:\n$p")
    assert(p.toLowerCase.contains("graft_topk_rows"),
      s"expected the TopKRows aggregate in the rewritten plan:\n$p")
  }

  test("round-7 additions keep their scale shapes") {
    // Exact-k reservoir: per-partition heaps + driver merge, no global sort.
    assert(plan("sp_reservoir_k").contains("TakeOrderedAndProject"),
      s"reservoir must plan as TakeOrdered:\n${plan("sp_reservoir_k")}")
    // Heaps curve ranks through the distributed numbering path.
    assert(plan("ta_heaps").contains("ExistingRDD"),
      s"heaps lost the range-partition numbering:\n${plan("ta_heaps")}")
    // KM survival: no window at all — the cumulative runs as the bounded
    // levels-squared broadcast join.
    assert(!plan("ev_survival").contains("Window ["),
      s"survival grew a window funnel:\n${plan("ev_survival")}")
    // Attribution's models come from ONE window pass (two aggregates read
    // the materialized per-purchase frame, not two window scans).
    assert(plan("ev_attribution").linesIterator.count(_.trim.startsWith("Window ")) <= 1,
      s"attribution must window once:\n${plan("ev_attribution")}")
  }

  // The suite's session is EngineSession's own (SparkSpec), so these read the
  // confs the engine ships with; a refactor that drops one fails here, not
  // as a bench cliff.

  test("engine session sizes the generated-class cache for the query surface") {
    // At the 100-entry default every non-back-to-back query re-invocation
    // pays Janino compilation + a fresh C2 JIT of brand-new classes —
    // measured as a uniform +0.3–0.7 s tax once bench passes stopped being
    // adjacent (sf0.1 bench 203 → 154 s when raised).
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("engine session forces the sort-based shuffle writer and couples the advisory size") {
    // r20: the bypass-merge writer opens R partition files PER MAP TASK (M×R
    // file round-trips per exchange), the dominant per-stage overhead of the
    // engine's many byte-light exchanges at sf0.1. The shuffle manager reads
    // it from the CONTEXT conf.
    assert(spark.sparkContext.getConf.getOption("spark.shuffle.sort.bypassMergeThreshold")
      .contains("0"))
    // ADVICE r19: the AQE sort-merge→shuffled-hash conversion is only honored
    // while its threshold is ≥ the advisory partition size. Both are set from
    // one constant; the strings differ if either falls back to its default.
    assert(spark.conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") ==
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
  }

  test("engine session excludes InferFiltersFromGenerate") {
    // Its inferred size(f(x)) > 0 filter re-evaluates every exploded array
    // expression (tokenization, shingling) below the parallelizing exchange.
    assert(spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .exists(_.contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")))
  }

  test("engine session reads nanosecond parquet timestamps as longs") {
    // events.parquet has shipped with TIMESTAMP(NANOS) ts, which the reader
    // otherwise rejects. No read path sets it per call, and the Stored
    // schema cache keys a table's schema on its files alone.
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
  }

  test("incremental df maintenance reads the stored base index, never re-tokenizes it") {
    // rt_df_incremental's base side must be the STORED df parquet (the
    // stale index artifact, built once per session) and only the landing
    // batch may explode tokens — a second Generate would mean the "merge"
    // is secretly a rebuild and the O(|vocab| + |batch tokens|) claim dies.
    val p = plan("rt_df_incremental")
    val generates = p.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 1,
      s"expected exactly ONE token explode (the landing-batch delta), found $generates:\n$p")
    assert(p.contains("Scan parquet") && p.contains("rt_term_df_base"),
      s"base side must read the stored rt_term_df_base parquet:\n$p")
  }

  test("round-11 additions keep their scale shapes") {
    // Filtered k-NN: the metadata predicate reaches the documents scan, so
    // candidates are pruned BEFORE the scoring join ever sees them.
    val fk = plan("ss_filtered_knn")
    assert(fk.contains("PushedFilters") && fk.contains("lang"),
      s"filtered knn must push the lang predicate to the documents scan:\n$fk")
    // t-closeness: pure cascaded aggregations over the cell frame — no
    // window anywhere, and the grid sides (global distribution, pooled
    // total) ride broadcasts.
    val tc = plan("dq_t_closeness")
    assert(!tc.contains("Window ["), s"t-closeness grew a window funnel:\n$tc")
    assert(tc.contains("BroadcastExchange"),
      s"t-closeness grid must broadcast the bounded sides:\n$tc")
    // CUPED: one user-keyed aggregation; the bounds row and pooled moments
    // broadcast; nothing windows.
    val cu = plan("ev_cuped")
    assert(!cu.contains("Window ["), s"cuped grew a window funnel:\n$cu")
    assert(cu.contains("BroadcastExchange"),
      s"cuped must broadcast its one-row frames:\n$cu")
  }

  test("RELY join elimination drops the unused dimension join entirely") {
    val p = plan("q49_join_elim")
    assert(!p.contains("Join"), s"the PK-FK join must be eliminated:\n$p")
    assert(!p.contains("orders.parquet"),
      s"the eliminated side's scan must be gone too:\n$p")
  }

  test("join elimination does NOT fire when the dimension is referenced or filtered") {
    import org.apache.spark.sql.functions._
    val li = graft.operators.Relational.t(spark, sf(), "lineitem")
    val o = graft.operators.Relational.t(spark, sf(), "orders")
    // Dimension column consumed above the join → not the identity on fact.
    val p1 = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(p1.contains("Join"), s"referenced dim must keep its join:\n$p1")
    // Filtered dimension can DROP fact rows → multiplicity not provable.
    val p2 = li.join(o.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(p2.contains("Join"), s"filtered dim must keep its join:\n$p2")
    // Unregistered key (no RELY constraint) → untouched.
    val p3 = li.join(o, col("l_suppkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(p3.contains("Join"), s"unregistered key must keep its join:\n$p3")
  }

  test("join elimination does NOT fire when the FK lineage is not the declared child table") {
    import org.apache.spark.sql.functions._
    val li = graft.operators.Relational.t(spark, sf(), "lineitem")
    val o = graft.operators.Relational.t(spark, sf(), "orders")
    val part = graft.operators.Relational.t(spark, sf(), "part")
    // Outer-join-derived FK: lineitem as the NULL-EXTENDED side of a left
    // outer join means l_orderkey can arrive NULL even though the base
    // column never is — the inner join with orders drops those rows;
    // elimination would keep them. The full optimizer happens to repair
    // THIS shape (EliminateOuterJoin infers l_orderkey IS NOT NULL from
    // the inner equality and converts the outer join first, making
    // elimination sound again), so the rule is applied DIRECTLY to the
    // hand-built null-extended plan: the lineage check alone must decline.
    locally {
      import org.apache.spark.sql.catalyst.expressions.EqualTo
      import org.apache.spark.sql.catalyst.plans.{Inner => CInner, LeftOuter => CLeftOuter}
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint, Project => LProject}
      val partPlan = part.select("p_partkey", "p_type").queryExecution.optimizedPlan
      val liPlan = li.select("l_partkey", "l_orderkey").queryExecution.optimizedPlan
      val oPlan = o.select("o_orderkey").queryExecution.optimizedPlan
      def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val outer = LJoin(partPlan, liPlan, CLeftOuter,
        Some(EqualTo(a(partPlan, "p_partkey"), a(liPlan, "l_partkey"))), JoinHint.NONE)
      val inner = LJoin(outer, oPlan, CInner,
        Some(EqualTo(a(outer, "l_orderkey"), a(oPlan, "o_orderkey"))), JoinHint.NONE)
      val top = LProject(Seq(a(partPlan, "p_type")), inner)
      val after = graft.plans.JoinElimination(top)
      assert(after.collect { case j: LJoin => j }.size == 2,
        s"outer-join-derived (nullable) FK must keep the orders join:\n$after")
      // Control: the SAME hand-built shape with the outer join made Inner
      // (l_orderkey value-preserved) must eliminate — proving the decline
      // above is the lineage check, not an accident of the plan shape.
      val innerBase = LJoin(partPlan, liPlan, CInner,
        Some(EqualTo(a(partPlan, "p_partkey"), a(liPlan, "l_partkey"))), JoinHint.NONE)
      val inner2 = LJoin(innerBase, oPlan, CInner,
        Some(EqualTo(a(innerBase, "l_orderkey"), a(oPlan, "o_orderkey"))), JoinHint.NONE)
      val after2 = graft.plans.JoinElimination(LProject(Seq(a(partPlan, "p_type")), inner2))
      assert(after2.collect { case j: LJoin => j }.size == 1,
        s"inner-join lineage must still eliminate the orders join:\n$after2")
    }
    // Same-NAMED column aliased from an unrelated table: the name matches
    // the registry but the values are events.user_id, for which no
    // constraint was ever declared → must decline.
    val ev = graft.operators.Relational.t(spark, sf(), "events")
      .select(col("user_id").as("l_orderkey"))
    val p2 = ev.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(p2.contains("Join"),
      s"alias from an undeclared table must keep its join:\n$p2")
    // Lineage THROUGH value-preserving shapes still fires: a filter and an
    // attribute-only project on the fact side do not change the values the
    // constraint covers, so the unused dimension still drops.
    val p4 = li.filter(col("l_quantity") > 10).select("l_orderkey", "l_returnflag")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(!p4.contains("orders.parquet"),
      s"filtered+projected fact keeps provable lineage — join must still eliminate:\n$p4")
  }

  test("every forced broadcast carries an explicit boundedness annotation") {
    // A broadcast()/hint("broadcast") bypasses AQE's size guards, so every
    // site must state WHY the frame cannot grow with the corpus — the
    // repo-wide discipline that caught geo_dbscan's O(n) forced broadcast.
    // Convention: the line carries a trailing `// bounded: <argument>`.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if (l.contains("broadcast(") || l.contains("hint(\"broadcast\")"))
            && !l.contains("bounded:") => s"$p:${i + 1}: ${l.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      s"forced broadcasts without a boundedness annotation:\n${offenders.mkString("\n")}")
  }

  test("top-k is TakeOrdered, not a global sort") {
    assert(plan("q10_top_parts_by_revenue").contains("TakeOrderedAndProject"),
      "limit after sort should plan TakeOrderedAndProject")
    assert(plan("ta_ngram_freq").contains("TakeOrderedAndProject"),
      "bigram top-20 should plan TakeOrderedAndProject")
    assert(plan("sp_weighted_sample").contains("TakeOrderedAndProject"),
      "priority sample should plan TakeOrderedAndProject")
    assert(plan("rt_bm25").contains("TakeOrderedAndProject"),
      "bm25 top-k should plan TakeOrderedAndProject")
  }

  test("contamination screen joins corpus grams against a BROADCAST eval gram set") {
    // The corpus-side gram stream (the TB-scale side) must meet the eval
    // grams through a broadcast hash join — a sort-merge join here would
    // shuffle every corpus gram on the skewed gram key. The eval branch's
    // own tiny distinct may shuffle; that side is KBs by construction.
    val p = plan("dd_contamination")
    assert(p.contains("BroadcastHashJoin [gram"), s"eval side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams must never sort-merge on the gram key:\n$p")
  }

  test("bm25 joins the tf stream against BROADCAST df and corpus stats") {
    // df (term-cardinality rows) and the one-row corpus stats broadcast;
    // the tf stream — already pruned to query terms — is never the build
    // side of anything and never sort-merges on the skewed term key.
    val p = plan("rt_bm25")
    assert(p.contains("BroadcastHashJoin [term"), s"df join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge joins in the scoring plan:\n$p")
  }

  test("token chunking is a pure narrow fan-out (no required shuffle above the scan)") {
    // The explode is the highest-fan-out op in the pipeline; its plan must
    // need no exchange so chunks stream straight into a downstream writer.
    // Allowed: the spread() explicit repartition (REPARTITION_BY_NUM — it
    // parallelizes the single-file test input, not a plan requirement) and
    // the gate's output-sort range exchange. Forbidden: any
    // ENSURE_REQUIREMENTS hash exchange (a real shuffle dependency).
    val p = plan("pl_chunk_tokens")
    val required = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(required.isEmpty, s"chunking must not require a hash shuffle:\n$p")
  }

  test("pagerank rounds join edges to ranks equality-keyed with exact decimal mass sums") {
    val q = SparkEntry.queries("ss_pagerank")(spark, sf()).queryExecution
    val p = q.executedPlan.toString
    // The edges-to-ranks join each round must be an equality-keyed HASH
    // join family member; the only nested-loop allowed is the broadcast of
    // the ONE-ROW n_nodes scalar. Count them: 3 rounds → 3 broadcast NLJs
    // for the scalar + the init's, and every remaining join is a hash join.
    // Equality-keyed joins (hash OR sort-merge) are both fine; degenerate
    // is a cartesian, or more nested-loops than the one-row n_nodes
    // broadcasts (one per round + init).
    val nljs = p.linesIterator.count(_.contains("NestedLoopJoin"))
    val cartesians = p.linesIterator.count(_.contains("CartesianProduct"))
    assert(cartesians == 0, s"rank joins degenerated to cartesian:\n$p")
    assert(nljs <= PrItersPlusInit,
      s"only the one-row n_nodes broadcasts may nested-loop ($nljs found):\n$p")
    // The mass summation must run over DECIMAL(38,18) — the property that
    // makes ranks order-independent. Assert on the ANALYZED plan, where
    // column types are visible (the physical string hides them).
    assert(q.analyzed.toString.contains("decimal(38,18)"),
      s"contribution sums must be decimal-exact:\n${q.analyzed}")
  }
  private val PrItersPlusInit = graft.operators.Similarity.PrIters + 1

  test("spatial radius join is equality-keyed on grid cells, never nested-loop") {
    val p = plan("geo_radius_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"geo_radius_join must join on cell ids, not compare all pairs:\n$p")
    // The distance predicate rides INSIDE the equality join's condition —
    // non-qualifying candidates die in the join operator, they are not
    // re-filtered from a wider join output.
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("pcx")),
      s"geo_radius_join's cell-id equality keys missing from the join node:\n$p")
    // The derived neighbor analyses read the STORED pair table (the spatial
    // ingest artifact) instead of re-running the candidate join — their
    // plans must contain no grid self-join at all.
    val nn = plan("geo_nn")
    assert(nn.contains("geo_nbr_pairs"), s"geo_nn must read the stored pair table:\n$nn")
    assert(!nn.contains("pcx"), s"geo_nn must not re-run the grid candidate join:\n$nn")
  }

  test("skyline reduces per-partition before the single global pass") {
    val p = plan("an_skyline")
    // Stage (3)'s prune is the typed mapPartitions scan; it must sit
    // BELOW the final window's single-partition exchange so the global
    // stage only ever sees local-skyline survivors.
    val lines = p.linesIterator.toSeq
    val prune = lines.indexWhere(_.contains("MapPartitions"))
    val global = lines.indexWhere(_.contains("SinglePartition"))
    assert(prune >= 0, s"local prune scan missing:\n$p")
    assert(global >= 0 && global < prune,
      s"global pass must consume the pruned survivors (plan prints top-down):\n$p")
  }

  test("bpe training round and encode keep their aggregations partial and joins keyed") {
    // The gate queries serve from the stored merge table, so the ONE-TIME
    // per-round training plan is audited directly (knn_graph pattern).
    val round = graft.operators.BpeTrainer.trainingRoundPlan(spark, sf())
      .queryExecution.executedPlan.toString
    assert(round.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"weighted pair counts must combine map-side:\n$round")
    assert(!round.contains("CartesianProduct"), s"round plan degenerated:\n$round")
    val pairs = plan("ta_bpe_pairs")
    assert(pairs.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"weighted pair counts must combine map-side:\n$pairs")
    // Encode: the vocabulary's word→length map broadcasts into the
    // doc-word join; the only nested loop is the one-row merge-table array.
    val enc = plan("ta_bpe_encode")
    assert(enc.contains("BroadcastHashJoin"), s"encode lost the vocab broadcast:\n$enc")
    assert(!enc.contains("CartesianProduct"), s"encode degenerated:\n$enc")
  }

  test("group cap ranks under WindowGroupLimit on both sides of the exchange") {
    val p = plan("sp_group_cap")
    // Partial WindowGroupLimit BELOW the shuffle caps each map task at ≤k
    // rows per group, so the exchange carries the capped sample, not the
    // corpus; the post-shuffle instance finalizes the rank.
    val limits = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(limits >= 2, s"expected partial+final WindowGroupLimit, found $limits:\n$p")
  }

  test("profile computes every column's stats in one aggregation over one scan") {
    val p = plan("dq_profile")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"dq_profile must profile all columns from ONE scan, found $scans:\n$p")
    // And WITHOUT the multi-distinct Expand: every column's exact distinct
    // is the count of its non-null groups in one keyed aggregate, so no
    // distinct aggregate is planned — the Expand used to multiply the
    // scan ×5 and was ~2/3 of the query (r12 ProfileProbe A/B).
    assert(!p.contains("Expand"),
      s"dq_profile's distinct tier must not re-introduce the Expand:\n$p")
  }

  test("dataset card computes every rollup level from one scan (Expand, no re-scan)") {
    val p = plan("pl_dataset_card")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"pl_dataset_card must roll up from ONE scan, found $scans:\n$p")
    assert(p.contains("Expand"), s"rollup levels should share the scan via Expand:\n$p")
  }

  test("bitmap distinct aggregates partially map-side (OR before shuffle)") {
    val p = plan("an_bitmap_distinct")
    // The udaf runs in ObjectHashAggregate; a partial mode instance before
    // the exchange is what bounds shuffle volume to one buffer per
    // (group, segment) per map task.
    assert(p.contains("ObjectHashAggregate"), s"bitmap agg not object-hash:\n$p")
    assert(p.linesIterator.exists(l => l.contains("ObjectHashAggregate") && l.contains("partial")),
      s"bitmap agg lost its map-side partial phase:\n$p")
  }

  test("hybrid RRF meets the corpus posting stream through a BROADCAST query-shingle join") {
    // The corpus-side shingle explode (the TB-scale side) must be filtered
    // by the bounded query gram set via broadcast — the dd_contamination
    // shape; sort-merge there would shuffle every corpus posting on the
    // skewed shingle key.
    val p = plan("rt_hybrid_rrf")
    assert(p.contains("BroadcastHashJoin [sng"), s"query shingles must broadcast:\n$p")
  }

  test("duplicate-span detection joins gram streams equality-keyed with partial dup counts") {
    val p = plan("dd_dup_spans")
    // The duplicated-gram set must come from a partial-then-final count
    // (the gram stream is corpus-sized; the exchange must carry per-map
    // partials) and join back to the positioned stream by hash EQUALITY.
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"dup-gram count lost its map-side partial phase:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"dup-gram probe fell back to a non-equality join:\n$p")
  }

  test("NB prediction joins the BROADCAST model against the test token stream") {
    // The scoring PASS runs once into the stored score frame; its plan must
    // broadcast the model (vocab × |labels|) and label stats so the
    // corpus-sized test token stream never shuffles on the skewed token
    // key, with the training count map-side partial.
    val b = graft.operators.Learn.nbScoresBuild(spark, sf())
      .queryExecution.executedPlan.toString
    assert(b.contains("BroadcastHashJoin [lang") || b.contains("BroadcastHashJoin [token"),
      s"model join must broadcast:\n$b")
    val trainAggPartial = b.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count"))
    assert(trainAggPartial, s"training count lost its map-side partial phase:\n$b")
    // The consuming query reads the session-PINNED stored frame (no
    // rescoring — the localCheckpoint surfaces as an ExistingRDD scan, not
    // a parquet scan) and its per-document argmax is a map-side-bounded
    // WindowGroupLimit.
    val p = plan("cl_nb_predict")
    assert(p.contains("ExistingRDD"), s"prediction must read the pinned score frame:\n$p")
    assert(!p.contains("Scan parquet"), s"prediction must not rescan the corpus:\n$p")
    assert(p.contains("WindowGroupLimit"), s"argmax lost its group limit:\n$p")
  }

  test("LM perplexity scoring joins the BROADCAST bigram model with partial-agg counts") {
    // The scoring PASS (audited on the build frame, the nbScoresBuild
    // pattern) must broadcast the bigram model against the heldout
    // transition stream with map-side partial counting.
    val b = graft.operators.Learn.lmHeldoutScoredBuild(spark, sf())
      .queryExecution.executedPlan.toString
    assert(b.contains("BroadcastHashJoin"), s"model join must broadcast:\n$b")
    assert(b.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial_count")),
      s"bigram counting lost its map-side partial phase:\n$b")
    assert(!b.contains("CartesianProduct"), s"unexpected cartesian:\n$b")
    // The consuming query reads the pinned stored frame — no rescoring.
    val p = plan("cl_lm_perplexity")
    assert(p.contains("ExistingRDD"), s"perplexity must read the pinned scored frame:\n$p")
    assert(!p.contains("Scan parquet"), s"perplexity must not rescan the corpus:\n$p")
  }

  test("AUC ranks without a single-partition global sort") {
    // globalRowNumbers range-partitions by score; a plain ORDER BY window
    // would appear as an Exchange SinglePartition feeding a Window.
    val p = plan("cl_auc")
    // No Window node at all: ranking must run on the zipWithIndex RDD path
    // (range partition + per-partition offsets), which surfaces in the SQL
    // plan as an ExistingRDD scan — the an_gini/sp_row_numbers machinery.
    assert(!p.contains("Window ["), s"AUC fell back to a global window sort:\n$p")
    assert(p.contains("ExistingRDD"), s"AUC lost the distributed numbering path:\n$p")
  }

  test("grouped quantile selections rank without a |groups|-capped window") {
    // A Window.partitionBy(event_type) over RAW rows caps the sort's
    // parallelism at the handful of event types regardless of cluster size.
    // an_histogram_equidepth ranks per-row, so it must stay on the
    // range-partition numbering path (no Window node at all).
    locally {
      val p = plan("an_histogram_equidepth")
      assert(!p.contains("Window ["),
        s"an_histogram_equidepth ranks under a grouped window:\n$p")
      assert(p.contains("ExistingRDD"),
        s"an_histogram_equidepth lost the distributed numbering path:\n$p")
    }
    // ev_mad_outliers/ev_winsorize select VALUES at ranks, so they rank over
    // the (event_type, value) HISTOGRAM instead (the ev_ks value-grid
    // argument: the window input is bounded by the value domain, not the
    // corpus). The contract: exactly one corpus scan feeding one hash
    // aggregation to the checkpointed grid (ExistingRDD), with every Window
    // riding the grid — never a second corpus scan for a rank pass.
    for (name <- Seq("ev_mad_outliers", "ev_winsorize")) {
      val p = plan(name)
      assert(p.contains("ExistingRDD"), s"$name lost the checkpointed histogram:\n$p")
      assert(!p.contains("Scan parquet"),
        s"$name rescans the corpus past the histogram build:\n$p")
    }
  }

  test("best-match ER resolves the per-probe argmax under WindowGroupLimit") {
    val p = plan("er_best_match")
    assert(p.contains("WindowGroupLimit"), s"per-probe argmax lost its group limit:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"candidate tier fell back to a non-equality join:\n$p")
  }

  test("no query funnels corpus rows through a single-partition window") {
    // An `Exchange SinglePartition` feeding a Window is the classic
    // unscalable rank: the whole input serializes through one task. The
    // allowlisted queries run such a window DELIBERATELY over frames that
    // are already metadata-sized — an_skyline's |local-skylines| exact
    // pass, and the two df-histogram queries' grand-total over the ≤31-row
    // power-of-two histogram (a bound by CONSTRUCTION of the bucket
    // ladder; the broadcast-one-row-aggregate alternative would plan the
    // histogram's input subtree twice, re-executing rt_df_incremental's
    // whole stale+delta merge) — each documented in its operator;
    // everything else (round 6 rewrote the chi-square / mixture / drift
    // totals as broadcast one-row aggregates) must rank via partitioned
    // windows or the range-partition numbering path.
    val allowed = Set("an_skyline", "rt_df_histogram", "rt_df_incremental")
    for ((name, p) <- plans if !allowed(name)) {
      assert(!PlanAuditSpec.hasGlobalWindowFunnel(p),
        s"$name windows over a single-partition exchange:\n$p")
    }
  }

  test("no query plans a corpus subtree twice without an allowlisted reason") {
    // The double-planned-subtree hazard (r12): a frame feeding two
    // consumers without materialization plans — and EXECUTES — its whole
    // subtree once per consumer. It produced two real fixes in r12
    // (ev_cuped's per-user `arms` aggregation ran twice; rt_df_histogram's
    // grand-total cross join re-executed rt_df_incremental's entire
    // stale+delta merge), and its clearance was README prose + a manual
    // tool until this test. This is tools/RescanAudit's walk as a
    // regression pin: count each CORPUS parquet location's scan nodes in
    // every initial physical plan; a table scanned ≥2× must sit within the
    // allowlist below — the r12-reviewed set, each row a DELIBERATE
    // multi-scan of a column-pruned raw table, never an unmaterialized
    // expensive derived tier. Stored-structure re-reads (tmp parquet) are
    // NOT gated: re-reading a stored artifact is cheap by design. A new
    // query tripping this must either materialize the shared frame
    // (Dedup.materialized / the Stored tier) or earn a reviewed row here.
    val allowed: Map[String, Map[String, Int]] = Map(
      // Grand-total / corpus-baseline second pass (one-row broadcast
      // aggregate of the same pruned table joined back to the groups):
      "an_benford" -> Map("orders.parquet" -> 2),
      "an_seasonality" -> Map("events.parquet" -> 2),
      "dd_rate_by_source" -> Map("documents.parquet" -> 2),
      "pl_curriculum" -> Map("documents.parquet" -> 2),
      "q18_above_avg_orders" -> Map("orders.parquet" -> 2),
      "q24_approx_distinct" -> Map("lineitem.parquet" -> 2), // approx vs exact comparison legs
      "q45_corr_subquery" -> Map("orders.parquet" -> 3), // decorrelated subquery = agg leg + probe leg
      "ta_salience" -> Map("documents.parquet" -> 3), // term, document, and corpus statistic legs
      // Self-joins: query side and corpus side (or both event roles) of ONE
      // table, each leg independently column-pruned/filtered at the scan:
      "cl_knn_label" -> Map("embeddings.parquet" -> 2),
      "dd_edit_pairs" -> Map("documents.parquet" -> 2),
      "dd_embed_pairs" -> Map("embeddings.parquet" -> 2),
      "dd_semantic" -> Map("embeddings.parquet" -> 2),
      "j1_asof_error_click" -> Map("events.parquet" -> 2), // error role + click role
      "sp_salted_join" -> Map("events.parquet" -> 2), // skewed fact leg + derived dim leg
      "ss_filtered_knn" -> Map("embeddings.parquet" -> 2),
      "ss_hard_negatives" -> Map("embeddings.parquet" -> 2),
      "ss_topk_bruteforce" -> Map("embeddings.parquet" -> 2),
      "ev_error_click_outer" -> Map("events.parquet" -> 2),
      "ev_error_click_pairs" -> Map("events.parquet" -> 2),
      // Cohort/baseline event analytics: anchor-event leg + activity leg:
      "ev_anomaly" -> Map("events.parquet" -> 2), // window leg + baseline leg
      "ev_cohort_ltv" -> Map("events.parquet" -> 2),
      "ev_cusum" -> Map("events.parquet" -> 2),
      "ev_hll_rollup" -> Map("events.parquet" -> 2), // leaf sketch leg + exact-audit leg
      "ev_ks_ab" -> Map("events.parquet" -> 2), // the two experiment arms
      "ev_retention" -> Map("events.parquet" -> 2),
      "ev_funnel" -> Map("events.parquet" -> 6), // one pruned scan per funnel step
      "ev_locf" -> Map("events.parquet" -> 3), // observed leg + spine legs
      // Set operations / diffs: each branch is its own pruned scan:
      "cd_snapshot_diff" -> Map("documents.parquet" -> 3), // older + perturbed kept + perturbed added
      "q14_setops_nations" -> Map(
        "supplier.parquet" -> 3, "customer.parquet" -> 3, "nation.parquet" -> 6),
      "q34_setops_all" -> Map("orders.parquet" -> 4),
      // Per-check audits: one pruned scan per expectation or cascade leg.
      // dq_referential, absent here, folds every constraint into one
      // union-aggregate over one scan per table; dq_expectations has the
      // same per-check shape and could take that form too:
      "dq_erasure" -> Map("customer.parquet" -> 3, "orders.parquet" -> 2),
      "dq_expectations" -> Map(
        "lineitem.parquet" -> 2, "documents.parquet" -> 3, "orders.parquet" -> 4),
      // Runtime-pruning audits: build leg + probe leg (+ exact-audit leg):
      "j3_bloom_semijoin" -> Map("orders.parquet" -> 3),
      "j6_bloom_fp_audit" -> Map("lineitem.parquet" -> 3, "orders.parquet" -> 2),
      // ANN pipelines: the tiny query side re-scores against broadcast
      // structures while the corpus side rides the STORED index — each
      // extra scan is the pruned query-vector leg (or, for recall, the two
      // component pipelines' query legs):
      "rt_hybrid_rrf" -> Map("embeddings.parquet" -> 2),
      "ss_ann_ivf" -> Map("embeddings.parquet" -> 2),
      "ss_ann_pq" -> Map("embeddings.parquet" -> 3),
      "ss_ann_ivfpq" -> Map("embeddings.parquet" -> 4),
      "ss_ann_lsh" -> Map("embeddings.parquet" -> 4),
      "ss_ann_recall" -> Map("embeddings.parquet" -> 6),
      // Iterative fixpoint with LINEAR lineage: one pruned vec_id scan per
      // power iteration, never a duplicated subtree (r19: the per-round
      // one-row n_nodes count aggregate folded into a stored scalar —
      // lm_vocab_v device — halving the scan count from 8):
      "ss_pagerank" -> Map("embeddings.parquet" -> 4),
    )
    val dir = sf()
    // Bidirectional pin: observed > allowed is the regression this test
    // exists for; observed < allowed means a row went STALE (the plan got
    // better), and keeping the over-generous cap would silently re-admit
    // up to cap scans later — tighten the row instead. The walk itself is
    // RescanAudit's (one definition, no tool-vs-gate drift).
    for ((name, p) <- plans) {
      val corpus = graft.tools.RescanAudit.scanLocations(p).filter(_.contains(dir))
        .map(_.split('/').last).groupBy(identity).view.mapValues(_.size).toMap
      for ((table, n) <- corpus if n >= 2) {
        val cap = allowed.getOrElse(name, Map.empty).getOrElse(table, 1)
        assert(n <= cap,
          s"$name plans $n scans of $table (allowed ${cap max 1}) — a shared subtree " +
            "is likely planned per consumer; materialize it (Dedup.materialized / " +
            "Stored tier) or review and allowlist with a reason")
      }
      for ((table, cap) <- allowed.getOrElse(name, Map.empty)) {
        val n = corpus.getOrElse(table, 0)
        assert(n == cap,
          s"$name's allowlist row for $table (cap $cap) is stale — the plan now " +
            (if (n == 0) "does not scan it at all"
             else s"scans it $n×") + "; tighten the row so the pin stays exact")
      }
    }
  }

  test("phrase search is one aggregation — no positional join chain") {
    // The anchor formulation must plan ZERO joins (the classic k-term
    // phrase plan is k−1 positional self-joins) and prune postings to the
    // phrase terms before any exchange.
    val p = plan("rt_phrase_search")
    assert(!p.contains("Join"), s"phrase search grew a join:\n$p")
    assert(p.contains("isin") || p.contains("IN ("), s"posting prune lost:\n$p")
  }

  test("NOT IN plans a null-aware anti join, not a nested-loop fallback") {
    // The planner cannot prove the NULLIF-wrapped build side non-null, so a
    // plain LeftAnti hash join would be WRONG under three-valued logic; the
    // single-key form must stay a broadcast hash join with the null-aware
    // flag (the trailing `true` build argument), never the O(n·m)
    // BroadcastNestedLoopJoin general-NAAJ fallback.
    val p = plan("q47_notin_nullaware")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"NOT IN lost its broadcast anti join:\n$p")
    assert(!p.contains("NestedLoop"), s"NAAJ fell back to nested loop:\n$p")
  }

  test("curriculum position computes without a global-window funnel") {
    // The only Window may be the per-source rank; the naive global
    // ROW_NUMBER form would surface as an Exchange SinglePartition feeding a
    // Window (the closed form replaces it with a one-row broadcast join).
    // The gate-only output sort is allowed to single-partition.
    val p = plan("pl_curriculum")
    assert(!PlanAuditSpec.hasGlobalWindowFunnel(p),
      s"curriculum grew an unpartitioned window:\n$p")
    val windowLines = p.linesIterator.filter(PlanAuditSpec.isWindowLine).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("source")),
      s"curriculum's rank window must partition by source:\n${windowLines.mkString("\n")}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"source-count table is not broadcast:\n$p")
  }

  test("filter funnel costs one corpus scan and zero joins") {
    // Every stage signal derives from one token explode + two aggregations;
    // the 4-row report is a literal-array explode of the one-row totals — a
    // filter-at-a-time implementation would rescan per stage or join the
    // per-doc frame against itself.
    val p = plan("pl_filter_funnel")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"funnel must read the corpus exactly once:\n$p")
    assert(!p.contains("Join"), s"funnel grew a join:\n$p")
  }

  test("DSIR scoring broadcasts both bounded feature LMs") {
    // The hashed feature space caps both model tables at DsirFeatures rows;
    // the scoring PASS (run once into the stored weight frame) must join
    // the corpus-side tf stream against them by broadcast (plus the
    // one-row totals cross-join), never shuffle corpus rows on `feat`
    // toward a merge join.
    val b = graft.operators.Learn.dsirWeightsBuild(spark, sf())
      .queryExecution.executedPlan.toString
    assert(b.contains("BroadcastHashJoin"), s"feature LM join lost broadcast:\n$b")
    assert(!b.contains("SortMergeJoin"),
      s"corpus tf stream shuffled into a merge join on the bounded side:\n$b")
    // The consuming query reads the STORED weights, not a rescoring pass.
    val p = plan("pl_dsir_weights")
    assert(p.contains("dsir_weights"), s"weights must come from the stored frame:\n$p")
  }

  test("eager aggregation pre-aggregates both join inputs for the gate query") {
    // q51's count/sum decomposes, so BOTH join children must collapse to
    // key-level aggregates before the join (the fact table never enters
    // the join) — the graft_cl/graft_cr partials are the rule's signature.
    val p = plan("q51_eager_agg")
    assert(p.contains("graft_cl") && p.contains("graft_cr"),
      s"eager aggregation did not fire:\n$p")
    // Negative guard: a DECIMAL revenue sum must stay un-rewritten
    // (re-associating decimal partials widens precision — the bit-exactness
    // contract), so the classic join-then-aggregate remains.
    val q3 = plan("q3_revenue_by_nation")
    assert(!q3.contains("graft_cl"), s"decimal sum must not be rewritten:\n$q3")
  }

  test("semantic dedup reads the stored cell index and joins on cell equality") {
    // Training ran once into the stored-structure tier; the query plan must
    // consume the parquet cell assignment and pair members by an EQUALITY
    // join on the cell id — the SemDeDup contract that caps the pair tier
    // at Σ|cell|² (a cross-vector nested loop would be the O(n²) it exists
    // to avoid).
    val p = plan("dd_semantic")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"semantic dedup fell back to a non-equality pair join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("Scan parquet") && l.contains("ivf_cells")),
      s"semantic dedup must read the stored cell index:\n$p")
  }
}

object PlanAuditSpec {
  /** A keyed `ObjectHashAggregate` or `SortAggregate` line that merges
    * buffers (`merge_` functions): the aggregate that carries non-fixed-width
    * buffers across an exchange, one group per key.
    */
  private val KeyedObjectMerge = """(ObjectHashAggregate|SortAggregate)\(keys=\[[^\]].*merge_""".r

  /** True when the plan holds a distinct aggregate and a keyed object or
    * sort aggregate that merges buffers: the shape a lone distinct takes
    * beside collect_set-style aggregates, which then ride one group per
    * distinct value.
    */
  def hasDistinctOverObjectBuffers(plan: String): Boolean =
    plan.contains("(distinct ") && plan.linesIterator.exists(KeyedObjectMerge.findFirstIn(_).isDefined)

  /** A physical `Window` node line, whatever its tree-drawing prefix
    * (`+- `, `:- `, `:  +- `, indentation, codegen `*(n) ` stage ids) —
    * `trim.startsWith("Window ")` misses every non-root node. Anchored so
    * `WindowGroupLimit` and mentions inside expression text do not match.
    */
  private val WindowNode = """^[\s:|+\-]*(\*\(\d+\) )?Window \[.*""".r
  def isWindowLine(line: String): Boolean = WindowNode.matches(line)

  /** True when a Window node's input (the next few plan lines — its Sort and
    * Exchange children) funnels through `Exchange SinglePartition`: the
    * unscalable global-rank shape. Validated against a planted
    * `row_number() OVER (ORDER BY ...)` plan, which prints as
    * Window → Sort → Exchange SinglePartition.
    */
  def hasGlobalWindowFunnel(plan: String): Boolean = {
    val lines = plan.linesIterator.toVector
    lines.indices.exists { i =>
      isWindowLine(lines(i)) &&
        lines.slice(i + 1, i + 4).exists(_.contains("Exchange SinglePartition"))
    }
  }
}
