package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (the "is this the plan you'd want at 100 TB"
  * gate): predicate pushdown reaches the parquet scan, column pruning
  * narrows ReadSchema, broadcast hints pin BroadcastHashJoin, the
  * flagship aggregation is whole-stage-codegen'd, and a date-partitioned
  * layout prunes partitions (SURVEY.md §4).
  */
class PlanSpec extends AnyFunSuite {
  import TestBase._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_scan_filter pushes predicates into the parquet scan") {
    val p = plan(graft.operators.RelationalOps.scanFilter(spark, sf0001))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag filter not pushed:\n" + p)
    assert(p.contains("GreaterThanOrEqual(l_quantity"), "quantity range not pushed:\n" + p)
  }

  test("q_scan_project prunes columns at the scan (ReadSchema narrow)") {
    val p = plan(graft.operators.RelationalOps.scanProject(spark, sf0001))
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_discount"))
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"),
      "scan reads columns the query never uses: " + read)
  }

  test("q_join_broadcast pins BroadcastHashJoin for both dims") {
    val p = plan(graft.operators.JoinOps.joinBroadcast(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ:\n" + p)
  }

  test("q_agg_pricing: flagship is whole-stage-codegen'd partial+final hash agg") {
    val df = graft.operators.RelationalOps.aggPricing(spark, sf0001)
    val cg = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg.take(500))
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expected partial+final agg:\n" + p)
  }

  test("flagships run with ≥1 whole-stage-codegen stage in the EXECUTED plan") {
    // r12 verdict ask #2: the pre-execution AQE plan string never
    // contains `*(N)` markers, so the plan audit's wsc column was dead.
    // Executed-plan markers are the real fusion evidence — a codegen-
    // broken plan (e.g. a non-codegen expression in the hot path)
    // drops to wsc=0 here and fails CI.
    for ((name, df) <- Seq(
        "q_agg_pricing" -> graft.operators.RelationalOps.aggPricing(spark, sf0001),
        "q_sessionize" -> graft.operators.WindowOps.sessionize(spark, sf0001))) {
      df.collect()
      val wsc = PlanDump.wscStages(df.queryExecution.executedPlan.toString)
      assert(wsc >= 1, s"$name executed with no WholeStageCodegen stage:\n" +
        df.queryExecution.executedPlan.toString)
    }
  }

  test("q_similarity_topk broadcasts the tiny query side") {
    val p = plan(graft.operators.LlmOps.similarityTopk(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("PQ index build broadcasts the codebook and reduces via ObjectHashAggregate") {
    // the encode moved into the build-once index (LlmOps.pqIndexDir);
    // the plan contract guards the BUILD plan now
    import org.apache.spark.sql.functions.col
    val L = graft.operators.LlmOps
    val em = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sub = L.pqSub(em)
    val p = plan(L.pqEncode(sub, L.pqCodebook(sub)))
    assert(p.contains("BroadcastHashJoin"), "codebook join not broadcast:\n" + p)
    assert(p.contains("ObjectHashAggregate"), "argmax not on the bounded aggregate:\n" + p)
    assert(!p.contains("Window"), "PQ encoding planned a window sort:\n" + p)
  }

  test("q_embedding_pq reads the persisted PQ index, not the raw vectors") {
    val p = plan(graft.operators.LlmOps.embeddingPq(spark, sf0001))
    assert(!p.contains("embeddings.parquet"),
      "query re-derives codes from the source instead of the index:\n" + p)
    assert(!p.contains("Window"), p)
  }

  test("q_text_repetition runs without windows and evaluates the bigram HOF once") {
    val p = plan(graft.operators.CurationOps.textRepetition(spark, sf0001))
    assert(!p.contains("Window"), "repetition stats planned a window:\n" + p)
    // n_bg is arithmetic (size - 1), so exactly one projection in the
    // plan should build the bigram array — two would mean projection
    // collapse re-inlined the HOF (the round-1 MinHash pitfall)
    assert("array_distinct".r.findAllIn(p).length == 1,
      "bigram array referenced more than once in the plan:\n" + p)
  }

  test("runtime bloom filter injects on a selective fact join when thresholds allow") {
    // the 100 TB runtime-filtering path: a selective dim predicate
    // builds a bloom filter that prunes the fact scan before the
    // shuffle. Size thresholds gate injection (the test data is KBs),
    // so lower the application-side floor to demonstrate the plan.
    val conf = spark.conf
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // bloom injection targets SHUFFLE joins (a broadcast join already
    // prunes at the probe); the tiny fixture would broadcast
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = Tables.orders(spark, sf0001)
        .filter(col("o_totalprice") > 200000.0) // selective creation side
      val li = Tables.lineitem(spark, sf0001)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val p = plan(j)
      assert(p.toLowerCase.contains("bloom"),
        "no bloom filter injected on the fact side:\n" + p)
    } finally {
      conf.unset("spark.sql.autoBroadcastJoinThreshold")
      conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    }
  }

  test("q_join_bucketed: no exchange between the bucketed scans and the join") {
    val p = plan(graft.operators.LayoutOps.joinBucketed(spark, sf0001))
    assert(p.contains("SortMergeJoin"), p)
    // the only legal exchange is the post-join groupBy(o_orderstatus),
    // which sits ABOVE the join in the printed tree; the join's INPUTS
    // (printed below it) must be exchange-free — the co-located bucketed
    // scans feed the join directly.
    val tree = p.split("\n\n").head // the tree sketch, before node details
    val lines = tree.linesIterator.toVector
    val joinLine = lines.indexWhere(_.contains("SortMergeJoin"))
    assert(joinLine >= 0, p)
    val exchangeInInputs = lines.drop(joinLine + 1).exists(_.contains("Exchange"))
    assert(!exchangeInInputs, "bucketed join still shuffles its inputs:\n" + p)
  }

  test("q_pattern_match: session-store window runs with no exchange below it") {
    val p = plan(graft.operators.WindowOps.patternMatch(spark, sf0001))
    // the bucketed session store satisfies the window's required
    // distribution; the only legal exchange is the post-filter day
    // rollup, which sits ABOVE the window in the printed tree
    val tree = p.split("\n\n").head
    val lines = tree.linesIterator.toVector
    val windowLine = lines.indexWhere(_.contains("Window"))
    assert(windowLine >= 0, p)
    assert(!lines.drop(windowLine + 1).exists(_.contains("Exchange")),
      "pattern window still shuffles its input:\n" + p)
  }

  test("q_page_depth / q_user_loyalty: per-user aggregate reads the store with no exchange below it") {
    // the first (bucketed-store-side) HashAggregate must sit directly on
    // the scan: HashPartitioning(user_id) satisfies the per-(user, sid)
    // and per-user ClusteredDistributions, so the only legal exchanges
    // are the tiny histogram/bucket rollups ABOVE it
    for (df <- Seq(graft.operators.WindowOps.pageDepth(spark, sf0001),
                   graft.operators.WindowOps.userLoyalty(spark, sf0001),
                   graft.operators.WindowOps.sessionDurationHist(spark, sf0001))) {
      val tree = plan(df).split("\n\n").head
      val lines = tree.linesIterator.toVector
      val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
      assert(lastAgg >= 0, tree)
      assert(!lines.drop(lastAgg + 1).exists(_.contains("Exchange")),
        "store-side aggregate still shuffles its input:\n" + tree)
    }
  }

  test("q_session_report_dated: day-partitioned store prunes partitions AND stays exchange-free") {
    // the production store layout (r11 verdict ask #3): day partitioning
    // must land the date range in PartitionFilters (listing-level prune,
    // 7 of 30 days) while the user bucketing still satisfies the
    // (user_id, sid) ClusteredDistribution with no exchange
    val df = graft.operators.WindowOps.sessionReportDated(spark, sf0001)
    val p = plan(df)
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("day"), "day not in PartitionFilters: " + p)
    assert(p.linesIterator.filter(_.contains("PushedFilters:"))
             .forall(!_.contains("day")),
      "day leaked into PushedFilters (should be partition-only): " + p)
    val tree = p.split("\n\n").head
    val lines = tree.linesIterator.toVector
    val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(lastAgg >= 0, tree)
    assert(!lines.drop(lastAgg + 1).exists(_.contains("Exchange")),
      "dated report shuffles its input despite the bucket layout:\n" + tree)
    // runtime proof: only in-range days contribute
    val days = df.collect()
    assert(days.nonEmpty)
  }

  test("q_scan_partitioned prunes to the 3 selected day partitions") {
    val df = graft.operators.RelationalOps.scanPartitioned(spark, sf0001)
    val p = plan(df)
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("day"), "day not in PartitionFilters: " + p)
    // the day predicate must NOT also appear as a pushed DATA filter —
    // pruning happens at the listing; rows inside a kept partition are
    // read without re-filtering on day
    assert(p.linesIterator.filter(_.contains("PushedFilters:"))
             .forall(!_.contains("day")),
      "day leaked into PushedFilters (should be partition-only): " + p)
    val dataRows = df.collect()
    assert(dataRows.nonEmpty)
    assert(dataRows.map(_.getDate(0).toString).distinct.sorted.toSeq ==
      Seq("2024-01-10", "2024-01-11", "2024-01-12"))
  }

  test("q_heavy_hitters takes per-partition top-k — no global sort materializes") {
    val p = plan(graft.operators.LlmOps.heavyHitters(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the ONLY sort allowed is Fin.ord's final 50-row presentation sort;
    // the top-k cut itself must not be a full Sort + Limit
    val tree = p.split("\n\n").head
    val takeLine = tree.linesIterator.indexWhere(_.contains("TakeOrderedAndProject"))
    val sortBelowTake = tree.linesIterator.toVector.drop(takeLine + 1)
      .exists(_.contains("Sort"))
    assert(!sortBelowTake, "global sort under the top-k cut:\n" + p)
  }

  test("q_simjoin_prefix carries no unconditional broadcast hint") {
    // the doc-array frame is corpus-sized, so broadcasting it must stay
    // SIZE-GATED: the planner/AQE may broadcast at sf0.001 where
    // measured stats permit (correct), but the query itself must never
    // pin a broadcast() hint the way the r6 verify stage did — a hint
    // ignores size and would ship the corpus to every executor at scale
    val df = graft.operators.AffinityOps.simJoinPrefix(spark, sf0001)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"unconditional hints found: $hints")
  }

  test("q_bpe_encode broadcasts the bounded dictionary onto the token stream") {
    val p = plan(graft.operators.BpeOps.bpeEncode(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "dictionary join fell back to a corpus shuffle:\n" + p)
  }

  test("date-partitioned layout prunes partitions under a year filter") {
    val dir = tmpDir("part_layout")
    Tables.orders(spark, sf0001)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1996)
    val p = plan(pruned)
    // the filter must appear on the PartitionFilters line itself — a
    // looser contains() would match any plan referencing the column
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("o_year"), "o_year not in PartitionFilters: " + p)
    // runtime proof: only the 1996 partition's rows are scanned
    val n1996 = pruned.count()
    val total = spark.read.parquet(dir).count()
    assert(n1996 > 0 && n1996 < total)
  }

  test("q_dedup_keep_best reads the published cluster store, not the pair join") {
    val p = plan(graft.operators.CurationOps.dedupKeepBest(spark, sf0001))
    // the n-gram pair machinery must stay at ingest: no HOF gram
    // expression and no jaccard filter may appear in the query plan
    assert(!p.contains("ngram_hashes") && !p.contains("jaccard"),
      "keep_best re-derives clusters per query:\n" + p)
    assert(p.contains("doc_cluster_store"),
      "keep_best does not scan the published store:\n" + p)
  }

  test("q_forecast_daily: weekday means broadcast onto the generated horizon") {
    val p = plan(graft.operators.TimeSeriesOps.forecastDaily(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "7-row means not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "horizon join fell back to SMJ:\n" + p)
  }

  test("SQL-surface twins plan identically to their DataFrame originals") {
    // r11 verdict ask #5: the literal-SQL rows must not merely agree on
    // results — they must produce the SAME optimized Catalyst plan as
    // their DataFrame twins, so the two API surfaces cannot silently
    // diverge in shape. Compare canonicalized logical plans (expression
    // ids normalized by Spark itself, aliases stripped).
    val R = graft.operators.RelationalOps
    val pairs = Seq(
      "join_multiway" ->
        (R.sqlJoinMultiway(spark, sf0001),
         graft.operators.JoinOps.joinMultiway(spark, sf0001)),
      "sessionize" ->
        (R.sqlSessionize(spark, sf0001),
         graft.operators.WindowOps.sessionize(spark, sf0001)),
      "report_dated" ->
        (R.sqlReportDated(spark, sf0001),
         graft.operators.WindowOps.sessionReportDated(spark, sf0001)),
      "window_rank" ->
        (R.sqlWindowRank(spark, sf0001),
         graft.operators.WindowOps.windowRank(spark, sf0001)))
    for ((name, (sqlDf, dfDf)) <- pairs) {
      val a = sqlDf.queryExecution.optimizedPlan.canonicalized.toString
      val b = dfDf.queryExecution.optimizedPlan.canonicalized.toString
      assert(a == b, s"$name: SQL and DataFrame plans diverge:\nSQL:\n$a\nDF:\n$b")
    }
  }

  test("q_sql_report_dated: the SQL text's day range lands in PartitionFilters") {
    // partition pruning must reach through the SQL surface: the WHERE
    // day BETWEEN text prunes the listing exactly as the DataFrame
    // twin's filter does
    val p = plan(graft.operators.RelationalOps.sqlReportDated(spark, sf0001))
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("day"), "day not in PartitionFilters: " + p)
  }

  test("q_sql_sessionize consumes the bucketed store with no exchange below the aggregate") {
    // the SQL front end must get the same shuffle elision the DataFrame
    // path gets: HashPartitioning(user_id) from the store's bucket
    // layout satisfies the (user_id, sid) ClusteredDistribution
    val tree = plan(graft.operators.RelationalOps.sqlSessionize(spark, sf0001))
      .split("\n\n").head
    val lines = tree.linesIterator.toVector
    val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(lastAgg >= 0, tree)
    assert(!lines.drop(lastAgg + 1).exists(_.contains("Exchange")),
      "SQL store consumer still shuffles its input:\n" + tree)
  }

  test("graph queries read the published trade-edge store — no fact-table scan in any plan") {
    // r12 verdict ask #1: the lineitem⋈orders edge derivation is
    // ingest-time work (tradeEdgeStoreDir, built once per source
    // state); a graph query whose plan still scans a fact table is
    // re-deriving the family's dominant 100 TB cost per query
    val G = graft.operators.GraphOps
    val qs: Seq[(String, DataFrame)] = Seq(
      "q_pagerank" -> G.pageRank(spark, sf0001),
      "q_centrality" -> G.centrality(spark, sf0001),
      "q_graph_degree" -> G.graphDegree(spark, sf0001),
      "q_triangles" -> G.triangles(spark, sf0001),
      "q_graph_jaccard" -> G.graphJaccard(spark, sf0001),
      "q_graph_components" -> G.components(spark, sf0001),
      "q_graph_2hop" -> G.twoHop(spark, sf0001),
      "q_hits" -> G.hits(spark, sf0001),
      "q_graph_reciprocity" -> G.reciprocity(spark, sf0001),
      "q_assortativity" -> G.assortativity(spark, sf0001),
      "q_local_clustering" -> G.localClustering(spark, sf0001),
      "q_adamic_adar" -> G.adamicAdar(spark, sf0001),
      "q_graph_bfs" -> G.graphBfs(spark, sf0001),
      "q_k_core" -> G.kCore(spark, sf0001))
    for ((name, df) <- qs) {
      val p = plan(df)
      for (fact <- Seq("lineitem", "orders.parquet", "customer.parquet",
                       "supplier.parquet"))
        assert(!p.contains(fact),
          s"$name still scans $fact instead of the edge store:\n" + p)
    }
    // and the store itself is what the non-iterative plans scan
    // (pagerank/centrality/components checkpoint their iteration
    // inputs, so their FINAL plans show RDD leaves — the store read
    // happens when the checkpoint materializes)
    // (q_local_clustering / q_adamic_adar / q_graph_bfs checkpoint the
    // strong frame, so their final plans show RDD leaves like pagerank)
    for (name <- Seq("q_graph_degree", "q_triangles", "q_graph_jaccard",
                     "q_graph_2hop", "q_hits", "q_graph_reciprocity",
                     "q_assortativity", "q_k_core")) {
      val p0 = plan(qs.toMap.apply(name))
      assert(p0.contains("trade_edges"),
        s"$name: edge-store path not in scan:\n" + p0)
    }
  }

  test("q_curation_funnel: keeper set broadcasts; rollup is partial-aggregated") {
    val p = plan(graft.operators.CurationOps.curationFunnel(spark, sf0001))
    // component-count-sized keeper side must go map-side at this SF
    assert(p.contains("BroadcastHashJoin"), "no broadcast join in funnel:\n" + p)
    // the source rollup must partial-aggregate (map-side combine)
    assert(p.contains("HashAggregate"), p)
  }

  /** The r13-verdict ask: the data-proportional rank/prefix-sum queries
    * must run on the distributed tier — every window partitioned by the
    * tier's range-partition id (`__dp_pid`; the range exchange itself
    * sits below Dist.prefix's determinism checkpoint, so the pid column
    * in the window spec is the visible fingerprint) and ZERO windows
    * without a partition spec. PlanGuardSpec enforces the window half
    * for the whole inventory; this pins the positive half (the tier is
    * actually in the plan, not just the whitelist entry gone). */
  test("Dist-tier queries: pid-partitioned windows present, no unpartitioned window") {
    val distTier = Seq(
      "q_gini", "q_abc_pareto", "q_user_concentration", "q_decile_lift",
      "q_calibration", "q_stats_histogram", "q_ks_test", "q_mann_whitney",
      "q_kruskal_wallis", "q_auc", "q_pr_curve", "q_wasserstein",
      "q_cume_dist", "q_daily_p95", "q_concurrency", "q_compaction_plan",
      "q_skyline")
    // q_decile_lift (r15): its cumulative-capture window runs over the
    // CONSTANT 10-row decile rollup (ntile(10)'s output) — one 10-row
    // partition is the design (q_novelty_decay precedent), not a corpus
    // funnel; the __dp_pid assertion below still pins the tier on its
    // fact-scale score frame. The exemption is SCOPED (r16, r15
    // ADVICE): it only admits an unpartitioned window whose child
    // subtree contains the decile-grouped Aggregate — a future edit
    // adding a fact-scale unpartitioned window to this query fails
    // here instead of passing by query name.
    val constantFrameOk = Set("q_decile_lift")
    distTier.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sf0001).queryExecution
      val windows = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.exists(_.partitionSpec.exists(
               _.references.exists(_.name == "__dp_pid"))),
        s"$name: no __dp_pid-partitioned window — Dist tier not in plan")
      windows.foreach { w =>
        if (w.partitionSpec.isEmpty) {
          assert(constantFrameOk(name),
            s"$name still has an unpartitioned window:\n${w.windowExpressions}")
          val overDecileRollup = w.child.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
                if a.groupingExpressions.exists(
                  _.references.exists(_.name == "decile")) => a
          }.isDefined
          assert(overDecileRollup,
            s"$name: exempted unpartitioned window does not sit over " +
              s"the constant decile rollup:\n${w.windowExpressions}")
        }
      }
    }
  }
}
