/** Physical-plan audit tool: prints, per query, the exchange/join-shape
  * summary used in the per-round "plan you'd want at 100×" review
  * (shuffle count, broadcast vs sort-merge joins, cartesian products,
  * scan pushdowns, whole-stage-codegen stages). Usage:
  *
  *   sbt "runMain PlanAudit [sfDir] [queryName ...]"
  *
  * No query names = audit every SparkEntry query. BNLJ counts are
  * expected to be the deliberate 1-row broadcast scalar frames
  * (corpus totals); anything else shows up as a Cartesian and is also
  * rejected by PlanGuardSpec.
  *
  * The codegen column is measured on the EXECUTED plan (r12 verdict
  * ask #2): each query is collect()ed first, because under AQE the
  * pre-execution AdaptiveSparkPlan string never contains the
  * WholeStageCodegen markers — the `*(N)` ids only exist once the
  * final stages are planned. `wsc` counts distinct `*(N)` codegen-
  * stage ids in the final plan; a codegen-broken plan reads wsc=0 and
  * PlanSpec's flagship assertions fail CI on it.
  */
object PlanAudit {
  import graft.PlanMetrics.wscStages

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val s = graft.GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // Artifact header (r16 ADVICE): the counting method changed in r16
    // — operator counts now come from the FORMATTED explain and so no
    // longer include ReusedExchange/ReusedSubquery or AQE-inserted
    // nodes, while pre-r16 artifacts counted tree-string lines that
    // additionally reprinted every scalar-subquery subtree at each
    // reference. Cross-round diffs against PLAN_AUDIT_r15 and earlier
    // are therefore NOT comparable; the drop is partly a counting fix.
    println("# counting=formatted-explain (r16+): one count per physical " +
      "operator; excludes Reused*/AQE-inserted nodes. NOT comparable to " +
      "pre-r16 tree-string artifacts (those reprinted subquery subtrees " +
      "per reference).")
    println("# r17 visibility change: persisted (InMemoryRelation) " +
      "subtrees print their internal exchanges, which the r16-era " +
      "localCheckpoint leaves HID — small increases on converted " +
      "queries are counting visibility, not new shuffles (A/B timings " +
      "are the ground truth); decreases are genuine cache-sharing " +
      "collapses.")
    println("# session=GraftSession: plans are the ones Bench times " +
      "(32 MB broadcast ceiling, 4 MB advisory partitions). Artifacts up " +
      "to PLAN_AUDIT_r18 audited a plain session (10 MB broadcast).")
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(s, d)
      df.collect() // materialize: AQE finalizes stages, codegen ids exist
      val planStr = df.queryExecution.executedPlan.toString
      // Operator counts come from the FORMATTED explain (r16): each
      // physical operator prints once as "(N) <Name>" there, while the
      // tree-string repeats every scalar-subquery subtree at each
      // reference — with the r16 lazy tier that inflated a 17-exchange
      // plan to 367 printed "Exchange" lines. wsc still reads the tree
      // string (distinct codegen ids, duplication-immune).
      val fmt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val ops = "(?m)^\\(\\d+\\) ([A-Za-z]+)".r
        .findAllMatchIn(fmt).map(_.group(1)).toSeq
      def c(tag: String) = ops.count(_ == tag)
      val exchanges = c("Exchange") + c("BroadcastExchange")
      println(f"$n%-28s exchanges=$exchanges%-3d bhj=${c("BroadcastHashJoin")}%-3d " +
        f"smj=${c("SortMergeJoin")}%-3d cart=${c("CartesianProduct")}%-2d " +
        f"bnlj=${c("BroadcastNestedLoopJoin")}%-2d wsc=${wscStages(planStr)}%d")
    }
    s.stop()
  }
}
