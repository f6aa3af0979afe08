package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** The plan tool: per query, the formatted plan file that optimization
  * rounds commit as plan evidence (plans/rNN/), and an audit line of
  * the EXECUTED plan's shape.
  *
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [q ...]"
  * (no query names = every query, in inventory order). It runs in two
  * passes:
  *
  *  1. per query, writes `.explain("formatted")` of the plan BEFORE
  *     execution — the pre-execution AdaptiveSparkPlan the per-round
  *     plan review diffs — to <outDir>/<query>_<suffix>.txt. No query
  *     is collected in this pass;
  *  2. after dropping every cached frame, per query, builds it again,
  *     collect()s it and prints one audit line: `exchanges` (shuffle +
  *     broadcast), `bhj`, `smj`, `cart`, `bnlj` operator counts and
  *     `wsc`, the whole-stage-codegen stages.
  *
  * The passes are separate because executing a query materializes the
  * frames it shares ([[Iter.share]]), and a later query that reads one
  * of them then prints (and counts) the cached frame's executed plan
  * instead of its logical one: interleaving the two would make a plan
  * file depend on which queries ran before it.
  *
  * The audit reads the executed plan (r12 verdict ask #2): under AQE
  * the pre-execution plan carries no `*(N)` codegen markers — they
  * exist only once the final stages are planned. Operator counts come
  * from the FORMATTED explain (r16), where each physical operator
  * prints once as "(N) <Name>", so they exclude ReusedExchange /
  * ReusedSubquery and AQE-inserted nodes; the tree string would
  * reprint every scalar-subquery subtree at each reference. BNLJ
  * counts are expected to be the deliberate 1-row broadcast scalar
  * frames (corpus totals); anything else shows up as a Cartesian and
  * is also rejected by PlanGuardSpec. Audit files up to PLAN_AUDIT_r18
  * were taken on a plain session (10 MB broadcast ceiling) and are
  * not comparable with this tool's GraftSession audit.
  *
  * A query that throws (in either pass) prints `[plandump] <q> FAILED:
  * <class>: <message>` to stderr; the remaining queries still run, the
  * last line names every failed query, and the run exits non-zero.
  */
object PlanDump {
  /** Distinct whole-stage-codegen stage ids (`*(N)` markers) in an
    * executed plan string — 0 means nothing in the plan runs fused. */
  def wscStages(planStr: String): Int =
    "\\*\\((\\d+)\\)".r.findAllMatchIn(planStr).map(_.group(1)).toSet.size

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The audit line of a query that has been executed. */
  def audit(name: String, df: DataFrame): String = {
    val ops = "(?m)^\\(\\d+\\) ([A-Za-z]+)".r
      .findAllMatchIn(formatted(df)).map(_.group(1)).toSeq
    def c(tag: String) = ops.count(_ == tag)
    val exchanges = c("Exchange") + c("BroadcastExchange")
    val wsc = wscStages(df.queryExecution.executedPlan.toString)
    f"$name%-28s exchanges=$exchanges%-3d bhj=${c("BroadcastHashJoin")}%-3d " +
      f"smj=${c("SortMergeJoin")}%-3d cart=${c("CartesianProduct")}%-2d " +
      f"bnlj=${c("BroadcastNestedLoopJoin")}%-2d wsc=$wsc%d"
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val picked = SparkEntry.select(args.toSeq.drop(3))
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val unplanned = SparkEntry.eachQuery("plandump", picked) { (n, fn) =>
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"),
        formatted(fn(spark, sfDir)))
    }
    Iter.clearShared(spark)
    val failed = unplanned ++ SparkEntry.eachQuery("plandump",
        picked.filterNot { case (n, _) => unplanned.contains(n) }) { (n, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // materialize: AQE finalizes stages, codegen ids exist
      println(audit(n, df))
    }
    println(s"[plandump] ${picked.size - failed.size} of ${picked.size} queries; " +
      s"failed: [${failed.mkString(",")}]")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
