package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each query's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare.
  *
  * Usage: sbt "runMain graft.Verify <sfDir> <outDir> [q ...]" (no names
  * = every query).
  *
  * A query that throws prints `[verify] <q> FAILED: <class>: <message>`
  * to stderr and the remaining queries still run; the last stderr line
  * names every failed query. Unlike PlanDump, the run exits 0 either
  * way: the oracle compare reads the dumps query by query, so a missing
  * dump already fails its own query, while a caller that treats a
  * non-zero exit as a failed run could discard every other query's
  * result with it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val picked = SparkEntry.select(args.toSeq.drop(2))
    // same tuned session Bench times (GraftSession) — the oracle gate
    // verifies the plans that actually run in the benchmark
    val spark = GraftSession.local()
    // SPARK_GRAFT_ITER_CKPT_DIR=<path> — run the sweep in Iter.cut's
    // RELIABLE-checkpoint (cluster) form, so the oracle gate can prove
    // the form a cluster deployment turns on is result-identical across
    // every query. Unset, the sweep runs in the default local form.
    sys.env.get("SPARK_GRAFT_ITER_CKPT_DIR").filter(_.nonEmpty)
      .foreach(spark.conf.set(Iter.CheckpointDirKey, _))
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.eachQuery("verify", picked) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    System.err.println(s"[verify] ${picked.size - failed.size} of " +
      s"${picked.size} queries; failed: [${failed.mkString(",")}]")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = picked.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
