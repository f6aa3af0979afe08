package graft

import org.apache.spark.sql.functions._
import graft.operators.{IngestOps, ReportOps}
import graft.operators.ReportOps.{Metric, ReportSpec}

/** Usage demo + runtime surface for the user-facing APIs: incremental
  * high-water-mark ingest into a parquet sink, then a declarative
  * dimension/metric report over the sink — the reference's end-to-end
  * flow (extract incrementally → load → unsampled BI query), on Spark.
  *
  * Usage: sbt "runMain graft.Demo [sfDir] [sinkDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val sink = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_demo").toString) + "/events_sink"
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = Tables.events(spark, sfDir)
    val keys = Seq("event_id", "user_id", "event_type")

    val n1 = IngestOps.incrementalAppend(spark,
      events.filter(col("ts") < lit("2024-01-15").cast("timestamp")),
      sink, "ts", keys)
    println(s"[demo] initial load: $n1 rows")
    val n2 = IngestOps.incrementalAppend(spark,
      events.filter(col("ts") >= lit("2024-01-10").cast("timestamp")),
      sink, "ts", keys)
    println(s"[demo] overlapping batch (Jan 10+): $n2 new rows")
    val n3 = IngestOps.incrementalAppend(spark,
      events.filter(col("ts") >= lit("2024-01-10").cast("timestamp")),
      sink, "ts", keys)
    println(s"[demo] identical re-load: $n3 new rows (expect 0)")

    val report = ReportOps.run(
      spark.read.parquet(sink),
      ReportSpec(
        dimensions = Seq("event_type"),
        metrics = Seq(Metric("count", "event_id", "hits"),
                      Metric("sum", "value", "total_value"),
                      Metric("count_distinct", "user_id", "users")),
        dateCol = "ts", startDate = "2024-01-01", endDate = "2024-02-01",
        dateBucket = Some("week")))
    println(s"[demo] weekly report over the sink:")
    report.show(30, truncate = false)

    // skew path: hot-key aggregation via deterministic salting
    val salted = graft.operators.SkewOps.saltedSumCount(
      events, key = "event_type", valueCol = "value",
      stableKey = "event_id", salts = 8)
    println(s"[demo] salted hot-key aggregation:")
    salted.orderBy(col("event_type")).show(10, truncate = false)
    spark.stop()
  }
}
