package graft

import scala.collection.mutable

import Probe.num

/** The timing tool: times each query's `fn(spark, sfDir).count()` and
  * records, per query, the [[Probe]] counters that explain the wall.
  *
  * Usage: sbt "runMain graft.Bench [q ...]" (no names = every query, in
  * inventory order; an unknown name fails before the session is built).
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 1:
  * one cold pass), SPARK_GRAFT_CPUS (default 4).
  *
  * Stdout carries exactly two JSON lines: the per-query line (rep 1's
  * wall of every query, and the `failed` list) and a compact summary.
  * The per-query line is also written to /tmp/graft_bench.json and
  * /tmp/graft_bench_<sf>.json. A query that throws keeps its
  * time-to-failure in `queries`, prints `[bench] <q> FAILED: <class>:
  * <message>` to stderr and is named in `failed`; the run exits 0.
  *
  * Per rep, the listener bus is drained and the counters reset OUTSIDE
  * the timed region; the timed region also notes when `fn` returned, so
  * the wall splits into construction (eager work inside `fn`: cuts,
  * collects) and the action without changing the total. Each rep
  * prints `[bench] <q> rep <n>: …` to stderr. The per-query record
  * (`/tmp/graft_bench_queries.json` and
  * `/tmp/graft_bench_<sf>_queries.json`) holds per query its status,
  * rep walls, `construct_s`, min, rows and per rep the counters with
  * every job's wall (`job_ms`) and the codegen compiles. A warm rep
  * compiles 0 classes unless AQE picks another plan shape that run (see
  * BASELINE.md).
  *
  * Records are written atomically ([[Probe.writeAtomic]]) to a canonical
  * and a per-sf path, so runs at different sf dirs do not clobber each
  * other's record and a crashed run never leaves a half-written file.
  * A reader that keeps only the tail of stdout still gets the total:
  * the compact summary follows the long line and is repeated on
  * stderr. */
object Bench {
  /** One rep: wall and construction seconds, output rows (-1 when the
    * rep threw) and the counters. */
  private final case class Rep(wall: Double, construct: Double, rows: Long,
                               c: Probe.Counts)

  def main(args: Array[String]): Unit = {
    val picked = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be at least 1, got $reps")
    val spark = GraftSession.local()
    val probe = Probe.listen(spark)
    // ingest-time fixtures (bucketed stores, ANN indexes, partitioned
    // copies) publish once per source state, OUTSIDE the timed loop: the
    // bench measures steady-state query throughput, not ingest
    val s0 = System.nanoTime()
    SparkEntry.prepareFixtures(spark, sfDir)
    System.err.println(
      f"[bench] fixture publish (untimed): ${(System.nanoTime() - s0) / 1e9}%.1f s")
    val runs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Rep]]
    val failed = SparkEntry.eachQuery("bench", picked) { (name, fn) =>
      val done = runs.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
      for (rep <- 1 to reps) {
        Probe.drainBus(spark)
        probe.reset()
        var built, rows = -1L
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          built = System.nanoTime()
          rows = df.count()
        } finally {
          val t1 = System.nanoTime()
          Probe.drainBus(spark)
          val r = Rep((t1 - t0) / 1e9,
            ((if (built < 0) t1 else built) - t0) / 1e9, rows, probe.snapshot)
          done += r
          val c = r.c
          System.err.println(f"[bench] $name rep $rep%d: wall=${r.wall}%.2f s " +
            f"construct=${r.construct}%.2f s jobs=${c.jobs}%d " +
            f"stages=${c.stages}%d tasks=${c.tasks}%d " +
            f"taskRun=${c.taskRunMs / 1000.0}%.1f s cpu=${c.taskCpuNs / 1e9}%.1f s " +
            f"gc=${c.gcMs / 1000.0}%.1f s " +
            f"spillMem=${c.spillMemBytes / 1048576}%d MB " +
            f"spillDisk=${c.spillDiskBytes / 1048576}%d MB " +
            f"shufRead=${c.shuffleReadBytes / 1048576}%d MB " +
            f"shufWrite=${c.shuffleWriteBytes / 1048576}%d MB " +
            f"compiles=${c.codegenCompiles}%d " +
            f"compile=${c.codegenCompileNs / 1e9}%.2f s")
        }
      }
    }
    // rep 1's wall per query; the time to failure when it threw
    val results = picked.map { case (name, _) =>
      name -> runs.get(name).flatMap(_.headOption).fold(0.0)(_.wall)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // total + count + the 15 slowest queries, after the long line, with
    // the same metric/value/unit keys
    val slowest = results.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" + num("%.3f", v) }
      .mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":${num("%.2f", total)},"n":${results.size},"slowest":$slowest,"failed":$failedJson,"sf":"$sfDir"}"""
    println(summary)
    System.err.println(s"[bench] $summary")
    val records = runs.collect { case (name, rs) if rs.nonEmpty =>
      val counters = rs.map { r =>
        val c = r.c
        s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_run_ms":${c.taskRunMs},"task_cpu_ns":${c.taskCpuNs},""" +
        s""""gc_ms":${c.gcMs},"spill_mem_bytes":${c.spillMemBytes},""" +
        s""""spill_disk_bytes":${c.spillDiskBytes},""" +
        s""""shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""codegen_compiles":${c.codegenCompiles},""" +
        s""""codegen_compile_ns":${c.codegenCompileNs},""" +
        s""""job_ms":[${c.jobMs.map(num("%.1f", _)).mkString(",")}]}"""
      }
      def secs(f: Rep => Double) = rs.map(r => num("%.3f", f(r))).mkString("[", ",", "]")
      s"""{"query":"$name","status":"${if (failed.contains(name)) "failed" else "ok"}",""" +
        s""""reps":${secs(_.wall)},"construct_s":${secs(_.construct)},""" +
        s""""min":${num("%.3f", rs.map(_.wall).min)},""" +
        s""""rows":${rs.map(_.rows).filter(_ >= 0).lastOption.getOrElse("null")},""" +
        s""""counters":[${counters.mkString(",")}]}"""
    }
    val rec = s"""{"sf":"$sfDir","reps":$reps,"results":[${records.mkString(",")}],"failed":$failedJson}"""
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "")
    for ((out, text) <- Seq("/tmp/graft_bench" -> line, s"/tmp/graft_bench_$sfTag" -> line,
                            "/tmp/graft_bench_queries" -> rec,
                            s"/tmp/graft_bench_${sfTag}_queries" -> rec))
      try Probe.writeAtomic(s"$out.json", text + "\n")
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $out.json: $e") }
    spark.stop()
  }
}
