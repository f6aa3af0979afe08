package graft

/** Dev-only profiler: time named queries with warm repeats and read
  * each rep's [[Probe]] counters. Usage:
  *   sbt "runMain graft.Profile q_dedup_minhash q_dedup_exact"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_REPS (default 3).
  *
  * Every rep prints its wall plus jobs, stages, tasks, executor run
  * and CPU time, GC, spill and shuffle bytes — the split that tells a
  * query paying scheduling rounds (many short jobs) from one paying
  * data work, and attributes a wall-time drift to a stage class
  * instead of arguing about it — and the codegen compilations and
  * their time (a warm rep of a query whose generated code is the same
  * every run compiles nothing). Plans are [[PlanDump]]'s job.
  *
  * Results are also written to /tmp/graft_profile.json (atomic
  * tmp+rename, the Bench pattern): `sbt --error` suppresses the
  * application's stdout, which silently discarded a full probe run in
  * r18 — the file record makes probe output unlosable. Per query it
  * holds the rep walls, the output `rows`, and per rep the counters
  * with every job's wall (`job_ms`). A query that throws prints
  * `[profile] <q> FAILED: <class>: <message>` to stderr, is named in
  * the record's `failed` list, and makes the run exit non-zero after
  * the remaining queries ran.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = Probe.listen(spark)
    import Probe.num
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val records = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      try {
        val fn = SparkEntry.queries(name)
        val runs = (1 to reps).map { rep =>
          Probe.drainBus(spark)
          probe.reset()
          val t0 = System.nanoTime()
          val rows = fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          Probe.drainBus(spark)
          val c = probe.snapshot
          println(f"  $name rep $rep%d: wall=$dt%.2f s jobs=${c.jobs}%d " +
            f"stages=${c.stages}%d tasks=${c.tasks}%d " +
            f"taskRun=${c.taskRunMs / 1000.0}%.1f s cpu=${c.taskCpuNs / 1e9}%.1f s " +
            f"gc=${c.gcMs / 1000.0}%.1f s " +
            f"spillMem=${c.spillMemBytes / 1048576}%d MB " +
            f"spillDisk=${c.spillDiskBytes / 1048576}%d MB " +
            f"shufRead=${c.shuffleReadBytes / 1048576}%d MB " +
            f"shufWrite=${c.shuffleWriteBytes / 1048576}%d MB " +
            f"compiles=${c.codegenCompiles}%d " +
            f"compile=${c.codegenCompileNs / 1e9}%.2f s")
          (dt, c, rows)
        }
        val times = runs.map(_._1)
        println(f"$name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  (min ${times.min}%.2f s)")
        val counters = runs.map { case (_, c, _) =>
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
        records += s"""{"query":"$name","reps":[${times.map(num("%.3f", _)).mkString(",")}],""" +
          s""""min":${num("%.3f", times.min)},"rows":${runs.last._3},"counters":[${counters.mkString(",")}]}"""
      } catch { case e: Throwable =>
        failed += name
        System.err.println(
          s"[profile] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // unlosable record (see scaladoc)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rec = s"""{"sf":"$sfDir","reps":$reps,"results":[${records.mkString(",")}],"failed":$failedJson}"""
    try Probe.writeAtomic("/tmp/graft_profile.json", rec + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[profile] could not write /tmp/graft_profile.json: $e") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
