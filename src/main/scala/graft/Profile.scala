package graft

/** Dev-only profiler: time named queries with warm repeats, optionally
  * print the formatted plan. Usage:
  *   sbt "runMain graft.Profile q_dedup_minhash q_dedup_exact"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_EXPLAIN=1,
  *      SPARK_GRAFT_REPS (default 3), SPARK_GRAFT_TASK_METRICS=1
  *      (per-rep task-metric totals: GC, spill, shuffle — the
  *      stage-attribution tool the r17 scale follow-up asked for when
  *      a time exponent disagrees with counted work).
  *
  * Results are also written to /tmp/graft_profile.json (atomic
  * tmp+rename, the Bench pattern): `sbt --error` suppresses the
  * application's stdout, which silently discarded a full probe run in
  * r18 — the file record makes probe output unlosable.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val taskMetrics = sys.env.get("SPARK_GRAFT_TASK_METRICS").contains("1")
    // SPARK_GRAFT_JOB_TRACE=1 — print every Spark job with its wall
    // duration and stage/task count. The fixed-overhead attribution
    // tool: a query whose wall is dominated by many short jobs is
    // paying scheduling/subquery rounds, not data work (guide §1.1 —
    // decide scheduler delay vs compute before optimizing either).
    val jobTrace = sys.env.get("SPARK_GRAFT_JOB_TRACE").contains("1")
    if (jobTrace) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(e.jobId, System.nanoTime())
          override def onJobEnd(
              e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val t0 = starts.remove(e.jobId)
            val ms = if (t0 == 0L) -1.0 else (System.nanoTime() - t0) / 1e6
            println(f"    [job ${e.jobId}%3d] ${ms}%8.1f ms")
          }
        })
    }
    // per-rep task-metric accumulation: separates executor WORK
    // (run time), memory pressure (GC, spill) and data motion
    // (shuffle bytes) so a wall-time drift can be attributed to a
    // stage class instead of argued about. Counters reset per rep;
    // the bus is drained before reading so late task ends count.
    val gc, spillMem, spillDisk, shufRead, shufWrite, runMs =
      new java.util.concurrent.atomic.AtomicLong
    if (taskMetrics)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              gc.addAndGet(m.jvmGCTime)
              spillMem.addAndGet(m.memoryBytesSpilled)
              spillDisk.addAndGet(m.diskBytesSpilled)
              shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
              shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
              runMs.addAndGet(m.executorRunTime)
            }
          }
        })
    def drainBus(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Exception => () }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val records = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) {
        println(s"===== $name plan =====")
        fn(spark, sfDir).explain("formatted")
      }
      val times = (1 to reps).map { rep =>
        Seq(gc, spillMem, spillDisk, shufRead, shufWrite, runMs)
          .foreach(_.set(0L))
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (taskMetrics) {
          drainBus()
          println(f"  $name rep $rep%d: wall=$dt%.2f s " +
            f"taskRun=${runMs.get / 1000.0}%.1f s gc=${gc.get / 1000.0}%.1f s " +
            f"spillMem=${spillMem.get / 1048576}%d MB " +
            f"spillDisk=${spillDisk.get / 1048576}%d MB " +
            f"shufRead=${shufRead.get / 1048576}%d MB " +
            f"shufWrite=${shufWrite.get / 1048576}%d MB")
        }
        dt
      }
      println(f"$name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  (min ${times.min}%.2f s)")
      def num(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      records += s"""{"query":"$name","reps":[${times.map(num).mkString(",")}],"min":${num(times.min)}}"""
    }
    // unlosable record (see scaladoc); same atomic write Bench uses
    val rec = s"""{"sf":"$sfDir","reps":$reps,"results":[${records.mkString(",")}]}"""
    try {
      val tmp = java.nio.file.Paths.get("/tmp/graft_profile.json.tmp")
      java.nio.file.Files.write(tmp,
        (rec + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get("/tmp/graft_profile.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[profile] could not write /tmp/graft_profile.json: $e") }
    spark.stop()
  }
}
