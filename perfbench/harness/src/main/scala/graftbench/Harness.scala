package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.{GraftSession, Iter, SparkEntry}

/** Driver-side benchmark harness. It drives the engine only through its
  * public entry points — `GraftSession.builder`, the fourteen fixture
  * publishers that `SparkEntry.prepareFixtures` calls, and the query
  * functions in `SparkEntry.queries` — and writes one JSON record of raw
  * timings (and, when tracing, raw listener records) for `run.py` to
  * turn into metrics.
  *
  * Usage: `Harness <plan.json> <result.json>`. The plan is written by
  * `run.py`; each entry of its `passes` is one pass, the query order
  * already fixed by the workload seed. */
object Harness {
  /** The publishers `SparkEntry.prepareFixtures` calls, in its order. The
    * traced run calls them one at a time and then checks that a further
    * `prepareFixtures` writes nothing, which proves this list still
    * covers the program's. */
  val publishers: Seq[(String, (SparkSession, String) => Any)] = {
    import graft.operators._
    import graft.streaming.StreamingOps
    Seq(
      "sessionStore" -> (WindowOps.sessionStore _),
      "LayoutOps.prepare" -> (LayoutOps.prepare _),
      "partitionedEventsDir" -> (RelationalOps.partitionedEventsDir _),
      "ivfIndexDir" -> (LlmOps.ivfIndexDir _),
      "pqIndexDir" -> (LlmOps.pqIndexDir _),
      "clusterStoreDir" -> (LlmOps.clusterStoreDir _),
      "docClusterStoreDir" -> (CurationOps.docClusterStoreDir _),
      "ingestSinkDir" -> (IngestOps.ingestSinkDir _),
      "historyReportDir" -> (IngestOps.historyReportDir _),
      "FormatOps.prepare" -> (FormatOps.prepare _),
      "basketStoreDir" -> (AffinityOps.basketStoreDir _),
      "tradeEdgeStoreDir" -> (GraphOps.tradeEdgeStoreDir _),
      "streamSourceDir" -> (StreamingOps.streamSourceDir _),
      "prepareGatedStreams" -> (StreamingOps.prepareGatedStreams _))
  }

  implicit val formats: Formats = DefaultFormats

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds used by every thread of this JVM so far: the driver, the
    * local executors, GC and JIT. */
  private def cpuSecs: Double = os.getProcessCpuTime / 1e9

  /** A fresh copy of the source tables: new paths and mtimes give every
    * `CachedDir` publish a fingerprint no earlier run has used. */
  def copySource(src: Path, dest: Path): String = {
    Files.createDirectories(dest)
    Files.list(src).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      Files.copy(f, dest.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    dest.toString
  }

  /** Old-generation occupancy after a full collection, in MB. In local
    * mode the driver JVM also runs the executors. The first collection
    * clears the finished query's broadcast and shuffle handles; Spark's
    * ContextCleaner then drops their blocks, which otherwise linger into
    * the sample at a timing-dependent rate; the second collection frees
    * them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
      p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
    val used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val plan = parse(Files.readString(Paths.get(args(0))))
    val cores = (plan \ "cores").extract[Int]
    val budget = (plan \ "seconds").extract[Double]
    val minPasses = (plan \ "min_passes").extract[Int]
    val work = Paths.get((plan \ "work").extract[String])
    val selected = (plan \ "publishers").extract[Seq[String]].toSet
    val orders = (plan \ "passes").extract[Seq[Seq[String]]].iterator
    val queries = SparkEntry.queries

    // -- set-up: session build, fixture publish from a fresh source copy,
    //    one untimed warm-up pass (JIT, codegen, lazily published fixtures)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionBuildS = secs(t0)
    val tracer = if ((plan \ "trace").extract[Int] == 1) Tracer.install(spark) else null
    val dataDir = copySource(Paths.get((plan \ "source").extract[String]), work.resolve("source"))
    val published = publish(spark, dataDir, publishers.filter(p => selected(p._1)), tracer)

    /** One pass. A pass that samples the heap after each query leaves
      * that sampling out of its wall and CPU time. */
    def runPass(order: Seq[String], sampleHeap: Boolean): JObject = {
      val p0 = System.nanoTime()
      val c0 = cpuSecs
      var sampling, samplingCpu = 0.0
      Iter.clearShared(spark)
      val qrecs = order.map { name =>
        val q = runQuery(spark, queries.get(name), name, dataDir, tracer)
        if (!sampleHeap) q else {
          val h0 = System.nanoTime()
          val hc0 = cpuSecs
          val heap = liveHeapMb()
          sampling += secs(h0)
          samplingCpu += cpuSecs - hc0
          q ~ ("heap_mb" -> JDouble(heap))
        }
      }
      JObject("wall_s" -> JDouble(secs(p0) - sampling),
        "cpu_s" -> JDouble(cpuSecs - c0 - samplingCpu), "queries" -> JArray(qrecs.toList))
    }
    val warmup = runPass(orders.next(), sampleHeap = false)
    val setupS = secs(t0)

    // -- timed passes: closed loop, one client, clearShared at each start;
    //    after `min_passes`, a pass starts only if it should end in budget.
    //    The first pass of an untraced run samples the heap after each query
    val passes = Vector.newBuilder[JObject]
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Double]
    val started = System.nanoTime()
    def predicted = if (cycles.isEmpty) 0.0 else cycles.sorted.apply(cycles.size / 2)
    while (orders.hasNext && (cycles.size < minPasses || secs(started) + predicted <= budget)) {
      val c0 = System.nanoTime()
      passes += runPass(orders.next(), sampleHeap = cycles.isEmpty && tracer == null)
      cycles += secs(c0)
    }
    var rec = JObject("session_build_s" -> JDouble(sessionBuildS), "publish" -> published,
      "warmup" -> warmup, "setup_s" -> JDouble(setupS), "passes" -> JArray(passes.result().toList))
    if (tracer != null) {
      if ((plan \ "audit").extract[Boolean]) {
        // publish audit: the remaining publishers one at a time; once all
        // fourteen have run, a further prepareFixtures must write nothing
        rec = rec ~
          ("audit" -> publish(spark, dataDir, publishers.filterNot(p => selected(p._1)), tracer)) ~
          ("followup" -> publish(spark, dataDir,
            Seq("prepareFixtures" -> (SparkEntry.prepareFixtures _)), tracer))
      }
      rec = rec ~ ("trace" -> tracer.dump())
    }
    spark.stop()
    Files.writeString(Paths.get(args(1)), compact(render(rec)))
  }

  /** Call `pubs` one at a time, in `prepareFixtures` order, timing each. */
  def publish(spark: SparkSession, d: String, pubs: Seq[(String, (SparkSession, String) => Any)],
              tracer: Tracer): JArray = JArray(pubs.toList.map { case (name, fn) =>
    val tag = s"publish:$name"
    if (tracer != null) tracer.begin(tag)
    val t0 = System.nanoTime()
    val err = try { fn(spark, d); JNothing } catch { case NonFatal(e) => JString(e.getClass.getName) }
    val o = JObject("name" -> JString(name), "wall_s" -> JDouble(secs(t0)), "error" -> err)
    System.err.println(s"[graftbench] publish ${compact(render(o))}")
    if (tracer != null) o ~ ("span" -> tracer.end()) else o
  })

  /** One query: construction (`fn(spark, d)`) then the `count` action.
    * A throwing query records its exception class and is never timed as
    * a success; a name absent from `SparkEntry.queries` is `missing`. */
  def runQuery(spark: SparkSession, fn: Option[(SparkSession, String) => DataFrame],
               name: String, d: String, tracer: Tracer): JObject = {
    val o = fn match {
      case None => JObject("name" -> JString(name), "missing" -> JBool(true))
      case Some(f) =>
        val tag = s"query:$name"
        if (tracer != null) tracer.begin(tag)
        val t0 = System.nanoTime()
        var fields = List[JField]("name" -> JString(name))
        try {
          val df = f(spark, d)
          fields :+= "construct_s" -> JDouble(secs(t0))
          if (tracer != null) tracer.action(tag)
          fields :+= "rows" -> JLong(df.count())
        } catch { case NonFatal(e) =>
          fields ++= List("error" -> JString(e.getClass.getName),
            "message" -> JString(String.valueOf(e.getMessage).take(300)))
        }
        fields :+= "wall_s" -> JDouble(secs(t0))
        if (tracer != null) fields :+= "span" -> tracer.end()
        JObject(fields)
    }
    System.err.println(s"[graftbench] ${compact(render(o.removeField(_._1 == "span")))}")
    o
  }
}

/** `OracleDump <out.json>`: the engine's DuckDB oracle SQL per query, for
  * `expected_rows.py`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sqls = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> JString(v) }
    Files.writeString(Paths.get(args(0)), compact(render(JObject(sqls.toList))))
  }
}
