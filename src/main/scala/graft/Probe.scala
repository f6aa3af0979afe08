package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The tools' one instrumentation module: the Spark listener that
  * [[Bench]] reads per rep, the listener-bus drain that makes its
  * counts final, the atomic record write of Bench's records, and the
  * locale-independent number format of the JSON records. Nothing on the
  * query path uses it. */
object Probe {

  /** One reading of a [[Listener]]. Times are summed over tasks
    * (executor time, not wall); `jobMs` holds the wall of every job
    * that ended since the last reset, in end order. `codegenCompiles`
    * and `codegenCompileNs` count the Janino compilations of generated
    * code (cache misses of Spark's codegen class cache) and their
    * time, JVM-wide: driver planning and, in local mode, the executors'
    * tasks. */
  final case class Counts(
      jobs: Long, stages: Long, tasks: Long,
      taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
      spillMemBytes: Long, spillDiskBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      codegenCompiles: Long, codegenCompileNs: Long,
      jobMs: Seq[Double])

  /** (compilations, compile ns) since JVM start. Spark keeps both as
    * JVM-wide statics, not listener events. The first call initializes
    * `CodeGenerator`, which sizes its class cache then, so it must come
    * after the session is built (see [[GraftSession]]); hence a
    * [[Listener]] is only made by [[listen]], which takes the session. */
  private def codegenTotals: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Counts jobs, completed stages and tasks, and sums the task metrics
    * that separate executor work (run, CPU), memory pressure (GC,
    * spill) and data motion (shuffle bytes). Call [[Probe.drainBus]]
    * before [[snapshot]] so late events are counted. The codegen counts
    * are deltas of Spark's JVM-wide totals since construction or the
    * last [[reset]]. */
  final class Listener private[Probe] () extends SparkListener {
    private val jobs, stages, tasks, runMs, cpuNs, gcMs, spillMem,
      spillDisk, shufRead, shufWrite = new AtomicLong
    private val counters = Seq(jobs, stages, tasks, runMs, cpuNs, gcMs,
      spillMem, spillDisk, shufRead, shufWrite)
    private val starts = new ConcurrentHashMap[Int, Long]()
    private val jobMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    @volatile private var codegenBase = codegenTotals

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      starts.put(e.jobId, System.nanoTime())
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { t0 =>
        jobMs.synchronized { jobMs += (System.nanoTime() - t0) / 1e6 }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    /** Zero every count (jobs still running keep their start time). */
    def reset(): Unit = {
      counters.foreach(_.set(0L))
      jobMs.synchronized { jobMs.clear() }
      codegenBase = codegenTotals
    }

    def snapshot: Counts = {
      val (compiles, compileNs) = codegenTotals
      Counts(
        jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get, gcMs.get,
        spillMem.get, spillDisk.get, shufRead.get, shufWrite.get,
        compiles - codegenBase._1, compileNs - codegenBase._2,
        jobMs.synchronized { jobMs.toList })
    }
  }

  /** A [[Listener]] added to `spark`'s context. */
  def listen(spark: SparkSession): Listener = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Block until every event posted so far has reached every listener.
    * `LiveListenerBus.waitUntilEmpty` is private[spark] at the source
    * level but public in bytecode, so it is reached by reflection. */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Write `text` (UTF-8) to `path` through `path.tmp` and an atomic
    * rename, so a reader never sees a half-written record. */
  def writeAtomic(path: String, text: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `String.format` under `Locale.ROOT`. Scala's f-interpolator follows
    * the default locale, and a comma-decimal locale would make the JSON
    * records invalid. */
  def num(fmt: String, v: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(v))
}
