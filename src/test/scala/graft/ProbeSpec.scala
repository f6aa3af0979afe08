package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Probe]]: the dev tools' listener, bus drain and atomic write. */
class ProbeSpec extends AnyFunSuite {
  import TestBase.spark

  private def withProbe[T](body: Probe.Listener => T): T = {
    Probe.drainBus(spark) // earlier suites' events stay out of the counts
    val l = Probe.listen(spark)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  /** A shuffling aggregate over 4 input partitions: at least one job
    * and a map stage of 4 tasks plus its reduce stage. */
  private def shufflingAction(): Unit =
    spark.range(0L, 4000000L, 1L, 4)
      .groupBy((col("id") % 1000).as("k"))
      .agg(sum(col("id") * col("id")))
      .collect()

  test("listener counts jobs, tasks and task run time of a shuffling action") {
    withProbe { l =>
      shufflingAction()
      Probe.drainBus(spark)
      val c = l.snapshot
      assert(c.jobs >= 1, c)
      assert(c.stages >= 2, c)
      assert(c.tasks > 1, c)
      assert(c.taskRunMs > 0, c)
      assert(c.taskCpuNs > 0, c)
      assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0, c)
      assert(c.jobMs.size.toLong == c.jobs && c.jobMs.forall(_ >= 0.0), c)
    }
  }

  test("reset() zeroes every count") {
    withProbe { l =>
      shufflingAction()
      Probe.drainBus(spark)
      assert(l.snapshot.tasks > 0)
      l.reset()
      assert(l.snapshot == Probe.Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil))
    }
  }

  test("codegen counts: new generated code compiles, the same code again does not") {
    // a long literal is inlined into the generated source, so a value no
    // earlier query used makes classes this JVM has not compiled yet
    // (max, not sum: a sum of nanoTime-sized values overflows under ANSI)
    val unique = System.nanoTime()
    def action(): Unit =
      spark.range(0L, 1000L, 1L, 2)
        .select((col("id") + lit(unique)).as("x"))
        .agg(max(col("x")))
        .collect()
    withProbe { l =>
      action()
      val first = l.snapshot
      assert(first.codegenCompiles >= 1, first)
      assert(first.codegenCompileNs > 0, first)
      l.reset()
      action()
      val again = l.snapshot
      assert(again.codegenCompiles == 0 && again.codegenCompileNs == 0, again)
    }
  }

  test("writeAtomic replaces an existing file and leaves no .tmp behind") {
    val dir = Files.createTempDirectory("probe_spec")
    val path = dir.resolve("record.json")
    Files.writeString(path, "old contents that are longer than the new\n")
    Probe.writeAtomic(path.toString, "{\"v\":1}\n")
    assert(Files.readString(path) == "{\"v\":1}\n")
    val left = Files.list(dir).toArray.map(_.toString).sorted.toSeq
    assert(left == Seq(path.toString), left)
  }

  test("num formats under Locale.ROOT whatever the default locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try assert(Probe.num("%.3f", 1.5) == "1.500")
    finally java.util.Locale.setDefault(prev)
  }
}
