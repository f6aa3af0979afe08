package graft

import org.apache.spark.sql.SparkSession

/** THE session configuration — one builder shared by every entry
  * point: [[Bench]], [[Verify]], [[PlanDump]], [[Profile]], the
  * benchmark harness and the test suite's `TestBase` — so the plans the
  * DuckDB oracle verifies and the plans `PlanSpec` guards are the SAME plans the benchmark times (r8
  * advice: a 10–32 MB join side must not take a broadcast shape in
  * bench and a shuffle shape in verify).
  *
  * It also installs the engine's session-wide hooks, once per session:
  *
  *  - [[graft.plans.GraftExtensions]] — injects all ten custom SQL
  *    functions, so no operator registers a function per query.
  *  - [[SignalsListener]] via `spark.sql.queryExecutionListeners` —
  *    logs the embcos occupancy-cap warning (see [[Signals]]).
  *
  * The knobs and why they are production-standard, result-invariant
  * session tuning (not bench-only tricks):
  *
  *  - `coalescePartitions.parallelismFirst=false` — size post-shuffle
  *    partitions by DATA VOLUME, not core count. The default splits
  *    every exchange into ~cores partitions even when the whole
  *    exchange is a few MB, so a wide driver (local[32]) pays 8× the
  *    per-task fixed cost of local[4] for zero gain at test SFs.
  *    Spark's own AQE docs recommend `false` in production; at 100 TB
  *    shuffles exceed advisory × cores and the setting is a no-op.
  *  - 4 MB advisory partition size (not the 64 MB default) — KB-scale
  *    exchanges (most of this inventory at test SFs) coalesce to one
  *    task, while a genuinely heavy exchange keeps its parallelism.
  *  - 32 MB broadcast ceiling (default 10 MB) — dimension-sized sides
  *    go map-side instead of paying a two-sided exchange. Routine
  *    headroom for 100 GB+ executors; big sides still shuffle. Tests
  *    that must see the shuffle machinery on KB fixtures pin
  *    `autoBroadcastJoinThreshold=-1` locally (and say why).
  *  - 16 MB scan split (`files.maxPartitionBytes`, default 128 MB) —
  *    a SINGLE-FILE table smaller than the default scans as ONE task
  *    no matter how many cores exist, serializing every scan-heavy
  *    first stage (measured on the 100x probe corpus: a 116 MB
  *    single-file events table put fact scans, explodes and
  *    sessionization on one core of 32 — linear queries read as
  *    super-linear purely from lost scan parallelism). 16 MB keeps
  *    single-file sources parallel at probe scale; a multi-thousand-
  *    file 100 TB deployment gets its scan parallelism from file
  *    count and should raise this back toward the default at the
  *    cluster level.
  *  - UTC session time zone — oracle parity: DuckDB computes date
  *    arithmetic in UTC.
  */
object GraftSession {
  /** A builder with the shared tuning applied; callers may stack
    * caller-specific config (warehouse dir, master overrides) on top. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // Reliable-checkpoint GC (r17 ADVICE): when graft.iter.checkpoint
      // .dir routes Iter.cut to reliable checkpoints, an N-round loop
      // writes N rounds of files and the default (false) never reclaims
      // them — ContextCleaner only deletes a checkpoint's files on RDD
      // garbage-collection when this key is true. Iter cuts are
      // intra-session lineage truncations, never recovery artifacts, so
      // eager cleanup is strictly correct here; Iter.cut additionally
      // deletes the whole minted subdir at application end. Must be set
      // at context build (SparkConf is fixed after), hence here and not
      // in Iter.cut itself.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.queryExecutionListeners",
        classOf[SignalsListener].getName)
      .withExtensions(new graft.plans.GraftExtensions)

  /** Run `body` with spark.sql.shuffle.partitions temporarily set to
    * `n` — the partition-count lever for iterative loops and stream
    * drains whose frames are orders of magnitude smaller than the
    * ambient data — and restore the previous value in finally. Plans
    * EXECUTED (and streams started) inside pick up `n`; frames
    * materialized before the restore keep it. Session-global and not
    * reentrant-safe: concurrent queries on the same SparkSession during
    * the body run at `n` too — acceptable for the single-threaded
    * bench/verify harness, by design. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }
}
