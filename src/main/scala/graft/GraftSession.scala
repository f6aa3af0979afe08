package graft

import org.apache.spark.sql.SparkSession

/** THE session configuration — one builder shared by every entry
  * point: the tools [[Bench]], [[Verify]] and [[PlanDump]] (through
  * [[local]]), the benchmark harness and the test suite's `TestBase` —
  * so the plans the DuckDB oracle verifies and the plans `PlanSpec` guards are the SAME plans the benchmark times (r8
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
  *  - 4096-entry codegen class cache (`spark.sql.codegen.cache
  *    .maxEntries`, default 100) — Spark keeps the classes Janino
  *    compiles for whole-stage codegen, projections, predicates and
  *    orderings in ONE JVM-wide LRU cache keyed by the generated
  *    source. The engine's working set is far past 100: a cold pass
  *    over all 372 queries compiles 1,986 distinct classes, and one
  *    pinned benchmark list (6–7 queries) about 100. At 100 entries a
  *    class is evicted before its next use, so each warm pass of a
  *    pinned list recompiled 57–106 classes (0.6–2.0 s of a 3–6 s
  *    pass) and a cold pass over the inventory compiled 4,587 (sf0.1,
  *    local[4]). 4096 is the power of two that leaves room above the
  *    inventory (2048 would leave 3%) for new queries and for the
  *    variants of the few queries whose code differs run to run (see
  *    BASELINE.md), so repeating any working set in one JVM compiles
  *    nothing (see [[Probe]]'s codegen counts). Only reuse gains: the
  *    benchmark harness repeats its pinned list (a warm-up and at
  *    least three timed passes), and Bench and Verify share classes
  *    across queries within their single pass. Cost: the cached
  *    classes stay loaded — Metaspace read 208 MB after that cold
  *    pass (206 MB at 100 entries, which loads and drops twice as many
  *    classes), and the live heap grew by 1–3 MB on a benchmark
  *    workload. It is a static conf:
  *    `CodeGenerator` sizes its cache ONCE per JVM, from
  *    `SQLConf.get` at its first use, so every JVM must build its
  *    session through this builder BEFORE anything touches
  *    `CodeGenerator` (no query, no expression evaluation, no codegen
  *    counter ahead of `getOrCreate`; [[Probe.listen]] takes the built
  *    session for this reason); a JVM that touches it first keeps the
  *    default 100 for its whole life. Every entry point above builds
  *    the session first; `CodegenCacheSpec` fails if the test JVM
  *    does not.
  *  - No codegen stage id in generated class names
  *    (`spark.sql.codegen.useIdInClassName=false`) — the cache is keyed
  *    by the generated source, and by default the whole-stage class is
  *    named `GeneratedIteratorForCodegenStage<id>`. Under AQE the id
  *    follows the order in which query stages are re-planned, which
  *    follows which stage finished first, so the same pipeline got
  *    another id (and another source) on some runs: with the larger
  *    cache, q_market_basket and q_dedup_incremental still compiled
  *    2–4 classes per warm pass whose sources differed only in that
  *    id. Without it, identical pipelines share one class across runs
  *    and across queries. The id still appears in plans (`*(n)`) and
  *    in the source's `codegenStageId` comment, which is not part of
  *    the cache key; only stack traces lose it.
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
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
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

  /** The tools' session: `local[n]` with n shuffle partitions, n from
    * SPARK_GRAFT_CPUS (default 4), Spark's log at WARN. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

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
