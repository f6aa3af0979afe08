package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, NullsFirst}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global-order window tier — the scalable form of
  * `Window.orderBy(...)` without a partition spec (or with a partition
  * spec whose groups are data-proportional).
  *
  * A global ordered window funnels its whole input through ONE
  * partition (Spark warns "Moving all data to a single partition").
  * This helper computes the same values with the two-phase prefix
  * scheme of distributed sort systems:
  *
  *  1. a DETERMINISTIC range-bucket id per row: cut points are
  *     hash-gate sampled (a pure function of the data multiset, not of
  *     partition layout), sorted, selected and deduped IN-PLAN on a
  *     1-row scalar-subquery frame (deduped across the tier's branches
  *     by ReuseSubquery, so the pipeline runs once per action), and the
  *     bucket id is [[DistBucket]]'s binary search over that array.
  *     Equal keys always map to the same bucket, so rank/peer semantics
  *     survive;
  *  2. the SAME window per range bucket, partitioned by (pid, part…),
  *     so every window in the plan carries a partition spec and stays a
  *     parallel sort;
  *  3. per-(part…, pid) totals — at most |groups| + `buckets` rows —
  *     collected sorted into ONE scalar subquery and prefix-folded by a
  *     single [[DistFold]] pass. Each row finds its entry by a
  *     [[DistBucket]] binary search over the entries' (part…, pid) keys
  *     and reads the strictly-prior offsets that lift its local result
  *     to the global value, plus its group total. There is no join and
  *     no window over the offsets frame. A global order is the case
  *     `part = Nil`: the whole array is one group and the search
  *     returns the pid.
  *
  * Equivalences (bit-exact, not approximate — the DuckDB oracle gate
  * re-verifies every consumer at three SFs):
  *  - `row_number()`             = local row_number + prior-bucket count
  *  - running `sum(x)`           = local running sum + prior-bucket Σx
  *  - `rank()` / peer count      = local value + prior count (ties never
  *    cross a bucket boundary)
  *  - running max, strictly prior = `greatest` of the local value and
  *    the prior buckets' max
  *  - `ntile`/`cume_dist`/`percent_rank` derive from the above plus the
  *    group total ([[ntileOf]], [[cumeDistOf]], [[percentRankOf]]).
  *
  * The offsets array has one entry per (group, bucket) pair, so the
  * group domain must be constant-bounded (segments, languages,
  * variants, calendar days): a data-proportional group domain would
  * build the array on one task, so past [[MaxOffsets]] entries the call
  * fails loudly.
  *
  * Determinism and fault tolerance: any re-evaluation of any subtree —
  * executor loss, cache eviction, AQE re-plan — assigns identical
  * bucket ids. The input IS `persist()`ed as a compute-once
  * optimization, but eviction or loss of its blocks is safe by
  * construction (DistPrefixSpec evicts every cache between runs and
  * pins bit-equality). The totals frame is NOT persisted: a cached
  * frame plans its own copy of the cuts subquery, which ReuseSubquery
  * cannot share with the query's, so persisting it would run the count
  * and sample jobs a second time per action.
  *
  * Cost: ZERO Spark actions at plan-construction time (explain and
  * plan audits execute nothing; the count and sample run as part of the
  * query's own first action, reading the persisted input), plus the
  * window's hash exchange and the totals aggregate — bucket-count
  * parallel at every step. `buckets` caps at [[MaxBuckets]]; past
  * MaxBuckets·65536 rows the clamp raises rows-per-bucket while
  * parallelism holds at the cap.
  */
object Dist {

  /** One sort key: bare value column + resolved direction/null order. */
  private case class Key(c: Column, asc: Boolean, nullsFirst: Boolean)

  /** Resolve `order` to (bare column, direction, null order) through the
    * analyzer: a throwaway sortWithinPartitions plan is analyzed (no job
    * runs) and its Catalyst SortOrders read back — the one public path
    * from a `col(...).desc`-style Column to its direction. Order keys
    * must be plain (possibly pre-aliased) columns, the contract every
    * tier consumer already satisfies. */
  private def orderKeys(df: DataFrame, order: Seq[Column]): Seq[Key] = {
    val analyzed = df.sortWithinPartitions(order: _*).queryExecution.analyzed
    val sos = analyzed.collectFirst { case s: Sort => s.order }.getOrElse(
      throw new IllegalStateException("Dist.prefix: no Sort in probe plan"))
    sos.map { so =>
      val name = so.child match {
        case a: AttributeReference => a.name
        case e => throw new IllegalArgumentException(
          "Dist.prefix order keys must be plain columns " +
            s"(alias computed keys first): $e")
      }
      Key(col(name), so.direction == Ascending, so.nullOrdering == NullsFirst)
    }
  }

  /** Bucket-count cap. With [[DistBucket]]'s binary search the cap is
    * limited only by the cut SAMPLE held on one broadcast row
    * (~128·buckets key tuples ≈ a few MB at the cap), not by
    * expression arity. At the default 65,536 rows per bucket the
    * full-parallelism ceiling is ~268M rows; past that the clamp raises
    * rows-per-bucket while the bucket count holds at the cap. */
  val MaxBuckets = 4096

  /** Entry bound of the offsets array, which one task collects: at most
    * |groups| + buckets entries. Past it the offsets subquery fails
    * in-plan (`raise_error`) naming `Dist.prefix`, the entry count and
    * this bound, instead of building a group-domain-sized array on one
    * task. The largest count any caller reaches at sf0.1 is 2,407
    * (q_daily_p95, grouped by order day); every other caller holds at
    * most 6. A global order holds one entry per bucket, so only a
    * grouped call can reach the bound. */
  val MaxOffsets: Int = 4 * MaxBuckets

  /** Lexicographic SORT-ORDER comparison of two cut structs (fields
    * k0..k{m-1}) as an int Column in {-1,0,1}: per-key direction and
    * resolved null placement; null-safe equality chains to the next
    * key. Drives the in-plan `array_sort` of the cut sample and the
    * adjacent-cut dedup — the exact order [[DistBucket]] then
    * binary-searches per row. */
  private def cmpCol(keys: Seq[Key])(l: Column, r: Column): Column =
    keys.zipWithIndex.foldRight(lit(0)) { case ((k, i), rest) =>
      val a = l.getField(s"k$i")
      val b = r.getField(s"k$i")
      when(a <=> b, rest)
        .when(a.isNull, lit(if (k.nullsFirst) -1 else 1))
        .when(b.isNull, lit(if (k.nullsFirst) 1 else -1))
        .when(if (k.asc) a < b else a > b, lit(-1))
        .otherwise(lit(1))
    }

  /** Append distributed global-window columns to `df`.
    *
    * @param part   partition (group) column names; empty = one global order
    * @param order  window order — must match what the single-partition
    *               window used (same columns, same asc/desc); a TOTAL
    *               order wherever `rowNum` is read for row-identity
    * @param cums   (outName, expr): global running sum of `expr` over
    *               ROWS UNBOUNDED PRECEDING..CURRENT ROW, in `order`.
    *               Exprs must be NON-NULL integral (long) — the engine's
    *               exact-arithmetic determinism rule (SURVEY §2.10). A
    *               nullable expr would diverge from the global window on
    *               an all-null prefix (local NULL + non-null offset stays
    *               NULL where the window reads the prior buckets' sum),
    *               so nullability is a caller contract
    * @param rowNum outName for the global row_number (long)
    * @param rankLe (rankOut, cntLeOut): global `rank()` (long) and the
    *               RANGE-frame peer-inclusive row count (long) — the
    *               cume_dist numerator
    * @param maxPrev (outName, expr): running max of `expr` over ROWS
    *               UNBOUNDED PRECEDING..-1 (strictly prior; NULL on the
    *               global first row) — max is associative, so the
    *               offset is the prior buckets' max under
    *               null-skipping `greatest`
    * @param groupN outName for the group (or global) row count (long)
    * @param parts  explicit bucket count, floored at 2 (tests use it to
    *               force many buckets on tiny frames); 0 = size from
    *               the data — ⌈rows / 65536⌉ clamped to
    *               [2, [[MaxBuckets]]], so tiny frames pay one cut of
    *               fixed overhead and data-scale frames keep full
    *               parallelism
    */
  def prefix(df: DataFrame,
             part: Seq[String],
             order: Seq[Column],
             cums: Seq[(String, Column)] = Nil,
             rowNum: Option[String] = None,
             rankLe: Option[(String, String)] = None,
             groupN: Option[String] = None,
             maxPrev: Seq[(String, Column)] = Nil,
             parts: Int = 0): DataFrame = {
    val pid = "__dp_pid"
    val lrn = "__dp_lrn"
    val partCols = pid +: part

    // Phase 1: deterministic bucket id, fully lazy. The count, the
    // hash-gated sample, the sort and the cut selection are all
    // IN-PLAN: a scalar-subquery frame aggregates the sample into an
    // array, array_sorts it with the key comparator, picks the
    // evenly-spaced cut tuples, and dedups adjacent equals;
    // [[DistBucket]] binary-searches the subquery value per row. Plan
    // construction therefore runs ZERO Spark jobs.
    val keys: Seq[Key] =
      part.map(p => Key(col(p), asc = true, nullsFirst = true)) ++
        orderKeys(df, order)
    val keyCols = keys.map(_.c)
    val cached = graft.Iter.share(df)
    val idiv = (a: Column, b: Column) => call_function("div", a, b)
    // ONE SCALAR SUBQUERY per tier call, not broadcast cross-joins
    // into the fact frame: the cuts frame is referenced by every tier
    // branch (window, totals) — as a fact-side cross-joined subtree it
    // would be RE-EXECUTED per branch, while identical scalar
    // subqueries are deduped by ReuseSubquery and the cut pipeline runs
    // ONCE per action. The
    // row count the gate needs is an INTERNAL 1-row cross join of the
    // subquery itself (not a second top-level subquery — fewer
    // per-action jobs, nothing else reads it).
    // Floor at 2 buckets: a 1-bucket pid would make every window
    // partition constant — semantically the unpartitioned window this
    // tier exists to avoid. Two buckets keep real parallelism
    // structure at trivial cost (one cut, a 2-row offsets frame).
    // The data-sized clamp raises rows-per-bucket past
    // MaxBuckets·65536 rows (see [[MaxBuckets]]).
    val bCol: Column =
      if (parts > 0) lit(math.max(parts, 2))
      else least(lit(MaxBuckets.toLong),
        greatest(lit(2L), idiv(col("__dp_n") + lit(65535L), lit(65536L))))
        .cast("int")
    val kcols = keys.indices.map(i => col(s"k$i"))
    val kproj = cached
      .select(keys.zipWithIndex.map { case (k, i) => k.c.as(s"k$i") }: _*)
    // hash gate sized for ~128 sample tuples per bucket — order- and
    // layout-insensitive. It applies to explicit `parts` too: an
    // ungated collect_list would funnel a fact-scale frame into one
    // task. On tiny explicit-parts frames the modulus is 1
    // (n < parts·128), so every row is sampled.
    val cutsBase = kproj
      .crossJoin(broadcast(cached.agg(count(lit(1)).as("__dp_n"))))
      .filter(pmod(xxhash64(kcols: _*),
        greatest(lit(1L), idiv(col("__dp_n"),
          bCol.cast("long") * lit(128L)))) === 0)
      // max(__dp_n) is the constant INPUT row count carried through
      // the sample agg (coalesce: an empty sample yields NULL → 0 →
      // b = 2, one cutless bucket — degenerate but correct)
      .agg(collect_list(struct(kcols: _*)).as("__dp_smp"),
           coalesce(max(col("__dp_n")), lit(0L)).as("__dp_n"))
    val cutsF = cutsBase
      .select(array_sort(col("__dp_smp"),
                (l, r) => cmpCol(keys)(l, r)).as("__dp_srt"),
              bCol.as("__dp_b"))
      .select(col("__dp_srt"), col("__dp_b"),
              size(col("__dp_srt")).cast("long").as("__dp_len"))
      // evenly-spaced cut positions i·len/b (i in 1..b-1), floored at
      // the last element
      .select(
        when(col("__dp_len") === 0L, slice(col("__dp_srt"), 1, 0))
          .otherwise(transform(
            sequence(lit(1), col("__dp_b") - 1),
            i => element_at(col("__dp_srt"),
              (least(idiv(i.cast("long") * col("__dp_len"),
                          col("__dp_b").cast("long")),
                     col("__dp_len") - 1L) + 1L).cast("int"))))
          .as("__dp_raw"))
      // adjacent-equal dedup (ties collapse to one cut, so the bucket
      // id stays monotone); element_at is 1-based, so index
      // max(i,1) reads the PREVIOUS element for the 0-based lambda i
      .select(filter(col("__dp_raw"), (x, i) =>
          (i === 0) ||
            cmpCol(keys)(element_at(col("__dp_raw"),
              greatest(i, lit(1))), x) =!= 0)
        .as("__dp_cuts"))
    val spec = keys.map(k =>
      s"${if (k.asc) "a" else "d"}${if (k.nullsFirst) "f" else "l"}")
      .mkString(",")
    val ordered = cached.withColumn(pid, call_function("dist_bucket",
      lit(spec) +: cutsF.scalar() +: keyCols: _*))

    // Phase 2: the same window, per range bucket.
    val wBase = Window.partitionBy(partCols.map(col): _*).orderBy(order: _*)
    val wRows = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var local = ordered.withColumn(lrn, row_number().over(wBase).cast("long"))
    cums.foreach { case (name, e) =>
      local = local.withColumn(s"__dp_l_$name", sum(e).over(wRows))
    }
    rankLe.foreach { case (rk, le) =>
      local = local
        .withColumn(s"__dp_l_$rk", rank().over(wBase).cast("long"))
        // default frame with orderBy = RANGE ..CURRENT ROW: counts peers
        .withColumn(s"__dp_l_$le", count(lit(1)).over(wBase))
    }
    maxPrev.foreach { case (name, e) =>
      local = local.withColumn(s"__dp_l_$name",
        max(e).over(wBase.rowsBetween(Window.unboundedPreceding, -1)))
    }

    // Phase 3: per-(part…, pid) totals — at most |groups| + buckets
    // rows, since buckets are contiguous ranges of (part…, order).
    val totAggs =
      count(lit(1)).as("__dp_cnt") +:
        (cums.map { case (name, e) => sum(e).as(s"__dp_t_$name") } ++
         maxPrev.map { case (name, e) => max(e).as(s"__dp_m_$name") })
    // not persisted (see the scaladoc): the offsets subquery is its one
    // reader
    val offs = ordered.groupBy(partCols.map(col): _*)
      .agg(totAggs.head, totAggs.tail: _*)

    // Phase 4: the (part…, pid)-sorted totals ride ONE scalar subquery:
    // the entries' keys for the lookup and their [[DistFold]] prefix
    // fold (group-key changes reset the running sums; each entry
    // carries its group total).
    val payload = struct(
      (part.zipWithIndex.map { case (p, i) => col(p).as(s"k$i") } ++
        Seq(pid, "__dp_cnt").map(col) ++
        cums.map(c => col(s"__dp_t_${c._1}")) ++
        maxPrev.map(c => col(s"__dp_m_${c._1}"))): _*)
    val keysOf = (x: Column) => struct(
      ((0 until part.size).map(i => x.getField(s"k$i")) :+
        x.getField(pid)): _*)
    val entries = collect_list(payload)
    val sub = offs
      .agg(when(size(entries) > MaxOffsets, raise_error(concat(
          lit("Dist.prefix: the offsets array holds "),
          size(entries).cast("string"),
          lit(s" entries, more than the bound $MaxOffsets (4 x MaxBuckets); " +
              "the group domain is too large for one task"))))
        .otherwise(array_sort(entries)).as("__dp_a"))
      .select(struct(
        transform(col("__dp_a"), keysOf).as("ks"),
        call_function("dist_fold", col("__dp_a"),
          lit(part.size), lit(cums.size)).as("fo")).as("__dp_o"))
      .scalar()
    // dist_bucket returns the count of entries strictly before the
    // row's (part…, pid), which IS its entry's 0-based index: every
    // row's tuple exists in the offsets frame by construction. Part
    // keys sort ascending-nulls-first in both the array_sort struct
    // ordering and this spec, so the search walks the array's order.
    val entrySpec = Seq.fill(part.size + 1)("af").mkString(",")
    // Bind the subquery value, and the entry, to ONE column each and
    // read fields from it: a fresh reference per withColumn would
    // re-analyze into a distinct subquery instance (lambda variables
    // get new ids, so canonical forms differ and ReuseSubquery cannot
    // dedup them) — one full extra offsets execution per referenced
    // field. CollapseProject keeps multi-referenced non-cheap aliases,
    // so the binding survives optimization.
    var out = local.withColumn("__dp_sub", sub)
      .withColumn("__dp_me", element_at(col("__dp_sub.fo"),
        call_function("dist_bucket", lit(entrySpec) +: col("__dp_sub.ks") +:
          (part.map(col) :+ col(pid)): _*) + 1))
    val me = (f: String) => col(s"__dp_me.$f")

    // Lift local → global and drop the scaffolding.
    groupN.foreach { gn => out = out.withColumn(gn, me("gn")) }
    cums.zipWithIndex.foreach { case ((name, _), i) =>
      out = out.withColumn(name, col(s"__dp_l_$name") + me(s"c${i + 1}"))
        .drop(s"__dp_l_$name")
    }
    maxPrev.zipWithIndex.foreach { case ((name, _), j) =>
      // greatest SKIPS nulls: local-null (bucket first row) reads the
      // offset, offset-null (first bucket) reads local, both-null
      // (global first row) stays NULL — the single-partition semantics
      out = out.withColumn(name,
          greatest(col(s"__dp_l_$name"), me(s"m${j + 1}")))
        .drop(s"__dp_l_$name")
    }
    rowNum.foreach { rn =>
      out = out.withColumn(rn, col(lrn) + me("cnt"))
    }
    rankLe.foreach { case (rk, le) =>
      out = out
        .withColumn(rk, col(s"__dp_l_$rk") + me("cnt"))
        .withColumn(le, col(s"__dp_l_$le") + me("cnt"))
        .drop(s"__dp_l_$rk", s"__dp_l_$le")
    }
    out.drop(pid, lrn, "__dp_sub", "__dp_me")
  }

  /** Spark's exact `ntile(k)` from a global row_number and total count:
    * n = q·k + r → the first r buckets take q+1 rows, the rest q. All
    * arithmetic is exact integer DIV; the q=0 branch (n < k) is
    * unreachable when rn > r·(q+1) since that implies q ≥ 1, so the
    * lazy CASE WHEN never divides by zero under ANSI. */
  def ntileOf(k: Int, rn: Column, n: Column): Column = {
    val idiv = (a: Column, b: Column) => call_function("div", a, b)
    val q = idiv(n.cast("long"), lit(k.toLong))
    val r = n.cast("long") % lit(k.toLong)
    (when(rn <= (q + 1L) * r, idiv(rn - 1L, q + 1L))
       .otherwise(r + idiv(rn - 1L - (q + 1L) * r, q)) + 1L).cast("int")
  }

  /** `cume_dist()` from the peer-inclusive ≤-count and the group total. */
  def cumeDistOf(cntLe: Column, n: Column): Column =
    cntLe.cast("double") / n

  /** `percent_rank()` from the global rank and the group total (Spark's
    * n=1 → 0.0 convention). */
  def percentRankOf(rank: Column, n: Column): Column =
    when(n > 1L, (rank - 1L).cast("double") / (n - 1L)).otherwise(lit(0.0))
}
