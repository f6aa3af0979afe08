package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, NullsFirst}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global-order window tier — the 100 TB form of
  * `Window.orderBy(...)` without a partition spec.
  *
  * A global ordered window funnels its whole input through ONE
  * partition (Spark warns "Moving all data to a single partition"):
  * correct at any test SF, dead at 100× on a data-proportional frame
  * (per-customer, per-user, per-order rollups). This helper computes
  * the same values with the classic two-phase prefix scheme every
  * distributed sort system uses:
  *
  *  1. a DETERMINISTIC range-bucket id per row: cut points are
  *     hash-gate sampled (order-insensitive — a pure function of the
  *     data multiset, not of partition layout), sorted, selected, and
  *     deduped IN-PLAN on a 1-row scalar-subquery frame (deduped
  *     across the tier's branches by ReuseSubquery, so the pipeline
  *     runs once per action), and the bucket id is [[DistBucket]]'s
  *     binary search over that array — a pure function of
  *     (cuts, row keys). Equal keys always map to the same bucket, so
  *     rank/peer semantics survive;
  *  2. the SAME window per range bucket (partitioned by the bucket id,
  *     so every window in the plan carries a partition spec and stays
  *     a parallel sort — the window's own hash exchange distributes
  *     the buckets; no extra range shuffle is needed);
  *  3. per-bucket totals — a ≤`buckets`-row frame (global) or a
  *     ≤|groups|+`buckets`-row frame (grouped) — collected pid-sorted
  *     into ONE scalar subquery, prefix-folded in a single O(rows)
  *     [[DistFold]] pass, and read per row by `element_at(arr, pid+1)`
  *     (global — buckets are contiguous, every pid is populated) or a
  *     [[DistBucket]] binary-search index (grouped): the strictly-prior
  *     offsets that lift each local result to the global value, with
  *     zero join machinery and no window over the offsets frame, so
  *     plans built here contain zero unpartitioned windows.
  *
  * Equivalences (bit-exact, not approximate — the DuckDB oracle gate
  * re-verifies every consumer at three SFs):
  *  - global `row_number()`      = local row_number + prior-bucket count
  *  - global running `sum(x)`    = local running sum + prior-bucket Σx
  *  - global `rank()` / peer cnt = local value + prior count (ties never
  *    cross a bucket boundary)
  *  - `lead(x, 1)`               = local lead, else next bucket's first x
  *  - `ntile`/`cume_dist`/`percent_rank` derive from the above plus the
  *    group total ([[ntileOf]], [[cumeDistOf]], [[percentRankOf]]).
  *
  * `part` generalizes to grouped-but-data-proportional windows (per
  * market segment, per day): cuts are taken on (part ++ order), so one
  * heavy group parallelizes across many buckets while the offsets stay
  * per-group.
  *
  * Determinism & fault tolerance (r16 — lazy in-plan cuts, replacing
  * r15's driver-side eager sample which itself replaced the r14 lazy
  * localCheckpoint): the bucket id is [[DistBucket]] — a binary search
  * over a sorted cut array built IN the plan from a hash-gated sample
  * (order- and layout-insensitive, a pure function of the data
  * multiset), so ANY re-evaluation of any subtree — executor loss,
  * cache eviction, AQE re-plan — assigns identical ids. The input IS
  * `persist()`ed as a compute-once optimization, but eviction or loss
  * of its blocks is safe by construction (DistPrefixSpec evicts every
  * cache between runs and pins bit-equality). The totals frame is NOT
  * persisted: a cached frame plans its own copy of the cuts subquery,
  * which ReuseSubquery cannot share with the query's, so persisting it
  * would run the count and sample jobs a second time per action.
  *
  * Cost: ZERO driver actions at plan-construction time (r16 — explain
  * and plan audits execute nothing; the count + sample run as part of
  * the query's own first action, reading the persisted input so the
  * upstream pipeline executes once), plus the window's hash exchange
  * and broadcast joins against constant-bounded frames — bucket-count
  * parallel at every step, which is the trade against the
  * single-partition sort this replaces. `buckets` caps at
  * [[MaxBuckets]] (4096 — the binary-search bucket expression lifted
  * r15's 1024 literal-tree bound); past MaxBuckets·65536 rows the
  * clamp auto-raises rows-per-bucket while parallelism holds at the
  * cap.
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
    * expression arity — r15's literal comparison tree topped out at
    * 1024 nodes. At the default 65,536 rows per bucket the full-
    * parallelism ceiling is ~268M rows per (part) group spread; past
    * that the clamp auto-raises rows-per-bucket (parallelism holds at
    * the cap while buckets stay fixed), which is the documented
    * escalation rule — now code, not prose (r15 verdict ask #5). */
  val MaxBuckets = 4096

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
    *               so nullability is a caller contract like lead1's
    *  @param rowNum outName for the global row_number (long)
    * @param rankLe (rankOut, cntLeOut): global `rank()` (long) and the
    *               RANGE-frame peer-inclusive row count (long) — the
    *               cume_dist numerator
    * @param maxPrev (outName, expr): running max of `expr` over ROWS
    *               UNBOUNDED PRECEDING..-1 (strictly prior; NULL on the
    *               global first row) — max is associative, so the
    *               offset is the prior buckets' max under
    *               null-skipping `greatest`
    * @param groupN outName for the group (or global) row count (long)
    * @param lead1  (srcColName, outName): `lead(src, 1)` over the global
    *               order; `src` must be non-null (boundary stitch uses
    *               coalesce)
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
             lead1: Option[(String, String)] = None,
             maxPrev: Seq[(String, Column)] = Nil,
             parts: Int = 0): DataFrame = {
    val pid = "__dp_pid"
    val lrn = "__dp_lrn"
    val partCols = pid +: part

    // Phase 1 (r16, r15 verdict ask #3): deterministic bucket id,
    // FULLY LAZY. Cut points come from the same hash-gated sample as
    // r15 — a pure function of the data multiset, so two independent
    // evaluations of ANY subtree agree on every pid — but the count,
    // the sample, the sort, and the cut selection are now all
    // IN-PLAN: a scalar-subquery frame aggregates the sample into an
    // array, array_sorts it with the key comparator, picks the
    // evenly-spaced cut tuples, and dedups adjacent equals;
    // [[DistBucket]] binary-searches the subquery value per row.
    // Plan construction therefore runs ZERO Spark jobs (explain and
    // the plan specs execute nothing), and the persist stays
    // a compute-once optimization — eviction or executor loss
    // recomputes bit-identically (DistPrefixSpec evicts every cache
    // between runs and pins equality).
    val keys: Seq[Key] =
      part.map(p => Key(col(p), asc = true, nullsFirst = true)) ++
        orderKeys(df, order)
    val keyCols = keys.map(_.c)
    val cached = graft.Iter.share(df)
    val idiv = (a: Column, b: Column) => call_function("div", a, b)
    // ONE SCALAR SUBQUERY per tier call, not broadcast cross-joins
    // into the fact frame: the cuts frame is referenced by every tier
    // branch (window, totals, both prior-join sides, the lead stitch)
    // — as a fact-side cross-joined subtree it would be RE-EXECUTED
    // per branch (measured: ~30 broadcast jobs per action on
    // q_cume_dist), while identical scalar subqueries are deduped by
    // ReuseSubquery and the cut pipeline runs ONCE per action. The
    // row count the gate needs is an INTERNAL 1-row cross join of the
    // subquery itself (not a second top-level subquery — fewer
    // per-action jobs, nothing else reads it).
    // Floor at 2 buckets: a 1-bucket pid would make every window
    // partition constant — semantically the unpartitioned window this
    // tier exists to avoid. Two buckets keep real parallelism
    // structure at trivial cost (one cut, a 2-row offsets frame).
    // The data-sized clamp auto-raises rows-per-bucket past
    // MaxBuckets·65536 rows (the escalation rule, see [[MaxBuckets]]).
    val bCol: Column =
      if (parts > 0) lit(math.max(parts, 2))
      else least(lit(MaxBuckets.toLong),
        greatest(lit(2L), idiv(col("__dp_n") + lit(65535L), lit(65536L))))
        .cast("int")
    val kcols = keys.indices.map(i => col(s"k$i"))
    val kproj = cached
      .select(keys.zipWithIndex.map { case (k, i) => k.c.as(s"k$i") }: _*)
    // hash gate sized for ~128 sample tuples per bucket — order-
    // insensitive, layout-insensitive, identical to the r15 gate.
    // The gate applies on BOTH paths (r16 ADVICE): parts > 0 is the
    // tier's public API too, and an ungated collect_list would funnel
    // a fact-scale frame into one task if a future caller passed
    // parts on one. On the intended tiny explicit-parts frames the
    // modulus is provably 1 (n < parts·128), so every committed
    // result is unchanged; the price is the count aggregate the r16
    // trim had skipped, folded into the same once-per-action subquery.
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
      // the last element — the r15 selection rule, spelled in-plan
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
    lead1.foreach { case (src, out) =>
      local = local.withColumn(s"__dp_l_$out", lead(col(src), 1).over(wBase))
    }
    maxPrev.foreach { case (name, e) =>
      local = local.withColumn(s"__dp_l_$name",
        max(e).over(wBase.rowsBetween(Window.unboundedPreceding, -1)))
    }

    // Phase 3: per-(pid, group) totals — a ≤`buckets`·|adjacent groups|
    // row frame (buckets are contiguous ranges, so Σ_pid groups ≤
    // |groups| + buckets).
    val totAggs =
      count(lit(1)).as("__dp_cnt") +:
        (cums.map { case (name, e) => sum(e).as(s"__dp_t_$name") } ++
         maxPrev.map { case (name, e) => max(e).as(s"__dp_m_$name") })
    // not persisted (see the scaladoc): the offsets subquery is its one
    // reader; the lead stitch, which reads it again, aggregates the
    // persisted input a second time
    val offs = ordered.groupBy(partCols.map(col): _*)
      .agg(totAggs.head, totAggs.tail: _*)

    val sameGroup = (l: String, r: String) =>
      part.foldLeft(lit(true))((c, k) => c && col(s"$l.$k") <=> col(s"$r.$k"))
    // Read the fold's generically-named entry fields back into the
    // tier's offset columns. Bind the subquery value to ONE column and
    // read fields from it: a fresh reference per withColumn would
    // re-analyze into a distinct subquery instance (lambda variables
    // get new ids, so canonical forms differ and ReuseSubquery cannot
    // dedup them) — measured r18 as one FULL extra offsets execution
    // per referenced field (q_wasserstein ran the subquery 4×).
    // CollapseProject keeps multi-referenced non-cheap aliases, so the
    // binding survives optimization.
    def readEntry(base: DataFrame): DataFrame = {
      var o = base.withColumn("__dp_off_cnt", col("__dp_me.cnt"))
      cums.zipWithIndex.foreach { case ((name, _), i) =>
        o = o.withColumn(s"__dp_off_$name", col(s"__dp_me.c${i + 1}"))
      }
      maxPrev.zipWithIndex.foreach { case ((name, _), j) =>
        o = o.withColumn(s"__dp_offm_$name", col(s"__dp_me.m${j + 1}"))
      }
      o
    }
    var out: DataFrame = null
    if (part.isEmpty) {
      // GLOBAL order (r18; fold rewritten r19): the whole offsets table
      // rides ONE scalar subquery instead of the broadcast theta
      // self-join + group-total rollup + their stitch joins. Buckets
      // are contiguous by construction — every cut is a sampled data
      // value, so for cut c_j the rows equal to c_j land exactly in
      // bucket j and every pid 0..#cuts is populated — which makes the
      // per-row lookup a plain element_at(arr, pid + 1). The
      // strictly-prior offsets are ONE [[DistFold]] pass over the
      // pid-sorted array (exact int64 adds in ascending pid order ≡
      // the old per-join sums; maxes skip nulls exactly like the old
      // `greatest` chain), O(buckets) per ACTION — replacing the r18
      // transform×slice×aggregate fold whose interpreted lambdas cost
      // O(buckets²·fields) struct reads at the 4096-bucket cap.
      val payload = struct(
        (pid +: "__dp_cnt" +:
          (cums.map(c => s"__dp_t_${c._1}") ++
           maxPrev.map(c => s"__dp_m_${c._1}"))).map(col): _*)
      val prefixed = offs
        .agg(array_sort(collect_list(payload)).as("__dp_a"))
        .select(call_function("dist_fold", col("__dp_a"),
          lit(0), lit(cums.size)).as("__dp_o"))
        .scalar()
      out = readEntry(
        local.withColumn("__dp_sub", prefixed)
          .withColumn("__dp_me",
            element_at(col("__dp_sub.arr"), col(pid) + 1)))
      groupN.foreach { gn =>
        out = out.withColumn(gn, col("__dp_sub.gn"))
      }
      out = out.drop("__dp_sub", "__dp_me")
    } else {
      // GROUPED, bounded group domain (r19, the r18 verdict ask #1):
      // the same single-subquery design as the global path, extended
      // with group keys. The (part…, pid)-sorted offsets array is
      // prefix-folded by [[DistFold]] (group-key changes reset the
      // running sums, and each entry carries its group total), and
      // every row finds its entry by [[DistBucket]] binary search over
      // the parallel keys array — dist_bucket returns the count of
      // tuples strictly before (part…, pid), which IS the entry's
      // 0-based index because every row's (part…, pid) exists in the
      // offsets frame by construction. This removes the broadcast
      // theta self-join + conditional-aggregate rollup + broadcast
      // stitch join (two broadcast builds per action) from the grouped
      // plan. The collected array is |groups| + buckets entries —
      // constant-bounded for every current caller (segments, langs,
      // variants, calendar days), so the array is tiny; a caller with
      // a data-proportional group domain would build it on one task.
      val payloadG = struct(
        (part.zipWithIndex.map { case (p, i) => col(p).as(s"k$i") } ++
          (Seq(pid, "__dp_cnt").map(col)) ++
          cums.map(c => col(s"__dp_t_${c._1}")) ++
          maxPrev.map(c => col(s"__dp_m_${c._1}"))): _*)
      val keysOf = (x: Column) => struct(
        ((0 until part.size).map(i => x.getField(s"k$i")) :+
          x.getField(pid)): _*)
      val subVal = offs
        .agg(array_sort(collect_list(payloadG)).as("__dp_a"))
        .select(struct(
          transform(col("__dp_a"), x => keysOf(x)).as("ks"),
          call_function("dist_fold", col("__dp_a"),
            lit(part.size), lit(cums.size)).as("fo")).as("__dp_o"))
        .scalar()
      // part keys sort ascending-nulls-first in both the array_sort
      // struct ordering and this spec, so the binary search walks the
      // exact order the array holds
      val specG = (part.map(_ => "af") :+ "af").mkString(",")
      out = readEntry(
        local.withColumn("__dp_sub", subVal)
          .withColumn("__dp_idx", call_function("dist_bucket",
            lit(specG) +: col("__dp_sub.ks") +:
              (part.map(col) :+ col(pid)): _*))
          .withColumn("__dp_me",
            element_at(col("__dp_sub.fo.arr"), col("__dp_idx") + 1)))
      groupN.foreach { gn =>
        out = out.withColumn(gn, col("__dp_me.gn"))
      }
      out = out.drop("__dp_sub", "__dp_idx", "__dp_me")
    }

    // lead(x, 1) boundary stitch: the next bucket's first src value
    // (per group), from the local row_number=1 rows.
    lead1.foreach { case (src, outName) =>
      val firsts = local.filter(col(lrn) === 1L)
        .select(partCols.map(col) :+ col(src).as("__dp_first"): _*)
      val nexts = offs.as("l")
        .join(broadcast(firsts.as("r")),
              sameGroup("l", "r") && col(s"r.$pid") > col(s"l.$pid"), "left")
        .groupBy(partCols.map(k => col(s"l.$k")): _*)
        .agg(min_by(col("r.__dp_first"), col(s"r.$pid")).as("__dp_next"))
        .select(partCols.map(k => col(s"l.$k").as(s"__dp_r_$k")) :+
                col("__dp_next"): _*)
      // null-safe like the offsets stitch (r19) — groups can be NULL
      out = out.join(broadcast(nexts),
          partCols.map(k => col(k) <=> col(s"__dp_r_$k")).reduce(_ && _))
        .withColumn(outName,
          coalesce(col(s"__dp_l_$outName"), col("__dp_next")))
        .drop(partCols.map(k => s"__dp_r_$k") :+ "__dp_next" :+
              s"__dp_l_$outName": _*)
    }

    // Lift local → global and drop the scaffolding.
    cums.foreach { case (name, _) =>
      out = out.withColumn(name, col(s"__dp_l_$name") + col(s"__dp_off_$name"))
        .drop(s"__dp_l_$name", s"__dp_off_$name")
    }
    maxPrev.foreach { case (name, _) =>
      // greatest SKIPS nulls: local-null (bucket first row) reads the
      // offset, offset-null (first bucket) reads local, both-null
      // (global first row) stays NULL — the single-partition semantics
      out = out.withColumn(name,
          greatest(col(s"__dp_l_$name"), col(s"__dp_offm_$name")))
        .drop(s"__dp_l_$name", s"__dp_offm_$name")
    }
    rowNum.foreach { rn =>
      out = out.withColumn(rn, col(lrn) + col("__dp_off_cnt"))
    }
    rankLe.foreach { case (rk, le) =>
      out = out
        .withColumn(rk, col(s"__dp_l_$rk") + col("__dp_off_cnt"))
        .withColumn(le, col(s"__dp_l_$le") + col("__dp_off_cnt"))
        .drop(s"__dp_l_$rk", s"__dp_l_$le")
    }
    out.drop(pid, lrn, "__dp_off_cnt")
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
