package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Determinism helpers (SURVEY.md §2.10) — every query funnels through
  * these so its parquet dump hash-matches the DuckDB oracle:
  *  1. total order on a unique key list (`ord`);
  *  2. aggregated doubles rounded to 4 decimals (`r4`) — summation order
  *     differs across engines/partitions;
  *  3. explicit null ordering (Spark ASC default = NULLS FIRST; oracle SQL
  *     spells it out).
  */
object Fin {
  /** round(x, 4) — apply to EVERY aggregated/computed double column.
    *
    * The trailing `+ 0.0` is IEEE-754 negative-zero normalization: a raw
    * value in (-5e-5, 0) rounds to -0.0 under DuckDB's float round but
    * +0.0 under Spark's BigDecimal round; both compare == but differ in
    * BITS, and the driver's gate hashes bits (r8's sole red row,
    * q_pmi_bigrams). `x + 0.0` maps -0.0 to +0.0 and is the identity on
    * every other double (incl. NULL and NaN). The oracle SQL applies the
    * same textual `+ 0.0` wrap on every 2-arg round — both engines then
    * emit identical bits for every rounded column, negative or not. */
  def r4(c: Column): Column = round(c, 4) + lit(0.0)

  /** Total order; ties must be broken by a real unique key. */
  def ord(df: DataFrame, cols: Column*): DataFrame = df.orderBy(cols: _*)

  /** Epoch seconds as long (floor), mirroring the oracle's
    * `epoch_us(ts)//1000000` — keeps timestamp math integral and avoids
    * ns/µs unit drift (SURVEY.md §2.10 rule 4). */
  def epochSec(c: Column): Column = unix_timestamp(c)

  /** Exact-integer moments: Σx, Σx², cross products accumulate in
    * decimal(38,0), exact to 10³⁸ like the oracle's HUGEINT, where an
    * int64 square of cents or counts can wrap. */
  def dec(c: Column): Column = c.cast("decimal(38,0)")
}
