package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-hashing expressions for the dedup operators.
  *
  * The declarative formulation (nested `transform`/`array_min` over
  * shingle arrays) evaluates interpreted Catalyst lambdas per element
  * and allocates intermediate arrays per permutation; these expressions
  * do the whole per-document computation in one tight loop. Hash values
  * are IDENTICAL to the declarative version (xxhash64 seed 42 over the
  * shingle bytes, XOR-splitmix64 permutations), so results don't change
  * — only the evaluation cost.
  *
  * CodegenFallback is deliberate: the per-row work (hundreds of hashes)
  * dwarfs the boxing overhead, and it keeps the implementation a plain
  * Scala loop.
  */
private[functions] object TextHash {
  final val Seed = 42L

  def splitmix64(j: Long): Long = {
    var z = j + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hashUtf8(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), Seed)

  /** Hashes of all n-grams (tokens joined by single spaces), in order. */
  def ngramHashes(text: UTF8String, n: Int): Array[Long] = {
    val tokens = text.toString.split(" ", -1)
    if (tokens.length < n) return Array.emptyLongArray
    val out = new Array[Long](tokens.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(tokens(i + k))
        k += 1
      }
      out(i) = hashUtf8(UTF8String.fromString(sb.toString))
      i += 1
    }
    out
  }
}

/** minhash_sig(text): 32-permutation MinHash signature over word
  * 5-gram shingles, or NULL when the document has < 5 tokens. */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // can return null for a NON-null input (< n tokens): must declare it,
  // or IsNotNull filters on the output constant-fold away
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val hs = TextHash.ngramHashes(input.asInstanceOf[UTF8String], 5)
    if (hs.isEmpty) return null
    val sig = new Array[Long](32)
    var j = 0
    while (j < 32) {
      val c = TextHash.splitmix64(j.toLong)
      var mn = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = hs(i) ^ c
        if (v < mn) mn = v
        i += 1
      }
      sig(j) = mn
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(c)
}

/** ngram_hashes(text): DISTINCT hashed word 3-grams (order of first
  * occurrence), or NULL when the document has < 3 tokens. */
case class NgramHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"
  // can return null for a NON-null input (< n tokens): must declare it,
  // or IsNotNull filters on the output constant-fold away
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val hs = TextHash.ngramHashes(input.asInstanceOf[UTF8String], 3)
    if (hs.isEmpty) return null
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < hs.length) { seen.add(hs(i)); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): NgramHashes = copy(c)
}

/** min_md5_ngram(text): lexicographic minimum of md5-hex over all word
  * 3-grams — the document fingerprint — or NULL when < 3 tokens.
  * Byte-identical to min(md5(ngram)) computed declaratively or by the
  * DuckDB oracle (md5 hex is engine-independent). */
case class MinMd5Ngram(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "min_md5_ngram"
  // can return null for a NON-null input (< n tokens): must declare it,
  // or IsNotNull filters on the output constant-fold away
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"min_md5_ngram expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < 3) return null
    val md = MinMd5Ngram.digest.get()
    // lowercase-hex order == unsigned-byte order of the raw digest, so
    // compare digests directly and hex-encode only the winner
    var best: Array[Byte] = null
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - 3) {
      sb.setLength(0)
      sb.append(tokens(i)).append(' ').append(tokens(i + 1))
        .append(' ').append(tokens(i + 2))
      md.reset()
      val dg = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (best == null || MinMd5Ngram.unsignedLt(dg, best)) best = dg
      i += 1
    }
    val hex = "0123456789abcdef"
    val out = new Array[Char](32)
    var k = 0
    while (k < 16) {
      out(2 * k) = hex.charAt((best(k) >> 4) & 0xf)
      out(2 * k + 1) = hex.charAt(best(k) & 0xf)
      k += 1
    }
    UTF8String.fromString(new String(out))
  }

  override protected def withNewChildInternal(c: Expression): MinMd5Ngram = copy(c)
}

object MinMd5Ngram {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private[functions] def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }
}

/** intersect_size_sorted(a, b): |a ∩ b| for two SORTED long arrays via
  * a zero-allocation merge scan. `array_intersect` builds a boxed hash
  * set per row — at millions of candidate pairs (q_simjoin_prefix) that
  * boxing dominates the whole query; the merge scan is ~50 long
  * compares per pair. Inputs MUST be sorted ascending and distinct
  * (both true of `sort_array(collect_set(...))`); result equals
  * `size(array_intersect(a, b))` exactly. */
case class IntersectSizeSorted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_size_sorted"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] &&
        left.dataType.asInstanceOf[ArrayType].elementType == LongType &&
        right.dataType.isInstanceOf[ArrayType] &&
        right.dataType.asInstanceOf[ArrayType].elementType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_size_sorted expects two array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val xb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val na = xa.numElements()
    val nb = xb.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < na && j < nb) {
      val va = xa.getLong(i)
      val vb = xb.getLong(j)
      if (va == vb) { n += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    n
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IntersectSizeSorted = copy(l, r)
}
