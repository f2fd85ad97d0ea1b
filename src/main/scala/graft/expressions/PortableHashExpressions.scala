package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 62-bit hashing for the sketch operators (MinHash bands,
  * SimHash, winnowing, KMV): the LOW 8 bytes of the MD5 digest read
  * little-endian, masked to 62 bits — bit-identical to DuckDB 1.0's
  * `md5_number_lower(x) & 4611686018427387903` (verified against the
  * digest byte layout). The 62-bit mask keeps every value non-negative in
  * a signed BIGINT, so ordering, min-taking, and arithmetic agree between
  * Spark longs and DuckDB UBIGINT/BIGINT without unsigned gymnastics.
  *
  * Why not xxhash64: it is Spark-private — no other engine reproduces it,
  * which made every sketch query a weaker rows-only check (round-3 verdict
  * finding #3). MD5 is ~20x slower per call than xxhash but the sketch
  * inputs are short strings and the kernels amortize one ThreadLocal
  * digest instance, so the measured end-to-end cost at sf0.1 is noise.
  */
object PortableHash {
  /** splitmix64 finalizer — the band-key combine step of the MinHash
    * band-key kernels (engine-local, never part of an oracle spelling).
    */
  private[expressions] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 2^62 - 1: the hash ring mask. */
  final val Mask62 = 0x3FFFFFFFFFFFFFFFL

  /** 2^62 as an exact double — the KMV estimator's ring size. */
  final val Ring62 = 4611686018427387904.0

  /** 2^62 / 8 — the q22 hash-Bernoulli sampler's 1-in-8 threshold. */
  final val Ring62Over8 = 576460752303423488L

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Little-endian long of digest bytes 8..15 — DuckDB md5_number_lower. */
  def lower64(d: Array[Byte]): Long = {
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  def md5Lower62(bytes: Array[Byte], off: Int, len: Int): Long = {
    val m = mdLocal.get()
    m.reset()
    m.update(bytes, off, len)
    lower64(m.digest()) & Mask62
  }

  def md5Lower62(u: UTF8String): Long = {
    val b = u.getBytes
    md5Lower62(b, 0, b.length)
  }

  /** Portable hash of any atomic value via its canonical string form —
    * matches `md5_number_lower(CAST(x AS VARCHAR)) & mask` for integral
    * and string types (do NOT use on floating-point columns: engines
    * disagree on float-to-string rendering).
    */
  def md5Lower62Any(v: Any): Long = v match {
    case u: UTF8String => md5Lower62(u)
    case other => md5Lower62(UTF8String.fromString(other.toString))
  }
}

/** Per-element portable md5-62 hashes of a string array. With
  * `distinctSorted` the output is the ascending distinct hash set (the
  * Jaccard-set build for d3's shingles); without it, element order and
  * multiplicity are preserved (the SimHash input, which weights by token
  * frequency). Null elements are skipped. One fused primitive pass — the
  * HOF formulation (`transform` + `array_distinct` + `array_sort`) walks
  * the array three times and boxes every hash.
  */
case class Md5HashArray62(child: Expression, distinctSorted: Boolean)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        out(m) = PortableHash.md5Lower62(a.getUTF8String(i))
        m += 1
      }
      i += 1
    }
    if (!distinctSorted) {
      return new GenericArrayData(
        if (m == n) out else java.util.Arrays.copyOf(out, m))
    }
    java.util.Arrays.sort(out, 0, m)
    var p = 0
    var j = 0
    while (j < m) {
      if (p == 0 || out(j) != out(p - 1)) { out(p) = out(j); p += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, p))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused MinHash signature + LSH band keys over PORTABLE arithmetic: the
  * permutation lane is h31 = h & (2^31-1) and each permutation value is
  * (a_p * h31 + b_p) mod (2^31-1) — the classic Carter-Wegman family over
  * the Mersenne prime. Every intermediate fits a signed 64-bit integer
  * exactly (a_p < 2^31, h31 < 2^31 → product < 2^62), so a DuckDB oracle
  * reproduces the signatures with plain BIGINT `*`, `+`, `%` — unlike the
  * previous wraparound-multiply family, whose mod-2^64 arithmetic errors
  * out in engines with checked integer overflow.
  *
  * The per-band key mixes the band's `rows` signature values through
  * splitmix64 (engine-local): a mix COLLISION can add a Spark-side
  * candidate pair the oracle's raw signature-equality join never
  * generates, and if that pair also passed the Jaccard threshold the
  * hash-check would diverge — an accepted residual risk of order
  * (candidate keys)^2 / 2^64 (~1e-9 at sf0.1), not a neutralized one.
  * Empty input → empty key array (empty documents must not collide into
  * one bucket).
  */
case class MinHashBandKeysMod31(
    child: Expression,
    permA: Array[Long], permB: Array[Long],
    bands: Int, rows: Int)
    extends UnaryExpression with KernelCodegen {

  require(bands * rows <= permA.length && permA.length == permB.length)

  private final val P31 = 2147483647L // 2^31 - 1, Mersenne prime

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<bigint> of element hashes, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData].toLongArray()
    if (hs.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val k = bands * rows
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h31 = hs(i) & 0x7FFFFFFFL
      var p = 0
      while (p < k) {
        val v = (permA(p) * h31 + permB(p)) % P31
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = b.toLong // distinct bands never collide across band index
      var r = 0
      while (r < rows) { key = PortableHash.mix64(key ^ sig(b * rows + r)); r += 1 }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scalar portable md5-62 hash of a string — the deterministic Bernoulli
  * sampler primitive (filter h < ring * rate selects a reproducible,
  * uniform, engine-portable sample with no sort and no RNG state).
  */
case class Md5Hash62(child: Expression)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(PortableHash.md5Lower62(input.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableHashExpressions {
  def md5HashArray62(a: Column, distinctSorted: Boolean): Column =
    ColumnBridge.column(Md5HashArray62(ColumnBridge.expression(a), distinctSorted))

  def md5Hash62(c: Column): Column =
    ColumnBridge.column(Md5Hash62(ColumnBridge.expression(c)))

  def minhashBandKeysMod31(hashes: Column, permA: Array[Long], permB: Array[Long],
      bands: Int, rows: Int): Column =
    ColumnBridge.column(MinHashBandKeysMod31(
      ColumnBridge.expression(hashes), permA, permB, bands, rows))
}
