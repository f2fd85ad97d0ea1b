package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the set-sketch hot paths (SURVEY build
  * brief preference (b): a native Expression beats HOF composition when the
  * built-ins force per-element allocation).
  *
  * All are tight primitive loops — no boxing, no intermediate arrays. The
  * kernels stay in whole-stage codegen via [[KernelCodegen]] (a
  * CodegenFallback would drop the whole stage to interpreted eval);
  * SortedLongIntersectSize additionally inlines its merge walk as
  * generated Java since it runs per PAIR, not per row.
  */

/** Size of the intersection of two SORTED long arrays (merge walk, O(n+m),
  * zero allocation). Callers sort once per document (array_sort), pairs pay
  * only the walk — vs array_intersect's per-pair hash set build.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"expected (array<bigint>, array<bigint>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    // walk the ArrayData in place — toLongArray() would copy ~4KB per side
    // per PAIR (hundreds of MB of allocation across a blocked-join's pairs)
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0, $n = 0;
         |final int $na = $a.numElements(), $nb = $b.numElements();
         |while ($i < $na && $j < $nb) {
         |  final long $x = $a.getLong($i); final long $y = $b.getLong($j);
         |  if ($x == $y) { $n++; $i++; $j++; }
         |  else if ($x < $y) $i++; else $j++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression = copy(newLeft, newRight)
}

/** k-permutation MinHash signature from an array of element hashes:
  * sig[p] = min over elements of (a[p]*h + b[p]), wraparound arithmetic.
  * One k*n primitive loop per row — the HOF formulation allocates a k-wide
  * array per ELEMENT (zip_with) or re-evaluates the input per PERMUTATION
  * (array_min×k after CollapseProject inlining).
  */
case class MinHashSignature64(
    child: Expression, permA: Array[Long], permB: Array[Long])
    extends UnaryExpression with KernelCodegen {

  private val k = permA.length
  require(permB.length == k)

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
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var p = 0
      while (p < k) {
        val v = permA(p) * h + permB(p)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SetSketchExpressions {
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minhashSignature64(hashes: Column, permA: Array[Long], permB: Array[Long]): Column =
    ColumnBridge.column(MinHashSignature64(
      ColumnBridge.expression(hashes), permA, permB))

  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  def winnowFingerprints(text: Column, n: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), n, w))

  def hashedSortedCharNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(HashedSortedCharNgrams(ColumnBridge.expression(text), n))

  def tokenStats(text: Column, stopWords: Seq[String]): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(text), stopWords.toArray))

  def minhashBandKeys64(hashes: Column, permA: Array[Long], permB: Array[Long],
      bands: Int, rows: Int): Column =
    ColumnBridge.column(MinHashBandKeys64(
      ColumnBridge.expression(hashes), permA, permB, bands, rows))
}

/** 64-bit SimHash from an array of element hashes: per-bit signed counts,
  * bit set where positive. One n*64 primitive loop — the HOF fold allocates
  * a 64-long array per element.
  */
case class SimHash64(child: Expression) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
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
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused MinHash signature + LSH band keys: from an array of element
  * hashes, compute the bands*rows-permutation signature and mix each band's
  * rows into one 64-bit key (splitmix64 combine). One expression → one
  * evaluation per row, no intermediate signature column, no exchange
  * barrier needed to stop CollapseProject re-evaluating the signature in
  * every band lambda. Empty input → empty key array (empty documents must
  * not collide into one mega-bucket).
  */
case class MinHashBandKeys64(
    child: Expression,
    permA: Array[Long], permB: Array[Long],
    bands: Int, rows: Int)
    extends UnaryExpression with KernelCodegen {

  require(bands * rows <= permA.length && permA.length == permB.length)

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
      val h = hs(i)
      var p = 0
      while (p < k) {
        val v = permA(p) * h + permB(p)
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

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): char n-gram hashes →
  * per-window (w) minima → distinct, from the input string in ONE pass.
  * Fused into a single expression because the HOF formulation is poison:
  * the n-gram lambda captures the (computed) normalized-string expression
  * and interpreted HOF eval recomputes it per element — regex × grams ×
  * windows per document (observed: minutes for 500 rows).
  *
  * Gram hashes are portable md5-62 (PortableHash): for ASCII input the
  * digest runs straight over the n-byte windows of the UTF-8 backing
  * bytes — identical to DuckDB's md5_number_lower(substring(...)) because
  * an ASCII substring's UTF-8 bytes ARE the byte slice — so the selected
  * fingerprints hash-check against the SQL oracle.
  */
case class WinnowFingerprints(child: Expression, n: Int, w: Int)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val bytes = u.getBytes
    val ascii = u.numChars() == bytes.length
    // General path windows over CODE POINTS, not UTF-16 units: DuckDB's
    // substring/length count code points, and a UTF-16 window would both
    // miscount astral text and split surrogate pairs — breaking the t6
    // oracle contract exactly where it is hardest to notice.
    val cps: Array[Int] = if (ascii) null else u.toString.codePoints().toArray
    val chars = if (ascii) bytes.length else cps.length
    if (chars < n) return new GenericArrayData(Array.emptyLongArray)
    val m = chars - n + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) =
        if (ascii) PortableHash.md5Lower62(bytes, i, n)
        else PortableHash.md5Lower62(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(cps, i, n)))
      i += 1
    }
    val nw = math.max(m - w + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < nw) {
      var mn = Long.MaxValue
      var k = j
      val end = math.min(j + w, m)
      while (k < end) { if (hs(k) < mn) mn = hs(k); k += 1 }
      seen.add(mn)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct char n-gram hashes of a string, sorted — the per-document set
  * build for blocked Jaccard dedup, fused into one primitive pass. Hash
  * values are IDENTICAL to `xxhash64(substr(...))` (same seed-42 xxhash of
  * the same UTF-8 bytes), so downstream semantics match the HOF
  * formulation bit for bit; the fused loop replaces ~450 Column-level
  * substr/hash/distinct/sort expression evaluations per document.
  */
case class HashedSortedCharNgrams(child: Expression, n: Int)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    // ASCII fast path (numChars == numBytes ⇔ all single-byte): hash the
    // n-byte windows straight off the UTF8String's backing bytes — zero
    // per-gram allocation, bit-identical to xxhash64(substr(...)) because
    // an ASCII substring's UTF-8 bytes ARE the byte slice. Sort-then-unique
    // replaces the boxed HashSet (300 longs sort faster than they box).
    val nb = u.numBytes()
    if (u.numChars() == nb) {
      if (nb < n) return new GenericArrayData(Array.emptyLongArray)
      val m = nb - n + 1
      val arr = new Array[Long](m)
      val base = u.getBaseObject
      val off = u.getBaseOffset
      var i = 0
      while (i < m) {
        arr(i) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + i, n, 42L)
        i += 1
      }
      java.util.Arrays.sort(arr)
      var p = 0
      var i2 = 0
      while (i2 < m) {
        if (p == 0 || arr(i2) != arr(p - 1)) { arr(p) = arr(i2); p += 1 }
        i2 += 1
      }
      return new GenericArrayData(java.util.Arrays.copyOf(arr, p))
    }
    // general (multi-byte) path: UTF-16 substring semantics, as before
    val s = u.toString
    if (s.length < n) return new GenericArrayData(Array.emptyLongArray)
    val m = s.length - n + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      arr(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(i, i + n)),
        StringType, 42L)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var p = 0
    var i2 = 0
    while (i2 < m) {
      if (p == 0 || arr(i2) != arr(p - 1)) { arr(p) = arr(i2); p += 1 }
      i2 += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, p))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}


/** One-pass language-marker scores: tokenize (Java whitespace class,
  * lowercased) ONCE and count hits against each marker set — the t3
  * language-ID scorer. The HOF formulation re-tokenizes per language
  * (5 interpreted filter lambdas per row). Output: array<long>, one
  * count per marker set, in input order.
  */
case class LangScores(child: Expression, markerSets: Array[Array[String]])
    extends UnaryExpression with KernelCodegen {

  private lazy val lookup: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    markerSets.zipWithIndex.foreach { case (set, i) =>
      set.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }

  // Java-regex \s class (NOT Character.isWhitespace, which adds Unicode
  // spaces) — must match lowerTokens/split("\\s+") and the RE2 oracle
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '' || c == '\f' || c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val counts = new Array[Long](markerSets.length)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        val hit = lookup.get(s.substring(start, i).toLowerCase)
        if (hit != null) { var j = 0; while (j < hit.length) { counts(hit(j)) += 1; j += 1 } }
      }
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass token statistics over a string:
  *   n_tokens         — whitespace-run-delimited tokens (Java whitespace
  *                      class: space TAB LF VT FF CR — matches split on \s+)
  *   n_distinct_lower — distinct lowercased tokens
  *   n_stop           — lowercased tokens found in `stopWords`
  *   n_bpe_ish        — alnum runs + non-alnum non-whitespace chars (the
  *                      portable BPE-proxy; whitespace class here matches
  *                      the oracle's replace class)
  * Replaces three separate tokenize/filter/distinct HOF pipelines per row
  * (each interpreted, each allocating token arrays).
  */
case class TokenStats(child: Expression, stopWords: Array[String])
    extends UnaryExpression with KernelCodegen {

  private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct_lower", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_bpe_ish", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
  private def isBpeWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    var nTok = 0L; var nStop = 0L
    val distinct = new java.util.HashSet[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        nTok += 1
        val lower = s.substring(start, i).toLowerCase
        distinct.add(lower)
        if (stopSet.contains(lower)) nStop += 1
      }
    }
    // BPE-ish: alnum runs + non-alnum non-(bpe-)whitespace chars
    var nBpe = 0L
    i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (isAlnum(c)) {
        nBpe += 1
        while (i < len && isAlnum(s.charAt(i))) i += 1
      } else {
        if (!isBpeWs(c)) nBpe += 1
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, distinct.size.toLong, nStop, nBpe))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
