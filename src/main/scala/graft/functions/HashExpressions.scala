package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hash-sketch hot paths — ONE
  * hash family, md5-derived: every value (shingle hashes, MinHash
  * components, SimHash bits, window and chunk hashes) is read from md5
  * digests — their top 15 hex chars, their bits, or integer arithmetic
  * on those — so any engine with `md5(varchar)` replays it value for
  * value (the DuckDB oracles do). An xxhash64 family ran beside it until measured: it was only
  * 1.12–1.20× faster (README) and no caller chose it.
  *
  * Rationale for compiled expressions (measured, sf0.1 documents = 5k
  * docs × ~52 shingles): the higher-order-function formulation
  * (`transform(sequence(0,k-1), seed -> array_min(transform(hashes,
  * h -> hash(seed, h))))`) evaluates interpreted lambdas AND
  * re-evaluates the inner array expression once per seed — 86 s for
  * what is ~8M hash calls. These expressions do the same work as one
  * compiled loop per row (< 1 s). This is preference order (b) from the
  * build contract: a native `Expression` where the built-in operator
  * composition genuinely cannot express the computation efficiently.
  *
  * `CodegenFallback` is deliberate: the eval body is a tight compiled
  * Scala loop over `ArrayData`, and these sit in a projection beside
  * codegen'd neighbors; fusing them into generated Java would save only
  * the per-row call overhead.
  */

/** Shared thread-confined MD5 digester for the portable hash family.
  * MessageDigest is not thread-safe and `getInstance` per call would
  * dominate the k×W inner loops — one instance per task thread.
  * Public (not private[functions]) because [[Md5Hash60]]'s generated
  * code calls [[hash60Utf8]]/[[hash60Bytes]] from Janino classes
  * outside this package. */
object Md5 {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  def digest(bytes: Array[Byte]): Array[Byte] = {
    val md = local.get()
    md.reset()
    md.digest(bytes)
  }

  /** The caller-managed thread-local digest, for hot loops that reuse
    * their own output buffer (`md.digest(out, 0, 16)`). */
  def threadDigest(): java.security.MessageDigest = local.get()

  def hex(digest: Array[Byte]): String = {
    val out = new Array[Char](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      out(2 * i) = HEX((digest(i) >> 4) & 0xF)
      out(2 * i + 1) = HEX(digest(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Unsigned lexicographic compare of two equal-length digests ==
    * lexicographic compare of their lowercase-hex strings. */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    0
  }

  val Mask60: Long = (1L << 60) - 1

  /** The top 15 hex chars of the digest as a 60-bit non-negative long ==
    * big-endian first 8 bytes >>> 4 — the numeric form any engine can
    * reconstruct by parsing `substr(md5(x), 1, 15)` as hex. */
  def top60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (digest(i) & 0xFFL)
      i += 1
    }
    v >>> 4
  }

  /** `top60(md5(bytes))` in one call — the scalar kernel behind
    * [[Md5Hash60]] (also invoked from its generated code). */
  def hash60Bytes(bytes: Array[Byte]): Long = top60(digest(bytes))

  /** [[hash60Bytes]] over a UTF8String's bytes without a String
    * round-trip (Spark's internal strings are already utf-8). */
  def hash60Utf8(s: UTF8String): Long = top60(digest(s.getBytes))
}

/** 60-bit portable md5 hash of a string/binary value — VALUE-IDENTICAL
  * to the builtin chain `conv(substring(md5(x), 1, 15), 16, 10)` (the
  * repo-wide oracle hash convention) but computed as digest → top60 in
  * one compiled step. The builtin chain materializes a 32-char hex
  * UTF8String, substrings it, runs NumberConverter's string→string base
  * conversion, and parses the resulting DECIMAL STRING back to a long —
  * five allocations per value; measured 2.4 s for the 600k×4-hash
  * lineitem CMS matrix at sf0.1, dominated by exactly that chain. This
  * expression is the same md5 over the same utf-8 bytes with the top 15
  * nibbles read directly out of the digest. Proper codegen (not
  * CodegenFallback): one static call, no boxing, stays inside the
  * surrounding WholeStageCodegen span. */
case class Md5Hash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash60"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_hash60 needs a string or binary child, got $t")
    }
  // def, not val: the child's dataType is unknowable before resolution
  private def isBinary = child.dataType == BinaryType
  override protected def nullSafeEval(input: Any): Any =
    if (isBinary) Md5.hash60Bytes(input.asInstanceOf[Array[Byte]])
    else Md5.hash60Utf8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val fn = if (isBinary) "hash60Bytes" else "hash60Utf8"
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5.$fn($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

/** ENGINE-PORTABLE shingle hashing: word n-gram shingles → one 60-bit
  * md5-derived integer per DISTINCT shingle (the top 15 hex chars of
  * `md5(shingle)` read as a number — equivalently, the big-endian first
  * 8 digest bytes >>> 4). Every value is replayable in any engine with
  * `md5(varchar)` + integer arithmetic; 60 bits (not 64) so the DuckDB
  * replay stays inside signed BIGINT and the MinHash remix stays inside
  * HUGEINT. One md5 per shingle — the per-seed work downstream is pure
  * arithmetic ([[MinHashPortable]]). */
case class ShinglePortableHash(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash60"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val len = words.numElements()
    val nShingles = math.max(len - n + 1, 1)
    val seen = new java.util.HashSet[Long](nShingles * 2)
    val out = new Array[Long](nShingles)
    var outLen = 0
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      var j = 0
      while (j < n && i + j < len) {
        if (j > 0) sb.append(' ')
        val w = words.getUTF8String(i + j)
        if (w != null) sb.append(w.toString)
        j += 1
      }
      val d = Md5.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = Md5.top60(d)
      if (seen.add(h)) { out(outLen) = h; outLen += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outLen))
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglePortableHash = copy(child = newChild)
}

/** Content-defined-chunking SPANS over a STRING: position `i` (1-based)
  * is a boundary when `top60(md5(substring(text, i, w))) % maskMod == 0`
  * — the cut falls at `i + w − 1` (the chunk ends with its boundary
  * window) — and the output is the full 1-based, inclusive span list
  * `[(s, e), …]` covering the text between consecutive cuts. Character
  * semantics are CODE POINTS — exactly Spark's builtin `substring` and
  * DuckDB's `substr` — so the compiled loop replays bit-for-bit against
  * the oracle's per-position scan.
  *
  * Emitting SPANS (not cut points) is load-bearing twice over: the
  * interpreted `filter(sequence(...), i -> md5(substring(...)))` HOF
  * chain measured 52.8 s on the sf0.1 corpus (the header's HOF lesson),
  * and a separate cuts→spans projection references the cuts array four
  * times, which CollapseProject inlines into FOUR md5 loops per row
  * (the langIdHeuristic expression-duplication trap). One expression,
  * consumed once by posexplode = one loop per row.
  * A text shorter than the window is one whole-text span; empty text
  * yields no spans. */
case class CdcSpans(child: Expression, w: Int, maskMod: Int)
    extends UnaryExpression with CodegenFallback {
  require(w > 0 && maskMod > 0, "window and maskMod must be positive")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("s", IntegerType, nullable = false),
      StructField("e", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_spans"

  override protected def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val len = cps.length
    val cuts = new scala.collection.mutable.ArrayBuffer[Int]()
    val nWin = len - w + 1
    if (nWin > 0) {
      // zero-alloc window hashing: code points UTF-8-encoded straight
      // into a reusable buffer (byte-identical to String.getBytes(UTF_8)
      // incl. the surrogate 4-byte form), one digest buffer reused —
      // measured 6.6 → ~3 s single-core on the sf0.1 corpus vs the
      // StringBuilder→String→getBytes per-window churn
      val buf = new Array[Byte](4 * w)
      val dig = new Array[Byte](16)
      val md = Md5.threadDigest()
      var i = 0
      while (i < nWin) {
        var k = 0
        var j = 0
        while (j < w) {
          val cp = cps(i + j)
          if (cp < 0x80) { buf(k) = cp.toByte; k += 1 }
          else if (cp < 0x800) {
            buf(k) = (0xc0 | (cp >> 6)).toByte
            buf(k + 1) = (0x80 | (cp & 0x3f)).toByte
            k += 2
          } else if (cp < 0x10000) {
            buf(k) = (0xe0 | (cp >> 12)).toByte
            buf(k + 1) = (0x80 | ((cp >> 6) & 0x3f)).toByte
            buf(k + 2) = (0x80 | (cp & 0x3f)).toByte
            k += 3
          } else {
            buf(k) = (0xf0 | (cp >> 18)).toByte
            buf(k + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
            buf(k + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
            buf(k + 3) = (0x80 | (cp & 0x3f)).toByte
            k += 4
          }
          j += 1
        }
        md.reset()
        md.update(buf, 0, k)
        md.digest(dig, 0, 16)
        if (Md5.top60(dig) % maskMod == 0) cuts += (i + w) // 1-based start i+1; cut = (i+1)+w-1
        i += 1
      }
    }
    val spans = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow]()
    var s = 1
    var c = 0
    while (c < cuts.length) {
      spans += org.apache.spark.sql.catalyst.InternalRow(s, cuts(c))
      s = cuts(c) + 1
      c += 1
    }
    if (len >= s) spans += org.apache.spark.sql.catalyst.InternalRow(s, len)
    new GenericArrayData(spans.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): CdcSpans = copy(child = newChild)
}

/** POSITIONAL window hashing for substring-level exact dedup: the
  * 60-bit md5 hash ([[Md5.top60]]) of EVERY w-word sliding window, in
  * offset order — `out(i) = hash60(words[i..i+w-1] joined by ' ')`, so
  * `posexplode` yields 0-based (offset, hash) pairs. Unlike
  * [[ShinglePortableHash]] this keeps positions and duplicates (a
  * within-doc repeat IS a signal here) and emits NOTHING for documents
  * shorter than one full window (no partial spans — an exact-span
  * operator must not hash a truncated span as if it were full). Same
  * portability contract: any engine replays each value by parsing the
  * top 15 hex chars of md5(span). */
case class WindowHash60(child: Expression, w: Int) extends UnaryExpression with CodegenFallback {
  require(w > 0, "window width must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hash60"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val len = words.numElements()
    val nWin = len - w + 1
    if (nWin <= 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](nWin)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < nWin) {
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          val word = words.getUTF8String(i + j)
          if (word != null) sb.append(word.toString)
          j += 1
        }
        out(i) = Md5.top60(Md5.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WindowHash60 = copy(child = newChild)
}

/** ENGINE-PORTABLE MinHash over 60-bit shingle hashes: component s =
  * min over shingles of the affine remix `(A_s * h + B_s) mod 2^60`,
  * with per-seed constants `A_s = top60(md5("a:<s>")) | 1` (odd ⇒ the
  * map is a bijection mod 2^60) and `B_s = top60(md5("b:<s>"))`. The
  * DuckDB replay computes the identical values in HUGEINT and takes the
  * same BIGINT min; on the JVM the wrap-around of long multiplication
  * IS mod 2^64, and masking to 60 bits equals mod 2^60 because 2^60
  * divides 2^64. k×W multiply-adds instead of k×W md5 calls — measured
  * ~3× faster on the sf0.1 dedup family than the min-over-md5-hex
  * scheme, with the same oracle-exactness. Empty input → Long.MaxValue
  * per component. */
case class MinHashPortable(child: Expression, k: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash60"

  @transient private lazy val seedConsts: (Array[Long], Array[Long]) = {
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var s = 0
    while (s < k) {
      as(s) = Md5.top60(Md5.digest(s"a:$s".getBytes(java.nio.charset.StandardCharsets.UTF_8))) | 1L
      bs(s) = Md5.top60(Md5.digest(s"b:$s".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      s += 1
    }
    (as, bs)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val len = hashes.numElements()
    val (as, bs) = seedConsts
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < len) {
      val h = hashes.getLong(i)
      var s = 0
      while (s < k) {
        val m = (as(s) * h + bs(s)) & Md5.Mask60
        if (m < sig(s)) sig(s) = m
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashPortable = copy(child = newChild)
}

/** ENGINE-PORTABLE 64-bit SimHash as a '0'/'1' bit STRING: per-word md5,
  * bit b of a word = bit (b mod 4) of hex digit (b div 4) of its digest,
  * majority vote across words. A string (not a long) so the DuckDB
  * oracle can rebuild it with substr/strpos arithmetic and band keys are
  * plain substrings. Char index == bit index b, ascending. */
case class SimHashBitsExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_bits"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val len = words.numElements()
    val counts = new Array[Int](64)
    var i = 0
    var n = 0
    while (i < len) {
      val w = words.getUTF8String(i)
      if (w != null) {
        val d = Md5.digest(w.getBytes)
        // bit b lives in hex digit b/4 = nibble (high first) of byte b/8
        var b = 0
        while (b < 64) {
          val hexDigit =
            if ((b / 4) % 2 == 0) (d(b / 8) >> 4) & 0xF
            else d(b / 8) & 0xF
          if (((hexDigit >> (b % 4)) & 1) == 1) counts(b) += 1
          b += 1
        }
        n += 1
      }
      i += 1
    }
    val bits = new Array[Char](64)
    var b = 0
    while (b < 64) {
      bits(b) = if (counts(b) * 2 > n) '1' else '0'
      b += 1
    }
    UTF8String.fromString(new String(bits))
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBitsExpr = copy(child = newChild)
}

/** Hamming distance between two equal-length ASCII bit strings: count of
  * differing positions (replayable as a list_filter count in SQL). */
case class HammingBitsExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_bits"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].getBytes
    val b = r.asInstanceOf[UTF8String].getBytes
    val n = math.min(a.length, b.length)
    var cnt = math.max(a.length, b.length) - n
    var i = 0
    while (i < n) {
      if (a(i) != b(i)) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HammingBitsExpr =
    copy(left = newLeft, right = newRight)
}

object HashFunctions {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def shingleHash60(words: Column, n: Int): Column =
    ColumnBridge.column(ShinglePortableHash(expr(words), n))

  def windowHash60(words: Column, w: Int): Column =
    ColumnBridge.column(WindowHash60(expr(words), w))

  def cdcSpans(text: Column, w: Int, maskMod: Int): Column =
    ColumnBridge.column(CdcSpans(expr(text), w, maskMod))

  def minHash60(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashPortable(expr(hashes), k))

  def simHashBits(words: Column): Column =
    ColumnBridge.column(SimHashBitsExpr(expr(words)))

  def hammingBits(a: Column, b: Column): Column =
    ColumnBridge.column(HammingBitsExpr(expr(a), expr(b)))

  def md5Hash60(c: Column): Column =
    ColumnBridge.column(Md5Hash60(expr(c)))
}
