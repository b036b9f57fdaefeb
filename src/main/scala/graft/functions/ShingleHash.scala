package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The dedup family's shared shingle kernel, as one native expression.
  *
  * Semantics are EXACTLY the SQL chain every TextOps op used before:
  *
  * {{{
  * transform(sequence(1, least(length(text), MaxChars) - (Len-1)),
  *   i -> CAST(conv(substring(md5(substring(text, i, Len)), 1, 15), 16, 10) AS BIGINT))
  * }}}
  *
  * (optionally wrapped in `array_distinct`) — i.e. the 60-bit integer value
  * of the first 15 hex digits of the MD5 of each char `Len`-gram of the
  * first `MaxChars` characters, in position order, first-occurrence order
  * under `distinct`. The DuckDB oracles mirror that chain textually, so the
  * VALUES must not move — only the cost does.
  *
  * PRECONDITION: the caller filters `length(text) >= Len` first. For
  * shorter texts the kernel returns an empty array, while the chain's
  * `sequence` would count DOWN from 1 and emit grams; every TextOps call
  * site reads through that filter (`TextOps.shingleable`), and "exactly
  * the chain" holds only under it.
  *
  * Why a kernel: the expression chain pays, per shingle (~505 per doc,
  * ~675M per ×256 bench corpus pass), one O(position) UTF8String substring
  * scan (Spark substrings count codepoints from the string start, so the
  * per-doc cost is quadratic in doc length), one commons-codec MessageDigest
  * round trip with a fresh digest object, a 32-char hex string allocation, a
  * substring of it, and a string→decimal `conv` parse. This kernel walks the
  * UTF-8 byte windows once (linear), computes each MD5 with an allocation-free
  * single-block compression (an 8-char shingle is ≤ 32 UTF-8 bytes ≪ the
  * 55-byte single-block limit), and takes the 60-bit prefix directly from the
  * first two state words — no hex, no strings, no digest objects. Distinctness
  * is an open-addressed long set. Output is a primitive UnsafeArrayData (no
  * boxing) feeding the same explode/aggregate shapes as before.
  */
object GraftMd5 {

  // RFC 1321 constants: K(i) = floor(2^32 * |sin(i+1)|), standard shifts.
  private val K: Array[Int] = Array.tabulate(64) { i =>
    ((math.abs(math.sin(i + 1.0)) * 4294967296.0).toLong & 0xffffffffL).toInt
  }
  private val S: Array[Int] = Array(
    7, 12, 17, 22, 5, 9, 14, 20, 4, 11, 16, 23, 6, 10, 15, 21)

  private val IV: Array[Int] = Array(0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476)

  /** MD5 compression of the 16-word little-endian block `m` into the 4-word
    * `state`, in place. */
  private def md5Block(m: Array[Int], state: Array[Int]): Unit = {
    var a = state(0); var b = state(1); var c = state(2); var d = state(3)
    var i = 0
    while (i < 64) {
      var f = 0; var g = 0
      if (i < 16) { f = (b & c) | (~b & d); g = i }
      else if (i < 32) { f = (d & b) | (~d & c); g = (5 * i + 1) & 15 }
      else if (i < 48) { f = b ^ c ^ d; g = (3 * i + 5) & 15 }
      else { f = c ^ (b | ~d); g = (7 * i) & 15 }
      val tmp = d; d = c; c = b
      b = b + Integer.rotateLeft(a + f + K(i) + m(g), S(((i >> 4) << 2) | (i & 3)))
      a = tmp
      i += 1
    }
    state(0) += a; state(1) += b; state(2) += c; state(3) += d
  }

  /** The digest of the single block `m` (message ≤ 55 bytes, already padded
    * and length-stamped) as the 60-bit value of its first 15 hex digits;
    * `state` is 4 words of scratch. */
  private def md5Block60(m: Array[Int], state: Array[Int]): Long = {
    System.arraycopy(IV, 0, state, 0, 4)
    md5Block(m, state)
    prefix60(state)
  }

  /** The 60-bit value of the first 15 hex digits of the digest in `state`:
    * digest bytes d0..d7 are LE(state(0)) ++ LE(state(1)), and the value is
    * d0<<52 | d1<<44 | d2<<36 | d3<<28 | d4<<20 | d5<<12 | d6<<4 | d7>>4. */
  private def prefix60(state: Array[Int]): Long = {
    val aF = state(0); val bF = state(1)
    ((aF & 0xffL) << 52) | ((aF & 0xff00L) << 36) | ((aF & 0xff0000L) << 20) |
      ((aF & 0xff000000L) << 4) | ((bF & 0xffL) << 20) | ((bF & 0xff00L) << 4) |
      ((bF & 0xff0000L) >>> 12) | ((bF & 0xff000000L) >>> 28)
  }

  /** Lays the `len` < 64 bytes at `buf(off)` into the zeroed block `m`,
    * followed by the 0x80 pad byte. */
  private def fillTail(buf: Array[Byte], off: Int, len: Int, m: Array[Int]): Unit = {
    java.util.Arrays.fill(m, 0)
    var j = 0
    while (j < len) {
      m(j >> 2) |= (buf(off + j) & 0xff) << ((j & 3) << 3)
      j += 1
    }
    m(len >> 2) |= 0x80 << ((len & 3) << 3)
  }

  /** 60-bit md5 prefix of `len` bytes at `buf(off)` (len ≤ 55), reusing the
    * caller's 16-int scratch block (fully overwritten here) and 4-int
    * scratch state. */
  private def md5Prefix60(buf: Array[Byte], off: Int, len: Int,
      m: Array[Int], state: Array[Int]): Long = {
    fillTail(buf, off, len, m)
    m(14) = len << 3
    md5Block60(m, state)
  }

  /** 60-bit md5-hex-prefix value (≡ CAST(conv(substring(md5(s),1,15),16,10)
    * AS BIGINT)) of an arbitrary-length UTF8String — the scalar form used on
    * paragraphs / words / whole texts. Allocation-free beyond one scratch
    * block; multi-block loop per RFC 1321. */
  def md5Prefix60Any(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    val state = IV.clone()
    val m = new Array[Int](16)
    var off = 0
    while (n - off >= 64) {
      var j = 0
      while (j < 16) {
        val p = off + (j << 2)
        m(j) = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
          ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
        j += 1
      }
      md5Block(m, state)
      off += 64
    }
    val rem = n - off
    fillTail(bytes, off, rem, m)
    if (rem >= 56) { md5Block(m, state); java.util.Arrays.fill(m, 0) }
    m(14) = (n.toLong << 3).toInt
    m(15) = (n.toLong >>> 29).toInt
    md5Block(m, state)
    prefix60(state)
  }

  val ShingleLen = 8
  val MaxChars = 512

  /** All char-8-gram 60-bit hashes of the first 512 chars of `text`, in
    * position order (`distinct` = first-occurrence distinct). Mirrors
    * `transform(sequence(...))` above bit-for-bit for texts of at least
    * [[ShingleLen]] chars; shorter texts give an empty array (see the
    * object-level precondition). */
  def shingles60(text: UTF8String, distinct: Boolean): ArrayData = {
    val bytes = text.getBytes
    val nBytes = bytes.length
    // ASCII fast path: windows only ever touch the first min(nBytes, 512)
    // bytes, and min(numChars, 512) == min(nBytes, 512) iff that prefix is
    // pure ASCII (bytes beyond it cannot lower the min).
    val scanTo = math.min(nBytes, MaxChars)
    var ascii = true
    var p = 0
    while (p < scanTo) { if (bytes(p) < 0) { ascii = false; p = scanTo }; p += 1 }
    val m = new Array[Int](16)
    val state = new Array[Int](4)
    if (ascii) {
      val nChars = scanTo // = min(numChars, 512)
      val n = nChars - (ShingleLen - 1)
      if (n <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
      val out = new Array[Long](n)
      // fixed 8-byte message: m0/m1 from the window, 0x80 pad, 64-bit length
      m(2) = 0x80; m(14) = 64
      var i = 0
      while (i < n) {
        m(0) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8) |
          ((bytes(i + 2) & 0xff) << 16) | ((bytes(i + 3) & 0xff) << 24)
        m(1) = (bytes(i + 4) & 0xff) | ((bytes(i + 5) & 0xff) << 8) |
          ((bytes(i + 6) & 0xff) << 16) | ((bytes(i + 7) & 0xff) << 24)
        out(i) = md5Block60(m, state)
        i += 1
      }
      pack(out, n, distinct)
    } else {
      // general path: codepoint-boundary offsets for chars 0..min(numChars,512)
      val starts = new Array[Int](MaxChars + 1)
      var cnt = 0
      var off = 0
      while (off < nBytes && cnt < MaxChars) {
        starts(cnt) = off
        cnt += 1
        off += UTF8String.numBytesForFirstByte(bytes(off))
      }
      starts(cnt) = math.min(off, nBytes)
      val n = cnt - (ShingleLen - 1) // cnt = min(numChars, 512)
      if (n <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        val b0 = starts(i)
        out(i) = md5Prefix60(bytes, b0, starts(i + ShingleLen) - b0, m, state)
        i += 1
      }
      pack(out, n, distinct)
    }
  }

  /** MinHash family constants (P and the k·4099+17, k·7907+31
    * coefficients) — MUST stay textually in sync with every oracle that
    * mirrors them ([[graft.OracleSql]]'s MinHash chain). */
  val HashP = 1000000007L
  val NumHashes = 16

  /** Fused per-doc wide MinHash signature: m_k = min over shingles of
    * ((hb mod P)·(17+4099k) + (31+7907k)) mod P — identical values to
    * aggregating `min` over the exploded (doc_id, hb) table (minima are
    * multiset/distinct-invariant), with no generator, no 16-expression
    * aggregate and no per-doc rows beyond the signature itself. The distinct
    * probe means each repeated gram costs one hash-set hit instead of 16
    * multiply-mods. Returns null-free array<long> of length 16; empty-window
    * docs (< ShingleLen chars — callers filter those) return an empty array. */
  def minhash16(text: UTF8String): ArrayData = {
    val hashes = shingles60(text, distinct = true) // primitive, already distinct
    val n = hashes.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val hp = hashes.getLong(i) % HashP
      var k = 0
      while (k < NumHashes) {
        val v = (hp * (k * 4099 + 17) + (k * 7907 + 31)) % HashP
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Optionally dedup (first-occurrence order, matching `array_distinct`)
    * and wrap as a primitive array. */
  private def pack(out: Array[Long], n: Int, distinct: Boolean): ArrayData = {
    if (!distinct)
      return UnsafeArrayData.fromPrimitiveArray(
        if (out.length == n) out else java.util.Arrays.copyOf(out, n))
    val set = new LongSet(n)
    var kept = 0
    var i = 0
    while (i < n) {
      if (set.add(out(i))) { out(kept) = out(i); kept += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, kept))
  }
}

/** `shingles60(text)` / `shingles60_distinct(text)` as a Catalyst expression.
  * Codegen is a single static call, so consumers stay inside whole-stage
  * codegen (same discipline as [[graft.geo.PipLookup]]).
  *
  * PRECONDITION: callers filter `length(text) >= TextOps.ShingleLen` (as
  * `TextOps.shingleable` does); only then are the values the oracle's SQL
  * chain (see [[GraftMd5]]). */
case class Shingles60(child: Expression, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def prettyName: String =
    if (distinct) "shingles60_distinct" else "shingles60"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(text: Any): Any =
    GraftMd5.shingles60(text.asInstanceOf[UTF8String], distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftMd5.shingles60($c, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Shingles60 =
    copy(child = newChild)
}

object Shingles60 {
  /** Position-ordered multiset of 60-bit shingle hashes. */
  def shingles60(text: Column): Column =
    GraftColumnBridge.column(Shingles60(GraftColumnBridge.expression(text), distinct = false))

  /** First-occurrence-distinct variant (≡ `array_distinct(shingles60(text))`). */
  def shingles60Distinct(text: Column): Column =
    GraftColumnBridge.column(Shingles60(GraftColumnBridge.expression(text), distinct = true))
}

/** Fused wide MinHash: `minhash16(text)` → array<long>(16) — see
  * [[GraftMd5.minhash16]]. */
case class Minhash16(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "minhash16"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(s: Any): Any =
    GraftMd5.minhash16(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftMd5.minhash16($c)")
  override protected def withNewChildInternal(newChild: Expression): Minhash16 =
    copy(child = newChild)
}

object Minhash16 {
  def minhash16(c: Column): Column =
    GraftColumnBridge.column(Minhash16(GraftColumnBridge.expression(c)))
}

/** Scalar 60-bit md5-prefix: ≡ `CAST(conv(substring(md5(s),1,15),16,10) AS
  * BIGINT)` for any string length — the paragraph/word/whole-text hash key
  * sites, minus the hex-string round trip and the string→decimal parse. */
case class Md5Prefix60(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "md5_prefix60"
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(s: Any): Any =
    GraftMd5.md5Prefix60Any(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftMd5.md5Prefix60Any($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object Md5Prefix60 {
  def md5Prefix60(c: Column): Column =
    GraftColumnBridge.column(Md5Prefix60(GraftColumnBridge.expression(c)))
}
