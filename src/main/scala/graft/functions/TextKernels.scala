package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word k-gram and md5-hash kernels of the dedup and text layers
  * ([[graft.dedup.Dedup.ngrams]], `shingles`, `hash60`,
  * `minhashSignatures`, `simhash`), and the signature match count of the
  * LSH pair stages ([[signatureMatches]]).
  *
  * Tokens follow Spark's `split(text, " ")`: the text splits on every
  * byte 0x20 and empty tokens (double, leading and trailing spaces) are
  * kept, so n spaces make n + 1 tokens and "" is one empty token. The
  * k-gram at token i is the byte range from token i's start to token
  * i+k−1's end, which is exactly `concat_ws(" ", slice(toks, i + 1, k))`.
  * A text of fewer than k tokens has no k-grams.
  *
  * `hash60` is the high 60 bits of the md5 digest, the long that
  * `conv(substring(md5(s), 1, 15), 16, 10)` spells through hex strings
  * and that the DuckDB oracle spells `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  * Every kernel here must stay bit-identical to those mirrors
  * (TextKernelSpec pins them against the column expressions). */
object TextKernels {

  private[functions] final class Md5 {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private[functions] val digests = ThreadLocal.withInitial[Md5](() => new Md5)

  private[functions] def hash60(m: Md5, b: Array[Byte], off: Int, len: Int): Long = {
    m.md.update(b, off, len)
    m.md.digest(m.out, 0, 16)
    var h = 0L
    var i = 0
    // first 15 hex chars = the high 60 bits = 7.5 bytes
    while (i < 7) { h = (h << 8) | (m.out(i) & 0xffL); i += 1 }
    (h << 4) | ((m.out(7) & 0xf0L) >> 4)
  }

  /** 60-bit md5 hash of the token's UTF-8 bytes. */
  def hash60(token: String): Long = {
    val b = token.getBytes(UTF_8)
    hash60(digests.get, b, 0, b.length)
  }

  def hash60(s: UTF8String): Long = {
    val bb = s.getByteBuffer
    hash60(digests.get, bb.array, bb.position, bb.remaining)
  }

  /** Absolute positions of the 0x20 bytes in `b[off, off + len)`. */
  private def spaces(b: Array[Byte], off: Int, len: Int): Array[Int] = {
    val end = off + len
    var n = 0
    var i = off
    while (i < end) { if (b(i) == 0x20) n += 1; i += 1 }
    val sp = new Array[Int](n)
    n = 0
    i = off
    while (i < end) { if (b(i) == 0x20) { sp(n) = i; n += 1 }; i += 1 }
    sp
  }

  /** Calls `f(start, end)` with the byte range of every k-gram of the
    * text in `b[off, off + len)`, in document order. */
  private[functions] def foreachGram(b: Array[Byte], off: Int, len: Int, k: Int)(
      f: (Int, Int) => Unit): Unit = {
    val sp = spaces(b, off, len)
    val last = sp.length // index of the last token
    var i = 0
    while (i + k - 1 <= last) {
      val j = i + k - 1
      f(if (i == 0) off else sp(i - 1) + 1, if (j == last) off + len else sp(j))
      i += 1
    }
  }

  /** Word k-grams in document order; `distinct` keeps each gram's first
    * occurrence only, the order `array_distinct` keeps. */
  def ngrams(text: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val bb = text.getByteBuffer
    val b = bb.array
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val seen = if (distinct) new java.util.HashSet[UTF8String] else null
    foreachGram(b, bb.position, bb.remaining, k) { (s, e) =>
      val g = UTF8String.fromBytes(b, s, e - s)
      if (seen == null || seen.add(g)) out += g
    }
    new GenericArrayData(out.toArray)
  }

  /** Number of positions j below both lengths at which `a(j)` and `b(j)`
    * are equal non-null longs: Σ_j `CASE WHEN a[j] = b[j] THEN 1 ELSE 0
    * END` as one loop, so the generated code calls it instead of inlining
    * a term per position. */
  def signatureMatches(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var m = 0
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j) && !b.isNullAt(j) && a.getLong(j) == b.getLong(j)) m += 1
      j += 1
    }
    m
  }
}

/** MinHash signature of one text's word k-grams under the hash family of
  * [[graft.dedup.Dedup]]: h_j = min over grams g of
  * (a_j · (hash60(g) mod p) + b_j) mod p. Grams are hashed straight from
  * the text's bytes; no gram string is built, and repeated grams need no
  * distinct pass because `min` is idempotent. */
final class MinhashKernel(k: Int, numHashes: Int) extends Serializable {
  private val p = graft.dedup.Dedup.MinhashP
  private val a = Array.tabulate(numHashes)(graft.dedup.Dedup.minhashA)
  private val c = Array.tabulate(numHashes)(graft.dedup.Dedup.minhashB)

  /** The signature, or null when the text has fewer than k tokens (the
    * min over no grams). */
  def signature(text: UTF8String): ArrayData = {
    val bb = text.getByteBuffer
    val b = bb.array
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var grams = 0
    val md = TextKernels.digests.get
    TextKernels.foreachGram(b, bb.position, bb.remaining, k) { (s, e) =>
      val hm = TextKernels.hash60(md, b, s, e - s) % p
      var j = 0
      while (j < numHashes) {
        val v = (a(j) * hm + c(j)) % p
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      grams += 1
    }
    if (grams == 0) null else UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** SimHash fingerprint of one text's distinct word k-grams under
  * [[graft.dedup.Dedup.simhash]]'s rule: every distinct gram votes +1 on
  * bit b of the fingerprint if bit b of its `hash60` is set and −1
  * otherwise, and bit b (b < bits) is set iff its vote sum is positive.
  * One pass over the text: no gram array, no exploded rows. */
final class SimhashKernel(k: Int, bits: Int) extends Serializable {
  require(bits >= 1 && bits <= 64, s"simhash bits must be in [1, 64], got $bits")

  def fingerprint(text: UTF8String): Long = {
    val bb = text.getByteBuffer
    val b = bb.array
    val votes = new Array[Int](bits)
    val seen = new java.util.HashSet[UTF8String]
    val md = TextKernels.digests.get
    TextKernels.foreachGram(b, bb.position, bb.remaining, k) { (s, e) =>
      if (seen.add(UTF8String.fromBytes(b, s, e - s))) {
        val h = TextKernels.hash60(md, b, s, e - s)
        var j = 0
        while (j < bits) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
    }
    var fp = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }
}

/** `ARRAY<STRING>` of the word k-grams of a string ([[TextKernels.ngrams]]). */
case class WordNgrams(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression with KernelInputCheck {
  require(k >= 1, s"k-grams need k >= 1, got $k")
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextKernels.ngrams(t.asInstanceOf[UTF8String], k, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.ngrams($t, $k, $distinct);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "word_ngrams"
}

/** `BIGINT` 60-bit md5 hash of a string ([[TextKernels.hash60]]). */
case class Hash60(child: Expression) extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any = TextKernels.hash60(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.hash60($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "hash60"
}

/** `ARRAY<BIGINT>` MinHash signature of a string's word k-grams
  * ([[MinhashKernel]]); NULL for a text of fewer than k tokens. */
case class MinhashSignature(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression with KernelInputCheck {
  require(k >= 1, s"k-grams need k >= 1, got $k")
  @transient private lazy val kernel = new MinhashKernel(k, numHashes)
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(t: Any): Any = kernel.signature(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kr = ctx.addReferenceObj("minhashKernel", kernel, classOf[MinhashKernel].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = $kr.signature($t);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** `BIGINT` SimHash fingerprint of a string's distinct word k-grams
  * ([[SimhashKernel]]). */
case class SimhashSignature(child: Expression, k: Int, bits: Int)
    extends UnaryExpression with KernelInputCheck {
  require(k >= 1, s"k-grams need k >= 1, got $k")
  @transient private lazy val kernel = new SimhashKernel(k, bits)
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any = kernel.fingerprint(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kr = ctx.addReferenceObj("simhashKernel", kernel, classOf[SimhashKernel].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $kr.fingerprint($t);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash_signature"
}

/** `INT` count of the positions at which two `ARRAY<BIGINT>` MinHash
  * signatures agree ([[TextKernels.signatureMatches]]); the numerator of
  * the LSH pair stages' estimated Jaccard. */
case class SignatureMatches(left: Expression, right: Expression)
    extends BinaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] =
    Seq(Some(ArrayType(LongType)), Some(ArrayType(LongType)))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.signatureMatches(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextKernels.signatureMatches($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "signature_matches"
}
