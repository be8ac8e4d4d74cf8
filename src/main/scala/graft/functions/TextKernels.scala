package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.Pii

/** One-pass kernels of the dedup and text layers: word k-grams and md5
  * hashes ([[graft.dedup.Dedup.ngrams]], `shingles`, `hash60`,
  * `minhashSignatures`, `simhash`), the signature match count of the LSH
  * pair stages ([[signatureMatches]]), the token statistics of
  * [[graft.text.TextAnalysis]] ([[tokenCount]], [[markerCount]],
  * [[alphaTokenCount]], [[topTokenCount]]) and the guarded PII passes of
  * [[graft.text.Pii]] ([[piiRedact]], [[piiCount]]).
  *
  * Tokens follow Spark's `split(text, " ")`: the text splits on every
  * byte 0x20 and empty tokens (double, leading and trailing spaces) are
  * kept, so n spaces make n + 1 tokens and "" is one empty token. The
  * k-gram at token i is the byte range from token i's start to token
  * i+k−1's end, which is exactly `concat_ws(" ", slice(toks, i + 1, k))`.
  * A text of fewer than k tokens has no k-grams. The token statistics
  * scan the same byte ranges and build no token strings.
  *
  * `hash60` is the high 60 bits of the md5 digest, the long that
  * `conv(substring(md5(s), 1, 15), 16, 10)` spells through hex strings
  * and that the DuckDB oracle spells `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  * Every kernel here must stay bit-identical to those mirrors
  * (TextKernelSpec and TextStatsSpec pin them against the column
  * expressions they replaced). */
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

  // ---- token statistics -------------------------------------------------

  /** Calls `f(start, end)` with the byte range of every token of the text
    * in `b[off, off + len)`, in document order. */
  private def foreachToken(b: Array[Byte], off: Int, len: Int)(f: (Int, Int) => Unit): Unit = {
    val end = off + len
    var s = off
    var i = off
    while (i < end) {
      if (b(i) == 0x20) { f(s, i); s = i + 1 }
      i += 1
    }
    f(s, end)
  }

  /** `size(split(text, " "))`: the 0x20 bytes plus one. */
  def tokenCount(text: UTF8String): Int = {
    val bb = text.getByteBuffer
    val b = bb.array
    val end = bb.position + bb.remaining
    var n = 1
    var i = bb.position
    while (i < end) { if (b(i) == 0x20) n += 1; i += 1 }
    n
  }

  /** Number of tokens whose bytes equal one of `markers`:
    * `size(filter(split(text, " "), _.isin(markers)))`. */
  def markerCount(text: UTF8String, markers: Array[Array[Byte]]): Int = {
    val bb = text.getByteBuffer
    val b = bb.array
    var n = 0
    foreachToken(b, bb.position, bb.remaining) { (s, e) => if (isMarker(b, s, e, markers)) n += 1 }
    n
  }

  private def isMarker(b: Array[Byte], s: Int, e: Int, markers: Array[Array[Byte]]): Boolean = {
    var m = 0
    while (m < markers.length) {
      val w = markers(m)
      if (w.length == e - s && java.util.Arrays.equals(b, s, e, w, 0, w.length)) return true
      m += 1
    }
    false
  }

  private def asciiLetter(c: Byte): Boolean = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** Number of tokens holding at least one ASCII letter:
    * `size(filter(split(text, " "), _.rlike("[A-Za-z]")))`. */
  def alphaTokenCount(text: UTF8String): Int = {
    val bb = text.getByteBuffer
    val b = bb.array
    val end = bb.position + bb.remaining
    var n = 0
    var alpha = false
    var i = bb.position
    while (i < end) {
      val c = b(i)
      if (c == 0x20) { if (alpha) n += 1; alpha = false }
      else if (asciiLetter(c)) alpha = true
      i += 1
    }
    if (alpha) n + 1 else n
  }

  /** Occurrences of the most frequent token: the `array_max` of
    * `transform(array_distinct(toks), w => size(filter(toks, _ === w)))`
    * with `toks = split(text, " ")`, in one pass over a token-count map. */
  def topTokenCount(text: UTF8String): Int = {
    val bb = text.getByteBuffer
    val b = bb.array
    val counts = new java.util.HashMap[UTF8String, Integer]
    var top = 0
    foreachToken(b, bb.position, bb.remaining) { (s, e) =>
      val tok = UTF8String.fromBytes(b, s, e - s)
      val c = counts.getOrDefault(tok, 0) + 1
      counts.put(tok, c)
      if (c > top) top = c
    }
    top
  }

  // ---- PII passes -------------------------------------------------------

  /** One PII pass: its JVM pattern, a byte that every match contains, and
    * the placeholder that replaces a match. */
  private final class PiiPass(re: String, val guard: Byte, val placeholder: String) {
    val pattern: Pattern = Pattern.compile(re)
  }

  /** The passes in the pinned redaction order; [[piiCount]] indexes them. */
  private val piiPasses = Array(
    new PiiPass(Pii.EmailRe, '@', "<EMAIL>"),
    new PiiPass(Pii.PhoneRe, '+', "<PHONE>"),
    new PiiPass(Pii.Ipv4JvmRe, '.', "<IP>"))
  val EmailPass = 0
  val PhonePass = 1
  val Ipv4Pass = 2

  private def hasByte(text: UTF8String, c: Byte): Boolean = {
    val bb = text.getByteBuffer
    val b = bb.array
    val end = bb.position + bb.remaining
    var i = bb.position
    while (i < end) { if (b(i) == c) return true; i += 1 }
    false
  }

  /** The text with every match of each pass replaced by its placeholder,
    * the passes run in order on the previous pass's output. A pass runs
    * its pattern only if the text holds its guard byte; a text that no
    * pass changes comes back as the same `UTF8String`. */
  def piiRedact(text: UTF8String): UTF8String = {
    var s: String = null // the text as a String, once a guard has held
    var changed = false
    var k = 0
    while (k < piiPasses.length) {
      val p = piiPasses(k)
      if (if (s == null) hasByte(text, p.guard) else s.indexOf(p.guard.toInt) >= 0) {
        if (s == null) s = text.toString
        val m = p.pattern.matcher(s)
        if (m.find()) {
          val out = new java.lang.StringBuilder(s.length)
          var last = 0
          var more = true
          while (more) {
            out.append(s, last, m.start).append(p.placeholder)
            last = m.end
            more = m.find()
          }
          s = out.append(s, last, s.length).toString
          changed = true
        }
      }
      k += 1
    }
    if (changed) UTF8String.fromString(s) else text
  }

  /** Non-overlapping matches of pass `pass`'s pattern in the text; 0
    * without a look when the text lacks the pass's guard byte. */
  def piiCount(text: UTF8String, pass: Int): Long = {
    val p = piiPasses(pass)
    if (!hasByte(text, p.guard)) 0L
    else {
      val m = p.pattern.matcher(text.toString)
      var n = 0L
      while (m.find()) n += 1
      n
    }
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

/** `INT` number of `split(text, " ")` tokens ([[TextKernels.tokenCount]]). */
case class TokenCount(child: Expression) extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(t: Any): Any = TextKernels.tokenCount(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.tokenCount($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "token_count"
}

/** `INT` number of a string's tokens that equal one of `markers`
  * ([[TextKernels.markerCount]]). */
case class MarkerCount(child: Expression, markers: Seq[String])
    extends UnaryExpression with KernelInputCheck {
  @transient private lazy val markerBytes: Array[Array[Byte]] =
    markers.map(_.getBytes(UTF_8)).toArray
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(t: Any): Any =
    TextKernels.markerCount(t.asInstanceOf[UTF8String], markerBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ms = ctx.addReferenceObj("markers", markerBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.markerCount($t, $ms);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "marker_count"
}

/** `INT` number of a string's tokens that hold an ASCII letter
  * ([[TextKernels.alphaTokenCount]]). */
case class AlphaTokenCount(child: Expression) extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(t: Any): Any = TextKernels.alphaTokenCount(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.alphaTokenCount($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "alpha_token_count"
}

/** `INT` occurrences of a string's most frequent token
  * ([[TextKernels.topTokenCount]]). */
case class TopTokenCount(child: Expression) extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(t: Any): Any = TextKernels.topTokenCount(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.topTokenCount($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "top_token_count"
}

/** `STRING` with every PII span masked ([[TextKernels.piiRedact]]). */
case class PiiRedact(child: Expression) extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = StringType
  override def nullSafeEval(t: Any): Any = TextKernels.piiRedact(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.piiRedact($t);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pii_redact"
}

/** `BIGINT` match count of one PII pass ([[TextKernels.piiCount]]). */
case class PiiCount(child: Expression, pass: Int) extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any = TextKernels.piiCount(t.asInstanceOf[UTF8String], pass)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.piiCount($t, $pass);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pii_count"
}
