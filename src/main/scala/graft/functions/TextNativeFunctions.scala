package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native scan-hot text kernels. The Column-level formulations
  * (`aggregate(transform(tokens(..)))` folds) are interpreted HOFs —
  * measured at ~23 s for 5,000 documents — so the per-document
  * tokenize-and-fold loops live here as codegen'd scalar expressions
  * instead: one static-call into a tight JVM loop per row, no
  * closure dispatch, no shuffle.
  *
  * Both kernels reproduce the Column formulations they replaced
  * bit-for-bit:
  *  - the fingerprint tokenizer splits on Java regex `\s` -- the
  *    split of the original `split(text, "\\s+")` fold (see
  *    TextKernels);
  *  - token hashes are Spark's own `xxhash64` (XXH64, seed 42), so
  *    `TokenFingerprint` equals the previous
  *    `aggregate(transform(tokens, xxhash64), rotl5-xor)` fold.
  *
  * Ref: the reference evaluates scalar functions row-at-a-time in its
  * funcexp framework (`utils/funcexp/funcexp.cpp`); these are the
  * Spark-native equivalent of its hot-path string kernels.
  */
object TextNativeFunctions {

  /** Rotate-xor rolling fingerprint over xxhash64(token): 64-bit,
    * order-sensitive, stable across runs/partitionings. Empty or
    * token-less text fingerprints to 0. */
  case class TokenFingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "token_fingerprint"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.fp(input.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      // TOP-LEVEL kernel object: generated Java can only reach static
      // forwarders on top-level mirror classes (see VectorFunctions)
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.fp($c.toString());")
  }

  /** Polynomial rolling fingerprint over md5-derived token hashes —
    * the ORACLE-CHECKABLE sibling of [[TokenFingerprint]]: md5 is the
    * one hash primitive this engine and the DuckDB oracle share, so
    * the driver can replay the identical fold (`list_reduce` over
    * `('0x' || substr(md5(t),1,15))::BIGINT`). Order-sensitive;
    * arithmetic stays in exact signed-64 range (acc < 2^31, token
    * hash < 2^60, so acc·R + h < 2^61 — DuckDB raises on BIGINT
    * overflow, this fold can't). Token-less text fingerprints to 0. */
  case class TokenFingerprintMd5(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "token_fingerprint_md5"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.fpMd5(input.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.fpMd5($c.toString());")
  }

  /** 64-bit SimHash of a document in ONE pass (ref the simhash
    * literature via `llm/Dedup.scala` scaladoc): lowercase, tokenize
    * on the ASCII whitespace class, xxhash64 each token (seed 42 —
    * Spark's own), accumulate 64 signed bit counters, pack sign bits.
    * Bit-identical to the explode → 64 bit-sum aggregate formulation
    * it replaces, but with NO shuffle and NO 64-column aggregate:
    * a per-row scalar inside whole-stage codegen. Token-less or NULL
    * docs hash to 0 (callers coalesce NULL → 0). */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "simhash64"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.simhash(input.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.simhash($c.toString());")
  }

  /** md5-based SimHash — the oracle-checkable sibling of
    * [[SimHash64]]: same sign-of-bit-sums construction, but token
    * hashes are the md5-derived 60-bit values the DuckDB oracle can
    * recompute, so the driver hash-checks the whole simhash
    * construction end to end (the xxhash kernel stays the fast
    * path; its banding/recall properties are spec-proven). */
  case class SimHash64Md5(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "simhash64_md5"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.simhashMd5(input.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.simhashMd5($c.toString());")
  }

  /** 64-int MinHash signature of a document in ONE pass: lowercase,
    * tokenize, form word n-grams (whole-text fallback below n
    * tokens — the `shingleRows` contract), and for each gram take
    * Spark's `hash(gram, i)` for i in 0..63, keeping minima.
    * Bit-identical to `Dedup.minhashSignatures`'s 64-min aggregate
    * (LlmSpec proves equality), but each gram pays ONE Murmur3 byte
    * hash + 64 int mixes instead of 64 byte hashes, and no shingle
    * explode/shuffle exists at all. */
  case class MinHash64(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, "minhash64 n-gram width must be >= 1")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash64"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.minhash(input.asInstanceOf[UTF8String].toString, n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.minhash($c.toString(), $n);")
  }

  /** Distinct word n-gram shingle SET of a document in ONE pass —
    * the set `Dedup.shingleRows` defines (lowercase, ASCII-ws
    * tokenize, space-joined n-grams, whole-lowered-text fallback
    * below n tokens), without the posexplode → lead-window → union
    * pipeline: no shuffle, no per-consumer recompute; `explode` it
    * for row consumers. NULL text → NULL (a NULL shingle never
    * equi-joins, so row consumers are output-identical). */
  case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, "shingle_set n-gram width must be >= 1")
    override def dataType: DataType = ArrayType(org.apache.spark.sql.types.StringType,
      containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "shingle_set"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.shingleSet(input.asInstanceOf[UTF8String].toString, n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.shingleSet($c.toString(), $n);")
  }

  /** BPE-ish subword segment count: splits on whitespace AND at
    * letter/digit ↔ other boundaries (a byte-pair pre-tokenizer's
    * initial segmentation), counting non-empty, non-space segments —
    * identical to `size(filter(split(text, boundary-regex), ...))`. */
  case class BpeTokenCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "bpe_token_count"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    override def nullSafeEval(input: Any): Any =
      TextKernels.bpeCount(input.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = graft.functions.TextKernels.bpeCount($c.toString());")
  }

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonical first
    * pass of multilingual corpus cleaning (é as one codepoint vs
    * e+combining-accent must dedup/shingle identically). Spark has no
    * built-in; this wraps `java.text.Normalizer` as a codegen scalar
    * with the form resolved at PLAN time (no per-row dispatch).
    * Oracle: DuckDB `nfc_normalize` replays the NFC form exactly
    * (both implement UAX #15). NULL → NULL. */
  case class UnicodeNormalize(child: Expression, form: String) extends UnaryExpression {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
      s"unknown normalization form: $form")
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullable: Boolean = true
    override def prettyName: String = "unicode_normalize"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

    private val jform = java.text.Normalizer.Form.valueOf(form)
    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(java.text.Normalizer.normalize(
        input.asInstanceOf[UTF8String].toString, jform))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  java.text.Normalizer.normalize($c.toString(),
           |    java.text.Normalizer.Form.$form));""".stripMargin)
  }
}

/** Top-level (static-forwarder-visible) text kernels shared by the
  * expressions' interpreted eval and their generated code. The
  * fingerprint tokenizer deliberately matches Java regex `\s`
  * (including U+000B) — the exact split the Column-level
  * `aggregate(transform(split(text, "\\s+"), ...))` fold it replaced
  * used, keeping fingerprints bit-stable across rounds. */
object TextKernels {
  private val Ws = Pattern.compile("\\s+")
  private val Boundary = Pattern.compile("(?<=[^\\p{L}\\p{N}])|(?=[^\\p{L}\\p{N}])")

  def fp(s: String): Long = {
    val parts = Ws.split(s)
    var acc = 0L
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.nonEmpty) {
        val h = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
        acc = java.lang.Long.rotateLeft(acc, 5) ^ h
      }
      i += 1
    }
    acc
  }

  /** md5-fold fingerprint: tokens = ASCII-whitespace split (the
    * RE2-agreeing class, NOT `\s` — the oracle splits with the same
    * regex), token hash = first 15 hex chars of md5 (= first 7 bytes
    * + high nibble of the 8th, 60 bits), fold =
    * acc ← (acc · 1000003 + h) mod (2^31 − 1). */
  def fpMd5(s: String): Long = {
    val parts = AsciiWs.split(s)
    var acc = 0L
    var md: java.security.MessageDigest = null
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.nonEmpty) {
        if (md == null) md = java.security.MessageDigest.getInstance("MD5")
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (d(j) & 0xFFL); j += 1 }
        h = (h << 4) | ((d(7) & 0xFF) >>> 4)
        acc = (acc * 1000003L + h) % 2147483647L
      }
      i += 1
    }
    acc
  }

  def bpeCount(s: String): Int = {
    val parts = Boundary.split(s)
    var n = 0
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.nonEmpty && t != " ") n += 1
      i += 1
    }
    n
  }

  /** The explicit ASCII whitespace class of `TextAnalysis.tokens`
    * (deliberately narrower than `\s`: no U+000B, matching RE2). */
  private val AsciiWs = Pattern.compile("[ \t\n\f\r]+")

  /** MinHash signature: min over grams of Spark's `hash(gram, i)`.
    * That expression folds Murmur3 over its children in order with
    * seed 42 — hashInt(i, hashBytes(gram, 42)) — so ONE byte hash per
    * gram feeds all 64 lanes. Tokens/grams per `Dedup.shingleRows`:
    * lowercase, ASCII-ws split, n-gram join by space, whole-lowered-
    * text fallback when tokens < n. */
  def minhash(s: String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val lowered = s.toLowerCase
    val parts0 = AsciiWs.split(lowered)
    // drop the leading empty token a leading separator produces
    var nTok = 0
    var k = 0
    while (k < parts0.length) { if (parts0(k).nonEmpty) nTok += 1; k += 1 }
    val toks = new Array[String](nTok)
    k = 0; var m = 0
    while (k < parts0.length) { if (parts0(k).nonEmpty) { toks(m) = parts0(k); m += 1 }; k += 1 }
    val sig = Array.fill(64)(Int.MaxValue)
    def addGram(g: String): Unit = minhashAdd(sig, 0, UTF8String.fromString(g))
    if (nTok >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= nTok) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        addGram(sb.toString)
        i += 1
      }
    } else addGram(lowered)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Folds gram `u` into the 64 lanes of a [[minhash]] signature held
    * at `sig(off until off + 64)`: lane i keeps its min with
    * hashInt(i, hashBytes(u, 42)). A min, so folding each distinct
    * gram once gives the signature of the gram multiset. */
  def minhashAdd(sig: Array[Int], off: Int, u: UTF8String): Unit = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    val h1 = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
    var i = 0
    while (i < 64) {
      val h = Murmur3_x86_32.hashInt(i, h1)
      if (h < sig(off + i)) sig(off + i) = h
      i += 1
    }
  }

  /** Distinct shingles, insertion-ordered (deterministic; consumers
    * treat it as a set). Same tokens/grams/fallback as `minhash`. */
  def shingleSet(s: String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val lowered = s.toLowerCase
    val parts0 = AsciiWs.split(lowered)
    var nTok = 0
    var k = 0
    while (k < parts0.length) { if (parts0(k).nonEmpty) nTok += 1; k += 1 }
    val toks = new Array[String](nTok)
    k = 0; var m = 0
    while (k < parts0.length) { if (parts0(k).nonEmpty) { toks(m) = parts0(k); m += 1 }; k += 1 }
    val set = new java.util.LinkedHashSet[String]
    if (nTok >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= nTok) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        set.add(sb.toString)
        i += 1
      }
    } else set.add(lowered)
    val out = new Array[AnyRef](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** md5-simhash over 60-bit token hashes (lowercased ASCII-ws
    * tokens; hash = first 15 hex chars of md5, the same derivation as
    * `fpMd5`). Sign of the per-bit ±1 sums, packed little-endian;
    * token-less text → 0. */
  def simhashMd5(s: String): Long = {
    val parts = AsciiWs.split(s.toLowerCase)
    val cnt = new Array[Int](60)
    var any = false
    var md: java.security.MessageDigest = null
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.nonEmpty) {
        any = true
        if (md == null) md = java.security.MessageDigest.getInstance("MD5")
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (d(j) & 0xFFL); j += 1 }
        h = (h << 4) | ((d(7) & 0xFF) >>> 4)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return 0L
    var out = 0L
    var b = 0
    while (b < 60) {
      if (cnt(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  def simhash(s: String): Long = {
    // lowercase via String.toLowerCase — the same call Spark's
    // lower()/UTF8String.toLowerCase makes for non-ASCII content
    val parts = AsciiWs.split(s.toLowerCase)
    val cnt = new Array[Int](64)
    var any = false
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.nonEmpty) {
        any = true
        val h = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) cnt(j) += 1 else cnt(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    if (!any) return 0L
    var out = 0L
    var j = 0
    while (j < 64) {
      if (cnt(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}
