package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row text-sketch kernels, shared by the interpreted `eval` path and
  * the generated code path of the expressions below. A top-level Scala
  * object gets static forwarders, so janino-generated code can call
  * `graft.functions.TextKernels.minhash(...)` directly — the expressions'
  * `doGenCode` is a one-line static call, which keeps them INSIDE
  * whole-stage codegen with no boxed row access and no references-array
  * indirection (the two costs of CodegenFallback).
  */
object TextKernels {
  private val P = 2305843009213693951L // 2^61 - 1
  private val ws = "\\s+".r.pattern
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def u64be(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xFFL); i += 1 }
    v
  }

  /** Distinct w-word shingles in first-occurrence order (array_distinct
    * semantics); texts shorter than w tokens yield their whole text.
    */
  private def shingleSet(text: String, w: Int): java.util.LinkedHashSet[String] = {
    val toks = ws.split(text, -1)
    val set = new java.util.LinkedHashSet[String]()
    if (toks.length >= w) {
      var i = 0
      while (i + w <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < w) { sb.append(' ').append(toks(i + j)); j += 1 }
        set.add(sb.toString)
        i += 1
      }
    } else set.add(String.join(" ", toks: _*))
    set
  }

  def minhash(text: UTF8String, k: Int, w: Int): ArrayData = {
    val set = shingleSet(text.toString, w)
    val mins = Array.fill(k)(Long.MaxValue)
    val md = digest.get()
    val it = set.iterator()
    while (it.hasNext) {
      md.reset()
      val d = md.digest(it.next().getBytes("UTF-8"))
      val h1 = u64be(d, 0) >>> 4
      val h2r = (u64be(d, 8) >>> 4) >> 3
      var i = 0
      while (i < k) {
        val h = (h1 + i * h2r) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  def simhash60(text: UTF8String): Long = {
    val toks = ws.split(text.toString, -1)
    val ones = new Array[Int](60)
    val md = digest.get()
    var t = 0
    while (t < toks.length) {
      md.reset()
      val d = md.digest(toks(t).getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
      h = h >>> 4
      var j = 0
      while (j < 60) { ones(j) += ((h >> j) & 1L).toInt; j += 1 }
      t += 1
    }
    var sh = 0L
    var j = 0
    while (j < 60) {
      if (2 * ones(j) > toks.length) sh |= (1L << j)
      j += 1
    }
    sh
  }

  def shingles(text: UTF8String, w: Int): ArrayData = {
    val set = shingleSet(text.toString, w)
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** Position-ordered l-gram hashes: element i (0-based) is the 60-bit
    * md5 hash (CrossHash convention) of the space-joined l tokens
    * starting at token i. ALL positions, duplicates kept — this is the
    * ExactSubstr span primitive, where position identity matters (unlike
    * [[shingleSet]]'s distinct semantics). Texts shorter than l tokens
    * yield an empty array.
    */
  def gramHashes(text: UTF8String, l: Int): ArrayData = {
    val toks = ws.split(text.toString, -1)
    val n = toks.length - l + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val md = digest.get()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < l) { sb.append(' ').append(toks(i + j)); j += 1 }
      md.reset()
      out(i) = u64be(md.digest(sb.toString.getBytes("UTF-8")), 0) >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hash-trick feature buckets: every unigram and bigram occurrence
    * (duplicates kept — term frequency is the signal) → 60-bit md5 hash
    * (the CrossHash convention, bytes[0..7] >>> 4) mod dim. One digest
    * per feature, no hex-string round-trip.
    */
  def featureBuckets(text: UTF8String, dim: Int): ArrayData = {
    val toks = ws.split(text.toString, -1)
    val n = toks.length
    val out = new Array[Int](if (n >= 2) 2 * n - 1 else n)
    val md = digest.get()
    def bucket(s: String): Int = {
      md.reset()
      ((u64be(md.digest(s.getBytes("UTF-8")), 0) >>> 4) % dim).toInt
    }
    var i = 0
    while (i < n) { out(i) = bucket(toks(i)); i += 1 }
    var j = 0
    while (j + 1 < n) { out(n + j) = bucket(toks(j) + " " + toks(j + 1)); j += 1 }
    new GenericArrayData(out)
  }

  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // Fast path: Normalizer.isNormalized is a cheap scan and ASCII-heavy
    // corpora skip the allocation entirely.
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC))
      s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def stripAccents(s: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  private val HEX = "0123456789ABCDEF".getBytes("US-ASCII")

  /** Content-defined chunk END positions (1-based byte offsets, ascending,
    * always terminated by the document length). Bit-compatible with the
    * declarative formulation (and the DuckDB oracle): the text's UPPERCASE
    * hex encoding is the hashed alphabet, a window of `window` bytes is a
    * boundary iff the 16-bit integer at md5-hex digits 29..32 (= digest
    * bytes 14..15) of its 2·window hex characters is ≡ 0 (mod `modulus`),
    * and the boundary closes the chunk at the window's LAST byte.
    */
  def cdcEnds(text: UTF8String, window: Int, modulus: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val hx = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xFF
      hx(2 * i) = HEX(b >>> 4)
      hx(2 * i + 1) = HEX(b & 0xF)
      i += 1
    }
    val md = digest.get()
    val ends = new java.util.ArrayList[Integer]()
    var p = 0
    while (p <= n - window) {
      md.reset()
      md.update(hx, 2 * p, 2 * window)
      val d = md.digest()
      val v = ((d(14) & 0xFF) << 8) | (d(15) & 0xFF)
      if (v % modulus == 0) ends.add(p + window)
      p += 1
    }
    if (ends.isEmpty || ends.get(ends.size - 1) != n) ends.add(n)
    val out = new Array[Int](ends.size)
    i = 0
    while (i < out.length) { out(i) = ends.get(i); i += 1 }
    new GenericArrayData(out)
  }

  private val HEX_LOWER = "0123456789abcdef".toCharArray

  /** Greedy-left BPE encoding of one text: (n_words, n_tokens,
    * token_md5). `merges` holds the (left, right) symbols of each merge
    * in rank order, flattened: left at 2i, right at 2i + 1.
    *
    * Words are the non-empty pieces of a `\s+` split (limit -1) that
    * contain no U+0001. A word starts as one symbol per code point, and
    * symbol i spans `[ends(i - 1), ends(i))` of it (`ends(-1)` = 0), so a
    * merge only moves boundaries. token_md5 is the lowercase md5 hex of
    * every word's tokens joined by single spaces, in text order.
    */
  def bpeEncode(text: UTF8String, merges: Array[String]): InternalRow = {
    val words = ws.split(text.toString, -1)
    val joined = new java.lang.StringBuilder(text.numBytes + 16)
    var ends = new Array[Int](16)
    var nWords = 0
    var nTokens = 0
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (!word.isEmpty && word.indexOf('\u0001') < 0) {
        if (ends.length < word.length) ends = new Array[Int](word.length)
        var n = 0
        var i = 0
        while (i < word.length) {
          i += Character.charCount(word.codePointAt(i))
          ends(n) = i
          n += 1
        }
        var m = 0
        while (m < merges.length) {
          n = bpeMerge(word, ends, n, merges(m), merges(m + 1))
          m += 2
        }
        var start = 0
        i = 0
        while (i < n) {
          if (nTokens + i > 0) joined.append(' ')
          joined.append(word, start, ends(i))
          start = ends(i)
          i += 1
        }
        nWords += 1
        nTokens += n
      }
      w += 1
    }
    val md = digest.get()
    md.reset()
    val d = md.digest(joined.toString.getBytes("UTF-8"))
    val hex = new Array[Char](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = HEX_LOWER((d(j) >> 4) & 0xF)
      hex(2 * j + 1) = HEX_LOWER(d(j) & 0xF)
      j += 1
    }
    new GenericInternalRow(Array[Any](nWords, nTokens,
      UTF8String.fromString(new String(hex))))
  }

  /** One merge over a word's `n` symbols: every adjacent (a, b) pair,
    * left to right without overlap, becomes one symbol. Rewrites `ends`
    * in place and returns the new symbol count. */
  private def bpeMerge(word: String, ends: Array[Int], n: Int, a: String,
      b: String): Int = {
    var out = 0
    var start = 0
    var i = 0
    while (i < n) {
      val mid = ends(i)
      if (i + 1 < n && mid - start == a.length &&
          ends(i + 1) - mid == b.length &&
          word.regionMatches(start, a, 0, a.length) &&
          word.regionMatches(mid, b, 0, b.length)) {
        ends(out) = ends(i + 1)
        i += 2
      } else {
        ends(out) = mid
        i += 1
      }
      start = ends(out)
      out += 1
    }
    out
  }
}

/** Native MinHash signature: tokenize → w-word shingles → md5 → k linear
  * minima, in one pass of plain JVM code per row.
  *
  * Bit-compatible with the declarative formulation (and the DuckDB oracle):
  *   h1 = first 15 hex digits of md5(shingle)  = (bytes[0..7]  as u64) >>> 4
  *   h2 = hex digits 17..31                    = (bytes[8..15] as u64) >>> 4
  *   sig_i = (h1 + i * (h2 >> 3)) mod (2^61 - 1)
  * Tokenization matches Spark's split(text, '\\s+') (Java regex, limit -1);
  * shingles are distinct (set semantics), matching array_distinct.
  *
  * Why an Expression and not the equivalent transform/aggregate chain:
  * higher-order functions are CodegenFallback and evaluate their lambda per
  * element through the interpreter — measured ~6x slower at sf0.1. This is
  * the SURVEY §4.2 promotion path: same semantics, tight loop, and a real
  * `doGenCode` (static [[TextKernels]] call) so the signature stage stays
  * inside whole-stage codegen.
  */
case class MinhashSignature(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    TextKernels.minhash(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.minhash($c, $k, $w)")

  override protected def withNewChildInternal(c: Expression)
      : MinhashSignature = copy(child = c)
}

/** Native 60-bit SimHash over whitespace tokens (duplicates weighted):
  * bit j set iff strictly more than half the token hashes have bit j set,
  * token hash = first 15 hex digits of md5 (the CrossHash convention).
  * Bit-identical to the expr-based fold it replaces and the DuckDB oracle.
  */
case class Simhash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      TextKernels.simhash60(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simhash60($c)")

  override protected def withNewChildInternal(c: Expression): Simhash60 =
    copy(child = c)
}

/** Native distinct w-word shingles (first-occurrence order, matching
  * array_distinct over the declarative transform); documents shorter than
  * w tokens contribute their whole text as one shingle.
  */
case class WordShingles(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.shingles($c, $w)")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** Native hash-trick featurizer (unigram + bigram occurrences → md5-60bit
  * mod dim), the map-side half of linear-model scoring. Same promotion
  * rationale as [[MinhashSignature]]: the declarative twin pays an
  * md5 → hex-string → conv round-trip per feature through interpreted
  * lambdas; this is one digest per feature inside whole-stage codegen.
  */
case class FeatureBuckets(child: Expression, dim: Int)
    extends UnaryExpression {
  require(dim > 0)

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "feature_buckets"

  override def nullSafeEval(input: Any): Any =
    TextKernels.featureBuckets(input.asInstanceOf[UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.featureBuckets($c, $dim)")

  override protected def withNewChildInternal(c: Expression): FeatureBuckets =
    copy(child = c)
}

/** Native position-ordered l-gram hasher (the ExactSubstr primitive).
  * Same promotion rationale as [[MinhashSignature]]: the declarative twin
  * (transform over a position sequence with slice + concat_ws + md5 + conv
  * per element) runs its lambda through the interpreter — measured ~5x
  * slower on the sf0.1 span-dedup path; this is one digest per position
  * inside whole-stage codegen, with no hex round-trip.
  */
case class GramHashes(child: Expression, l: Int) extends UnaryExpression {
  require(l > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"

  override def nullSafeEval(input: Any): Any =
    TextKernels.gramHashes(input.asInstanceOf[UTF8String], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.gramHashes($c, $l)")

  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

/** Canonical Unicode composition (NFC). Spark has no normalization
  * builtin; DuckDB ships `nfc_normalize` (the oracle twin). A native
  * expression (not a UDF) keeps the cleanup pass inside whole-stage
  * codegen next to the other per-row text kernels.
  */
case class UnicodeNfc(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_nfc"

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")

  override protected def withNewChildInternal(c: Expression): UnicodeNfc =
    copy(child = c)
}

/** Accent folding: NFD, then drop every non-spacing mark (Unicode Mn) —
  * byte-equal to DuckDB's `strip_accents` on the stable Latin range
  * (both sides decompose; neither re-composes, so 'é' → 'e' while
  * non-decomposable letters like 'ø' and ligatures like 'ﬁ' pass
  * through untouched). Unicode-version skew between the JVM and
  * utf8proc only affects marks added after Unicode 13 — keep fixtures
  * to the stable range.
  */
case class StripAccents(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"

  override def nullSafeEval(input: Any): Any =
    TextKernels.stripAccents(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.stripAccents($c)")

  override protected def withNewChildInternal(c: Expression): StripAccents =
    copy(child = c)
}

/** Native content-defined-chunking boundary scan (the Dedup.cdcChunks hot
  * loop). Same promotion rationale as [[MinhashSignature]]: the
  * declarative twin runs an interpreted lambda per byte position with a
  * hex-substring allocation and a conv() string parse per window; this is
  * one digest per position over a shared hex buffer inside whole-stage
  * codegen. Output: ascending 1-based chunk end offsets, doc-end
  * terminated — bit-identical to the transform/filter chain it replaces.
  */
case class CdcBoundaryEnds(child: Expression, window: Int, modulus: Int)
    extends UnaryExpression {
  require(window > 0 && modulus > 0)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundary_ends"

  override def nullSafeEval(input: Any): Any =
    TextKernels.cdcEnds(input.asInstanceOf[UTF8String], window, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.cdcEnds($c, $window, $modulus)")

  override protected def withNewChildInternal(c: Expression): CdcBoundaryEnds =
    copy(child = c)
}

/** Native greedy-left BPE encoder: per text, the struct (n_words INT,
  * n_tokens INT, token_md5 STRING) of [[TextKernels.bpeEncode]]; NULL
  * text gives a NULL struct.
  *
  * Same promotion rationale as [[MinhashSignature]]: the declarative
  * encoder (per-character `transform`, a `replace` chain per merge and a
  * `flatten` of re-split tokens) evaluated its lambdas through the
  * interpreter per word. The merge list is a constructor argument, not a
  * literal in the generated source: `doGenCode` passes it as a
  * reference object, so the source, and the compiled class, are the same
  * whatever the trained merges are.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  require(merges.forall { case (a, b) =>
    a.nonEmpty && b.nonEmpty && !a.contains('\u0001') && !b.contains('\u0001') },
    "merge symbols must be non-empty and U+0001-free")

  @transient private lazy val flat: Array[String] =
    merges.flatMap { case (a, b) => Seq(a, b) }.toArray

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("token_md5", StringType, nullable = false)))
  override def prettyName: String = "bpe_encode"

  override def nullSafeEval(input: Any): Any =
    TextKernels.bpeEncode(input.asInstanceOf[UTF8String], flat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", flat, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.bpeEncode($c, $m)")
  }

  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
}

object TextFunctions {
  /** MinHash signature column: array<long> of length k. */
  def minhash_signature(text: Column, k: Int = 16, w: Int = 3): Column =
    Bridge.toColumn(MinhashSignature(Bridge.toExpression(text), k, w))

  /** 60-bit SimHash column. */
  def simhash60(text: Column): Column =
    Bridge.toColumn(Simhash60(Bridge.toExpression(text)))

  /** Distinct w-word shingles column. */
  def word_shingles(text: Column, w: Int = 3): Column =
    Bridge.toColumn(WordShingles(Bridge.toExpression(text), w))

  /** Hash-trick feature buckets column: array<int>, unigrams then
    * bigrams, occurrences kept.
    */
  def feature_buckets(text: Column, dim: Int): Column =
    Bridge.toColumn(FeatureBuckets(Bridge.toExpression(text), dim))

  /** Position-ordered l-gram 60-bit hashes column: array<long>, element
    * i = hash of the l tokens starting at token i.
    */
  def gram_hashes(text: Column, l: Int): Column =
    Bridge.toColumn(GramHashes(Bridge.toExpression(text), l))

  /** NFC-normalized text column. */
  def nfc_normalize(text: Column): Column =
    Bridge.toColumn(UnicodeNfc(Bridge.toExpression(text)))

  /** Accent-stripped (NFD minus Mn) text column. */
  def strip_accents(text: Column): Column =
    Bridge.toColumn(StripAccents(Bridge.toExpression(text)))

  /** Content-defined chunk end offsets column: array<int>, 1-based,
    * ascending, doc-end terminated.
    */
  def cdc_boundary_ends(text: Column, window: Int, modulus: Int): Column =
    Bridge.toColumn(
      CdcBoundaryEnds(Bridge.toExpression(text), window, modulus))

  /** BPE encoding column: struct (n_words, n_tokens, token_md5) of the
    * text under `merges`, (left, right) pairs in rank order. */
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.toColumn(BpeEncode(Bridge.toExpression(text), merges))
}
