package graft

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{ArrayDotProduct, ArraySquaredDistance, BpeEncode,
  MinhashSignature}
import graft.operators.Multimodal
import graft.sources.{KafkaSource, SaslConfig}

/** ScalaCheck properties over the engine's pure-logic surface (SURVEY.md
  * §5.2): expression semantics evaluated directly and validation
  * behavior, against independent reference implementations. Only the BPE
  * property needs a session, for its declarative reference encoder.
  */
object GraftProperties extends Properties("graft") {

  private val word = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val text = Gen.choose(1, 40)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  // ---- MinhashSignature vs an independent scala reference ----------------

  private val P = 2305843009213693951L

  private def refMinhash(text: String, k: Int, w: Int): Seq[Long] = {
    val toks = text.split("\\s+", -1)
    val shingles =
      if (toks.length >= w) toks.sliding(w).map(_.mkString(" ")).toSeq.distinct
      else Seq(toks.mkString(" "))
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    shingles.foreach { s =>
      val d = md.digest(s.getBytes("UTF-8"))
      def u64(off: Int) = (0 until 8).foldLeft(0L)((v, i) =>
        (v << 8) | (d(off + i) & 0xFFL))
      val h1 = u64(0) >>> 4
      val h2r = (u64(8) >>> 4) >> 3
      (0 until k).foreach { i =>
        val h = (h1 + i * h2r) % P
        if (h < mins(i)) mins(i) = h
      }
      md.reset()
    }
    mins.toSeq
  }

  property("minhash signature matches reference impl") = forAll(text) { t =>
    val got = MinhashSignature(Literal(UTF8String.fromString(t)), 16, 3)
      .nullSafeEval(UTF8String.fromString(t))
      .asInstanceOf[GenericArrayData].toLongArray().toSeq
    got == refMinhash(t, 16, 3)
  }

  property("minhash values lie in [0, 2^61-1)") = forAll(text) { t =>
    val got = MinhashSignature(Literal(UTF8String.fromString(t)), 16, 3)
      .nullSafeEval(UTF8String.fromString(t))
      .asInstanceOf[GenericArrayData].toLongArray()
    got.length == 16 && got.forall(v => v >= 0 && v < P)
  }

  private def refSimhash(text: String): Long = {
    val toks = text.split("\\s+", -1)
    val md = MessageDigest.getInstance("MD5")
    val ones = new Array[Int](60)
    toks.foreach { t =>
      val d = md.digest(t.getBytes("UTF-8"))
      val h = (0 until 8).foldLeft(0L)((v, i) =>
        (v << 8) | (d(i) & 0xFFL)) >>> 4
      (0 until 60).foreach(j => ones(j) += ((h >> j) & 1L).toInt)
      md.reset()
    }
    (0 until 60).foldLeft(0L)((acc, j) =>
      if (2 * ones(j) > toks.length) acc | (1L << j) else acc)
  }

  property("simhash matches reference impl") = forAll(text) { t =>
    graft.functions.Simhash60(Literal(UTF8String.fromString(t)))
      .nullSafeEval(UTF8String.fromString(t)) == refSimhash(t)
  }

  property("word shingles match reference impl") = forAll(text) { t =>
    val toks = t.split("\\s+", -1)
    val ref =
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      else Seq(toks.mkString(" "))
    val got = graft.functions.WordShingles(
        Literal(UTF8String.fromString(t)), 3)
      .nullSafeEval(UTF8String.fromString(t))
      .asInstanceOf[GenericArrayData].array.toSeq.map(_.toString)
    got == ref
  }

  // ---- BpeEncode vs the declarative encoder it replaced ------------------

  /** The higher-order-function BPE encoder that the native kernel
    * replaced, kept as its reference: per word, the boundary-marked symbol
    * string (\1a\1\1b\1...), one whole-symbol `replace` per merge in rank
    * order, then the tokens read off the separators. Output per doc:
    * (doc_id, n_words, n_tokens, token_md5). */
  private def hofBpeEncode(docs: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    val sep = "\u0001"
    val ws = filter(split(col("text"), "\\s+"),
      w => length(w) > lit(0) && !w.contains(sep))
    val tokStr: Column => Column = w => {
      val base = concat(lit(sep), array_join(transform(
        sequence(lit(1), length(w)), i => w.substr(i, lit(1))), sep + sep),
        lit(sep))
      val merged = merges.foldLeft(base) { case (s, (a, b)) =>
        call_function("replace", s,
          lit(sep + a + sep + sep + b + sep), lit(sep + a + b + sep))
      }
      call_function("replace",
        call_function("replace", merged, lit(sep + sep), lit(" ")),
        lit(sep), lit(""))
    }
    val toks = flatten(transform(ws, w => split(tokStr(w), " ")))
    docs.select(col("doc_id"), size(ws).as("n_words"),
      size(toks).as("n_tokens"), md5(array_join(toks, " ")).as("token_md5"))
  }

  private lazy val spark = GraftSession.create("graft-test", "4")

  /** Base symbols: two supplementary code points among them. */
  private val bpeSymbols = Seq("a", "b", "c", "😀", "𝔸")

  private val bpeWord = Gen.frequency(
    6 -> Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(bpeSymbols)).map(_.mkString)),
    1 -> Gen.oneOf("aaaa", "aaaaa", "abab"),
    1 -> Gen.oneOf("a\u0001b", "\u0001", "ab\u0001"))

  private val bpeSpace = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(" ", "\t", "\n")).map(_.mkString))

  /** Words between whitespace runs, with or without leading and trailing
    * runs; also "", whitespace only and NULL. */
  private val bpeText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    1 -> bpeSpace.map(Some(_)),
    8 -> (for {
      words <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, bpeWord))
      seps <- Gen.listOfN(words.size + 1, bpeSpace)
      lead <- Gen.oneOf(true, false)
      trail <- Gen.oneOf(true, false)
    } yield Some((if (lead) seps.head else "") +
      words.zip(seps.tail).map { case (w, sp) => w + sp }.mkString
        .dropRight(if (trail) 0 else seps.last.length))))

  /** Merges over the base symbols and the outputs of earlier merges, so a
    * merge can feed a later one; (a, a) pairs come up often. */
  private val bpeMergeList: Gen[Seq[(String, String)]] =
    Gen.choose(0, 5).flatMap(n =>
      (0 until n).foldLeft(Gen.const(Seq.empty[(String, String)])) {
        (acc, _) => acc.flatMap { ms =>
          val vocab = bpeSymbols ++ ms.map { case (a, b) => a + b }
          for {
            a <- Gen.oneOf(vocab)
            b <- Gen.frequency(3 -> Gen.oneOf(vocab), 1 -> Gen.const(a))
          } yield ms :+ ((a, b))
        }
      })

  property("BpeEncode == the higher-order-function encoder, eval and " +
      "codegen") = forAll(Gen.listOf(bpeText), bpeMergeList) {
    (texts, merges) =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val ref = hofBpeEncode(docs, merges).collect().sortBy(_.getLong(0))
        .map(r => (Option(r.get(1)), Option(r.get(2)), Option(r.getString(3))))
        .toSeq
      def fields(r: InternalRow) =
        if (r == null) (None, None, None)
        else (Some(r.getInt(0)), Some(r.getInt(1)),
          Some(r.getUTF8String(2).toString))
      val e = BpeEncode(BoundReference(0, StringType, nullable = true), merges)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val rows = texts.map(t => InternalRow(t.map(UTF8String.fromString).orNull))
      val evaluated = rows.map(r => fields(e.eval(r).asInstanceOf[InternalRow]))
      val compiled = rows.map { r =>
        val out = generated(r)
        fields(if (out.isNullAt(0)) null else out.getStruct(0, 3))
      }
      evaluated == ref && compiled == ref
  }

  // ---- vector expressions vs plain scala folds ---------------------------

  private val vec = Gen.choose(1, 64).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(-10.0, 10.0)).map(_.toArray))

  property("ArrayDotProduct == left fold") = forAll(vec, vec) { (a, b) =>
    val n = math.min(a.length, b.length)
    var s = 0.0
    (0 until n).foreach(i => s += a(i) * b(i))
    val got = ArrayDotProduct(Literal(1), Literal(1))
      .nullSafeEval(new GenericArrayData(a), new GenericArrayData(b))
      .asInstanceOf[Double]
    java.lang.Double.doubleToLongBits(got) ==
      java.lang.Double.doubleToLongBits(s)
  }

  property("ArraySquaredDistance == left fold, non-negative") =
    forAll(vec, vec) { (a, b) =>
      val n = math.min(a.length, b.length)
      var s = 0.0
      (0 until n).foreach { i => val d = a(i) - b(i); s += d * d }
      val got = ArraySquaredDistance(Literal(1), Literal(1))
        .nullSafeEval(new GenericArrayData(a), new GenericArrayData(b))
        .asInstanceOf[Double]
      got >= 0.0 && java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(s)
    }

  // ---- validation (reference cpp:77-99) ----------------------------------

  property("unknown protocols always rejected") =
    forAll(Gen.alphaStr.suchThat(p =>
      !KafkaSource.ValidProtocols.contains(p))) { p =>
      try { KafkaSource.validate(Some(SaslConfig(p, "PLAIN", "u", "w")));
        false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("security_protocol") }
    }

  property("valid protocol + creds always accepted") =
    forAll(Gen.oneOf(KafkaSource.ValidProtocols.toSeq),
      Gen.oneOf(KafkaSource.ValidMechanisms.toSeq),
      Gen.alphaStr.suchThat(_.nonEmpty)) { (p, m, u) =>
      KafkaSource.validate(Some(SaslConfig(p, m, u, u))); true
    }

  // ---- misra-gries sketch ------------------------------------------------

  /** The mergeable-summaries bound (Agarwal et al. 2012) that the
    * two-pass heavy-hitters operator rests on, checked under RANDOM merge
    * trees: buffer ≤ k entries; every item with freq > n/(k+1) present;
    * counters only ever undercount, by at most n/(k+1).
    */
  property("misraGries keeps its bound under any random merge tree") =
    forAll(
      Gen.choose(20, 300).flatMap(n => Gen.listOfN(n, Gen.frequency(
        3 -> Gen.const("hh"), 2 -> Gen.const("h2"),
        5 -> Gen.choose(0, 5000).map("n" + _)))),
      Gen.choose(2, 12), Gen.long) { (xs, k, seed) =>
      val mg = new graft.functions.MisraGries(k)
      val rnd = new scala.util.Random(seed)
      def build(items: List[String]): Map[String, Long] =
        if (items.length <= 3 || rnd.nextBoolean())
          items.foldLeft(mg.zero)(mg.reduce)
        else {
          val (a, b) = items.splitAt(1 + rnd.nextInt(items.length - 1))
          mg.merge(build(a), build(b))
        }
      val sk = build(xs)
      val exact = xs.groupBy(identity).map { case (t, l) =>
        t -> l.size.toLong }
      val bound = xs.length.toDouble / (k + 1)
      sk.size <= k &&
        exact.forall { case (t, c) => c <= bound || sk.contains(t) } &&
        sk.forall { case (t, c) => c >= 1 && c <= exact(t) &&
          exact(t) - c <= bound }
    }

  // ---- stub decoder ------------------------------------------------------

  property("stub decoder is deterministic with bounded dims") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-128, 127).map(_.toByte))) { bs =>
      val bytes = bs.toArray
      val a = Multimodal.StubDecoder.decodeBatch(
        Iterator((1L, bytes))).next()
      val b = Multimodal.StubDecoder.decodeBatch(
        Iterator((1L, bytes.clone()))).next()
      a == b && a.width >= 0 && a.width < 1280 &&
        a.height >= 0 && a.height < 720 && a.n_patches > 0
    }

  // ---- patch pooling -----------------------------------------------------

  /** The native byte kernel against an independent ceil-stripe reference
    * (the hex+conv HOF semantics it replaced): every stripe sums its
    * unsigned bytes, stripes tile [0, n) exactly.
    */
  property("patch pool == unsigned ceil-stripe reference, stripes tile") =
    forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte)),
        Gen.choose(1, 16)) { (bs, patches) =>
      val bytes = bs.toArray
      val got = graft.functions.PatchKernels.pool(bytes, patches)
        .toLongArray().toSeq
      val ref = (0 until patches).map { i =>
        val lo = ((i.toLong * bytes.length + patches - 1) / patches).toInt
        val hi =
          (((i + 1).toLong * bytes.length + patches - 1) / patches).toInt
        bytes.slice(lo, hi).map(b => (b & 0xFF).toLong).sum
      }
      got == ref && got.sum == bytes.map(b => (b & 0xFF).toLong).sum
    }
}
