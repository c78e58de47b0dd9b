package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Fuzzy, Multimodal}

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents").cache()

  test("native minhash signature == declarative higher-order formulation") {
    val a = Dedup.minhashSignatures(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val b = Dedup.minhashSignaturesHof(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(a.length === b.length)
    a.zip(b).foreach { case ((ia, sa), (ib, sb)) =>
      assert(ia === ib); assert(sa === sb)
    }
  }

  test("native shingles == declarative higher-order formulation") {
    val a = docs.select(col("doc_id"),
        Dedup.shingles(col("text")).as("sh")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val b = docs.select(col("doc_id"),
        Dedup.shinglesHof(col("text")).as("sh")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(a.toSeq === b.toSeq)
  }

  test("native simhash == declarative higher-order formulation") {
    val a = Dedup.withSimhash(docs).select("doc_id", "sh").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Dedup.withSimhashHof(docs).select("doc_id", "sh").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("banded simhash pairs == brute-force pairs (exact recall to hamming 3)") {
    val sh = Dedup.withSimhash(docs).select(col("doc_id").as("id"), col("sh"))
    val l = sh.select(col("id").as("a"), col("sh").as("sa"))
    val r = sh.select(col("id").as("b"), col("sh").as("sb"))
    val brute = l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= 3)
      .select("a", "b", "hamming").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val banded = Dedup.simhashPairs(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(banded === brute)
  }

  test("exact dedup groups partition the corpus") {
    val g = Dedup.exactGroups(docs)
    assert(g.agg(sum("n")).collect()(0).getLong(0) === docs.count())
    assert(Dedup.dropExact(docs).count() ===
      docs.select("text").distinct().count())
  }

  test("minhash estimates high jaccard for known near-duplicates") {
    val pairs = Dedup.minhashPairs(docs).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      assert(p.getAs[Double]("est_jaccard") >= 0.5)
      assert(p.getAs[Long]("a") < p.getAs[Long]("b"))
    }
  }

  test("ngram jaccard pairs are exact and bounded") {
    val pairs = Dedup.ngramJaccardPairs(docs).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      val j = p.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
      assert(p.getAs[Int]("n_inter") <= p.getAs[Int]("n_union"))
    }
  }

  test("LSH near-dup path has precision 1 against the exact path") {
    val emb = Tables.load(spark, sf, "embeddings")
    val exact = Dedup.embeddingNearDupPairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingNearDupPairsLsh(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH hit is an exact hit with the identical cosine (precision 1)
    lsh.foreach { case (k, c) => assert(exact.get(k).contains(c), k) }
    // recall floor: a silently-empty candidate set must fail, not pass
    assert(lsh.size * 2 >= exact.size,
      s"LSH recall collapsed: ${lsh.size}/${exact.size}")
    info(s"LSH recall on fixture: ${lsh.size}/${exact.size}")
  }

  test("sampled ground truth = all-pairs ground truth restricted to the panel") {
    val emb = Tables.load(spark, sf, "embeddings")
    val full = Dedup.embeddingNearDupPairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((a, b), _) => a < 50 || b < 50 }.toMap
    val sampled = Dedup.embeddingNearDupPairsSampled(emb, panelMax = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sampled === full)
    assert(sampled.nonEmpty, "panel produced no ground-truth pairs")
  }

  test("IVF-blocked near-dup path has precision 1 and non-empty recall") {
    val emb = Tables.load(spark, sf, "embeddings")
    val exact = Dedup.embeddingNearDupPairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Dedup.embeddingNearDupPairsIvf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf.foreach { case (k, c) => assert(exact.get(k).contains(c), k) }
    assert(ivf.nonEmpty, "IVF candidate blocking yielded no pairs")
    info(s"IVF-block recall on fixture: ${ivf.size}/${exact.size}")
  }

  test("connected components converge on deep chains (pointer jumping)") {
    import spark.implicits._
    // A 120-node path plus a disjoint 50-node path: plain min-label
    // propagation needs O(diameter) ≈ 119 rounds (far past maxIter=20 —
    // it would throw); pointer jumping needs ~2·log2(120) ≈ 14.
    val pairs = ((0L until 119L).map(i => (i, i + 1)) ++
      (1000L until 1049L).map(i => (i, i + 1))).toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size === 170)
    (0L to 119L).foreach(i => assert(cc(i) === 0L, s"node $i"))
    (1000L to 1049L).foreach(i => assert(cc(i) === 1000L, s"node $i"))
  }

  test("hot-bucket cap keeps candidate counts linear on pathological input") {
    import spark.implicits._
    // 500 identical documents: every band bucket holds all 500 ids, so an
    // uncapped generator would emit C(500,2) = 124,750 candidate pairs.
    val boiler = (0L until 500L).map(i => (i, "the same boilerplate text " +
      "repeated in every single document of this hot cluster"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(boiler, maxBucket = 10).collect()
    // Capped: only the 10 lowest ids survive per bucket (the same 10 in
    // every band here) → exactly C(10,2) verified pairs, all among ids 0-9.
    assert(pairs.length === 45, s"expected 45 capped pairs, got ${pairs.length}")
    pairs.foreach { p =>
      assert(p.getAs[Long]("b") <= 9, p)
      assert(p.getAs[Double]("est_jaccard") === 1.0)
    }
    // The truncation is observable, not silent: every one of the 4 band
    // buckets reports its dropped population.
    val overflow = Dedup.bucketOverflow(
      Dedup.minhashBands(Dedup.minhashSignatures(boiler)),
      Seq("band_idx", "band_val"), 10).collect()
    assert(overflow.length === 4)
    overflow.foreach(o => assert(o.getAs[Long]("n_dropped") === 490L))
    // Same linearity guarantee on the simhash and jaccard generators.
    assert(Dedup.simhashPairs(boiler, maxBucket = 10).count() === 45L)
    assert(Dedup.ngramJaccardPairs(boiler, maxBucket = 10).count() === 45L)

    // The capped generators also surface truncation IN the producing pass
    // (observe metrics, no second scan): 4 band buckets × 490 dropped for
    // the banded generators, 1 block × 490 for the prefix-blocked one.
    def metrics(df: org.apache.spark.sql.DataFrame,
        name: String): (Long, Long) = {
      df.collect() // count() would run a DIFFERENT QueryExecution —
                   // observed metrics live on the executed one
      val m = df.queryExecution.observedMetrics(name)
      (m.getAs[Long]("rows_dropped"), m.getAs[Long]("buckets_overflowed"))
    }
    assert(metrics(Dedup.minhashPairs(boiler, maxBucket = 10),
      "minhash_bands_cap") === ((1960L, 4L)))
    assert(metrics(Dedup.simhashPairs(boiler, maxBucket = 10),
      "simhash_bands_cap") === ((1960L, 4L)))
    assert(metrics(Dedup.ngramJaccardPairs(boiler, maxBucket = 10),
      "ngram_blocks_cap") === ((490L, 1L)))
    // both embedding candidate generators report through the same channel
    val emb = Tables.load(spark, sf, "embeddings")
    val lshM = metrics(Dedup.embeddingNearDupPairsLsh(emb, maxBucket = 2),
      "emb_lsh_buckets_cap")
    assert(lshM._1 > 0 && lshM._2 > 0, s"lsh $lshM")
    val ivfM = metrics(Dedup.embeddingNearDupPairsIvf(emb, maxBucket = 2),
      "emb_ivf_cells_cap")
    assert(ivfM._1 > 0 && ivfM._2 > 0, s"ivf $ivfM")

    // The payload generators on the same cluster: three copies of the
    // text make a payload of several distinct 64-byte chunks, so every
    // kept pair shares >= 2 of them (m06) and has hamming 0 (m07).
    val media = boiler.select(col("doc_id"),
      encode(concat_ws(" ", col("text"), col("text"), col("text")), "UTF-8")
        .as("payload"))
    assert(Multimodal.chunkPayload(media).select("chunk_md5").distinct()
      .count() >= 2)
    assert(Multimodal.payloadNearDupPairs(media, maxBucket = 10).count()
      === 45L)
    assert(Multimodal.payloadSimhashPairs(media, maxBucket = 10).count()
      === 45L)
    assert(metrics(Multimodal.payloadSimhashPairs(media, maxBucket = 10),
      "payload_simhash_cap") === ((1960L, 4L)))
  }

  test("every candidate generator reads a cap <= 0 as no cap") {
    // Int.MaxValue caps no bucket of the fixture, so cap 0 must give the
    // same non-empty pairs, generator by generator. Exact copies of a few
    // documents give every text and payload generator pairs to find.
    val emb = Tables.load(spark, sf, "embeddings")
    val media = docs.unionByName(docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val part = Tables.load(spark, sf, "part")
    val generators: Seq[(String, Int => org.apache.spark.sql.DataFrame)] =
      Seq(
        "minhashPairs" -> (c => Dedup.minhashPairs(media, maxBucket = c)),
        "simhashPairs" -> (c => Dedup.simhashPairs(media, maxBucket = c)),
        "ngramJaccardPairs" ->
          (c => Dedup.ngramJaccardPairs(media, maxBucket = c)),
        "embeddingNearDupPairsLsh" ->
          (c => Dedup.embeddingNearDupPairsLsh(emb, maxBucket = c)),
        "embeddingNearDupPairsIvf" ->
          (c => Dedup.embeddingNearDupPairsIvf(emb, maxBucket = c)),
        "payloadSimhashPairs" ->
          (c => Multimodal.payloadSimhashPairs(media, maxBucket = c)),
        "payloadNearDupPairs" ->
          (c => Multimodal.payloadNearDupPairs(media, maxBucket = c)),
        "fuzzyNamePairs" ->
          (c => Fuzzy.fuzzyNamePairs(part, "p_name", maxBlock = c)))
    generators.foreach { case (name, gen) =>
      def rows(cap: Int) = gen(cap).collect().map(_.toString).sorted.toSeq
      val off = rows(0)
      assert(off.nonEmpty, s"$name found no pairs")
      assert(off === rows(Int.MaxValue), name)
    }
  }

  test("duplicated spans: partial, internal, adjacent-fused, keep-first") {
    import spark.implicits._
    val S = (1 to 10).map("s" + _).mkString(" ") // 10 tokens, 3 8-grams
    val T = (1 to 10).map("t" + _).mkString(" ")
    val fixture = Seq(
      (1L, s"u1 u2 u3 $S v1 v2"),       // S at pos 4..13 (globally first)
      (2L, s"w1 $S x1 x2 x3"),          // S at pos 2..11
      (3L, (1 to 12).map("z" + _).mkString(" ")), // fully unique
      (4L, s"$S m1 $S"),                // S twice: pos 1..10 and 12..21
      (5L, s"$S $T"),                   // S then T, spans fuse when adjacent
      (6L, s"q1 $T q2 q3")              // T at pos 2..11
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(fixture).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    // every S/T occurrence is a maximal span; unique context never marked
    assert(spans((1L, 1)) === ((4, 13, 3)))
    assert(spans((2L, 1)) === ((2, 11, 3)))
    assert(spans((4L, 1)) === ((1, 10, 3)))  // internal duplication:
    assert(spans((4L, 2)) === ((12, 21, 3))) // two separate spans (gap 2)
    assert(spans((5L, 1)) === ((1, 20, 6)))  // S[1,10]+T[11,20] fused
    assert(spans((6L, 1)) === ((2, 11, 3)))
    assert(spans.size === 6) // doc 3 clean
    // keep-first exempts exactly the globally-first occurrence per gram:
    // S's canon is doc 1, T's is doc 5 (min (doc, pos) struct order)
    val kf = Dedup.duplicatedSpans(fixture, keepFirst = true).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3)))).toMap
    assert(!kf.keySet.map(_._1).contains(1L))
    assert(kf((5L, 1)) === ((1, 10))) // only the S half remains marked
    assert(kf((6L, 1)) === ((2, 11)))
    // removal cuts the marked spans, keeps canon copies, renormalizes ws
    val clean = Dedup.removeDuplicatedSpans(fixture).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    assert(clean(1L) === ((s"u1 u2 u3 $S v1 v2", 0)))
    assert(clean(2L) === (("w1 x1 x2 x3", 10)))
    assert(clean(3L)._2 === 0)
    assert(clean(4L) === (("m1", 20)))
    assert(clean(5L) === ((T, 10)))
    assert(clean(6L) === (("q1 q2 q3", 10)))
    // a corpus with no duplicated 8-grams yields no spans at all
    assert(Dedup.duplicatedSpans(fixture.filter(col("doc_id").isin(1L, 3L)))
      .count() === 0L)
  }

  test("containment finds short-in-long embeddings that jaccard misses") {
    import spark.implicits._
    val short = (1 to 6).map("w" + _).mkString(" ")      // 4 shingles
    val long = ((1 to 6).map("w" + _) ++ (1 to 30).map("x" + _))
      .mkString(" ")                                     // 34 shingles
    val fixture = Seq(
      (1L, short),                      // wholly contained in doc 2
      (2L, long),
      (3L, (1 to 20).map("z" + _).mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    // directed: short→long is full containment; long→short is NOT (the
    // reverse direction scores 4/34 and is filtered)
    assert(got.contains((1L, 2L)))
    assert(got((1L, 2L)) === ((4, 4, 1.0)))
    assert(!got.contains((2L, 1L)))
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // jaccard on the same pair is far below any near-dup threshold —
    // the asymmetric metric is what finds it
    val jac = 4.0 / 34.0
    assert(jac < 0.5)
  }

  test("containment randomized: precision exact; full containment with an " +
      "eligible blocker is always found") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 30).map("v" + _)
    def doc(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (1L to 30L).map(i => (i, doc(6 + rnd.nextInt(20))))
    // plant full containments: doc 100+i embeds doc i's text verbatim
    val planted = (1L to 5L).map(i =>
      (100L + i, base(i.toInt - 1)._2 + " " + doc(15)))
    val fixture = (base ++ planted).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3)))).toMap
    def sh(t: String): Set[String] = {
      val w = t.split("\\s+")
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val all = (base ++ planted).map { case (id, t) => id -> sh(t) }.toMap
    // precision: every emitted pair carries the TRUE set counts and
    // clears the threshold — candidates can be missed, never mis-scored
    got.foreach { case ((a, b), (nA, nI)) =>
      assert(nA === all(a).size, s"($a,$b) n_a")
      assert(nI === all(a).intersect(all(b)).size, s"($a,$b) n_inter")
      assert(nI * 100 >= nA * 90)
    }
    // the guarantee: sh(a) ⊆ sh(b) and a has an eligible (df ≤ 100)
    // blocker → the pair MUST be found (rarest-shingle posting hit)
    val dfc = all.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    for {
      (a, sa) <- all; (b, sb) <- all
      if a != b && sa.nonEmpty && sa.subsetOf(sb) &&
        sa.exists(s => dfc(s) <= 100)
    } assert(got.contains((a, b)), s"missed full containment $a ⊆ $b")
    assert(got.nonEmpty)
  }

  test("gram novelty: exact dup/total accounting, short docs get NULL") {
    import spark.implicits._
    val S = (1 to 10).map("s" + _).mkString(" ") // 10 tokens, 3 8-grams
    val fixture = Seq(
      (1L, s"u1 u2 u3 $S v1 v2"),  // 15 toks → 8 grams; 3 dup (the S ones)
      (2L, s"w1 $S x1"),           // 12 toks → 5 grams; 3 dup
      (3L, (1 to 12).map("z" + _).mkString(" ")), // 12 toks → 5, all novel
      (4L, "a1 a2 a3")             // < 8 tokens → no grams
    ).toDF("doc_id", "text")
    val got = Dedup.gramNovelty(fixture).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got(1L) === ((8L, 3L, Some(0.625))))
    assert(got(2L) === ((5L, 3L, Some(0.4))))
    assert(got(3L) === ((5L, 0L, Some(1.0))))
    assert(got(4L) === ((0L, 0L, None)))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val emb = Tables.load(spark, sf, "embeddings")
    val pairs = Dedup.embeddingNearDupPairs(emb).collect()
    pairs.foreach { p =>
      assert(p.getAs[Double]("cosine") >= 0.45)
      assert(p.getAs[Long]("a") < p.getAs[Long]("b"))
    }
  }

  test("native gram_hashes == declarative slice/md5 twin, bit for bit") {
    import graft.functions.CrossHash.md5Long
    val d = Tables.load(spark, sf, "documents").limit(200)
    val tk = split(col("text"), "\\s+")
    val twin = when(size(tk) >= 8,
      transform(sequence(lit(1), size(tk) - 7),
        i => md5Long(concat_ws(" ", slice(tk, i, lit(8))))))
      .otherwise(array().cast("array<long>"))
    val rows = d.select(
      graft.functions.TextFunctions.gram_hashes(col("text"), 8).as("native"),
      twin.as("decl")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // short/empty texts yield empty arrays
    import spark.implicits._
    val shorts = Seq("", "a", "a b c").toDF("text").select(
      graft.functions.TextFunctions.gram_hashes(col("text"), 8).as("g"))
      .collect()
    shorts.foreach(r => assert(r.getSeq[Long](0).isEmpty))
  }

  test("incremental dedup: exact wins over near, near hits bands, rest kept") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi"
    val existing = Seq(
      (100L, base),
      (101L, "completely different content about rivers and mountains " +
        "flowing north under bright cold skies every winter morning")
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      // exact copy of an existing doc (md5 hit AND band hit -> 'exact')
      (1L, base),
      // near copy: one word changed at the end -> band hit, no md5 hit
      (2L, base.replace(" pi", " rho")),
      // unrelated -> kept
      (3L, "quick brown foxes jump over lazy dogs while autumn " +
        "leaves fall gently onto quiet empty village streets")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(newDocs, existing).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(got(1L) === ((true, Some("exact"))))
    assert(got(2L) === ((true, Some("near"))))
    assert(got(3L) === ((false, None)))
    // delta against an EMPTY corpus keeps everything
    val empty = Dedup.incrementalDedup(newDocs, existing.limit(0)).collect()
    assert(empty.forall(!_.getBoolean(1)))
  }

  test("native cdc_boundary_ends == declarative hex/md5/conv twin, " +
      "bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val fixture = ((1 to 40).map(i => (i.toLong,
        (1 to (rnd.nextInt(600) + 1))
          .map(_ => ('a' + rnd.nextInt(27)).toChar).mkString)) :+
      (41L, "tiny"))
      .toDF("doc_id", "text")
    val window = 16
    val isBoundary = (w: org.apache.spark.sql.Column) =>
      conv(substring(md5(w), 29, 4), 16, 10).cast("long") % 64 === 0
    val declarative = fixture.select(col("doc_id"),
        hex(encode(col("text"), "UTF-8")).as("hx"),
        octet_length(encode(col("text"), "UTF-8")).as("ol"))
      .select(col("doc_id"), array_distinct(concat(
        when(col("ol") >= window,
          filter(transform(sequence(lit(1), col("ol") - window + 1),
              p => when(isBoundary(
                  col("hx").substr((p - 1) * 2 + 1, lit(2 * window))),
                p + window - 1)),
            e => e.isNotNull))
          .otherwise(array().cast("array<int>")),
        array(col("ol")))).as("ends"))
      .orderBy("doc_id").collect().map(r => r.getSeq[Int](1))
    val native = fixture.select(col("doc_id"),
        graft.functions.TextFunctions
          .cdc_boundary_ends(col("text"), window, 64).as("ends"))
      .orderBy("doc_id").collect().map(r => r.getSeq[Int](1))
    assert(native.toSeq === declarative.toSeq)
  }

  test("cdc chunks tile each doc and shared content chunks identically " +
      "at shifted offsets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def txt(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar)
      .mkString
    val shared = txt(400)
    val fixture = Seq(
      (1L, txt(50) + shared, "s1"),   // shared tail at offset 50
      (2L, txt(93) + shared, "s1"),   // same tail at offset 93
      (3L, "short", "s2"),            // shorter than the window
      (4L, "", "s2"))                 // empty: no rows
      .toDF("doc_id", "text", "source")
    val chunks = Dedup.cdcChunks(fixture)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))

    // empty doc emits nothing; sub-window doc is one whole-doc chunk
    assert(!chunks.exists(_._1 == 4L))
    assert(chunks.filter(_._1 == 3L).map(c => (c._3, c._4)).toSeq ===
      Seq((1, 5)))
    // chunks tile every document exactly: starts chain, lengths sum
    for ((id, len) <- Seq(1L -> 450, 2L -> 493, 3L -> 5)) {
      val cs = chunks.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 === 1)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._3 + a._4)
        case _ => ()
      }
      assert(cs.last._3 + cs.last._4 - 1 === len)
    }
    // the CDC property: the 400-byte shared span produces common chunk
    // hashes even though its byte offset differs (50 vs 93) — fixed-width
    // blocking would share nothing
    val h1 = chunks.filter(_._1 == 1L).map(_._5).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._5).toSet
    assert((h1 intersect h2).nonEmpty)

    // ledger: stored never exceeds referenced, and the shared tail makes
    // the corpus-level ratio strictly < 1
    val led = Dedup.chunkDedupLedger(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    led.foreach { case (_, nc, br, ns, bs) =>
      assert(ns <= nc); assert(bs <= br)
    }
    assert(led.map(_._5).sum < led.map(_._3).sum)
    assert(led.map(_._3).sum === 450 + 493 + 5)
  }

  test("pair index roundtrip is value-identical to a fresh minhashPairs " +
      "run (the Shared.pairs persistence contract)") {
    val idx = java.nio.file.Files
      .createTempDirectory("pair_idx").toString
    Dedup.writePairIndex(docs, idx)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val fresh = Dedup.minhashPairs(docs).orderBy("a", "b")
      .collect().map(key)
    val fromDisk = Dedup.pairsFromIndex(spark, idx).orderBy("a", "b")
      .collect().map(key)
    assert(fromDisk.toSeq === fresh.toSeq)
    // names AND types must survive the roundtrip too — the driver hash
    // is type-sensitive (nullability may legitimately widen on read)
    assert(
      Dedup.pairsFromIndex(spark, idx).schema
        .map(f => (f.name, f.dataType)) ===
      Dedup.minhashPairs(docs).schema
        .map(f => (f.name, f.dataType)))
  }
}
