package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  test("codegen'd dot product == interpreted higher-order fold, bit for bit") {
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val both = v.select(col("vec_id"),
      Similarity.dot(col("v"), col("v")).as("native"),
      Similarity.dotHof(col("v"), col("v")).as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }
  }

  test("brute-force knn returns k ranked neighbors per query, self excluded") {
    val res = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") % 100 === 0), k = 5).cache()
    val perQuery = res.groupBy("query_id").agg(count(lit(1)).as("n"),
      max("rank").as("mr")).collect()
    assert(perQuery.nonEmpty)
    perQuery.foreach { r =>
      assert(r.getLong(1) === 5L); assert(r.getInt(2) === 5)
    }
    assert(res.filter(col("query_id") === col("neighbor_id")).count() === 0)
    assert(res.filter(col("cosine") > 1.000001 ||
      col("cosine") < -1.000001).count() === 0)
  }

  test("ivf search is deterministic and its hits agree with brute force") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val ivf1 = Similarity.ivfSearch(emb, qs).collect().toSet
    val ivf2 = Similarity.ivfSearch(emb, qs).collect().toSet
    assert(ivf1 === ivf2)
    // every (query, neighbor) the IVF returns must carry the same cosine the
    // brute-force path computes (IVF may miss neighbors, never mis-score).
    val brute = Similarity.bruteForceTopK(emb, qs, k = emb.count().toInt)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf1.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute(key) === r.getDouble(2))
    }
  }

  test("ivf assignment covers every vector exactly once") {
    val assign = Similarity.ivfAssign(emb,
      Similarity.sampleCentroids(emb))
    assert(assign.count() === emb.count())
    assert(assign.select("id").distinct().count() === emb.count())
  }

  test("multiprobe LSH recall dominates single-bucket LSH at equal index") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val single = Similarity.lshSearch(emb, qs).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    val multi = Similarity.lshSearchMultiprobe(emb, qs).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    // more candidates can only improve (or tie) the best hit per query
    single.keys.filter(_._2 == 1).foreach { case (q, _) =>
      assert(multi((q, 1)) >= single((q, 1)), s"query $q")
    }
    // every multiprobe hit carries the exact brute-force cosine
    val brute = Similarity.bruteForceTopK(emb, qs, k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.lshSearchMultiprobe(emb, qs).collect().foreach { r =>
      assert(brute((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
  }

  test("int8 quantization bounds reconstruction error by the rounding step") {
    val q = Similarity.quantizeInt8(emb)
      .select(col("id"), col("scale"),
        sqrt(aggregate(
          zip_with(col("v"), col("qv"),
            (x, qc) => (x - qc * col("scale")) * (x - qc * col("scale"))),
          lit(0.0), (a, b) => a + b)).as("err"),
        size(col("v")).as("d"))
      .collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val bound = math.sqrt(r.getAs[Int]("d").toDouble) *
        r.getAs[Double]("scale") / 2.0
      // per-component rounding error ≤ scale/2 → l2 error ≤ sqrt(d)·scale/2
      assert(r.getAs[Double]("err") <= bound + 1e-12,
        s"vec ${r.get(0)}: err ${r.get(2)} > bound $bound")
    }
  }

  test("chunked ordered sum: exact fixed-tree result on a 90%-skewed group, " +
      "two-stage plan") {
    import spark.implicits._
    // one label owns 90% of the rows — the hot-group shape that OOMs an
    // unbounded whole-group collect_list at scale
    val rows = (0 until 200).map { i =>
      val label = if (i < 180) "hot" else s"cold${i % 4}"
      (i.toLong, label, i * 0.1 - 3.7)
    }
    val df = rows.toDF("vec_id", "label", "comp")
      .withColumn("idx", lit(0))
    val got = Similarity.chunkedOrderedSum(df, Seq("label", "idx"),
        "vec_id", "comp", chunkSize = 16)
      .collect()
      .map(r => r.getAs[String]("label") ->
        ((r.getAs[Double]("s"), r.getAs[Long]("cnt")))).toMap
    // reference: the SAME fixed addition tree in plain Scala — chunk by
    // vec_id div 16 in id order, fold chunks, fold partials in chunk order
    val expected = rows.groupBy(_._2).map { case (lbl, rs) =>
      val sorted = rs.sortBy(_._1)
      val s = sorted.groupBy(_._1 / 16).toSeq.sortBy(_._1)
        .map(_._2.map(_._3).foldLeft(0.0)(_ + _))
        .foldLeft(0.0)(_ + _)
      lbl -> ((s, rs.size.toLong))
    }
    assert(got.keySet === expected.keySet)
    expected.foreach { case (lbl, (s, n)) =>
      assert(java.lang.Double.doubleToLongBits(got(lbl)._1) ===
        java.lang.Double.doubleToLongBits(s), s"label $lbl")
      assert(got(lbl)._2 === n, s"label $lbl")
    }
    // plan shape: stage 1 aggregates keyed by the chunk column — the
    // bounded-buffer two-stage fold, not one whole-group collect_list
    val plan = Similarity.chunkedOrderedSum(df, Seq("label", "idx"),
      "vec_id", "comp", chunkSize = 16).queryExecution.executedPlan.toString
    assert(plan.contains("__chunk"), "expected the chunked first stage")
  }

  test("chunkedVectorSum is bit-identical per component to the exploded " +
      "chunkedOrderedSum fold (skewed groups, repartition-invariant)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 150).map { i =>
      val label = if (i < 120) "hot" else s"cold${i % 3}"
      (i.toLong * 5 + 1, label, Array.fill(7)(rnd.nextDouble() * 4 - 2))
    }
    val df = rows.toDF("id", "label", "v").repartition(13)
    val vec = Similarity.chunkedVectorSum(df, Seq("label"), "id", "v",
        chunkSize = 16)
      .collect()
      .map(r => r.getAs[String]("label") ->
        ((r.getAs[collection.Seq[Double]]("s").toIndexedSeq,
          r.getAs[Long]("cnt")))).toMap
    val exploded = df.select(col("label"), col("id"),
      posexplode(col("v")).as(Seq("idx", "comp")))
    val scalar = Similarity.chunkedOrderedSum(exploded, Seq("label", "idx"),
        "id", "comp", chunkSize = 16)
      .collect()
      .groupBy(_.getAs[String]("label"))
      .map { case (lbl, rs) =>
        lbl -> rs.sortBy(_.getAs[Int]("idx"))
          .map(r => (r.getAs[Double]("s"), r.getAs[Long]("cnt")))
      }
    assert(vec.keySet === scalar.keySet)
    vec.foreach { case (lbl, (sv, cnt)) =>
      val sc = scalar(lbl)
      assert(sv.length === sc.length, s"label $lbl dim")
      sv.indices.foreach { i =>
        assert(java.lang.Double.doubleToLongBits(sv(i)) ===
          java.lang.Double.doubleToLongBits(sc(i)._1),
          s"label $lbl component $i")
      }
      assert(cnt === sc.head._2, s"label $lbl cnt")
    }
  }

  test("k-means refinement never increases inertia over the sampled seed") {
    def inertia(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(emb, cents)
        .agg(sum(col("d2"))).collect()(0).getDouble(0)
    val seed = inertia(Similarity.sampleCentroids(emb))
    val i1 = inertia(Similarity.kmeansCentroids(emb, nIter = 1)
      .select(col("centroid_id"), col("cv")))
    val i2 = inertia(Similarity.kmeansCentroids(emb, nIter = 2)
      .select(col("centroid_id"), col("cv")))
    assert(i1 <= seed, s"$i1 > $seed")
    assert(i2 <= i1, s"$i2 > $i1")
    info(f"inertia seed=$seed%.3f iter1=$i1%.3f iter2=$i2%.3f")
    // membership counts partition the corpus
    val n = Similarity.kmeansCentroids(emb, nIter = 2)
      .agg(sum(col("n_members"))).collect()(0).getLong(0)
    assert(n === emb.count())
  }

  test("pq encode: full coverage, codebook codes, zero-distance fixpoint") {
    val emb = Tables.load(spark, sf, "embeddings")
    val cb = Similarity.pqCodebook(emb)
    val codes = Similarity.pqEncode(emb, cb).cache()
    // every vector gets exactly one code per subspace
    assert(codes.count() === emb.count() * 8)
    assert(codes.groupBy("id", "m").count().filter(col("count") =!= 1)
      .count() === 0L)
    // codes are codebook members, distances non-negative
    assert(codes.join(cb.select(col("m"), col("code")), Seq("m", "code"),
      "left_anti").count() === 0L)
    assert(codes.filter(col("d2") < 0).count() === 0L)
    // a sampled vector's slices ARE codewords: its distance is 0 per
    // subspace (its own code, unless an identical slice with a lower id
    // also sits in the codebook — still distance 0)
    assert(codes.filter(col("id") % 50 === 0)
      .filter(col("d2") =!= 0.0).count() === 0L)
    codes.unpersist()
  }

  test("pq adc search ranks by the decimal-exact table-lookup sum") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") % 100 === 0)
    val res = Similarity.pqSearch(emb, q).cache()
    // k rows per query, ranks dense from 1, self excluded
    val perQ = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .collect()
    assert(perQ.nonEmpty)
    perQ.foreach { r =>
      assert(r.getLong(1) === 5L && r.getInt(2) === 1 && r.getInt(3) === 5)
    }
    assert(res.filter(col("query_id") === col("neighbor_id")).count() === 0L)
    // ADC distance of a neighbor == sum over subspaces of the query-to-
    // codeword distances for that neighbor's codes (manual recomputation)
    val one = res.filter(col("rank") === 1).head()
    val (qid, nid, got) =
      (one.getLong(0), one.getLong(1), one.getDouble(2))
    val qv = emb.filter(col("vec_id") === qid)
    val manual = Similarity.pqEncode(emb.filter(col("vec_id") === nid),
        Similarity.pqCodebook(emb))
      .join(Similarity.pqCodebook(emb).withColumnRenamed("sv", "csv"),
        Seq("m", "code"))
      .crossJoin(qv.select(col("embedding").cast("array<double>").as("vq")))
      .select(round(Similarity.dist2(
        slice(col("vq"), col("m") * 8 + 1, lit(8)), col("csv")), 6).as("pd"))
      .agg(sum(col("pd").cast(org.apache.spark.sql.types.DecimalType(18, 6))))
      .head().getDecimal(0).doubleValue()
    assert(math.abs(manual - got) < 1e-9, s"$manual vs $got")
    res.unpersist()
  }

  test("ivf-pq with all cells probed == plain pq search (identity at " +
      "full probe); restricted probes are a subset of pq candidates") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    // nprobe >= nCells -> candidate set is the whole corpus minus self,
    // so the ADC ranking must be exactly pqSearch's
    val full = Similarity.ivfPqSearch(emb, qs, nprobe = 1000)
      .collect().map(_.toSeq).toSet
    val pq = Similarity.pqSearch(emb, qs).collect().map(_.toSeq).toSet
    assert(full === pq)
    // restricted probing returns ranked rows per query, neighbors scored
    // by the same ADC sum (a subset relation can't hold row-for-row since
    // ranks shift, but every (query, neighbor, d2) must appear in the
    // full-probe ADC scoring)
    val narrow = Similarity.ivfPqSearch(emb, qs, nprobe = 2).collect()
    assert(narrow.nonEmpty)
    val fullScores = Similarity.ivfPqSearch(emb, qs, nprobe = 1000, k = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    narrow.foreach { r =>
      assert(fullScores((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
  }

  test("hardNegatives returns only cross-label neighbors, ranked like knn") {
    val emb = Tables.load(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val hn = Similarity.hardNegatives(emb, qs).collect()
    assert(hn.nonEmpty)
    hn.foreach { r =>
      assert(r.getAs[Int]("query_label") !== r.getAs[Int]("neighbor_label"))
    }
    // per query: exactly k rows, ranks 1..k, cosine non-increasing
    hn.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos === cos.sorted.reverse)
    }
    // agreement with brute force: dropping same-label rows from an
    // unrestricted deep top-k and re-ranking must give the same neighbors
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = Similarity.bruteForceTopK(emb, qs, k = 1000).collect()
      .groupBy(_.getLong(0))
    val expect = brute.map { case (q, rows) =>
      q -> rows.sortBy(_.getAs[Int]("rank"))
        .filter(r => labels(r.getLong(1)) != labels(q)).take(5)
        .map(_.getLong(1)).toSeq
    }
    hn.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val got = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id")).toSeq
      assert(got === expect(q), s"query $q")
    }
  }

  test("rerank with full probes and corpus-wide kCand == brute force " +
      "(re-ranking restores exact order); default rerank never mis-scores") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val n = emb.count().toInt
    // all cells probed + every candidate kept -> the exact top-k
    val full = Similarity.rerankSearch(emb, qs, nprobe = 1000, kCand = n)
      .collect().map(_.toSeq).toSet
    val brute = Similarity.bruteForceTopK(emb, qs).collect()
      .map(_.toSeq).toSet
    assert(full === brute)
    // default (restricted) rerank: every returned cosine must equal the
    // brute-force cosine for that pair — candidates may be missed, but a
    // surviving candidate is scored exactly
    val bruteAll = Similarity.bruteForceTopK(emb, qs, k = n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.rerankSearch(emb, qs).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(bruteAll((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
    // exact-cosine order within each query, ranks dense from 1
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ===
        (1 to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos === cos.sorted.reverse)
    }
  }

  test("random projection: deterministic, right shape, and J-L distance " +
      "preservation in the aggregate") {
    val p1 = Similarity.randomProjection(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val p2 = Similarity.randomProjection(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(p1.keySet === p2.keySet)
    p1.foreach { case (id, v) =>
      assert(v.length === 16)
      assert(v.toSeq === p2(id).toSeq)
    }
    // driver-side recompute of one row pins the hash matrix + fold order
    val v0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def mix(x: Long): Long = ((x ^ (x >> 16)) * 73244475L) % 4294967296L
    val expect0 = (0 until 16).map { j =>
      v0.indices.foldLeft(0.0) { (acc, i) =>
        val m2 = mix(mix((i * 16 + j).toLong))
        val x = (m2 ^ (m2 >> 16)) % 2147483648L
        acc + v0(i) * (x.toDouble / 1073741824.0 - 1.0)
      } * math.sqrt(3.0 / 16.0)
    }
    assert(p1(0L).toSeq === expect0)
    // J-L sanity: the sqrt(3/k) scale makes the projection an isometry
    // in expectation — per-vector norm ratios ‖Pv‖²/‖v‖² concentrate
    // around 1 (k=16 → sd ≈ sqrt(2/k) ≈ 0.35 per vector, tight mean
    // over 500). A structured (e.g. affine-in-the-index) matrix fails
    // this: correlated columns inflate the ratio variance.
    val orig = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def n2(a: Array[Double]) = a.map(x => x * x).sum
    val ratios = orig.map { case (id, vfull) => n2(p1(id)) / n2(vfull) }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.85 && mean < 1.15,
      s"projection is not an isometry in expectation: mean ratio $mean")
    val inBand = ratios.count(x => x > 0.3 && x < 2.0).toDouble
    assert(inBand / ratios.length > 0.9,
      s"norm ratios too dispersed: ${inBand / ratios.length} in [0.3, 2]")
  }

  test("centroid outliers: planted far vector ranks first for its label") {
    import spark.implicits._
    // 9 near-origin vectors + 1 planted far outlier per label
    val rows = (for {
      lbl <- 0 until 2
      i <- 0 until 10
    } yield {
      val base = if (i == 9) 100.0 else i * 0.1
      ((lbl * 10 + i).toLong, Array(base + lbl, 0.0f + lbl), lbl)
    }).map { case (id, v, l) => (id, v.map(_.toFloat), l) }
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(rows, k = 2).collect()
      .map(r => (r.getInt(0), r.getAs[Int]("rank")) -> r.getLong(1)).toMap
    // the planted 100.0 vector is rank 1 in both labels
    assert(got((0, 1)) === 9L)
    assert(got((1, 1)) === 19L)
    // d2 ordering: rank1 strictly farther than rank2
    val d2s = Similarity.centroidOutliers(rows, k = 2).collect()
      .groupBy(_.getInt(0)).view.mapValues(
        _.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("d2")).toSeq)
    d2s.foreach { case (_, ds) => assert(ds(0) > ds(1)) }
  }

  test("maxsim == driver-side recompute (round-6 max per token, exact sum)") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = emb.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val qs = rows.filter(_._1 < 8)
    assert(qs.nonEmpty)
    val expected = rows.groupBy(_._2).map { case (doc, members) =>
      val sum = qs.map { case (_, _, qv) =>
        val nq = math.sqrt(dot(qv, qv))
        BigDecimal(members.map { case (_, _, cv) =>
          round6(dot(qv, cv) / (nq * math.sqrt(dot(cv, cv))))
        }.max).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      doc -> (qs.length.toLong, sum.toDouble)
    }
    val got = Similarity.maxSimScores(emb,
        emb.filter(col("vec_id") < 8)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (doc, (n, s)) =>
      assert(got(doc)._1 === n, s"doc $doc token count")
      assert(java.lang.Double.doubleToLongBits(got(doc)._2) ===
        java.lang.Double.doubleToLongBits(s), s"doc $doc score")
    }
  }

  test("sif embeddings: order-invariant, repetition-invariant, " +
      "one row per (doc, dim)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),     // permutation of doc 1
      (3L, "delta delta"),          // repetition of a single term
      (4L, "delta"),
      (5L, "epsilon")).toDF("doc_id", "text")
    val e = Similarity.sifEmbeddings(docs, dim = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(e.size === 5 * 4)
    // weighted MEAN: token order and within-doc repetition don't move it
    for (d <- 0 until 4) {
      assert(e((1L, d)) === e((2L, d)), s"permutation, dim $d")
      assert(e((3L, d)) === e((4L, d)), s"repetition, dim $d")
    }
    // distinct rare terms give distinct vectors
    assert((0 until 4).exists(d => e((4L, d)) !== e((5L, d))))
    // every component is a mean of weights in (0,1] times ints in
    // [-1000,1000] scaled by 1/1000 — bounded by 1 in magnitude
    e.values.foreach(v => assert(math.abs(v) <= 1.0))
  }

  test("binary quantization packs sign bits exactly; hamming search " +
      "ranks an identical vector first at distance 0") {
    import spark.implicits._
    // alternating signs: dims 0,2,4,... negative -> bits 1,3,5,... set
    val alt = (0 until 64).map(d => if (d % 2 == 0) -1.0f else 1.0f).toArray
    val allPos = Array.fill(64)(1.0f)
    val df = Seq((0L, alt), (1L, allPos), (2L, alt.clone))
      .toDF("vec_id", "embedding")
    val qz = Similarity.quantizeBinary(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // odd bits set in each 32-bit word = 0xAAAAAAAA
    assert(qz(0L) === (0xAAAAAAAAL, 0xAAAAAAAAL))
    assert(qz(1L) === (0xFFFFFFFFL, 0xFFFFFFFFL))
    assert(qz(0L) === qz(2L))
    val top = Similarity.hammingTopK(df, df.filter(col("vec_id") === 0L),
        k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    // the clone is rank 1 at hamming 0; all-positive differs in the 32
    // negative dims
    assert(top.toSeq === Seq((2L, 0, 1), (1L, 32, 2)))
  }

  test("annRecall is 1.0 against itself and counts IVF misses exactly") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val truth = Similarity.bruteForceTopK(emb, qs).cache()
    val self = Similarity.annRecall(truth, truth).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getLong(1) === r.getLong(2)); assert(r.getDouble(3) === 1.0)
    }
    // vs IVF: recall = overlap / 5, recomputed independently here
    val ivf = Similarity.ivfSearch(emb, qs).cache()
    val tSet = truth.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(tSet).groupBy(_._1)
      .view.mapValues(_.length).toMap
    Similarity.annRecall(truth, ivf).collect().foreach { r =>
      assert(r.getLong(2) === hits.getOrElse(r.getLong(0), 0).toLong)
      assert(r.getDouble(3) === r.getLong(2).toDouble / r.getLong(1))
    }
  }

  test("ranking metrics: perfect self-eval scores 1.0; displacing the " +
      "top hit to rank 2 yields the exact integer-weight decomposition") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val truth = Similarity.bruteForceTopK(emb, qs).cache()
    val w = Similarity.dcgWeightMicros(5)
    Similarity.rankingMetrics(truth, truth).collect().foreach { r =>
      assert(r.getLong(1) === r.getLong(2))          // n_truth == n_hits
      assert(r.getLong(3) === 1000000L)              // mrr
      assert(r.getLong(4) === r.getLong(5))          // dcg == idcg
      assert(r.getDouble(6) === 1.0)                 // ndcg
    }
    // replace each query's rank-1 hit with a planted non-truth id:
    // hits sit at ranks 2..5 => first=2, dcg = w2+w3+w4+w5 exactly
    val displaced = truth.withColumn("neighbor_id",
      when(col("rank") === 1, lit(-1L)).otherwise(col("neighbor_id")))
    Similarity.rankingMetrics(truth, displaced).collect().foreach { r =>
      assert(r.getLong(2) === 4L)
      assert(r.getLong(3) === 500000L)
      assert(r.getLong(4) === w.drop(1).sum)
      assert(r.getLong(5) === w.sum)
      assert(r.getDouble(6) ===
        BigDecimal(w.drop(1).sum.toDouble / w.sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("truncated rerank == brute force when the candidate stage keeps " +
      "everything, and survivors carry exact full-dim cosines") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val n = emb.count().toInt
    // kCand = corpus size: stage 1 cannot drop the true top-k
    val full = Similarity.truncatedRerank(emb, qs, kCand = n, k = 5)
      .collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, k = 5).collect().toSet
    assert(full === brute)
    // the production setting still scores survivors with exact cosines
    val brMap = Similarity.bruteForceTopK(emb, qs, k = n)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.truncatedRerank(emb, qs).collect().foreach { r =>
      assert(brMap((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
  }

  test("MIPS: augmented-vector cosine retrieval selects the same " +
      "neighbors as direct inner-product ranking") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    // m strictly above every corpus norm, computed the way an index
    // build would
    val maxN2 = emb
      .select(Similarity.dot(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("n2"))
      .agg(max(col("n2"))).head().getDouble(0)
    val m = math.sqrt(maxN2) * 1.001
    val augC = Similarity.augmentForMips(emb, m, isQuery = false)
    val augQ = Similarity.augmentForMips(emb.filter(col("vec_id") % 100 === 0),
      m, isQuery = true)
    val viaCos = Similarity.bruteForceTopK(augC, augQ, vecCol = "aug", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity.mipsTopK(emb, qs, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaCos === direct)
    // a too-small m must fail loudly, not silently mis-rank (forcing the
    // aug column — a pruned count() would never evaluate the guard)
    val err = intercept[Exception] {
      Similarity.augmentForMips(emb, m / 10, isQuery = false)
        .agg(max(size(col("aug")))).head()
    }
    assert(err.getMessage.contains("augmentForMips"))
  }

  test("range search with cell pruning == brute-force radius filter, " +
      "at every threshold") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val n = emb.count().toInt
    // brute-force ground truth: ALL neighbors with their exact cosines
    val brute = Similarity.bruteForceTopK(emb, qs, k = n)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    for (thr <- Seq(-0.5, 0.0, 0.25, 0.6, 0.95)) {
      val expected = brute.filter(_._2 >= thr).toSet
      val got = Similarity.rangeSearch(emb, qs, minCosine = thr)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toSet
      assert(got === expected, s"threshold $thr")
    }
  }

  test("range search pruning loses nothing on a clustered corpus " +
      "(the case where pruning actually skips cells)") {
    import spark.implicits._
    // two tight clusters far apart on the unit sphere: queries near
    // cluster A must not lose any A-neighbor when B's cells are pruned
    val rows = (0L until 200L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
      else Array(0.0f, 1.0f, 0.0f, 0.0f)
      val jit = 0.001f * (i % 7)
      (i, Array(base(0) + jit, base(1) + jit, base(2), base(3)), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val qs = rows.filter(col("vec_id") < 4)
    val nAll = rows.count().toInt
    val brute = Similarity.bruteForceTopK(rows, qs, k = nAll)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter(_._2 >= 0.9).toSet
    val got = Similarity.rangeSearch(rows, qs, minCosine = 0.9, modulus = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toSet
    assert(got === brute)
    // with the clusters ~90 degrees apart, a 0.9-cosine radius around a
    // cluster-A query must exclude every cluster-B neighbor
    assert(got.nonEmpty)
    assert(got.forall { case ((q, nb), _) => q % 2 === nb % 2 })
  }

  test("knn classification matches a hand-rolled majority vote over " +
      "the brute-force top-k, ties to the smallest label") {
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val k = 10
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = Similarity.bruteForceTopK(emb, qs, k = k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), labels(r.getLong(1))))
      .groupBy(_._1).map { case (q, rows) =>
        val votes = rows.groupBy(_._2).map { case (l, v) => (l, v.size) }
        val (lbl, n) = votes.toSeq.minBy { case (l, c) => (-c, l) }
        q -> ((lbl, n))
      }
    val got = Similarity.knnClassify(emb, qs, k = k).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2).toInt))).toMap
    assert(got === expected)
    // exactly one prediction per query
    assert(got.size === qs.count())
  }

  test("power iteration: recovers a planted dominant axis (|loading| " +
      "≈ 1 on it, ≈ 0 elsewhere), raynorm approximates its variance, " +
      "and the fold is partitioning-invariant") {
    import spark.implicits._
    // variance 100x larger along axis 1 than axis 0
    val rows = (0 until 40).map { k =>
      (k.toLong, Array(((k % 5) * 0.01).toFloat, (k * 1.0 - 19.5).toFloat,
        0.0f, 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.powerIteration(rows).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(got(1)._1) > 0.99, s"axis-1 loading: ${got(1)._1}")
    assert(math.abs(got(0)._1) < 0.1 && math.abs(got(2)._1) < 0.01,
      s"off-axis loadings: ${got(0)._1}, ${got(2)._1}")
    // raynorm ≈ variance along axis 1 (uniform -19.5..19.5 step 1)
    val varAxis1 = (0 until 40).map(k => math.pow(k - 19.5, 2)).sum / 40
    assert(math.abs(got(1)._2 - varAxis1) < 0.05 * varAxis1,
      s"raynorm ${got(1)._2} vs variance $varAxis1")
    def run(p: Int) = Similarity.powerIteration(rows.repartition(p))
      .collect().map(r => (r.getInt(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq.sorted
    assert(run(2) === run(13))
    // empty corpus fails LOUDLY (ADVICE r7): the global fold yields a
    // null-cnt row there, which must not become silent null loadings
    val e = intercept[Exception] {
      Similarity.powerIteration(rows.limit(0)).collect()
    }
    assert(Option(e.getMessage).getOrElse(e.toString)
        .contains("empty embedding corpus"),
      s"expected the empty-corpus guard, got: $e")
  }

  test("silhouette: tight well-separated labels score near 1, a label " +
      "interleaved into another's region scores poorly, and the fold is " +
      "partitioning-invariant") {
    import spark.implicits._
    // label 0 tight at x≈0, label 1 tight at x≈100 — both near-perfect;
    // label 2 sits ON label 1's region, so its b (distance to label 1's
    // centroid) is small relative to its own spread
    val rows = (for {
      (lbl, base) <- Seq((0, 0.0), (1, 100.0), (2, 100.0))
      i <- 0 until 8
    } yield ((lbl * 10 + i).toLong,
      Array((base + i * 0.01).toFloat, lbl.toFloat), lbl))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouetteByLabel(rows).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === Set(0, 1, 2))
    assert(got.values.forall { case (n, s) => n === 8L && s >= -1 && s <= 1 })
    assert(got(0)._2 > 0.9, s"separated label scored ${got(0)._2}")
    assert(got(1)._2 > 0.5 && got(2)._2 < got(0)._2,
      s"interleaved labels: ${got(1)._2}, ${got(2)._2}")
    // bit-stable under repartitioning (chunked fold + integer micro sums)
    val a = Similarity.silhouetteByLabel(rows.repartition(7)).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted
    val b = Similarity.silhouetteByLabel(rows.repartition(2)).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted
    assert(a === b)
  }
}
