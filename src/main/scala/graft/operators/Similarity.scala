package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star layer).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; map-side score + per-query top-k. The
  *    baseline and the oracle-checkable ground truth.
  *  - IVF ([[ivfAssign]] / [[ivfSearch]]): corpus is bucketed by nearest
  *    centroid (the inverted file); a query probes only `nprobe` cells.
  *    At 100 TB the corpus would be written partitioned by cell so a query scans
  *    a few partitions instead of everything. Centroids here are a
  *    deterministic sample (id % modulus == 0) so the oracle can rebuild
  *    the exact same index; swap in k-means centroids in production.
  *
  * All vector math is left-to-right double folds (zip_with + aggregate) —
  * bit-identical to DuckDB's list_dot_product on DOUBLE[].
  */
object Similarity {

  /** Left-fold dot product in double precision (codegen'd native
    * expression; see [[graft.functions.ArrayDotProduct]]).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Squared euclidean distance, left-fold (codegen'd). */
  def dist2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.squared_distance(a, b)

  /** Reference formulation via higher-order builtins — kept for the spec
    * that proves the native expressions are bit-identical to the
    * interpreted fold.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def normed(df: DataFrame, idCol: String, vecCol: String,
      id: String, v: String, n: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
      .withColumn(n, sqrt(dot(col(v), col(v))))

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded). Output: (query_id, neighbor_id, cosine, rank).
    * Ordering ties broken by neighbor id on round(cos,6).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val c = normed(corpus, idCol, vecCol, "neighbor_id", "vc", "nc")
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * (anchor) vector, the k most-similar corpus vectors carrying a
    * DIFFERENT label — the near-miss negatives a contrastive loss learns
    * most from. Same plan shape as [[bruteForceTopK]] (broadcast query
    * set, map-side cosine, WindowGroupLimit top-k per query — the corpus
    * is never shuffled beyond the per-query-partition window), plus the
    * label-mismatch filter applied before scoring feeds the window.
    * Output: (query_id, query_label, neighbor_id, neighbor_label,
    * cosine, rank).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", k: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label"),
        col(vecCol).cast("array<double>").as("vc"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
    val q = queries.select(col(idCol).as("query_id"),
        col(labelCol).as("query_label"),
        col(vecCol).cast("array<double>").as("vq"))
      .withColumn("nq", sqrt(dot(col("vq"), col("vq"))))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_label") =!= col("query_label"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rank"))
  }

  /** ColBERT-style MaxSim late-interaction relevance: a document is the
    * multi-vector set of all corpus rows sharing `docCol`, the query is a
    * small set of token vectors. score(doc) = Σ_q max_{v∈doc} cos(q, v) —
    * each query token matches its best vector in the document, softly
    * aligning tokens to passages the way late-interaction retrievers do.
    *
    * Scale shape: query tokens broadcast, cosines map-side, then a
    * two-level aggregation — the only shuffle carries the per-partition
    * partial maxima (≤ docs·|Q| rows after map-side combine); the corpus
    * is never re-partitioned. Per-token maxima compare exact rounded
    * doubles; the final per-doc sum runs in DECIMAL(18,6) so token order
    * can't perturb the last bit. Output: (doc, n_qtok, maxsim).
    */
  def maxSimScores(corpus: DataFrame, queryTokens: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      docCol: String = "label"): DataFrame = {
    val c = corpus.select(col(docCol).as("doc"),
        col(vecCol).cast("array<double>").as("vc"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
    val q = queryTokens.select(col(idCol).as("qtok"),
        col(vecCol).cast("array<double>").as("vq"))
      .withColumn("nq", sqrt(dot(col("vq"), col("vq"))))
    c.crossJoin(broadcast(q))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
      .groupBy(col("doc"), col("qtok"))
      .agg(max(col("cosine")).as("best"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_qtok"),
        sum(col("best").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("maxsim"))
  }

  /** Deterministic centroid set: rows whose id % modulus == 0. */
  def sampleCentroids(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", modulus: Int = 50): DataFrame =
    df.filter(col(idCol) % modulus === 0)
      .select(col(idCol).as("centroid_id"),
        col(vecCol).cast("array<double>").as("cv"))

  /** Inverted-file assignment: nearest centroid per vector (squared
    * euclidean, round(d2,6), ties to the lowest centroid id). The centroid
    * set is packed into ONE broadcast row holding a sorted array of
    * (centroid_id, cv) structs and the argmin is a per-row fold over it —
    * truly map-side: no N×C intermediate, no shuffle of the corpus at all
    * (the old crossJoin + row_number formulation shuffled N×C rows).
    * Output: (id, cell, d2).
    */
  /** Shared map-side assignment core: (id, v, riders...) × broadcast
    * centroid array → input columns + (cell, d2). Rider columns (e.g. a
    * filter attribute) pass through the one corpus scan untouched — the
    * point is that NO caller ever needs a corpus self-join on id to
    * re-attach per-vector metadata to the assignment. sort_array orders
    * the packed centroids by centroid_id (first struct field), so the
    * strict `<` in the fold resolves distance ties to the lowest
    * centroid id — same tie-break as ORDER BY d2, centroid_id.
    */
  private def assignCells(c: DataFrame, centroids: DataFrame): DataFrame = {
    // Fail loudly on an empty centroid set: the fold below would otherwise
    // assign every row to a phantom cell -1 (one giant bucket) where the
    // pre-fold formulation — and the SQL oracles — return no rows. Same
    // deliberate index-build-time action as sampleDirections' guard.
    require(!centroids.isEmpty,
      "centroid set is empty; cannot build an IVF assignment")
    assignCellsTrusted(c, centroids)
  }

  /** [[assignCells]] without the emptiness probe — for callers that have
    * already verified (or structurally guarantee) a non-empty centroid set.
    * The probe is an eager action on the centroid frame's full lineage;
    * inside an iterative trainer it would re-execute the previous
    * iteration's whole pipeline once per loop.
    */
  private def assignCellsTrusted(c: DataFrame,
      centroids: DataFrame): DataFrame = {
    val packed = centroids
      .agg(sort_array(collect_list(struct(col("centroid_id"), col("cv"))))
        .as("cents"))
    // Native argmin (VectorKernels.nearestEntry): same scan order,
    // round6, strict-< tie-break and empty-set init as the aggregate-HOF
    // fold it replaced — which interpreted its lambda per centroid per
    // row and dominated every assignment-heavy benchmark.
    c.crossJoin(broadcast(packed))
      .withColumn("best", graft.functions.VectorFunctions
        .nearest_entry(col("v"), col("cents")))
      .withColumn("cell", col("best").getField("id"))
      .withColumn("d2", col("best").getField("d2"))
      .drop("best", "cents")
  }

  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCells(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")), centroids)
      .select(col("id"), col("cell"), col("d2"))

  /** Two-stage bit-reproducible ordered sum of `valCol` per `keys` group,
    * ordered by the (non-negative, per-group-unique) `ordCol`:
    * stage 1 folds each `ordCol div chunkSize` chunk left-to-right in
    * `ordCol` order; stage 2 folds the chunk partials in chunk order.
    * The addition tree is FIXED (deterministic, engine-reproducible — a
    * DuckDB oracle mirrors it with the same `// chunkSize` grouping), and
    * unlike a single whole-group `collect_list` fold, every aggregation
    * buffer is bounded: stage 1 holds at most `chunkSize` elements, stage 2
    * at most `groupSize / chunkSize` partials — max(chunk, N/chunk) instead
    * of N, so a hot group (dominant label, fat k-means cell) can no longer
    * OOM an executor. Pick chunkSize ≈ sqrt(expected hot-group size); the
    * default suits 10^5..10^7-member groups.
    * Output: `keys` ++ (s: double, cnt: long).
    */
  def chunkedOrderedSum(df: DataFrame, keys: Seq[String], ordCol: String,
      valCol: String, chunkSize: Int = 1024): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    val keyCols = keys.map(col)
    df.withColumn("__chunk", expr(s"$ordCol div $chunkSize"))
      .groupBy(keyCols :+ col("__chunk"): _*)
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col(ordCol), col(valCol)))),
            e => e.getField(valCol)),
          lit(0.0), (a, x) => a + x).as("__ps"),
        count(lit(1)).as("__cnt"))
      .groupBy(keyCols: _*)
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("__chunk"), col("__ps")))),
            e => e.getField("__ps")),
          lit(0.0), (a, x) => a + x).as("s"),
        sum(col("__cnt")).as("cnt"))
  }

  /** Vector-valued twin of [[chunkedOrderedSum]]: the same two-stage
    * fixed-addition-tree fold, but over WHOLE vectors (`vecCol`:
    * array<double>) instead of one exploded component per row —
    * component i of the output equals [[chunkedOrderedSum]] run on the
    * posexploded (keys :+ idx) formulation bit-for-bit (zip_with adds
    * position-wise in the same id-then-chunk order; the null-seed branch
    * reproduces the scalar fold's `0.0 + x` first step). What changes is
    * the PLAN: the corpus shuffles one row per vector (dim doubles
    * packed in an array) instead of dim exploded rows of ~5× the bytes,
    * and the second stage groups `numChunks` partials per key instead of
    * `numChunks × dim` rows — the fix for the k-means/centroid folds
    * that dominated the bench (s06's corpus×dim explode was the suite's
    * most spill-prone shuffle). Buffers stay bounded: stage 1 holds at
    * most `chunkSize` (id, vector) structs, stage 2 `groupSize /
    * chunkSize` partial vectors.
    * Output: `keys` ++ (s: array<double>, cnt: long).
    */
  def chunkedVectorSum(df: DataFrame, keys: Seq[String], ordCol: String,
      vecCol: String, chunkSize: Int = 1024): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    val keyCols = keys.map(col)
    def foldVecs(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(null).cast("array<double>"),
        (a, x) => when(a.isNull, transform(x, p => lit(0.0) + p))
          .otherwise(zip_with(a, x, (p, q) => p + q)))
    // NULL vectors contribute nothing, exactly like the posexplode
    // formulation (which emits zero rows for them) — without this
    // filter a null mid-fold would null the accumulator and the
    // when(isNull) branch would silently RESTART the sum from the next
    // vector. Vectors are assumed uniform-dimension (the repo's
    // embedding contract); ragged inputs need the scalar per-(key, idx)
    // [[chunkedOrderedSum]], which counts per component.
    df.filter(col(vecCol).isNotNull)
      .withColumn("__chunk", expr(s"$ordCol div $chunkSize"))
      .groupBy(keyCols :+ col("__chunk"): _*)
      .agg(foldVecs(transform(
          array_sort(collect_list(struct(col(ordCol), col(vecCol)))),
          e => e.getField(vecCol))).as("__ps"),
        count(lit(1)).as("__cnt"))
      .groupBy(keyCols: _*)
      .agg(foldVecs(transform(
          array_sort(collect_list(struct(col("__chunk"), col("__ps")))),
          e => e.getField("__ps"))).as("s"),
        sum(col("__cnt")).as("cnt"))
  }

  /** Per-label simplified silhouette over the [[chunkedVectorSum]]
    * centroid fold: for each vector, a = d² to its own label's centroid,
    * b = min d² to any OTHER label's centroid, sil = (b-a)/max(a,b); the
    * output is each label's mean silhouette — the cluster-quality gate
    * before trusting label-conditioned sampling, hard-negative mining, or
    * an IVF index keyed on the labels.
    *
    * Scale design (100 TB): the centroids (labels × dim doubles) collapse
    * into ONE broadcast row; a and b are array expressions over it, so
    * the corpus is scanned map-side only and the single shuffle is the
    * label-sized final aggregation. Numerics: per-vector sil goes
    * straight to integer micro-units with the portable floor(x+0.5) (an
    * intermediate round() would tie-break differently per engine exactly
    * because sil is a ratio of round-6 values), so the per-label sum is
    * an order-free exact integer fold; the mean re-applies floor(x+0.5)
    * at micro resolution. Output: (label, n_vectors, mean_sil).
    */
  def silhouetteByLabel(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      chunkSize: Int = 256): DataFrame = {
    val cents = chunkedVectorSum(
        emb.select(col(labelCol).as("label"), col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v")),
        Seq("label"), "id", "v", chunkSize)
      .select(col("label"),
        transform(col("s"), x => x / col("cnt")).as("ccv"))
    val allCents = cents.agg(collect_list(struct(
      col("label").as("clabel"), col("ccv"))).as("all_cents"))
    emb.select(col(idCol).as("id"), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(allCents))
      .withColumn("own", element_at(filter(col("all_cents"),
        c => c.getField("clabel") === col("label")), 1).getField("ccv"))
      .withColumn("a", round(dist2(col("v"), col("own")), 6))
      .withColumn("b", array_min(transform(filter(col("all_cents"),
          c => c.getField("clabel") =!= col("label")),
        c => round(dist2(col("v"), c.getField("ccv")), 6))))
      .withColumn("sm",
        when(greatest(col("a"), col("b")) === 0, lit(0L))
          .otherwise(floor((col("b") - col("a")) /
            greatest(col("a"), col("b")) * 1000000 + 0.5).cast("long")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("sm")).as("ssm"))
      .select(col("label"), col("n_vectors"),
        (floor(col("ssm").cast("double") / col("n_vectors") + 0.5)
          .cast("long") / lit(1000000.0)).as("mean_sil"))
  }

  /** Deterministic power iteration: the corpus's top principal direction
    * (dominant eigenvector of the centered second-moment matrix) by
    * repeated v ← normalize(Σ_x (x-µ·v)(x-µ)) — PCA's first component,
    * computed WITHOUT any linear-algebra runtime and bit-reproducibly:
    * per-vector contributions integerize to micro-units before the
    * component sums (order-free exact folds), the norm is a fixed
    * index-ordered fold over the 64 components, and every loading is
    * round(…, 6). µ comes from the [[chunkedVectorSum]] fold, checkpointed
    * ONCE (a 1-row frame) so the per-iteration re-execution of `centered`
    * re-runs only the corpus map pass, never the mean aggregation; N and
    * dim ride that same row instead of standalone count()/first() driver
    * actions (the round-7 stray-action cleanup).
    *
    * Scale: each iteration is one map pass over the corpus (v and µ ride
    * ONE broadcast row) plus a dim-sized aggregation; iterations is a
    * fixed parameter the oracle unrolls. Output: (i, loading, raynorm) —
    * raynorm = ‖Σ…‖/N, the Rayleigh-quotient scale of the eigenvalue.
    */
  def powerIteration(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", iterations: Int = 3,
      chunkSize: Int = 256): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val mean = chunkedVectorSum(
        emb.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("x")),
        Seq.empty, "id", "x", chunkSize)
      .select(transform(col("s"), p => p / col("cnt")).as("mu"),
        col("cnt").as("__n"))
      // Loud failure on an empty corpus (ADVICE r7): the global fold
      // yields one row with null s/cnt there, which would silently
      // propagate null loadings through every iteration. assert_true
      // evaluates when the checkpointed row materializes — same failure
      // point as the old first()-based dim probe, without its extra job.
      .withColumn("__nonempty", assert_true(
        col("__n").isNotNull && col("__n") > 0,
        lit("powerIteration: empty embedding corpus (cnt=0)")))
      .localCheckpoint(false)
    val centered = emb
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("x"))
      .crossJoin(broadcast(mean.select(col("mu"))))
      .withColumn("xc", zip_with(col("x"), col("mu"), (a, b) => a - b))
      .select(col("id"), col("xc"))
    val nDf = mean.select(col("__n"))
    var v: DataFrame = mean
      .select(transform(col("mu"),
        _ => lit(1.0) / sqrt(size(col("mu")).cast("double"))).as("varr"),
        lit(0.0).as("raynorm"))
    for (_ <- 1 to iterations) {
      val sums = centered.crossJoin(broadcast(v.select(col("varr"))))
        .withColumn("d", dot(col("xc"), col("varr")))
        .select(col("id"), col("d"),
          posexplode(col("xc")).as(Seq("i", "xi")))
        .withColumn("cm",
          floor(col("d") * col("xi") * 1000000 + 0.5).cast("long"))
        .groupBy(col("i")).agg(sum(col("cm")).as("w"))
      v = sums
        .agg(transform(array_sort(collect_list(struct(col("i"),
            (col("w").cast("double") / 1000000.0).as("wv")))),
          e => e.getField("wv")).as("warr"))
        .select(col("warr"),
          sqrt(aggregate(transform(col("warr"), x => x * x),
            lit(0.0), (a, x) => a + x)).as("nrm"))
        .crossJoin(broadcast(nDf))
        .select(transform(col("warr"),
            x => round(x / col("nrm"), 6)).as("varr"),
          round(col("nrm") / col("__n"), 6).as("raynorm"))
        .localCheckpoint(false)
    }
    v.select(posexplode(col("varr")).as(Seq("i", "loading")),
      col("raynorm"))
  }

  /** Lloyd's k-means refinement of the deterministic sample centroids —
    * the production replacement for [[sampleCentroids]] as the IVF index
    * quality knob. Each iteration: map-side fold assignment (no corpus
    * shuffle, see [[assignCells]]) + one bounded-buffer per-cell mean via
    * [[chunkedVectorSum]] — the double addition tree is fixed (identical
    * per component to the exploded (cell, idx) fold it replaced, so the
    * s06 oracle hash is unchanged), the trainer is bit-reproducible and
    * DuckDB-oracle-checkable, and a hot cell stays within
    * max(chunkSize, members/chunkSize) buffered VECTORS. The vector form
    * shuffles one row per corpus vector instead of dim exploded rows —
    * the round-7 fix for the bench's most spill-prone plan. Each
    * iteration's centroids are materialized with an eager
    * localCheckpoint: it cuts the lineage (plans would otherwise nest
    * per round and re-run prior iterations for every action) and makes
    * the single up-front emptiness guard sufficient for the trusted
    * per-round assignment; the checkpointed frame is centroid-sized
    * (k × dim doubles), never corpus-sized. Cells that lose all members
    * drop out (standard Lloyd degeneracy; k shrinks) — but never all at
    * once: every corpus vector is assigned somewhere, so a non-empty
    * corpus keeps ≥ 1 cell alive.
    * Output: (centroid_id, cv, n_members) after `nIter` iterations.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidModulus: Int = 50,
      nIter: Int = 2, chunkSize: Int = 256): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    var cents = sampleCentroids(corpus, idCol, vecCol, centroidModulus)
      .withColumn("n_members", lit(0L))
    require(!cents.isEmpty,
      "centroid sample is empty; cannot seed k-means")
    var i = 0
    while (i < nIter) {
      val assigned = assignCellsTrusted(c,
          cents.select(col("centroid_id"), col("cv")))
        .select(col("cell"), col("id"), col("v"))
      cents = chunkedVectorSum(assigned, Seq("cell"), "id", "v", chunkSize)
        .select(col("cell").as("centroid_id"),
          transform(col("s"), x => x / col("cnt")).as("cv"),
          col("cnt").as("n_members"))
        .localCheckpoint(true)
      i += 1
    }
    cents
  }

  /** Per-label centroid-distance outliers: each label's `k` vectors
    * farthest from that label's mean embedding — the mislabeled/noisy-
    * example detector a curation pipeline runs over classifier or
    * clustering labels. Centroids come from the same bounded-buffer
    * bit-reproducible chunked fold as s05 ([[chunkedVectorSum]]), packed
    * per label (≤ labels·dim rows) and broadcast; the distance pass is
    * map-side; the only corpus exchange is the per-label window for
    * top-k (WindowGroupLimit-pruned). Output: (label, id, d2, rank).
    */
  def centroidOutliers(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      k: Int = 3, chunkSize: Int = 256): DataFrame = {
    val c = emb.select(col(idCol).as("id"), col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = chunkedVectorSum(c.select(col("label"), col("id"),
        col("v")), Seq("label"), "id", "v", chunkSize)
      .select(col("label"),
        transform(col("s"), x => x / col("cnt")).as("cv"))
    val scored = c.join(broadcast(cents), "label")
      .withColumn("d2", round(dist2(col("v"), col("cv")), 6))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("d2").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("id"), col("d2"), col("rank"))
  }

  /** Deterministic direction sample for hyperplane LSH: the first (up to)
    * `n` residue-matching corpus vectors by id, via TakeOrderedAndProject
    * (no corpus-wide single-partition window). Residue-only — no fallback —
    * so the DuckDB oracle's formulation reproduces the index exactly; a
    * short sample just yields fewer planes (lower selectivity, same
    * correctness). Fails loudly only when the sample is EMPTY, the one
    * case that silently disables bucketing; that guard is the single
    * index-build-time action here (cheap: it scans until the first match).
    * Output: (gidx, dv) with gidx in [0, sample size).
    */
  private def sampleDirections(corpus: DataFrame, idCol: String,
      vecCol: String, n: Int, modulus: Int, residue: Int): DataFrame = {
    val base = corpus.filter(col(idCol) % modulus === residue)
      .select(col(idCol).as("did"), col(vecCol).cast("array<double>").as("dv"))
      .orderBy(col("did")).limit(n)
    require(!base.isEmpty,
      s"no corpus ids satisfy id % $modulus == $residue; " +
        "cannot build an LSH direction set")
    // tiny (≤ n rows) by construction — the unpartitioned window is fine
    base.withColumn("gidx",
      row_number().over(Window.orderBy(col("did"))) - 1).drop("did")
  }

  /** Map-side bucket packing: the (tiny) direction set is collapsed into
    * ONE broadcast row of (table, plane, dv) structs; each corpus row folds
    * over it to produce its per-table buckets in place. No N×dirs
    * intermediate and no (id, table) aggregation shuffle — the old
    * crossJoin + groupBy formulation exchanged N×tables rows. Tables with
    * no sampled direction emit no bucket row (same as the old groupBy).
    */
  private def packBits(c: DataFrame, dirs: DataFrame): DataFrame = {
    val packed = dirs.agg(
      collect_list(struct(col("table"), col("plane"), col("dv"))).as("dirs"))
    c.crossJoin(broadcast(packed))
      .withColumn("__bits", transform(col("dirs"), d =>
        struct(d.getField("table").as("t"),
          when(dot(col("v"), d.getField("dv")) > 0.0,
            call_function("shiftleft", lit(1L), d.getField("plane")))
            .otherwise(lit(0L)).as("bit"))))
      .select(col("id"), explode(
        transform(
          array_sort(array_distinct(
            transform(col("dirs"), d => d.getField("table")))),
          t => struct(t.as("table"),
            aggregate(filter(col("__bits"), b => b.getField("t") === t),
              lit(0L), (a, x) => a + x.getField("bit")).as("bucket"))))
        .as("tb"))
      .select(col("id"), col("tb.table"), col("tb.bucket"))
  }

  /** Multi-table random-hyperplane LSH bucketing: `tables` independent
    * bucket assignments of `planes` sign bits each. A pair is a candidate
    * if it shares a bucket in ANY table — recall 1-(1-p^planes)^tables for
    * sign-agreement probability p = 1 - angle/pi. Output: (id, table,
    * bucket); direction vectors are a deterministic corpus sample so the
    * whole index is reproducible.
    *
    * Sizing: expected bucket population is N / 2^planes per table, so
    * `planes` must grow ~log2(N / targetBucketSize) with the corpus — the
    * defaults fit the test fixtures, not 100 TB. Skewed corpora (e.g.
    * all-positive sentence embeddings vs corpus-sampled directions) can
    * still produce hot buckets; cap or salt those upstream like the
    * MinHash band buckets.
    */
  def lshBucketsMulti(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", tables: Int = 8,
      planes: Int = 4, dirModulus: Int = 13,
      dirResidue: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dirs = sampleDirections(corpus, idCol, vecCol, tables * planes,
        dirModulus, dirResidue)
      .select((col("gidx") / planes).cast("int").as("table"),
        pmod(col("gidx"), lit(planes)).as("plane"), col("dv"))
    packBits(c, dirs)
  }

  /** Single-table random-hyperplane bucketing (the tables=1 special case
    * of [[lshBucketsMulti]]). Output: (id, bucket).
    */
  def lshBuckets(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dirModulus: Int = 83,
      dirResidue: Int = 5, nDirs: Int = 6): DataFrame =
    lshBucketsMulti(corpus, idCol, vecCol, tables = 1, planes = nDirs,
      dirModulus = dirModulus, dirResidue = dirResidue).drop("table")

  /** Shared LSH scoring core: join the bucketed corpus against the (small,
    * broadcast) query probe set, score by exact cosine, keep the top k per
    * query. `q` must carry (query_id, vq, nq, bucket) — one row per probe.
    * Single definition so the scoring/tie-break convention of lshSearch and
    * its multiprobe variant cannot diverge.
    */
  private def lshRank(corpus: DataFrame, buckets: DataFrame, q: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = normed(corpus, idCol, vecCol, "neighbor_id", "vc", "nc")
      .join(buckets.select(col("id").as("neighbor_id"), col("bucket")),
        "neighbor_id")
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** LSH-bucketed ANN: queries rank only their own bucket's vectors by
    * exact cosine. Recall trades against bucket size via nDirs.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def lshSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nDirs: Int = 6, k: Int = 5): DataFrame = {
    val buckets = lshBuckets(corpus, idCol, vecCol, nDirs = nDirs)
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
      .join(buckets.select(col("id").as("query_id"), col("bucket")),
        "query_id")
    lshRank(corpus, buckets, q, idCol, vecCol, k)
  }

  /** Multiprobe LSH search: each query ranks its own bucket PLUS every
    * bucket at Hamming distance 1 (one sign bit flipped) — the standard
    * recall booster that trades `nDirs+1` probes for more tables/memory.
    * A near-neighbor that disagrees on exactly one hyperplane is still
    * found, so recall strictly dominates [[lshSearch]] at identical index
    * cost; candidates stay bucket-bounded (no corpus-wide scan). The probe
    * explode runs AFTER the bucket index is narrowed to the query ids, so
    * only |Q|·(nDirs+1) probe rows ever exist — the corpus side is
    * untouched. Output: (query_id, neighbor_id, cosine, rank).
    */
  def lshSearchMultiprobe(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nDirs: Int = 6, k: Int = 5): DataFrame = {
    val buckets = lshBuckets(corpus, idCol, vecCol, nDirs = nDirs)
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
      .join(buckets.select(col("id").as("query_id"), col("bucket")),
        "query_id")
      .select(col("query_id"), col("vq"), col("nq"),
        explode(array(col("bucket") +:
          (0 until nDirs).map(p =>
            col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
    lshRank(corpus, buckets, q, idCol, vecCol, k)
  }

  /** Scalar int8 quantization of an embedding column: per-vector symmetric
    * absmax/127 scale, components rounded to [-127, 127] — the standard 4×
    * memory lever that keeps a 100 TB-corpus ANN index resident in RAM.
    * Pure map-only expression work; round-half-up is spelled as
    * floor(x/scale + 0.5) so both engines quantize identically (their
    * native round() ties differ). Output: input id + (v, scale, qv).
    */
  /** Binary (sign-bit) quantization: each of the 64 dims becomes one bit
    * (v[d] >= 0), packed into two 32-bit words — 32 bytes of float down
    * to 8 bytes per vector, the memory-bound ANN shape next to int8
    * (s08) and PQ (s09). Two words rather than one long keep every
    * shift inside non-negative territory (bit 63 would be the sign
    * bit). Map-only per row.
    */
  def quantizeBinary(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("w0", expr("aggregate(sequence(0, 31), 0L, (acc, d) -> " +
        "acc + IF(element_at(v, d + 1) >= 0D, shiftleft(1L, d), 0L))"))
      .withColumn("w1", expr("aggregate(sequence(32, 63), 0L, (acc, d) -> " +
        "acc + IF(element_at(v, d + 1) >= 0D, shiftleft(1L, d - 32), 0L))"))
      .select(col("id"), col("w0"), col("w1"))

  /** Hamming-distance top-k over binary-quantized vectors: the coarse
    * first stage of a binary-then-rerank retrieval cascade. Same plan
    * shape as [[bruteForceTopK]] — broadcast query words, map-side
    * XOR+popcount (integer ops on 16 bytes/pair), WindowGroupLimit
    * top-k; the corpus is never shuffled beyond the per-query window.
    * Output: (query_id, neighbor_id, hamming, rank), ties by id.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val c = quantizeBinary(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("w0").as("c0"),
        col("w1").as("c1"))
    val q = quantizeBinary(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("w0").as("q0"),
        col("w1").as("q1"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("c0").bitwiseXOR(col("q0"))) +
          bit_count(col("c1").bitwiseXOR(col("q1")))).cast("int"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("rank"))
  }

  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("qv",
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0.0)))
          .otherwise(transform(col("v"), x =>
            greatest(lit(-127.0),
              least(lit(127.0), floor(x / col("scale") + 0.5))))))

  /** The shared probe-selection block of every IVF-family search: each
    * query's `nprobe` nearest cells by round(d2, 6) with the
    * (d2, centroid_id) tie-break. ONE definition on purpose — s43's
    * audit (via [[ivfSearch]]) and s44's remedy ([[filteredIvfSearch]])
    * only compare meaningfully if both probe identical cells. Rider
    * columns on `q` (e.g. an attribute) pass through untouched.
    */
  private def probeCells(q: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val scored = q.crossJoin(broadcast(centroids))
      .withColumn("d2", round(dist2(col("vq"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("centroid_id"))
    scored.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .withColumn("cell", col("centroid_id"))
      .drop("centroid_id", "cv", "d2", "pr")
  }

  /** IVF search: each query probes its `nprobe` nearest cells and ranks
    * only vectors assigned there by exact cosine. The corpus side is ONE
    * scan — [[assignCells]] carries the vector through, so the norm and
    * the cell come off the same pass with no corpus self-join on id.
    * Output: (query_id, neighbor_id, cosine, rank) — top k per query.
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidModulus: Int = 50, nprobe: Int = 2, k: Int = 5): DataFrame = {
    val centroids = sampleCentroids(corpus, idCol, vecCol, centroidModulus)

    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
    val probes = probeCells(q, centroids, nprobe)

    val c = assignCells(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")), centroids)
      .select(col("id").as("neighbor_id"), col("v").as("vc"), col("cell"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
    val scored = c.join(broadcast(probes), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Pre-filter vs post-filter recall audit for attribute-constrained
    * vector search — THE design decision of filtered ANN: post-filtering
    * an unfiltered top-k silently loses results when the predicate is
    * selective (matching neighbors rank below k and never surface),
    * while pre-filtering keeps recall but must gate BEFORE the distance
    * kernel to stay cheap. Per query: the exact pre-filtered truth set
    * (attribute equality applied before any dot product), the
    * [[ivfSearch]] top-k post-filtered by the same predicate, and the
    * overlap — the table that says, per attribute value, whether the
    * index needs attribute-partitioned cells or post-filtering suffices.
    *
    * Scale: the truth pass gates on the attribute equi-join FIRST (the
    * distance kernel only ever sees same-attribute pairs — at 100 TB
    * with a selective predicate that is the difference between scanning
    * a slice and scanning the corpus); the query panel (with attributes)
    * is broadcast; the post-filter pass enriches the |Q|·k IVF result by
    * broadcasting IT into one corpus attribute scan. No corpus shuffle
    * anywhere.
    *
    * Output: (query_id, attr, n_truth, n_post_kept, n_hits, recall),
    * recall = hits/truth micro-floored, NULL when the predicate leaves
    * no candidates at all.
    */
  def filteredSearchRecall(corpus: DataFrame, queries: DataFrame,
      attrCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding", centroidModulus: Int = 50,
      nprobe: Int = 2, k: Int = 5): DataFrame = {
    val attrs = corpus.select(col(idCol).as("__aid"),
      col(attrCol).as("__attr"))
    // query attributes come from the QUERIES side — an external query
    // vector absent from the corpus still audits (a corpus-side lookup
    // would silently drop it from the report); vector, norm and
    // attribute all come off ONE scan of the panel
    val qPanel = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("vq"), col(attrCol).as("qa"))
      .withColumn("nq", sqrt(dot(col("vq"), col("vq"))))
    // the corpus attribute rides the SAME single corpus scan as the
    // vector and its norm — never a corpus self-join on id (that join
    // only stayed broadcast-shaped because the test fixture fit the
    // auto-broadcast threshold; at 100 TB it would be a corpus shuffle)
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("vc"), col(attrCol).as("ca"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
    // pre-filtered exact truth: the attribute gate sits UNDER the
    // distance kernel (broadcast-join on attr, then cosine)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val truth = c.join(broadcast(qPanel), col("ca") === col("qa") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    // post-filter: the UNFILTERED ivf top-k, then the same gate; the
    // |Q|·k result broadcasts into one scan of the corpus attributes
    val ivf = ivfSearch(corpus, queries, idCol, vecCol, centroidModulus,
        nprobe, k)
      .select(col("query_id"), col("neighbor_id"))
    val post = attrs.join(broadcast(ivf),
        col("__aid") === col("neighbor_id"))
      .join(broadcast(qPanel.select(col("query_id"), col("qa"))),
        "query_id")
      .filter(col("__attr") === col("qa"))
      .select(col("query_id"), col("neighbor_id"))
    val tc = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"))
    val pc = post.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_post_kept"))
    val hits = truth.join(broadcast(post), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    qPanel.select(col("query_id"), col("qa").as(attrCol))
      .join(broadcast(tc), Seq("query_id"), "left")
      .join(broadcast(pc), Seq("query_id"), "left")
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col(attrCol),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_post_kept"), lit(0L)).as("n_post_kept"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_truth"), lit(0L)) > 0,
          floor(coalesce(col("n_hits"), lit(0L)).cast("double") * 1000000 /
            col("n_truth") + 0.5).cast("long") / lit(1000000.0))
          .as("recall"))
  }

  /** Attribute-aware IVF search — the remedy [[filteredSearchRecall]]
    * motivates: the predicate joins INSIDE the probe (cell ⋈ attr), so
    * same-attribute candidates from the probed cells are ranked directly
    * instead of post-filtering an unfiltered top-k (which keeps ~k/|attr|
    * of the list). Cells, assignment and probes are identical to
    * [[ivfSearch]]; only the scoring join adds the attribute equality —
    * on a layout partitioned by (attr, cell) both predicates would become
    * partition filters and the scan would touch only the query's own
    * attribute slice. Output:
    * (query_id, neighbor_id, cosine, rank), neighbors all same-attribute.
    */
  def filteredIvfSearch(corpus: DataFrame, queries: DataFrame,
      attrCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding", centroidModulus: Int = 50,
      nprobe: Int = 2, k: Int = 5): DataFrame = {
    val centroids = sampleCentroids(corpus, idCol, vecCol, centroidModulus)
    // query attribute from the QUERIES side (see filteredSearchRecall);
    // probes come from the one shared probeCells definition so s43 and
    // s44 always probe identical cells
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("vq"), col(attrCol).as("qa"))
      .withColumn("nq", sqrt(dot(col("vq"), col("vq"))))
    val probes = probeCells(q, centroids, nprobe)
    // ONE corpus scan: [[assignCells]] carries the vector AND the
    // attribute as rider columns, so cell, norm and attr never need a
    // corpus self-join on id
    val c = assignCells(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"),
        col(attrCol).as("ca")), centroids)
      .select(col("id").as("neighbor_id"), col("v").as("vc"),
        col("ca"), col("cell"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
    // the attribute gate rides the probe join — candidates outside the
    // query's attribute never reach the cosine kernel
    val scored = c.join(broadcast(probes),
        c("cell") === probes("cell") && col("ca") === col("qa"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** IVF-PQ search — the composition a production ANN index actually
    * runs at 100 TB: IVF restricts each query to its `nprobe` nearest
    * cells (so only that fraction of the corpus is scored at all) and PQ
    * ADC scores the survivors from their compact codes (so the scoring
    * join touches M small rows per candidate, never the raw vectors).
    * Doubly approximate: IVF bounds recall by cell coverage, ADC measures
    * query→codeword. Plan shape: candidate generation is (map-only
    * assignment) ⨝ broadcast(probes); scoring is codes ⨝ broadcast(cand)
    * ⨝ broadcast(distance table) + one decimal-sum aggregation — the
    * corpus is never shuffled, and the decimal sum keeps the ranking
    * bit-reproducible under any partitioning. The candidate set is
    * per-query-batch small by construction (nprobe/nCells of the corpus
    * per query); batch the query stream if it isn't.
    * Output: (query_id, neighbor_id, approx_d2, rank) — top k.
    */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidModulus: Int = 50, nprobe: Int = 2, mSub: Int = 8,
      k: Int = 5): DataFrame = {
    val centroids = sampleCentroids(corpus, idCol, vecCol, centroidModulus)
    val assign = ivfAssign(corpus, centroids, idCol, vecCol)
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("centroid_id"))
    val qp = q.crossJoin(broadcast(centroids))
      .withColumn("d2", round(dist2(col("vq"), col("cv")), 6))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("centroid_id").as("cell"))
    val cand = assign.select(col("id"), col("cell"))
      .join(broadcast(qp), "cell")
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
    val cb = pqCodebook(corpus, idCol, vecCol, mSub, centroidModulus)
    val cbj = adcIndexed(cb)
    val rmap = cbj.agg(map_from_entries(sort_array(collect_list(struct(
      struct(col("m"), col("code")).as("k"), col("j").as("v"))))).as("rmap"))
    val codes = pqEncodePacked(corpus, cb, idCol, vecCol, mSub)
      .crossJoin(broadcast(rmap))
      .select(col("id"), adcRanks(col("codes"), col("rmap"), mSub)
        .as("ranks"))
    // the ADC arrays cover EVERY indexed (m, code) per query, so the
    // array fold below never misses a candidate subspace entry.
    val dtp = adcTables(queries, cbj, idCol, vecCol, mSub)
    val scored = codes.join(broadcast(cand), "id")
      .join(broadcast(dtp), "query_id")
      .select(col("query_id"), col("id").as("neighbor_id"),
        adcScore(col("ranks"), col("darr"), mSub).as("approx_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2"),
        col("rank"))
  }

  /** Two-stage retrieval: compressed-domain ANN candidate generation
    * (IVF-PQ, top `kCand` per query by ADC distance) followed by
    * exact-cosine re-ranking of the survivors — the production retrieval
    * shape. The cheap index narrows the corpus to kCand rows per query;
    * only those rows' raw vectors are ever touched, via a join on the
    * (tiny, broadcast) candidate list. Corpus plan cost = one IVF-PQ
    * pass; the re-rank adds |Q|·kCand raw-vector fetches — at 100 TB
    * that's a key lookup against the id-partitioned vector table, not a
    * scan. Exactness of the FINAL ranking is restored for whatever the
    * candidate stage recalls (re-ranking fixes ADC's quantization error
    * but not a missed candidate — recall is still bounded by nprobe).
    * Output: (query_id, neighbor_id, cosine, rank) — top `k`, exact
    * cosine order.
    */
  def rerankSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidModulus: Int = 50, nprobe: Int = 2, mSub: Int = 8,
      kCand: Int = 20, k: Int = 5): DataFrame = {
    require(kCand >= k, "kCand must be at least k")
    val cand = ivfPqSearch(corpus, queries, idCol, vecCol,
        centroidModulus, nprobe, mSub, kCand)
      .select(col("query_id"), col("neighbor_id"))
    val c = normed(corpus, idCol, vecCol, "neighbor_id", "vc", "nc")
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
    val scored = c.join(broadcast(cand), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions via
    * a deterministic hash-derived matrix: R(i,j) = 2·h(i·outDim+j)/2^31 − 1
    * with h a Wang-style xor-shift-multiply integer hash (an affine
    * LCG-in-the-index is NOT enough — its columns are shifts of each
    * other, so projected dimensions correlate and distances smear; the
    * nonlinear mix decorrelates them). Scaled by 1/sqrt(outDim). The
    * matrix is pure int64 arithmetic — no RNG state, no broadcast side
    * data — so a DuckDB oracle rebuilds it exactly, and each output
    * component is the usual index-order left fold (the dotHof
    * discipline) for cross-engine bit-equality. Map-only: no shuffle
    * anywhere; THE pre-ANN dimensionality lever at 100 TB (project
    * 64→16 before bucketing/quantization — J-L keeps pairwise distances
    * within ~ε while cutting index cost 4×). Entries are uniform in
    * [-1, 1) (variance 1/3), so the isometry scale is sqrt(3/outDim),
    * making E[‖Pv‖²] = ‖v‖². Output: (id, pv[outDim]).
    */
  def randomProjection(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", inDim: Int = 64,
      outDim: Int = 16): DataFrame = {
    require(inDim > 0 && outDim > 0, "dimensions must be positive")
    // The matrix is row-independent, so it's materialized ONCE driver-side
    // (exact int64 arithmetic, identical to the oracle's in-SQL formula)
    // and embedded as literal arrays: each output component is then one
    // codegen'd native dot product instead of dim interpreted hash
    // evaluations per row — 4.5× on the sf0.1 bench. inDim is enforced
    // per row (a mismatched vector would silently mis-project otherwise).
    def mix(x: Long): Long = ((x ^ (x >> 16)) * 73244475L) % 4294967296L
    val scale = math.sqrt(3.0 / outDim)
    val rcols = (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val m2 = mix(mix((i * outDim + j).toLong))
        ((m2 ^ (m2 >> 16)) % 2147483648L).toDouble / 1073741824.0 - 1.0
      }.toArray
    }
    val guarded = when(size(col("v")) === inDim, col("v"))
      .otherwise(raise_error(concat(
        lit(s"randomProjection: vector dim "), size(col("v")),
        lit(s" != inDim=$inDim"))))
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("id"),
        array(rcols.map(rj => dot(guarded, lit(rj)) * scale): _*).as("pv"))
  }

  // ---- product quantization --------------------------------------------

  /** Per-row subspace slices: (id, m, sv) with sv the m-th of `mSub`
    * equal slices of the vector (requires dim % mSub == 0, ENFORCED per
    * row — a non-divisible dimension would otherwise silently truncate
    * the trailing components out of every distance). posexplode of a
    * per-row transform — map-only, N×mSub narrow rows.
    */
  private def subspaces(df: DataFrame, idCol: String, vecCol: String,
      mSub: Int, id: String): DataFrame = {
    require(mSub > 0, "mSub must be positive")
    val subd = (size(col("v")) / mSub).cast("int")
    // raise_error inside when(): evaluated per row on the executors, so
    // the guard costs one integer modulo and no extra pass or action.
    val guarded = when(size(col("v")) % mSub === 0, col("v"))
      .otherwise(raise_error(concat(
        lit(s"subspaces: vector dim "), size(col("v")),
        lit(s" is not divisible by mSub=$mSub"))))
    df.select(col(idCol).as(id),
        col(vecCol).cast("array<double>").as("v"))
      .select(col(id), posexplode(
        transform(sequence(lit(0), lit(mSub - 1)),
          mi => slice(guarded, mi * subd + 1, subd))))
      .select(col(id), col("pos").cast("int").as("m"), col("col").as("sv"))
  }

  /** PQ codebook from the deterministic id-modulus sample (the same
    * index-build convention as [[sampleCentroids]]): every sampled
    * vector contributes its m-th slice as subspace m's entry, coded by
    * the sample's id. Output: (m, code, sv) — mSub × (n/modulus) rows.
    * A production run trains each subspace codebook with
    * [[kmeansCentroids]] over the slices instead; the quantize/search
    * machinery below is agnostic to where the codebook came from.
    */
  def pqCodebook(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", mSub: Int = 8,
      modulus: Int = 50): DataFrame =
    subspaces(corpus.filter(col(idCol) % modulus === 0), idCol, vecCol,
      mSub, "code")

  /** PQ encode: nearest codebook entry per (vector, subspace) — squared
    * euclidean on the slice, round(d2,6), ties to the lowest code (the
    * [[assignCells]] discipline). The codebook packs into ONE broadcast
    * row and the argmin is a per-row fold, so encoding is map-only: no
    * shuffle touches the corpus, and the output is mSub narrow rows per
    * vector — the 100 TB index-build shape (M bytes/vector in spirit;
    * here codes stay ids for oracle-comparability).
    * Output: (id, m, code, d2).
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      mSub: Int = 8): DataFrame = {
    val packed = codebook.agg(sort_array(collect_list(
      struct(col("m"), col("code"), col("sv")))).as("cbs"))
    // Native group-filtered argmin (VectorKernels.nearestEntryInGroup):
    // replaces a filter-HOF + aggregate-HOF chain that interpreted its
    // lambdas per codeword per subspace row. Scan order (m, code) and
    // the strict-< tie-break are identical.
    subspaces(corpus, idCol, vecCol, mSub, "id")
      .crossJoin(broadcast(packed))
      .withColumn("best", graft.functions.VectorFunctions
        .nearest_entry_in_group(col("sv"), col("cbs"), col("m")))
      .select(col("id"), col("m"), col("best")("id").as("code"),
        col("best")("d2").as("d2"))
  }

  /** Packed variant of [[pqEncode]]: one row per vector carrying all
    * `mSub` codes as an ordered array (codes[m] = nearest codebook entry
    * of slice m — same scan order, round6 and strict-< tie-break, so
    * element m equals pqEncode's (id, m) row exactly). This is the
    * compressed-index row shape ADC search wants: map-only, no explode,
    * N single rows out.
    */
  def pqEncodePacked(corpus: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      mSub: Int = 8): DataFrame = {
    require(mSub > 0, "mSub must be positive")
    val packed = codebook.agg(sort_array(collect_list(
      struct(col("m"), col("code"), col("sv")))).as("cbs"))
    val subd = (size(col("v")) / mSub).cast("int")
    val guarded = when(size(col("v")) % mSub === 0, col("v"))
      .otherwise(raise_error(concat(
        lit(s"pqEncodePacked: vector dim "), size(col("v")),
        lit(s" is not divisible by mSub=$mSub"))))
    corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(packed))
      .select(col("id"), transform(sequence(lit(0), lit(mSub - 1)),
        mi => graft.functions.VectorFunctions.nearest_entry_in_group(
          slice(guarded, mi * subd + lit(1), subd), col("cbs"), mi)
          .getField("id")).as("codes"))
  }

  /** Codebook with a dense entry index: j = rank of (m, code) in sorted
    * order, 0-based — the array layout both ADC sides agree on. The
    * un-partitioned window only ever sees the CODEBOOK (mSub·K rows, the
    * broadcast side), never the corpus.
    */
  private def adcIndexed(codebook: DataFrame): DataFrame =
    codebook.withColumn("j", row_number().over(
      Window.orderBy(col("m"), col("code"))).cast("int") - 1)

  /** Per-query ADC distance ARRAY, broadcast-ready: (query_id, darr)
    * with darr[j] = round(d2(query slice m, codeword),6) for indexed
    * codebook entry j, in exact integer MICROS (a 6-dp decimal is an
    * exact long, so downstream sums are exact and order-free). An array
    * (not a map): Spark's map element_at is a linear scan, an array
    * index is O(1) — at N·|Q|·mSub lookups the difference dominates the
    * whole search. Query-side only: |Q| rows of mSub·K longs.
    */
  private def adcTables(queries: DataFrame, cbj: DataFrame,
      idCol: String, vecCol: String, mSub: Int): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    subspaces(queries, idCol, vecCol, mSub, "query_id")
      .join(broadcast(cbj.withColumnRenamed("sv", "csv")), "m")
      .select(col("query_id"), col("j"),
        (round(dist2(col("sv"), col("csv")), 6).cast(dec6) * 1000000)
          .cast("long").as("__pm"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("__pm"))))
        .as("__e"))
      .select(col("query_id"),
        transform(col("__e"), e => e.getField("__pm")).as("darr"))
  }

  /** codes (ids) → codebook entry indexes, ONCE per corpus row (8
    * map lookups per row — never per (row, query)).
    */
  private def adcRanks(codes: Column, rmap: Column, mSub: Int): Column =
    transform(sequence(lit(0), lit(mSub - 1)),
      mi => element_at(rmap,
        struct(mi.as("m"), element_at(codes, mi + 1).as("code"))))

  /** The ADC score fold: Σ_m darr[ranks[m]], exact long micros → double
    * (one correctly-rounded division, equal to the decimal-sum cast the
    * oracle computes).
    */
  private def adcScore(ranks: Column, darr: Column, mSub: Int): Column =
    (aggregate(sequence(lit(0), lit(mSub - 1)), lit(0L),
      (acc, mi) => acc + element_at(darr, element_at(ranks, mi + 1) + 1))
      .cast("double") / lit(1e6))

  /** PQ ADC (asymmetric distance computation) search: each query
    * precomputes its distance table to every codebook entry (query-side
    * only — |Q| broadcast rows of mSub·K entries, keyed by the real
    * (m, code) pair, so arbitrarily large codebook ids can't collide);
    * each corpus vector's packed codes then score with a per-row table
    * fold — NO corpus shuffle at all: the per-(query, vector) sum that
    * used to be a |Q|·N-row aggregation is map-side arithmetic, and the
    * only exchange left carries the WindowGroupLimit-pruned top-k
    * candidates (tasks × |Q| × k rows). Sums are exact integer micros
    * (≡ the oracle's decimal sum), so the ranking is bit-reproducible
    * under any partitioning. Approximate by construction: d2 is measured
    * query→codeword, not query→vector.
    * Output: (query_id, neighbor_id, approx_d2, rank) — top k.
    */
  def pqSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      mSub: Int = 8, modulus: Int = 50, k: Int = 5): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, mSub, modulus)
    val cbj = adcIndexed(cb)
    val rmap = cbj.agg(map_from_entries(sort_array(collect_list(struct(
      struct(col("m"), col("code")).as("k"), col("j").as("v"))))).as("rmap"))
    val codes = pqEncodePacked(corpus, cb, idCol, vecCol, mSub)
      .crossJoin(broadcast(rmap))
      .select(col("id"), adcRanks(col("codes"), col("rmap"), mSub)
        .as("ranks"))
    val dtp = adcTables(queries, cbj, idCol, vecCol, mSub)
    val scored = codes.crossJoin(broadcast(dtp))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        adcScore(col("ranks"), col("darr"), mSub).as("approx_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2"),
        col("rank"))
  }

  /** SIF-style document embeddings (Arora et al. 2017, "A Simple but
    * Tough-to-Beat Baseline for Sentence Embeddings"): each doc maps to
    * the frequency-weighted mean of its tokens' word vectors, weight
    * a / (a + p(w)) — rare terms dominate, stopwords wash out. Word
    * vectors are deterministic md5-derived components in [-1000, 1000]
    * (stand-ins for trained vectors; the PLUMBING — corpus stats, the
    * vocabulary join, the element-wise fold — is the operator), so the
    * DuckDB oracle rebuilds them exactly.
    *
    * Scale design: term stats are one shuffle over tokens; word vectors
    * are computed on the VOCABULARY (dim digests per distinct term, not
    * per occurrence); the weighted fold shuffles (doc, dim) component
    * rows once. Weights are DECIMAL(10,6) and components integer, so the
    * per-(doc,dim) sum is order-free exact; the single double division
    * (and /1000 component scale) happens once at the end.
    * Output: (doc_id, dim, value) scalar rows.
    */
  def sifEmbeddings(docs: DataFrame, dim: Int = 16,
      a: Double = 0.001): DataFrame = {
    import graft.functions.CrossHash.md5Long
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val counts = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    // floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): the weight (and the
    // final value below) are exact rationals that can land precisely on a
    // .5 tie at the 6th decimal, where Spark's round (HALF_UP on the exact
    // binary expansion of the double) and DuckDB's (multiply-then-round)
    // disagree — observed at sf1 (11 of 800k SIF values). The floor form
    // is pure IEEE double arithmetic, bit-identical in any engine.
    val weights = counts.crossJoin(broadcast(total))
      .select(col("t"),
        (floor(lit(a) / (lit(a) +
          col("c").cast("double") / col("n_total")) * 1e6 + 0.5) / 1e6)
          .cast("decimal(10,6)").as("w"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (md5Long(concat(col("t"), lit(":"), d.cast("string")))
            % 2001 - 1000).cast("int")).as("vec"))
    // ONE aggregation on doc_id carrying dim decimal-sum columns — the
    // token rows shuffle once at their own cardinality; exploding first
    // would shuffle dim× as many rows (measured 2.4× slower at sf0.1).
    // The (dim-wide, doc-count-long) explode happens after the shuffle.
    val sums = tok.join(weights, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (0 until dim).map(d =>
          sum(col("w") * element_at(col("vec"), d + 1)).as(s"s$d")): _*)
    sums.select(col("doc_id"), col("n_tokens"),
        posexplode(array((0 until dim).map(d => col(s"s$d")): _*))
          .as(Seq("dim", "s")))
      .select(col("doc_id"), col("dim"),
        // + 0.0 folds IEEE -0.0 (a negative sum rounding to zero) into
        // +0.0 — engines disagree on the sign bit's survival otherwise
        (floor(col("s").cast("double") / (col("n_tokens") * 1000.0)
            * 1e6 + 0.5) / 1e6
          + lit(0.0)).as("value"))
  }

  /** Recall@k report: per-query overlap between an approximate search
    * result and the exact ground truth (both in the (query_id,
    * neighbor_id, ..., rank) shape every search operator here emits).
    * recall = |approx ∩ truth| / k, with k taken from the TRUTH side's
    * actual row count per query (guards queries whose corpus has fewer
    * than k eligible neighbors). Both inputs are top-k result sets —
    * |Q|·k rows — so the approx side broadcasts; nothing here touches
    * the corpus. This is the quality gate that belongs NEXT TO every
    * approximate index at 100 TB: run it on a sampled query panel per
    * index build, alert on recall drift.
    * Output: (query_id, n_truth, n_hits, recall), recall an exact
    * IEEE quotient (identical in any engine).
    */
  /** Discount weight table for [[rankingMetrics]]: position i carries
    * `round(1e6 / log2(i+1))` in integer MICRO-UNITS, precomputed once
    * here so the Spark side, the DuckDB oracle, and any other engine
    * share byte-identical literals — and every DCG/IDCG sum is an
    * order-free exact integer fold (no floating log in the data path).
    */
  def dcgWeightMicros(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** Ranking-metrics report (MRR / DCG / NDCG@k) for an approximate
    * search result against exact ground truth — [[annRecall]]'s
    * position-aware sibling: recall says WHETHER the truth was found,
    * NDCG says how HIGH it was ranked. Relevance is binary membership
    * in the truth top-k. All position discounts come from
    * [[dcgWeightMicros]] (integer micro-units), so mrr/dcg/idcg are
    * exact integer sums; the one double division (ndcg) happens last.
    * Both inputs are |Q|·k result sets — the report never touches the
    * corpus, same as [[annRecall]].
    * Output: (query_id, n_truth, n_hits, mrr_micros, dcg_micros,
    * idcg_micros, ndcg).
    */
  def rankingMetrics(truth: DataFrame, approx: DataFrame,
      k: Int = 5): DataFrame = {
    val w = dcgWeightMicros(k)
    val weightOf = (r: Column) => element_at(
      array(w.map(lit): _*), r.cast("int"))
    val t = truth.select(col("query_id"), col("neighbor_id"))
      .withColumn("__rel", lit(1))
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    // per-query DCG/MRR over the approx list, relevance looked up in
    // the (broadcast, |Q|·k) truth set
    val scored = a.join(broadcast(t), Seq("query_id", "neighbor_id"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("__rel")).as("n_hits"),
        coalesce(min(when(col("__rel").isNotNull, col("rank"))), lit(0L))
          .as("__first"),
        sum(when(col("__rel").isNotNull, weightOf(col("rank")))
          .otherwise(lit(0L))).as("dcg_micros"))
      .withColumn("mrr_micros",
        when(col("__first") > 0, expr("1000000 div __first"))
          .otherwise(lit(0L)))
    // ideal DCG: every truth row ranked at the top — weights 1..n_truth
    val ideal = t.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"))
      .withColumn("idcg_micros",
        aggregate(slice(array(w.map(lit): _*), lit(1),
            least(col("n_truth"), lit(k)).cast("int")),
          lit(0L), (acc, x) => acc + x))
    ideal.join(scored, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("mrr_micros"), lit(0L)).as("mrr_micros"),
        coalesce(col("dcg_micros"), lit(0L)).as("dcg_micros"),
        col("idcg_micros"),
        round(coalesce(col("dcg_micros"), lit(0L)).cast("double") /
          col("idcg_micros"), 6).as("ndcg"))
  }

  def annRecall(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1))
    t.join(broadcast(a), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        count(col("__hit")).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth"))
  }

  /** Matryoshka-style truncated-dimension cascade: stage 1 ranks the
    * corpus by cosine over only the FIRST `subDim` components (a 4×
    * cheaper distance at subDim=16 over dim=64 — the scan stage a
    * dimension-nested ("matryoshka") embedding is trained to support),
    * keeping `kCand` candidates per query; stage 2 re-scores just those
    * candidates with the exact full-dimension cosine and keeps `k`.
    * Same two-stage economics as [[rerankSearch]] but the coarse stage
    * needs no index build at all — truncation is free at write time.
    * Both stages broadcast query-sized sides only; the corpus is never
    * shuffled (stage-1 top-k is WindowGroupLimit-pruned map-side).
    * Output: (query_id, neighbor_id, cosine, rank) — exact cosines on
    * the survivors, ties round(cos,6) then neighbor id.
    */
  def truncatedRerank(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      subDim: Int = 16, kCand: Int = 20, k: Int = 5): DataFrame = {
    require(kCand >= k, "kCand must be at least k")
    def truncated(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id),
          slice(col(vecCol).cast("array<double>"), 1, subDim).as(v))
        .withColumn(n, sqrt(dot(col(v), col(v))))
    val ct = truncated(corpus, "neighbor_id", "vct", "nct")
    val qt = truncated(queries, "query_id", "vqt", "nqt")
    val coarseW = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id"))
    val cand = ct.crossJoin(broadcast(qt))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse",
        round(dot(col("vqt"), col("vct")) / (col("nqt") * col("nct")), 6))
      .withColumn("crank", row_number().over(coarseW))
      .filter(col("crank") <= kCand)
      .select(col("query_id"), col("neighbor_id"))
    val c = normed(corpus, idCol, vecCol, "neighbor_id", "vc", "nc")
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.join(broadcast(cand), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"))
  }

  /** [[sifEmbeddings]] re-packed as one dense vector per doc —
    * (doc_id, vec) — ready for the ANN operators (assignment, search,
    * quantization). The per-doc buffer is exactly `dim` elements, so
    * unlike a whole-group collect this regrouping is bounded by
    * construction.
    */
  def sifVectors(docs: DataFrame, dim: Int = 16,
      a: Double = 0.001): DataFrame =
    sifEmbeddings(docs, dim, a)
      .groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("value")))),
        e => e.getField("value")).as("vec"))

  /** IVF index-health report: per-cell population with share-of-corpus
    * and skew-vs-ideal (n_vectors × n_cells / n_total; 1.0 = perfectly
    * balanced) — INCLUDING empty cells, which a report built only from
    * the assignment would silently omit (an empty cell means wasted
    * nprobe budget; a hot cell means one probe scans half the corpus).
    * Run it per index build, alert on skew drift — the dedup-side twin
    * of the ANN-recall gate (s21).
    *
    * Cost: the (already map-side) assignment + one cell-keyed count; the
    * two scalar totals arrive by broadcast. No window, no sort.
    *
    * Output: (cell, n_vectors, share, skew).
    */
  def ivfBalance(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sizes = ivfAssign(corpus, centroids, idCol, vecCol)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val totals = corpus.agg(count(lit(1)).as("n_total"))
      .crossJoin(centroids.agg(count(lit(1)).as("n_cells")))
    centroids.select(col("centroid_id").as("cell"))
      .join(sizes, Seq("cell"), "left")
      .withColumn("n_vectors", coalesce(col("n_vectors"), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors") / col("n_total").cast("double"), 6)
          .as("share"),
        round(col("n_vectors") * col("n_cells") /
          col("n_total").cast("double"), 6).as("skew"))
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval metric of
    * dot-product-trained two-tower/DSSM models, where cosine is WRONG
    * (it divides out the corpus-side norm the model learned to use as a
    * popularity prior). Same plan shape as [[bruteForceTopK]]: broadcast
    * query set, map-side scores over the never-shuffled corpus,
    * WindowGroupLimit top-k. Ranking is on round(ip, 6) with id
    * tie-breaks so the order is engine-portable.
    *
    * Output: (query_id, neighbor_id, ip, rank).
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("vc"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("vq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("ip", round(dot(col("vq"), col("vc")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("ip"), col("rank"))
  }

  /** The asymmetric MIPS→cosine reduction (Bachrach et al., RecSys 2014 /
    * XBOX transform): append sqrt(M² − ‖x‖²) to every corpus vector and a
    * 0 to every query, where M ≥ max corpus norm. Augmented-space cosine
    * then orders EXACTLY like raw inner product for any fixed query —
    * ip(q, x) / (‖q‖·M) — so the whole cosine ANN stack ([[lshSearch]],
    * [[ivfSearch]], [[hammingTopK]]) serves MIPS unchanged: transform
    * once at index-build, search as usual, report exact `ip` from the
    * original vectors at the confirm stage. SimilaritySpec certifies the
    * order-equivalence against [[mipsTopK]].
    *
    * `m` must be ≥ every corpus norm — compute max(norm) in the index
    * build (one cheap agg) and pass it in; a too-small m raises rather
    * than silently mis-ranking.
    *
    * Output: (idCol, aug) with aug = vec ++ [sqrt(m² − ‖vec‖²)] for
    * corpus rows, vec ++ [0] for query rows.
    */
  def augmentForMips(df: DataFrame, m: Double, isQuery: Boolean,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0, "m must be positive")
    val v = col(vecCol).cast("array<double>")
    val extra =
      if (isQuery) lit(0.0)
      else {
        val n2 = dot(v, v)
        when(n2 <= m * m, sqrt(lit(m * m) - n2))
          .otherwise(raise_error(concat(lit("augmentForMips: corpus norm² "),
            n2.cast("string"), lit(s" exceeds m²=${m * m}"))))
      }
    df.select(col(idCol), concat(v, array(extra)).as("aug"))
  }

  /** Hybrid-retrieval fusion via Reciprocal Rank Fusion: the standard way
    * to combine two retrievers that score on incomparable scales (here the
    * cosine ranking from [[bruteForceTopK]] and the raw inner-product
    * ranking from [[mipsTopK]]). Each candidate's fused score is
    * Σ 1/(c + rank) over the rankings that retrieved it — rank arithmetic
    * only, so no score normalization is needed and the oracle reproduces
    * it bit-for-bit (two-term sum, fixed order, rounded at 6).
    *
    * Scale shape: both input rankings share the broadcast-query/
    * corpus-never-shuffled plan; the fusion itself joins two |Q|·kEach
    * tables (panel-sized, AQE broadcasts) — the corpus is scanned twice
    * and shuffled zero times.
    */
  def hybridRrf(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 10, kEach: Int = 20, c: Int = 60): DataFrame = {
    val cos = bruteForceTopK(corpus, queries, idCol, vecCol, kEach)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("ra"))
    val ip = mipsTopK(corpus, queries, idCol, vecCol, kEach)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rb"))
    val fused = cos.join(ip, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c) + col("rb")), lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id"))
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrf"),
        col("ra").as("cosine_rank"), col("rb").as("ip_rank"),
        col("fused_rank"))
  }

  /** EXACT radius (range) search: every corpus vector whose rounded
    * cosine with a query is >= `minCosine` — the "all neighbors within a
    * similarity threshold" complement of top-k, with NO recall loss.
    *
    * Unlike the LSH/IVF top-k paths (approximate candidate generation,
    * exact confirm), the pruning here is a triangle-inequality BOUND, so
    * the result is provably identical to brute force: vectors are
    * unit-normalized and assigned to their nearest sampled centroid; a
    * cell can only contain a neighbor of q if
    * dist(q, centroid) <= rEuclid + maxRadius(cell), where rEuclid is the
    * euclidean radius equivalent to the cosine threshold on the unit
    * sphere (||u-w||² = 2 - 2·cos). Cells failing the bound are skipped
    * without being scanned. Conservative slack (1e-5 on the cosine, 1e-4
    * on the distance) absorbs the round-6 candidate distances and IEEE
    * noise — over-inclusion costs a confirm, never a missed neighbor,
    * which is why the brute-force SQL oracle certifies this path
    * directly.
    *
    * Scale shape: centroids and per-cell radii are broadcast; the corpus
    * is scanned once map-side for assignment and shuffled ONCE on cell;
    * the (query, cell) candidate list is panel-sized and broadcasts. The
    * final cosine is the same round-6 formula as [[bruteForceTopK]] over
    * the RAW vectors, so output values match the d05/s01 family.
    * Output: (query_id, neighbor_id, cosine), self-matches excluded.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      minCosine: Double = 0.4, modulus: Int = 50): DataFrame = {
    require(minCosine > -1.0 && minCosine <= 1.0, s"minCosine $minCosine")
    val c = normed(corpus, idCol, vecCol, "neighbor_id", "vc", "nc")
      .filter(col("nc") > 0)
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
      .filter(col("nq") > 0)
    val cents = c.filter(col("neighbor_id") % modulus === 0)
      .select(col("neighbor_id").as("centroid_id"),
        transform(col("vc"), x => x / col("nc")).as("cv"))
    require(!cents.isEmpty,
      "centroid sample is empty; lower modulus or widen the corpus")
    val packed = cents
      .agg(sort_array(collect_list(struct(col("centroid_id"), col("cv"))))
        .as("cents"))
    // nearest_entry's d2 is round-6; sqrt keeps the error ~1e-6-scale,
    // inside the 1e-4 slack below.
    val assigned = c
      .withColumn("uv", transform(col("vc"), x => x / col("nc")))
      .crossJoin(broadcast(packed))
      .withColumn("best",
        graft.functions.VectorFunctions.nearest_entry(col("uv"), col("cents")))
      .select(col("neighbor_id"), col("vc"), col("nc"),
        col("best").getField("id").as("cell"),
        sqrt(col("best").getField("d2")).as("dc"))
    val cellStats = assigned.groupBy(col("cell"))
      .agg(max(col("dc")).as("maxr"))
    val rEuclid = math.sqrt(math.max(0.0, 2.0 - 2.0 * (minCosine - 1e-5)))
    val qcells = q
      .withColumn("uq", transform(col("vq"), x => x / col("nq")))
      .crossJoin(broadcast(cents))
      .withColumn("dqc", sqrt(dist2(col("uq"), col("cv"))))
      .select(col("query_id"), col("vq"), col("nq"),
        col("centroid_id").as("cell"), col("dqc"))
    val cand = qcells.join(broadcast(cellStats), "cell")
      .filter(col("dqc") <= lit(rEuclid + 1e-4) + col("maxr"))
      .select(col("cell"), col("query_id"), col("vq"), col("nq"))
    assigned.join(broadcast(cand), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** kNN classification — label a query vector by majority vote of its k
    * nearest labeled neighbors (exact cosine, the retrieval-based
    * classifier a labeling pipeline bootstraps from). Vote ties break
    * deterministically to the SMALLEST label (n_votes desc, label asc) —
    * never the engine's arbitrary pick. Same plan as [[bruteForceTopK]]:
    * broadcast query panel, map-side cosine, WindowGroupLimit top-k; the
    * vote aggregation is panel-sized.
    * Output: (query_id, pred_label, n_votes, vote_share).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nlabel"),
        col(vecCol).cast("array<double>").as("vc"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
    val q = normed(queries, idCol, vecCol, "query_id", "vq", "nq")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val votes = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("n_votes"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("nlabel"))
    votes.withColumn("pr", row_number().over(pw))
      .filter(col("pr") === 1)
      .select(col("query_id"), col("nlabel").as("pred_label"),
        col("n_votes"),
        round(col("n_votes").cast("double") / lit(k.toDouble), 6)
          .as("vote_share"))
  }
}
