package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._

/** Deduplication operators for LLM training-data pipelines (north-star
  * layer): exact, MinHash+LSH, SimHash, and exact n-gram Jaccard with
  * prefix blocking.
  *
  * Scale design (100 TB):
  *  - Signatures (minhash/simhash/fingerprints) are pure per-row expression
  *    work — map-only, codegen'd, no shuffle, no UDFs.
  *  - Candidate generation shuffles once on the band/block key; only
  *    candidate pairs (a tiny fraction of the corpus) are joined back for
  *    exact comparison — never all pairs.
  *  - Hot band-buckets (boilerplate text) explode quadratically, so every
  *    candidate generator pairs through [[bucketPairs]], which caps bucket
  *    population deterministically (keeps the `maxBucket` lowest ids per
  *    bucket) — one pathological cluster then contributes O(maxBucket²)
  *    pairs instead of O(cluster²). Recall cost: pairs between two DROPPED
  *    members of the same hot bucket are missed unless another band
  *    catches them; for dedup this is usually recovered transitively
  *    through the kept members (connected components), and
  *    [[bucketOverflow]] reports exactly which buckets were truncated.
  *    Thresholds are compared in integer space (2*eq >= k) so float
  *    rounding can't flip a decision.
  */
object Dedup {

  /** The candidate generator behind every near-dup detector here: the
    * pairs of `keyed` rows in one bucket (equal `keys`), as (keys…, a, b,
    * c_a…, c_b…) with a < b, where `a`/`b` are the rows' `id`s and each
    * `carry` column `c` comes back once per side. Each bucket is first
    * capped to its `maxBucket` lowest ids (`<= 0`: no cap) —
    * deterministic, so reruns and the DuckDB oracle get the same
    * candidates. The window partitions by the key the self-join shuffles
    * on, and the right side renames the left, so both sides share one
    * exchange (ReuseExchange).
    *
    * With `observeAs`, the same pass emits observed metrics `rows_dropped`
    * (rows past the cap) and `buckets_overflowed` (one rank == cap+1
    * sentinel per hot bucket); [[bucketOverflow]] is the per-bucket
    * forensic twin. DedupSpec asserts they surface with AQE on for every
    * capped generator. They exist only after an action on the SAME
    * QueryExecution, and a plan that short-circuits the subtree (e.g.
    * LIMIT 0) reports zeros.
    */
  private[operators] def bucketPairs(keyed: DataFrame, id: String,
      keys: Seq[String], carry: Seq[String], maxBucket: Int,
      observeAs: String = null): DataFrame = {
    val capped =
      if (maxBucket <= 0) keyed
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(id))
        val marked = keyed.withColumn("__bp", row_number().over(w))
        val observed =
          if (observeAs == null) marked
          else marked.observe(observeAs,
            count(when(col("__bp") > maxBucket, 1)).as("rows_dropped"),
            count(when(col("__bp") === maxBucket + 1, 1))
              .as("buckets_overflowed"))
        observed.filter(col("__bp") <= maxBucket).drop("__bp")
      }
    // rename in place, keeping keyed's column order
    val l = capped.select(capped.columns.toSeq.collect {
      case c if c == id => col(c).as("a")
      case c if keys.contains(c) => col(c)
      case c if carry.contains(c) => col(c).as(s"${c}_a")
    }: _*)
    val r = l.select(l.columns.toSeq.map {
      case "a" => col("a").as("b")
      case c if keys.contains(c) => col(c)
      case c => col(c).as(c.stripSuffix("_a") + "_b")
    }: _*)
    l.join(r, keys).filter(col("a") < col("b"))
  }

  /** Truncation report for a capped candidate generator: bucket keys whose
    * population exceeds `maxBucket`, with kept/dropped counts. Run it on
    * the same banded frame (e.g. [[minhashBands]] output with keys
    * (band_idx, band_val)) when a production run needs the recall impact
    * quantified; one aggregation, no join.
    */
  def bucketOverflow(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    // bucketPairs treats maxBucket <= 0 as "capping disabled"; a truncation
    // report for a disabled cap would list every bucket as overflowing.
    require(maxBucket > 0,
      "bucketOverflow requires an enabled cap (maxBucket > 0)")
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("population"))
      .filter(col("population") > maxBucket)
      .withColumn("n_dropped", col("population") - maxBucket)
  }

  // ---- shingling --------------------------------------------------------

  /** Distinct w-word shingles of whitespace-tokenized text; documents with
    * fewer than w tokens contribute their whole text as one shingle.
    * Native one-pass expression; [[shinglesHof]] is the declarative twin
    * the spec cross-checks.
    */
  def shingles(text: Column, w: Int = 3): Column =
    graft.functions.TextFunctions.word_shingles(text, w)

  /** Declarative shingle formulation (higher-order builtins). */
  def shinglesHof(text: Column, w: Int = 3): Column = {
    val tk = split(text, "\\s+")
    array_distinct(
      when(size(tk) >= w,
        transform(sequence(lit(0), size(tk) - w),
          i => concat_ws(" ", slice(tk, i + 1, lit(w)))))
        .otherwise(array(concat_ws(" ", tk))))
  }

  // ---- exact ------------------------------------------------------------

  /** Exact-duplicate groups keyed by md5(text): (hash, n, keep_id). The
    * representative is min(id) — the standard "keep first" policy.
    */
  def exactGroups(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** Exact dedup: keep one row per distinct text (the min-id row). */
  def dropExact(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** Modulus for the linear-combination MinHash family: the Mersenne prime
    * 2^61-1. With h1 < 2^60 and i*h2r < 2^61 the sum stays under 2^62 —
    * no signed-64 overflow in either engine.
    */
  val MinhashP: Long = 2305843009213693951L

  /** (id, sig) for every document: k-permutation MinHash as array<long>,
    * via the native one-pass [[graft.functions.MinhashSignature]]
    * expression. One md5 per shingle, split into two 60-bit halves; the
    * i-th "permutation" is the classic linear combination
    * (h1 + i*(h2>>3)) mod 2^61-1 — exactly reproducible in DuckDB SQL.
    */
  def minhashSignatures(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16): DataFrame =
    df.select(col(idCol),
      graft.functions.TextFunctions.minhash_signature(col(textCol), k)
        .as("sig"))

  /** Declarative (higher-order-function) formulation of the same signature;
    * kept as the independent cross-check the spec runs against the native
    * expression.
    */
  def minhashSignaturesHof(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16): DataFrame = {
    val hs = transform(shingles(col(textCol), 3), s => {
      val m = md5(s)
      struct(
        conv(substring(m, 1, 15), 16, 10).cast("long").as("h1"),
        shiftright(conv(substring(m, 17, 15), 16, 10).cast("long"), 3)
          .as("h2r"))
    })
    df.select(col(idCol), hs.as("__hs"))
      .select(col(idCol),
        array((0 until k).map(i =>
          array_min(transform(col("__hs"),
            p => (p.getField("h1") + lit(i.toLong) * p.getField("h2r"))
              % MinhashP))): _*).as("sig"))
  }

  /** LSH banding: (id, band_idx, band_val) — band_val is the 60-bit hash of
    * the band's signature slice. Pairs sharing any band are candidates.
    */
  def minhashBands(sigs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val banded = sigs.select(col("*"),
      posexplode(array((0 until bands).map(b =>
        md5Long(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, rows),
            x => x.cast("string"))))): _*)).as(Seq("band_idx", "band_val")))
    banded
  }

  /** Near-dup candidate pairs via MinHash LSH, verified against the full
    * signatures: (a, b, n_eq, est_jaccard), keeping pairs with
    * n_eq/k >= minJaccard (integer comparison). One shuffle on the band key
    * + one on the pair ids. Candidates come from [[bucketPairs]] over the
    * (band_idx, band_val) buckets, which truncates buckets larger than
    * `maxBucket` deterministically so a hot boilerplate cluster can't go
    * quadratic.
    */
  def minhashPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 4,
      minJaccardPct: Int = 50, maxBucket: Int = 200,
      // observe() names must be unique per query; a plan composing
      // several minhashPairs calls (e.g. a cap sweep) overrides this
      capMetricName: String = "minhash_bands_cap"): DataFrame = {
    // Repartition before the (expensive, map-only) signature stage: a
    // single-file source otherwise pins all hashing onto one task. Each
    // banded row carries its document's signature, so the pairs are
    // verified without joining the signatures back: both sides of the band
    // self-join read one capped banding, whose exchange they share through
    // ReuseExchange, and the kernel runs once per document. A plan run in
    // one stage (GraftExtensions) has no exchange to share and hashes a
    // document once per side.
    val sigs = minhashSignatures(
      df.repartition(col(idCol)), idCol, textCol, k)
    bucketPairs(minhashBands(sigs, k, bands), idCol,
        Seq("band_idx", "band_val"), Seq("sig"), maxBucket, capMetricName)
      .select(col("a"), col("b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (u, v) => when(u === v, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).as("n_eq"))
      .filter(col("n_eq") * 100 >= lit(minJaccardPct) * k)
      .distinct()
      .withColumn("est_jaccard", col("n_eq").cast("double") / k)
  }

  // ---- SimHash ----------------------------------------------------------

  /** 60-bit SimHash over whitespace tokens (duplicates weighted). Bit j is
    * set iff strictly more than half the token hashes have bit j set.
    * Map-only via the native one-pass [[graft.functions.Simhash60]].
    */
  def withSimhash(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("sh",
      graft.functions.TextFunctions.simhash60(col(textCol)))

  /** Declarative formulation of the same simhash (nested higher-order
    * folds; SQL-level shifts because the Scala shift helpers only take
    * literal amounts) — the spec cross-checks the native expression
    * against it.
    */
  def withSimhashHof(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("__th",
        transform(split(col(textCol), "\\s+"), t => md5Long(t)))
      .withColumn("sh", expr("""
        aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) -> acc +
          (case when 2 * aggregate(__th, cast(0 as bigint),
                  (a, h) -> a + (shiftright(h, j) & 1)) > size(__th)
            then shiftleft(cast(1 as bigint), j)
            else cast(0 as bigint) end))"""))
      .drop("__th")

  /** All pairs within `maxHamming` of each other, found via 4-band LSH over
    * the 60-bit simhash and verified with bit_count(xor). The pigeonhole
    * argument (<=3 differing bits leave at least one of the 4 15-bit bands
    * identical) makes recall exact ONLY while no band bucket exceeds
    * `maxBucket` (or with `maxBucket <= 0`, which disables the cap): a pair
    * whose shared bands were ALL truncated is missed. The default cap
    * trades that guarantee for bounded candidate counts on hot buckets —
    * the observed `simhash_bands_cap` metrics quantify the loss.
    * Output: (a, b, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      maxBucket: Int = 200): DataFrame =
    simhashBandPairs(withSimhash(df.repartition(col(idCol)), textCol)
        .select(col(idCol).as("id"), col("sh")),
      maxHamming, maxBucket, "simhash_bands_cap")

  /** The 4×15-bit band join behind [[simhashPairs]] and
    * [[Multimodal.payloadSimhashPairs]]: (id, sh) in, (a, b, hamming) out.
    */
  private[operators] def simhashBandPairs(sh: DataFrame, maxHamming: Int,
      maxBucket: Int, observeAs: String): DataFrame = {
    require(maxHamming <= 3, "4-band LSH over 60 bits is exact only to 3")
    val banded = sh.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 15).bitwiseAND(0x7FFFL)): _*))
        .as(Seq("band_idx", "band_val")))
    bucketPairs(banded, "id", Seq("band_idx", "band_val"), Seq("sh"),
        maxBucket, observeAs)
      .select(col("a"), col("b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- exact n-gram Jaccard with prefix blocking ------------------------

  /** Exact w-shingle Jaccard over candidate pairs blocked by a cheap
    * deterministic key (md5 of the first `prefixWords` tokens — near-dups
    * overwhelmingly share their opening words). Threshold compared in
    * integer space: 2*|A∩B| >= |A∪B|  <=>  jaccard >= 0.5.
    * Output: (a, b, n_inter, n_union, jaccard).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 3,
      prefixWords: Int = 3, maxBucket: Int = 200): DataFrame = {
    val tk = split(col(textCol), "\\s+")
    val keyed = df.repartition(col(idCol)).select(col(idCol).as("id"),
      md5(concat_ws(" ", slice(tk, 1, prefixWords))).as("block"),
      shingles(col(textCol), w).as("sh"))
    bucketPairs(keyed, "id", Seq("block"), Seq("sh"), maxBucket,
        "ngram_blocks_cap")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union",
        size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
      .filter(col("n_inter") * 2 >= col("n_union"))
      .select(col("a"), col("b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union")).as("jaccard"))
  }

  /** Directed containment pairs: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥
    * threshold — the asymmetric near-dup Jaccard misses: a short document
    * wholly embedded in a longer one scores low Jaccard but containment
    * ≈ 1 (quote farms, wrapper boilerplate, excerpt spam).
    *
    * Candidate generation is prefix filtering on the inverted index:
    * each doc blocks on its globally RAREST eligible shingle (min
    * (df, shingle)); if sh(a) ⊆ sh(b) then b's postings contain a's
    * rarest shingle, so the pair is found. Shingles with df > maxDf are
    * ineligible as blockers AND as postings — fan-out per doc is ≤ maxDf
    * (linear, like every capped generator here), at the documented cost
    * that a doc whose EVERY shingle is ultra-common cannot block (such
    * all-boilerplate docs are exact-dedup's job anyway). Threshold in
    * integer space (hundredths). Output:
    * (a, b, n_a, n_inter, containment), directed a→b.
    */
  def containmentPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 3, maxDf: Int = 100,
      minContainmentPct: Int = 90): DataFrame = {
    require(minContainmentPct > 0 && minContainmentPct <= 100,
      "minContainmentPct must be in (0, 100]")
    val sh = df.repartition(col(idCol))
      .select(col(idCol).as("id"), shingles(col(textCol), w).as("sh"))
    val post = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfc = post.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val eligible = post.join(dfc, "s")
    val rare = eligible.groupBy(col("id"))
      .agg(min(struct(col("df"), col("s"))).as("m"))
      .select(col("id").as("a"), col("m").getField("s").as("s"))
    val cand = rare
      .join(eligible.select(col("id").as("b"), col("s")), "s")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"))
    cand
      .join(sh.select(col("id").as("a"), col("sh").as("sh_a")), "a")
      .join(sh.select(col("id").as("b"), col("sh").as("sh_b")), "b")
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("n_inter") * 100 >= col("n_a") * minContainmentPct)
      .select(col("a"), col("b"), col("n_a"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n_a"), 6)
          .as("containment"))
  }

  // ---- pair clustering --------------------------------------------------

  /** Connected components over an undirected pair list (a, b): the dedup
    * endgame — near-dup PAIRS become duplicate CLUSTERS, each labeled with
    * its minimum member id (the canonical "keep" document).
    *
    * Algorithm: min-label propagation with pointer jumping — each round
    * every node takes the minimum label among itself and its neighbors,
    * then additionally adopts its label's label (path doubling). The jump
    * halves remaining label-tree depth per round, so convergence is
    * O(log diameter) instead of O(diameter) — a long duplicate chain
    * (boilerplate with drifting edits) converges in ~2·log2(n) rounds
    * rather than n. Still joins + aggregations only (no driver-side
    * graph); lineage is cut with an eager localCheckpoint per round so
    * plans don't snowball.
    *
    * Output: (id, cluster) for every node appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val half = pairs.select(col("a").cast("long").as("src"),
      col("b").cast("long").as("dst"))
    // Materialize once: every iteration joins against edges, and without
    // this the full upstream pair-generation pipeline re-runs per round.
    // Hash-partitioned on dst BEFORE the checkpoint — LogicalRDD keeps the
    // physical partitioning, so the per-round edges⋈labels join reuses the
    // layout instead of re-exchanging the (big) edge list every iteration.
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id2"))
        .agg(min(col("lbl")).as("nmin"))
      val stepped = labels
        .join(neighborMin, labels("id") === neighborMin("id2"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("l1"))
      // Pointer jump: adopt the label of my label (labels always point to
      // ids in the same component, so this is safe and only decreases).
      // Skipped for the first two rounds — shallow components (the common
      // near-dup case) converge there without the extra join; from round 3
      // on, doubling bounds deep chains at O(log diameter) total. The
      // stepped frame is materialized first so the self-join doesn't
      // recompute the neighbor-min aggregation twice per round.
      val jumped = if (iter < 2) stepped.withColumnRenamed("l1", "lbl")
      else {
        val steppedM = stepped.localCheckpoint(true)
        val parent = steppedM
          .select(col("id").as("p_id"), col("l1").as("p_lbl"))
        steppedM.join(parent, steppedM("l1") === parent("p_id"), "left")
          .select(col("id"),
            least(col("l1"), coalesce(col("p_lbl"), col("l1"))).as("lbl"),
            col("old"))
      }
      val next = jumped
        .withColumn("changed", col("lbl") < col("old"))
        .drop("old")
        .localCheckpoint(true)
      converged = next.filter(col("changed")).isEmpty
      labels = next.drop("changed")
      iter += 1
    }
    if (!converged)
      // Non-minimal labels would silently keep/drop the WRONG documents
      // downstream (dropNearDuplicates), so exiting early is an error,
      // not a degraded answer.
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "a component has diameter > maxIter; raise maxIter")
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Keep-policy materializer: given the corpus and its near-dup pairs,
    * return only cluster representatives (the min-id member of each
    * connected component) plus all unpaired documents — the actual
    * deduplicated corpus a training pipeline feeds downstream. One anti
    * join against the (tiny) set of dropped ids.
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val dropped = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Incremental (cross-snapshot) dedup: mark each NEW document that
    * duplicates the EXISTING corpus — exactly (same md5) or nearly (shares
    * a MinHash LSH band) — the nightly-crawl shape: dedup the delta
    * against yesterday's corpus without re-pairing the corpus with itself.
    *
    * Scale: both checks are SEMI joins — no candidate pair is ever
    * materialized, so unlike the self-join generators there is no
    * quadratic bucket risk and no cap. The existing side reduces to two
    * distinct-key indexes (text md5s; (band_idx, band_val) band keys) that
    * a production run precomputes once and stores; each delta then costs
    * one map pass over the new docs plus two shuffles on the index keys,
    * independent of corpus size. New-vs-new duplicates are deliberately
    * NOT handled here — run the self-join generators on the (small) delta
    * for that.
    *
    * Output: one row per new doc — (idCol, dropped, reason) with reason
    * 'exact' (winning over 'near' when both hit) / 'near' / NULL.
    */
  def incrementalDedup(newDocs: DataFrame, existing: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, bands: Int = 4): DataFrame = {
    val exactIdx = existing.select(md5(col(textCol)).as("__h")).distinct()
    val bandIdx = minhashBands(
        minhashSignatures(existing.repartition(col(idCol)), idCol, textCol,
          k), k, bands)
      .select(col("band_idx"), col("band_val")).distinct()
    val nw = newDocs.repartition(col(idCol))
    val exactHit = nw.select(col(idCol), md5(col(textCol)).as("__h"))
      .join(exactIdx, Seq("__h"), "left_semi")
      .select(col(idCol).as("__eid"))
    val nearHit = minhashBands(minhashSignatures(nw, idCol, textCol, k),
        k, bands)
      .select(col(idCol), col("band_idx"), col("band_val"))
      .join(bandIdx, Seq("band_idx", "band_val"), "left_semi")
      .select(col(idCol)).distinct()
      .select(col(idCol).as("__nid"))
    newDocs.select(col(idCol))
      .join(exactHit, col(idCol) === col("__eid"), "left")
      .join(nearHit, col(idCol) === col("__nid"), "left")
      .select(col(idCol),
        (col("__eid").isNotNull || col("__nid").isNotNull).as("dropped"),
        when(col("__eid").isNotNull, "exact")
          .when(col("__nid").isNotNull, "near").as("reason"))
  }

  /** Persist the certified near-dup pair set — [[minhashPairs]] output,
    * (a, b, n_eq, est_jaccard) — as a parquet pair index. The pair set
    * is the input of every downstream graph/cluster/split analysis
    * (components, triangles, modularity, leak-free splits, …); at 100 TB
    * it is computed ONCE per corpus snapshot and each analyzer reads the
    * key-sized index (~pairs × 28 bytes, ~10^-5 of the corpus) instead
    * of re-shingling a byte of text. Bit-exact roundtrip: longs/ints/
    * doubles through parquet are lossless (DedupSpec certifies identity
    * against a fresh [[minhashPairs]] run).
    */
  def writePairIndex(corpus: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, bands: Int = 4, minJaccardPct: Int = 50,
      maxBucket: Int = 200): Unit =
    minhashPairs(corpus, idCol, textCol, k, bands, minJaccardPct,
        maxBucket, capMetricName = "pair_index_bands_cap")
      .write.mode("overwrite").parquet(path)

  /** Read a [[writePairIndex]] back. */
  def pairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)

  // ---- embedding near-dup ----------------------------------------------

  /** Exact-cosine confirmation shared by both near-dup paths: joins the
    * candidate (a, b) pairs back to vectors and keeps those with
    * round(cos, 6) >= minCosine. Both paths go through this one block, so
    * the precision-1 relationship between them can't silently diverge.
    */
  private def confirmCosine(df: DataFrame, cand: DataFrame, idCol: String,
      vecCol: String, minCosine: Double): DataFrame = {
    val withNorm = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    val l = withNorm.select(col("id").as("a"), col("v").as("va"),
      col("nrm").as("na"))
    val r = withNorm.select(col("id").as("b"), col("v").as("vb"),
      col("nrm").as("nb"))
    cand.join(l, "a").join(r, "b")
      .withColumn("cosine",
        round(Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** The 100 TB path for [[embeddingNearDupPairs]]: candidates come from
    * multi-table random-hyperplane LSH buckets instead of the all-pairs
    * cross join, then [[confirmCosine]] filters — so precision is 1 by
    * construction (every emitted pair passes the same exact test) and
    * recall is the LSH 1-(1-p^planes)^tables tradeoff. One shuffle on the
    * (table, bucket) key; bucket count 2^planes must scale with corpus
    * size (see [[Similarity.lshBucketsMulti]]).
    */
  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCosine: Double = 0.45,
      tables: Int = 8, planes: Int = 4, maxBucket: Int = 200): DataFrame = {
    val cand = bucketPairs(
        Similarity.lshBucketsMulti(df, idCol, vecCol, tables, planes),
        "id", Seq("table", "bucket"), Nil, maxBucket, "emb_lsh_buckets_cap")
      .select(col("a"), col("b")).distinct()
    confirmCosine(df, cand, idCol, vecCol, minCosine)
  }

  /** Cluster-blocked near-dup (the SemDedup shape): candidates are pairs
    * sharing an IVF cell — cluster the corpus once, then compare only
    * within clusters. Complements [[embeddingNearDupPairsLsh]]: one
    * assignment pass (map-side broadcast fold) + one shuffle on the cell
    * key; precision 1 via the shared [[confirmCosine]]; recall = the
    * probability both members of a near-dup pair land in the same cell
    * (high for tight duplicates, lower near the threshold boundary).
    * Cells are capped like every other candidate generator.
    */
  def embeddingNearDupPairsIvf(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCosine: Double = 0.45,
      centroidModulus: Int = 50, maxBucket: Int = 200): DataFrame = {
    val assign = Similarity.ivfAssign(df,
        Similarity.sampleCentroids(df, idCol, vecCol, centroidModulus),
        idCol, vecCol).select(col("id"), col("cell"))
    val cand = bucketPairs(assign, "id", Seq("cell"), Nil, maxBucket,
        "emb_ivf_cells_cap")
      .select(col("a"), col("b")).distinct()
    confirmCosine(df, cand, idCol, vecCol, minCosine)
  }

  /** Cosine near-duplicate pairs over an embedding column. Exact all-pairs
    * at test scale; the 100 TB paths are [[embeddingNearDupPairsLsh]] and
    * [[embeddingNearDupPairsIvf]].
    * Threshold on round(cos, 6) so a last-ulp wobble can't flip membership.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCosine: Double = 0.45): DataFrame = {
    val ids = df.select(col(idCol).as("id"))
    val cand = ids.select(col("id").as("a"))
      .crossJoin(ids.select(col("id").as("b")))
      .filter(col("a") < col("b"))
    confirmCosine(df, cand, idCol, vecCol, minCosine)
  }

  /** Exact near-dup ground truth restricted to a FIXED query panel (the
    * first `panelMax` ids): every pair with at least one endpoint in the
    * panel, same threshold and confirm as [[embeddingNearDupPairs]].
    * This is the audit-at-scale shape — O(panel × corpus), LINEAR in the
    * corpus for a fixed panel, where the all-pairs ground truth is
    * quadratic by definition (the sf1 rehearsal measured it 73× at 10×
    * data). The panel broadcasts; the corpus is scanned once. The
    * distinct() dedups the both-endpoints-in-panel pairs, which the
    * panel×corpus product emits twice; it shuffles at most panel×corpus
    * normalized pairs, never corpus².
    */
  def embeddingNearDupPairsSampled(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCosine: Double = 0.45,
      panelMax: Long = 50L): DataFrame = {
    val panel = df.filter(col(idCol) < panelMax)
      .select(col(idCol).as("p"))
    val ids = df.select(col(idCol).as("id"))
    val cand = broadcast(panel).crossJoin(ids)
      .filter(col("p") =!= col("id"))
      .select(least(col("p"), col("id")).as("a"),
        greatest(col("p"), col("id")).as("b"))
      .distinct()
    confirmCosine(df, cand, idCol, vecCol, minCosine)
  }

  // ---- exact substring (span-level) dedup -------------------------------

  /** Every token position's l-gram hash: (idCol, pos, __gh) with pos
    * 1-based and __gh the cross-engine 60-bit md5 hash of the
    * space-joined l tokens starting at pos. Docs shorter than l tokens
    * contribute nothing (empty array). One map pass, no shuffle, via the
    * native [[graft.functions.GramHashes]] expression — the declarative
    * transform-lambda twin evaluates interpreted per position and was
    * the dominant cost of the whole span-dedup path at sf0.1.
    */
  private def gramPositions(docs: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame =
    docs
      .select(col(idCol), posexplode(
        graft.functions.TextFunctions.gram_hashes(col(textCol), l)))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("__gh"))

  /** Merge duplicated gram positions into maximal spans per doc: classic
    * gaps-and-islands — a new span starts where pos exceeds the running
    * max span end (+1, so adjacent spans fuse too). The window partitions
    * by doc, so its state is bounded by document length, never corpus
    * size.
    */
  private def spansFromPositions(dp: DataFrame, idCol: String,
      l: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val brk = when(col("pos") > coalesce(
      max(col("pos") + (l - 1)).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
      lit(-1L)) + 1, 1).otherwise(0)
    dp.withColumn("__brk", brk)
      .withColumn("span_idx", sum(col("__brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("span_idx").cast("int").as("span_idx"))
      .agg(min(col("pos")).cast("int").as("start_tok"),
        (max(col("pos")) + (l - 1)).cast("int").as("end_tok"),
        count(lit(1)).cast("int").as("n_dup_grams"))
  }

  /** ExactSubstr-style duplicated spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): token spans of >= l
    * whitespace tokens whose every l-gram occurs at least twice in the
    * corpus, merged into maximal (start_tok, end_tok) islands per doc.
    * With `keepFirst` the globally first occurrence of each gram — min
    * (doc, pos), the canonical copy — is exempted, which is the span set
    * [[removeDuplicatedSpans]] cuts.
    *
    * 100 TB shape: one map pass emits (pos, gram-hash) — positions, not
    * pairs — then ONE shuffle on the gram hash groups occurrences; a doc
    * with a million-fold duplicated gram still contributes one row per
    * position (linear, never quadratic — no pairwise explode anywhere).
    * The island merge windows per doc (state bounded by doc length).
    * Grams are compared by 60-bit hash; a collision (~2^-60 per gram
    * pair) can only over-mark a span, identically on both engines.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", l: Int = 8,
      keepFirst: Boolean = false): DataFrame = {
    // Same lesson as minhashPairs: the per-position hashing is the
    // expensive map stage, and a single-file source would pin it all onto
    // one task. The repartition exchange is shared by every downstream
    // consumer (ReuseExchange), including removeDuplicatedSpans' rebuild.
    val pos = gramPositions(docs.repartition(col(idCol)), idCol, textCol, l)
    val dup = pos.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("pos"))).as("__fst"))
      .filter(col("__n") >= 2)
    val joined = pos.join(dup, "__gh")
    val dp =
      if (!keepFirst) joined.select(col(idCol), col("pos"))
      else joined.filter(!(col(idCol) === col("__fst")(idCol) &&
          col("pos") === col("__fst")("pos")))
        .select(col(idCol), col("pos"))
    spansFromPositions(dp, idCol, l)
  }

  /** Cut every non-canonical duplicated span (>= l tokens, keep-first)
    * out of each document: (idCol, clean_text, n_removed_tokens). The
    * rebuilt text is whitespace-normalized (tokens re-joined with single
    * spaces); a fully-duplicated doc comes back with clean_text = ''.
    * Single pass over Lee et al.'s definition — removal is computed
    * against the ORIGINAL corpus, so a kept canonical copy may itself
    * lose tokens to an overlapping span of a different gram.
    *
    * Scale: spans-per-doc is tiny next to tokens-per-doc, so the
    * span⋈token range join broadcasts under AQE; the rebuild aggregates
    * per doc (collect bounded by doc length, like every per-doc op here).
    */
  /** Per-document n-gram novelty: how many of a doc's l-gram positions
    * carry a gram hash that occurs at least twice corpus-wide (shared
    * boilerplate) versus exactly once (novel content) — the
    * memorization-risk / originality score a data mix wants next to its
    * quality signals. novelty_ratio = 1 − duplicated/total; docs shorter
    * than l tokens have no grams to judge (n_grams = 0, NULL ratio).
    *
    * Same 100 TB shape as [[duplicatedSpans]]: one map pass emits
    * (pos, gram-hash), ONE shuffle on the gram hash for occurrence
    * counts, then a per-doc aggregation — positions, never pairs, so a
    * million-fold duplicated gram stays linear in its occurrence count.
    */
  def gramNovelty(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", l: Int = 8): DataFrame = {
    val pos = gramPositions(docs.repartition(col(idCol)), idCol, textCol, l)
    val cnt = pos.groupBy(col("__gh")).agg(count(lit(1)).as("__n"))
    val perDoc = pos.join(cnt, "__gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(null))
          .otherwise(round(lit(1.0) -
            col("n_dup_grams") / col("n_grams").cast("double"), 6))
          .cast("double").as("novelty_ratio"))
  }

  def removeDuplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", l: Int = 8): DataFrame = {
    val spans = duplicatedSpans(docs, idCol, textCol, l, keepFirst = true)
      .select(col(idCol).as("__sid"), col("start_tok"), col("end_tok"))
    val toks = docs.repartition(col(idCol))
      .select(col(idCol), posexplode(split(col(textCol), "\\s+")))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("__tk"))
    val kept = toks.join(spans,
        col(idCol) === col("__sid") && col("pos") >= col("start_tok") &&
          col("pos") <= col("end_tok"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("__tk")))),
          s => s("__tk"))).as("__clean"),
        count(lit(1)).as("__nkept"))
    docs.select(col(idCol), size(split(col(textCol), "\\s+")).as("__ntok"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__clean"), lit("")).as("clean_text"),
        (col("__ntok") - coalesce(col("__nkept"), lit(0L))).cast("int")
          .as("n_removed_tokens"))
  }

  // ---- content-defined chunking ----------------------------------------

  /** Content-defined chunking (CDC, the LBFS/restic/borg family): split
    * every document at the byte positions where the content hash of the
    * trailing `window` bytes lands on a boundary (hash mod `modulus`
    * == 0) — boundaries move WITH the content, so an edit near the head
    * shifts every downstream byte OFFSET but leaves the downstream chunk
    * HASHES unchanged, which is exactly what fixed-width blocking can't
    * do and what makes chunk-level dedup storage work. One row per
    * chunk: (idCol, chunk_idx, chunk_start, chunk_len, chunk_md5), byte
    * semantics (UTF-8), 1-based offsets, chunks tile the document
    * exactly; empty documents emit no rows.
    *
    * The boundary predicate hashes each window with md5 over the hex
    * encoding (the cross-engine-portable twin of a Rabin/Gear rolling
    * hash — same boundary CONTRACT, one expression to swap for an
    * O(1)/byte gear hash in a native build); expected chunk length is
    * `modulus` bytes. Deliberately NO min-size suppression: suppressing
    * a boundary based on distance from the previous one makes every
    * boundary depend on its predecessor — an inherently sequential scan
    * — while the pure content rule stays embarrassingly parallel.
    *
    * Scale: entirely map-side — candidate ends, span assembly and chunk
    * hashing all happen in per-row array expressions; the only shuffle
    * is whatever the consumer does with the chunk rows. Cost is one md5
    * per byte, the same budget [[duplicatedSpans]] already pays per
    * token position.
    */
  def cdcChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 16,
      modulus: Int = 64): DataFrame = {
    require(window > 0, "window must be positive")
    require(modulus > 0, "modulus must be positive")
    // Boundary scan is the native CdcBoundaryEnds kernel: one md5 per
    // position over a shared hex buffer inside whole-stage codegen —
    // bit-identical to the declarative transform/filter chain it
    // replaced (16-bit int at md5-hex digits 29..32 of the window's
    // 2·window uppercase-hex chars, mod test, doc-end terminated; the
    // oracle keeps `('0x'||right(md5,4))::BIGINT` on the DuckDB side).
    val ends = docs.select(col(idCol),
        hex(encode(col(textCol), "UTF-8")).as("__hx"),
        octet_length(encode(col(textCol), "UTF-8")).as("__ol"),
        graft.functions.TextFunctions
          .cdc_boundary_ends(col(textCol), window, modulus).as("__ends"))
      .filter(col("__ol") > 0)
    ends.select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__ends"))), i => {
          val e = element_at(col("__ends"), i)
          // CASE short-circuits, so element_at(_, 0) is never evaluated.
          val s = when(i === 1, lit(0))
            .otherwise(element_at(col("__ends"), i - 1))
          struct(i.as("chunk_idx"), (s + 1).as("chunk_start"),
            (e - s).as("chunk_len"),
            md5(col("__hx").substr(s * 2 + 1, (e - s) * 2)).as("chunk_md5"))
        })).as("__c"))
      .select(col(idCol), col("__c.chunk_idx"), col("__c.chunk_start"),
        col("__c.chunk_len"), col("__c.chunk_md5"))
  }

  /** Chunk-store dedup ledger over [[cdcChunks]]: what a content-
    * addressed store would actually keep. Each distinct chunk hash is
    * stored ONCE, attributed to its canonical owner (lowest
    * (doc_id, chunk_idx)); the report rolls bytes up per document
    * `source`: chunks/bytes referenced vs chunks/bytes stored, and the
    * stored-over-referenced dedup ratio. `dedup_ratio < 1` is the
    * storage (and recompute) saving chunk-level dedup buys beyond
    * whole-document exact dedup — shared boilerplate spans dedup even
    * when no two whole documents match.
    *
    * Scale: one shuffle on chunk_md5 for the canonical-owner fold (a
    * min-struct, bounded per group), one on source for the rollup; the
    * doc→source sides are broadcast-sized maps of the doc table, never
    * of the chunks.
    */
  def chunkDedupLedger(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source",
      window: Int = 16, modulus: Int = 64): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, window, modulus)
    val srcs = docs.select(col(idCol), col(srcCol))
    val referenced = chunks.join(srcs, Seq(idCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len").cast("long")).as("bytes_referenced"))
    val stored = chunks
      .groupBy(col("chunk_md5"))
      .agg(min(struct(col(idCol), col("chunk_idx"), col("chunk_len")))
        .as("__c"))
      .select(col("__c")(idCol).as(idCol),
        col("__c")("chunk_len").as("chunk_len"))
      .join(srcs, Seq(idCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_stored"),
        sum(col("chunk_len").cast("long")).as("bytes_stored"))
    referenced.join(stored, Seq(srcCol), "left")
      .select(col(srcCol), col("n_chunks"), col("bytes_referenced"),
        coalesce(col("n_stored"), lit(0L)).as("n_stored"),
        coalesce(col("bytes_stored"), lit(0L)).as("bytes_stored"),
        round(coalesce(col("bytes_stored"), lit(0L)) /
          col("bytes_referenced").cast("double"), 6).as("dedup_ratio"))
  }

  /** Estimator-quality report for the MinHash pipeline: for every
    * certified candidate pair, the signature-estimated Jaccard
    * (matching components / k) next to the EXACT shingle-set Jaccard and
    * the absolute error — the calibration audit a production dedup run
    * ships with (the minhash S-curve is only as good as its estimator;
    * drift here means the band/row config no longer hits the intended
    * threshold). Same cost envelope as [[minhashPairs]] plus two
    * id-keyed joins against the (per-doc, bounded) shingle arrays; the
    * exact-Jaccard intersection runs only over CANDIDATE pairs, never
    * all pairs.
    *
    * Output: (a, b, est_jaccard, exact_jaccard, abs_err).
    */
  def minhashAccuracy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 4,
      minJaccardPct: Int = 50, maxBucket: Int = 200): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, k, bands, minJaccardPct,
      maxBucket).select(col("a"), col("b"), col("n_eq"))
    val sh = df.select(col(idCol), shingles(col(textCol)).as("sh"))
    val pa = sh.select(col(idCol).as("a"), col("sh").as("sha"))
    val pb = sh.select(col(idCol).as("b"), col("sh").as("shb"))
    val inter = size(array_intersect(col("sha"), col("shb")))
    val est = round(col("n_eq").cast("double") / k, 6)
    val exact = round(inter.cast("double") /
      (size(col("sha")) + size(col("shb")) - inter), 6)
    pairs.join(pa, "a").join(pb, "b")
      .select(col("a"), col("b"), est.as("est_jaccard"),
        exact.as("exact_jaccard"),
        round(abs(est - exact), 6).as("abs_err"))
  }

  /** Cross-corpus priority dedup: when the same (normalized) text appears
    * in several sources, keep exactly ONE copy — the one from the
    * highest-priority source (lowest `priority` value; id-tiebroken) —
    * and report how contended the text was. This is the standard
    * pretraining-mix rule ("prefer curated over crawled"): plain exact
    * dedup keeps an arbitrary min-id copy, which silently biases the
    * surviving mix toward whichever source enumerates first.
    *
    * One shuffle on the normalized-text hash; the keep decision is a
    * per-group row_number (bounded by copies-per-text, the exact-dedup
    * group-size envelope), and the contention stats ride the same
    * aggregation — no second pass, no join back to the corpus.
    *
    * Output: one row per distinct normalized text —
    * (idCol, srcCol, norm_md5, n_copies, n_sources, best_priority).
    */
  def crossSourcePriorityDedup(docs: DataFrame, priority: Column,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__nm")).orderBy(col("__pr"), col(idCol))
    val agg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__nm"))
    docs
      .withColumn("__nm",
        md5(graft.operators.TextAnalysis.normalizeForDedup(col(textCol))))
      .withColumn("__pr", priority)
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(agg).cast("long"))
      .withColumn("n_sources",
        size(collect_set(col(srcCol)).over(agg)).cast("long"))
      .withColumn("best_priority", min(col("__pr")).over(agg))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(srcCol), col("__nm").as("norm_md5"),
        col("n_copies"), col("n_sources"), col("best_priority"))
  }
}
