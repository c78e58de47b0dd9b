package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._

/** Text-analysis operators for LLM training-data pipelines (north-star layer,
  * SURVEY.md §2.2): tokenization, language-ID heuristic, quality scoring,
  * document fingerprinting.
  *
  * Everything here is built from codegen'd builtins and higher-order array
  * functions — no UDFs, no shuffles: each operator is a narrow per-row
  * projection, so it scales embarrassingly (100 TB = map-only) and stays
  * inside WholeStageCodegen. All arithmetic is integer or single-division
  * double so the DuckDB oracle reproduces results bit-for-bit.
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword lang-ID heuristic.
    * Deterministic tie-break: languages compared in lexicographic order.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "los", "las", "y", "es", "no"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** Whitespace tokenization (duplicates kept). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Count of tokens contained in `markers` (duplicates counted). */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  /** BPE-ish subword count: letter runs, digit runs, and single other
    * non-space chars each count as one token.
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** token/char statistics: n_tokens, n_chars, avg_token_len. */
  def withTokenStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    df.withColumn("n_tokens", size(tk))
      .withColumn("n_chars_obs", length(col(textCol)))
      .withColumn("n_bpeish", bpeishCount(col(textCol)))
      .withColumn("avg_token_len",
        aggregate(tk, lit(0), (acc, t) => acc + length(t)).cast("double") /
          size(tk))
  }

  /** Stopword-marker language ID. Adds per-language scores and `lang_pred`
    * (the argmax, ties to the lexicographically first language, `und` when
    * no marker matches).
    */
  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    val scored = Markers.foldLeft(df) { case (d, (lang, ms)) =>
      d.withColumn(s"score_$lang", markerCount(tk, ms))
    }
    val best = greatest(Markers.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = Markers.foldLeft(when(best === 0, "und")) {
      case (w, (lang, _)) => w.when(col(s"score_$lang") === best, lang)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Heuristic quality signals + a composite score. The score formula is
    * fixed-order double arithmetic (see oracle SQL) — identical left-to-right
    * evaluation in both engines.
    */
  def withQuality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val tk = tokens(text)
    val nTok = size(tk)
    val stopCnt = markerCount(tk, Markers.toMap.apply("en"))
    val nonAlpha = length(text) -
      length(regexp_replace(text, "[^a-z\\s]", ""))
    val sumLen = aggregate(tk, lit(0), (acc, t) => acc + length(t))
    val avgLen = sumLen.cast("double") / nTok
    val stopRatio = stopCnt.cast("double") / nTok
    df.withColumn("n_tokens", nTok)
      .withColumn("stop_ratio", stopRatio)
      .withColumn("nonalpha_ratio",
        nonAlpha.cast("double") / length(text))
      .withColumn("avg_token_len", avgLen)
      .withColumn("quality_score",
        lit(0.5) * (least(nTok, lit(200)).cast("double") / 200.0) +
          lit(0.3) * (lit(1.0) - stopRatio) +
          lit(0.2) * least(avgLen / 10.0, lit(1.0)))
  }

  /** Canonical-form fingerprint: md5 hex + 60-bit integer of the
    * whitespace-normalized lowercase text. Exact-dup detection key.
    */
  def withFingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.withColumn("fp_md5", md5(norm))
      .withColumn("fp60", md5Long(norm))
  }

  /** Benchmark decontamination: flag training documents that share any
    * w-word shingle with the evaluation corpus — the standard n-gram
    * overlap check run before pretraining so eval answers don't leak into
    * the training set. The eval gram set is packed into ONE broadcast row
    * (exact set — requires it to fit executor memory; past that, use
    * [[decontaminateBloom]]) and each training row intersects against it —
    * map-only over the training side, zero shuffle of the corpus.
    * The packed set is coalesced to an empty array so a zero-row eval
    * corpus yields n_hits=0 (not NULL) identically in both engines.
    * Output: (idCol, n_hits, contaminated).
    */
  def decontaminate(train: DataFrame, evalCorpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      w: Int = 5): DataFrame = {
    val evGrams = evalCorpus
      .select(explode(Dedup.shingles(col(textCol), w)).as("g"))
      .agg(coalesce(collect_set(col("g")),
        array().cast("array<string>")).as("__ev"))
    train.select(col(idCol), Dedup.shingles(col(textCol), w).as("__sh"))
      .crossJoin(broadcast(evGrams))
      .select(col(idCol),
        size(array_intersect(col("__sh"), col("__ev"))).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Fuzzy (near-duplicate) benchmark decontamination: mark training docs
    * that share a MinHash LSH band with ANY eval document — catching
    * paraphrased/lightly-edited benchmark leakage that [[decontaminate]]'s
    * exact n-gram overlap misses. Same signature machinery as
    * [[Dedup.minhashPairs]], but no candidate PAIRS ever materialize:
    * the eval side reduces to a distinct (band_idx, band_val) key set
    * (eval suites are dimension-sized — broadcast), and the training side
    * is marked by a broadcast join + per-doc count. A hot band therefore
    * costs one semi-match per training doc, never a quadratic bucket.
    * Output: (idCol, n_bands_hit, contaminated).
    */
  def decontaminateFuzzy(train: DataFrame, evalCorpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, bands: Int = 4): DataFrame = {
    val evKeys = Dedup.minhashBands(
        Dedup.minhashSignatures(evalCorpus, idCol, textCol, k), k, bands)
      .select(col("band_idx"), col("band_val")).distinct()
    val trBands = Dedup.minhashBands(
        Dedup.minhashSignatures(train.repartition(col(idCol)),
          idCol, textCol, k), k, bands)
      .select(col(idCol), col("band_idx"), col("band_val"))
    val hits = trBands.join(broadcast(evKeys), Seq("band_idx", "band_val"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_bands_hit"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bands_hit"))
      .withColumn("contaminated", col("n_bands_hit") > 0)
  }

  /** The eval-set-outgrows-executor-memory path of [[decontaminate]]:
    * a Bloom filter (built once over the distinct eval grams via Spark's
    * native BloomFilterAggregate, shipped as one foldable binary — it fits
    * long after the exact set doesn't) gates the training side map-only;
    * only grams that hit the bloom are exploded and shuffle-joined against
    * the distributed eval-gram table for exact confirmation. False
    * positives cost only confirm-join traffic, never wrong answers, and
    * false negatives are impossible — so the output is IDENTICAL to the
    * exact path (d14 certifies it against d13's exact oracle).
    *
    * Plan shape (each branch consumed once — no double-computed gate):
    * one full map pass shingles + probes and keeps only suspicious rows;
    * those explode into the exact confirm join; the clean majority is
    * restored by joining the (AQE-broadcastable, suspicious-docs-sized)
    * per-doc counts against a column-pruned id-only scan of the corpus.
    * Output: (idCol, n_hits, contaminated, n_bloom_candidates) —
    * n_bloom_candidates - n_hits per doc counts the bloom's false
    * positives, the recall-free knob a production run monitors. The
    * counts ride the confirm join itself (LEFT join + hit marker, one
    * aggregation) rather than observe() metrics — not because observe()
    * is unreliable here (DedupSpec verifies CollectMetricsExec below a
    * shuffle DOES surface through observedMetrics under AQE on this
    * Spark), but because these are PER-DOC values a downstream consumer
    * filters and joins on: row-level data belongs in the plan's output,
    * run-level telemetry in observed metrics (capBucket's channel).
    */
  def decontaminateBloom(train: DataFrame, evalCorpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      w: Int = 5, expectedGrams: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(expectedGrams > 0)
    val evGrams = evalCorpus
      .select(explode(Dedup.shingles(col(textCol), w)).as("g")).distinct()
    // Index-build action (like the centroid/direction guards): ONE small
    // binary to the driver — ~1.2 bytes/gram at fpp 0.03, never the grams.
    val bloomAgg = Bridge.toColumn(new BloomFilterAggregate(
        new XxHash64(Seq(Bridge.toExpression(col("g")))),
        Literal(expectedGrams), Literal(8L * expectedGrams))
      .toAggregateExpression())
    val bloomBytes = evGrams.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (bloomBytes == null) // empty eval corpus → nothing can be contaminated
      return train.select(col(idCol), lit(0).as("n_hits"),
        lit(false).as("contaminated"), lit(0).as("n_bloom_candidates"))
    val mightContain = (g: Column) => Bridge.toColumn(BloomFilterMightContain(
      Literal.create(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(Bridge.toExpression(g)))))
    // ONE full map pass: shingle + probe; the clean majority exits here.
    val cand = train
      .select(col(idCol), Dedup.shingles(col(textCol), w).as("__sh"))
      .select(col(idCol),
        filter(col("__sh"), g => mightContain(g)).as("__cand"))
      .filter(size(col("__cand")) > 0)
    val exploded = cand.select(col(idCol), explode(col("__cand")).as("g"))
    // Exact confirm: only bloom survivors shuffle. A LEFT join against the
    // marked eval grams lets ONE aggregation produce both counts — grams
    // are distinct per doc (shingles are), so count(*) = candidate grams
    // probed and sum(__hit) = true hits. SHUFFLE_HASH because that's the
    // only join shape that still works when the eval gram table is too
    // big to broadcast, i.e. exactly when this path is chosen.
    val confirmed = exploded
      .join(evGrams.withColumn("__hit", lit(1)).hint("SHUFFLE_HASH"),
        Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(coalesce(sum(col("__hit")), lit(0L)).cast("int").as("__n"),
        count(lit(1)).cast("int").as("__ncand"))
    // id-only (column-pruned) corpus scan restores the clean rows;
    // `confirmed` is suspicious-docs-sized, so AQE broadcasts the join.
    train.select(col(idCol)).join(confirmed, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__n"), lit(0)).as("n_hits"),
        (coalesce(col("__n"), lit(0)) > 0).as("contaminated"),
        coalesce(col("__ncand"), lit(0)).as("n_bloom_candidates"))
  }

  /** Semantic benchmark decontamination — the fourth member of the
    * decontamination family (exact n-gram d13, bloom-gated d14, fuzzy
    * MinHash-band d23): flag training docs whose EMBEDDING sits within
    * `minCosine` of any eval doc, catching paraphrased leakage that
    * shares no n-grams at all. Both sides are (id, vector) frames — pair
    * with [[graft.operators.Similarity.sifVectors]] for model-free
    * vectors from raw text.
    *
    * Scale design: eval benchmarks are tiny next to a training corpus,
    * so the eval side broadcasts whole and the scoring is map-only over
    * the training side (the d13 broadcast-gram-set argument, in vector
    * space) — no corpus shuffle before the per-doc max aggregation.
    * Cosines are rounded to 6 places before the max (rounding is
    * monotone, so max-of-rounded == rounded-max) for cross-engine
    * bit-equality.
    */
  def decontaminateSemantic(train: DataFrame, evalVecs: DataFrame,
      idCol: String = "doc_id", vecCol: String = "vec",
      minCosine: Double = 0.9): DataFrame = {
    def withNorm(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
        .withColumn(s"__n$id", sqrt(Similarity.dot(col(v), col(v))))
    val tr = withNorm(train, "__t", "__tv")
    val ev = withNorm(evalVecs, "__e", "__ev")
    val scored = tr.crossJoin(broadcast(ev))
      .withColumn("__cos", round(Similarity.dot(col("__tv"), col("__ev")) /
        (col("__n__t") * col("__n__e")), 6))
      .groupBy(col("__t").as(idCol))
      .agg(max(col("__cos")).as("max_cosine"))
    scored.select(col(idCol), col("max_cosine"),
      (col("max_cosine") >= minCosine).as("contaminated"))
  }

  /** MOSS-style winnowing fingerprints: hash every k-char gram, then keep
    * the minimum hash of each sliding window of w grams (distinct). The
    * standard local-fingerprint selection for overlap detection — robust
    * to insertions/reorderings that break whole-document hashes, with
    * density ~2/(w+1) of the gram count. Map-only per row (O(n·w) hash
    * comparisons); short texts (< k chars) contribute one whole-text
    * fingerprint. Char-gram semantics (not bytes) so both engines slice
    * identically on any text.
    */
  def withWinnowing(df: DataFrame, textCol: String = "text", k: Int = 8,
      w: Int = 4): DataFrame = {
    require(k > 0 && w > 0)
    val text = col(textCol)
    val grams = when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => md5Long(text.substr(i, lit(k)))))
      .otherwise(array(md5Long(text)))
    df.withColumn("__grams", grams)
      .withColumn("fps",
        array_distinct(
          when(size(col("__grams")) <= w,
            array(array_min(col("__grams"))))
            .otherwise(transform(sequence(lit(0), size(col("__grams")) - w),
              j => array_min(slice(col("__grams"), j + 1, lit(w)))))))
      .drop("__grams")
  }

  /** Repetition / composition filters in the C4-Gopher style: the signals a
    * pretraining pipeline uses to drop boilerplate and degenerate documents.
    * Per-row higher-order array work only (map-only at 100 TB — the
    * most-frequent-word scan is O(distinct·n) per row but touches no other
    * row). Emits:
    *  - n_words, frac_dup_words (1 - distinct/total)
    *  - dup_bigram_frac (repeated word-bigrams / bigrams)
    *  - top_word_frac (occurrences of the most frequent word / words)
    *  - frac_words_alpha (words containing a letter / words)
    *  - keep: the composite gate (length bounds + repetition + alpha ratio)
    */
  def withRepetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val w = split(lower(col(textCol)), "\\s+")
    val n = size(w)
    val nDup = (n - size(array_distinct(w))).cast("double") / n
    val bg = when(n >= 2,
      transform(sequence(lit(0), n - 2),
        i => concat_ws(" ", slice(w, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val fracAlpha = size(filter(w, t => t.rlike("[a-z]")))
      .cast("double") / n
    df.withColumn("n_words", n)
      .withColumn("frac_dup_words", nDup)
      .withColumn("__bg", bg)
      .withColumn("dup_bigram_frac",
        when(size(col("__bg")) > 0,
          (size(col("__bg")) - size(array_distinct(col("__bg"))))
            .cast("double") / size(col("__bg")))
          .otherwise(lit(0.0)))
      .drop("__bg")
      .withColumn("top_word_frac",
        array_max(transform(array_distinct(w),
          d => size(filter(w, x => x === d)))).cast("double") / n)
      .withColumn("frac_words_alpha", fracAlpha)
      .withColumn("keep",
        n.between(5, 10000) && nDup <= 0.3 && fracAlpha >= 0.8)
  }

  /** PII-style redaction: emails and URLs replaced by typed placeholders,
    * with per-row match counts. Patterns are restricted to the regex subset
    * Java and RE2 interpret identically (character classes, +, no
    * backtracking constructs) so the DuckDB oracle reproduces the exact
    * output. URLs are redacted first — an email-looking substring inside a
    * URL counts as URL, not email. Map-only.
    */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  def withRedaction(df: DataFrame, textCol: String = "text"): DataFrame = {
    val urls = regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))
    val noUrl = regexp_replace(col(textCol), UrlPattern, "<URL>")
    val emails = regexp_extract_all(noUrl, lit(EmailPattern), lit(0))
    df.withColumn("n_urls", size(urls))
      .withColumn("n_emails", size(emails))
      .withColumn("clean_text",
        regexp_replace(noUrl, EmailPattern, "<EMAIL>"))
  }

  /** CCNet-style normalization for fuzzy exact-dedup: lowercase, strip
    * everything but letters/digits/whitespace (any script — \p{L}/\p{N}
    * are Unicode categories in both engines' regex dialects), collapse
    * every digit run to a single `0` (so "page 17" and "page 42"
    * normalize together), collapse whitespace, trim. Map-only; feeding
    * the result into an md5 groupBy catches near-identical boilerplate
    * that raw exact dedup misses (casing, punctuation, counters).
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      "[^\\p{L}\\p{N}\\s]", " "), "\\p{N}+", "0"), "\\s+", " "))

  /** fastText-style linear quality classifier scoring: hash every unigram
    * and bigram (occurrences, not distinct — term frequency is the
    * feature) into `dim` buckets, look the buckets up in a trained weight
    * table `(bucket INT, weight DECIMAL(9,3))`, and score each doc by the
    * weight sum. Output: (idCol, logit, mean_logit, keep) with
    * keep = mean_logit > threshold — mean, not sum, so long documents
    * aren't auto-favored, and thresholding the logit directly is
    * sigmoid-equivalent (sigmoid is monotone; computing it would only add
    * a cross-engine exp() to diverge on).
    *
    * Scale: the weight table IS a linear model — it fits executor memory
    * by definition, so the lookup is an explicit broadcast join (map-side)
    * and the per-doc sum partial-aggregates before its one shuffle.
    * Weights sum as DECIMAL(18,3) (exact, order-free) and the single
    * double division is last, so scores are bit-reproducible on any
    * engine and any partitioning.
    */
  def qualityScore(docs: DataFrame, weights: DataFrame, dim: Int,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.0): DataFrame = {
    require(dim > 0)
    val dec = org.apache.spark.sql.types.DecimalType(18, 3)
    val fx = docs.select(col(idCol), explode(
        graft.functions.TextFunctions.feature_buckets(col(textCol), dim))
      .as("bucket"))
    val mean = col("__s").cast("double") / col("__n")
    // LEFT join + coalesce(weight, 0): a sparse trained table (zero
    // weights pruned — the standard fastText export) must neither drop
    // a doc whose buckets all miss, nor shrink the mean's denominator —
    // n counts FEATURES, matched or not.
    fx.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("weight"), lit(0)).cast(dec)).cast(dec)
          .as("__s"),
        count(lit(1)).as("__n"))
      .select(col(idCol), col("__s").cast("double").as("logit"),
        mean.as("mean_logit"), (mean > threshold).as("keep"))
  }

  /** BPE tokenizer training (Sennrich-style, word-frequency table): start
    * from character symbols, repeatedly merge the corpus-wide most
    * frequent adjacent symbol pair (ties broken lexicographically).
    * Output: one row per merge — (merge_rank, lft, rgt, pair_count).
    *
    * Scale: the corpus is touched ONCE (word-count shuffle with map-side
    * combine); every Lloyd-like merge iteration then runs over the
    * VOCABULARY (distinct words — orders of magnitude smaller), with the
    * argmax pair a 1-row driver action per merge (an index-build action,
    * like the k-means centroid collect) and the merged symbol strings
    * localCheckpoint'ed so plans don't nest across iterations.
    *
    * Symbol strings are BOUNDARY-MARKED: one U+0001 at each end, TWO
    * between symbols, and the merge pattern is \1a\1\1b\1 → \1ab\1. A
    * bare a\1b pattern would also match where one symbol merely ENDS
    * with `a` and the next STARTS with `b` (merging (b,c) on symbols
    * [ab, c] would falsely yield [abc]); the boundary marks pin the
    * pattern to whole symbols, and because each replacement restores
    * the separators it consumed, leftmost non-overlapping replace is
    * exactly the greedy-left BPE merge order — including runs
    * ([b,b,b,b] + (b,b) → [bb,bb]). Identical in the oracle's
    * replace(). Words containing U+0001 are excluded on both engines
    * (they would corrupt the encoding).
    *
    * BATCHED MERGE SELECTION (VERDICT r8 item 4): each pass runs ONE
    * vocabulary-sized count job, collects the top-`topK` pairs, and the
    * driver accepts as many merges from that single table as are
    * PROVABLY identical to running greedy selection one merge at a time
    * (see [[selectSafeBatch]] for the argument). Cost drops from
    * O(nMerges) sequential jobs to O(nMerges / acceptedPerPass) — on
    * corpora whose top pairs are symbol-disjoint a ~30k-merge production
    * tokenizer runs orders of magnitude fewer scheduler round-trips,
    * with BIT-IDENTICAL output to the sequential path (TextAnalysisSpec
    * gates bpeTrain(topK=64) == bpeTrain(topK=1), the sequential
    * semantics, plus unit cases on the acceptance rule). Train ONCE per
    * corpus and ship the merge table as a model artifact — the query
    * layer shares one table via Shared.bpeMerges.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 3,
      textCol: String = "text", topK: Int = 64): DataFrame = {
    require(nMerges > 0 && topK > 0)
    val sep = "\u0001"
    val sp = docs.sparkSession
    // sequence(1, n) is DESCENDING when n < 1 (Spark infers step -1), so
    // both char-split and pair extraction guard their short cases.
    val chars = when(length(col("word")) === 0, lit(sep + sep))
      .otherwise(concat(lit(sep), array_join(transform(
        sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))), sep + sep), lit(sep)))
    var words = docs
      .select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(!col("word").contains(sep))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("sym", chars)
      .localCheckpoint()
    // A pass whose count table comes back empty means the vocabulary ran
    // out of adjacent symbol pairs (all words <= 1 char, empty corpus, or
    // nMerges larger than the number of learnable merges): return the
    // merges found so far instead of crashing on an empty aggregation.
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      // strip the outer marks, split on the double-separator boundary
      val inner = col("sym").substr(lit(2), length(col("sym")) - 2)
      val top = words
        .select(col("n"), split(inner, sep + sep).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("a"),
            element_at(col("sy"), i + 1).as("b")))).as("p"))
        .groupBy(col("p")("a").as("a"), col("p")("b").as("b"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(topK).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      if (top.isEmpty) exhausted = true
      else {
        val batch = selectSafeBatch(top, topK, nMerges - merges.size)
        // Apply the accepted merges IN ACCEPTANCE ORDER in one projection
        // — they share no symbols, so each replace is exactly what the
        // sequential pass would do — then checkpoint ONCE per pass.
        val newSym = batch.foldLeft(col("sym")) { case (s0, (a, b, _)) =>
          call_function("replace", s0,
            lit(sep + a + sep + sep + b + sep), lit(sep + a + b + sep))
        }
        words = words.withColumn("sym", newSym).localCheckpoint()
        batch.foreach { case (a, b, c) =>
          merges += ((merges.size + 1, a, b, c))
        }
      }
    }
    import sp.implicits._
    merges.toSeq.toDF("merge_rank", "lft", "rgt", "pair_count")
  }

  /** Greedy-safe batch selection from ONE pair-count table sorted by
    * (count desc, a, b) — the rows bpeTrain's pass collected. Accepts a
    * prefix-maximal set of merges PROVABLY identical to selecting one
    * merge per recount:
    *
    *  - The first candidate is the global argmax — greedy by definition.
    *  - A later candidate is accepted only if (1) neither of its symbols
    *    appears in an already-accepted merge, so its own count is exactly
    *    what a recount would report (merging (a,b) only changes counts of
    *    pairs adjacent to an a/b occurrence), and (2) its count STRICTLY
    *    exceeds every count a recount could place above it: `affectedMax`,
    *    the best count among ALL table pairs — before or after the
    *    candidate in table order — sharing a symbol with an accepted merge
    *    (modified pairs only lose count; every NEW pair (x,ab) / (ab,y) /
    *    (ab,ab) occurrence implies a pre-merge (x,a) / (b,y) / (b,a)
    *    occurrence, so new-pair counts are bounded by some overlapping
    *    pre-merge count), and `unseenBound`, the k-th count when the table
    *    was truncated at `kLimit` (any pair outside the table counts <=
    *    it). Strict > also settles ties the way a recount might not (an
    *    affected pair tying the candidate could still win
    *    lexicographically after the recount — e.g. table
    *    [(a,z,12),(c,d,10),(z,y,10)]: merging (a,z) can spawn ((az,y),10),
    *    and "az" < "c"), so acceptance stops there. Accepted merges with
    *    DISTINCT symbols are EXCLUDED from the affected scan: leftmost
    *    non-overlapping replacement consumes every occurrence of the
    *    merged pair, so their recount count is exactly 0 — including them
    *    would cap every later candidate at size-1 batches for no semantic
    *    reason. Accepted SELF-pairs (a,a) stay IN the scan (ADVICE r10):
    *    merging (a,a) on a symbol run of 3+ spawns (aa,a)/(aa,aa) pairs
    *    whose only pre-merge witness is (a,a) itself — e.g. table
    *    [(a,a,15),(c,d,3)] from words {aaaa ×5, cd ×3}: sequential
    *    greedy's second merge is ((aa,aa),5), not (c,d), so the self-pair
    *    count must keep bounding later candidates.
    *
    * Scanning in table order among UNAFFECTED pairs is the greedy
    * (count desc, lex) tie-break order itself, so the accepted sequence
    * equals the sequential merge sequence element-for-element.
    * (ADVICE r9: the previous formulation accumulated affected counts only
    * BEFORE the candidate, leaving the post-candidate tie hole above.)
    */
  private[graft] def selectSafeBatch(
      top: Seq[(String, String, Long)], kLimit: Int,
      maxAccept: Int): Seq[(String, String, Long)] = {
    val unseenBound = if (top.length >= kLimit) top.last._3 else Long.MinValue
    val acceptedSyms = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.Set.empty[(String, String)]
    val batch = scala.collection.mutable.ArrayBuffer.empty[
      (String, String, Long)]
    def accept(cand: (String, String, Long)): Unit = {
      batch += cand; acceptedSyms += cand._1 += cand._2
      accepted += ((cand._1, cand._2))
    }
    // Best count over every table pair sharing a symbol with an accepted
    // merge. Accepted DISTINCT-symbol merges are excluded (their recount
    // count is 0); accepted SELF-pairs stay in — they bound the pairs
    // their own merge spawns on 3+ runs (see scaladoc). O(k) per
    // acceptance attempt, k <= 64.
    def affectedMax: Long = top.iterator
      .filter { case (x, y, _) =>
        (x == y || !accepted((x, y))) && (acceptedSyms(x) || acceptedSyms(y)) }
      .foldLeft(Long.MinValue) { case (m, (_, _, c)) => math.max(m, c) }
    var stop = false
    val it = top.iterator
    while (!stop && it.hasNext && batch.size < maxAccept) {
      val cand @ (a, b, c) = it.next()
      if (batch.isEmpty) accept(cand)
      else if (acceptedSyms(a) || acceptedSyms(b)) ()
      else if (c > math.max(affectedMax, unseenBound)) accept(cand)
      else stop = true
    }
    batch.toSeq
  }

  /** Greedy-left BPE ENCODING with a trained merge list (the apply side
    * of [[bpeTrain]]): per word, split into code points, apply every merge
    * in rank order left to right without overlap (bpeTrain's whole-symbol
    * replace), and read off the tokens. Output per doc: (doc_id, n_words,
    * n_tokens, token_md5) where token_md5 digests the space-joined token
    * stream in document order.
    *
    * Scale: entirely MAP-ONLY — the merge list is model output (a few
    * hundred rows at most), handed to the native `BpeEncode` kernel, so
    * encoding 100 TB is one embarrassingly-parallel scan with zero
    * shuffles and zero joins. The alternative (encode the distinct
    * vocabulary once, join back) would shuffle the entire exploded
    * corpus by word to save re-running a few cheap merges per
    * occurrence — a bad trade at any scale.
    *
    * Empty words (leading/trailing whitespace splits) and words
    * containing U+0001 are excluded on both engines, mirroring
    * [[bpeTrain]]'s vocabulary filter.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        graft.functions.TextFunctions.bpe_encode(col(textCol), merges)
          .as("bpe"))
      .select(col(idCol), col("bpe.n_words"), col("bpe.n_tokens"),
        col("bpe.token_md5"))

  /** Bigram language-model scoring (the KenLM/CCNet quality signal): a
    * word-bigram LM with add-one smoothing is trained on `train` and every
    * document in `docs` is scored by its average per-bigram log-probability
    * — logp(w2|w1) = ln((c(w1,w2)+1) / (c(w1)+V)). Output per doc:
    * (idCol, n_bigrams, avg_logp); documents with fewer than two words get
    * (0, 0.0).
    *
    * Scale: the train side is touched once and collapses to VOCABULARY-
    * sized count tables (bigram + unigram) with map-side combine. The doc
    * side pre-aggregates its bigrams per (doc, w1, w2) BEFORE the lookup
    * join, so the join input is distinct-bigrams-per-doc, not every
    * occurrence. The unigram table and the V scalar are broadcast; the
    * bigram join is left unhinted — a web-scale bigram table outgrows a
    * broadcast, and AQE picks the broadcast automatically when it fits.
    * Per-bigram log-probs are rounded to 6 decimals and summed as
    * DECIMAL(18,6) (exact, order-free — the [[qualityScore]] discipline),
    * with the single double division last, so scores are bit-reproducible
    * on any partitioning and any engine.
    */
  def bigramLmScore(docs: DataFrame, train: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    def words(c: Column): Column =
      filter(split(c, "\\s+"), w => length(w) > lit(0))
    // sequence(1, n) is DESCENDING for n < 1 (step -1 inferred): guard the
    // under-two-words case to an empty pair array.
    def bigrams(ws: Column): Column =
      when(size(ws) < 2, array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(ws) - 1),
          i => struct(element_at(ws, i).as("w1"),
            element_at(ws, i + 1).as("w2"))))
    val trainWords = train.select(explode(words(col(textCol))).as("w1"))
    val c1 = trainWords.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = train.select(explode(bigrams(words(col(textCol)))).as("bg"))
      .groupBy(col("bg")("w1").as("w1"), col("bg")("w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    // V = |vocabulary| = row count of the unigram table.
    val vsz = c1.agg(count(lit(1)).as("vsz"))
    val db = docs
      .select(col(idCol), explode(bigrams(words(col(textCol)))).as("bg"))
      .groupBy(col(idCol), col("bg")("w1").as("w1"), col("bg")("w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val scored = db
      .join(c2, Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .crossJoin(broadcast(vsz))
      // floor(x·1e6 + 0.5)/1e6, not round(x, 6): rounds identically in
      // any engine (the SIF convention — Spark's HALF_UP on the exact
      // binary expansion and DuckDB's multiply-then-round disagree on
      // .5 ties at the 6th decimal; observed at sf1 in this chain).
      .withColumn("lp", (floor(log(
          (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
            (coalesce(col("c1"), lit(0L)) + col("vsz"))) * 1e6 + 0.5) / 1e6)
        .cast(dec))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("lp") * col("n")).as("slp"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (floor(coalesce(col("slp"), lit(0)).cast("double") /
          when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(1L))
            .otherwise(col("n_bigrams")) * 1e6 + 0.5) / 1e6
          + lit(0.0)).as("avg_logp"))
  }

  /** Exact corpus heavy hitters with bounded memory everywhere — the
    * two-pass sketch-then-confirm pattern: (1) one pass folds every token
    * into a Misra-Gries sketch ([[graft.functions.MisraGries]], ≤
    * `capacity` entries per buffer, partial-agg composable), whose key
    * set is a GUARANTEED superset of every term with frequency >
    * n/(capacity+1); (2) a second pass exact-counts only the broadcast
    * candidates and keeps those with count ≥ ceil(minFrac·n). Because the
    * candidate set provably contains every qualifying term, the output is
    * EXACT — identical to a full groupBy — while no buffer ever holds
    * more than `capacity` entries and the shuffle carries sketches, not
    * the term universe. The superset guarantee needs minFrac >
    * 1/(capacity+1); that precondition is enforced per row via
    * raise_error (a silent violation would silently drop heavy hitters).
    *
    * Output: (term, cnt) for every term with exact count ≥ the threshold.
    */
  def heavyHitters(df: DataFrame, textCol: String = "text",
      capacity: Int = 200, minFrac: Double = 0.01): DataFrame = {
    require(capacity > 0 && minFrac > 0 && minFrac < 1)
    val tok = df.select(explode(tokens(col(textCol))).as("term"))
    val sk = tok.agg(
      graft.functions.MisraGries.misra_gries(capacity)(col("term"))
        .as("__cand"),
      count(lit(1)).as("__n"))
    val minCount = ceil(lit(minFrac) * col("__n")).cast("long")
    // the guarantee gate rides the 1-row sketch: threshold must exceed
    // the sketch's worst-case undercount n/(capacity+1)
    val gated = when(minCount * (capacity + 1) > col("__n"), minCount)
      .otherwise(raise_error(concat(
        lit(s"heavyHitters: minFrac=$minFrac is below the sketch "),
        lit(s"guarantee 1/(capacity+1) for capacity=$capacity"))))
    val cand = sk.select(explode(map_keys(col("__cand"))).as("term"),
      gated.as("__min"))
    tok.join(broadcast(cand), "term")
      .groupBy(col("term"), col("__min"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= col("__min"))
      .select(col("term"), col("cnt"))
  }

  /** BM25 relevance scoring of the corpus against a fixed bag of query
    * terms (k1/b per Robertson-Spärck Jones; idf = ln(1 + (N−df+0.5)/
    * (df+0.5))). The corpus is touched by two narrow aggregations (per-doc
    * length, per-(doc, query-term) tf — the token stream is filtered to
    * query terms BEFORE the tf shuffle, so the shuffle is proportional to
    * matching tokens, not the corpus); df and the (N, avgdl) stats are
    * tiny broadcasts. Per-term scores round to 6 decimals and sum as
    * DECIMAL(18,6) — order-free, so bit-reproducible on any partitioning
    * and cross-engine. Top-k by (score desc, id) via sort+limit
    * (TakeOrderedAndProject — no global window over the corpus; rank is
    * assigned after the cut).
    *
    * Output: (idCol, n_terms, score, rank), top `topK` docs.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val tok = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("term"))
    val dl = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("dl"))
    // avgdl via exact long sum + one double division (NOT avg(): both
    // engines then agree bit-for-bit regardless of accumulation order)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("__sdl"))
      .select(col("n_docs"),
        (col("__sdl").cast("double") / col("n_docs")).as("avgdl"))
    val qt = tok.filter(col("term").isin(queryTerms: _*))
    val tf = qt.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dft = qt.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val scored = tf.join(broadcast(dft), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__ts",
        round(idf * (col("tf") * lit(k1 + 1.0)) / norm, 6).cast(dec6))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("__ts")).as("__s"))
      .select(col(idCol), col("n_terms"),
        col("__s").cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col(idCol))))
  }

  /** Overlapping token-window passage chunking — the standard RAG /
    * context-assembly preprocessing: each document becomes
    * 1 + ceil(max(0, n−window)/stride) passages of ≤ `window` tokens
    * starting every `stride` tokens (consecutive passages overlap by
    * window−stride tokens so no boundary context is lost). Map-only: a
    * per-row sequence posexplode, no shuffle, rows out ≈ rows in ×
    * n/stride. Integer arithmetic throughout (the ceil is the exact
    * (n−window+stride−1) div stride), so cross-engine exact.
    *
    * Output: (idCol, passage_idx, start_tok, n_ptokens, passage).
    */
  def passageChunks(docs: DataFrame, window: Int = 64, stride: Int = 48,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val tk = tokens(col(textCol))
    val n = size(tk)
    // exact integer ceil((n-window)/stride), clamped at 0; the double
    // division is exact for any int32 numerator
    val extra = greatest(lit(0),
      floor((n - lit(window) + lit(stride - 1)) / lit(stride)).cast("int"))
    docs.select(col(idCol), tk.as("__tk"), n.as("__n"), extra.as("__x"))
      .select(col(idCol), col("__tk"), col("__n"),
        posexplode(sequence(lit(0), col("__x"))).as(Seq("passage_idx", "__i")))
      .select(col(idCol), col("passage_idx"),
        (col("__i") * stride).as("start_tok"),
        least(lit(window), col("__n") - col("__i") * stride).as("n_ptokens"),
        concat_ws(" ", slice(col("__tk"), col("__i") * stride + lit(1),
          lit(window))).as("passage"))
  }

  /** Per-doc out-of-vocabulary rate against the corpus's own top-`vocabSize`
    * term vocabulary (ties broken by term asc, so the vocab is
    * deterministic): the tokenizer-coverage diagnostic a data mix runs
    * before committing to a vocab budget. Two shuffles — term counts, then
    * the per-doc aggregation; the vocabulary itself is top-k
    * (TakeOrderedAndProject, never a global sort) and broadcast back, so
    * the corpus-side pass is map + one agg at any scale.
    * Output: (idCol, n_tokens, n_oov, oov_rate).
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col(idCol),
      explode(split(col(textCol), "\\s+")).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_tokens").cast("double"), 6))
  }

  /** Cross-source n-gram overlap matrix: for each ordered source pair
    * (a < b), how many distinct l-gram hashes they share, and what share
    * of each side's distinct grams that is — the corpus-forensics view of
    * inter-source contamination/syndication (which feeds dedup and
    * decontamination decisions). One distinct pass to (source, gram),
    * one self-join on the gram hash (fan-out per gram bounded by the
    * SOURCE dimension, which is small by construction — never by corpus
    * size), one pair aggregation. Output:
    * (src_a, src_b, n_shared, frac_a, frac_b).
    */
  def sourceOverlap(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text", l: Int = 8): DataFrame = {
    val g = docs.select(col(srcCol).as("src"),
        explode(graft.functions.TextFunctions.gram_hashes(col(textCol), l))
          .as("gh"))
      .distinct()
    val tot = g.groupBy(col("src")).agg(count(lit(1)).as("__t"))
    val pairs = g.select(col("src").as("src_a"), col("gh"))
      .join(g.select(col("src").as("src_b"), col("gh")), "gh")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(tot.select(col("src").as("src_a"),
        col("__t").as("__ta"))), "src_a")
      .join(broadcast(tot.select(col("src").as("src_b"),
        col("__t").as("__tb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") / col("__ta").cast("double"), 6).as("frac_a"),
        round(col("n_shared") / col("__tb").cast("double"), 6).as("frac_b"))
  }

  /** Per-source domain drift: KL(source ‖ corpus) over the term
    * distribution restricted to the corpus's top-`vocabSize` vocabulary,
    * with add-one smoothing (a term a source never uses still
    * contributes, and no log blows up). The data-mix health metric that
    * flags a source whose language shifted away from the corpus.
    *
    * Shape: term counts (one shuffle), top-k vocab broadcast (the t26
    * discipline), sources × vocab is |sources|·V rows — both dimensions
    * small by construction. The KL sum folds per source in TERM order
    * over a ≤V-entry collected list, so the double addition tree is
    * fixed and cross-engine bit-exact (the chunkedOrderedSum discipline;
    * V bounds the buffer). Output: (source, n_vocab_tokens, kl).
    */
  def klDrift(docs: DataFrame, vocabSize: Int = 200,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col(srcCol).as("src"),
      explode(split(col(textCol), "\\s+")).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cq"))
      .orderBy(col("cq").desc, col("term")).limit(vocabSize)
    val nq = vocab.agg(sum(col("cq")).as("nq"))
    val srcCnt = tok.groupBy(col("src"), col("term"))
      .agg(count(lit(1)).as("cs"))
    val grid = docs.select(col(srcCol).as("src")).distinct()
      .crossJoin(broadcast(vocab))
      .join(srcCnt, Seq("src", "term"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
    val withN = grid.join(broadcast(
      grid.groupBy(col("src")).agg(sum(col("cs")).as("ns"))), "src")
      .crossJoin(broadcast(nq))
    val contrib = withN.withColumn("p",
        (col("cs") + 1).cast("double") / (col("ns") + vocabSize))
      .withColumn("q",
        (col("cq") + 1).cast("double") / (col("nq") + vocabSize))
      .withColumn("c", col("p") * log(col("p") / col("q")))
    contrib.groupBy(col("src").as("source"))
      .agg(max(col("ns")).as("n_vocab_tokens"),
        round(aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("c")))),
            e => e.getField("c")),
          lit(0.0), (a, x) => a + x), 6).as("kl"))
  }

  /** Length-bucketed batching report: documents banded by token count
    * (band width `band`), with the padding waste a bucket-local batcher
    * pays when every member pads to the bucket max — the planning twin
    * of sequence packing (`Packing`): packing eliminates padding by
    * splitting docs, bucketing keeps docs intact and this report prices
    * that choice. Map + one bucket aggregation; all-integer until the
    * single waste division.
    */
  def lengthBuckets(docs: DataFrame, band: Int = 32): DataFrame = {
    require(band >= 1, s"band must be >= 1, got $band")
    docs
      .select(size(split(col("text"), " ")).as("n"))
      .withColumn("bucket", ceil(col("n") / lit(band.toDouble)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n")).as("max_len"),
        sum(col("n")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("max_len"))
      .withColumn("waste_ratio",
        round(lit(1.0) - col("sum_tokens").cast("double")
          / col("padded_tokens"), 6))
  }

  /** CCNet-style perplexity bucketing: split a scored corpus into
    * head / middle / tail terciles by LM score (higher avg log-prob =
    * more fluent = head). Downstream mixes then sample head-heavy.
    * Pairs with [[bigramLmScore]] for the score.
    *
    * Scale design: the two cut points are ONE percentile aggregation
    * (constant-size result, broadcast back); bucketing is map-only. The
    * interpolated-percentile arithmetic is certified cross-engine by
    * t31/q23.
    */
  def perplexityBuckets(scored: DataFrame, scoreCol: String = "avg_logp",
      idCol: String = "doc_id"): DataFrame = {
    val cuts = scored.agg(
      expr(s"percentile($scoreCol, 0.33)").as("p33"),
      expr(s"percentile($scoreCol, 0.67)").as("p67"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("ppl_bucket",
        when(col(scoreCol) >= col("p67"), "head")
          .when(col(scoreCol) >= col("p33"), "middle")
          .otherwise("tail"))
      .select(col(idCol), col(scoreCol), col("ppl_bucket"))
  }

  /** Unicode text normalization battery — the cleanup pass that runs
    * before any hashing/dedup stage (two byte-different encodings of the
    * same visible text must never dodge an exact-dup check): NFC
    * composition (native [[graft.functions.UnicodeNfc]] — Spark has no
    * builtin), accent folding (NFD minus Mn, DuckDB `strip_accents`
    * parity), control-char removal, whitespace collapse, and lowercasing.
    *
    * Scale design: map-only per-row projection, every step a codegen'd
    * builtin or native expression — 100 TB = one pass, no shuffle.
    */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.{nfc_normalize, strip_accents}
    val t = col(textCol)
    docs
      .withColumn("nfc", nfc_normalize(t))
      .withColumn("stripped", strip_accents(col("nfc")))
      .withColumn("cleaned", lower(trim(
        regexp_replace(
          regexp_replace(col("stripped"), "[\\x00-\\x1F\\x7F]", " "),
          " +", " "))))
  }

  /** Robust outlier detection: flag rows whose value deviates from the
    * per-key median by more than `k` scaled MADs (median absolute
    * deviation, consistency constant 1.4826) — the heavy-tail-safe
    * data-quality gate (mean/stddev thresholds move with the outliers
    * they're hunting; the median/MAD pair doesn't).
    *
    * Scale design: two aggregations over the rows (median, then MAD of
    * the deviations) with the key-level stats broadcast back — the stats
    * table is key-cardinality-sized. The comparison stays a raw
    * inequality on doubles (no division), so mad = 0 degenerates to
    * "any nonzero deviation flags" instead of dividing by zero.
    */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
      idCol: String, k: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(keyCol))
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
    val mad = df.join(broadcast(med), keyCol)
      .groupBy(col(keyCol))
      .agg(expr(s"percentile(abs($valCol - med), 0.5)").as("mad"))
    df.join(broadcast(med), keyCol).join(broadcast(mad), keyCol)
      .filter(abs(col(valCol) - col("med")) >
        lit(k) * lit(1.4826) * col("mad"))
      .select(col(idCol), col(keyCol), col(valCol),
        round(abs(col(valCol) - col("med")), 6).as("abs_dev"),
        round(col("mad"), 6).as("mad"))
  }

  /** Vocabulary growth curve (Heaps' law): distinct-term and token counts
    * accumulated over doc-id buckets of `bucketDocs` documents — the
    * corpus-health diagnostic that shows whether new data still brings new
    * vocabulary or is saturating into repetition.
    *
    * Scale design: one shuffle on the term to find each term's FIRST
    * bucket (min over a monotone key — partial-agg composable), one on the
    * bucket for per-bucket token counts; the only unpartitioned window
    * runs over the BUCKET SUMMARY (corpus_docs / bucketDocs rows — size
    * `bucketDocs` to keep that in the thousands at production scale),
    * the same two-level-scan contract as sequence packing
    * (`Packing.scala`). No global sort, no per-doc rank: buckets come
    * straight off `floor(doc_id / bucketDocs)`.
    */
  def vocabGrowth(docs: DataFrame, bucketDocs: Int = 50): DataFrame = {
    require(bucketDocs >= 1, s"bucketDocs must be >= 1, got $bucketDocs")
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .withColumn("bucket",
        floor(col("doc_id") / bucketDocs).cast("long"))
    val newTerms = tok.groupBy(col("t"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
    val bucketTokens = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    bucketTokens.join(newTerms, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_terms"))
      .select(col("bucket"), col("n_tokens"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        col("new_terms"),
        sum(col("new_terms")).over(w).as("vocab_size"))
  }

  /** Declarative twin of the native feature hasher — the formulation the
    * DuckDB oracle mirrors; the spec proves the native expression
    * bit-identical (same order: unigrams then bigrams, occurrences kept).
    */
  def featureBucketsHof(text: Column, dim: Int): Column = {
    val w = split(text, "\\s+")
    val feats = when(size(w) >= 2,
      concat(w, transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", slice(w, i, lit(2)))))).otherwise(w)
    transform(feats, g => (md5Long(g) % dim).cast("int"))
  }

  /** Count-min sketch point estimates, certified against exact counts:
    * build the depth×width counter grid (each term increments one
    * bucket per hash row — the seeded CrossHash family, so the oracle
    * builds the IDENTICAL grid), then estimate the top-`topK` exact
    * terms as the MIN of their depth bucket counters. The one-sided
    * guarantee cms_n ≥ exact_n holds by construction; the gap is the
    * collision mass the width has to absorb.
    *
    * Scale: the sketch is depth·width counters REGARDLESS of corpus
    * size — the aggregation that replaces a full term groupBy when only
    * point lookups are needed; it is also mergeable across shards/
    * micro-batches by plain addition (the same partial-agg shape
    * Spark's 2-phase hash agg already gives the build). The probe side
    * joins the broadcast grid.
    * Output: (term, exact_n, cms_n), exact-count descending.
    */
  def cmsEstimates(docs: DataFrame, textCol: String = "text",
      depth: Int = 3, width: Int = 256, topK: Int = 10): DataFrame = {
    require(depth > 0 && width > 0 && topK > 0,
      "depth, width and topK must be positive")
    val terms = docs
      .select(explode(split(col(textCol), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    def buckets = explode(transform(sequence(lit(0), lit(depth - 1)),
      i => struct(i.as("row"),
        (md5Long(concat(i.cast("string"), lit(":"), col("term")))
          % width).as("bucket"))))
    val sketch = terms.select(col("term"), buckets.as("p"))
      .groupBy(col("p")("row").as("row"), col("p")("bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val exact = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term")).limit(topK)
    // every probed (row, bucket) exists in the grid (the term itself
    // contributed), so the inner join loses nothing
    exact.select(col("term"), col("exact_n"), buckets.as("p"))
      .select(col("term"), col("exact_n"),
        col("p")("row").as("row"), col("p")("bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("term"), col("exact_n"))
      .agg(min(col("cnt")).as("cms_n"))
  }

  /** Lexical-diversity profile per document — type-token ratio, hapax
    * rate, character-level Shannon entropy — the vocabulary-richness
    * signals (next to [[qualitySignals]]'s surface ratios) that separate
    * template/boilerplate text (low TTR, low entropy) from natural prose.
    *
    * MAP-ONLY: no explode, no (doc, term) shuffle. Each row sorts its own
    * token/char arrays and reads type counts and run lengths off the
    * sorted arrays with index HOFs (a run starts where sorted[i] ≠
    * sorted[i−1]); entropy is a left fold over run lengths in sorted-char
    * order, so the double sum is order-pinned and cross-engine exact
    * under round(·, 6). Per-row cost is O(len·log len); per-row state is
    * the row itself — the operator scales like any narrow projection.
    *
    * Output: (idCol, n_words, n_types, ttr, hapax_rate, char_entropy).
    * Rows with no word tokens are dropped (every ratio is undefined).
    */
  def lexicalDiversity(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // run starts: 1-based positions where the sorted array changes value;
    // greatest(i-1, 1) keeps element_at in-range — at i=1 the comparison
    // is self≠self = false and the `i = 1` arm decides.
    def starts(arr: Column, n: Column): Column =
      filter(sequence(lit(1), n), i =>
        (i === 1) || element_at(arr, i) =!=
          element_at(arr, greatest(i - 1, lit(1))))
    // run lengths, in sorted order: next start (sentinel n+1) minus start
    def runLens(st: Column, n: Column): Column =
      transform(sequence(lit(1), size(st)), j =>
        when(j === size(st), n + 1)
          .otherwise(element_at(st, j + 1)) - element_at(st, j))
    docs
      .select(col(idCol),
        array_sort(filter(split(lower(col(textCol)), "\\s+"),
          x => x =!= lit(""))).as("ws"),
        array_sort(split(col(textCol), "")).as("cs"))
      .filter(size(col("ws")) > 0)
      .withColumn("nw", size(col("ws")))
      .withColumn("nc", size(col("cs")))
      .withColumn("wst", starts(col("ws"), col("nw")))
      .withColumn("cst", starts(col("cs"), col("nc")))
      .withColumn("wrl", runLens(col("wst"), col("nw")))
      .withColumn("crl", runLens(col("cst"), col("nc")))
      .select(col(idCol),
        col("nw").cast("long").as("n_words"),
        size(col("wst")).cast("long").as("n_types"),
        round(size(col("wst")).cast("double") / col("nw"), 6).as("ttr"),
        round(size(filter(col("wrl"), l => l === 1)).cast("double") /
          size(col("wst")), 6).as("hapax_rate"),
        round(-aggregate(
          transform(col("crl"), l =>
            (l.cast("double") / col("nc")) *
              log(l.cast("double") / col("nc"))),
          lit(0.0), (a, x) => a + x), 6).as("char_entropy"))
  }

  /** CCNet-style cross-document line deduplication: a (trimmed, non-blank)
    * line that appears in at least `minDocs` distinct documents of the SAME
    * source is boilerplate (nav bars, footers, license headers) and is
    * dropped from every document carrying it; blank lines and unique lines
    * survive. Output per doc: line counts, surviving char mass, and the md5
    * of the rebuilt text (kept lines re-joined in original order) so the
    * rewrite itself is oracle-certified, not just the counts.
    *
    * Scale shape: one posexplode (map-only), one (source, line) aggregation
    * for the duplicate directory — only lines seen in >= minDocs docs
    * survive the HAVING, so the directory is boilerplate-sized, not
    * corpus-sized — and one hash join back. Per-doc regrouping is bounded
    * by document size (same envelope as every per-doc text operator).
    */
  def lineDedup(docs: DataFrame, minDocs: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would drop every non-blank line")
    val lines = docs
      .select(col(idCol), col(srcCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__t", trim(col("line")))
    // Duplicate directory: distinct-doc counts per (source, trimmed line).
    // SHUFFLE_HASH on the join back: at 100 TB the directory can outgrow
    // a broadcast (it is still tiny next to the line stream).
    val dups = lines.filter(col("__t") =!= "")
      .groupBy(col(srcCol), col("__t"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .withColumn("__dup", lit(1))
      .drop("__nd")
    val marked = lines
      .join(dups.hint("SHUFFLE_HASH"), Seq(srcCol, "__t"), "left")
      .withColumn("__keep", col("__dup").isNull)
    marked.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__keep"), 1)).as("n_kept"),
        sum(length(col("line"))).as("total_chars"),
        coalesce(sum(when(col("__keep"), length(col("line")))), lit(0L))
          .as("kept_chars"),
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("pos"), col("line"))))),
            s => s.getField("line")))).as("new_text_md5"))
      .withColumn("retained_ratio",
        when(col("total_chars") > 0,
          round(col("kept_chars").cast("double") / col("total_chars"), 6)))
  }

  /** Heuristic code-vs-prose detection — the routing signal a pretraining
    * mixture needs before weighting code and natural language differently.
    * Pure per-row projection (map-only, codegen'd): line-shape fractions
    * (indentation, brace/semicolon terminators), code-symbol density, and
    * keyword hits, combined into a flag via exact integer cross-products
    * (no double thresholds, so the oracle can never drift).
    */
  def codeSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val kw = "\\b(def|class|import|return|function|var|const|public|void)\\b"
    docs
      .select(col(idCol), col(textCol).as("__x"),
        split(col(textCol), "\n").as("__ln"))
      .select(col(idCol),
        size(col("__ln")).cast("long").as("n_lines"),
        length(col("__x")).cast("long").as("n_chars"),
        size(filter(col("__ln"),
          l => l.rlike("^(\t|  )") && trim(l) =!= lit("")))
          .cast("long").as("indent_lines"),
        size(filter(col("__ln"), l => trim(l).rlike("[{};]$")))
          .cast("long").as("brace_lines"),
        (length(col("__x")) -
          length(regexp_replace(col("__x"), "[\\[\\](){};=<>]", "")))
          .cast("long").as("n_symbols"),
        size(regexp_extract_all(col("__x"), lit(kw), lit(1)))
          .cast("long").as("kw_hits"))
      .withColumn("is_code",
        (col("indent_lines") * 5 >= col("n_lines")) ||
        (col("brace_lines") * 5 >= col("n_lines")) ||
        (col("n_symbols") * 50 >= col("n_chars") && col("kw_hits") >= 1))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022): the token
    * stream splits at two hash-deterministic cut points into
    * prefix/middle/suffix, re-emitted in PSM order
    * (`<PRE> p <SUF> s <MID> m`) — the code-model objective's data prep.
    * Cuts derive from md5("doc_id"/"2:doc_id") so reruns and the oracle
    * agree exactly; the rendered sequence is md5-certified. Map-only:
    * array slicing per row, no shuffle at all.
    * Output: (idCol, n_tokens, cut1, cut2, fim_md5).
    */
  def fimTransform(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = filter(split(col(textCol), "\\s+"), x => x =!= "")
    docs.select(col(idCol), w.as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      // cut1 in [0, n], cut2 in [cut1, n] — both ends inclusive so empty
      // prefix/middle/suffix all occur
      .withColumn("c1", md5Long(concat(lit("1:"), col(idCol))) %
        (col("n") + 1))
      .withColumn("c2", col("c1") +
        md5Long(concat(lit("2:"), col(idCol))) % (col("n") - col("c1") + 1))
      .select(col(idCol), col("n").as("n_tokens"),
        col("c1").as("cut1"), col("c2").as("cut2"),
        md5(concat_ws(" ",
          concat(array(lit("<PRE>")),
            slice(col("w"), lit(1), col("c1").cast("int")),
            array(lit("<SUF>")),
            slice(col("w"), (col("c2") + 1).cast("int"),
              (col("n") - col("c2")).cast("int")),
            array(lit("<MID>")),
            slice(col("w"), (col("c1") + 1).cast("int"),
              (col("c2") - col("c1")).cast("int"))))).as("fim_md5"))
  }

  /** T5-style span corruption (Raffel et al. 2020): each token is masked
    * by a deterministic content hash (md5 of "doc_id:pos" mod 100 <
    * maskPct), consecutive masked tokens collapse into one
    * `<extra_id_k>` sentinel in the corrupted sequence, and the target
    * sequence lists each sentinel followed by the tokens it replaced —
    * the denoising-objective data prep, with zero RNG so every rerun
    * (and the oracle) masks identically.
    *
    * Output per doc: (idCol, n_tokens, n_masked, n_spans, masked_md5,
    * targets_md5) — both sequences certified by md5 of the exact rebuilt
    * string (the lineDedup discipline).
    *
    * Scale shape: one posexplode, then windows and aggregations all
    * keyed on the doc id — one shuffle, reused across the stages;
    * per-doc state bounded by document length.
    */
  def spanCorruption(docs: DataFrame, maskPct: Int = 15,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maskPct >= 0 && maskPct <= 100, s"maskPct: $maskPct")
    val toks = docs.select(col(idCol),
      posexplode(filter(split(col(textCol), "\\s+"), x => x =!= ""))
        .as(Seq("pos", "tok")))
    val marked = toks.withColumn("msk",
      md5Long(concat(col(idCol), lit(":"), col("pos"))) % 100 < maskPct)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val maskedRows = marked.filter(col("msk"))
      .withColumn("grp", col("pos") - row_number().over(w))
    val runs = maskedRows.groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("run_start"),
        count(lit(1)).as("run_len"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("span_text"))
    val runsK = runs.withColumn("k",
      row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("run_start"))) - 1)
    val annotated = marked
      .join(maskedRows.select(col(idCol), col("pos"), col("grp")),
        Seq(idCol, "pos"), "left")
      .join(runsK.select(col(idCol), col("grp"), col("k"),
        col("run_start")), Seq(idCol, "grp"), "left")
      .withColumn("token_out",
        when(!col("msk"), col("tok"))
          .when(col("pos") === col("run_start"),
            concat(lit("<extra_id_"), col("k").cast("string"), lit(">"))))
    val perDoc = annotated.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("msk"), 1)).as("n_masked"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("token_out").isNotNull,
            struct(col("pos"), col("token_out"))))),
          s => s.getField("token_out")))).as("masked_md5"))
    val targets = runsK.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("k"),
            concat(lit("<extra_id_"), col("k").cast("string"), lit("> "),
              col("span_text")).as("t")))),
          s => s.getField("t")))).as("targets_md5"))
    perDoc.join(targets, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        col("masked_md5"),
        coalesce(col("targets_md5"), md5(lit(""))).as("targets_md5"))
  }
}
