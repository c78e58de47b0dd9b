package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash._

/** Multimodal-column conventions (north-star layer): media travel as opaque
  * `binary` payloads plus typed metadata columns; decode / feature-extract
  * runs batched per partition so heavyweight codec state is initialized once
  * per task, never per row.
  *
  * The actual codec is STUBBED (no image/audio libraries in this
  * environment): [[StubDecoder]] derives deterministic pseudo-features from
  * the payload hash. The Spark-side plumbing — schema, batching,
  * partitioning, feature shape — is real and is what the tests exercise;
  * swap `decode` for a real codec in production.
  */
object Multimodal {

  /** Typed metadata for one media payload. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, media_type: String,
      width: Int, height: Int, n_frames: Int)

  /** Decoded pseudo-features. */
  case class MediaFeatures(doc_id: Long, width: Int, height: Int,
      brightness: Double, n_patches: Int)

  /** Expression-level metadata extraction (codegen'd, no UDF): payload size
    * plus pseudo width/height/frames derived from the cross-engine md5 hash
    * of the payload — deterministic, so oracle-checkable.
    */
  def withMediaMeta(df: DataFrame, payloadCol: String = "payload",
      idCol: String = "doc_id"): DataFrame = {
    val p = col(payloadCol)
    df.withColumn("n_bytes", length(p).cast("long"))
      .withColumn("media_type",
        when(length(p) % 3 === 0, "image")
          .when(length(p) % 3 === 1, "audio").otherwise("video"))
      .withColumn("width", (md5Long(p.cast("string")) % 1280).cast("int"))
      .withColumn("height",
        (md5LongSeeded(1, p.cast("string")) % 720).cast("int"))
      .withColumn("n_frames",
        (md5LongSeeded(2, p.cast("string")) % 300).cast("int"))
  }

  /** Frame sampling: `n` evenly-strided fixed-width byte windows per
    * payload — the shape a video pipeline uses to pick keyframes before
    * decode. Pure expression work (posexplode over a sequence); emits
    * (idCol, frame_idx, frame_md5). Frames beyond the payload end are
    * dropped. The fingerprint is md5 of the HEX encoding of the byte
    * window: a raw byte slice can split a multi-byte codepoint (not valid
    * UTF-8, so not castable to string in either engine), while the hex
    * string is byte-exact and portable — the DuckDB oracle slices
    * hex(payload) at 2 chars/byte and md5s the identical string.
    */
  def withFrameSamples(df: DataFrame, payloadCol: String = "payload",
      idCol: String = "doc_id", n: Int = 4, width: Int = 16): DataFrame = {
    val p = col(payloadCol)
    val stride = greatest(lit(1), expr(s"length($payloadCol) div $n"))
    df.select(col(idCol), p, stride.as("__stride"))
      .select(col(idCol), p,
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          j => j * col("__stride") + 1)).as(Seq("frame_idx", "__off")))
      .filter(col("__off") <= length(p))
      .withColumn("frame", p.substr(col("__off").cast("int"), lit(width)))
      .withColumn("frame_md5", md5(hex(col("frame"))))
      .select(col(idCol), col("frame_idx"), col("frame_md5"))
  }

  /** Overlapping fixed-window chunking of a binary payload — the audio/
    * video segmentation shape: windows of `window` bytes every `stride`
    * bytes (stride < window ⇒ overlap), covering the whole payload, tail
    * windows truncated at the end. Variable chunk count per row (vs
    * [[withFrameSamples]]'s fixed n), pure expression work: one
    * posexplode over a byte-offset sequence, map-only, no shuffle —
    * chunking 100 TB of media is an embarrassingly-parallel scan. Empty
    * payloads yield no chunks. Fingerprints hash the HEX encoding of the
    * window (byte-exact and engine-portable; see [[withFrameSamples]]).
    * Output: (idCol, chunk_idx, start_byte, n_bytes, chunk_md5).
    */
  def chunkPayload(df: DataFrame, window: Int = 64, stride: Int = 48,
      payloadCol: String = "payload", idCol: String = "doc_id"): DataFrame = {
    require(window > 0, "window must be positive")
    require(stride > 0 && stride <= window,
      "stride must be in 1..window (gaps would drop bytes)")
    val p = col(payloadCol)
    df.filter(length(p) > 0)
      .select(col(idCol), p,
        posexplode(sequence(lit(0), length(p) - 1, lit(stride)))
          .as(Seq("chunk_idx", "__sb")))
      .withColumn("start_byte", col("__sb").cast("long"))
      .withColumn("n_bytes",
        least(lit(window), length(p) - col("__sb")).cast("long"))
      // slice the BINARY first, then hex: hex of a byte slice equals the
      // aligned slice of hex(payload) (2 chars/byte), and hexing only the
      // window keeps per-chunk work O(window) — hexing the whole payload
      // per chunk row would be O(bytes^2/stride) on large media.
      .withColumn("chunk_md5", md5(hex(p.substr(
        (col("start_byte") + 1).cast("int"),
        col("n_bytes").cast("int")))))
      .select(col(idCol), col("chunk_idx"), col("start_byte"),
        col("n_bytes"), col("chunk_md5"))
  }

  /** Deterministic stand-in for a real media decoder. Batched per partition:
    * real codecs amortize context setup across the batch exactly like this.
    * Features derive from the CrossHash md5 convention (first 15 hex digits
    * as a 60-bit integer) over the raw payload bytes, so the whole decode —
    * although it runs as JVM code inside mapPartitions — is reproducible in
    * oracle SQL and hash-certified by the correctness gate.
    */
  object StubDecoder {
    def decodeBatch(rows: Iterator[(Long, Array[Byte])])
        : Iterator[MediaFeatures] = {
      // Real impl: val codec = Codec.open(...)  — once per partition/task.
      val md = java.security.MessageDigest.getInstance("MD5")
      def h60(bytes: Array[Byte]): Long = {
        md.reset()
        val d = md.digest(bytes)
        var v = 0L
        var i = 0
        while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
        v >>> 4
      }
      rows.map { case (id, bytes) =>
        val h = h60(bytes)
        val h1 = h60("1:".getBytes("UTF-8") ++ bytes)
        MediaFeatures(id, (h % 1280).toInt, (h1 % 720).toInt,
          (h % 1000) / 1000.0, bytes.length / 256 + 1)
      }
    }
  }

  /** Partition-batched decode over (id, payload) — the mapPartitions shape a
    * real codec plugs into. Narrow (no shuffle); output is a typed Dataset.
    */
  def decodeFeatures(df: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val tupEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.BINARY)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => StubDecoder.decodeBatch(rows))
  }

  /** Stub resize result: source/destination sizes + a fingerprint of the
    * downsampled payload (md5 of its hex encoding — byte-exact and
    * SQL-reproducible regardless of UTF-8 alignment).
    */
  case class ResizedMedia(doc_id: Long, src_bytes: Long, dst_bytes: Long,
      resized_md5: String)

  /** Batched stub resize: deterministic stride-`factor` downsample of the
    * payload bytes — the mapPartitions shape a real image/audio resampler
    * plugs into (codec state once per task, rows streamed through).
    * Narrow, no shuffle. The output fingerprint is oracle-checkable: the
    * DuckDB side picks the same bytes out of hex(payload) at 2 chars/byte.
    */
  def resizeStub(df: DataFrame, factor: Int = 4, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[ResizedMedia] = {
    require(factor > 0)
    implicit val enc = Encoders.product[ResizedMedia]
    implicit val tupEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.BINARY)
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // Real impl: resampler context opens here, once per task.
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, bytes) =>
          val dst = Array.range(0, bytes.length, factor).map(bytes(_))
          val hx = dst.map(b => f"${b & 0xFF}%02X").mkString
          md.reset()
          val fp = md.digest(hx.getBytes("UTF-8"))
            .map(b => f"${b & 0xFF}%02x").mkString
          ResizedMedia(id, bytes.length.toLong, dst.length.toLong, fp)
        }
      }
  }

  /** 60-bit SimHash of a binary payload over its chunk fingerprints —
    * the perceptual-hash analogue for opaque media: bit j is set iff
    * strictly more than half the payload's distinct chunk hashes have
    * bit j set (the [[graft.functions.Simhash60]] vote, with chunks as
    * the features). Unlike [[payloadNearDupPairs]]' shared-chunk counts,
    * the signature is FIXED-WIDTH per payload, so index size is O(docs)
    * regardless of media size.
    *
    * Scale design: one groupBy per id with 60 map-side-combinable bit
    * sums (no explode — the vote matrix lives in the aggregation buffer),
    * signature assembly is a pure projection.
    */
  def payloadSimhash(df: DataFrame, window: Int = 64, stride: Int = 48,
      payloadCol: String = "payload", idCol: String = "doc_id"): DataFrame = {
    val hv = conv(substring(col("chunk_md5"), 1, 15), 16, 10).cast("long")
    val ch = chunkPayload(df, window, stride, payloadCol, idCol)
      .select(col(idCol), hv.as("__hv")).distinct()
    val bitSums = (0 until 60).map(j =>
      sum(shiftright(col("__hv"), j).bitwiseAND(lit(1L))).as(s"__b$j"))
    val agg = ch.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"), bitSums: _*)
    val sig = (0 until 60).map(j =>
      when(col(s"__b$j") * 2 > col("n_chunks"), lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    agg.select(col(idCol), col("n_chunks"), sig.as("sh"))
  }

  /** Payload near-dup pairs by SimHash hamming distance ≤ `maxHamming`,
    * candidates from the same 4-band pigeonhole band join as the text
    * simhash detector ([[Dedup.simhashBandPairs]]: exact to hamming 3;
    * capped buckets trade the guarantee for bounded fan-out, same as
    * every generator here). Output: (a, b, hamming).
    */
  def payloadSimhashPairs(df: DataFrame, window: Int = 64, stride: Int = 48,
      maxHamming: Int = 3, maxBucket: Int = 200,
      payloadCol: String = "payload", idCol: String = "doc_id"): DataFrame =
    Dedup.simhashBandPairs(
      payloadSimhash(df, window, stride, payloadCol, idCol)
        .select(col(idCol).as("id"), col("sh")),
      maxHamming, maxBucket, "payload_simhash_cap")

  /** Binary near-dup pairs via shared chunk fingerprints — the multimodal
    * analogue of MinHash banding: payloads are sliced into overlapped
    * windows ([[chunkPayload]]), bucketed by chunk md5, paired within
    * buckets, and kept when they share ≥ `minShared` distinct chunk
    * hashes. Same 100 TB discipline as every candidate generator here
    * (the shared [[Dedup.bucketPairs]]): buckets capped deterministically
    * (lowest `maxBucket` ids per hash — a popular boilerplate chunk can't
    * go quadratic; `maxBucket <= 0` disables the cap), ONE shuffle on the
    * chunk hash, pairs only ever within buckets. Catches re-encoded
    * uploads / shared prefixes; window alignment means only
    * stride-aligned matches count (content-defined chunking is the
    * production upgrade for arbitrary-offset matches).
    * Output: (a, b, n_shared).
    */
  def payloadNearDupPairs(df: DataFrame, window: Int = 64,
      stride: Int = 48, minShared: Int = 2, maxBucket: Int = 200,
      payloadCol: String = "payload", idCol: String = "doc_id"): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val ch = chunkPayload(df, window, stride, payloadCol, idCol)
      .select(col(idCol).as("id"), col("chunk_md5")).distinct()
    Dedup.bucketPairs(ch, "id", Seq("chunk_md5"), Nil, maxBucket)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Patch-pooled payload signature: split the payload into `patches`
    * contiguous byte stripes — the balanced split where 0-based byte b
    * belongs to stripe ⌊b·P/n⌋ (so stripe i covers 1-based bytes
    * ⌈i·n/P⌉+1 .. ⌈(i+1)·n/P⌉, the inverse the oracle computes per
    * byte) — and pool each stripe to the exact integer sum of its
    * unsigned byte values. A deterministic stand-in for a patch
    * EMBEDDING with the plumbing real: fixed-dim vector per payload,
    * map-only, exact integer arithmetic (the oracle reproduces it
    * bit-for-bit; a real vision tower swaps in at exactly this column).
    * Payloads shorter than `patches` leave some stripes empty
    * (pooled 0); empty payloads are dropped.
    * Output: (idCol, pooled array<long> of length `patches`).
    */
  def patchPooled(df: DataFrame, patches: Int = 8,
      payloadCol: String = "payload", idCol: String = "doc_id"): DataFrame = {
    require(patches > 0, "patches must be positive")
    val p = col(payloadCol)
    // native byte-stripe expression (graft.functions.PatchPool): the HOF
    // formulation hexed the payload then substr+conv'd every byte — two
    // string allocations per byte dominated m09/m10; the kernel reads the
    // binary directly with identical ceil-stripe boundaries.
    df.filter(length(p) > 0)
      .select(col(idCol),
        graft.functions.VectorFunctions.patch_pool(p, patches).as("pooled"))
  }

  /** Exact k-NN over [[patchPooled]] signatures: for every payload whose
    * id ≡ 0 (mod `queryMod`) — the sampled query panel — the `k`
    * nearest OTHER payloads by squared L2 distance on the pooled
    * integer vectors. All-integer distances (zip_with + ordered fold)
    * keep the ranking bit-stable cross-engine; ties break by neighbor
    * id. The query panel is broadcast (|panel| = n/queryMod rows), the
    * corpus side never shuffles, and the per-query top-k is a
    * WindowGroupLimit — the s01 brute-force shape applied to media
    * signatures. Output: (qid, rank, nid, d2).
    */
  def patchKnn(df: DataFrame, patches: Int = 8, k: Int = 3,
      queryMod: Int = 97, payloadCol: String = "payload",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0 && queryMod > 0, "k and queryMod must be positive")
    val vecs = patchPooled(df, patches, payloadCol, idCol)
    val q = vecs.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("qid"), col("pooled").as("qv"))
    val d2 = aggregate(
      zip_with(col("qv"), col("pooled"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    vecs.join(broadcast(q), col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nid"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("d2"))
  }

  /** Shot-boundary detection over the sampled frame sequence: a boundary
    * is a frame whose 60-bit signature sits far (bit-hamming > threshold)
    * from the PREVIOUS frame's — the classic adjacent-frame-difference
    * cut detector, run on [[withFrameSamples]] fingerprints instead of
    * pixel histograms (the decode stays stubbed per the multimodal
    * contract; a real build swaps the signature for a perceptual hash
    * and this operator is unchanged).
    *
    * Plan shape: frame sampling is map-only; the only state is a lag(1)
    * window per media id ordered by frame_idx — per-key state O(1),
    * partition count = media rows, the same envelope as sessionization.
    * Frame 0 has no predecessor and is emitted with hamming NULL /
    * boundary false (a shot starts there by definition, not by
    * detection).
    *
    * Output: (idCol, frame_idx, hamming, is_boundary).
    */
  def shotBoundaries(df: DataFrame, payloadCol: String = "payload",
      idCol: String = "doc_id", n: Int = 4, width: Int = 16,
      threshold: Int = 24): DataFrame = {
    val sig = conv(substring(col("frame_md5"), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col(idCol)).orderBy(col("frame_idx"))
    withFrameSamples(df, payloadCol, idCol, n, width)
      .withColumn("__sig", sig)
      .withColumn("hamming",
        bit_count(col("__sig").bitwiseXOR(lag(col("__sig"), 1).over(w)))
          .cast("int"))
      .withColumn("is_boundary",
        coalesce(col("hamming") > threshold, lit(false)))
      .select(col(idCol), col("frame_idx"), col("hamming"),
        col("is_boundary"))
  }

  /** Voice-activity-style segmentation: non-overlapping `window`-byte
    * chunks are classified "voiced" by a pseudo-energy gate (a
    * deterministic hash bit of the chunk fingerprint — the stubbed stand-
    * in for an RMS-energy threshold, per the multimodal decode contract),
    * and maximal runs of consecutive voiced chunks become segments — the
    * VAD → utterance-segmentation shape of every speech pipeline.
    *
    * The run grouping is gaps-and-islands (chunk_idx − voiced-rank is
    * constant within a run): chunking is map-only, then ONE per-media
    * window + one aggregation — no self-join against the chunk sequence.
    *
    * Output: (idCol, seg_idx, start_chunk, n_chunks).
    */
  def voicedSegments(df: DataFrame, window: Int = 64,
      payloadCol: String = "payload", idCol: String = "doc_id"): DataFrame = {
    val energy = conv(substring(col("chunk_md5"), 1, 8), 16, 10).cast("long")
    val rk = Window.partitionBy(col(idCol)).orderBy(col("chunk_idx"))
    chunkPayload(df, window, window, payloadCol, idCol)
      .filter(energy % 4 =!= 0)
      .withColumn("__grp", col("chunk_idx") - row_number().over(rk))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("chunk_idx")).as("start_chunk"),
        count(lit(1)).cast("int").as("n_chunks"))
      .withColumn("seg_idx",
        row_number().over(Window.partitionBy(col(idCol))
          .orderBy(col("start_chunk"))).cast("int"))
      .select(col(idCol), col("seg_idx"), col("start_chunk"),
        col("n_chunks"))
  }

  /** Per-payload nibble entropy: Shannon entropy over the 16 hex symbols of
    * the payload's hex encoding — the cheap compressibility / corruption
    * proxy (uniform nibbles ≈ encrypted or compressed media, skewed ≈
    * structured). Map-only and codegen'd: 16 `translate` deletions count
    * each symbol, the entropy is a fixed-order fold over the 16 terms, so
    * the oracle reproduces it bit-for-bit. Output:
    * (idCol, n_nibbles, n_distinct, nibble_entropy ∈ [0, ln 16]).
    */
  def payloadNibbleEntropy(df: DataFrame, payloadCol: String = "payload",
      idCol: String = "doc_id"): DataFrame = {
    val syms = "0123456789ABCDEF".map(_.toString)
    val hx = hex(col(payloadCol))
    val counts = array(syms.map(ch =>
      (length(hx) - length(translate(hx, ch, ""))).cast("long")): _*)
    df.select(col(idCol), length(hx).cast("long").as("n"),
        counts.as("cnt"))
      .select(col(idCol), col("n").as("n_nibbles"),
        size(filter(col("cnt"), c => c > 0)).cast("long").as("n_distinct"),
        when(col("n") > 0, round(-aggregate(
          transform(col("cnt"), c =>
            when(c > 0, (c.cast("double") / col("n")) *
              log(c.cast("double") / col("n"))).otherwise(lit(0.0))),
          lit(0.0), (a, x) => a + x), 6)).as("nibble_entropy"))
  }
}
