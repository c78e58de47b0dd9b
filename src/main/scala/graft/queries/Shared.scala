package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.Bridge

import graft.Tables
import graft.operators.{Dedup, Graph}

/** Session-scoped shared analysis artifacts (VERDICT r7 item 3).
  *
  * The g/d/t-family queries all analyze the SAME two derived relations —
  * the certified near-dup pair set over `documents` and the 3-hop BFS
  * reach profile over the customer↔supplier order graph — and before
  * this object each consumer rebuilt its relation from scratch (~1-2 s
  * per query at sf0.1; the bulk of the g-family's 35 s). At 100 TB that
  * is the difference between re-hashing the corpus 25 times and hashing
  * it ONCE: the pair set is persisted as a key-sized parquet pair index
  * ([[Dedup.writePairIndex]]) and every later consumer only reads the
  * index. The
  * roundtrip itself is oracle-certified: `g19_pair_index` reads THIS
  * session index back and must hash-match the same minhash-pairs oracle
  * that certifies d02's from-scratch computation.
  *
  * Memoization is keyed by (applicationId, corpus dir): a new context (or
  * a different scale factor) rebuilds; a stopped context's entries and
  * temp pair-index dirs are evicted/deleted by an application-end
  * listener (see [[ensureCleanup]]). [[Tables.load]] memoizes each loaded
  * fixture table here too, and [[bpeMergeList]] the collected merge list.
  *
  * Each checkpointed artifact carries its measured size: it is re-planned
  * with the bytes its checkpoint stored as its statistics
  * ([[Bridge.sizedFromStoredBlocks]]), not the estimate of the plan it
  * came from, so its readers' small-input and broadcast rules judge it by
  * what it holds. A checkpoint with a missing block keeps the origin
  * estimate.
  */
private[graft] object Shared {

  /** Build every session-shared artifact for `dir` eagerly (Bench calls
    * this before its timing passes so the one-time build cost is measured
    * and reported as its own artifact field, `shared_build_sec`, instead
    * of silently vanishing under min-of-N — ADVICE r8).
    */
  def warmAll(s: SparkSession, dir: String): Unit = {
    // The four artifacts are independent (khop3's dependency on
    // orderGraphEdges is internal to its own chain), and each build has
    // long low-parallelism phases (driver-side planning, small tail
    // stages) that leave most cores idle — so overlap them from a small
    // thread pool (optimization-guide §2.6): FIFO scheduling backfills
    // one build's stragglers with the next build's tasks. Measured
    // 19.5 s sequential → see OPTIMIZATION_r15.md for the concurrent
    // number. Builds stay deterministic and memo/memoDir are
    // concurrent-safe (get-then-putIfAbsent), so the artifacts are
    // byte-identical to the sequential build's.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      val fs = Seq(
        Future { khop3(s, dir).count(); () },     // the longest chain
        Future { pairs(s, dir).count(); () },
        Future { bpeMergeList(s, dir)
                 Extras6.k20SliceRoot(s, dir); () })
      // Wait for ALL before rethrowing: bailing on the first failure
      // would leave the other builds racing a caller that already moved
      // on to timed passes.
      val results = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.foreach(_.get)
    } finally pool.shutdown()
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), AnyRef]

  /** Temp directories created on behalf of each application, deleted on
    * application end together with its cache entries (ADVICE r8: the
    * previous identityHashCode key was not guaranteed unique and the map
    * never evicted, pinning stopped-session object graphs and pair-index
    * dirs for the process lifetime).
    */
  private val tempDirs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]]

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Identity-keyed per-context sequence numbers: local-mode
    * applicationIds are "local-" + currentTimeMillis, so rapid
    * stop/create cycles CAN collide (ADVICE r9) — a colliding new session
    * could then hit cached DataFrames bound to the stopped context, and
    * one app's end-listener would evict the other's entries mid-use. The
    * identity map cannot collide for two live contexts, and its entry is
    * removed by the same end-listener, so nothing pins stopped contexts.
    */
  private val ctxIds = new java.util.IdentityHashMap[
    org.apache.spark.SparkContext, java.lang.Long]
  private val ctxSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Returns a cache key unique to this LIVE context (applicationId plus
    * an identity-derived sequence number) and, on first sight of it,
    * registers an application-end listener that evicts the application's
    * cache entries and deletes its temp dirs — so a long-lived host that
    * starts and stops many sessions leaks neither heap nor disk.
    * SharedLifecycleSpec gates this.
    */
  private def ensureCleanup(s: SparkSession): String = {
    val sc = s.sparkContext
    val seq = ctxIds.synchronized {
      Option(ctxIds.get(sc)).map(_.longValue).getOrElse {
        val n = ctxSeq.incrementAndGet(); ctxIds.put(sc, n); n
      }
    }
    val app = s"${sc.applicationId}#$seq"
    if (cleanupRegistered.add(app)) {
      sc.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            cache.keySet.removeIf(_._1 == app)
            pathCache.keySet.removeIf(_._1 == app)
            Option(tempDirs.remove(app)).foreach(_.forEach(deleteTree(_)))
            cleanupRegistered.remove(app)
            ctxIds.synchronized { ctxIds.remove(sc) }
          }
        })
    }
    app
  }

  private[graft] def deleteTree(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root)) { st =>
        st.iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def trackTempDir(app: String, p: java.nio.file.Path): Unit =
    tempDirs.computeIfAbsent(app,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path])
      .add(p)

  /** get-then-putIfAbsent, NOT computeIfAbsent: khop3's build re-enters
    * memo for orderGraphEdges, and ConcurrentHashMap.computeIfAbsent
    * throws IllegalStateException("Recursive update") whenever a nested
    * computation lands in the same hash bin. The benign race (two threads
    * building the same deterministic artifact, first put wins) is the
    * correct trade on a single driver.
    * A key holds one value type: every key is built by exactly one def.
    */
  private[graft] def memo[T <: AnyRef](s: SparkSession, dir: String,
      key: String)(build: => T): T = {
    val k = (ensureCleanup(s), dir, key)
    val hit = cache.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = build
      val prev = cache.putIfAbsent(k, v)
      if (prev != null) prev.asInstanceOf[T] else v
    }
  }

  /** The keys [[memo]] holds for `dir`, over every live application. */
  private[graft] def memoKeys(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.collect { case (_, `dir`, key) => key }.toSet
  }

  /** `df` checkpointed eagerly and re-planned with the size it stored. */
  private def checkpointed(df: DataFrame): DataFrame =
    Bridge.sizedFromStoredBlocks(df.localCheckpoint())

  private val pathCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), java.nio.file.Path]

  /** Memoized on-disk artifact per (session, dir, key) — the PATH twin of
    * [[memo]] (VERDICT r11 item 4): built once into a temp directory,
    * tracked for application-end deletion, shared by every consumer.
    * Same get-then-putIfAbsent discipline; the loser of the benign race
    * deletes its duplicate build.
    */
  private[graft] def memoDir(s: SparkSession, dir: String, key: String)
      (build: java.nio.file.Path => Unit): java.nio.file.Path = {
    val app = ensureCleanup(s)
    val k = (app, dir, key)
    val hit = pathCache.get(k)
    if (hit != null) hit
    else {
      val path = Files.createTempDirectory(s"graft-$key")
      // a failed build must not leak its half-written directory for the
      // process lifetime (ADVICE r12): it is neither cached nor tracked,
      // so delete it here before rethrowing. The cleanup's own failure
      // (deleteTree swallows NonFatal but a fatal — e.g. an interrupt —
      // can still escape) must not REPLACE the build failure as the
      // surfaced root cause (ADVICE r13): attach it as suppressed.
      try build(path)
      catch { case e: Throwable =>
        try deleteTree(path)
        catch { case c: Throwable if c ne e => e.addSuppressed(c) }
        throw e }
      val prev = pathCache.putIfAbsent(k, path)
      if (prev != null) { deleteTree(path); prev }
      else { trackTempDir(app, path); path }
    }
  }

  /** The certified near-dup pair set — [[Dedup.minhashPairs]] with its
    * default parameters over the plain `documents` table — computed once
    * per (session, dir), persisted as a parquet pair index, and read
    * back for every consumer. Full (a, b, n_eq, est_jaccard) columns;
    * parquet roundtrips longs/ints/doubles bit-exactly, so consumer
    * hashes are unchanged vs recomputing (DedupSpec certifies identity,
    * g19's oracle certifies it against DuckDB).
    */
  def pairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "minhash-pairs") {
      val path = memoDir(s, dir, "pair-index") { p =>
        Dedup.writePairIndex(Tables.load(s, dir, "documents"), p.toString)
      }
      Dedup.pairsFromIndex(s, path.toString)
    }

  /** The trained BPE merge table (t13's output), trained once per
    * (session, dir) and shared by every consumer — t13 certifies it,
    * t14/t40 use its [[bpeMergeList]]. Before sharing, each consumer re-ran the
    * whole nMerges-step driver-serialized training chain (VERDICT r7
    * item 4); a production tokenizer is trained once and shipped as a
    * model artifact, which is exactly this shape.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "bpe-merges") {
      checkpointed(graft.operators.TextAnalysis.bpeTrain(
        Tables.load(s, dir, "documents"), nMerges = BpeMergeCount))
    }

  /** The (left, right) pairs of [[bpeMerges]] in rank order, collected
    * once per (session, dir): an encoder built after the first starts no
    * job for its merges. */
  def bpeMergeList(s: SparkSession, dir: String): Seq[(String, String)] =
    memo(s, dir, "bpe-merge-list")(bpeMergePairs(bpeMerges(s, dir)))

  /** Merges [[bpeMerges]] trains. */
  val BpeMergeCount = 3

  /** A merge table ([[bpeMerges]]) as its (left, right) pairs in rank
    * order, for the encoder. Collected through
    * `limit(BpeMergeCount + 1)`: a table with more rows than the trained
    * merges fails loudly instead of reaching the driver unbounded.
    */
  def bpeMergePairs(merges: DataFrame): Seq[(String, String)] = {
    val rows = merges.orderBy(col("merge_rank"))
      .limit(BpeMergeCount + 1).collect()
    if (rows.length > BpeMergeCount) throw new IllegalStateException(
      s"BPE merge table has more than $BpeMergeCount rows")
    rows.map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** The customer↔supplier interaction graph of g01/g07: symmetrized
    * DISTINCT edges of the orders⋈lineitem bipartite projection,
    * localCheckpointed once per (session, dir) — the BFS family's edge
    * universe.
    */
  def orderGraphEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "order-graph-edges") {
      val cs = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
      checkpointed(cs.select(col("cust").as("src"), col("supp").as("dst"))
        .union(cs.select(col("supp").as("src"), col("cust").as("dst")))
        .distinct())
    }

  /** The canonical seed slice of the reach queries (khop3, g20–g23):
    * customers of [[orderGraphEdges]] with key % 100 == 0. */
  def orderGraphSeeds(s: SparkSession, dir: String): DataFrame =
    orderGraphEdges(s, dir).select(col("src").as("seed")).distinct()
      .filter(col("seed") < 1000000 && col("seed") % 100 === 0)

  /** On-disk bytes of the tables [[orderGraphEdges]] reads — the input
    * size [[Graph.adaptiveHopCheckpoint]] decides from. */
  def orderGraphBytes(dir: String): Long =
    graft.streaming.StreamOps.pathBytes(
      java.nio.file.Paths.get(dir, "orders.parquet"),
      java.nio.file.Paths.get(dir, "lineitem.parquet"))

  /** The 3-hop reach profile (seed, dist, n_nodes) over
    * [[orderGraphEdges]] from the canonical seed set (customers with
    * key % 100 == 0) — g07 reports it directly, g08 and g18 roll it up;
    * before sharing, each of the three re-ran the whole frontier BFS
    * (~5 s each at sf0.1, the suite's three most expensive queries).
    */
  def khop3(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "khop3") {
      // the BITSET form of the exact BFS (identical output, certified by
      // Round15Spec + the g07/g08/g18 oracles): per-seed reach sets ride
      // as mask columns, so no hop materializes (seed, node) pair rows —
      // measured 4.5 s -> see OPTIMIZATION_r15.md. Its hops are always
      // cut (unlike g20/g21's adaptive fuse): this build runs ONCE per
      // session, COLD, and the fused plan's one-time analysis/codegen
      // outweighs the checkpoint jobs at that temperature — measured
      // cold 6.48 s (cut) vs 7.18 s (fused); warm inverts (4.03 vs 3.18)
      // but warm never happens (memoized).
      checkpointed(Graph.kHopCountsBitset(orderGraphEdges(s, dir),
          orderGraphSeeds(s, dir), k = 3))
    }
}
