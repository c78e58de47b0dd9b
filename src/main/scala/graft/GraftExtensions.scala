package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so the pure-SQL surface (the way reference
  * users interact — `SELECT ... FROM kafka_consumer(...)`, README.md:13)
  * can call them too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT minhash_signature(text) FROM docs")
  * }}}
  *
  * Also usable via spark.sql.extensions=graft.GraftExtensions on submit.
  * Such a deployment should also pass
  * `spark.sql.codegen.cache.maxEntries=1024` on submit (see
  * [[GraftSession.CodegenCacheMaxEntries]]): it is a static conf, which an
  * extension cannot set, and Spark's default of 100 makes repeated
  * queries recompile their generated classes.
  * It should likewise pass
  * `spark.hadoop.fs.file.impl=graft.io.ForkFreeLocalFileSystem` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.io.ForkFreeLocalFs`
  * (see [[GraftSession]]): without them, a host without `libhadoop` forks
  * `chmod`/`readlink` for every local checkpoint and output file. HDFS and
  * object stores are unaffected.
  * Such a session also keeps the per-key source lists in its Hadoop conf
  * (see [[GraftSession.create]], which drops them): there is no conf for
  * this, and every write task and parquet scan broadcast then carries
  * about 1.1k gzipped lists (112 KB per serialized conf, against 68 KB
  * without them).
  * One physical rule is injected as an AQE query-stage preparation rule,
  * [[GraftExtensions.SortSmallInputInOnePartition]]: a global sort of an
  * input that AQE estimates at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` shuffles to
  * one partition instead of range partitions, so no job samples the input
  * for range bounds. No logical rule or strategy is injected (SURVEY.md
  * §4.2): every operator composes from built-ins whose plans Catalyst
  * already optimizes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(
      _ => GraftExtensions.SortSmallInputInOnePartition)
    GraftExtensions.builders.foreach { case (name, usage, b) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), b))
    }
    GraftExtensions.tableBuilders.foreach { case (name, usage, b) =>
      ext.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), b))
    }
  }
}

object GraftExtensions {

  /** Rewrites a global sort's `RangePartitioning(_, n > 1)` exchange to
    * `SinglePartition` when AQE estimates the exchange's input at most the
    * floor `spark.sql.adaptive.coalescePartitions.minPartitionSize`.
    *
    * A range exchange first runs a job that samples its input for the
    * partition bounds, and that job recomputes the whole upstream stage.
    * AQE then coalesces a shuffle that small into one partition anyway, so
    * the sample buys nothing. The sort still orders every row; only the
    * exchange's partition count changes.
    *
    * The estimate is the logical plan's size, built on the measured size
    * of every stage that has run. It can be low: a `Generate` is estimated
    * at its child's size, so a sort right after a large explode can run
    * in one task where AQE would have split it. A node without a logical
    * link, an estimate above the floor, a user's `repartitionByRange` (not
    * ENSURE_REQUIREMENTS) and sessions with partition coalescing off are
    * left as they are.
    * Query-stage preparation rules run only under AQE, so streaming
    * micro-batches (AQE off) never see this rule.
    */
  private[graft] object SortSmallInputInOnePartition
      extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan =
      if (!conf.coalesceShufflePartitionsEnabled) plan
      else {
        val floor =
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        plan.transformUp {
          case e @ ShuffleExchangeExec(RangePartitioning(_, n), child,
              ENSURE_REQUIREMENTS, _) if n > 1 &&
              child.logicalLink.exists(_.stats.sizeInBytes <= floor) =>
            e.copy(outputPartitioning = SinglePartition)
        }
      }
  }

  private[graft] val builders
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("array_dot_product", "_FUNC_(a, b) - left-fold double dot product",
      es => ArrayDotProduct(es(0), es(1))),
    ("array_squared_distance",
      "_FUNC_(a, b) - left-fold squared euclidean distance",
      es => ArraySquaredDistance(es(0), es(1))),
    ("minhash_signature",
      "_FUNC_(text) - 16-permutation MinHash over 3-word shingles",
      es => MinhashSignature(es.head, 16, 3)),
    ("simhash60", "_FUNC_(text) - 60-bit SimHash over whitespace tokens",
      es => Simhash60(es.head)),
    ("word_shingles", "_FUNC_(text) - distinct 3-word shingles",
      es => WordShingles(es.head, 3)),
    ("feature_buckets",
      "_FUNC_(text) - 256-bucket unigram+bigram hash-trick features",
      es => FeatureBuckets(es.head, 256)),
    ("gram_hashes",
      "_FUNC_(text) - per-position 8-gram hashes (ExactSubstr spans)",
      es => GramHashes(es.head, 8)),
    ("nearest_entry",
      "_FUNC_(v, entries) - argmin entry by squared distance",
      es => NearestEntry(es(0), es(1))),
    ("patch_pool",
      "_FUNC_(payload) - 8-stripe unsigned-byte-sum payload signature",
      es => PatchPool(es.head, 8)))

  /** One-string-literal-path TVF over a parquet documents corpus: the
    * SQL-only front door to the north-star curation operators, so a
    * pure-SQL user runs dedup without touching the Scala API. Bind-time
    * validation mirrors kafka_consumer's (literal-only, loud errors).
    */
  private def corpusTvf(fnName: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    es => {
      if (es.length != 1)
        throw new IllegalArgumentException(
          s"$fnName requires exactly 1 argument: (path)")
      val p = es.head
      if (!(p.foldable &&
          p.dataType == org.apache.spark.sql.types.StringType))
        throw new IllegalArgumentException(
          s"$fnName: path must be a string literal, got $p")
      val v = p.eval()
      if (v == null)
        throw new IllegalArgumentException(s"$fnName: path must not be NULL")
      val spark = org.apache.spark.sql.SparkSession.active
      f(spark.read.parquet(v.toString)).queryExecution.logical
    }

  /** Table-valued functions: the reference's SQL front door, under both
    * the registered name (kafka_consumer, cpp:223) and the README's alias
    * (kafquack, README.md:13), plus the corpus-curation TVFs.
    */
  private[graft] val tableBuilders: Seq[(String, String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    val build: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      es => graft.sources.KafkaSource.consumerPlan(
        org.apache.spark.sql.SparkSession.active, es)
    Seq(
      ("kafka_consumer",
        "_FUNC_(brokers, topic, group_id) - 7-column Kafka consumer scan",
        build),
      ("kafquack",
        "_FUNC_(brokers, topic, group_id) - alias of kafka_consumer",
        build),
      ("minhash_pairs",
        "_FUNC_(path) - certified near-dup pairs (a, b, n_eq, " +
          "est_jaccard) over a parquet documents corpus",
        corpusTvf("minhash_pairs")(d =>
          graft.operators.Dedup.minhashPairs(d))),
      ("doc_quality",
        "_FUNC_(path) - t03 quality profile over a parquet documents " +
          "corpus",
        corpusTvf("doc_quality")(d =>
          graft.operators.TextAnalysis.withQuality(d))),
      ("dedup_corpus",
        "_FUNC_(path) - keep-one near-dedup materialization of a " +
          "parquet documents corpus",
        corpusTvf("dedup_corpus")(d =>
          graft.operators.Dedup.dropNearDuplicates(d,
            graft.operators.Dedup.minhashPairs(d)
              .select(org.apache.spark.sql.functions.col("a"),
                org.apache.spark.sql.functions.col("b"))))))
  }
}
