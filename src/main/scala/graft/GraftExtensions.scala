package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  SortOrder}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight,
  BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, Repartition, RepartitionByExpression}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec}
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
  * Three rules plan an input that AQE would coalesce to one partition
  * anyway, one estimated at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, as one
  * partition from the start, so a query over small inputs runs as one
  * job instead of a chain of one-task stages:
  *  - [[GraftExtensions.ReadSmallInputInOnePartition]], a logical rule
  *    run before the cost-based batch, reads each small file or RDD scan
  *    in one partition and drops a hash `repartition(cols)` of a small
  *    input;
  *  - [[GraftExtensions.JoinOnePartitionSidesLocally]], an AQE
  *    query-stage preparation rule, joins two one-partition sides in
  *    place of a broadcast;
  *  - [[GraftExtensions.SortSmallInputInOnePartition]], another one, sorts
  *    a small input in one partition, so no job samples it for range
  *    bounds.
  * No strategy is injected (SURVEY.md §4.2): every operator composes from
  * built-ins whose plans Catalyst already optimizes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(_ => GraftExtensions.ReadSmallInputInOnePartition)
    ext.injectQueryStagePrepRule(
      _ => GraftExtensions.JoinOnePartitionSidesLocally)
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
      coalescingFloor(conf).fold(plan) { floor =>
        plan.transformUp {
          case e @ ShuffleExchangeExec(RangePartitioning(_, n), child,
              ENSURE_REQUIREMENTS, _) if n > 1 &&
              child.logicalLink.exists(_.stats.sizeInBytes <= floor) =>
            e.copy(outputPartitioning = SinglePartition)
        }
      }
  }

  /** `spark.sql.adaptive.coalescePartitions.minPartitionSize`, the size
    * below which AQE coalesces a shuffle to one partition; None when AQE
    * or its partition coalescing is off, since then no shuffle would be
    * coalesced. */
  private def coalescingFloor(conf: SQLConf): Option[Long] =
    if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else None

  /** Plans a small input as one partition: each file or RDD scan (with
    * the Project/Filter chain pushed onto it) whose size estimate is at
    * most the coalescing floor is read through `Repartition(1, shuffle =
    * false)`, a `CoalesceExec`, and a hash `repartition(cols)` without a
    * partition count over a small input becomes the same. The plan above
    * then reads `SinglePartition`, which satisfies every aggregate, window,
    * sort and shuffled-join distribution, so `EnsureRequirements` adds no
    * exchange there and the operators run in the scan's task; AQE would
    * have coalesced each of those shuffles to one partition anyway, after
    * a stage of its own (a job, a re-plan and a task each).
    *
    * It runs once, after operator optimization, so filters and column
    * pruning have already reached the scan, and it leaves a scan already
    * under a one-partition `Repartition` as it is, so running it again
    * stacks nothing. A scan above the floor, of unknown size (an RDD with
    * no origin statistics estimates `spark.sql.defaultSizeInBytes`) or of
    * another kind, a `repartition(n, cols)` or `repartitionByRange`, any
    * streaming plan, and sessions with AQE or partition coalescing off
    * keep today's plan. The estimate can be low where rows multiply (a
    * `Generate` is estimated at its child's size), and then the whole
    * query runs in one task where AQE would have split it after the
    * explode.
    */
  private[graft] object ReadSmallInputInOnePartition
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      coalescingFloor(conf).filter(_ => !plan.isStreaming).fold(plan) {
        floor =>
          def small(p: LogicalPlan) = p.stats.sizeInBytes <= floor
          def wrapScans(p: LogicalPlan): LogicalPlan = p match {
            case Repartition(1, false, c) if scanChain(c) => p
            case _ if scanChain(p) && small(p) =>
              Repartition(1, shuffle = false, p)
            case _ => p.mapChildren(wrapScans)
          }
          wrapScans(plan).transformUp {
            case RepartitionByExpression(es, c, None, _)
                if !es.exists(_.isInstanceOf[SortOrder]) && small(c) =>
              if (onePartition(c)) c else Repartition(1, shuffle = false, c)
          }
      }

    /** The first node under `p`'s Project/Filter chain. */
    private def belowChain(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => belowChain(c)
      case Filter(_, c) => belowChain(c)
      case _ => p
    }

    private def scanChain(p: LogicalPlan): Boolean = belowChain(p) match {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _: LogicalRDD => true
      case _ => false
    }

    private def onePartition(p: LogicalPlan): Boolean = belowChain(p) match {
      case Repartition(1, _, _) => true
      case _ => false
    }
  }

  /** Joins two one-partition sides in their own task instead of through
    * a broadcast, when each side has exactly one partition that satisfies
    * the join's distribution (as [[ReadSmallInputInOnePartition]] leaves
    * them):
    *  - a `BroadcastHashJoinExec` that is not a null-aware anti join
    *    becomes a `ShuffledHashJoinExec` with the same build side;
    *  - an inner or cross `BroadcastNestedLoopJoinExec` becomes a
    *    `CartesianProductExec`, coalesced to report the `SinglePartition`
    *    that the plan above was planned against.
    * A broadcast runs as a job of its own, and its sides already share one
    * task's worth of data. A broadcast that more than one join reads (the
    * same canonical exchange, which AQE reuses) stays, so its subtree is
    * still computed once. Streaming plans and sessions with AQE or
    * partition coalescing off are left as they are.
    */
  private[graft] object JoinOnePartitionSidesLocally
      extends Rule[SparkPlan] with JoinSelectionHelper {
    override def apply(plan: SparkPlan): SparkPlan =
      if (coalescingFloor(conf).isEmpty ||
          plan.exists(_.logicalLink.exists(_.isStreaming))) plan
      else {
        val reads = plan.collectWithSubqueries {
          case b: BroadcastExchangeExec => b.canonicalized
        }.groupBy(identity).view.mapValues(_.size).toMap
        // the broadcast's input, when no other join reads the broadcast
        def soleRead(p: SparkPlan): Option[SparkPlan] = p match {
          case b: BroadcastExchangeExec if reads(b.canonicalized) == 1 =>
            Some(b.child)
          case _ => None
        }
        def onePartition(j: SparkPlan) =
          j.requiredChildDistribution.zip(j.children).forall { case (d, c) =>
            c.outputPartitioning.numPartitions == 1 &&
              c.outputPartitioning.satisfies(d)
          }
        def sides(side: BuildSide, l: SparkPlan, r: SparkPlan)
            : Option[(SparkPlan, SparkPlan)] = side match {
          case BuildLeft => soleRead(l).map((_, r))
          case BuildRight => soleRead(r).map((l, _))
        }
        // top-down, so each join is judged on its original build subtree
        plan.transformDown {
          case j @ BroadcastHashJoinExec(lk, rk, jt, side, cond, l, r, false)
              if (side == BuildLeft && canBuildShuffledHashJoinLeft(jt)) ||
                (side == BuildRight && canBuildShuffledHashJoinRight(jt)) =>
            sides(side, l, r).map { case (nl, nr) =>
              ShuffledHashJoinExec(lk, rk, jt, side, cond, nl, nr,
                isSkewJoin = false)
            }.filter(onePartition).getOrElse(j)
          case j @ BroadcastNestedLoopJoinExec(l, r, side, _: InnerLike,
              cond) =>
            sides(side, l, r).map { case (nl, nr) =>
              CartesianProductExec(nl, nr, cond)
            }.filter(onePartition).map(CoalesceExec(1, _)).getOrElse(j)
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
