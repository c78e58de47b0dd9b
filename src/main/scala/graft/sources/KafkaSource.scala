package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One row of the reference's fixed 7-column output schema
  * (reference: src/kafquack_extension.cpp:101-110).
  *
  * Invariant (reference: src/kafquack_extension.cpp:189-197): exactly one of
  * `value` / `error` is null — errors are data, the scan never fails on a bad
  * message.
  */
case class KafkaRecord(
    topic: String,
    partition: Int,
    offset: Long,
    timestamp: java.sql.Timestamp,
    key: String,
    value: String,
    error: String)

/** SASL options mirroring the reference's named parameters
  * (reference: src/kafquack_extension.cpp:216-221).
  */
case class SaslConfig(
    securityProtocol: String,
    saslMechanism: String = "PLAIN",
    username: String = null,
    password: String = null)

/** Spark-native equivalent of the reference's `kafka_consumer` table function
  * (reference: src/kafquack_extension.cpp:68-230).
  *
  * The reference is a single-threaded (MaxThreads()==1, cpp:63-65), per-message
  * sync-committing (cpp:199-203) pull scan. The Spark mapping is Structured
  * Streaming's Kafka source: partition-parallel reads with batch-checkpointed
  * offsets — a strict upgrade documented in SURVEY.md §1.4. Argument
  * validation reproduces the reference's four bind-time error cases verbatim
  * (cpp:80-99) so a user of the reference sees the same error surface.
  */
object KafkaSource {

  /** The reference's hard-coded output schema (cpp:101-110). */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true),
    StructField("error", StringType, nullable = true)))

  val ValidProtocols: Set[String] = Set("SASL_SSL", "SASL_PLAINTEXT") // cpp:80-82
  val ValidMechanisms: Set[String] = Set("SCRAM-SHA-256", "PLAIN")    // cpp:85-87
  /** cpp:216-221 plus `partitions` and `start_ts`/`end_ts` — the two
    * pushdowns a Kafka scan CAN do (partition pruning via assign,
    * offset-range pruning via broker timestamp lookup), both of which the
    * reference declines (subscribe-whole-topic, cpp:126,226-227).
    */
  val KnownNamedParams: Set[String] =
    Set("security_protocol", "sasl_mechanism", "username", "password",
      "partitions", "start_ts", "end_ts")

  /** Parse a `start_ts`/`end_ts` argument into a naive timestamp. */
  def parseTs(s: String, what: String): java.sql.Timestamp =
    try java.sql.Timestamp.valueOf(s)
    catch { case _: IllegalArgumentException =>
      throw new IllegalArgumentException(
        s"$what must be 'yyyy-mm-dd hh:mm:ss[.fff]', got '$s'")
    }

  /** Bind-time validation, error-for-error with the reference (cpp:77-99). */
  def validate(sasl: Option[SaslConfig]): Unit = sasl.foreach { c =>
    if (!ValidProtocols.contains(c.securityProtocol))
      throw new IllegalArgumentException(
        "security_protocol must be either SASL_SSL or SASL_PLAINTEXT") // cpp:81
    if (c.saslMechanism != null && !ValidMechanisms.contains(c.saslMechanism))
      throw new IllegalArgumentException(
        "sasl_mechanism must be either SCRAM-SHA-256 or PLAIN") // cpp:86
    if (c.username == null || c.username.isEmpty ||
        c.password == null || c.password.isEmpty)
      throw new IllegalArgumentException(
        "username and password are required when security_protocol is set") // cpp:98
  }

  /** Rejects unknown named parameters like the reference binder (cpp:92-94). */
  def validateNamedParams(params: Map[String, String]): Unit =
    params.keys.find(!KnownNamedParams.contains(_)).foreach { k =>
      throw new IllegalArgumentException(s"Unknown named parameter: $k")
    }

  /** The one bind-time argument check every entry point routes through —
    * builder API, SQL table function, and the replay harness share this
    * single error surface.
    */
  def validateArgs(brokers: String, topic: String, groupId: String,
      sasl: Option[SaslConfig]): Unit = {
    require(brokers != null && brokers.nonEmpty, "brokers is required")
    require(topic != null && topic.nonEmpty, "topic is required")
    require(groupId != null && groupId.nonEmpty, "group_id is required")
    validate(sasl)
  }

  /** Parse a `partitions` argument ('0,3') into a validated id list. */
  def parsePartitions(spec: String): Seq[Int] = {
    require(spec != null && spec.trim.nonEmpty,
      "partitions must be a non-empty comma-separated list of ids")
    val ids = spec.split(",").toSeq.map { s =>
      val t = s.trim
      require(t.nonEmpty && t.forall(_.isDigit),
        s"partitions: '$s' is not a non-negative integer")
      t.toInt
    }
    require(ids.distinct.size == ids.size,
      s"partitions: duplicate ids in '$spec'")
    ids
  }

  private[graft] def kafkaOptions(
      brokers: String, topic: String, groupId: String,
      sasl: Option[SaslConfig],
      partitions: Option[Seq[Int]] = None): Map[String, String] = {
    validateArgs(brokers, topic, groupId, sasl)
    partitions.foreach(p => require(p.nonEmpty && p.forall(_ >= 0),
      "partitions must be non-empty, non-negative ids"))
    // Partition-pruned reads use the connector's `assign` (explicit
    // TopicPartitions, connector option reference) instead of `subscribe`:
    // Spark then plans input partitions ONLY for the listed ids — at a
    // 100 TB topic the broker never streams the pruned partitions at all.
    val scope = partitions match {
      case Some(ps) =>
        "assign" -> s"""{"$topic":[${ps.sorted.mkString(",")}]}"""
      case None => "subscribe" -> topic // cpp:126
    }
    val base = Map(
      "kafka.bootstrap.servers" -> brokers, // cpp:113 metadata.broker.list
      scope,
      "kafka.group.id" -> groupId)          // cpp:115
    val sec = sasl.toSeq.flatMap { c =>
      val mech = Option(c.saslMechanism).getOrElse("PLAIN") // cpp:119-121 default
      Seq(
        "kafka.security.protocol" -> c.securityProtocol,
        "kafka.sasl.mechanism" -> mech,
        "kafka.sasl.jaas.config" ->
          (s"org.apache.kafka.common.security.${if (mech == "PLAIN") "plain.PlainLoginModule" else "scram.ScramLoginModule"} " +
            s"""required username="${jaasEscape(c.username)}" """ +
            s"""password="${jaasEscape(c.password)}";"""))
    }
    base ++ sec
  }

  /** JAAS double-quoted string escaping: backslash and double-quote must
    * be backslash-escaped or a credential containing either truncates /
    * corrupts the login-module config line (the reference hands
    * credentials straight to librdkafka properties, cpp:119-123, and has
    * the same seam for its `;`-terminated config strings).
    */
  private[graft] def jaasEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Project the Kafka connector's fixed schema onto the reference's 7
    * columns. `error` is synthesized NULL on the happy path (the Spark source
    * fails the query on consumer errors instead of emitting error rows —
    * SURVEY.md §1.3); decode stages repopulate it via [[withJsonDecoded]] etc.
    */
  def project(kafkaDf: DataFrame): DataFrame = kafkaDf.select(
    col("topic"),
    col("partition"),
    col("offset"),
    // Kafka timestamps are epoch-ms (cpp:175-176) — already ms precision.
    col("timestamp"),
    col("key").cast("string").as("key"),
    col("value").cast("string").as("value"),
    lit(null).cast("string").as("error"))

  /** The connector format [[stream]]/[[read]] resolve: `kafka` (the
    * spark-sql-kafka connector) unless `graft.kafka.format` overrides it
    * with another TableProvider class honoring the same option surface —
    * the integration seam that lets a broker-less environment drive the
    * FULL option map through real DataSourceV2 resolution (KafkaSourceSpec
    * does exactly that with a fake in-JVM source), and a production
    * deployment swap in a patched connector build without code changes.
    */
  private[graft] def connectorFormat(spark: SparkSession): String =
    spark.conf.get("graft.kafka.format", "kafka")

  /** Streaming scan — the `SELECT * FROM kafka_consumer(...)` equivalent.
    * Partition-parallel; offsets tracked in the query checkpoint, not broker
    * group commits (delivery-semantics upgrade over cpp:199-203).
    */
  def stream(spark: SparkSession, brokers: String, topic: String,
      groupId: String, sasl: Option[SaslConfig] = None,
      maxOffsetsPerTrigger: Option[Long] = None,
      partitions: Option[Seq[Int]] = None): DataFrame =
    project(spark.readStream.format(connectorFormat(spark))
      .options(streamOptions(brokers, topic, groupId, sasl,
        maxOffsetsPerTrigger, partitions))
      .load())

  /** The exact option map [[stream]] hands the Kafka source — split out
    * so specs can pin every connector option without a live broker
    * (there is none in the build environment; this is the unit-level
    * stand-in for the untestable live-subscribe path, cpp:125-129).
    */
  private[graft] def streamOptions(brokers: String, topic: String,
      groupId: String, sasl: Option[SaslConfig] = None,
      maxOffsetsPerTrigger: Option[Long] = None,
      partitions: Option[Seq[Int]] = None): Map[String, String] =
    kafkaOptions(brokers, topic, groupId, sasl, partitions) ++
      maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString)

  /** Batch twin (earliest→latest snapshot) for testability. With a time
    * range, the connector resolves offsets from broker timestamp indexes
    * (`startingTimestamp`/`endingTimestamp`, epoch-ms UTC) — offset-range
    * pruning: messages outside the range are never fetched at all, the
    * second scan-level pushdown the reference declines (cpp:226-227).
    */
  def read(spark: SparkSession, brokers: String, topic: String,
      groupId: String, sasl: Option[SaslConfig] = None,
      partitions: Option[Seq[Int]] = None,
      startTs: Option[java.sql.Timestamp] = None,
      endTs: Option[java.sql.Timestamp] = None): DataFrame =
    project(spark.read.format(connectorFormat(spark))
      .options(readOptions(brokers, topic, groupId, sasl, partitions,
        startTs, endTs))
      .load())

  /** The exact option map [[read]] hands the Kafka source (see
    * [[streamOptions]] for why it is split out).
    */
  private[graft] def readOptions(brokers: String, topic: String,
      groupId: String, sasl: Option[SaslConfig] = None,
      partitions: Option[Seq[Int]] = None,
      startTs: Option[java.sql.Timestamp] = None,
      endTs: Option[java.sql.Timestamp] = None): Map[String, String] = {
    for (s <- startTs; e <- endTs) require(s.before(e),
      s"start_ts ($s) must precede end_ts ($e)")
    val start = startTs match {
      case Some(t) => "startingTimestamp" -> t.getTime.toString
      case None => "startingOffsets" -> "earliest"
    }
    kafkaOptions(brokers, topic, groupId, sasl, partitions) + start ++
      endTs.map(t => "endingTimestamp" -> t.getTime.toString)
  }

  /** Session conf: when set to a testdata directory, the SQL
    * `kafka_consumer(...)` table function reads the deterministic
    * [[replay]] of that directory's `events` table instead of a live
    * broker — the zero-infrastructure test harness for the SQL surface.
    */
  val ReplayConfKey = "spark.graft.kafka.replayDir"

  /** SQL table-function surface — the reference's front door:
    * `SELECT * FROM kafka_consumer('host:9092', 'topic', 'group')`
    * (reference: README.md:13, registration src/kafquack_extension.cpp:223-229).
    *
    * Positional arguments are (brokers, topic, group_id); the reference's
    * named security parameters arrive as SQL named arguments
    * (`security_protocol => 'SASL_SSL', username => ..., password => ...`)
    * and reproduce the reference's bind-time error surface exactly,
    * including "Unknown named parameter" (cpp:92-94). A SQL SELECT returns
    * rows, so this maps to the batch snapshot [[read]] (earliest→latest);
    * the continuous pipeline is [[stream]]. With [[ReplayConfKey]] set the
    * relation is the broker-free [[replay]] source instead.
    */
  def consumerPlan(spark: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case l if l.foldable && l.dataType == StringType =>
        val v = l.eval()
        if (v == null) null else v.toString
      case other => throw new IllegalArgumentException(
        s"kafka_consumer: $what must be a string literal, got $other")
    }
    val (namedArgs, positional) =
      args.partition(_.isInstanceOf[NamedArgumentExpression])
    if (positional.length != 3)
      throw new IllegalArgumentException(
        "kafka_consumer requires 3 positional arguments: " +
          "(brokers, topic, group_id)")
    val named = namedArgs.collect {
      case NamedArgumentExpression(k, v) => k -> str(v, k)
    }.toMap
    validateNamedParams(named)
    val Seq(brokers, topic, groupId) = positional.zip(
      Seq("brokers", "topic", "group_id")).map((str _).tupled)
    val sasl = named.get("security_protocol").map(sp =>
      SaslConfig(sp, named.getOrElse("sasl_mechanism", "PLAIN"),
        named.getOrElse("username", null), named.getOrElse("password", null)))
    // `partitions => '0,3'` — partition-pruned scan (assign), and
    // `start_ts`/`end_ts => 'yyyy-mm-dd hh:mm:ss'` — broker-side
    // offset-range pruning: the two upgrades the reference declines
    // (cpp:226-227). All parsed/validated at bind time.
    val parts = named.get("partitions").map(parsePartitions)
    val startTs = named.get("start_ts").map(parseTs(_, "start_ts"))
    val endTs = named.get("end_ts").map(parseTs(_, "end_ts"))
    for (s <- startTs; e <- endTs) require(s.before(e),
      s"start_ts ($s) must precede end_ts ($e)")
    val df = spark.conf.getOption(ReplayConfKey) match {
      case Some(dir) =>
        // Broker-free harness path: same validation, same 7-col schema,
        // same pruning semantics (partition filter ≈ assign; timestamp
        // range ≈ startingTimestamp/endingTimestamp, inclusive-exclusive
        // like the connector's offset resolution).
        kafkaOptions(brokers, topic, groupId, sasl, parts) // arg-surface parity
        val base = replay(graft.Tables.load(spark, dir, "events"), topic)
        val pruned = parts.fold(base)(ps =>
          base.filter(col("partition").isin(ps: _*)))
        val fromTs = startTs.fold(pruned)(t => pruned.filter(
          col("timestamp") >= to_timestamp_ntz(lit(t.toString))))
        endTs.fold(fromTs)(t => fromTs.filter(
          col("timestamp") < to_timestamp_ntz(lit(t.toString))))
      case None =>
        read(spark, brokers, topic, groupId, sasl, parts, startTs, endTs)
    }
    df.queryExecution.logical
  }

  // ---------------------------------------------------------------------
  // FileReplaySource: the events fixture projected into the exact 7-column
  // kafka_consumer shape, so the whole downstream surface is testable with
  // zero broker infrastructure (SURVEY.md §7 step 1).
  // ---------------------------------------------------------------------

  /** Deterministic replay of the `events` table as a kafka_consumer relation.
    *
    *  - topic     := constant topic name
    *  - partition := event_id % numPartitions (stable partitioner)
    *  - offset    := event_id (monotone per partition)
    *  - timestamp := ts truncated to epoch-ms (cpp:175-176 ms precision)
    *  - key       := event_type (message key)
    *  - value     := props (the JSON payload)
    *  - error     := simulated broker error on a deterministic 1/97 slice,
    *                 with value NULLed — preserves the errors-as-data
    *                 invariant `value IS NULL XOR error IS NULL` (cpp:189-197)
    */
  def replay(events: DataFrame, topic: String = "events",
      numPartitions: Int = 8): DataFrame = {
    val isErr = col("event_id") % 97 === 0
    events.select(
      lit(topic).as("topic"),
      (col("event_id") % numPartitions).cast("int").as("partition"),
      col("event_id").cast("long").as("offset"),
      date_trunc("millisecond", col("ts")).as("timestamp"),
      col("event_type").as("key"),
      when(isErr, lit(null)).otherwise(col("props")).as("value"),
      when(isErr, lit("simulated broker error")).otherwise(lit(null))
        .cast("string").as("error"))
  }

  /** Decode stage demonstrating errors-as-data downstream of the scan: rows
    * whose payload fails JSON decoding get error=<reason> instead of failing
    * the query (the reference's model, cpp:189-197). Such a row's value
    * becomes NULL so it keeps `value IS NULL XOR error IS NULL`; the raw
    * payload survives in the error text. Malformed input is detected via
    * a corrupt-record field appended to the schema; a blank payload, which
    * PERMISSIVE from_json turns into a NULL struct, is undecodable too.
    */
  def withJsonDecoded(records: DataFrame, jsonSchema: StructType,
      decodedCol: String = "decoded"): DataFrame = {
    val corrupt = "_corrupt_json"
    val augmented = StructType(jsonSchema.fields :+
      StructField(corrupt, StringType))
    val parsed = from_json(col("value"), augmented,
      Map("columnNameOfCorruptRecord" -> corrupt, "mode" -> "PERMISSIVE"))
    val undecodable = col("error").isNull && col("value").isNotNull &&
      (col("__p").isNull || col("__p").getField(corrupt).isNotNull)
    records.withColumn("__p", parsed)
      .withColumn("__bad", undecodable)
      .withColumn("error", when(col("__bad"),
        concat(lit("json decode error: "), col("value")))
        .otherwise(col("error")))
      .withColumn("value", when(!col("__bad"), col("value")))
      .withColumn(decodedCol,
        when(col("__p").getField(corrupt).isNull, col("__p").dropFields(corrupt)))
      .drop("__p", "__bad")
  }
}
