package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Canonical session factory for the graft engine.
  *
  * Local mode is one JVM with `cores` executor threads (`SPARK_GRAFT_CPUS`,
  * default 32), and `spark.sql.shuffle.partitions` is that same count; AQE
  * coalesces small post-shuffle partitions either way. A cluster session
  * is not built here: it sets `spark.sql.shuffle.partitions` itself on
  * submit.
  *
  * `file:` is bound to [[graft.io.ForkFreeLocalFileSystem]] and, for
  * `FileContext`, [[graft.io.ForkFreeLocalFs]] (`spark.hadoop.fs.file.impl`,
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`). Without `libhadoop`,
  * which stock Spark distributions and pip installs do not ship, Hadoop's
  * local filesystem runs `chmod` as a child process for every file and
  * directory it creates, `.crc` files included, and `readlink` on both
  * sides of every `FileContext` rename. Every micro-batch checkpoints
  * through those calls (offset WAL, source log, sink log, commit log,
  * state-store deltas), as does every file-sink and parquet write, so the
  * forks set the floor of a live query's commit. The two classes set the
  * same bits and read links through java.nio; the sticky bit, a
  * filesystem without POSIX attributes and real symlinks fall back to the
  * stock code, and `.crc` files and Spark's `FileContext` checkpoint
  * manager stay. HDFS and object stores are untouched. Deployments that
  * install only [[GraftExtensions]] pass both confs on submit.
  *
  * Every session built here carries [[GraftExtensions]]: the native SQL
  * functions, the table functions (`kafka_consumer`, the corpus TVFs) and
  * three rules that plan an input below AQE's coalescing floor as one
  * partition, one each for reads, joins and sorts (listed in the
  * [[GraftExtensions]] scaladoc). Extensions apply only when
  * `getOrCreate` builds the session; a session that already exists is
  * returned as it is.
  */
object GraftSession {

  /** Bound on Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Spark's default
    * is smaller than one batch working set: the six perfbench batch-llm
    * queries generate about 210 distinct classes, so with 100 entries
    * every warm pass evicts and recompiles about 90 of them (about 1 s of
    * a 3.5 s pass on 4 cores). With 1024 nothing of that mix is evicted.
    *
    * Why a bound at all, and why this one:
    *  - one pass over all 329 queries generates 5133 classes, and on a
    *    second pass 721 of them come out different (mostly the k-family
    *    streaming replays), so no cap fits "everything" for long;
    *  - a live stream compiles about 0.7 new classes per second in steady
    *    state, so an unbounded cache would grow for the life of a stream;
    *  - each cached class costs about 30 KB of metaspace, so 1024 entries
    *    hold the cost near 30 MB.
    *
    * Static conf: Spark reads it once, when `CodeGenerator` is first
    * initialised, so it only takes effect in a JVM whose first session is
    * built here. Deployments that install only [[GraftExtensions]] must
    * pass it on submit.
    */
  val CodegenCacheMaxEntries: Long = 1024

  def create(appName: String = "graft",
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Some fixture generations write events.ts as nanosecond parquet,
      // unreadable without this flag (Tables.load converts the long back
      // to microsecond TIMESTAMP_NTZ); inert on microsecond fixtures.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.ForkFreeLocalFs].getName)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dropHadoopConfSources(spark)
    spark
  }

  /** Drops the per-key source lists from the session's base Hadoop
    * `Configuration`, its private `updatingResource` map.
    *
    * Spark serializes the Hadoop conf into every write job's task binary
    * and into every parquet scan's broadcast. For each of its ~1.1k
    * properties `Configuration.write` also writes the list of resources
    * that set it, gzipped entry by entry, and `readFields` gunzips each
    * one again: 112 KB, about 4.5 ms to write and 3.5 ms to read with
    * the lists, against 68 KB and about 1 ms each without them (1098
    * properties, 4-core host). Every `sessionState.newHadoopConf()`
    * copies the base conf's map, so clearing it once shrinks every copy.
    *
    * Order matters. `Configuration.addDefaultResource` reloads every live
    * conf, which fills the map again. So the classes whose static init
    * registers default resources run first: `JobConf` and `Job`
    * (mapred and yarn defaults; otherwise the first parquet or file-sink
    * write runs it) and `HdfsConfiguration`. Then the base conf is loaded
    * and the map cleared. `YarnConfiguration` registers
    * `resource-types.xml` and would refill it too; local mode never
    * loads it.
    *
    * No key or value changes. What is lost is provenance: for the keys
    * loaded so far `getPropertySources` returns null and `writeXml`
    * writes no `<source>`, and Hadoop's deprecation messages no longer
    * name the resource that set a deprecated key. Keys set later record
    * their source as before. If the field is missing or not accessible,
    * one WARN line is logged and nothing is cleared.
    */
  private def dropHadoopConfSources(spark: SparkSession): Unit =
    try {
      Seq("org.apache.hadoop.mapred.JobConf",
          "org.apache.hadoop.mapreduce.Job",
          "org.apache.hadoop.hdfs.HdfsConfiguration")
        .foreach(Class.forName(_, true, classOf[Configuration].getClassLoader))
      val conf = spark.sparkContext.hadoopConfiguration
      conf.size()
      val field = classOf[Configuration].getDeclaredField("updatingResource")
      field.setAccessible(true)
      field.get(conf).asInstanceOf[java.util.Map[_, _]].clear()
    } catch {
      case e @ (_: ReflectiveOperationException | _: RuntimeException |
          _: LinkageError) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Hadoop conf keeps its per-key source lists: $e")
    }
}
