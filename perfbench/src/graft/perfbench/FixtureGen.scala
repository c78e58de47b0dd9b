package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** The batch workload's fixture: the ten tables of the engine's fixture
  * layout (`<dir>/<table>.parquet`, one file each) at scale factor `sf`.
  *
  * Every value is a hash of (salt, row id), so the output is the same on
  * every host and for every partitioning, and the goldens in
  * `goldens.json` stay valid. The distributions follow the engine's
  * test fixtures: uniform foreign keys, a 1995-2001 order calendar, a
  * 30-day monotone event stream with JSON props, 5% appended-" dup"
  * near-duplicate documents and unit-norm 64-dim embeddings with weak
  * label clusters. It uses a plain SparkSession and no engine code, so a
  * change to the engine cannot change the inputs it is measured on.
  *
  * Usage: FixtureGen <outDir> <sf>
  */
object FixtureGen {

  private def u(salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(1000000000L))
      .cast("double") / 1e9

  private def ui(salt: Int, n: Int, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(n.toLong)).cast("int")

  private def pick(salt: Int, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), ui(salt, values.size, cols: _*) + 1)

  private def money(salt: Int, lo: Double, hi: Double, cols: Column*): Column =
    round(u(salt, cols: _*) * (hi - lo) + lo, 2)

  private def writeOne(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Paths.get(dir, s".tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $name"))
    Files.move(part, Paths.get(dir, s"$name.parquet"))
    Report.deleteTree(tmp)
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, sfStr) = args
    val sf = sfStr.toDouble
    val spark = SparkSession.builder().appName("perfbench-fixtures")
      .master(s"local[${Report.cores}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    Files.createDirectories(Paths.get(outDir))
    val id = col("id")

    writeOne(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
        (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), outDir, "region")
    writeOne(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), outDir, "nation")

    val nSupp = math.max(10, (10000 * sf).toInt)
    val nCust = math.max(150, (150000 * sf).toInt)
    val nPart = math.max(200, (200000 * sf).toInt)
    writeOne(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(1, 25, id).as("s_nationkey"),
      money(2, 0, 10000, id).as("s_acctbal")), outDir, "supplier")
    writeOne(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(3, 25, id).as("c_nationkey"),
      money(4, -1000, 10000, id).as("c_acctbal"),
      pick(5, Seq("AUTOMOBILE", "BUILDING", "MACHINERY", "FURNITURE",
        "HOUSEHOLD"), id).as("c_mktsegment")), outDir, "customer")
    writeOne(spark.range(nPart).select(id.as("p_partkey"),
      concat(pick(6, Seq("small", "red", "blue", "old", "hot", "large",
          "new", "cold"), id), lit(" "),
        pick(7, Seq("gizmo", "anvil", "widget", "ring", "gear", "bolt",
          "plate", "rod"), id)).as("p_name"),
      concat(lit("Brand#"), (ui(8, 25, id) + 1)).as("p_brand"),
      pick(9, Seq("STANDARD", "LARGE", "ECONOMY", "SMALL", "MEDIUM",
        "PROMO"), id).as("p_type"),
      (ui(10, 50, id) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice")),
      outDir, "part")

    val nOrders = math.max(1500, (1500000 * sf).toInt)
    val nLines = math.max(6000, (6000000 * sf).toInt)
    def orderDate(k: Column): Column =
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        ui(11, 2405, k)).cast(TimestampNTZType)
    writeOne(spark.range(nOrders).select(id.as("o_orderkey"),
      ui(12, nCust, id).cast("long").as("o_custkey"),
      pick(13, Seq("P", "O", "F"), id).as("o_orderstatus"),
      money(14, 1000, 500000, id).as("o_totalprice"),
      orderDate(id).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority")), outDir, "orders")
    writeOne(spark.range(nLines)
      .withColumn("l_orderkey", ui(16, nOrders, id).cast("long"))
      .select(col("l_orderkey"),
        ui(17, nPart, id).cast("long").as("l_partkey"),
        ui(18, nSupp, id).cast("long").as("l_suppkey"),
        (ui(19, 7, id) + 1).as("l_linenumber"),
        (ui(20, 50, id) + 1).cast("double").as("l_quantity"),
        money(21, 900, 105000, id).as("l_extendedprice"),
        (ui(22, 11, id) * lit(0.01)).as("l_discount"),
        (ui(23, 9, id) * lit(0.01)).as("l_tax"),
        pick(24, Seq("A", "N", "R"), id).as("l_returnflag"),
        pick(25, Seq("O", "F"), id).as("l_linestatus"),
        (orderDate(col("l_orderkey")).cast("date") +
          make_dt_interval(ui(26, 95, id).cast("long") + 1))
          .cast(TimestampNTZType).as("l_shipdate")),
      outDir, "lineitem")

    val nEvents = math.max(1000, (1000000 * sf).toInt)
    val nUsers = math.max(150, (15000 * sf).toInt)
    val spanUs = 30L * 86400 * 1000000
    writeOne(spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        ((id.cast("double") + u(27, id)) * (spanUs.toDouble / nEvents))
          .cast("long")).cast(TimestampNTZType).as("ts"),
      ui(28, nUsers, id).cast("long").as("user_id"),
      pick(29, Seq("click", "view", "purchase", "signup", "error"), id)
        .as("event_type"),
      round(-lit(50.0) * log(lit(1.0) - u(30, id) + lit(1e-12)), 2)
        .as("value"),
      format_string("{\"k\": %d}", ui(31, 100, id)).as("props")),
      outDir, "events")

    val nDocs = math.max(500, (50000 * sf).toInt)
    val vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
      "column", "filter", "small", "slow", "merge", "order", "vector",
      "line", "data", "table", "agg", "value", "key", "stream", "window",
      "spark", "a", "part", "group", "big", "sort", "query", "fast", "the")
    val isDup = ui(32, 20, id) === 0
    val baseId = pmod(xxhash64(lit(33), id), lit(nDocs.toLong - 1))
    val genId = when(isDup, when(baseId === id, baseId + 1)
      .otherwise(baseId)).otherwise(id)
    val nWords = ui(34, 90, genId) + 10
    val baseText = array_join(transform(sequence(lit(1), nWords),
      i => element_at(array(vocab.map(lit): _*),
        ui(35, vocab.size, genId, i) + 1)), " ")
    val text = when(isDup, concat(baseText,
        when(ui(36, 8, id) === 0, lit(" dup dup")).otherwise(lit(" dup"))))
      .otherwise(baseText)
    writeOne(spark.range(nDocs).select(id.as("doc_id"), text.as("text"),
      when(u(37, id) < 0.44, lit("en")).otherwise(
        pick(38, Seq("de", "zh", "fr", "es"), id)).as("lang"),
      concat(lit("src"), ui(39, 20, id)).as("source"),
      length(text).cast("long").as("n_chars")), outDir, "documents")

    val nVecs = math.max(500, (20000 * sf).toInt)
    val lbl = ui(40, 10, id)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (u(41, lbl, j) * 2 - 1) * 0.03 +
        sqrt(-lit(2.0) * log(u(42, id, j) + lit(1e-12))) *
          cos(u(43, id, j) * lit(2 * math.Pi)) * lit(0.125))
    writeOne(spark.range(nVecs)
      .select(id.as("vec_id"), raw.as("r"), lbl.as("label"))
      .withColumn("nrm", sqrt(aggregate(col("r"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("r"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label")), outDir, "embeddings")

    spark.stop()
  }
}
