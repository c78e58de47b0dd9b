package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator/capability from SURVEY.md §2;
  * [[oracleSql]] carries the DuckDB-equivalent SQL the driver hash-compares
  * against at sf0.01.
  */
object SparkEntry {

  private val groups: Seq[(Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    (Relational.defs, Relational.oracles),
    (Relational2.defs, Relational2.oracles),
    (KafkaParity.defs, KafkaParity.oracles),
    (NorthStar.defs, NorthStar.oracles),
    (Pipeline.defs, Pipeline.oracles),
    (Extras.defs, Extras.oracles),
    (Extras2.defs, Extras2.oracles),
    (Extras3.defs, Extras3.oracles),
    (Extras4.defs, Extras4.oracles),
    (Extras5.defs, Extras5.oracles),
    (Extras6.defs, Extras6.oracles),
    (Extras7.defs, Extras7.oracles),
    (Extras8.defs, Extras8.oracles),
    (Extras9.defs, Extras9.oracles),
    (Extras10.defs, Extras10.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(groups.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = merged(groups.map(_._2))

  /** Union of the per-group maps; a name defined in two groups fails here
    * instead of one definition silently shadowing the other. */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val all = maps.reduce(_ ++ _)
    require(all.size == maps.map(_.size).sum, {
      val dups = maps.flatMap(_.keys).groupBy(identity)
        .collect { case (k, ks) if ks.size > 1 => k }.toSeq.sorted
      s"duplicate query names across groups: ${dups.mkString(", ")}"
    })
    all
  }
}
