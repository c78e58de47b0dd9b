package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.graft.StockHadoopConf

import graft.queries.Shared

/** `GraftSession.create` drops the per-key source lists from the
  * session's base Hadoop conf, so the copies Spark serializes into write
  * tasks and scan broadcasts carry none. A default resource registered
  * later reloads every live conf and brings the lists back, so the check
  * runs after a parquet write (whose first run initialises
  * `mapreduce.Job`) and a k-family replay.
  */
class HadoopConfSourcesSpec extends SparkSpec {

  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  test("after a parquet write and a k-family replay no Hadoop conf copy " +
      "names a default or site resource, and no key or value changed") {
    val out = Files.createTempDirectory("graft-confsrc")
    try SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .write.parquet(out.resolve("q01").toString)
    finally Shared.deleteTree(out)
    assert(SparkEntry.queries("k18_streaming_counts")(spark, sf).count() > 0)

    val conf = spark.sessionState.newHadoopConf()
    val fromResources = entries(conf).keys.toSeq.sorted.flatMap { k =>
      Option(conf.getPropertySources(k)).toSeq.flatten
        .filter(s => s.endsWith("-default.xml") || s.endsWith("-site.xml"))
        .map(s => s"$k <- $s")
    }
    assert(conf.size() > 1000, "the session conf lost its defaults")
    assert(fromResources.isEmpty,
      s"${fromResources.size} keys keep their source lists, e.g. " +
        fromResources.take(3).mkString("; "))

    // local mode never loads YarnConfiguration; its static init would
    // register resource-types.xml and refill every conf's lists
    val findLoaded = classOf[ClassLoader]
      .getDeclaredMethod("findLoadedClass", classOf[String])
    findLoaded.setAccessible(true)
    assert(findLoaded.invoke(classOf[Configuration].getClassLoader,
      "org.apache.hadoop.yarn.conf.YarnConfiguration") == null)

    // the conf the SparkContext would build now, after the same class
    // inits, holds the same pairs
    val sc = spark.sparkContext
    val (live, stock) = (entries(sc.hadoopConfiguration),
      entries(StockHadoopConf(sc)))
    val differ = (live.keySet ++ stock.keySet).toSeq.sorted
      .filter(k => live.get(k) != stock.get(k))
      .map(k => s"$k: ${live.get(k)} vs ${stock.get(k)}")
    assert(differ.isEmpty, differ.take(5).mkString("; "))
  }
}
