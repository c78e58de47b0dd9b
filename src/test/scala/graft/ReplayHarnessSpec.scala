package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.queries.{Extras6, Extras7}
import graft.streaming.StreamOps

/** The k-family replay harness ([[StreamOps.runReplay]]) scopes two
  * session confs and one temp dir around every replay: it must hand all
  * three back however the run ends, and must not touch a provider the
  * caller chose when it was not asked to scope one.
  */
class ReplayHarnessSpec extends SparkSpec {

  private val partitionsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def replayDirs(): Set[java.nio.file.Path] =
    scala.util.Using.resource(
        Files.list(Paths.get(System.getProperty("java.io.tmpdir")))) {
      _.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-replay")).toSet
    }

  /** Runs `body` with `key` set to `value` (unset for None), restoring
    * the session's own setting after.
    */
  private def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getAll.get(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a replay that fails at run time propagates the failure, restores " +
      "the state-partition count, unsets the provider it scoped and " +
      "deletes its temp dirs") {
    val src = Extras7.k23Slices(spark, sf)
    val marker = "replay-harness-injected-failure"
    val boom =
      udf((_: Long) => (throw new IllegalStateException(marker)): Long)
    // a ceiling above the adaptive floor, so the harness's own value
    // differs from the one it must restore
    withConf(partitionsKey, Some("9")) {
      val sized = StreamOps.adaptiveStatePartitions(spark,
        StreamOps.pathBytes(src)).toString
      assert(sized !== "9")
      withConf(providerKey, None) {
        val before = replayDirs()
        var seenPartitions, seenProvider: Option[String] = None
        var during = Set.empty[java.nio.file.Path]
        val e = intercept[Exception] {
          StreamOps.runReplay(spark, Seq(src), Seq(col("user_id")),
              rocksDb = true) {
            seenPartitions = spark.conf.getOption(partitionsKey)
            seenProvider = spark.conf.getOption(providerKey)
            during = replayDirs() -- before
            StreamOps.fileReplay(spark, src)
              .select(boom(col("user_id")).as("user_id"))
          }
        }
        assert(Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains(marker))),
          s"the run-time failure did not propagate: $e")
        assert(seenPartitions === Some(sized),
          "the harness did not size state partitions for the run")
        assert(seenProvider === Some(rocksDb),
          "rocksDb = true did not set the RocksDB provider for the run")
        assert(spark.conf.get(partitionsKey) === "9")
        assert(!spark.conf.getAll.contains(providerKey),
          "the provider the harness scoped outlived the failed run")
        assert(during.nonEmpty, "no replay temp dir was seen during the run")
        assert(during.forall(p => !Files.exists(p)),
          s"replay temp dirs survived the failed run: $during")
      }
    }
  }

  test("rocksDb = false leaves a caller-set provider in force and in " +
      "place") {
    val src = Extras6.k20SliceRoot(spark, sf).resolve("l")
    withConf(providerKey, Some(rocksDb)) {
      val run = StreamOps.runReplay(spark, Seq(src),
          Seq(col("bucket"), col("key"))) {
        StreamOps.windowedCounts(StreamOps.fileReplay(spark, src)
            .select(col("ts"), col("user_id").as("key")),
          timeCol = "ts", windowLen = "1 day", lateness = "1 day")
      }
      assert(run.dataBatches >= 3)
      assert(run.rocksDbEngaged,
        "the caller's RocksDB provider did not serve the replay's state")
      assert(spark.conf.getOption(providerKey) === Some(rocksDb))
    }
  }
}
