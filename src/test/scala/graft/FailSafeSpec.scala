package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Graph, Similarity}
import graft.queries.Shared
import graft.streaming.StreamOps

/** Outside the local fixture the engine chooses the conservative branch:
  * an input it cannot size gets the session's state-partition ceiling
  * and per-hop checkpoints, and a driver-side collect past its bound
  * fails instead of pulling an unbounded set.
  */
class FailSafeSpec extends SparkSpec {

  private def ceiling = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def assertConservative(bytes: Long): Unit = {
    assert(bytes === StreamOps.UnknownBytes)
    assert(StreamOps.adaptiveStatePartitions(spark, bytes) === ceiling)
    assert(Graph.adaptiveHopCheckpoint(bytes))
  }

  test("a missing path sizes as unknown and picks the conservative branch") {
    val tmp = Files.createTempDirectory("graft-failsafe")
    try {
      val missing = tmp.resolve("no-such-table.parquet")
      assertConservative(StreamOps.pathBytes(missing))
      // one unknown input makes the whole sum unknown
      assertConservative(StreamOps.pathBytes(tmp, missing))
    } finally Shared.deleteTree(tmp)
  }

  test("a non-local path sizes as unknown and picks the conservative " +
      "branch") {
    assertConservative(StreamOps.pathBytes(
      Paths.get("s3a://bucket/warehouse", "events.parquet")))
  }

  test("paths that exist keep their size, summed across inputs") {
    val tmp = Files.createTempDirectory("graft-failsafe")
    try {
      assert(StreamOps.pathBytes(tmp) === 0L)
      Files.write(tmp.resolve("a"), Array.fill[Byte](10)(1))
      Files.write(Files.createDirectory(tmp.resolve("d")).resolve("b"),
        Array.fill[Byte](5)(1))
      assert(StreamOps.pathBytes(tmp) === 15L)
      assert(StreamOps.pathBytes(tmp.resolve("a"), tmp.resolve("d")) === 15L)
    } finally Shared.deleteTree(tmp)
  }

  test("the IVF probed-cell collect fails past |Q|·nprobe cells") {
    val probes = spark.range(10).withColumnRenamed("id", "cell")
    assert(Similarity.probedCells(probes, 10).sorted.toSeq === (0L until 10L))
    val e = intercept[IllegalStateException](
      Similarity.probedCells(probes, 9))
    assert(e.getMessage.contains("more than 9 distinct cells"))
  }
}
