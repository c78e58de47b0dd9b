package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark caches compiled generated classes JVM-wide in an LRU of
  * `spark.sql.codegen.cache.maxEntries` entries. GraftSession sizes it to
  * the engine's working set, so running the same queries again compiles
  * nothing; at Spark's default of 100 the second pass over this mix
  * recompiles about 55-60 evicted classes at sf0.001.
  */
class CodegenCacheSpec extends SparkSpec {

  /** The perfbench batch-llm mix: one query per codegen kernel family,
    * reading every session-shared artifact between them. */
  private val mix = Seq("d02_minhash_pairs", "s01_knn_brute",
    "t14_bpe_encode", "m06_payload_neardup", "g18_reach_summary",
    "g19_pair_index")

  /** Classes compiled while running every query of the mix once, each
    * executed in full through the noop sink. */
  private def compilesInPass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach(n => SparkEntry.queries(n)(spark, sf)
      .write.format("noop").mode("overwrite").save())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over the batch-llm mix compiles no class") {
    // AQE numbers whole-stage codegen stages in the order their inputs
    // finish, and the stage id is part of the generated class name, so a
    // pass now and then renames an otherwise identical class. Without the
    // id in the name, a recompile can only come from an eviction.
    val idInName = "spark.sql.codegen.useIdInClassName"
    spark.conf.set(idInName, "false")
    try {
      val first = compilesInPass()
      val second = compilesInPass()
      assert(second === 0L, s"second pass recompiled $second classes " +
        s"(first pass compiled $first)")
    } finally spark.conf.unset(idInName)
  }
}
