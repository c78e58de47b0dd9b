package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class ExtensionsSpec extends SparkSpec {

  test("native functions are callable from SQL after registration") {
    val r = spark.sql("""
      SELECT array_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
             simhash60('the quick brown fox') AS sh,
             size(minhash_signature('a b c d e f')) AS k,
             size(word_shingles('a b c d')) AS ns""").collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getLong(1) >= 0L)
    assert(r.getInt(2) === 16)
    assert(r.getInt(3) === 2)
    val r2 = spark.sql("""
      SELECT size(feature_buckets('a b c')) AS nf,
             size(gram_hashes('a b c d e f g h i')) AS ng,
             nearest_entry(array(1.0d, 0.0d),
               array(named_struct('id', 1L, 'v', array(0.0d, 0.0d)),
                     named_struct('id', 2L, 'v', array(1.0d, 0.0d)))).id AS ne
      """).collect()(0)
    assert(r2.getInt(0) === 5)  // 3 unigrams + 2 bigrams
    assert(r2.getInt(1) === 2)  // positions 1..2 carry full 8-grams
    assert(r2.getLong(2) === 2L)
  }

  test("SQL minhash matches the Column-API minhash") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    docs.createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_signature(text) AS sig FROM docs_ext")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaApi = graft.operators.Dedup.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql === viaApi)
  }

  test("partition-pruned scan reads only the filtered partition") {
    val out = java.nio.file.Files.createTempDirectory("prune").toString
    graft.sources.KafkaSource.replay(Tables.load(spark, sf, "events"))
      .write.mode("overwrite").partitionBy("partition").parquet(out)
    val df = spark.read.parquet(out).filter(col("partition") === 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the partition filter must prune at planning, not post-scan
    assert(plan.contains("PartitionFilters: [isnotnull(partition"), plan)
    assert(df.count() ===
      graft.sources.KafkaSource.replay(Tables.load(spark, sf, "events"))
        .filter(col("partition") === 3).count())
  }

  test("frame sampling emits strided deterministic frames") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789abcdefghijkl"))
      .toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val frames = Multimodal.withFrameSamples(df).collect()
    assert(frames.length === 4) // 48 bytes, stride 12, 4 frames in range
    assert(frames.map(_.getInt(1)).toSeq === Seq(0, 1, 2, 3))
  }

  test("corpus TVFs: SQL minhash_pairs/doc_quality/dedup_corpus match " +
      "the Scala operators; bind errors are loud") {
    val path = s"$sf/documents.parquet"
    val docs = spark.read.parquet(path)
    val sqlPairs = spark.sql(s"SELECT * FROM minhash_pairs('$path')")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val apiPairs = graft.operators.Dedup.minhashPairs(docs)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(sqlPairs === apiPairs && sqlPairs.nonEmpty)
    assert(spark.sql(s"SELECT * FROM doc_quality('$path')").count() ===
      docs.count())
    val kept = spark.sql(
      s"SELECT count(*) AS n FROM dedup_corpus('$path')").collect()(0)
      .getLong(0)
    val apiKept = graft.operators.Dedup.dropNearDuplicates(docs,
      graft.operators.Dedup.minhashPairs(docs).select(col("a"), col("b")))
      .count()
    assert(kept === apiKept && kept < docs.count())
    // bind errors: wrong arity, non-literal path
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM minhash_pairs('a', 'b')"))
    assert(e1.getMessage.contains("exactly 1 argument"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM dedup_corpus(doc_id)"))
    assert(e2.getMessage != null)
  }
}
