package graft

import java.nio.file.{Files, Path, Paths}

import graft.queries.Shared

/** Shared-artifact lifecycle (VERDICT r8 item 5 / ADVICE r8): stopping a
  * session must delete the pair-index temp dirs its Shared builds created
  * and evict its memo entries (same listener). Runs as its own suite
  * with a dedicated stop/recreate cycle; suites execute sequentially in
  * the forked test JVM, so no other suite is mid-flight when the context
  * stops, and the next suite's GraftSession.create simply builds a fresh
  * context (getOrCreate discards a stopped default session).
  */
class SharedLifecycleSpec extends SparkSpec {

  private def listPairDirs(): Set[Path] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(tmp))(
      _.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-pair-index"))
        .toSet)
  }

  test("stopping the session deletes its Shared pair-index temp dirs") {
    val s = GraftSession.create("graft-lifecycle-test", "4")
    // A corpus dir no other suite uses: Shared memoizes per (app, dir),
    // so pointing at sf0.001 directly would cache-hit when an earlier
    // suite in the same JVM already built that pair index (observed in
    // the full run) and this test would see no new temp dir.
    val corpus = Files.createTempDirectory("graft-lifecycle-corpus")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      corpus.resolve("documents.parquet"))
    val before = listPairDirs()
    assert(Shared.pairs(s, corpus.toString).count() >= 0)
    val created = listPairDirs() -- before
    assert(created.nonEmpty,
      "Shared.pairs should have persisted a pair-index temp dir")
    s.stop()
    // The listener bus drains on stop(), but event delivery is
    // technically asynchronous — poll briefly instead of racing it.
    val deadline = System.nanoTime() + 10_000_000_000L
    while (created.exists(Files.exists(_)) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(created.forall(p => !Files.exists(p)),
      s"pair-index dirs survived session stop: $created")
    Shared.deleteTree(corpus)
  }

  test("stopping the session evicts its memo entries, the BPE merge list " +
      "with the tables and artifacts") {
    val s = GraftSession.create("graft-lifecycle-test", "4")
    val corpus = Files.createTempDirectory("graft-lifecycle-corpus")
    Files.copy(Paths.get(sf, "documents.parquet"),
      corpus.resolve("documents.parquet"))
    assert(Shared.bpeMergeList(s, corpus.toString).nonEmpty)
    assert(Shared.memoKeys(corpus.toString) ===
      Set("table:documents", "bpe-merges", "bpe-merge-list"))
    s.stop()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (Shared.memoKeys(corpus.toString).nonEmpty &&
        System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(Shared.memoKeys(corpus.toString).isEmpty)
    Shared.deleteTree(corpus)
  }
}
