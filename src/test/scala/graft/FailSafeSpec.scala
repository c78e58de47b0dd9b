package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.operators.Graph
import graft.queries.Shared
import graft.streaming.StreamOps

/** Outside the local fixture the engine chooses the conservative branch:
  * an input it cannot size gets the session's state-partition ceiling
  * and per-hop checkpoints, and a driver-side collect past its bound
  * fails instead of pulling an unbounded set. No environment variable
  * beyond the three documented ones steers a choice, and no engine def
  * survives that only specs call.
  */
class FailSafeSpec extends SparkSpec {

  private def ceiling = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def assertConservative(bytes: Long): Unit = {
    assert(bytes === StreamOps.UnknownBytes)
    assert(StreamOps.adaptiveStatePartitions(spark, bytes) === ceiling)
    assert(Graph.adaptiveHopCheckpoint(bytes, k = 3))
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

  test("a reach sketch deeper than 3 hops is cut at any input size") {
    // a fused plan doubles per hop: k = 10 never fuses, k = 3 fuses below
    // 1 GiB and cuts above it, as before the policy took k
    val tiny = Shared.orderGraphBytes(sf)
    assert(tiny > 0L && tiny < (1L << 30))
    assert(Graph.adaptiveHopCheckpoint(tiny, k = 10))
    assert(Graph.adaptiveHopCheckpoint(tiny, k = 4))
    assert(!Graph.adaptiveHopCheckpoint(tiny, k = 3))
    assert(!Graph.adaptiveHopCheckpoint(1L << 30, k = 3))
    assert(Graph.adaptiveHopCheckpoint((1L << 30) + 1, k = 3))
  }

  test("the BPE merge-table collect fails past the trained merge count") {
    import spark.implicits._
    def table(n: Int) = (1 to n).map(i => (i, s"l$i", s"r$i", 1L))
      .toDF("merge_rank", "lft", "rgt", "pair_count")
    val n = Shared.BpeMergeCount
    assert(Shared.bpeMergePairs(table(n)) ===
      (1 to n).map(i => (s"l$i", s"r$i")))
    val e = intercept[IllegalStateException](
      Shared.bpeMergePairs(table(n + 1)))
    assert(e.getMessage.contains(s"more than $n rows"))
  }

  test("src/main reads exactly the three documented environment " +
      "variables") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .map(f => new String(Files.readAllBytes(f), UTF_8))
    val anyRead = """sys\.env|System\.getenv""".r
    val keyedRead = ("""(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|""" +
      """System\.getenv)\(\s*"([A-Za-z0-9_]+)"""").r
    // every read names its key as a literal, so the key set below is whole
    assert(sources.map(anyRead.findAllIn(_).size).sum ===
      sources.map(keyedRead.findAllIn(_).size).sum)
    val keys = sources.flatMap(keyedRead.findAllMatchIn(_).map(_.group(1)))
    assert(keys.toSet ===
      Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_OUT"))
  }

  test("every def under the engine packages is reached from src/main or " +
      "perfbench/src") {
    import scala.jdk.CollectionConverters._
    def sources(dir: String): List[(Path, String)] = {
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"run from the project root: $root")
      scala.util.Using.resource(Files.walk(root))(
        _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
        .map(f => f -> new String(Files.readAllBytes(f), UTF_8))
    }
    // literals are matched so that a "//" or "/*" inside one opens no
    // comment; comments and literal text are blanked, `${…}` splices kept
    // (a name spliced into an interpolated string is a real call, a word
    // in oracle SQL is not)
    val lexeme = ("""(?:"{3}[\s\S]*?"{3}|"(?:[^"\\\n]|\\.)*"|""" +
      """'(?:[^'\\\n]|\\.)'|//[^\n]*|/\*[\s\S]*?\*/)""").r
    val spliceOrChar = """\$\{[^}]*\}|[^\n]""".r
    def code(src: String): String = lexeme.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (m.matched.startsWith("/")) m.matched.replaceAll("[^\n]", "")
        else spliceOrChar.replaceAllIn(m.matched, c =>
          scala.util.matching.Regex.quoteReplacement(
            if (c.matched.length > 1) c.matched else " "))))
    def counts(it: Iterator[String]): Map[String, Int] =
      it.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val main = (sources("src/main/scala") ++ sources("perfbench/src"))
      .map { case (file, src) => file -> code(src) }
    val texts = main.map(_._2)
    val words = counts(texts.iterator.flatMap("""\w+""".r.findAllIn(_)))
    val defs = counts(texts.iterator.flatMap(
      """\bdef\s+(\w+)""".r.findAllMatchIn(_).map(_.group(1))))
    // members of top-level objects and classes; overrides are called by
    // their host (Spark, Catalyst), not by name
    val member = ("""(?m)^  (?:(?:private|protected)(?:\[\w+\])?\s+|""" +
      """final\s+|implicit\s+)*def\s+(\w+)""").r
    val engine = Set("operators", "functions", "sinks", "streaming",
      "sources", "io")
    val unreached = for {
      (file, text) <- main
      if file.startsWith(Paths.get("src/main/scala/graft")) &&
        engine(file.getParent.getFileName.toString)
      name <- member.findAllMatchIn(text).map(_.group(1))
      if !name.endsWith("Hof") && name != "augmentForMips"
      if words(name) == defs(name)
    } yield s"${file.getFileName}: $name"
    assert(unreached.isEmpty,
      s"defs no main code or benchmark file calls: ${unreached.mkString(", ")}")
  }
}
