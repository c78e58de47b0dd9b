package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A batch query's expected result: row count and order-free row hash. */
final case class Golden(rows: Long, hash: String)

/** Operations a run attempted and how many failed or were wrong. */
final case class Outcome(attempted: Long, failed: Long)

/** What a workload needs from the command line and the bench. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val tracer: Tracer, val dataDir: String, val workDir: Path,
    val goldens: Map[String, Golden], val out: Report.Out) {

  /** Where Java and Spark put temporary files (the JVM's tmpdir). */
  val tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Run the set-up `setups` times and return each one's seconds. The first
    * is timed from the start of the process, so it includes JVM start and
    * class loading; the others from the end of the previous one. */
  def setups(body: () => Unit): Seq[Double] = {
    val xs = ArrayBuffer.empty[Double]
    (0 until Main.setupRepeats).foreach { i =>
      val t0 = if (i == 0)
        System.nanoTime() - (System.currentTimeMillis() - java.lang.management
          .ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
      else System.nanoTime()
      body()
      xs += (System.nanoTime() - t0) / 1e9
    }
    xs.toSeq
  }
}

/** The benchmark's entry point. One process runs one workload:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <fixtureDir> --work <runDir> --goldens <file>
  *
  * It prints one bare JSON line per metric and then the summary line. It
  * exits 1 when any operation failed or returned a wrong result.
  * `--record-goldens 1` instead writes the digests of the batch query set
  * on the fixture to the goldens file, and `--count-gap q1,q2`
  * prints, for each query, the median time of `count()` against the
  * median time of delivering every row.
  */
object Main {

  /** Set-ups per run; setup_s is their median. The first includes process
    * start; the second is a re-setup in the warm JVM. */
  val setupRepeats = 2

  /** End-to-end metrics: every workload reports each of them. */
  val endToEnd: Seq[String] = Seq("setup_s", "latency_p50_s",
    "latency_p90_s", "throughput_per_s", "rss_peak_mb")

  /** Per-layer metrics a traced run reports, with their units. A layer a
    * workload does not exercise reads 0 with a sample count of 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "session.create_s" -> "s", "tables.warm_s" -> "s",
    "shared.pairs_s" -> "s", "shared.khop3_s" -> "s", "shared.bpe_s" -> "s",
    "shared.edges_s" -> "s", "shared.bytes" -> "bytes",
    "plan.build_s" -> "s", "plan.analyze_s" -> "s", "plan.optimize_s" -> "s",
    "plan.physical_s" -> "s",
    "exec.wall_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.gc_s" -> "s", "exec.scan_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.dedup_s" -> "s", "exec.similarity_s" -> "s", "exec.text_s" -> "s",
    "exec.multimodal_s" -> "s", "exec.graph_s" -> "s",
    "source.rows" -> "count", "source.decode_error_rows" -> "count",
    "source.backlog_rows_p95" -> "count",
    "source.latest_offset_ms_p50" -> "ms", "source.get_batch_ms_p50" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch_p50" -> "count",
    "stream.trigger_ms_p50" -> "ms", "stream.query_planning_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms", "stream.wal_commit_ms_p50" -> "ms",
    "stream.commit_offsets_ms_p50" -> "ms",
    "state.partitions" -> "count", "state.rows" -> "count",
    "state.memory_bytes" -> "bytes", "state.commit_ms_p50" -> "ms",
    "state.rows_dropped_late" -> "count",
    "sink.files" -> "count", "sink.bytes" -> "bytes", "sink.rows" -> "count",
    "sink.xor_violation_rows" -> "count",
    "gen.rows" -> "count", "gen.poison_rows" -> "count",
    "gen.late_ms_p95" -> "ms",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.pass_s" -> "s", "trace.unattributed_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  val workloads: Seq[String] = Seq("batch-llm", "stream-live")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, sys.error(s"missing --$k"))
    if (opts.contains("count-gap")) {
      countGap(opt("data"), opt("count-gap").split(',').toSeq)
      return
    }
    val goldensPath = Paths.get(opt("goldens"))
    opts.get("record-goldens") match {
      case Some(_) => recordGoldens(opt("data"), goldensPath)
      case None =>
        val workload = opt("workload")
        require(workloads.contains(workload), s"unknown workload $workload")
        val seed = opt("seed").toLong
        val traced = opt("trace") == "1"
        val out = new Report.Out(workload, seed, Report.cores)
        val workDir = Files.createDirectories(Paths.get(opt("work")))
        val ctx = new Ctx(workload, seed, opt("seconds").toDouble,
          new Tracer(traced), opt("data"), workDir, loadGoldens(goldensPath),
          out)
        val o = workload match {
          case "batch-llm" => Batch.run(ctx)
          case "stream-live" => StreamLive.run(ctx)
        }
        out.add("fail_frac", o.failed.toDouble / math.max(1L, o.attempted),
          "ratio", o.attempted.toInt)
        out.add("rss_peak_mb", Report.rssPeakMb(), "MB", 1)
        out.add("jvm.gc_s", Report.gcSeconds(), "s", 1)
        out.add("jvm.heap_peak_mb", Report.heapPeakMb(), "MB", 1)
        if (traced) {
          perLayer.foreach { case (k, unit) =>
            if (out.get(k).isEmpty) out.add(k, 0.0, unit, 0) }
          ctx.tracer.write(workDir.resolve("spans.jsonl"))
        }
        Report.deleteTree(workDir.resolve("data"))
        out.print(if (traced) perLayer.map(_._1) else endToEnd,
          o.attempted, o.failed, o.failed == 0)
        sys.exit(if (o.failed == 0) 0 else 1)
    }
  }

  def loadGoldens(p: Path): Map[String, Golden] = {
    val tree = Report.mapper.readTree(p.toFile)
    tree.fields().asScala.map { e =>
      e.getKey -> Golden(e.getValue.get("rows").asLong,
        e.getValue.get("hash").asText)
    }.toMap
  }

  private def recordGoldens(dataDir: String, path: Path): Unit = {
    val spark = graft.GraftSession.create("perfbench-goldens",
      Report.cores.toString)
    val all = Batch.llmQueries.map { n =>
      val g = Batch.deliver(graft.SparkEntry.queries(n)(spark, dataDir))
      n -> Map("rows" -> g.rows, "hash" -> g.hash)
    }
    Report.mapper.writerWithDefaultPrettyPrinter()
      .writeValue(path.toFile, ListMap(all: _*))
    spark.stop()
  }

  private def countGap(dataDir: String, names: Seq[String]): Unit = {
    val spark = graft.GraftSession.create("perfbench-count-gap",
      Report.cores.toString)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      def secs(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      fn(spark, dataDir).count()   // warm
      val runs = (1 to 5).map { _ =>
        (secs(fn(spark, dataDir).count()), secs(Batch.deliver(fn(spark, dataDir))))
      }
      println(Report.mapper.writeValueAsString(ListMap("query" -> n,
        "count_s" -> Report.median(runs.map(_._1)),
        "delivered_s" -> Report.median(runs.map(_._2)), "n" -> runs.size)))
    }
    spark.stop()
  }
}
