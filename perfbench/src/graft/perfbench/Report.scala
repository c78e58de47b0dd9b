package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Statistics, host probes and the bench's output. */
object Report {

  /** Spark worker threads: the host's processors, capped at 4 so the
    * workload has the same shape on every host the bench runs on. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
    }

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    }

  /** Bytes under the children of `dir` whose names start with `prefix`. */
  def childrenBytes(dir: Path, prefix: String): Long =
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .map(treeBytes).sum
    }

  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this process in MB (Linux VmHWM), else the
    * committed heap as the closest portable stand-in. */
  def rssPeakMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    val hwm = if (Files.isReadable(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0)
    else None
    hwm.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
  }

  def heapPeakMb(): Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Writes the bench's JSON: metric lines, spans and goldens. Scala maps
    * keep their iteration order, so a ListMap prints its keys in order. */
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)

  /** One measured value: `n` is its sample count, `extra` any quartiles
    * or per-rung detail printed with it. */
  final case class Metric(name: String, value: Double, unit: String, n: Int,
      extra: Map[String, Any] = Map.empty)

  /** Collects a run's metrics and prints them: each as a bare JSON line
    * (name, value, unit, workload, seed, samples, procs and the load
    * average at start and end), then the summary object as the last
    * line of standard output. */
  final class Out(workload: String, seed: Long, procs: Int) {
    private val loadStart = loadAvg()
    private val metrics = ArrayBuffer.empty[Metric]

    def add(m: Metric): Unit = {
      require(!metrics.exists(_.name == m.name), s"metric ${m.name} twice")
      require(!m.value.isNaN && !m.value.isInfinite,
        s"non-finite value ${m.value} of ${m.name}")
      metrics += m
    }

    def add(name: String, value: Double, unit: String, n: Int): Unit =
      add(Metric(name, value, unit, n))

    /** A timing: its median as the value, with p25/p75/p90 and the
      * sample count. */
    def timing(name: String, xs: Seq[Double], unit: String = "s"): Unit =
      if (xs.isEmpty) add(name, 0.0, unit, 0)
      else add(Metric(name, median(xs), unit, xs.size, Map(
        "p25" -> quantile(xs, 0.25), "p75" -> quantile(xs, 0.75),
        "p90" -> quantile(xs, 0.9))))

    def get(name: String): Option[Metric] = metrics.find(_.name == name)

    /** Print every metric line, then the summary line holding `keep`. */
    def print(keep: Seq[String], attempted: Long, failed: Long,
        correct: Boolean): Unit = {
      val loadEnd = loadAvg()
      metrics.foreach { m =>
        println(mapper.writeValueAsString(ListMap("metric" -> m.name,
          "value" -> m.value, "unit" -> m.unit, "workload" -> workload,
          "seed" -> seed, "n" -> m.n, "procs" -> procs,
          "load_start" -> loadStart, "load_end" -> loadEnd) ++ m.extra))
      }
      val missing = keep.filterNot(k => metrics.exists(_.name == k))
      require(missing.isEmpty, s"metrics not measured: ${missing.mkString(",")}")
      val summary = ListMap(keep.map { k =>
        val m = get(k).get
        k -> ListMap("value" -> m.value, "unit" -> m.unit)
      }: _*)
      println(mapper.writeValueAsString(ListMap("correct" -> correct,
        "attempted" -> attempted, "failed" -> failed, "metrics" -> summary)))
      Console.out.flush()
    }
  }
}
