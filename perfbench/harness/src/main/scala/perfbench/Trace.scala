package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counters seen from a `SparkListener`. Jobs are always
  * counted (`batch_p50_s` on the batch workloads is pass wall per job);
  * the other counters only while `counting` is on, i.e. in traced
  * passes. */
final class Probe extends SparkListener {
  @volatile var counting = false
  val allJobs, jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, shuffleW, shuffleR, spill, resultBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    allJobs.incrementAndGet()
    if (counting) jobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (counting) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      resultBytes.addAndGet(m.resultSize)
    }
  }

  /** Counter values as a map; deltas of two snapshots attribute the
    * work done between them. */
  def snapshot(): Map[String, Double] = Map(
    "sched.jobs" -> jobs.get.toDouble, "sched.stages" -> stages.get.toDouble,
    "sched.tasks" -> tasks.get.toDouble, "exec.run_s" -> runMs.get / 1e3,
    "exec.cpu_s" -> cpuNs.get / 1e9, "shuffle.write_bytes" -> shuffleW.get.toDouble,
    "shuffle.read_bytes" -> shuffleR.get.toDouble, "spill.bytes" -> spill.get.toDouble,
    "driver.result_bytes" -> resultBytes.get.toDouble)
}

/** One span: a timed call at a layer boundary. `counts` holds the
  * listener-counter deltas over the span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    var endNs: Long = 0L, var counts: Map[String, Double] = Map.empty)

/** In-memory span recorder. Calls are sequential, so the counters that
  * move while a span is open belong to it; the listener bus is drained
  * before each span closes so late events are not attributed to the
  * next one. Written out once, when the run ends. */
final class Tracer(runId: String, sc: SparkContext, probe: Probe) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  var enabled = false
  /** Counts of the span closed last (empty while disabled). */
  var lastCounts: Map[String, Double] = Map.empty

  def span[A](name: String)(f: => A): A =
    if (!enabled) { lastCounts = Map.empty; f }
    else {
      val s = Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
      spans += s
      open.push(s)
      val before = probe.snapshot()
      try f
      finally {
        org.apache.spark.perfbench.Bus.drain(sc)
        val after = probe.snapshot()
        s.counts = after.map { case (k, v) => k -> (v - before(k)) }
        s.endNs = System.nanoTime()
        lastCounts = s.counts
        open.pop()
      }
    }

  /** Offset from epoch nanoseconds to the `System.nanoTime` clock spans use. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** A span reconstructed after the fact (a micro-batch, from its
    * progress report's wall-clock start). Its parent is the latest span
    * whose interval contains its start. */
  def addClosed(name: String, start: java.time.Instant, durS: Double,
      counts: Map[String, Double]): Unit = {
    val s0 = start.getEpochSecond * 1000000000L + start.getNano + epochToNano
    val parent = spans.filter(sp => sp.startNs <= s0 && s0 <= sp.endNs).lastOption
    spans += Span(spans.length, parent.map(_.id).getOrElse(-1), name, s0,
      s0 + (durS * 1e9).toLong, counts)
  }

  def write(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "counts" -> Json.obj(s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    Files.write(Paths.get(path), ("[\n" + rows.mkString(",\n") + "\n]\n").getBytes("UTF-8"))
  }
}

/** Host and JVM readings. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val comp = ManagementFactory.getCompilationMXBean
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** (idle + iowait, total) jiffies over all cpus. */
  private def procStat(): (Long, Long) =
    try {
      val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (cpu(3) + cpu(4), cpu.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Busy cores used by OTHER processes over a window: host non-idle
    * time minus this JVM's own CPU time (graft.Bench's method). */
  final class ExtWindow {
    private val (idle0, tot0) = procStat()
    private val cpu0 = os.getProcessCpuTime
    private val t0 = System.nanoTime()
    def close(): Double = {
      val (idle1, tot1) = procStat()
      val wall = (System.nanoTime() - t0).toDouble
      val busy = if (tot1 > tot0) (1.0 - (idle1 - idle0).toDouble / (tot1 - tot0)) * cores else 0.0
      math.max(0.0, busy - (os.getProcessCpuTime - cpu0) / wall)
    }
  }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitS(): Double = comp.getTotalCompilationTime / 1e3

  /** Peak resident set (VmHWM) of this process, MiB. */
  def peakRssMiB(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON rendering for the harness's report file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
}
