package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval. `cell` is shared by every span of one cell run. */
final case class Span(id: Int, parent: Int, name: String, cell: String, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder for the driver thread. Disabled, `span` only
  * runs its body, so the untraced runs that give the end-to-end metrics
  * record nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)] // (span id, cell id)
  private var nextId = 0

  def span[T](name: String, cell: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val (parent, parentCell) = stack.headOption.getOrElse((-1, ""))
      val cellId = if (cell.nonEmpty) cell else parentCell
      stack = (id, cellId) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, cellId, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self seconds per span name: each span's duration minus the part its
    * children cover. Children of one span run one after another on the
    * driver thread, so they never overlap and their durations add up.
    */
  def selfSeconds: Seq[(String, Double)] = {
    val childNs = spans.groupMapReduce(_.parent)(_.ns)(_ + _)
    spans.groupMapReduce(_.name)(s => s.ns - childNs.getOrElse(s.id, 0L))(_ + _)
      .toSeq.sortBy(-_._2).map { case (n, ns) => n -> ns / 1e9 }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"cell":${Json.str(s.cell)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counts at one boundary; `maxTaskMs` is the largest task since
  * the previous snapshot.
  */
final case class Counts(
    jobs: Long, tasks: Long, taskMs: Long, maxTaskMs: Long, shuffleBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts =
    Counts(jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs, maxTaskMs,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** Listener the traced run registers: job, task, executor-time, shuffle
  * and spill counts, read at span boundaries after draining the bus.
  */
final class EngineCounters extends SparkListener {
  private var jobs, tasks, taskMs, maxTaskMs, shuffleBytes, spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  def snapshot(sc: org.apache.spark.SparkContext): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val c = Counts(jobs, tasks, taskMs, maxTaskMs, shuffleBytes, spillBytes)
      maxTaskMs = 0L
      c
    }
  }
}

/** JVM-wide GC and JIT totals. */
final case class JvmCounts(gcMs: Long, gcCount: Long, jitMs: Long) {
  def -(o: JvmCounts): JvmCounts = JvmCounts(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs)
}

object Jvm {
  def counts(): JvmCounts = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmCounts(
      gcs.map(_.getCollectionTime.max(0L)).sum,
      gcs.map(_.getCollectionCount.max(0L)).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Heap in use after full collections, in MB. The pauses let Spark's
    * context cleaner release the blocks whose references the previous
    * collection cleared, so the next one can free them.
    */
  def liveHeapMb(): Double = {
    (1 to 5).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A fixed single-thread CPU kernel (xorshift sum, no allocation). Its
    * time tracks how much of one core the run got from the host.
    */
  def noiseCalMs(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
      val t0 = System.nanoTime()
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
      if (s == 42) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).min
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val v = xs.sorted.toIndexedSeq
    require(v.nonEmpty, "quantile of no samples")
    val pos = q * (v.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, v.length - 1)
    v(lo) + (v(hi) - v(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
