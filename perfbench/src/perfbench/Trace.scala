package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a timed call from the benchmark into a layer. Spans of one
  * unit of work (a tick, a query, a batch) share `unit`. */
final case class Span(id: Int, parent: Int, name: String, unit: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call; enabled,
  * it records name, start, end, parent (per thread) and unit id, and
  * writes nothing until [[write]] at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, unit: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), name, unit, t0,
          System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Seconds by span name: total duration and self time (duration minus
    * the part of the interval its child spans cover). */
  def totals: Map[String, (Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.endNs - s.startNs).sum
      val self = group.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs) - covered
      }.sum
      name -> (total / 1e9, self / 1e9)
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Write spans as JSON lines (times relative to the first span), then
    * one summary line per span name with its total and self time. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val base = ss.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    ss.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","unit":"${s.unit}",""")
        .append(f""""start_s":${(s.startNs - base) / 1e9}%.6f,"end_s":${(s.endNs - base) / 1e9}%.6f}""")
        .append('\n')
    }
    totals.toSeq.sortBy(_._1).foreach { case (n, (tot, self)) =>
      sb.append(f"""{"summary":"$n","total_s":$tot%.6f,"self_s":$self%.6f}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark engine counters summed per job group. Jobs the benchmark
  * thread starts carry its group (`pb:<unit>`). Streaming micro-batch
  * jobs run under a job group Spark sets to the query's `runId`, which
  * is new on every start, even from the same checkpoint; they are keyed
  * `stream:<runId>` and resolved to a unit through [[bindStream]].
  * Anything else (e.g. Thrift JDBC statements) lands under `other`. */
final class SparkProbe extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val emptyTasks = new AtomicLong; val cpuNs = new AtomicLong
    val schedDelayMs = new AtomicLong; val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  private val byKey = new ConcurrentHashMap[String, Acc]
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val streams = new ConcurrentHashMap[String, String]

  private def acc(k: String): Acc = byKey.computeIfAbsent(k, _ => new Acc)

  def bindStream(runId: String, group: String): Unit = { streams.put(runId, group); () }

  /** Streaming runs whose jobs were seen but never bound to a unit. */
  def unboundStreams: Seq[String] = byKey.keySet.asScala.toSeq
    .filter(k => k.startsWith("stream:") && !streams.containsKey(k.stripPrefix("stream:")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val isStream = p.exists(_.getProperty("sql.streaming.queryId") != null)
    val key = group match {
      case Some(g) if g.startsWith("pb:") => g.stripPrefix("pb:")
      case Some(g) if isStream => "stream:" + g
      case _ => "other"
    }
    acc(key).jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageKey.put(s.stageId, key))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = stageKey.getOrDefault(e.stageInfo.stageId, "other")
    acc(key).stages.incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageKey.getOrDefault(e.stageId, "other")
    val a = acc(key)
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (records == 0) a.emptyTasks.incrementAndGet()
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      a.schedDelayMs.addAndGet(math.max(0L, delay))
    }
    ()
  }

  /** Totals over the keys `select` accepts (streams resolved first). */
  def sum(select: String => Boolean): Map[String, Double] = {
    val keys = byKey.keySet.asScala.toSeq.filter { k =>
      val resolved = if (k.startsWith("stream:"))
        Option(streams.get(k.stripPrefix("stream:"))).getOrElse(k) else k
      select(resolved)
    }
    def s(f: Acc => AtomicLong): Double = keys.map(k => f(byKey.get(k)).get).sum.toDouble
    val tasks = s(_.tasks)
    Map(
      "jobs" -> s(_.jobs), "stages" -> s(_.stages), "tasks" -> tasks,
      "empty_task_share" -> (if (tasks > 0) s(_.emptyTasks) / tasks else 0.0),
      "task_cpu_s" -> s(_.cpuNs) / 1e9,
      "scheduler_delay_s" -> s(_.schedDelayMs) / 1e3,
      "shuffle_bytes" -> s(_.shuffleBytes),
      "spill_bytes" -> s(_.spillBytes))
  }
}

/** Process-level JVM counters: CPU, GC, codegen compile time, heap. */
object Jvm {
  final case class Snap(wallNs: Long, cpuS: Double, gcS: Double,
      compiles: Long, compileMs: Double)

  def snap(): Snap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    // the histogram keeps a sample, not a sum: count × sample mean
    Snap(System.nanoTime(), graft.core.JvmStats.procCpuSec, graft.core.JvmStats.gcSec,
      n, n * h.getSnapshot.getMean)
  }

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  /** Peak of the heap pools that outlive a young collection (survivor
    * and old generation); eden always peaks at its capacity. */
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Eden"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** gc_s, cpu_util, codegen compile ms and count between two snapshots. */
  def delta(a: Snap, b: Snap, cpus: Int): Map[String, Double] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    Map(
      "jvm.gc_s" -> (b.gcS - a.gcS),
      "jvm.cpu_util" -> (if (wall > 0) (b.cpuS - a.cpuS) / (wall * cpus) else 0.0),
      "jvm.codegen_compile_ms" -> math.max(0.0, b.compileMs - a.compileMs),
      "jvm.codegen_compiles" -> (b.compiles - a.compiles).toDouble)
  }
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  /** Median (0 for an empty sample). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Bytes of regular files under `dir`, skipping checksum side files. */
  def dirBytes(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) { if (dir.getName.endsWith(".crc")) 0L else dir.length }
    else Option(dir.listFiles).toSeq.flatten.map(dirBytes).sum

  /** Parquet data files under `dir`. */
  def dataFiles(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) { if (dir.getName.endsWith(".parquet")) 1L else 0L }
    else Option(dir.listFiles).toSeq.flatten.map(dataFiles).sum

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
