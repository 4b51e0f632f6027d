package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What every workload gets: the session, its arguments, the tracer and
  * (traced runs only) the Spark probe. */
final class RunCtx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: File, val tracer: Tracer, val probe: Option[SparkProbe], val cpus: Int) {

  /** Run `body` under the job group of `unit` (traced runs only), so the
    * probe can sum engine counters per unit. */
  def grouped[T](unit: String)(body: => T): T =
    if (probe.isEmpty) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb:$unit", unit, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
}

/** Metrics a workload reports. `e2e` are the end-to-end metrics every
  * workload measures; `named` are the same figures under the names the
  * workload's own domain uses (printed, not gated); `layer` are the
  * per-layer figures of a traced run. */
final class Report {
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val namedM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infoM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Which probe keys belong to timed units, and how many units ran. */
  var unitKey: String => Boolean = _ => false
  var units = 1

  var setupEndMs = -1L
  var setupSnap: Jvm.Snap = _
  var measuredSnap: Jvm.Snap = _
  var heapPeakMb = 0.0

  def e2e(n: String, v: Double, u: String): Unit = e2eM(n) = (v, u)
  def named(n: String, v: Double, u: String): Unit = namedM(n) = (v, u)
  def layer(n: String, v: Double, u: String): Unit = layerM(n) = (v, u)
  def info(n: String, v: Double, u: String): Unit = infoM(n) = (v, u)
  def note(s: String): Unit = { notes += s; () }

  /** Mark the end of set-up: the first timed unit starts next. */
  def setupDone(): Unit = {
    setupEndMs = System.currentTimeMillis()
    Jvm.resetHeapPeak()
    setupSnap = Jvm.snap()
  }

  /** Mark the end of the timed units (checks follow, untimed). */
  def measured(): Unit = {
    measuredSnap = Jvm.snap()
    heapPeakMb = Jvm.heapPeakMb
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds
  * <s> --trace <0|1> --work <dir> --t0-ms <epoch ms>`. Prints one line
  * per metric (`RESULT <kind> <name> <value> <unit>`) and notes; the
  * launcher turns them into the result object. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new File(args("work"))
    val t0Ms = args.get("t0-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val run: RunCtx => Report = workload match {
      case "siem_tick" => SiemTick.run
      case "corpus_stream" => CorpusRun.run
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    Stats.deleteRecursively(work)
    work.mkdirs()

    val load0 = loadAvg
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cpus)
    val probe = if (trace) Some(new SparkProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(trace)
    val rc = new RunCtx(spark, seed, seconds, work, tracer, probe, cpus)

    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val rep = run(rc)
    rep.info("session_s", sessionS, "s")
    rep.e2e("setup_s", (rep.setupEndMs - t0Ms) / 1e3, "s")
    rep.e2e("ok_ops_share",
      if (rep.attempted > 0) (rep.attempted - rep.failed).toDouble / rep.attempted else 0.0, "ratio")
    rep.named("failed_ops_share",
      if (rep.attempted > 0) rep.failed.toDouble / rep.attempted else 1.0, "ratio")

    if (trace) {
      Jvm.delta(rep.setupSnap, rep.measuredSnap, cpus).foreach { case (k, v) =>
        rep.layer(k, v, if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
          else if (k.endsWith("compiles")) "count" else "ratio")
      }
      rep.layer("jvm.heap_peak_mb", rep.heapPeakMb, "MB")
      probe.get.unboundStreams.foreach(k => rep.note(s"spark.*: jobs of $k not bound to a unit"))
      val sp = probe.get.sum(rep.unitKey)
      val per = math.max(1, rep.units).toDouble
      Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
          "task_cpu_s" -> "s", "scheduler_delay_s" -> "s", "shuffle_bytes" -> "B",
          "spill_bytes" -> "B").foreach { case (k, u) =>
        rep.layer(s"spark.$k", sp(k) / per, u)
      }
      rep.layer("spark.empty_task_share", sp("empty_task_share"), "ratio")
      tracer.write(new File(work, "spans.jsonl").toPath)
      rep.layer("trace.spans", tracer.all.size.toDouble, "count")
    }
    spark.stop()

    val load1 = loadAvg
    val env = Seq(
      "nproc" -> cpus.toString, "load_start" -> f"$load0%.2f", "load_end" -> f"$load1%.2f",
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "seed" -> seed.toString, "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.version"),
      "master" -> s"local[$cpus]")
    env.foreach { case (k, v) => println(s"ENV $k $v") }
    rep.notes.foreach(n => println(s"NOTE $n"))
    def emit(kind: String, m: mutable.LinkedHashMap[String, (Double, String)]): Unit =
      m.foreach { case (n, (v, u)) => println(s"RESULT $kind $n ${v.toString} $u") }
    emit("e2e", rep.e2eM)
    emit("named", rep.namedM)
    emit("info", rep.infoM)
    emit("layer", rep.layerM)
    println(s"COUNTS ${rep.attempted} ${rep.failed}")
    System.out.flush()
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
