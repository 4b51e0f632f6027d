package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipelines.{GoldContext, Monitoring, Registry, TimeWindow}
import graft.streaming.BronzeStream

/** A warehouse fed one 5-minute slice per tick, through the engine's
  * public entry points only: land the slice as a raw JSON file, drain
  * it with `BronzeStream.start(..., Trigger.AvailableNow())`, run
  * `Registry.run` over the 10-minute window ending at the tick, and run
  * `Monitoring.checkSla` over all 16 pipelines.
  */
final class SiemWarehouse(rc: RunCtx, root: File, val gen: SiemGen) {
  import SiemWarehouse._

  private val spark = rc.spark
  val landing = new File(root, "landing")
  val wh = new File(root, "wh")
  private val ckpt = new File(root, "ckpt")
  landing.mkdirs()
  val gold = new GoldContext(spark, wh.getPath, "Asia/Jakarta")
  val slices = mutable.ArrayBuffer.empty[SiemGen.Slice]
  val ticks = mutable.ArrayBuffer.empty[TickOut]

  def rawBytes: Long = slices.map(_.bytes).sum
  def storedBytes: Long = Stats.dirBytes(wh)

  /** [start, end) of the gold window that tick `i` runs. */
  def window(i: Int): TimeWindow = TimeWindow(
    new Timestamp(SiemGen.sliceStart(i - 1)), new Timestamp(SiemGen.sliceStart(i + 1)))

  /** Generate slice `i` (untimed), then land and process it. */
  def tick(i: Int, unit: String, events: Int = gen.eventsPerTick): TickOut = {
    val slice = gen.slice(i, events)
    slices += slice
    val tmp = new File(landing, s".slice-$i.json.tmp")
    Files.write(tmp.toPath, slice.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val t0 = System.nanoTime()
    val out = rc.tracer.span("tick", unit) {
      rc.grouped(unit) {
        rc.tracer.span("land", unit) {
          Files.move(tmp.toPath, new File(landing, s"slice-$i.json").toPath,
            StandardCopyOption.ATOMIC_MOVE)
        }
        val (drainS, batches, trigS, addS) = rc.tracer.span("streaming.bronze_drain", unit) {
          val d0 = System.nanoTime()
          val q = BronzeStream.start(BronzeStream.fileSource(spark, landing.getPath),
            wh.getPath, ckpt.getPath, Trigger.AvailableNow())
          rc.probe.foreach(_.bindStream(q.runId.toString, unit))
          q.awaitTermination()
          val prog = q.recentProgress.filter(_.numInputRows > 0)
          def ms(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
          ((System.nanoTime() - d0) / 1e9, prog.length, ms("triggerExecution"), ms("addBatch"))
        }
        val p0 = System.nanoTime()
        val stats = rc.tracer.span("pipelines.run", unit) { Registry.run(gold, window(i)) }
        val runS = (System.nanoTime() - p0) / 1e9
        val s0 = System.nanoTime()
        rc.tracer.span("pipelines.sla_check", unit) {
          Monitoring.checkSla(gold, Monitoring.defaultConfigs,
            asOfMillis = SiemGen.sliceStart(i + 1) + 60000L)
        }
        val slaS = (System.nanoTime() - s0) / 1e9
        TickOut(i, unit, 0.0, drainS, batches, trigS - addS, runS, stats, slaS, slice)
      }
    }
    val done = out.copy(wallS = (System.nanoTime() - t0) / 1e9)
    ticks += done
    done
  }

  /** Re-run the window of the last tick: must append nothing. */
  def rerunLast(): (Double, Long) = {
    val last = slices.last.tick
    val t0 = System.nanoTime()
    val stats = rc.tracer.span("pipelines.rerun", "rerun") {
      rc.grouped("rerun") { Registry.run(gold, window(last)) }
    }
    ((System.nanoTime() - t0) / 1e9, stats.map(_.rowsAppended).sum)
  }

  /** Output checks over every landed slice (`rerun`: the last window was
    * run twice). Returns failure messages keyed by the tick they belong
    * to. */
  def verify(rerun: Boolean): Map[Int, Seq[String]] = {
    val bad = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
    def fail(tick: Int, msg: String): Unit = {
      bad.getOrElseUpdate(tick, mutable.ArrayBuffer.empty) += msg; ()
    }
    val lastTick = slices.last.tick
    def tickOf(id: String): Int = id.split('-')(1).toInt
    for (src <- 0 until 3) {
      val name = SiemGen.Sources(src)
      // every generated event exactly once in its fact table
      val counts = spark.read.parquet(gold.path(s"fact_${name}_events"))
        .groupBy("event_id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = slices.flatMap(_.ids(src))
      val missing = expected.filterNot(counts.contains)
      val dup = counts.filter(_._2 != 1).keys
      val extra = counts.keySet -- expected
      missing.groupBy(tickOf).foreach { case (t, ids) => fail(t, s"fact_$name: ${ids.size} events missing") }
      dup.groupBy(tickOf).foreach { case (t, ids) => fail(t, s"fact_$name: ${ids.size} events duplicated") }
      if (extra.nonEmpty) fail(lastTick, s"fact_$name: ${extra.size} unknown events")
      // one bridge row per distinct event tag
      val bridge = spark.read.parquet(gold.path(s"bridge_${name}_event_tag"))
        .select("event_id").collect().map(_.getString(0)).groupBy(tickOf)
        .map { case (t, rows) => t -> rows.length.toLong }
      slices.foreach { s =>
        val got = bridge.getOrElse(s.tick, 0L)
        if (got != s.tagCount(src)) fail(s.tick, s"bridge_$name: $got rows, expected ${s.tagCount(src)}")
      }
    }
    // each SCD2 natural key has exactly one current row
    for ((table, key, keys) <- Seq(("dim_agent", "agent_name", gen.agentKeys),
        ("dim_host", "host_name", gen.agentKeys), ("dim_rule", "rule_id", gen.ruleKeys))) {
      val cur = spark.read.parquet(gold.path(table)).groupBy(key)
        .agg(sum(col("is_current")).as("c")).collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
      val wrong = cur.filter(_._2 != 1)
      if (wrong.nonEmpty) fail(lastTick, s"$table: ${wrong.size} keys without exactly one current row")
      val absent = keys -- cur.keySet
      if (absent.nonEmpty) fail(lastTick, s"$table: ${absent.size} keys missing")
    }
    // 16 ledger rows per tick (the re-run adds 16 more to the last window)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val ledger = spark.read.parquet(gold.path("_run_ledger")).groupBy("windowEnd").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    slices.foreach { s =>
      val end = fmt.format(window(s.tick).end)
      val want = if (s.tick == lastTick && rerun) 32L else 16L
      val got = ledger.getOrElse(end, 0L)
      if (got != want) fail(s.tick, s"_run_ledger: $got rows for the window, expected $want")
    }
    ticks.foreach { t =>
      if (t.stats.size != Registry.all.size) fail(t.tick, s"Registry.run returned ${t.stats.size} stats")
    }
    bad.map { case (t, ms) => t -> ms.toSeq }.toMap
  }
}

object SiemWarehouse {
  final case class TickOut(tick: Int, unit: String, wallS: Double,
      drainS: Double, batches: Int, triggerOverheadS: Double,
      runS: Double, stats: Seq[Registry.RunStats], slaS: Double,
      slice: SiemGen.Slice)
}

/** Workload `siem_tick`: the reference's 5-minute cadence, closed loop,
  * one tick at a time. Tick 0 is warm-up (counted in set-up); timed
  * ticks follow until the run's seconds are used. A traced run then
  * re-runs the last window and reads the gold views ([[BiRead]]). */
object SiemTick {
  val EventsPerTick = 6000
  val LateShare = 0.05
  val Churn = 0.1
  val MinTicks = 1
  val WarmupEvents = 600

  def run(rc: RunCtx): Report = {
    val gen = new SiemGen(rc.seed, EventsPerTick, LateShare, Churn)
    val whs = new SiemWarehouse(rc, new File(rc.work, "siem"), gen)
    val warm = whs.tick(0, "warmup", WarmupEvents)
    val rep = new Report
    rep.setupDone()
    val timed = mutable.ArrayBuffer.empty[SiemWarehouse.TickOut]
    val deadline = System.nanoTime() + (rc.seconds * 1e9).toLong
    var i = 1
    while (timed.size < MinTicks || System.nanoTime() < deadline) {
      timed += whs.tick(i, s"tick$i")
      i += 1
    }
    rep.measured()
    rep.unitKey = _.startsWith("tick")
    rep.units = timed.size
    val stored = whs.storedBytes.toDouble
    // traced runs only: serve the views, re-run the last window (which
    // must append nothing), then read the gold views over JDBC
    val rerun = if (rc.tracer.enabled) Some(BiRead.run(rc, whs, rep)) else None
    val bad = whs.verify(rerun.isDefined)
    bad.toSeq.sortBy(_._1).foreach { case (t, ms) => ms.foreach(m => rep.note(s"wrong: tick $t: $m")) }
    val rerunFailed = rerun.exists(_._2 != 0L)
    if (rerunFailed) rep.note(s"wrong: re-run of the last window appended ${rerun.get._2} rows")
    // the warm-up tick is checked like the timed ones
    rep.attempted = 1 + timed.size + rerun.size
    rep.failed = (warm +: timed.toSeq).count(t => bad.contains(t.tick)) + (if (rerunFailed) 1 else 0)
    rep.info("warmup_tick_s", warm.wallS, "s")

    val walls = timed.map(_.wallS).toSeq
    val events = timed.map(_.slice.events).sum.toDouble
    rep.e2e("unit_p50_ms", Stats.median(walls) * 1e3, "ms")
    rep.e2e("work_per_s", events / walls.sum, "1/s")
    rep.e2e("stored_bytes_per_raw_byte", stored / whs.rawBytes, "ratio")
    rep.named("tick_p50_s", Stats.median(walls), "s")
    rep.named("events_per_s", events / walls.sum, "1/s")
    rep.info("ticks", timed.size.toDouble, "count")
    rep.info("events_per_tick", EventsPerTick.toDouble, "count")
    rep.info("late_events", timed.map(_.slice.late).sum.toDouble, "count")

    tickLayers(rep, timed.toSeq, rc.cpus)
    rerun.foreach(r => rep.layer("pipelines.rerun_s", r._1, "s"))
    writeLayers(rep, whs)
    rep
  }

  private def tickLayers(rep: Report, ticks: Seq[SiemWarehouse.TickOut], cpus: Int): Unit = {
    def med(f: SiemWarehouse.TickOut => Double) = Stats.median(ticks.map(f))
    rep.layer("streaming.bronze_drain_s", med(_.drainS), "s")
    rep.layer("streaming.bronze_batches", med(_.batches.toDouble), "count")
    rep.layer("streaming.trigger_overhead_s", med(_.triggerOverheadS), "s")
    rep.layer("pipelines.run_s", med(_.runS), "s")
    Registry.all.foreach { p =>
      rep.layer(s"pipelines.${p.id}_s",
        med(t => t.stats.find(_.pipelineId == p.id).map(_.durationMs / 1e3).getOrElse(0.0)), "s")
    }
    rep.layer("pipelines.runner_overhead_s",
      med(t => t.runS - t.stats.map(_.durationMs / 1e3).sum), "s")
    rep.layer("pipelines.util",
      med(t => t.stats.map(_.cpuMs / 1e3).sum / (t.runS * cpus)), "ratio")
    rep.layer("pipelines.sla_check_s", med(_.slaS), "s")
  }

  /** Write-path figures: files and bytes per tick, and the worst
    * partition's file count. */
  private def writeLayers(rep: Report, whs: SiemWarehouse): Unit = {
    val n = whs.slices.size.toDouble
    rep.layer("core.files_written", Stats.dataFiles(whs.wh) / n, "count")
    rep.layer("core.bytes_written", whs.storedBytes / n, "B")
    val tables = Option(whs.wh.listFiles).toSeq.flatten.filter(_.isDirectory).map(_.getName)
    val maxFiles = tables.flatMap(t => Monitoring.fileStats(whs.gold, t)).map(_.files).foldLeft(0L)(math.max)
    rep.layer("core.max_files_per_partition", maxFiles.toDouble, "count")
  }
}
