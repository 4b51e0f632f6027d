package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of raw SIEM JSON in the three shapes
  * `ingest.Bronze.route` parses (wazuh, suricata, zeek), one 5-minute
  * slice per tick.
  *
  * Traffic dimensions: `eventsPerTick` (rate × 300 s), `lateShare`
  * (share of a slice dated into the previous slice) and `churn`
  * (per-tick probability that an agent changes IP or a rule changes
  * level/name, which the SCD2 dims must version). Every event carries
  * 1–3 distinct tags, so the expected tag-bridge row count is known.
  * Slices must be generated in tick order: churn history is carried
  * forward so late events carry the attributes in effect at their own
  * timestamp.
  */
final class SiemGen(seed: Long, val eventsPerTick: Int,
    val lateShare: Double, val churn: Double) {

  import SiemGen._

  private val rnd = new SplittableRandom(seed)
  private val agentIp = Array.tabulate(Agents)(a =>
    mutable.ArrayBuffer(Long.MinValue -> s"10.0.${a / 200}.${a % 200 + 1}"))
  private val ruleAttr = Array.tabulate(Rules)(r =>
    mutable.ArrayBuffer(Long.MinValue -> ((r % 12 + 1) -> s"rule-$r")))
  private var nextTick = 0

  private def at[T](hist: mutable.ArrayBuffer[(Long, T)], ts: Long): T = {
    var i = hist.length - 1
    while (hist(i)._1 > ts) i -= 1
    hist(i)._2
  }

  private def tags(sb: StringBuilder): Int = {
    val n = 1 + rnd.nextInt(3)
    val first = rnd.nextInt(TagPool)
    sb.append("[")
    for (j <- 0 until n) {
      if (j > 0) sb.append(',')
      sb.append("\"t").append((first + j * 5) % TagPool).append('"')
    }
    sb.append("]")
    n
  }

  /** Generate slice `tick` (ticks must be requested 0, 1, 2, ...). */
  def slice(tick: Int, events: Int = eventsPerTick): Slice = {
    require(tick == nextTick, s"slices are generated in order; got $tick, want $nextTick")
    nextTick += 1
    val lo = sliceStart(tick)
    // SCD2 churn: attribute changes at seeded instants inside the slice
    for (a <- 0 until Agents if rnd.nextDouble() < churn)
      agentIp(a) += ((lo + 1 + rnd.nextLong(SliceMs - 2)) ->
        s"10.${1 + rnd.nextInt(200)}.${rnd.nextInt(250)}.${1 + rnd.nextInt(250)}")
    for (r <- 0 until Rules if rnd.nextDouble() < churn)
      ruleAttr(r) += ((lo + 1 + rnd.nextLong(SliceMs - 2)) ->
        ((1 + rnd.nextInt(15)) -> s"rule-$r-v${rnd.nextInt(1000)}"))
    agentIp.foreach(h => sortTail(h))
    ruleAttr.foreach(h => sortTail(h))

    val lines = new Array[String](events)
    val ids = Array.fill(3)(mutable.ArrayBuffer.empty[String])
    val tagCount = new Array[Long](3)
    var bytes = 0L
    var late = 0
    for (i <- 0 until events) {
      val isLate = tick > 0 && rnd.nextDouble() < lateShare
      if (isLate) late += 1
      val ts = (if (isLate) lo - SliceMs else lo) + rnd.nextLong(SliceMs)
      val iso = Iso.format(Instant.ofEpochMilli(ts))
      val src = i % 3
      val id = s"${"wsz" (src)}$seed-$tick-$i"
      val sb = new StringBuilder(400)
      src match {
        case Wazuh =>
          val a = rnd.nextInt(Agents)
          val ip = at(agentIp(a), ts)
          val r = rnd.nextInt(Rules)
          val (level, name) = at(ruleAttr(r), ts)
          sb.append("{\"event\":{\"hash\":\"").append(id)
            .append("\",\"provider\":\"wazuh\",\"dataset\":\"alert\",\"kind\":\"alert\",\"module\":\"")
            .append(Modules(rnd.nextInt(Modules.length)))
            .append("\"},\"@timestamp\":\"").append(iso)
            .append("\",\"agent\":{\"name\":\"agent").append(a).append("\",\"ip\":\"").append(ip)
            .append("\"},\"host\":{\"name\":\"agent").append(a).append("\",\"ip\":\"").append(ip)
            .append("\"},\"rule\":{\"id\":\"").append(100 + r).append("\",\"level\":").append(level)
            .append(",\"name\":\"").append(name).append("\",\"ruleset\":[\"syscheck\"]},\"tags\":")
          tagCount(src) += tags(sb)
          sb.append(",\"message\":\"wazuh alert ").append(i).append("\"}")
        case Suricata =>
          val sensor = rnd.nextInt(Sensors)
          val sig = rnd.nextInt(Signatures)
          sb.append("{\"suricata\":{\"timestamp\":\"").append(iso)
            .append("\",\"flow_id\":\"f").append(rnd.nextInt(1 << 30))
            .append("\",\"alert\":{\"severity\":").append(1 + rnd.nextInt(5))
            .append(",\"signature\":\"sig-").append(sig)
            .append("\",\"action\":\"allowed\"},\"http\":{\"url\":\"/u/").append(rnd.nextInt(500))
            .append("\"}},\"event\":{\"hash\":\"").append(id)
            .append("\",\"provider\":\"suricata\",\"dataset\":\"alert\",\"kind\":\"alert\",\"module\":\"ids\"},\"@timestamp\":\"")
            .append(iso).append("\",\"host\":{\"name\":\"sensor").append(sensor)
            .append("\"},\"source\":{\"ip\":\"10.1.").append(rnd.nextInt(256)).append('.').append(rnd.nextInt(256))
            .append("\",\"port\":").append(1024 + rnd.nextInt(40000))
            .append("},\"destination\":{\"ip\":\"10.2.").append(rnd.nextInt(256)).append('.').append(rnd.nextInt(256))
            .append("\",\"port\":443},\"network\":{\"application\":\"").append(Apps(rnd.nextInt(Apps.length)))
            .append("\",\"bytes\":").append(40 + rnd.nextInt(9000))
            .append(",\"packets\":").append(1 + rnd.nextInt(60))
            .append("},\"rule\":{\"id\":\"").append(2000 + sig).append("\",\"name\":\"sig-").append(sig)
            .append("\",\"category\":[\"c").append(sig % 6).append("\"]},\"tags\":")
          tagCount(src) += tags(sb)
          sb.append(",\"message\":\"alert ").append(i).append("\"}")
        case _ =>
          sb.append("{\"zeek\":{\"uid\":\"z").append(id).append("\",\"ts\":\"").append(iso)
            .append("\"},\"event\":{\"hash\":\"").append(id)
            .append("\",\"provider\":\"zeek\",\"dataset\":\"conn\",\"kind\":\"event\",\"module\":\"conn\"},\"@timestamp\":\"")
            .append(iso).append("\",\"host\":{\"name\":\"sensor").append(rnd.nextInt(Sensors))
            .append("\"},\"source\":{\"ip\":\"10.3.").append(rnd.nextInt(256)).append('.').append(rnd.nextInt(256))
            .append("\",\"port\":").append(1024 + rnd.nextInt(40000))
            .append("},\"destination\":{\"ip\":\"10.4.").append(rnd.nextInt(256)).append('.').append(rnd.nextInt(256))
            .append("\",\"port\":53},\"network\":{\"application\":\"").append(Apps(rnd.nextInt(Apps.length)))
            .append("\",\"type\":\"ipv4\",\"direction\":\"outbound\",\"community_id\":\"1:x").append(rnd.nextInt(1000))
            .append("\",\"bytes\":").append(40 + rnd.nextInt(9000)).append("},\"tags\":")
          tagCount(src) += tags(sb)
          sb.append("}")
      }
      val line = sb.toString
      lines(i) = line
      bytes += line.length + 1
      ids(src) += id
    }
    Slice(tick, lines, ids.map(_.toVector).toVector, tagCount.toVector, bytes, late)
  }

  private def sortTail[T](h: mutable.ArrayBuffer[(Long, T)]): Unit = {
    val sorted = h.sortBy(_._1)
    h.clear(); h ++= sorted
  }

  /** Natural keys the SCD2 dims must hold, as the pipelines derive them. */
  def agentKeys: Set[String] = (0 until Agents).map(a => s"agent$a").toSet
  def ruleKeys: Set[String] = (0 until Rules).map(r => s"${100 + r}").toSet
}

object SiemGen {
  val Wazuh = 0
  val Suricata = 1
  val Zeek = 2
  val Sources: Vector[String] = Vector("wazuh", "suricata", "zeek")

  val SliceMs: Long = 5 * 60 * 1000L
  /** First slice start, UTC 2026-01-08 00:00:00. */
  val T0Ms: Long = 1767830400000L

  val Agents = 24
  val Rules = 30
  val Sensors = 12
  val Signatures = 40
  val TagPool = 12
  private val Modules = Array("audit", "syscheck", "rootcheck", "sca")
  private val Apps = Array("http", "tls", "dns", "ssh", "smtp")

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  def sliceStart(tick: Int): Long = T0Ms + tick * SliceMs

  /** One landed slice plus what the checks need to know about it. */
  final case class Slice(tick: Int, lines: Array[String],
      ids: Vector[Vector[String]], tagCount: Vector[Long], bytes: Long,
      late: Int) {
    def events: Int = lines.length
  }
}
