package perfbench

import java.sql.{DriverManager, Timestamp}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.queries.BiServer

/** Superset-style reads of the gold views, run after the timed ticks of
  * a traced `siem_tick` run (the `queries` layer).
  *
  * `BiServer.serve` registers the views once, as shipped; the re-run of
  * the last window follows, and its SCD2 dim rewrite swaps the dim
  * directories under the registered views. One JDBC client then runs
  * each query shape over seeded closed time ranges; each statement is
  * also run in-process on the same session (its twin), which gives the
  * expected rows, plan time and files read. A shape the engine refuses
  * with an error counts as a failed read; a JDBC result that differs
  * from its twin is a wrong answer.
  */
object BiRead {

  /** Query shapes: the five `GoldViews.acceptance` shapes and the rule
    * dim-join, over a closed range `[lo, hi)`, with total orders so the
    * rows compare exactly; plus the newest-window shape. */
  val shapes: Seq[(String, (String, String) => String)] = Seq(
    "five_minute_severity" -> ((lo, hi) =>
      s"""SELECT CAST(floor(unix_timestamp(event_ts) / 300) * 300 AS LONG) AS window_start,
         |  severity, count(*) AS alert_count
         |FROM fact_suricata_events WHERE event_ts >= $lo AND event_ts < $hi
         |GROUP BY window_start, severity
         |ORDER BY window_start DESC, severity LIMIT 50""".stripMargin),
    "daily_top_signatures" -> ((lo, hi) =>
      s"""SELECT to_date(event_ts) AS event_date, d.signature AS signature, count(*) AS alert_count
         |FROM fact_suricata_events f LEFT JOIN dim_signature d ON f.signature_key = d.signature_key
         |WHERE f.event_ts >= $lo AND f.event_ts < $hi
         |GROUP BY to_date(event_ts), signature
         |ORDER BY event_date DESC, alert_count DESC, signature LIMIT 20""".stripMargin),
    "protocol_share_of_day" -> ((lo, hi) =>
      s"""SELECT to_date(event_ts) AS event_date, p.protocol AS protocol,
         |  count(*) / sum(count(*)) OVER (PARTITION BY to_date(event_ts)) AS pct_of_total
         |FROM fact_suricata_events f LEFT JOIN dim_protocol p ON f.protocol_key = p.protocol_key
         |WHERE f.event_ts >= $lo AND f.event_ts < $hi
         |GROUP BY to_date(event_ts), protocol
         |ORDER BY event_date DESC, pct_of_total DESC, protocol""".stripMargin),
    "severity_topk" -> ((lo, hi) =>
      s"""SELECT severity, count(*) AS event_count
         |FROM fact_suricata_events WHERE event_ts >= $lo AND event_ts < $hi
         |GROUP BY severity ORDER BY event_count DESC, severity LIMIT 10""".stripMargin),
    "wazuh_daily_counts" -> ((lo, hi) =>
      s"""SELECT to_date(event_ts) AS event_date, count(*) AS event_count
         |FROM fact_wazuh_events WHERE event_ts >= $lo AND event_ts < $hi
         |GROUP BY to_date(event_ts) ORDER BY event_date DESC LIMIT 7""".stripMargin),
    "rule_dim_join" -> ((lo, hi) =>
      s"""SELECT d.rule_name, count(*) AS n
         |FROM fact_wazuh_events f JOIN dim_rule d ON f.rule_key = d.rule_key
         |WHERE f.event_ts >= $lo AND f.event_ts < $hi
         |GROUP BY d.rule_name ORDER BY d.rule_name""".stripMargin),
    "newest_window" -> ((lo, _) =>
      s"""SELECT CAST(max(event_ts) AS STRING) AS newest, count(*) AS n
         |FROM fact_suricata_events WHERE event_ts >= $lo""".stripMargin))

  val Reps = 3

  final case class Read(shape: String, jdbcMs: Double, twinMs: Double,
      planMs: Double, files: Long, error: Option[String], wrong: Boolean)

  private def lit(ms: Long): String = s"TIMESTAMP '${new Timestamp(ms).toString}'"

  private def numFiles(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    own + kids.map(numFiles).sum
  }

  /** Serve, re-run the last window, then read. Adds the `queries.*`
    * figures to `rep`; returns the re-run's (seconds, rows appended). */
  def run(rc: RunCtx, whs: SiemWarehouse, rep: Report): (Double, Long) = {
    val spark = rc.spark
    val java8 = spark.conf.getOption("spark.sql.datetime.java8API.enabled").getOrElse("false")
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val s0 = System.nanoTime()
    val server = rc.tracer.span("queries.serve", "bi") { BiServer.serve(whs.gold, port) }
    val serveS = (System.nanoTime() - s0) / 1e9
    val reads = mutable.ArrayBuffer.empty[Read]
    val rerun = try {
      val rerun = whs.rerunLast()
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      var conn: java.sql.Connection = null
      var tries = 0
      while (conn == null) {
        try conn = DriverManager.getConnection(s"jdbc:hive2://localhost:$port/default", "", "")
        catch { case e: java.sql.SQLException if tries < 30 => tries += 1; Thread.sleep(500) }
      }
      try {
        val rnd = new SplittableRandom(rc.seed)
        val lo0 = SiemGen.sliceStart(0)
        val span = SiemGen.sliceStart(whs.slices.size) - lo0
        for (round <- 0 until Reps; (name, sql) <- shapes) {
          val a = lo0 + rnd.nextLong(span / 2)
          val q = sql(lit(a), lit(a + span / 2))
          val unit = s"read-$name-$round"
          val st = conn.createStatement()
          val j0 = System.nanoTime()
          val jdbc: Either[String, Seq[String]] =
            try rc.tracer.span("queries.jdbc", unit) {
              val rs = st.executeQuery(q)
              val n = rs.getMetaData.getColumnCount
              val rows = mutable.ArrayBuffer.empty[String]
              while (rs.next()) rows += (1 to n).map(i => String.valueOf(rs.getString(i))).mkString("|")
              Right(rows.toSeq)
            } catch { case e: java.sql.SQLException => Left(firstLine(e.getMessage)) }
            finally st.close()
          val jdbcMs = (System.nanoTime() - j0) / 1e6
          // in-process twin: plan time, files read, expected rows
          val t0 = System.nanoTime()
          val twin: Either[String, (Double, Long, Seq[String])] =
            try rc.tracer.span("queries.twin", unit) {
              rc.grouped(unit) {
                val df = spark.sql(q)
                val p0 = System.nanoTime()
                df.queryExecution.executedPlan
                val planMs = (System.nanoTime() - p0) / 1e6
                val rows = df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).toSeq
                Right((planMs, numFiles(df.queryExecution.executedPlan), rows))
              }
            } catch { case e: Exception => Left(firstLine(e.getMessage)) }
          val twinMs = (System.nanoTime() - t0) / 1e6
          val wrong = (jdbc, twin) match {
            case (Right(a), Right((_, _, b))) => a != b
            case _ => false
          }
          reads += Read(name, jdbcMs, twinMs, twin.map(_._1).getOrElse(0.0),
            twin.map(_._2).getOrElse(0L), jdbc.left.toOption, wrong)
        }
      } finally conn.close()
      rerun
    } finally {
      server.stop()
      spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
    }

    val ok = reads.filter(r => r.error.isEmpty && !r.wrong)
    reads.filter(_.wrong).foreach(r => rep.note(s"wrong: read ${r.shape}: JDBC rows differ from the in-process twin"))
    reads.flatMap(r => r.error.map(e => s"${r.shape}: $e")).distinct
      .foreach(e => rep.note(s"read refused: $e"))
    rep.layer("queries.register_views_s", serveS, "s")
    shapes.foreach { case (name, _) =>
      rep.layer(s"queries.${name}_p50_ms", Stats.median(ok.filter(_.shape == name).map(_.jdbcMs).toSeq), "ms")
    }
    rep.layer("queries.p50_ms", Stats.median(ok.map(_.jdbcMs).toSeq), "ms")
    rep.layer("queries.plan_ms", Stats.median(ok.map(_.planMs).toSeq), "ms")
    rep.layer("queries.files_read", Stats.median(ok.map(_.files.toDouble).toSeq), "count")
    rep.layer("queries.jdbc_overhead_ms", Stats.median(ok.map(r => r.jdbcMs - r.twinMs).toSeq), "ms")
    rep.info("reads", reads.size.toDouble, "count")
    rep.layer("queries.failed", (reads.size - ok.size).toDouble, "count")
    rerun
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.nextOption().getOrElse("").take(200)).getOrElse("")
}
