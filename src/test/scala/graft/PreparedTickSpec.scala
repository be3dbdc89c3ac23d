package graft

import java.io.File
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{AlertRule, MemorySink, RunConfig, RunLog, Runner,
  SuppressionRule}

/** A scheduler's ticks over one date-partitioned events table, as
  * `Runner.runAlerts` prepares them: one events frame and one rule set,
  * so every tick after the first re-binds the prepared rule pass. Window
  * by window it must give what a freshly analyzed pass gives, and its
  * scan must read only the window's date partitions (the events subtree
  * is swapped whole, so pruning sees this window's date literals). */
class PreparedTickSpec extends SparkSuite {

  private val userTag = concat_ws("", lit("user:"), col("user_id"))
  private def rule(name: String, pred: Column) = AlertRule(
    name = name, queryId = name, title = name, predicate = pred,
    actor = userTag, target = userTag, action = col("event_type"),
    description = concat_ws(" ", userTag, col("event_type")),
    severity = when(col("value") > 200.0, "high").otherwise("medium"),
    eventTime = col("ts"), eventData = col("props"))

  private val rules = Seq(
    rule("errors", col("event_type") === "error"),
    rule("big", col("value") > 150.0),
    rule("mod7", col("user_id") % 7 === 0))
  private val suppressions = Seq(SuppressionRule("squelch_mod10_3",
    a => a.filter(substring_index(col("object"), ":", -1).cast("long") %
      10 === 3).select("alert_id")))

  /** One tick's outputs, RunLog rows without their times, and its one
    * events scan: files read and partition filters. */
  private case class Tick(alerts: Seq[String], store: Seq[String],
      log: Seq[String], files: Long, partitionFilters: String)

  private def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scansOf)
  }

  private def tick(events: DataFrame, from: String, to: String,
      atS: Long): Tick = {
    val actions = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.synchronized(actions += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val log = RunLog.newRun()
    val buf = s"prepared-tick-$from"
    val res =
      try {
        val r = Runner.runAlerts(Tables.timeWindow(events, from, to), rules,
          col("event_id"), suppressions, Seq(new MemorySink(buf)),
          RunConfig(from, to, alertTimeS = atS, defaultHandler = "memory"),
          log)
        // the listener hears of the tick's two actions asynchronously
        val deadline = System.nanoTime() + 10000000000L
        while (actions.synchronized(actions.size) < 2 &&
          System.nanoTime() < deadline) Thread.sleep(10)
        r
      } finally spark.listenerManager.unregister(listener)
    val scans = actions.synchronized(actions.toSeq)
      .flatMap(qe => scansOf(qe.executedPlan))
    assert(scans.size == 1, s"expected one events scan, got ${scans.size}")
    val out = Tick(
      res.alerts.collect().map(_.toString).toSeq.sorted,
      res.store.collect().map(_.toString).toSeq.sorted,
      log.entries.map(e => (e.query_name, e.inserted, e.updated,
        e.suppressed, e.passed, e.error).toString),
      scans.head.metrics("numFiles").value,
      scans.head.partitionFilters.mkString(","))
    MemorySink.drain(buf)
    res.release()
    out
  }

  test("sliding windows over one partitioned events frame: the prepared " +
      "pass gives the fresh pass's alerts, store and RunLog, and reads " +
      "only the window's date partitions") {
    val path = tempDir("graft_prepared_tick").resolve("events").toString
    Tables.writePartitionedEvents(spark, Sf, path)
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val start = LocalDateTime.of(2024, 1, 10, 0, 0)
    // a one-day window sliding 30 h: every window starts at another
    // hour of the day and reads another pair of dates
    val windows = (0 until 5).map { i =>
      val from = start.plusHours(30L * i)
      val to = from.plusDays(1)
      (from.format(fmt), to.format(fmt),
        to.toEpochSecond(java.time.ZoneOffset.UTC))
    }
    def filesOf(day: String): Long =
      Option(new File(s"$path/date=$day").listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet")).toLong

    val events = Tables.partitionedEvents(spark, path)
    val hits = Runner.preparedHits
    val prepared = windows.map { case (f, t, a) => tick(events, f, t, a) }
    assert(Runner.preparedHits == hits + windows.size - 1)
    // a table read again has new attribute ids: each tick analyzes afresh
    val fresh = windows.map { case (f, t, a) =>
      tick(Tables.partitionedEvents(spark, path), f, t, a) }
    assert(Runner.preparedHits == hits + windows.size - 1)

    windows.zip(prepared.zip(fresh)).foreach { case ((from, to, _), (p, q)) =>
      assert(p.alerts.nonEmpty, s"no alerts in $from..$to")
      assert(p.alerts == q.alerts, s"alerts differ in $from..$to")
      assert(p.store == q.store, s"store differs in $from..$to")
      assert(p.log == q.log, s"RunLog differs in $from..$to")
      val (fromDay, toDay) = (from.take(10), to.take(10))
      assert(p.partitionFilters.contains(fromDay) &&
        p.partitionFilters.contains(toDay), p.partitionFilters)
      assert(p.files == filesOf(fromDay) + filesOf(toDay))
      assert(p.files == q.files)
    }
  }
}
