package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.engine.AlertRule

/** SURVEY.md §2 #44-46: the rule pipeline over Structured Streaming.
  * The reference runs rules on a schedule (alert_queries_runner cron);
  * the streaming engine subsumes that: the same AlertRule predicates run
  * continuously with watermarked event-time semantics. Every stateful
  * operator here expires its state via the watermark (dedup within the
  * watermark horizon, sessions closed by event-time timeout) — state is
  * bounded by the actors/ids active inside the horizon, never by stream
  * length, which is what makes the operators safe on unbounded
  * 100 TB/day streams.
  */
object StreamingAlerts {

  /** #44 continuous alert rule: same field mapping as the batch path;
    * deterministic alert_id. The watermark is declared on the rule's
    * OWN event-time column (projected as `event_time`) — not on a
    * hard-coded source column — so rules over sources with any
    * event-time name get correct semantics. */
  def ruleStream(
      events: DataFrame,
      rule: AlertRule,
      idCol: org.apache.spark.sql.Column,
      watermark: String = "10 minutes"): DataFrame =
    events
      .filter(rule.predicate)
      .select(
        md5(concat_ws(":", lit(rule.name), idCol)).as("alert_id"),
        lit(rule.name).as("query_name"),
        rule.actor.as("actor"),
        rule.target.as("object"),
        rule.action.as("action"),
        lit(rule.title).as("title"),
        rule.eventTime.as("event_time"),
        rule.description.as("description"),
        rule.severity.as("severity"))
      .withWatermark("event_time", watermark)

  /** #45 sliding-window baseline counts with watermark (streaming
    * analogue of Baselines.hourly). */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "10 minutes",
      slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("event_type"), col("n"),
        col("value_sum"))

  /** #46a streaming dedup: exactly-once alerts per id within the
    * watermark horizon (the MERGE-on-alert_id semantics).
    * dropDuplicatesWithinWatermark evicts an id's state once the
    * watermark passes its event time — plain dropDuplicates(id) would
    * keep every id forever when the event-time column is not part of
    * the key.
    * Composes with [[ruleStream]] (which already watermarks its
    * event_time): the watermark is declared here only when the input
    * already carries one ON event_time — redefining a watermark is an
    * analysis error under multiple-stateful-operator support, but a
    * watermark on some OTHER column (e.g. correlateStream's ts) must
    * not silently stand in for the documented event_time contract. */
  def dedupStream(alerts: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    // collect ALL watermark nodes, not the topmost: under
    // multiple-stateful-operator support a plan can legally carry
    // several (e.g. ts applied downstream of an upstream event_time
    // watermark) and the event_time one may not be first.
    val hasEventTimeWatermark = alerts.queryExecution.logical.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        e.eventTime.name
    }.contains("event_time")
    val based =
      if (hasEventTimeWatermark) alerts
      else alerts.withWatermark("event_time", watermark)
    based.dropDuplicatesWithinWatermark("alert_id")
  }

  /** Continuous handler dispatch: route each micro-batch of streaming
    * alerts through the batch Dispatcher (foreachBatch is the sanctioned
    * bridge for side-effecting sinks). Exactly-once per micro-batch via
    * the eager persisted dispatch inside; at-least-once across restarts,
    * like the reference's poll-loop dispatcher. */
  def dispatchStream(
      alerts: DataFrame,
      sinks: Seq[graft.engine.AlertSink],
      defaultHandler: String = "console")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    alerts.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.engine.Dispatcher
          .dispatch(batch, sinks, defaultHandler).count()
        ()
    }

  final case class SessionEvent(actor: String, ts: java.sql.Timestamp)
  final case class SessionSummary(
      actor: String, startS: Long, endS: Long, nEvents: Long)

  /** #46b stateful sessionization (the correlation step, streaming):
    * per-actor sessions extended while events arrive within `gapS`
    * seconds. State expires by EVENT-TIME TIMEOUT: when the watermark
    * passes (session end + gap) the CLOSED session is emitted and its
    * state removed, so state is bounded by actors active within the
    * watermark horizon. Mid-batch gap breaks also close sessions
    * immediately. Output mode: Append (closed sessions only). */
  def sessionize(
      events: Dataset[SessionEvent],
      gapS: Long,
      watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.actor)
      .flatMapGroupsWithState[(Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (actor, batch, state) =>
          if (state.hasTimedOut) {
            val (st, en, n) = state.get
            state.remove()
            Iterator.single(SessionSummary(actor, st, en, n))
          } else {
            val times =
              batch.map(_.ts.getTime / 1000L).toSeq.sorted
            var cur = state.getOption.getOrElse((0L, 0L, 0L))
            val closed = List.newBuilder[SessionSummary]
            for (t <- times) {
              cur =
                if (cur._3 == 0L || t - cur._2 <= gapS)
                  (if (cur._3 == 0L) t else math.min(cur._1, t),
                    math.max(cur._2, t), cur._3 + 1)
                else {
                  closed += SessionSummary(actor, cur._1, cur._2, cur._3)
                  (t, t, 1L)
                }
            }
            state.update(cur)
            // close the open session when the watermark passes end+gap
            // (clamped above the current watermark, as required for
            // late-arriving groups)
            state.setTimeoutTimestamp(math.max(
              cur._2 * 1000L + gapS * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            closed.result().iterator
          }
      }
  }
}
