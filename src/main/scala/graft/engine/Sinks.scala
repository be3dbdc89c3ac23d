package graft.engine

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Handler fan-out: the Spark re-expression of the reference's alert
  * dispatcher (src/runners/alert_dispatcher.py:1-109), which routes each
  * alert's `handlers` list to runners/handlers/{slack,jira,smtp,...}.py
  * and records per-handler success/failure back onto the alert.
  *
  * Spark shape: alerts carry a `handlers` array column; Dispatcher
  * explodes it and delivers per-partition on the executors (no
  * driver-side row loop — the reference iterates 1000 alerts on a
  * client). Each delivery yields a HandlerResult row; `recordStatus`
  * joins the collected results back onto the alerts as a `handled`
  * array, mirroring alert_dispatcher.record_status.
  */
trait AlertSink extends Serializable {
  def name: String

  /** Deliver one alert payload (JSON). Returns delivery details;
    * throws on failure (the dispatcher records the error). Runs on
    * executors — implementations must be serializable. */
  def send(alertJson: String): String

  /** Deliver with a per-alert handler config object — the dispatcher's
    * RECORD-format handler entries ({'type': 'slack', 'channel': ...}
    * kwargs passed through apply_some, alert_dispatcher.py:66-85).
    * Default ignores the config; config-aware sinks override. */
  def send(alertJson: String, configJson: String): String = send(alertJson)
}

/** Console delivery (the reference's smoke-test path). */
final class ConsoleSink extends AlertSink {
  val name = "console"
  def send(alertJson: String): String = {
    // scalastyle:off println
    println(s"[alert] $alertJson")
    // scalastyle:on println
    "printed"
  }
}

/** In-memory delivery for tests and local pipelines. Buffers live in a
  * JVM-global registry keyed by bufferId so executor-side sends are
  * visible to the driver in local mode (a real cluster would use a
  * durable sink — this one is for specs, like the reference's test
  * doubles). */
final class MemorySink(val bufferId: String) extends AlertSink {
  val name = "memory"
  def send(alertJson: String): String = {
    MemorySink.buffer(bufferId).add(alertJson)
    s"buffered:$bufferId"
  }
}

object MemorySink {
  private val buffers =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()

  def buffer(id: String): ConcurrentLinkedQueue[String] =
    buffers.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[String]())

  /** Everything sent to `id` so far, removing the buffer from the
    * registry (a later send starts a new one). Call it once the sends'
    * action has finished. */
  def drain(id: String): Seq[String] =
    Option(buffers.remove(id)).fold(Seq.empty[String])(_.asScala.toSeq)

  /** Whether the registry holds a buffer for `id`. */
  private[graft] def holds(id: String): Boolean = buffers.containsKey(id)
}

/** Stubbed external messenger (ref: runners/handlers/slack.py — builds a
  * message payload from alert fields and posts it). Zero-egress here:
  * the payload is formatted exactly, delivery is recorded to a memory
  * buffer instead of the network, so routing and payload shape stay
  * testable. */
final class SlackSink(channel: String, bufferId: String) extends AlertSink {
  val name = "slack"
  def send(alertJson: String): String = {
    val payload =
      s"""{"channel":${JsonStr.quote(channel)},"text":$alertJson}"""
    MemorySink.buffer(bufferId).add(payload)
    s"posted:$channel"
  }
}

/** Stubbed ticket tracker (ref: runners/handlers/jira.py — creates an
  * issue per alert and records the ticket id on the alert row).
  *
  * Beyond per-alert `send`, this sink exposes the reference's ticket
  * lifecycle ops (jira.py:94-114 append_to_body, :192
  * check_ticket_status, :253 create_jira_ticket) against an in-memory
  * ticket server double ([[JiraTickets]]) so the correlated
  * create-vs-append dispatch flow ([[Dispatcher.dispatchJira]]) is
  * fully testable with zero egress. */
final class JiraSink(project: String, bufferId: String) extends AlertSink {
  val name = "jira"
  def send(alertJson: String): String = {
    val ticket = s"$project-${Integer.toHexString(alertJson.hashCode)}"
    MemorySink.buffer(bufferId).add(s"""{"ticket":"$ticket","issue":$alertJson}""")
    ticket
  }

  /** create_jira_ticket: new issue in `startingStatus`, body from the
    * alert payload; returns the ticket id. */
  def createTicket(alertJson: String, startingStatus: String): String = {
    val id = JiraTickets.create(bufferId, project, alertJson, startingStatus)
    MemorySink.buffer(bufferId).add(s"""{"ticket":"$id","issue":$alertJson}""")
    id
  }

  /** check_ticket_status: the ticket's current status, or None for an
    * unknown id (the reference treats a failed status fetch as
    * "create a new ticket"). */
  def checkStatus(ticketId: String): Option[String] =
    JiraTickets.status(bufferId, ticketId)

  /** append_to_body: separator line + the new alert's body appended to
    * the existing ticket's description (jira.py:100-114). */
  def appendToTicket(ticketId: String, alertJson: String): Unit =
    JiraTickets.append(bufferId, ticketId, alertJson)
}

/** JVM-global in-memory jira server double: tickets with a status and
  * an appendable description, keyed per bufferId (like [[MemorySink]],
  * executor-side ops are visible to the driver in local mode; a real
  * deployment swaps this object for the ticket tracker's API). */
object JiraTickets {
  final class Ticket(@volatile var status: String) {
    private val body = new StringBuilder
    def appendBody(s: String): Unit = synchronized { body.append(s) }
    def description: String = synchronized { body.toString }
  }
  private final class Store {
    val tickets = new ConcurrentHashMap[String, Ticket]()
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  }
  private val stores = new ConcurrentHashMap[String, Store]()
  private def store(bufferId: String): Store =
    stores.computeIfAbsent(bufferId, _ => new Store)

  /** The reference's append separator (jira.py:100). */
  val Separator =
    "\n~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~~\n"

  def create(bufferId: String, project: String, body: String,
      status: String): String = {
    val s = store(bufferId)
    val id = s"$project-${s.seq.incrementAndGet()}"
    val t = new Ticket(status)
    t.appendBody(body)
    s.tickets.put(id, t)
    id
  }
  def status(bufferId: String, id: String): Option[String] =
    Option(store(bufferId).tickets.get(id)).map(_.status)
  def setStatus(bufferId: String, id: String, status: String): Unit =
    Option(store(bufferId).tickets.get(id)).foreach(_.status = status)
  def append(bufferId: String, id: String, body: String): Unit = {
    val t = store(bufferId).tickets.get(id)
    require(t != null, s"unknown ticket: $id")
    t.appendBody(Separator + body)
  }
  def description(bufferId: String, id: String): Option[String] =
    Option(store(bufferId).tickets.get(id)).map(_.description)
  def clear(bufferId: String): Unit = stores.remove(bufferId)
}

private object JsonStr {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Extract a top-level string field from the alert payload JSON
    * (executor-side; Jackson ships with Spark). */
  def field(json: String, name: String, default: String = ""): String = {
    val node = mapper.readTree(json).get(name)
    if (node == null || node.isNull) default else node.asText()
  }
}

/** PagerDuty Events-API trigger (ref: runners/handlers/pd.py:29-68):
  * summary=DESCRIPTION, source=DETECTOR, severity normalized into the
  * allowed dictionary (unknown values → 'unknown'), dedup_key=alert_id
  * (delivery idempotence key), custom_details=the whole alert. */
final class PagerDutySink(routingKey: String, bufferId: String)
    extends AlertSink {
  val name = "pd"
  private val severities =
    Seq("critical", "error", "warning", "info", "unknown")
  def send(alertJson: String): String = {
    val sev0 = JsonStr.field(alertJson, "severity").toLowerCase
    val sev = if (severities.contains(sev0)) sev0 else severities.last
    val dedup = JsonStr.field(alertJson, "alert_id")
    val payload =
      s"""{"routing_key":${JsonStr.quote(routingKey)},""" +
        s""""event_action":"trigger",""" +
        s""""dedup_key":${JsonStr.quote(dedup)},""" +
        s""""payload":{"summary":${JsonStr.quote(
            JsonStr.field(alertJson, "description"))},""" +
        s""""source":${JsonStr.quote(
            JsonStr.field(alertJson, "detector"))},""" +
        s""""severity":${JsonStr.quote(sev)},""" +
        s""""custom_details":$alertJson}}"""
    MemorySink.buffer(bufferId).add(payload)
    s"pd:$dedup"
  }
}

/** SMTP mail message (ref: runners/handlers/smtp.py:20-76): multipart
  * with a plain-text part; subject defaults to the alert title, text to
  * the description. */
final class SmtpSink(sender: String, recipient: String, bufferId: String)
    extends AlertSink {
  val name = "smtp"
  def send(alertJson: String): String = {
    val payload =
      s"""{"from":${JsonStr.quote(sender)},""" +
        s""""to":${JsonStr.quote(recipient)},""" +
        s""""subject":${JsonStr.quote(
            JsonStr.field(alertJson, "title"))},""" +
        s""""text":${JsonStr.quote(
            JsonStr.field(alertJson, "description"))}}"""
    MemorySink.buffer(bufferId).add(payload)
    s"smtp:$recipient"
  }
}

/** SNS publish params (ref: runners/handlers/sns.py:9-53): TopicArn +
  * Subject + Message (the alert body). */
final class SnsSink(topicArn: String, bufferId: String) extends AlertSink {
  val name = "sns"
  def send(alertJson: String): String = {
    val payload =
      s"""{"TopicArn":${JsonStr.quote(topicArn)},""" +
        s""""Subject":${JsonStr.quote(JsonStr.field(alertJson, "title"))},""" +
        s""""Message":$alertJson}"""
    MemorySink.buffer(bufferId).add(payload)
    s"sns:$topicArn"
  }
}

/** SES send_email request (ref: runners/handlers/ses.py:8-70):
  * Destination/Message/Source with UTF-8 charset markers. */
final class SesSink(sender: String, recipient: String, bufferId: String)
    extends AlertSink {
  val name = "ses"
  def send(alertJson: String): String = {
    val payload =
      s"""{"Destination":{"ToAddresses":[${JsonStr.quote(recipient)}],""" +
        s""""CcAddresses":[],"BccAddresses":[]},""" +
        s""""Message":{"Body":{"Text":{"Charset":"UTF-8",""" +
        s""""Data":${JsonStr.quote(
            JsonStr.field(alertJson, "description"))}}},""" +
        s""""Subject":{"Charset":"UTF-8","Data":${JsonStr.quote(
            JsonStr.field(alertJson, "title"))}}},""" +
        s""""Source":${JsonStr.quote(sender)}}"""
    MemorySink.buffer(bufferId).add(payload)
    s"ses:$recipient"
  }
}

/** ServiceNow incident record (ref: runners/handlers/service_now.py:
  * 87-105): the exact default field set POSTed to /now/table/incident,
  * with the configurable field prefix. */
final class ServiceNowSink(
    fieldPrefix: String, assignee: String, bufferId: String)
    extends AlertSink {
  val name = "service_now"
  def send(alertJson: String): String = {
    val fp = fieldPrefix
    val payload =
      s"""{"${fp}contact_type":"Integration","${fp}impact":"2",""" +
        s""""${fp}urgency":"2","${fp}category":"IT Security",""" +
        s""""${fp}subcategory":"Remediation",""" +
        s""""${fp}assignment_group":"Security Compliance",""" +
        s""""${fp}short_description":${JsonStr.quote(
            JsonStr.field(alertJson, "title",
              "SnowAlert Generate Incident"))},""" +
        s""""${fp}description":${JsonStr.quote(
            JsonStr.field(alertJson, "description"))},""" +
        s""""${fp}assigned_to":${JsonStr.quote(assignee)}}"""
    MemorySink.buffer(bufferId).add(payload)
    s"service_now:incident"
  }
}

/** Twilio SMS create-message params (ref: runners/handlers/sms.py:9-38:
  * body/from/to). The message body defaults to the alert title — SMS
  * carries the headline, not the whole record. */
final class SmsSink(senderPhone: String, recipientPhone: String,
    bufferId: String) extends AlertSink {
  val name = "sms"
  def send(alertJson: String): String = {
    val payload =
      s"""{"body":${JsonStr.quote(JsonStr.field(alertJson, "title"))},""" +
        s""""from":${JsonStr.quote(senderPhone)},""" +
        s""""to":${JsonStr.quote(recipientPhone)}}"""
    MemorySink.buffer(bufferId).add(payload)
    s"sms:$recipientPhone"
  }
}

/** Stored-procedure handler (ref: runners/handlers/sp.py:5-40: CALL
  * proc(alert, params...)). Zero-egress: records the exact CALL
  * statement the reference would execute; a real deployment points this
  * at spark.sql over a procedure-bearing catalog. */
final class StoredProcSink(procedure: String, bufferId: String)
    extends AlertSink {
  val name = "sp"
  def send(alertJson: String): String = {
    MemorySink.buffer(bufferId).add(
      s"""{"call":${JsonStr.quote(s"call $procedure(?)")},""" +
        s""""params":[$alertJson]}""")
    s"sp:$procedure"
  }
}

/** One delivery attempt: the Spark row analogue of the dispatcher's
  * per-handler result object ({'success': bool, 'details': ...}). */
final case class HandlerResult(
    alert_id: String,
    handler: String,
    success: Boolean,
    details: String)

/** One jira dispatch outcome: the ticket this alert landed on and
  * whether it was appended to an existing correlated ticket (vs a
  * freshly created one). */
final case class JiraTicketResult(
    alert_id: String,
    ticket: String,
    appended: Boolean)

object Dispatcher {

  /** Route each alert to its `handlers` (array column; null/empty →
    * `defaultHandler`, matching the dispatcher's `handlers = 'jira'`
    * default). Unknown handler names yield success=false rows (the
    * reference's 'missing type key' error path). Delivery happens in
    * mapPartitions on the executors; one result row per (alert,
    * handler).
    *
    * Delivery semantics are AT-LEAST-ONCE (same as the reference's
    * dispatcher poll loop): Spark may re-execute a partition on task
    * retry/speculation/cache eviction, re-invoking send. Sinks that must
    * not double-deliver should be idempotent keyed on the
    * (alert_id, handler) pair this method supplies with every payload. */
  def dispatch(
      alerts: DataFrame,
      sinks: Seq[AlertSink],
      defaultHandler: String = "console"): Dataset[HandlerResult] = {
    val spark = alerts.sparkSession
    val handlersCol =
      if (alerts.columns.contains("handlers"))
        when(col("handlers").isNull || size(col("handlers")) === 0,
          array(lit(defaultHandler))).otherwise(col("handlers"))
      else array(lit(defaultHandler))
    val routed = alerts
      .withColumn("__handler", explode(handlersCol))
      .select(
        col("alert_id").cast("string").as("_1"),
        col("__handler").cast("string").as("_2"),
        to_json(struct(alerts.columns.map(col).toIndexedSeq: _*)).as("_3"))
    val byName = sinks.map(s => s.name -> s).toMap
    implicit val enc = Encoders.product[HandlerResult]
    routed.as[(String, String, String)](Encoders.tuple(
      Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .mapPartitions { it =>
        it.map { case (alertId, handler, payload) =>
          byName.get(handler) match {
            case None =>
              HandlerResult(alertId, handler, success = false,
                s"missing handler: $handler")
            case Some(sink) =>
              try HandlerResult(alertId, handler, success = true,
                sink.send(payload))
              catch {
                case e: Exception =>
                  HandlerResult(alertId, handler, success = false,
                    String.valueOf(e.getMessage))
              }
          }
        }
      }
  }

  /** The dispatcher's poll-batch selection (alert_dispatcher.py
    * GET_ALERTS_QUERY): `IFF(alert:HANDLERS IS NULL, ticket IS NULL,
    * handled IS NULL) AND suppressed = FALSE ORDER BY event_time ASC
    * LIMIT 1000` — alerts routed by explicit handlers are pending until
    * `handled` is recorded; default-routed alerts are pending until a
    * `ticket` exists. Missing ticket/handled columns read as null (a
    * fresh store has neither). orderBy+limit is a TakeOrdered — no full
    * sort at scale. */
  def pendingBatch(alerts: DataFrame, limit: Int = 1000): DataFrame = {
    def colOrNull(n: String) =
      if (alerts.columns.contains(n)) col(n) else lit(null)
    alerts
      .filter(!coalesce(col("suppressed"), lit(false)) &&
        when(col("handlers").isNull,
          colOrNull("ticket").isNull).otherwise(colOrNull("handled").isNull))
      .orderBy(col("event_time").asc)
      .limit(limit)
  }

  /** RECORD-format dispatch: `handlersJson` is a VARIANT-style JSON
    * string column whose value may be NULL (→ `defaultHandler`, the
    * reference's `handlers = 'jira'` fallback), a scalar string, a
    * single object, or a heterogeneous array mixing nulls, strings, and
    * {'type': ..., **kwargs} objects (alert_dispatcher.py:44-92).
    * Normalization runs executor-side with Jackson (the array is
    * heterogeneous — a Catalyst from_json schema can't hold it):
    *   - null entry → the reference appends a literal None; here a
    *     (handler=null, success=false) row stands in for it
    *   - string entry → {'type': entry}
    *   - object without 'type' → success=false 'missing type key'
    *   - object with 'type' → sink.send(payload, configJson), kwargs
    *     passed through to config-aware sinks
    * Same at-least-once semantics as `dispatch`. */
  def dispatchRecord(
      alerts: DataFrame,
      sinks: Seq[AlertSink],
      handlersJson: String = "handlers",
      defaultHandler: String = "jira"): Dataset[HandlerResult] = {
    val routed = alerts.select(
      col("alert_id").cast("string").as("_1"),
      (if (alerts.columns.contains(handlersJson))
        col(handlersJson).cast("string") else lit(null)).as("_2"),
      to_json(struct(alerts.columns.map(col).toIndexedSeq: _*)).as("_3"))
    val byName = sinks.map(s => s.name -> s).toMap
    implicit val enc = Encoders.product[HandlerResult]
    routed.as[(String, String, String)](Encoders.tuple(
      Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .mapPartitions { it =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        it.flatMap { case (alertId, handlersStr, payload) =>
          val entries: Seq[com.fasterxml.jackson.databind.JsonNode] =
            if (handlersStr == null || handlersStr.trim.isEmpty)
              Seq(mapper.getNodeFactory.textNode(defaultHandler))
            else {
              val node =
                try mapper.readTree(handlersStr)
                catch { // bare handler name landed unquoted
                  case _: Exception =>
                    mapper.getNodeFactory.textNode(handlersStr)
                }
              if (node == null || node.isNull)
                Seq(mapper.getNodeFactory.textNode(defaultHandler))
              else if (node.isArray) node.elements().asScala.toSeq
              else Seq(node) // scalar string or single object
            }
          entries.map { e =>
            if (e == null || e.isNull)
              HandlerResult(alertId, null, success = false, null)
            else {
              val (tpe, config) =
                if (e.isTextual) (e.asText(), "{}")
                else if (e.isObject && e.hasNonNull("type"))
                  (e.get("type").asText(), e.toString)
                else (null, e.toString)
              if (tpe == null)
                HandlerResult(alertId, null, success = false,
                  s"missing type key: $config")
              else byName.get(tpe) match {
                case None =>
                  HandlerResult(alertId, tpe, success = false,
                    s"missing handler: $tpe")
                case Some(sink) =>
                  try HandlerResult(alertId, tpe, success = true,
                    sink.send(payload, config))
                  catch {
                    case ex: Exception =>
                      HandlerResult(alertId, tpe, success = false,
                        String.valueOf(ex.getMessage))
                  }
              }
            }
          }
        }
      }
  }

  /** Correlated jira dispatch — the reference's create-vs-append flow
    * (handlers/jira.py:217-280 `handle`): for each alert, look up the
    * most recent alert in the STORE sharing its correlation_id that
    * already has a ticket (jira.py CORRELATION_QUERY: ORDER BY
    * event_time DESC LIMIT 1); if that ticket still sits in
    * `startingStatus`, APPEND this alert's body to it
    * (jira.py:94-114 append_to_body); otherwise (no correlated ticket,
    * status moved on, or status fetch failed) CREATE a new ticket
    * (jira.py:253). The ticket id is recorded per alert
    * (record_ticket_id).
    *
    * Spark shape: the per-alert LIMIT-1 store query becomes ONE
    * max_by aggregate over the store joined onto the batch; the
    * reference's driver-side sequential loop (which lets a second
    * batch alert of the same correlation append to the ticket the
    * first one just created) becomes per-correlation sequencing —
    * alerts are repartitioned by correlation key and processed in
    * event_time order within each group by a task-local ticket map,
    * so cross-correlation work stays parallel while within-correlation
    * order matches the reference. Uncorrelated alerts key by their own
    * alert_id (no skew partition, always create).
    *
    * Delivery is AT-LEAST-ONCE, like [[Dispatcher.dispatch]]: Spark may
    * re-run a partition on task retry/speculation, re-invoking
    * createTicket/appendToTicket. The in-memory [[JiraTickets]] double
    * tolerates replays; a REAL ticket API swapped in behind [[JiraSink]]
    * must make both calls idempotent on the alert_id carried in every
    * payload (e.g. create-if-absent keyed by alert_id, append deduped on
    * (ticket, alert_id)) — otherwise a speculative re-execution files
    * duplicate tickets and double-appends bodies. */
  def dispatchJira(
      batch: DataFrame,
      store: DataFrame,
      sink: JiraSink,
      startingStatus: String = "To Do",
      timeCol: String = "event_time"): Dataset[JiraTicketResult] = {
    def colOrNull(df: DataFrame, n: String) =
      if (df.columns.contains(n)) col(n) else lit(null).cast("string")
    val existing = store
      .filter(colOrNull(store, "ticket").isNotNull &&
        colOrNull(store, "correlation_id").isNotNull)
      .groupBy(col("correlation_id").as("__corr"))
      .agg(max_by(col("ticket"), col(timeCol)).as("__existing_ticket"))
    val routed = batch
      .withColumn("__corr", colOrNull(batch, "correlation_id"))
      .join(existing, Seq("__corr"), "left")
      .select(
        col("alert_id").cast("string").as("_1"),
        col("__corr").as("_2"),
        col("__existing_ticket").as("_3"),
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*)).as("_4"),
        coalesce(col("__corr"),
          concat(lit("__solo:"), col("alert_id"))).as("_5"),
        col(timeCol).cast("long").as("_6"))
    implicit val enc = Encoders.product[JiraTicketResult]
    routed
      .repartition(col("_5"))
      .sortWithinPartitions(col("_5"), col("_6"), col("_1"))
      .select("_1", "_2", "_3", "_4") // projection keeps the sort order
      .as[(String, String, String, String)](Encoders.tuple(
        Encoders.STRING, Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .mapPartitions { it =>
        val local = scala.collection.mutable.HashMap.empty[String, String]
        it.map { case (alertId, corr, storeTicket, payload) =>
          val candidate =
            (if (corr != null) local.get(corr) else None)
              .orElse(Option(storeTicket))
          val reuse = candidate.filter(id =>
            sink.checkStatus(id).contains(startingStatus))
          reuse match {
            case Some(id) =>
              sink.appendToTicket(id, payload)
              if (corr != null) local(corr) = id
              JiraTicketResult(alertId, id, appended = true)
            case None =>
              val id = sink.createTicket(payload, startingStatus)
              if (corr != null) local(corr) = id
              JiraTicketResult(alertId, id, appended = false)
          }
        }
      }
  }

  /** record_ticket_id: the per-alert `ticket` UPDATE, as one equi-join
    * of the batch against the dispatch results. */
  def recordTicketId(
      alerts: DataFrame,
      results: Dataset[JiraTicketResult]): DataFrame =
    alerts.join(
      results.select(col("alert_id"), col("ticket")), Seq("alert_id"),
      "left")

  /** Join per-handler results back onto the alerts as a `handled` array
    * of (handler, success, details) structs — the dispatcher's
    * record_status UPDATE. Results per alert are few → aggregate then
    * broadcast-friendly equi-join on alert_id. */
  def recordStatus(
      alerts: DataFrame,
      results: Dataset[HandlerResult]): DataFrame = {
    val agg = results
      .groupBy(col("alert_id"))
      .agg(collect_list(
        struct(col("handler"), col("success"), col("details"))).as("handled"))
    alerts.join(agg, Seq("alert_id"), "left")
  }
}
