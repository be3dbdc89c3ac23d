package graft

import org.apache.spark.sql.functions._

import graft.engine.{ConsoleSink, Dispatcher, JiraSink, MemorySink,
  PagerDutySink, RunLog, RuleEngine, ServiceNowSink, SesSink, SlackSink,
  SmtpSink, SnsSink}

/** SURVEY.md §2 #7 (AlertSink dispatch) + #8 (run metadata). */
class DispatchSpec extends SparkSuite {
  import spark.implicits._

  private def mkAlerts = Seq(
    ("a1", "u1", Seq("memory", "slack")),
    ("a2", "u2", Seq("memory")),
    ("a3", "u3", null.asInstanceOf[Seq[String]]), // → default handler
    ("a4", "u4", Seq("pagerduty")) // not configured → missing handler
  ).toDF("alert_id", "actor", "handlers")

  test("dispatch routes each alert to every listed handler") {
    val buf = s"dispatch-${System.nanoTime()}"
    val sinks = Seq(new MemorySink(buf), new ConsoleSink,
      new SlackSink("#alerts", buf + "-slack"))
    val results = Dispatcher.dispatch(mkAlerts, sinks,
      defaultHandler = "memory").collect()

    assert(results.length == 5) // a1×2 + a2 + a3(default) + a4
    val ok = results.filter(_.success)
    assert(ok.map(r => (r.alert_id, r.handler)).toSet ==
      Set(("a1", "memory"), ("a1", "slack"), ("a2", "memory"),
        ("a3", "memory")))
    // memory sink actually received the routed alerts
    val delivered = MemorySink.drain(buf)
    assert(delivered.length == 3)
    assert(delivered.forall(_.contains("\"alert_id\"")))
    // slack stub formatted a channel payload
    val slack = MemorySink.drain(buf + "-slack")
    assert(slack.length == 1 && slack.head.contains("\"channel\":\"#alerts\""))
  }

  test("drain returns a buffer's payloads and removes the buffer") {
    val buf = s"drain-${System.nanoTime()}"
    val sink = new MemorySink(buf)
    sink.send("a")
    sink.send("b")
    assert(MemorySink.holds(buf))
    assert(MemorySink.drain(buf) == Seq("a", "b"))
    assert(!MemorySink.holds(buf), "a drained buffer stays registered")
    // draining an unknown id registers nothing either
    assert(MemorySink.drain(buf).isEmpty)
    assert(!MemorySink.holds(buf))
    // a later send starts a new buffer
    sink.send("c")
    assert(MemorySink.drain(buf) == Seq("c"))
  }

  test("pd/smtp/sns/ses/service_now sinks format the reference payloads") {
    val buf = s"ext-${System.nanoTime()}"
    val alerts = Seq(
      ("a9", "Root used", "AWS Root Account Activity", "SnowAlert", "High",
        Seq("pd", "smtp", "sns", "ses", "service_now"))
    ).toDF("alert_id", "description", "title", "detector", "severity",
      "handlers")
    val sinks = Seq(
      new PagerDutySink("rk-123", buf + "-pd"),
      new SmtpSink("noreply@example.com", "sec@example.com", buf + "-smtp"),
      new SnsSink("arn:aws:sns:us-east-1:111122223333:alerts", buf + "-sns"),
      new SesSink("noreply@example.com", "sec@example.com", buf + "-ses"),
      new ServiceNowSink("u_", "analyst", buf + "-sn"))
    val results = Dispatcher.dispatch(alerts, sinks, "pd").collect()
    assert(results.length == 5 && results.forall(_.success))

    // PagerDuty Events-API trigger (pd.py): normalized severity,
    // dedup_key = alert_id, custom_details = whole alert
    val pd = MemorySink.drain(buf + "-pd").head
    assert(pd.contains("\"event_action\":\"trigger\""))
    assert(pd.contains("\"dedup_key\":\"a9\""))
    assert(pd.contains("\"severity\":\"unknown\"")) // 'High' not in dict
    assert(pd.contains("\"summary\":\"Root used\""))
    assert(pd.contains("\"custom_details\":{"))

    // SMTP message (smtp.py): subject = title, text = description
    val smtp = MemorySink.drain(buf + "-smtp").head
    assert(smtp.contains("\"subject\":\"AWS Root Account Activity\""))
    assert(smtp.contains("\"text\":\"Root used\""))
    assert(smtp.contains("\"to\":\"sec@example.com\""))

    // SNS publish params (sns.py)
    val sns = MemorySink.drain(buf + "-sns").head
    assert(sns.contains("\"TopicArn\":\"arn:aws:sns:us-east-1:111122223333:alerts\""))
    assert(sns.contains("\"Subject\":\"AWS Root Account Activity\""))

    // SES send_email shape (ses.py): Destination/Message/Source
    val ses = MemorySink.drain(buf + "-ses").head
    assert(ses.contains("\"ToAddresses\":[\"sec@example.com\"]"))
    assert(ses.contains("\"Charset\":\"UTF-8\""))
    assert(ses.contains("\"Source\":\"noreply@example.com\""))

    // ServiceNow incident record (service_now.py) with field prefix
    val sn = MemorySink.drain(buf + "-sn").head
    assert(sn.contains("\"u_category\":\"IT Security\""))
    assert(sn.contains("\"u_short_description\":\"AWS Root Account Activity\""))
    assert(sn.contains("\"u_assigned_to\":\"analyst\""))
  }

  test("sms and stored-proc sinks format the reference payloads") {
    val buf = s"ext2-${System.nanoTime()}"
    val alerts = Seq(
      ("a1", "Root used", "AWS Root Account Activity",
        Seq("sms", "sp"))
    ).toDF("alert_id", "description", "title", "handlers")
    val sinks = Seq(
      new graft.engine.SmsSink("+15550001111", "+15552223333", buf + "-sms"),
      new graft.engine.StoredProcSink("results.enrich_alert", buf + "-sp"))
    val results = Dispatcher.dispatch(alerts, sinks, "sms").collect()
    assert(results.length == 2 && results.forall(_.success))
    val sms = MemorySink.drain(buf + "-sms").head
    assert(sms.contains("\"body\":\"AWS Root Account Activity\""))
    assert(sms.contains("\"to\":\"+15552223333\""))
    val sp = MemorySink.drain(buf + "-sp").head
    assert(sp.contains("\"call\":\"call results.enrich_alert(?)\""))
    assert(sp.contains("\"alert_id\":\"a1\""))
  }

  test("unknown handler records failure, matching the missing-type path") {
    val results = Dispatcher
      .dispatch(mkAlerts, Seq(new MemorySink(s"x-${System.nanoTime()}")),
        defaultHandler = "memory")
      .collect()
    val bad = results.filter(!_.success)
    assert(bad.map(_.handler).toSet == Set("slack", "pagerduty"))
    assert(bad.forall(_.details.contains("missing handler")))
  }

  test("recordStatus joins handled results back onto the alerts") {
    val buf = s"rs-${System.nanoTime()}"
    val results = Dispatcher.dispatch(mkAlerts,
      Seq(new MemorySink(buf), new JiraSink("SEC", buf + "-jira")),
      defaultHandler = "jira")
    val handled = Dispatcher.recordStatus(mkAlerts, results)
    assert(handled.count() == 4)
    val a1 = handled.filter(col("alert_id") === "a1")
      .select(size(col("handled"))).head().getInt(0)
    assert(a1 == 2) // memory ok + slack missing → two result entries
    val a4 = handled.filter(col("alert_id") === "a4")
      .selectExpr("handled[0].success").head().getBoolean(0)
    assert(!a4)
  }

  test("run metadata captures per-stage counts and timings for a 2-rule run") {
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "error", 120.0),
      (2L, "2024-01-01 10:30:00", 1L, "error", 130.0),
      (3L, "2024-01-01 11:00:00", 2L, "login", 5.0),
      (4L, "2024-01-01 12:00:00", 3L, "error", 250.0)
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .withColumn("props", lit("{}"))

    def rule(n: String, pred: org.apache.spark.sql.Column) =
      graft.engine.AlertRule(
        name = n, queryId = n, title = n,
        predicate = pred,
        actor = concat_ws("", lit("u"), col("user_id")),
        target = concat_ws("", lit("u"), col("user_id")),
        action = col("event_type"),
        description = lit("d"),
        severity = lit("medium"),
        eventTime = col("ts"),
        eventData = col("props"))

    val log = RunLog.newRun()
    val errors = log.timedInsert("errors_rule") {
      RuleEngine.runAlertRule(events, rule("errors_rule",
        col("event_type") === "error"), col("event_id"),
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", 0L)
    }
    log.timedInsert("logins_rule") {
      RuleEngine.runAlertRule(events, rule("logins_rule",
        col("event_type") === "login"), col("event_id"),
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", 0L)
    }
    // the log stage name must match the rule name stamped into
    // suppression_rule — timedSuppress counts only THIS rule's hits
    log.timedSuppress("errors_suppress") {
      RuleEngine.suppressOnKey(RuleEngine.unsuppressed(errors),
        errors.filter(col("actor") === "u1").select("alert_id"),
        Seq("alert_id"), "errors_suppress")
    }

    val rows = log.entries
    assert(rows.map(_.query_name) ==
      Seq("errors_rule", "logins_rule", "errors_suppress"))
    assert(rows.head.inserted == 3)
    assert(rows(1).inserted == 1)
    assert(rows(2).suppressed == 2 && rows(2).passed == 1)
    assert(rows.forall(r => r.end_time_ms >= r.start_time_ms))
    assert(rows.forall(_.error.isEmpty))

    val df = log.toDF(spark)
    assert(df.count() == 3)
    assert(df.filter(col("run_id") === log.runId).count() == 3)

    // error path: failing stage is recorded with the message, rethrown
    intercept[Exception] {
      log.timedInsert("bad_rule") {
        events.select(col("nope"))
      }
    }
    assert(log.entries.last.error.isDefined)
  }

  test("flush records one ERROR row for an observed stage that never " +
    "ran, within its timeout, and the counts of one that did") {
    val log = RunLog.newRun()
    val ran = log.observedInsert("ran")(mkAlerts)
    log.observedInsert("never_ran")(mkAlerts) // no action ever reads it
    ran.write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    log.flush(timeoutMs = 500)
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
    assert(log.entries.map(r => (r.query_name, r.inserted, r.error)) == Seq(
      ("ran", 4L, None),
      ("never_ran", 0L, Some("metrics never observed"))))
    log.flush(timeoutMs = 500) // nothing is pending any more
    assert(log.entries.size == 2)
  }

  // --- alert_dispatcher.py RECORD-format edge cases (lines 44-92) ---

  private def mkVariantAlerts = Seq(
    // heterogeneous array: string + config object + null entry
    ("v1", """["memory", {"type": "slack", "channel": "#sec"}, null]"""),
    ("v2", null.asInstanceOf[String]), // NULL → default handler
    ("v3", "memory"), // bare scalar (unquoted string value)
    ("v4", """{"type": "memory"}"""), // single object
    ("v5", """[{"channel": "#no-type"}]"""), // object missing 'type'
    ("v6", """"memory"""") // quoted scalar
  ).toDF("alert_id", "handlers")

  test("dispatchRecord normalizes VARIANT handlers like the dispatcher") {
    val buf = s"rec-${System.nanoTime()}"
    val sinks = Seq(new MemorySink(buf), new SlackSink("#alerts", buf + "-s"))
    val rs = Dispatcher.dispatchRecord(mkVariantAlerts, sinks,
      defaultHandler = "memory").collect()

    // v1 → memory ok, slack ok (config passed), null entry → null row
    val v1 = rs.filter(_.alert_id == "v1")
    assert(v1.length == 3)
    assert(v1.count(_.success) == 2)
    assert(v1.exists(r => !r.success && r.handler == null))
    // v2 NULL handlers → default
    val v2 = rs.filter(_.alert_id == "v2")
    assert(v2.map(r => (r.handler, r.success)).toSeq == Seq(("memory", true)))
    // v3/v6 scalars and v4 single object all route to memory
    for (id <- Seq("v3", "v4", "v6")) {
      val r = rs.filter(_.alert_id == id)
      assert(r.length == 1 && r.head.success && r.head.handler == "memory",
        s"$id: ${r.toSeq}")
    }
    // v5 object without 'type' → the reference's 'missing type key' error
    val v5 = rs.filter(_.alert_id == "v5")
    assert(v5.length == 1 && !v5.head.success &&
      v5.head.details.contains("missing type key"))
    // deliveries: v1+v2+v3+v4+v6 memory sends
    assert(MemorySink.drain(buf).length == 5)
  }

  test("pendingBatch applies the GET_ALERTS gating predicate") {
    val alerts = Seq(
      // (id, handlers, ticket, handled, suppressed, event_time)
      ("p1", null, null, null, false, "2024-01-01 00:00:03"),
      ("p2", null, "SEC-1", null, false, "2024-01-01 00:00:01"), // ticketed
      ("p3", """["memory"]""", null, null, false, "2024-01-01 00:00:02"),
      ("p4", """["memory"]""", null, "[...]", false, "2024-01-01 00:00:04"),
      ("p5", null, null, null, true, "2024-01-01 00:00:00") // suppressed
    ).toDF("alert_id", "handlers", "ticket", "handled", "suppressed", "et")
      .withColumn("event_time", col("et").cast("timestamp"))

    val got = Dispatcher.pendingBatch(alerts).select("alert_id")
      .as[String].collect().toSeq
    // p2 handled-by-ticket, p4 already handled, p5 suppressed; ordered
    // by event_time ascending: p3 (00:02) before p1 (00:03)
    assert(got == Seq("p3", "p1"))
    // LIMIT honored
    assert(Dispatcher.pendingBatch(alerts, limit = 1).count() == 1)
    // a store with no ticket/handled columns treats both as null:
    // everything unsuppressed (p1-p4) is pending
    val bare = alerts.drop("ticket", "handled")
    assert(Dispatcher.pendingBatch(bare).count() == 4)
  }

  test("dispatchJira appends to a correlated To-Do ticket, else creates") {
    import graft.engine.JiraTickets
    val buf = s"jira-${System.nanoTime()}"
    val sink = new JiraSink("SA", buf)

    // Store: C1 has two ticketed alerts — the most RECENT one's ticket
    // (jira.py CORRELATION_QUERY orders by event_time DESC) must win;
    // C2's ticket has moved past the starting status.
    val tOld = sink.createTicket("""{"alert_id":"s0"}""", "To Do")
    val tC1 = sink.createTicket("""{"alert_id":"s1"}""", "To Do")
    val tC2 = sink.createTicket("""{"alert_id":"s2"}""", "To Do")
    JiraTickets.setStatus(buf, tC2, "Done")
    val store = Seq(
      ("s0", "C1", tOld, 50L),
      ("s1", "C1", tC1, 100L),
      ("s2", "C2", tC2, 80L)
    ).toDF("alert_id", "correlation_id", "ticket", "event_time")

    val batch = Seq(
      ("b1", "C1", 200L), // → append to tC1 (most recent, To Do)
      ("b2", "C1", 300L), // → append to tC1 after b1 (sequenced)
      ("b3", "C2", 210L), // C2 ticket Done → create new
      ("b4", "C3", 220L), // no store ticket → create
      ("b5", "C3", 260L), // → append to b4's fresh ticket (in-batch)
      ("b6", null, 230L)  // uncorrelated → create
    ).toDF("alert_id", "correlation_id", "event_time")

    val res = Dispatcher.dispatchJira(batch, store, sink)
      .collect().map(r => r.alert_id -> r).toMap
    assert(res("b1").ticket == tC1 && res("b1").appended)
    assert(res("b2").ticket == tC1 && res("b2").appended)
    assert(!res("b3").appended && res("b3").ticket != tC2)
    assert(!res("b4").appended)
    assert(res("b5").appended && res("b5").ticket == res("b4").ticket)
    assert(!res("b6").appended)
    // 3 creates in the batch → 3 distinct fresh tickets
    assert(Seq("b3", "b4", "b6").map(res(_).ticket).distinct.size == 3)

    // append_to_body: separator + both bodies on the correlated ticket
    val desc = JiraTickets.description(buf, tC1).get
    assert(desc.contains(JiraTickets.Separator))
    assert(desc.contains("\"alert_id\":\"b1\"") &&
      desc.contains("\"alert_id\":\"b2\""))
    // the reference appends in event_time order (driver loop order)
    assert(desc.indexOf("\"b1\"") < desc.indexOf("\"b2\""))
    // tC2 untouched — its status gated the append
    assert(JiraTickets.description(buf, tC2).get ==
      """{"alert_id":"s2"}""")

    // record_ticket_id: every batch alert gets its ticket recorded
    val recorded = Dispatcher.recordTicketId(batch,
      Dispatcher.dispatchJira(batch, store, sink))
    assert(recorded.filter(col("ticket").isNull).count() == 0)
    JiraTickets.clear(buf)
  }
}
