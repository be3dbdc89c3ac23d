package graft

import org.apache.spark.sql.functions._

import graft.engine.{AlertRule, AlertSink, MemorySink, RuleEngine,
  RunConfig, RunLog, Runner, SuppressionRule}

/** Delivers like a [[MemorySink]], except that it throws for the alerts
  * of `failActor`. */
final class FailingSink(bufferId: String, failActor: String)
    extends AlertSink {
  val name = "memory"
  def send(alertJson: String): String =
    if (alertJson.contains(s""""actor":"$failActor"""")) {
      throw new RuntimeException(s"sink down for $failActor")
    } else {
      MemorySink.buffer(bufferId).add(alertJson)
      s"buffered:$bufferId"
    }
}

/** End-to-end runner pipeline: rules → merge → suppress → correlate →
  * dispatch with metadata (the reference's run_alerts.py loop). */
class RunnerSpec extends SparkSuite {
  import spark.implicits._

  private def mkEvents = Seq(
    (1L, "2024-01-01 10:00:00", 1L, "error", 120.0),
    (2L, "2024-01-01 10:30:00", 1L, "error", 130.0),
    (3L, "2024-01-01 11:00:00", 2L, "login", 5.0),
    (4L, "2024-01-01 12:00:00", 3L, "error", 250.0),
    (5L, "2024-01-01 12:05:00", 3L, "error", 260.0)
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", col("ts_s").cast("timestamp"))
    .withColumn("props", lit("{}"))

  private def rule(n: String, pred: org.apache.spark.sql.Column) =
    AlertRule(
      name = n, queryId = n, title = n,
      predicate = pred,
      actor = concat_ws("", lit("u"), col("user_id")),
      target = concat_ws("", lit("u"), col("user_id")),
      action = col("event_type"),
      description = concat_ws("", lit(n), lit(":u"), col("user_id")),
      severity = lit("medium"),
      eventTime = col("ts"),
      eventData = col("props"))

  test("full alert run: rules, merge, suppress, correlate, dispatch, metadata") {
    val buf = s"runner-${System.nanoTime()}"
    val log = RunLog.newRun()
    val result = Runner.runAlerts(
      events = mkEvents,
      rules = Seq(
        rule("errors", col("event_type") === "error"),
        rule("logins", col("event_type") === "login")),
      idCol = col("event_id"),
      suppressions = Seq(SuppressionRule("squelch_u1",
        alerts => alerts.filter(col("actor") === "u1").select("alert_id"))),
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)

    // the store holds all merged alerts with suppression flags:
    // 5 raw alerts merge to 3 (u1 errors merge, u3 errors merge, login)
    val store = result.store.collect()
    assert(store.length == 3)
    assert(store.count(_.getAs[Boolean]("suppressed")) == 1)
    assert(store.find(_.getAs[Boolean]("suppressed")).get
      .getAs[String]("suppression_rule") == "squelch_u1")
    // live alerts exclude suppressed u1 and are correlated + dispatched
    val alerts = result.alerts.collect()
    assert(alerts.length == 2)
    assert(alerts.forall(a => a.getAs[String]("actor") != "u1"))
    assert(alerts.forall(_.getAs[String]("correlation_id") != null))
    // every live alert was dispatched to the memory sink exactly once
    val delivered = MemorySink.drain(buf)
    assert(delivered.length == 2)
    val handlerRows = result.handlerResults.collect()
    assert(handlerRows.length == 2 && handlerRows.forall(_.success))
    // handled column carries the per-handler result struct
    assert(alerts.forall(
      _.getAs[scala.collection.Seq[Any]]("handled").length == 1))
    // metadata: one row per rule + merge + suppression + dispatch
    val meta = log.entries
    assert(meta.map(_.query_name) ==
      Seq("errors", "logins", "alert_merge", "squelch_u1", "alert_dispatch"))
    assert(meta.head.inserted == 4) // errors rule: 4 matching events
    assert(meta(1).inserted == 1)
    assert(meta(2).inserted == 3) // 5 raw alerts merged to 3
    assert(meta(3).suppressed == 1 && meta(3).passed == 2)
    assert(meta(4).inserted == 2) // live handled alerts
  }

  test("alerts from DIFFERENT rules sharing (object, description) merge " +
      "into one (reference tests/run_alerts.py: Test 1 groups with Test 3)") {
    // the reference's own end-to-end test plants two rules whose
    // alerts share OBJECT + DESCRIPTION and asserts they land as ONE
    // merged alert; graft merges over the UNION of all rules' output,
    // so the cross-rule group must collapse with counter 2
    val buf = s"runner-x-${System.nanoTime()}"
    def sharedRule(n: String) = AlertRule(
      name = n, queryId = n, title = n,
      predicate = col("event_type") === "login",
      actor = lit("Common Test Actor"),
      target = lit("""["obj1","obj2"]"""),
      action = lit("test action"),
      description = lit("shared description"),
      severity = lit("low"),
      eventTime = col("ts"), eventData = col("props"))
    val result = Runner.runAlerts(
      events = mkEvents,
      rules = Seq(sharedRule("test1"), sharedRule("test3")),
      idCol = col("event_id"),
      suppressions = Nil,
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = RunLog.newRun())
    MemorySink.drain(buf)
    val store = result.store.collect()
    assert(store.length == 1, "cross-rule same-(object,description) " +
      "alerts must merge to one row")
    assert(store.head.getAs[Long]("counter") == 2L)
  }

  /** Runs the two-rule fixture over an event source that counts its
    * row reads; returns the reads and the run's metadata. */
  private def countedRun(suppressions: Seq[SuppressionRule])
      : (Long, Seq[graft.engine.RunMetadataRow]) = {
    val acc = spark.sparkContext.longAccumulator("event-row-reads")
    val tick = udf { () => acc.add(1); true }.asNondeterministic()
    val counted = mkEvents.filter(tick())
    val buf = s"runner-scan-${System.nanoTime()}"
    val log = RunLog.newRun()
    Runner.runAlerts(
      events = counted,
      rules = Seq(
        rule("errors", col("event_type") === "error"),
        rule("logins", col("event_type") === "login")),
      idCol = col("event_id"),
      suppressions = suppressions,
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)
    MemorySink.drain(buf)
    (acc.value, log.entries)
  }

  test("each rule's event scan executes once per run (observed metrics)") {
    // metadata counts ride the plan via observe(); an eager count-per-
    // stage runner would read every event row at least twice, and a
    // per-rule union once per rule. The accumulator counts actual row
    // reads of the event source.
    val (reads, entries) = countedRun(Nil)
    assert(reads == 5,
      s"expected 5 event-row reads (one pass for both rules), got $reads")
    // the observed metadata rows still populate with exact counts
    assert(entries.map(_.query_name) ==
      Seq("errors", "logins", "alert_merge", "alert_dispatch"))
    assert(entries.head.inserted == 4)
    assert(entries(1).inserted == 1)
    assert(entries(2).inserted == 3)
  }

  test("with a suppression rule every event is still read once per run") {
    // the suppression's broadcast side reads the cached merged set, not
    // a second scan and merge of the events
    val (reads, entries) = countedRun(Seq(SuppressionRule("squelch_u1",
      alerts => alerts.filter(col("actor") === "u1").select("alert_id"))))
    assert(reads == 5,
      s"expected 5 event-row reads with a suppression, got $reads")
    assert(entries.map(_.query_name) ==
      Seq("errors", "logins", "alert_merge", "squelch_u1", "alert_dispatch"))
    assert(entries(3).suppressed == 1 && entries(3).passed == 2)
  }

  test("a run over another window compiles no new code") {
    // window bounds and alert_time_s are parameters of the generated
    // code, not constants in it, so a scheduler's next tick reuses
    // every class the previous tick compiled
    import org.apache.spark.metrics.source.CodegenMetrics
    def tick(from: String, to: String, atS: Long): Unit = {
      val buf = s"runner-codegen-${System.nanoTime()}"
      val res = Runner.runAlerts(
        events = mkEvents,
        rules = Seq(
          rule("errors", col("event_type") === "error"),
          rule("logins", col("event_type") === "login")),
        idCol = col("event_id"),
        suppressions = Seq(SuppressionRule("squelch_u1",
          alerts => alerts.filter(col("actor") === "u1").select("alert_id"))),
        sinks = Seq(new MemorySink(buf)),
        cfg = RunConfig(from, to, alertTimeS = atS,
          defaultHandler = "memory"),
        log = RunLog.newRun())
      assert(res.alerts.count() == 2)
      MemorySink.drain(buf)
      res.store.unpersist(blocking = true)
      res.handlerResults.unpersist(blocking = true)
    }
    tick("2024-01-01 00:00:00", "2024-01-02 00:00:00", 1704153600L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    tick("2024-01-01 06:00:00", "2024-01-02 06:00:00", 1704175200L)
    val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(added == 0, s"the second window compiled $added new classes")
  }

  test("a second window over one events frame and one rule set re-binds " +
      "the prepared rule pass and compiles no new code") {
    // a scheduler's ticks: the same frame and rules, only the window
    // moves, so the second tick takes the prepared pass
    import org.apache.spark.metrics.source.CodegenMetrics
    val events = mkEvents
    val rules = Seq(
      rule("errors", col("event_type") === "error"),
      rule("logins", col("event_type") === "login"))
    val suppressions = Seq(SuppressionRule("squelch_u1",
      alerts => alerts.filter(col("actor") === "u1").select("alert_id")))
    def tick(from: String, to: String, atS: Long): (Long, Long, Seq[Long]) = {
      val buf = s"runner-prepared-${System.nanoTime()}"
      val log = RunLog.newRun()
      val res = Runner.runAlerts(events, rules, col("event_id"),
        suppressions, Seq(new MemorySink(buf)),
        RunConfig(from, to, alertTimeS = atS, defaultHandler = "memory"),
        log)
      // one query per tick, as the test above: every other query's
      // classes would crowd the codegen cache between the two ticks
      val live = res.alerts.collect().toSeq
      MemorySink.drain(buf)
      res.release()
      (live.size.toLong, log.entries.find(_.query_name == "errors").get
        .inserted, live.map(_.getAs[Long]("alert_time_s")).distinct)
    }
    assert(tick("2024-01-01 00:00:00", "2024-01-02 00:00:00", 1704153600L) ==
      ((2L, 4L, Seq(1704153600L))))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val hits = Runner.preparedHits
    // from 10:15 on, u1's 10:00 error is out: the bounds were re-bound.
    // Every stage keeps rows, so adaptive execution plans the same
    // stages (an empty one would re-plan, and compile, around it)
    assert(tick("2024-01-01 10:15:00", "2024-01-02 10:15:00", 1704190500L) ==
      ((2L, 3L, Seq(1704190500L))))
    val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(added == 0, s"the second window compiled $added new classes")
    assert(Runner.preparedHits == hits + 1)
  }

  test("a changed rule, a re-read events frame or another session time " +
      "zone takes the fresh rule pass, with a fresh run's alerts") {
    val events = mkEvents
    def rules = Seq(
      rule("errors", col("event_type") === "error"),
      rule("logins", col("event_type") === "login"))
    def run(ev: org.apache.spark.sql.DataFrame, rs: Seq[AlertRule])
        : Seq[String] = {
      val buf = s"runner-fresh-${System.nanoTime()}"
      val res = Runner.runAlerts(ev, rs, col("event_id"), Nil,
        Seq(new MemorySink(buf)),
        RunConfig("2024-01-01 00:00:00", "2024-01-01 11:30:00",
          alertTimeS = 1704108600L, defaultHandler = "memory"),
        RunLog.newRun())
      val out = res.alerts.drop("handled").collect().map(_.toString)
        .toSeq.sorted
      MemorySink.drain(buf)
      res.release()
      out
    }
    // another key in between: the next run analyzes afresh
    def fresh(ev: org.apache.spark.sql.DataFrame, rs: Seq[AlertRule]) = {
      run(ev, Seq(rule("evict", lit(false))))
      run(ev, rs)
    }
    def freshPath(body: => Seq[String]): Seq[String] = {
      val hits = Runner.preparedHits
      val out = body
      assert(Runner.preparedHits == hits, "took the prepared pass")
      out
    }
    run(events, rules)
    // equal by value is the same key: a hit
    val hits = Runner.preparedHits
    run(events, rules)
    assert(Runner.preparedHits == hits + 1)

    val changed = rules.updated(1,
      rule("logins", col("event_type") === "login" && col("value") > 10.0))
    val afterRuleChange = freshPath(run(events, changed))
    assert(afterRuleChange == fresh(events, changed))
    assert(afterRuleChange.size == 1) // the 5.0 login no longer hits

    run(events, rules)
    val reread = mkEvents
    assert(freshPath(run(reread, rules)) == fresh(reread, rules))

    run(events, rules)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      // the window is 08:00-19:30 UTC there: u3's errors are inside
      val inLosAngeles = freshPath(run(events, rules))
      assert(inLosAngeles == fresh(events, rules))
      assert(inLosAngeles.size == 3)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
    assert(run(events, rules).size == 2)
  }

  test("three released ticks leave no persisted RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a window sliding 6 h a tick; the third drops the 10:00-11:00 alerts
    Seq(("2024-01-01 00:00:00", "2024-01-02 00:00:00", 3),
        ("2024-01-01 06:00:00", "2024-01-02 06:00:00", 3),
        ("2024-01-01 12:00:00", "2024-01-02 12:00:00", 1)).foreach {
      case (from, to, stored) =>
      val buf = s"runner-release-${System.nanoTime()}"
      val res = Runner.runAlerts(
        events = mkEvents,
        rules = Seq(
          rule("errors", col("event_type") === "error"),
          rule("logins", col("event_type") === "login")),
        idCol = col("event_id"),
        suppressions = Seq(SuppressionRule("squelch_u1",
          alerts => alerts.filter(col("actor") === "u1").select("alert_id"))),
        sinks = Seq(new MemorySink(buf)),
        cfg = RunConfig(from, to, alertTimeS = 0L, defaultHandler = "memory"),
        log = RunLog.newRun())
      assert(res.store.count() == stored)
      MemorySink.drain(buf)
      res.release()
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"three released ticks left ${left.size} RDD(s)")
  }

  test("monitoring rule over run metadata flags failed rule runs") {
    // the reference's snowalert_query_rule_run_errors pattern: the
    // metadata table is itself a rule source (ref: db.record_metadata +
    // packs/snowflake_security_monitoring.sql error rules)
    val log = RunLog.newRun()
    log.timedInsert("good_rule") {
      RuleEngine.runAlertRule(mkEvents,
        rule("good_rule", col("event_type") === "error"), col("event_id"),
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", 0L)
    }
    intercept[Exception] {
      log.timedInsert("broken_rule") { mkEvents.select(col("missing")) }
    }

    val meta = log.toDF(spark)
      .withColumn("ts", to_timestamp(col("start_time_ms") / 1000.0))
    val monitor = graft.engine.AlertRule(
      name = "rule_run_errors", queryId = "mon1",
      title = "Rule run error",
      predicate = col("error").isNotNull,
      actor = lit("graft"),
      target = col("query_name"),
      action = lit("rule_run_failed"),
      description = col("error"),
      severity = lit("high"),
      eventTime = col("ts"),
      eventData = col("error"))
    val alerts = RuleEngine.runAlertRule(meta, monitor, col("query_name"),
      "2000-01-01 00:00:00", "2100-01-01 00:00:00", 0L).collect()
    assert(alerts.length == 1)
    assert(alerts.head.getAs[String]("object") == "broken_rule")
  }

  test("violation run: rules + suppression with identity-hash ids") {
    import graft.engine.{Runner, ViolationRule}
    val daily = mkEvents
      .filter(col("event_type") === "error")
      .groupBy(concat_ws("", lit("u"), col("user_id")).as("target_user"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val rule = ViolationRule(
      name = "err_burst", queryId = "v1", title = "Burst",
      predicate = col("n") >= 1,
      target = col("target_user"),
      owner = lit("secops"),
      severity = lit("medium"),
      day = col("day"))
    val log = RunLog.newRun()
    val out = Runner.runViolations(
      Seq(rule -> daily),
      Seq(SuppressionRule("allow_u1",
        v => v.filter(col("object") === "u1").select("id"))),
      log)
    val rows = out.collect()
    assert(rows.length == 2) // u1 and u3 have error days
    assert(rows.count(_.getAs[Boolean]("suppressed")) == 1)
    assert(log.entries.map(_.query_name) == Seq("err_burst", "allow_u1"))
    assert(log.entries.head.inserted == 2)
  }

  // --- per-rule failure isolation (ref: alert_queries_runner.py wraps
  // each rule in its own try/except; run_violations.py:28-46 plants a
  // 1/0 rule and asserts the healthy rule's rows still land while the
  // broken rule's run record carries the ERROR) ----------------------

  /** A rule whose PLAN analyzes fine but whose projection throws on
    * the first matching row at execution time — the Spark analogue of
    * the reference's `1/0 AS event_data` (non-ANSI division returns
    * null here, so the bomb is an explicit data-dependent
    * raise_error, un-foldable by the optimizer). */
  private def runtimeBombRule(n: String) =
    AlertRule(
      name = n, queryId = n, title = n,
      predicate = col("event_type") === "error",
      actor = concat_ws("", lit("u"), col("user_id")),
      target = concat_ws("", lit("u"), col("user_id")),
      action = col("event_type"),
      description = when(length(col("event_type")) >= 0,
        raise_error(concat(lit("division by zero:"), col("event_type"))))
        .otherwise(lit("unreachable")),
      severity = lit("high"),
      eventTime = col("ts"),
      eventData = col("props"))

  test("a rule that throws at RUNTIME yields an ERROR metadata row " +
      "while every other rule's alerts land (run_violations.py contract)") {
    val buf = s"runner-bomb-${System.nanoTime()}"
    val log = RunLog.newRun()
    val result = Runner.runAlerts(
      events = mkEvents,
      rules = Seq(
        rule("healthy_errors", col("event_type") === "error"),
        runtimeBombRule("invalid_rule"),
        rule("healthy_logins", col("event_type") === "login")),
      idCol = col("event_id"),
      suppressions = Seq(SuppressionRule("squelch_u1",
        alerts => alerts.filter(col("actor") === "u1").select("alert_id"))),
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)

    // the healthy rules' full output lands: 4 error alerts merge to 2
    // + 1 login = 3 store rows, none from the broken rule
    val store = result.store.collect()
    assert(store.length == 3)
    assert(store.forall(_.getAs[String]("query_name") != "invalid_rule"))
    // suppression still applied on the healthy set
    assert(store.count(_.getAs[Boolean]("suppressed")) == 1)
    // live alerts dispatched (u1 suppressed → u3 error + u2 login)
    val alerts = result.alerts.collect()
    assert(alerts.length == 2)
    MemorySink.drain(buf)

    // metadata: exactly one row per rule; the broken rule's row
    // carries the error with zero counts, the healthy rows real counts
    val byName = log.entries.groupBy(_.query_name)
    assert(byName("invalid_rule").size == 1)
    val bad = byName("invalid_rule").head
    assert(bad.error.exists(_.contains("division by zero")))
    assert(bad.inserted == 0)
    assert(byName("healthy_errors").size == 1)
    assert(byName("healthy_errors").head.error.isEmpty)
    assert(byName("healthy_errors").head.inserted == 4)
    assert(byName("healthy_logins").head.inserted == 1)
    // no orphaned "metrics never observed" noise from the failed
    // fused attempt
    assert(log.entries.forall(r =>
      !r.error.exists(_.contains("metrics never observed"))))
  }

  test("a rule broken at ANALYSIS (missing column) records its ERROR " +
      "row and the fused fast path continues without it") {
    val buf = s"runner-an-${System.nanoTime()}"
    val log = RunLog.newRun()
    val acc = spark.sparkContext.longAccumulator("event-reads-iso")
    val tick = udf { () => acc.add(1); true }.asNondeterministic()
    val counted = mkEvents.filter(tick())
    val result = Runner.runAlerts(
      events = counted,
      rules = Seq(
        rule("healthy_errors", col("event_type") === "error"),
        rule("no_such_col", col("nonexistent_column") === "x")),
      idCol = col("event_id"),
      suppressions = Nil,
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)
    MemorySink.drain(buf)
    assert(result.store.collect().length == 2) // u1 + u3 merged errors
    val bad = log.entries.filter(_.query_name == "no_such_col")
    assert(bad.size == 1 && bad.head.error.nonEmpty)
    // the healthy rule kept the scan-shared fast path: its 5-row scan
    // ran ONCE (no degraded per-rule re-probe)
    assert(acc.value == 5,
      s"analysis failure must not trigger the degraded re-run: ${acc.value}")
    assert(log.entries.filter(_.query_name == "healthy_errors")
      .head.inserted == 4)
  }

  test("violation run: an invalid rule records ERROR, the healthy " +
      "rule's violations land (mirrors reference run_violations.py)") {
    import graft.engine.{Runner, ViolationRule}
    val daily = mkEvents
      .filter(col("event_type") === "error")
      .groupBy(concat_ws("", lit("u"), col("user_id")).as("target_user"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val healthy = ViolationRule(
      name = "err_burst", queryId = "v1", title = "Burst",
      predicate = col("n") >= 1,
      target = col("target_user"),
      owner = lit("secops"), severity = lit("medium"), day = col("day"))
    val invalid = ViolationRule(
      name = "invalid_violation", queryId = "v2", title = "Invalid",
      predicate = col("n") >= 1,
      target = when(col("n") >= 0,
        raise_error(concat(lit("division by zero:"),
          col("target_user")))).otherwise(lit("unreachable")),
      owner = lit("secops"), severity = lit("low"), day = col("day"))
    val log = RunLog.newRun()
    val out = Runner.runViolations(
      Seq(healthy -> daily, invalid -> daily),
      Seq(SuppressionRule("allow_u1",
        v => v.filter(col("object") === "u1").select("id"))),
      log)
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("query_name") == "err_burst"))
    assert(rows.count(_.getAs[Boolean]("suppressed")) == 1)
    val byName = log.entries.groupBy(_.query_name)
    assert(byName("invalid_violation").size == 1)
    assert(byName("invalid_violation").head.error
      .exists(_.contains("division by zero")))
    assert(byName("err_burst").head.inserted == 2)
    assert(byName("allow_u1").head.suppressed == 1)
  }

  test("a failure AFTER the fused terminal action (metadata flush) " +
      "propagates — no degraded re-run, no duplicate dispatch") {
    // the degraded per-rule path must fire ONLY when the fused terminal
    // action itself fails. A later-stage failure (here: flush) arrives
    // after the side-effecting dispatch already ran — a re-run would
    // re-send every alert and give every rule a second metadata row.
    val buf = s"runner-flush-${System.nanoTime()}"
    val log = new RunLog("flush-bomb") {
      override def flush(timeoutMs: Long): Unit =
        throw new RuntimeException("flush exploded")
    }
    val persistedBefore =
      spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[RuntimeException] {
      Runner.runAlerts(
        events = mkEvents,
        rules = Seq(
          rule("errors", col("event_type") === "error"),
          rule("logins", col("event_type") === "login")),
        idCol = col("event_id"),
        suppressions = Nil,
        sinks = Seq(new MemorySink(buf)),
        cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
          alertTimeS = 0L, defaultHandler = "memory"),
        log = log)
    }
    assert(ex.getMessage == "flush exploded")
    // dispatch ran exactly once: 5 raw alerts merge to 3 live sends
    assert(MemorySink.drain(buf).length == 3,
      "flush failure must not re-run the pipeline (duplicate dispatch)")
    // and no degraded per-rule timedInsert rows were recorded
    assert(log.entries.isEmpty,
      s"flush failure must not degrade to per-rule probes: ${log.entries}")
    // the pass-1 suppressed/results caches were released, not stranded
    val leaked = spark.sparkContext.getPersistentRDDs.keySet
      .diff(persistedBefore)
    assert(leaked.isEmpty,
      s"post-terminal failure stranded ${leaked.size} cached RDD(s)")
  }

  test("violations: a flush failure after a successful terminal action " +
      "propagates — no per-rule re-probe rows") {
    import graft.engine.{Runner, ViolationRule}
    val daily = mkEvents
      .filter(col("event_type") === "error")
      .groupBy(concat_ws("", lit("u"), col("user_id")).as("target_user"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val vrule = ViolationRule(
      name = "err_burst", queryId = "v1", title = "Burst",
      predicate = col("n") >= 1,
      target = col("target_user"),
      owner = lit("secops"), severity = lit("medium"), day = col("day"))
    val log = new RunLog("flush-bomb-v") {
      override def flush(timeoutMs: Long): Unit =
        throw new RuntimeException("flush exploded")
    }
    val ex = intercept[RuntimeException] {
      Runner.runViolations(Seq(vrule -> daily), Nil, log)
    }
    assert(ex.getMessage == "flush exploded")
    assert(log.entries.isEmpty,
      s"flush failure must not degrade to per-rule probes: ${log.entries}")
  }

  test("violation counts hold when a suppression reads part of the set") {
    // a suppression's selectIds reads the unobserved copy of the set, so
    // a limit there overwrites neither the rule's nor an earlier
    // suppression's observed count (over a grouped input, as here, the
    // limit branch's metrics used to win)
    import graft.engine.ViolationRule
    val daily = (1L to 4L).map(u => (u, "2024-01-01 10:00:00")).toDF(
        "user_id", "ts_s")
      .groupBy(concat_ws("", lit("u"), col("user_id")).as("target_user"),
        col("ts_s").cast("timestamp").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val vrule = ViolationRule(
      name = "err_burst", queryId = "v1", title = "Burst",
      predicate = col("n") >= 1,
      target = col("target_user"),
      owner = lit("secops"), severity = lit("medium"), day = col("day"))
    val log = RunLog.newRun()
    val out = Runner.runViolations(Seq(vrule -> daily), Seq(
      SuppressionRule("allow_u1",
        v => v.filter(col("object") === "u1").select("id")),
      SuppressionRule("any_one", v => v.limit(1).select("id"))), log)
    assert(out.count() == 4)
    assert(log.entries.map(_.query_name) ==
      Seq("err_burst", "allow_u1", "any_one"))
    assert(log.entries.forall(_.error.isEmpty), log.entries)
    val byName = log.entries.map(e => e.query_name -> e).toMap
    assert(byName("err_burst").inserted == 4)
    assert(byName("allow_u1").suppressed == 1 &&
      byName("allow_u1").passed == 3)
    assert(byName("any_one").suppressed + byName("any_one").passed == 3)
  }

  test("a suppression broken at analysis or at runtime records one ERROR " +
      "row and is skipped while every other row lands, in both loops") {
    import graft.engine.ViolationRule
    /** One broken at analysis, one healthy, one whose selection throws
      * mid-task, each selecting `key`. */
    def suppressions(key: String) = Seq(
      SuppressionRule("no_such_col",
        _.select(col("nonexistent_column").as(key))),
      SuppressionRule("squelch_u1",
        _.filter(col("object") === "u1").select(key)),
      SuppressionRule("bomb", _.select(when(length(col(key)) >= 0,
        raise_error(lit("suppression bomb"))).otherwise(col(key)).as(key))))
    val daily = mkEvents
      .filter(col("event_type") === "error")
      .groupBy(concat_ws("", lit("u"), col("user_id")).as("target_user"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val vrule = ViolationRule(
      name = "err_burst", queryId = "v1", title = "Burst",
      predicate = col("n") >= 1,
      target = col("target_user"),
      owner = lit("secops"), severity = lit("medium"), day = col("day"))
    val buf = s"runner-broken-sup-${System.nanoTime()}"

    // (loop, id column, run returning its result rows, expected rows,
    //  expected (inserted, suppressed, passed) of every healthy stage)
    val legs: Seq[(String, String,
        (Seq[SuppressionRule], RunLog) => Array[org.apache.spark.sql.Row],
        Int, Map[String, (Long, Long, Long)])] = Seq(
      ("runAlerts", "alert_id", { (sups, log) =>
        val store = Runner.runAlerts(
          events = mkEvents,
          rules = Seq(
            rule("errors", col("event_type") === "error"),
            rule("logins", col("event_type") === "login")),
          idCol = col("event_id"),
          suppressions = sups,
          sinks = Seq(new MemorySink(buf)),
          cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
            alertTimeS = 0L, defaultHandler = "memory"),
          log = log).store.collect()
        assert(MemorySink.drain(buf).length == 2, "u2 and u3 sent once")
        store
      }, 3, Map("errors" -> (4L, 0L, 0L), "logins" -> (1L, 0L, 0L),
        "alert_merge" -> (3L, 0L, 0L), "squelch_u1" -> (0L, 1L, 2L),
        "alert_dispatch" -> (2L, 0L, 0L))),
      ("runViolations", "id", { (sups, log) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val out = Runner.runViolations(Seq(vrule -> daily), sups, log)
        val rows = out.collect()
        graft.Materialize.release(out)
        val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
        assert(leaked.isEmpty, s"the run stranded ${leaked.size} cached " +
          "RDD(s) besides its result")
        rows
      }, 2, Map("err_burst" -> (2L, 0L, 0L), "squelch_u1" -> (0L, 1L, 1L))))

    legs.foreach { case (loop, key, run, nRows, counts) =>
      val log = RunLog.newRun()
      val rows = run(suppressions(key), log)
      assert(rows.length == nRows, loop)
      assert(rows.filter(_.getAs[Boolean]("suppressed"))
        .map(_.getAs[String]("suppression_rule")).toSeq ==
        Seq("squelch_u1"), loop)
      val byName = log.entries.groupBy(_.query_name)
      assert(byName.keySet == counts.keySet ++ Set("no_such_col", "bomb"),
        s"$loop: ${log.entries}")
      assert(byName.values.forall(_.size == 1), s"$loop: ${log.entries}")
      assert(byName("no_such_col").head.error.nonEmpty, loop)
      assert(byName("bomb").head.error.exists(_.contains("suppression bomb")),
        loop)
      counts.foreach { case (name, expected) =>
        val r = byName(name).head
        assert(r.error.isEmpty && (r.inserted, r.suppressed, r.passed) ==
          expected, s"$loop: $r")
      }
    }
  }

  test("ALL rules broken still returns an empty, well-formed run") {
    val buf = s"runner-all-bad-${System.nanoTime()}"
    val log = RunLog.newRun()
    val result = Runner.runAlerts(
      events = mkEvents,
      rules = Seq(runtimeBombRule("bomb1"),
        rule("no_col", col("nope") === 1)),
      idCol = col("event_id"),
      suppressions = Nil,
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)
    assert(result.store.collect().isEmpty)
    assert(result.alerts.collect().isEmpty)
    assert(MemorySink.drain(buf).isEmpty)
    assert(log.entries.count(_.error.nonEmpty) == 2)
  }

  test("suppression ids with a NULL and a duplicate flag exactly the " +
      "matched alerts, once each, and drop no live alert") {
    // IN is three-valued: a NULL id makes a non-matching alert's test
    // NULL, which must read as not suppressed, not as a dropped row
    def nullId(alerts: org.apache.spark.sql.DataFrame) =
      alerts.limit(1).select(lit(null).cast("string").as("alert_id"))
    val buf = s"runner-null-ids-${System.nanoTime()}"
    val log = RunLog.newRun()
    val result = Runner.runAlerts(
      events = mkEvents,
      rules = Seq(
        rule("errors", col("event_type") === "error"),
        rule("logins", col("event_type") === "login")),
      idCol = col("event_id"),
      suppressions = Seq(
        SuppressionRule("squelch_u1_twice", { alerts =>
          val u1 = alerts.filter(col("actor") === "u1").select("alert_id")
          u1.union(u1).union(nullId(alerts))
        }),
        SuppressionRule("only_null", nullId)),
      sinks = Seq(new MemorySink(buf)),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)

    val store = result.store.collect()
    assert(store.length == 3, "a duplicate id must not duplicate a row")
    assert(store.forall(r => !r.isNullAt(r.fieldIndex("suppressed"))))
    val flagged = store.filter(_.getAs[Boolean]("suppressed"))
    assert(flagged.map(r => (r.getAs[String]("actor"),
      r.getAs[String]("suppression_rule"))).toSeq ==
      Seq(("u1", "squelch_u1_twice")))
    assert(store.filterNot(_.getAs[Boolean]("suppressed"))
      .forall(_.isNullAt(store.head.fieldIndex("suppression_rule"))))
    assert(result.alerts.collect().map(_.getAs[String]("actor")).sorted
      .toSeq == Seq("u2", "u3"))
    assert(MemorySink.drain(buf).length == 2)
    // the counts the join-based suppression recorded for the same ids
    val byName = log.entries.map(e => e.query_name -> e).toMap
    assert(log.entries.map(_.query_name) == Seq("errors", "logins",
      "alert_merge", "squelch_u1_twice", "only_null", "alert_dispatch"))
    assert(byName("squelch_u1_twice").suppressed == 1 &&
      byName("squelch_u1_twice").passed == 2)
    assert(byName("only_null").suppressed == 0 &&
      byName("only_null").passed == 2)
    assert(byName("alert_dispatch").inserted == 2)
  }

  test("a sink that fails for some alerts records exactly those as " +
      "failed, sends every other alert once, and re-reads send nothing") {
    val buf = s"runner-failing-sink-${System.nanoTime()}"
    val log = RunLog.newRun()
    val result = Runner.runAlerts(
      events = mkEvents,
      rules = Seq(
        rule("errors", col("event_type") === "error"),
        rule("logins", col("event_type") === "login")),
      idCol = col("event_id"),
      suppressions = Nil,
      sinks = Seq(new FailingSink(buf, "u3")),
      cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        alertTimeS = 0L, defaultHandler = "memory"),
      log = log)

    val actorOf = result.store.collect()
      .map(r => r.getAs[String]("alert_id") -> r.getAs[String]("actor")).toMap
    assert(actorOf.size == 3)
    val handled = result.handlerResults.collect()
    assert(handled.length == 3)
    assert(handled.filterNot(_.success).map(h => actorOf(h.alert_id))
      .toSeq == Seq("u3"))
    assert(handled.filterNot(_.success).forall(_.details.contains("sink down")))
    val sent = MemorySink.drain(buf)
    val sentIds = sent.map(p =>
      actorOf.keys.find(id => p.contains(s""""alert_id":"$id"""")).get)
    assert(sentIds.sorted == handled.filter(_.success).map(_.alert_id)
      .toSeq.sorted, "every alert the sink accepted is sent exactly once")
    // the failure lands on the alert's handled entry too
    val alerts = result.alerts.collect()
    val u3 = alerts.find(_.getAs[String]("actor") == "u3").get
    assert(u3.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("handled")
      .map(_.getAs[Boolean]("success")) == Seq(false))
    assert(log.entries.last.query_name == "alert_dispatch" &&
      log.entries.last.inserted == 3 && log.entries.last.error.isEmpty)
    // the run's results are read back, not re-dispatched
    result.alerts.collect()
    result.store.collect()
    result.handlerResults.collect()
    assert(MemorySink.drain(buf).isEmpty,
      "reading a run's frames after the run must send nothing")
  }

  test("every job of a run carries its run id in the job description") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
      TimeUnit}
    val SPARK_JOB_DESCRIPTION = "spark.job.description"
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"runner-marker-${System.nanoTime()}"
    val descs = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SPARK_JOB_DESCRIPTION)))
          .getOrElse("")
        if (d == marker) markerSeen.countDown() else descs.add(d)
      }
    }
    val buf = s"runner-jobs-${System.nanoTime()}"
    val log = RunLog.newRun()
    sc.setJobGroup("runner-spec-group", "the caller's group")
    sc.setJobDescription("the caller's description")
    sc.addSparkListener(listener)
    try {
      Runner.runAlerts(
        events = mkEvents,
        rules = Seq(
          rule("errors", col("event_type") === "error"),
          rule("logins", col("event_type") === "login")),
        idCol = col("event_id"),
        suppressions = Seq(SuppressionRule("squelch_u1",
          alerts => alerts.filter(col("actor") === "u1").select("alert_id"))),
        sinks = Seq(new MemorySink(buf)),
        cfg = RunConfig("2024-01-01 00:00:00", "2024-01-02 00:00:00",
          alertTimeS = 0L, defaultHandler = "memory"),
        log = log)
      assert(sc.getLocalProperty(SPARK_JOB_DESCRIPTION) ==
        "the caller's description")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "runner-spec-group")
      // job starts arrive in order: once the marker job's has, every
      // job the run started has been recorded
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1)).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS))
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setJobDescription(null)
      MemorySink.drain(buf)
    }
    val seen = descs.toArray(Array.empty[String]).toSeq
    val prefix = s"runAlerts ${log.runId}: "
    assert(seen.nonEmpty && seen.forall(_.startsWith(prefix)), seen)
    assert(seen.map(_.stripPrefix(prefix)).distinct == Seq("merge", "dispatch"))
  }
}
