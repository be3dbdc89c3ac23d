package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{AlertRule, MemorySink, RuleEngine, RunConfig, RunLog,
  Runner}

/** The one-pass rule evaluation Runner's fast path runs
  * (`RuleEngine.runAlertRules`) against the per-rule frames it
  * replaces: the same rows, `alert_id` included, and the same per-rule
  * RunLog counts. */
class FusedRulesSpec extends SparkSuite {
  import spark.implicits._

  private val From = "2024-01-01 00:00:00"
  private val To = "2024-01-02 00:00:00"
  private val AtS = 1704153600L

  private def events = Seq(
    (1L, "2024-01-01 10:00:00", 1L, "error", 120.0),
    (2L, "2024-01-01 10:30:00", 1L, "error", 130.0),
    (3L, "2024-01-01 11:00:00", 2L, "login", 5.0),
    (4L, "2024-01-01 12:00:00", 3L, "error", 250.0),
    (5L, "2024-01-01 12:05:00", 3L, "error", 260.0),
    (6L, "2024-01-01 23:30:00", 2L, "login", 140.0),
    (7L, "2024-01-02 00:30:00", 1L, "error", 300.0)
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", col("ts_s").cast("timestamp"))
    .withColumn("props", to_json(struct(col("value"))))

  private def rule(n: String, pred: Column,
      eventTime: Column = col("ts"),
      eventData: Column = col("props")) =
    AlertRule(
      name = n, queryId = s"q_$n", title = s"title $n",
      predicate = pred,
      actor = concat_ws("", lit("u"), col("user_id")),
      target = concat_ws("", lit("u"), col("user_id")),
      action = col("event_type"),
      description = concat_ws("", lit(n), lit(":u"), col("user_id")),
      severity = when(col("value") > 200.0, "high").otherwise("medium"),
      eventTime = eventTime,
      eventData = eventData)

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def union(rules: Seq[AlertRule]): DataFrame =
    rules.map(RuleEngine.runAlertRule(events, _, col("event_id"), From, To,
      AtS)).reduce(_.unionByName(_))

  /** Asserts the fused frame equals the per-rule union, row for row and
    * column for column, and that Runner's RunLog counts each rule as
    * its own frame does. Returns the union's row count. */
  private def assertEquivalent(rules: Seq[AlertRule]): Long = {
    val fused = RuleEngine.runAlertRules(events, rules, col("event_id"),
      From, To, AtS).drop("rule_pos")
    val expected = union(rules)
    assert(fused.schema.map(f => (f.name, f.dataType)) ==
      expected.schema.map(f => (f.name, f.dataType)))
    assert(sorted(fused) == sorted(expected))

    val log = RunLog.newRun()
    val buf = s"fused-${System.nanoTime()}"
    val res = Runner.runAlerts(events, rules, col("event_id"), Nil,
      Seq(new MemorySink(buf)),
      RunConfig(From, To, alertTimeS = AtS, defaultHandler = "memory"), log)
    MemorySink.drain(buf)
    val perRule = rules.map(r => RuleEngine.runAlertRule(events, r,
      col("event_id"), From, To, AtS).count())
    assert(log.entries.take(rules.size).map(e => (e.query_name, e.inserted)) ==
      rules.map(_.name).zip(perRule))
    val merged = RuleEngine.mergeAlerts(expected)
    assert(sorted(res.store.select(merged.columns.map(col).toIndexedSeq: _*)) ==
      sorted(merged))
    res.store.unpersist(blocking = true)
    res.handlerResults.unpersist(blocking = true)
    expected.count()
  }

  test("an event several rules hit yields one alert per rule") {
    val rules = Seq(
      rule("errors", col("event_type") === "error"),
      rule("big", col("value") > 125.0),
      rule("u1", col("user_id") === 1L))
    // events 2, 4 and 5 are big errors, and 2 is also u1's
    assert(assertEquivalent(rules) == 4 + 4 + 2)
  }

  test("rules with their own eventTime and eventData expressions") {
    val rules = Seq(
      // shifted 11 h back: the errors before 11:00 leave the window,
      // the next day's 00:30 error enters it
      rule("shifted", col("event_type") === "error",
        eventTime = col("ts") - expr("INTERVAL 11 HOURS")),
      // shifted 1 h forward, the 23:30 login leaves and none enters
      rule("late", col("event_type") === "login",
        eventTime = col("ts") + expr("INTERVAL 1 HOURS"),
        eventData = to_json(struct(col("event_id"), col("user_id")))),
      rule("plain", col("value") > 100.0,
        eventData = upper(col("event_type"))))
    assert(assertEquivalent(rules) == 3 + 1 + 5)
  }

  test("two rules that share a name keep separate rows and counts") {
    val rules = Seq(
      rule("dup", col("event_type") === "error"),
      rule("dup", col("value") > 200.0))
    // the shared name gives both rules the same alert_id for an event
    // both hit (4 and 5): the union keeps both rows, and so must the pass
    assert(assertEquivalent(rules) == 4 + 2)
  }

  test("an analysis-broken rule between two healthy ones records its " +
      "ERROR row; the healthy rules are counted at their own positions") {
    val healthy = Seq(
      rule("errors", col("event_type") === "error"),
      rule("logins", col("event_type") === "login"))
    val broken = rule("no_such_col", col("nonexistent_column") === "x")
    val log = RunLog.newRun()
    val buf = s"fused-broken-${System.nanoTime()}"
    val res = Runner.runAlerts(events, Seq(healthy(0), broken, healthy(1)),
      col("event_id"), Nil, Seq(new MemorySink(buf)),
      RunConfig(From, To, alertTimeS = AtS, defaultHandler = "memory"), log)
    MemorySink.drain(buf)
    val byName = log.entries.groupBy(_.query_name)
    assert(byName("no_such_col").size == 1)
    assert(byName("no_such_col").head.error.nonEmpty)
    assert(byName("no_such_col").head.inserted == 0)
    assert(byName("errors").map(_.inserted) == Seq(4L))
    assert(byName("logins").map(_.inserted) == Seq(2L))
    assert(log.entries.forall(e => e.query_name == "no_such_col" ||
      e.error.isEmpty))
    val merged = RuleEngine.mergeAlerts(union(healthy))
    assert(sorted(res.store.select(merged.columns.map(col).toIndexedSeq: _*)) ==
      sorted(merged))
    res.store.unpersist(blocking = true)
    res.handlerResults.unpersist(blocking = true)
  }

  test("over consecutive windows of one events frame, an analysis-broken " +
      "rule records one ERROR row per run, the healthy rules their counts") {
    val ev = events
    val rules = Seq(
      rule("errors", col("event_type") === "error"),
      rule("no_such_col", col("nonexistent_column") === "x"),
      rule("logins", col("event_type") === "login"))
    // the second window takes in the next day's 00:30 error
    Seq((From, To, 4L), ("2024-01-01 06:00:00", "2024-01-02 06:00:00", 5L))
        .foreach { case (from, to, errors) =>
      val log = RunLog.newRun()
      val buf = s"fused-windows-${System.nanoTime()}"
      val res = Runner.runAlerts(ev, rules, col("event_id"), Nil,
        Seq(new MemorySink(buf)),
        RunConfig(from, to, alertTimeS = AtS, defaultHandler = "memory"), log)
      MemorySink.drain(buf)
      assert(log.entries.map(e => (e.query_name, e.error.isDefined,
        e.inserted)).take(3) ==
        Seq(("no_such_col", true, 0L), ("errors", false, errors),
          ("logins", false, 2L)))
      assert(log.entries.count(_.error.isDefined) == 1)
      res.release()
    }
  }

  test("rules that analyze alone but not in one pass surface the pass's " +
      "analysis error") {
    val ev = events
    // event_data a string for one rule, a struct for the other: each
    // rule's frame analyzes, their alert rows do not unify
    val rules = Seq(
      rule("text_data", col("event_type") === "error"),
      rule("struct_data", col("event_type") === "login",
        eventData = struct(col("value"))))
    rules.foreach(RuleEngine.runAlertRule(ev, _, col("event_id"), From, To,
      AtS))
    val direct = intercept[org.apache.spark.sql.AnalysisException](
      RuleEngine.runAlertRules(ev, rules, col("event_id"), From, To, AtS))
    val log = RunLog.newRun()
    val thrown = intercept[org.apache.spark.sql.AnalysisException](
      Runner.runAlerts(ev, rules, col("event_id"), Nil, Nil,
        RunConfig(From, To, alertTimeS = AtS), log))
    assert(thrown.getCondition == direct.getCondition)
    assert(thrown.getMessage == direct.getMessage)
    assert(log.entries.isEmpty)
  }
}
