package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A suppression rule: selects the alert_ids to squelch from the
  * current alert set (ref: alert_suppressions_runner.py — each rule is
  * a SELECT of alert ids; matched alerts are flagged with the rule
  * name, the rest marked not-suppressed). */
final case class SuppressionRule(
    name: String,
    selectIds: DataFrame => DataFrame)

final case class RunConfig(
    fromTs: String,
    toTsExclusive: String,
    alertTimeS: Long,
    correlationGapMinutes: Int = 60,
    defaultHandler: String = "console")

/** The reference's end-to-end runner loop (src/runners/run_alerts.py:
  * alert queries → merge → suppressions → correlation → handler
  * dispatch, each stage recording run metadata) composed as ONE
  * declarative pipeline over DataFrames with two actions per run: one
  * materialization of the merged alert set and one dispatch action.
  * Per-stage counts ride those two actions as observed metrics; they
  * are the only driver-side values.
  *
  * Failure isolation mirrors the reference's error contract
  * (alert_queries_runner.py create_alerts wraps EACH rule in its own
  * try/except — a broken rule records a metadata ERROR row and the run
  * CONTINUES; the reference's own regression run_violations.py:28-46
  * plants a `1/0` rule and asserts the healthy rule's rows still land
  * with the broken rule's run record carrying the error). Here the
  * fast path evaluates every rule in ONE pass over the events
  * ([[RuleEngine.runAlertRules]]: one filter, one generator emitting a
  * row per rule hit) inside the merge materialization, and suppression,
  * correlation and dispatch plan over that small materialized set.
  * Rules whose frames fail to CONSTRUCT (analysis errors: missing
  * column, bad type) are dropped per-rule with an ERROR row before the
  * pass is built. If either action fails at RUNTIME (a rule's
  * projection throws mid-task: bad regex, malformed cast,
  * divide-by-zero), the run degrades to per-rule isolation — each
  * surviving rule is probed with its own action (failing rules record
  * ERROR rows), and the pipeline re-runs on the healthy set with eager
  * per-stage metadata. The degraded path scans each rule's events
  * individually — the correctness-over-scan-sharing trade the
  * reference's per-rule loop makes on EVERY run, paid here only when a
  * rule is actually broken.
  *
  * Every job a run starts carries the description
  * `runAlerts <run_id>: <stage>`, so Spark's job metrics join the run's
  * RunLog rows; the caller's job group is left alone.
  */
object Runner {

  /** Marker for a failure of the fast path's two actions only (merge
    * materialization, dispatch). The degraded per-rule path must fire
    * for exactly this case: a rule's projection throwing mid-task
    * inside the shared plan. Failures in later stages (log flush)
    * happen AFTER the side-effecting dispatch already ran — degrading
    * there would duplicate every rule's metadata row and re-send every
    * alert, so those propagate unwrapped. */
  private final class FusedPlanFailure(cause: Throwable)
    extends Exception(cause)

  /** Runs `body` with every job it starts described as
    * `runAlerts <runId>: <stage>`, then restores the caller's
    * description. */
  private def described[T](spark: org.apache.spark.sql.SparkSession,
      runId: String, stage: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"runAlerts $runId: $stage")
    try body finally sc.setJobDescription(prev)
  }

  final case class AlertRunResult(
      alerts: DataFrame,
      store: DataFrame,
      handlerResults: Dataset[HandlerResult])

  /** Literal-only rule: analysis-safe on any event frame; yields the
    * alert schema with zero rows (the all-rules-broken fallback). */
  private def emptyAlerts(
      events: DataFrame, idCol: Column, cfg: RunConfig): DataFrame =
    RuleEngine.runAlertRule(
      events.limit(0),
      AlertRule(name = "__no_live_rules", queryId = "", title = "",
        predicate = lit(false), actor = lit(""), target = lit(""),
        action = lit(""), description = lit(""), severity = lit(""),
        eventTime = lit("1970-01-01 00:00:00").cast("timestamp"),
        eventData = lit("{}")),
      idCol, cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS)

  /** Run the full alert pipeline. Returned `alerts` are the live
    * (non-suppressed) alerts with correlation ids and the per-handler
    * `handled` results joined on; `store` is the full merged alert set
    * with suppression flags — the reference's results.alerts table. */
  def runAlerts(
      events: DataFrame,
      rules: Seq[AlertRule],
      idCol: Column,
      suppressions: Seq[SuppressionRule],
      sinks: Seq[AlertSink],
      cfg: RunConfig,
      log: RunLog): AlertRunResult = {

    def ruleFrame(r: AlertRule): DataFrame =
      RuleEngine.runAlertRule(
        events, r, idCol, cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS)

    // 1. every alert rule over the shared time window (ref:
    //    alert_queries_runner.main loops rule views) in ONE pass over
    //    the events. A rule broken at ANALYSIS (Datasets analyze
    //    eagerly) records its ERROR metadata row here and drops out;
    //    the run continues with the rest. Per-rule counts ride the plan
    //    via one observe() of a count per rule position, so the merge
    //    materialization reads every event once for all rules.
    val constructed = rules.filter { r =>
      val t0 = System.currentTimeMillis()
      try { ruleFrame(r); true }
      catch {
        case NonFatal(e) =>
          log.record(r.name, t0, System.currentTimeMillis(),
            error = Some(String.valueOf(e.getMessage)))
          false
      }
    }
    val alerts =
      if (constructed.isEmpty) emptyAlerts(events, idCol, cfg)
      else log.observedInserts(constructed.map(_.name), "rule_pos")(
        RuleEngine.runAlertRules(events, constructed, idCol, cfg.fromTs,
          cfg.toTsExclusive, cfg.alertTimeS)).drop("rule_pos")

    try pipeline(alerts, suppressions, sinks, cfg, log, observed = true)
    catch {
      case _: FusedPlanFailure =>
        // a rule's projection threw at RUNTIME inside the fused plan.
        // The pending observations can never resolve — discard them —
        // then probe each constructed rule with its own action: the
        // broken rule records its ERROR row (ref: per-rule try/except),
        // everyone else records real counts, and the pipeline re-runs
        // on the survivors with eager per-stage metadata. Rules that
        // already failed construction keep their pass-1 ERROR row (one
        // metadata row per rule per run, like the reference).
        log.discardPending()
        // the probe must evaluate EVERY column, not just count rows —
        // a bare count() lets column pruning skip the very projection
        // that threw (the bomb would re-enter the pipeline and fail it
        // again downstream). Materialize.frame stores full rows, so a
        // broken projection throws here, inside this rule's own probe;
        // healthy rules re-enter the pipeline pre-materialized.
        val survivors = constructed.flatMap { r =>
          try Some(described(events.sparkSession, log.runId,
            s"probe ${r.name}")(log.timedInsert(r.name)(
              graft.Materialize.frame(ruleFrame(r)))))
          catch { case NonFatal(_) => None }
        }
        val healthy =
          if (survivors.isEmpty) emptyAlerts(events, idCol, cfg)
          else survivors.reduce(_.unionByName(_))
        try pipeline(healthy, suppressions, sinks, cfg, log,
          observed = false)
        catch { // a second action failure (e.g. a broken sink set)
          // is final — surface the real cause, not the marker
          case f: FusedPlanFailure => throw f.getCause
        }
    }
  }

  /** merge → suppress → correlate → dispatch over an assembled alert
    * set, with per-stage metadata either observed (fast path: metrics
    * ride the two actions) or eager (degraded path: one action per
    * stage, each stage individually isolable). */
  private def pipeline(
      alerts: DataFrame,
      suppressions: Seq[SuppressionRule],
      sinks: Seq[AlertSink],
      cfg: RunConfig,
      log: RunLog,
      observed: Boolean): AlertRunResult = {

    def insertStage(name: String)(stage: => DataFrame): DataFrame =
      if (observed) log.observedInsert(name)(stage)
      else log.timedInsert(name)(stage)
    def suppressStage(name: String)(stage: => DataFrame): DataFrame =
      if (observed) log.observedSuppress(name)(stage)
      else log.timedSuppress(name)(stage)
    def stage[T](name: String)(body: => T): T =
      described(alerts.sparkSession, log.runId, name)(body)

    // 2. merge/dedup (ref: MERGE_ALERTS), materialized eagerly: the
    //    run's first action. It runs the rule pass and the merge once
    //    and delivers every rule's and the merge's observed count;
    //    every later frame plans over its small materialized leaf, not
    //    the rule pass. A bomb projection throws here, so its failure
    //    is the fused-plan failure the caller degrades on.
    val merged =
      try stage("merge")(graft.Materialize.frame(
        insertStage("alert_merge")(RuleEngine.mergeAlerts(alerts))))
      catch { case NonFatal(e) => throw new FusedPlanFailure(e) }

    // 3. suppression rules, first matching rule wins (ref:
    //    alert_suppressions_runner runs each rule's UPDATE in its own
    //    try/except — a broken suppression records an ERROR row and is
    //    skipped, the alert set passes through unflagged by it). A
    //    rule's hits are an existence test against its broadcast ids.
    //    IN is three-valued: a NULL among the ids makes a non-matching
    //    alert_id's test NULL, not false (Spark's existence-join rewrite
    //    happens to return false), so it is coalesced to false.
    def flag(acc: DataFrame, name: String, ids: DataFrame): DataFrame =
      acc.withColumn("__sup_hit",
          coalesce(col("alert_id").isin(ids), lit(false)))
        .withColumn("suppression_rule",
          when(!col("suppressed") && col("__sup_hit"), lit(name))
            .otherwise(col("suppression_rule")))
        .withColumn("suppressed", col("suppressed") || col("__sup_hit"))
        .drop("__sup_hit")
    // A rule selects its ids from `plain`, the same flags without the
    // earlier stages' observe() nodes: Spark keeps one count per
    // observation name, the last instance's (a subquery's), so a rule
    // reading part of the set (a limit) would overwrite a stage's count.
    val unflagged = merged.withColumn("suppressed", lit(false))
      .withColumn("suppression_rule", lit(null).cast("string"))
    val (suppressed, _) = stage("suppress")(
      suppressions.foldLeft((unflagged, unflagged)) {
        case ((acc, plain), rule) =>
          try {
            // first evaluated inside the stage, which records the ERROR
            // row of a rule broken at analysis
            lazy val ids = broadcast(rule.selectIds(plain).select("alert_id"))
            (suppressStage(rule.name)(flag(acc, rule.name, ids)),
              flag(plain, rule.name, ids))
          } catch { case NonFatal(_) => (acc, plain) } // ERROR row; skip
      }) // the run's results table: read by correlate + returned

    // 4. correlation over the live (non-suppressed) alerts (ref:
    //    alert_processor processes unsuppressed alerts); their count is
    //    the alert_dispatch row
    val live = stage("dispatch")(insertStage("alert_dispatch")(
      RuleEngine.correlate(suppressed.filter(!col("suppressed")),
        cfg.correlationGapMinutes)))

    // 5. handler fan-out on live alerts + per-handler results joined
    //    back (ref: alert_dispatcher.main + record_status). Dispatch is
    //    side-effecting and AT-LEAST-ONCE, like the reference's poll
    //    loop: the persisted results make the common path single-send,
    //    but cache eviction, task retry, or speculation can re-run a
    //    partition and re-invoke send — external handlers must dedupe on
    //    (alert_id, handler), which every HandlerResult carries.
    val results = Dispatcher.dispatch(live, sinks, cfg.defaultHandler)
    def release(): Unit = {
      results.unpersist(blocking = false)
      graft.Materialize.release(merged)
    }
    // the run's second and last action: one noop write fills the
    // results cache (suppress → correlate → dispatch run once) and
    // delivers the suppression and alert_dispatch counts. Its failure
    // is a fused-plan failure too; the caches are released first.
    try stage("dispatch") {
      results.persist()
      results.write.format("noop").mode("overwrite").save()
    } catch {
      case NonFatal(e) =>
        release()
        throw new FusedPlanFailure(e)
    }
    // post-terminal failures (flush) propagate WITHOUT degradation —
    // but must not strand the run's blocks, which on success stay for
    // the returned frames' consumers. `alerts` stays lazy: it re-reads
    // the cached results, so collecting it sends nothing.
    try {
      log.flush()
      AlertRunResult(Dispatcher.recordStatus(live, results), suppressed,
        results)
    } catch {
      case NonFatal(e) =>
        release()
        throw e
    }
  }

  /** Literal-only violation rule over an empty input: the violation
    * schema with zero rows (the all-rules-broken fallback). */
  private def emptyViolations(anyInput: DataFrame): DataFrame =
    RuleEngine.runViolationRule(
      anyInput.limit(0),
      ViolationRule(name = "__no_live_rules", queryId = "", title = "",
        predicate = lit(false), target = lit(""), owner = lit(""),
        severity = lit(""), day = lit("1970-01-01").cast("date")))

  /** The violation runner loop (ref: violation_queries_runner.py +
    * violation_suppressions_runner.py): each rule's grouped input →
    * identity-hashed violations → suppression flags. Like runAlerts,
    * stage counts ride the plan via observe(); the returned results
    * table is materialized ONCE (that materialization is the terminal
    * action resolving every stage metric), so no rule input is scanned
    * twice for metadata. Failure isolation mirrors run_violations.py's
    * invalid-rule regression: a rule broken at analysis OR runtime
    * yields an ERROR metadata row while every other rule's violations
    * land. */
  def runViolations(
      ruleInputs: Seq[(ViolationRule, DataFrame)],
      suppressions: Seq[SuppressionRule],
      log: RunLog): DataFrame = {
    require(ruleInputs.nonEmpty, "runViolations needs at least one rule")

    val constructed = ruleInputs.flatMap { case (rule, grouped) =>
      try Some((rule, grouped,
        log.observedInsert(rule.name)(
          RuleEngine.runViolationRule(grouped, rule))))
      catch { case NonFatal(_) => None } // ERROR row already recorded
    }

    def downstream(violations: DataFrame, observed: Boolean): DataFrame = {
      def suppressStage(name: String)(stage: => DataFrame): DataFrame =
        if (observed) log.observedSuppress(name)(stage)
        else log.timedSuppress(name)(stage)
      val flagged = suppressions.foldLeft(
        violations.withColumn("suppressed", lit(false))
          .withColumn("suppression_rule", lit(null).cast("string"))) {
        case (acc, rule) =>
          try {
            suppressStage(rule.name) {
              val ids = broadcast(rule.selectIds(acc)
                .select(col("id").as("__sup_id")).distinct())
              acc.join(ids, acc("id") === ids("__sup_id"), "left")
                .withColumn("suppression_rule",
                  when(!col("suppressed") && col("__sup_id").isNotNull,
                    lit(rule.name)).otherwise(col("suppression_rule")))
                .withColumn("suppressed",
                  col("suppressed") || col("__sup_id").isNotNull)
                .drop("__sup_id")
            }
          } catch { case NonFatal(_) => acc }
      }
      // the terminal action resolving every observed stage metric; on
      // the fused path its failure is marked so ONLY it (a rule's
      // projection throwing mid-task) can trigger degradation
      if (observed)
        try flagged.transform(graft.Materialize.frame)
        catch { case NonFatal(e) => throw new FusedPlanFailure(e) }
      else flagged.transform(graft.Materialize.frame)
    }

    val union =
      if (constructed.isEmpty) emptyViolations(ruleInputs.head._2)
      else constructed.map(_._3).reduce(_.unionByName(_))
    val out = try downstream(union, observed = true) catch {
      case _: FusedPlanFailure =>
        // runtime failure inside the fused plan: degrade to per-rule
        // isolation (ref: violation_queries_runner per-rule try/except)
        log.discardPending()
        // full-row probe, not count(): see runAlerts — pruning would
        // skip the broken projection and re-admit the bomb
        val survivors = constructed.flatMap { case (rule, grouped, _) =>
          try Some(log.timedInsert(rule.name)(graft.Materialize.frame(
            RuleEngine.runViolationRule(grouped, rule))))
          catch { case NonFatal(_) => None }
        }
        val healthy =
          if (survivors.isEmpty) emptyViolations(ruleInputs.head._2)
          else survivors.reduce(_.unionByName(_))
        downstream(healthy, observed = false)
    }
    // flush OUTSIDE the degradation scope (a flush-time failure after a
    // successful terminal action must propagate, not duplicate every
    // rule's metadata via a re-run); no-op on the degraded path, whose
    // pending observations were discarded and rows recorded eagerly
    log.flush()
    out
  }
}
