package graft.engine

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession,
  graftexpr}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.functions.ParamLiteral

/** A suppression rule: selects the ids to squelch from the current
  * alert set (`alert_id`) or violation set (`id`) (ref:
  * alert_suppressions_runner.py, violation_suppressions_runner.py — each
  * rule is a SELECT of ids; matched rows are flagged with the rule name,
  * the rest marked not-suppressed). */
final case class SuppressionRule(
    name: String,
    selectIds: DataFrame => DataFrame)

final case class RunConfig(
    fromTs: String,
    toTsExclusive: String,
    alertTimeS: Long,
    correlationGapMinutes: Int = 60,
    defaultHandler: String = "console")

/** The reference's runner loops (src/runners/run_alerts.py: alert
  * queries → merge → suppressions → correlation → handler dispatch;
  * violation_queries_runner.py → violation_suppressions_runner.py), each
  * stage recording run metadata, composed as declarative pipelines over
  * DataFrames with two actions per run. An alert run materializes the
  * merged alert set and then runs one dispatch action; a violation run
  * materializes the rule union and then the flagged results. Both loops
  * share one suppression stage over the first action's small leaf and
  * one skeleton for the actions and their degradation ([[Run]]).
  * Per-stage counts ride the two actions as observed metrics; they are
  * the only driver-side values.
  *
  * Failure isolation mirrors the reference's error contract
  * (alert_queries_runner.py create_alerts wraps EACH rule in its own
  * try/except — a broken rule records a metadata ERROR row and the run
  * CONTINUES; the reference's own regression run_violations.py:28-46
  * plants a `1/0` rule and asserts the healthy rule's rows still land
  * with the broken rule's run record carrying the error). Here the
  * fast path evaluates every rule in one frame inside the first
  * action, and the later stages plan over that small materialized set.
  * Rules and suppressions whose frames fail to CONSTRUCT (analysis
  * errors: missing column, bad type) are dropped one by one with an
  * ERROR row; a rule is analyzed alone only when the fused rule pass
  * fails to analyze. If either action fails at RUNTIME (a rule's
  * projection or a suppression's selection throws mid-task: bad regex,
  * malformed cast, divide-by-zero), the run degrades to per-rule
  * isolation — each surviving rule is probed with its own action
  * (failing rules record ERROR rows), and the pipeline re-runs on the
  * healthy set with eager per-stage metadata. The degraded path scans
  * each rule's input individually — the correctness-over-scan-sharing
  * trade the reference's per-rule loop makes on EVERY run, paid here
  * only when a rule is actually broken.
  *
  * An alert tick is prepared: the analyzed rule pass (before its
  * `observe`) is kept for the last rule set run, one entry per JVM for
  * a weakly held session. Its key is the rule set and id column by
  * value, the events frame's analyzed output attributes and the
  * session's SQL conf. A tick with the same key re-binds only the
  * pass's window parameters, the two hit bounds and `alert_time_s`,
  * found as tagged [[graft.functions.ParamLiteral]]s, and swaps the
  * whole events subtree for its own events' analyzed plan: partition
  * pruning reads the date literals (`Tables.timeWindow`) at plan time,
  * so re-binding them inside an old subtree would keep the old file
  * listing and read the wrong days. Anything else takes the fresh path.
  *
  * Every job a run starts carries the description
  * `runAlerts <run_id>: <stage>` (`runViolations` for violations), so
  * Spark's job metrics join the run's RunLog rows; the caller's job
  * group is left alone.
  */
object Runner {

  /** Marker for a failure of a pass's two actions only. The degraded
    * per-rule path must fire for exactly this case: a rule's projection
    * throwing mid-task inside the shared plan. Failures in later stages
    * (log flush) happen AFTER the side-effecting dispatch already ran —
    * degrading there would duplicate every rule's metadata row and
    * re-send every alert, so those propagate unwrapped. */
  private final class FusedPlanFailure(cause: Throwable)
    extends Exception(cause)

  /** One run of a loop: the stages its pipeline is built from, and the
    * skeleton that runs the pipeline fused, then degraded if one of its
    * actions fails ([[fusedOrDegraded]]). */
  private final class Run(spark: SparkSession, log: RunLog, loop: String) {
    /** Per-stage metadata: observed on the fast pass (metrics ride its
      * two actions), eager on the degraded pass (one action per stage,
      * each stage individually isolable). */
    private var observed = true
    /** Suppressions that recorded their ERROR row this run. */
    private val failed = mutable.Set.empty[SuppressionRule]
    /** Releases of the cached frames the current pass holds. */
    private val held = mutable.ArrayBuffer.empty[() => Unit]

    /** Runs `body` with every job it starts described as
      * `<loop> <runId>: <stage>`, then restores the caller's
      * description. */
    def stage[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$loop ${log.runId}: $name")
      try body finally sc.setJobDescription(prev)
    }

    /** One of a pass's two actions: its failure is the fused-plan
      * failure the run degrades on, and releases the pass's caches. */
    def action[T](name: String)(body: => T): T =
      try stage(name)(body) catch {
        case NonFatal(e) =>
          release()
          throw new FusedPlanFailure(e)
      }

    /** Registers how to drop a cache the pass filled. On success the
      * caches stay for the returned frames' consumers. */
    def hold(release: => Unit): Unit = held += (() => release)

    private def release(): Unit = {
      held.foreach(_())
      held.clear()
    }

    def insert(name: String)(stage: => DataFrame): DataFrame =
      if (observed) log.observedInsert(name)(stage)
      else log.timedInsert(name)(stage)

    private def suppressStage(name: String)(stage: => DataFrame): DataFrame =
      if (observed) log.observedSuppress(name)(stage)
      else log.timedSuppress(name)(stage)

    /** The loops' one suppression stage: every rule in order over
      * `leaf`, keyed on `keyCol`, first matching rule wins (ref:
      * alert_suppressions_runner runs each rule's UPDATE in its own
      * try/except — a broken suppression records an ERROR row and is
      * skipped, the set passes through unflagged by it). A rule selects
      * its keys from `plain`, the same flags without the stages'
      * observe() nodes: Spark keeps one count per observation name, the
      * last instance's (a subquery's), so a rule reading part of the set
      * (a limit) would overwrite a stage's count. A rule that failed on
      * the fast pass is skipped on the degraded one, so it records one
      * ERROR row per run. */
    def suppress(leaf: DataFrame, rules: Seq[SuppressionRule],
        keyCol: String): DataFrame = {
      val unflagged = RuleEngine.unsuppressed(leaf)
      rules.filterNot(failed).foldLeft((unflagged, unflagged)) {
        case ((acc, plain), rule) =>
          try {
            // first evaluated inside the stage, which records the ERROR
            // row of a rule broken at analysis
            lazy val keys = rule.selectIds(plain)
            def flag(f: DataFrame) =
              RuleEngine.suppressOnKey(f, keys, Seq(keyCol), rule.name)
            (suppressStage(rule.name)(flag(acc)), flag(plain))
          } catch {
            case NonFatal(_) => // ERROR row recorded; skip
              failed += rule
              (acc, plain)
          }
      }._1
    }

    /** Runs `pipeline` over `fused`, every constructed rule in one frame.
      * If one of its actions fails, the pending observations can never
      * resolve and are discarded; each rule in `probes` is then run with
      * its own action — the broken rule records its ERROR row (ref:
      * per-rule try/except), everyone else real counts — and the
      * pipeline re-runs on the survivors with eager per-stage metadata.
      * Rules that already failed construction keep that ERROR row (one
      * metadata row per rule per run, like the reference). A second
      * action failure is final and surfaces its real cause. */
    def fusedOrDegraded[R](fused: DataFrame,
        probes: Seq[(String, () => DataFrame)], empty: => DataFrame)(
        pipeline: DataFrame => R): R = {
      val result =
        try pipeline(fused)
        catch {
          case _: FusedPlanFailure =>
            log.discardPending()
            observed = false
            // the probe must evaluate EVERY column, not just count rows —
            // a bare count() lets column pruning skip the very projection
            // that threw (the bomb would re-enter the pipeline and fail
            // it again downstream). Materialize.frame stores full rows,
            // so a broken projection throws here, inside this rule's own
            // probe; healthy rules re-enter the pipeline pre-materialized.
            val survivors = probes.flatMap { case (name, frame) =>
              try Some(stage(s"probe $name")(log.timedInsert(name)(
                graft.Materialize.frame(frame()))))
              catch { case NonFatal(_) => None }
            }
            // the pipeline's first action checkpoints what it reads of
            // the survivors, so their blocks are dropped however it ends
            try pipeline(unionOr(survivors, empty))
            catch { case f: FusedPlanFailure => throw f.getCause }
            finally survivors.foreach(graft.Materialize.release)
        }
      // outside the degradation scope (see FusedPlanFailure); nothing
      // is pending after degradation, whose rows were recorded eagerly
      try log.flush()
      catch {
        case NonFatal(e) =>
          release()
          throw e
      }
      result
    }
  }

  private def unionOr(frames: Seq[DataFrame], empty: => DataFrame) =
    if (frames.isEmpty) empty else frames.reduce(_.unionByName(_))

  /** A run's frames. They read two caches the run leaves filled: the
    * dispatch results and the merged set's checkpoint. */
  final case class AlertRunResult(
      alerts: DataFrame,
      store: DataFrame,
      handlerResults: Dataset[HandlerResult])(merged: DataFrame) {
    /** Drops both caches (`store.unpersist` cannot reach the checkpoint
      * under it). None of the three frames may be read afterwards. */
    def release(): Unit = {
      handlerResults.unpersist(blocking = false)
      graft.Materialize.release(merged)
    }
  }

  /** One rule's own frame over `cfg`'s window. */
  private def ruleFrame(events: DataFrame, r: AlertRule, idCol: Column,
      cfg: RunConfig): DataFrame =
    RuleEngine.runAlertRule(
      events, r, idCol, cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS)

  /** Literal-only rule: analysis-safe on any event frame; yields the
    * alert schema with zero rows (the all-rules-broken fallback). */
  private def emptyAlerts(
      events: DataFrame, idCol: Column, cfg: RunConfig): DataFrame =
    ruleFrame(events.limit(0),
      AlertRule(name = "__no_live_rules", queryId = "", title = "",
        predicate = lit(false), actor = lit(""), target = lit(""),
        action = lit(""), description = lit(""), severity = lit(""),
        eventTime = lit("1970-01-01 00:00:00").cast("timestamp"),
        eventData = lit("{}")),
      idCol, cfg)

  /** What a prepared rule pass was analyzed for: the rule set and id
    * column by value (`Column` compares by value), the events' analyzed
    * output attributes (a frame read again has new ids) and the
    * session's SQL conf (the time zone, for one, enters analysis). */
  private final case class PassKey(rules: Seq[AlertRule], idCol: Column,
      eventsOutput: Seq[Attribute], conf: Map[String, String])

  /** The analyzed plan of one key's rule pass (`RuleEngine.runAlertRules`,
    * before `observe`), and the events subtree it was analyzed over. */
  private final class PreparedPass(session: WeakReference[SparkSession],
      key: PassKey, events: LogicalPlan, pass: LogicalPlan) {

    def isFor(spark: SparkSession, k: PassKey): Boolean =
      (session.get eq spark) && key == k

    /** The pass over `now` for `cfg`'s window: the events subtree is
      * swapped whole, so the date-partition literals and the file
      * listing are this window's (pruning reads them at plan time), and
      * each tagged window parameter is re-bound to this window's value.
      * None unless exactly one events subtree was swapped and every
      * parameter the pass was written with was re-bound, or when the
      * pass holds a subquery (its own plan would keep its old inputs). */
    def bind(now: LogicalPlan, cfg: RunConfig): Option[LogicalPlan] = {
      val values = RuleEngine.windowParams(
        cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS)
      var swapped, rebound = 0
      var subquery = false
      def go(p: LogicalPlan): LogicalPlan =
        if (p eq events) { swapped += 1; now }
        else {
          subquery ||= p.expressions.exists(SubqueryExpression.hasSubquery)
          p.mapChildren(go).transformExpressions {
            case w: ParamLiteral if w.tag.exists(values.contains) =>
              rebound += 1
              w.rebind(values(w.tag.get))
          }
        }
      val plan = go(pass)
      val params = RuleEngine.WindowParamsPerRule * key.rules.size
      if (swapped == 1 && rebound == params && !subquery) Some(plan) else None
    }
  }

  /** The one prepared rule pass, replaced when a tick's key changes. */
  @volatile private var prepared: PreparedPass = _
  private val preparedHitCount = new AtomicLong

  /** Ticks that ran a prepared rule pass, since the JVM started. */
  private[graft] def preparedHits: Long = preparedHitCount.get

  /** A tick's rule pass, and the rules it holds. Prepared when the key
    * matches the last tick's; otherwise the fused frame is analyzed
    * once, and only if that throws is each rule analyzed alone: a rule
    * broken at ANALYSIS (Datasets analyze eagerly) records its ERROR
    * row and drops out, and the pass holds the rest. A fused frame that
    * fails although every rule analyzes alone surfaces its own error.
    * Only a rule set with no broken rule is prepared. None when no rule
    * is left. */
  private def rulePass(events: DataFrame, rules: Seq[AlertRule],
      idCol: Column, cfg: RunConfig, log: RunLog)
      : (Seq[AlertRule], Option[DataFrame]) = {
    val spark = events.sparkSession
    val eventsPlan = events.queryExecution.analyzed
    val key = PassKey(rules, idCol, eventsPlan.output, spark.conf.getAll)
    def pass(rs: Seq[AlertRule]) = RuleEngine.runAlertRules(
      events, rs, idCol, cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS)
    Option(prepared).filter(_.isFor(spark, key))
        .flatMap(_.bind(eventsPlan, cfg)) match {
      case Some(plan) =>
        preparedHitCount.incrementAndGet()
        (rules, Some(graftexpr.ofAnalyzed(spark, plan)))
      case None if rules.isEmpty => (Nil, None)
      case None =>
        Try(pass(rules)) match {
          case Success(fused) =>
            val entry = new PreparedPass(new WeakReference(spark), key,
              eventsPlan, fused.queryExecution.analyzed)
            if (entry.bind(eventsPlan, cfg).isDefined) prepared = entry
            (rules, Some(fused))
          case Failure(fusedError) =>
            val constructed = rules.filter { r =>
              val t0 = System.currentTimeMillis()
              try { ruleFrame(events, r, idCol, cfg); true }
              catch {
                case NonFatal(e) =>
                  log.record(r.name, t0, System.currentTimeMillis(),
                    error = Some(String.valueOf(e.getMessage)))
                  false
              }
            }
            if (constructed.size == rules.size) throw fusedError
            (constructed, Option.when(constructed.nonEmpty)(pass(constructed)))
        }
    }
  }

  /** Run the full alert pipeline. Returned `alerts` are the live
    * (non-suppressed) alerts with correlation ids and the per-handler
    * `handled` results joined on; `store` is the full merged alert set
    * with suppression flags — the reference's results.alerts table.
    *
    * A scheduler's ticks share one rule set over a sliding window, so
    * the rule pass is prepared once per rule set: the first tick keeps
    * its analyzed plan, and a later tick with the same rules, id column,
    * events output attributes and session SQL conf re-binds only the
    * window bounds and `alert_time_s` in it and swaps in its own
    * events' analyzed plan, instead of analyzing the rules again
    * ([[rulePass]]). */
  def runAlerts(
      events: DataFrame,
      rules: Seq[AlertRule],
      idCol: Column,
      suppressions: Seq[SuppressionRule],
      sinks: Seq[AlertSink],
      cfg: RunConfig,
      log: RunLog): AlertRunResult = {

    // 1. every alert rule over the shared time window (ref:
    //    alert_queries_runner.main loops rule views) in ONE pass over
    //    the events, less the rules broken at analysis. Per-rule counts
    //    ride the plan via one observe() of a count per rule position,
    //    so the merge materialization reads every event once for all
    //    rules.
    val (constructed, pass) = rulePass(events, rules, idCol, cfg, log)
    val fused = pass match {
      case None => emptyAlerts(events, idCol, cfg)
      case Some(p) => log.observedInserts(constructed.map(_.name),
        "rule_pos")(p).drop("rule_pos")
    }

    val run = new Run(events.sparkSession, log, "runAlerts")
    run.fusedOrDegraded(fused,
        constructed.map(r =>
          r.name -> (() => ruleFrame(events, r, idCol, cfg))),
        emptyAlerts(events, idCol, cfg)) { alerts =>
      // 2. merge/dedup (ref: MERGE_ALERTS), materialized eagerly: the
      //    run's first action. It runs the rule pass and the merge once
      //    and delivers every rule's and the merge's observed count;
      //    every later frame plans over its small materialized leaf, not
      //    the rule pass.
      val merged = run.action("merge")(graft.Materialize.frame(
        run.insert("alert_merge")(RuleEngine.mergeAlerts(alerts))))
      run.hold(graft.Materialize.release(merged))

      // 3. suppression rules: the run's results table, read by
      //    correlate and returned
      val suppressed =
        run.stage("suppress")(run.suppress(merged, suppressions, "alert_id"))

      // 4. correlation over the live (non-suppressed) alerts (ref:
      //    alert_processor processes unsuppressed alerts); their count
      //    is the alert_dispatch row
      val live = run.stage("dispatch")(run.insert("alert_dispatch")(
        RuleEngine.correlate(suppressed.filter(!col("suppressed")),
          cfg.correlationGapMinutes)))

      // 5. handler fan-out on live alerts + per-handler results joined
      //    back (ref: alert_dispatcher.main + record_status). Dispatch
      //    is side-effecting and AT-LEAST-ONCE, like the reference's
      //    poll loop: the persisted results make the common path
      //    single-send, but cache eviction, task retry, or speculation
      //    can re-run a partition and re-invoke send — external handlers
      //    must dedupe on (alert_id, handler), which every HandlerResult
      //    carries.
      val results = Dispatcher.dispatch(live, sinks, cfg.defaultHandler)
      run.hold(results.unpersist(blocking = false))
      // the run's second and last action: one noop write fills the
      // results cache (suppress → correlate → dispatch run once) and
      // delivers the suppression and alert_dispatch counts. `alerts`
      // stays lazy: it re-reads the cached results, so collecting it
      // sends nothing.
      run.action("dispatch") {
        results.persist()
        results.write.format("noop").mode("overwrite").save()
      }
      AlertRunResult(Dispatcher.recordStatus(live, results), suppressed,
        results)(merged)
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
    * identity-hashed violations → suppression flags, with the same two
    * actions, suppression stage and degradation as runAlerts. The first
    * action materializes the rule union and delivers every rule's
    * count; suppression plans over that leaf, so no rule input is
    * scanned twice; the second materializes the returned results table
    * and delivers every suppression's count. Failure isolation mirrors
    * run_violations.py's invalid-rule regression: a rule broken at
    * analysis OR runtime yields an ERROR metadata row while every other
    * rule's violations land. */
  def runViolations(
      ruleInputs: Seq[(ViolationRule, DataFrame)],
      suppressions: Seq[SuppressionRule],
      log: RunLog): DataFrame = {
    require(ruleInputs.nonEmpty, "runViolations needs at least one rule")
    lazy val empty = emptyViolations(ruleInputs.head._2)

    val constructed = ruleInputs.flatMap { case (rule, grouped) =>
      try Some((rule, grouped,
        log.observedInsert(rule.name)(
          RuleEngine.runViolationRule(grouped, rule))))
      catch { case NonFatal(_) => None } // ERROR row already recorded
    }

    val run = new Run(ruleInputs.head._2.sparkSession, log, "runViolations")
    run.fusedOrDegraded(unionOr(constructed.map(_._3), empty),
        constructed.map { case (rule, grouped, _) =>
          rule.name -> (() => RuleEngine.runViolationRule(grouped, rule)) },
        empty) { violations =>
      val union = run.action("rules")(graft.Materialize.frame(violations))
      run.hold(graft.Materialize.release(union))
      val flagged =
        run.stage("suppress")(run.suppress(union, suppressions, "id"))
      val out = run.action("results")(graft.Materialize.frame(flagged))
      run.hold(graft.Materialize.release(out))
      // `out` is a truncated lineage: nothing reads the union any more
      graft.Materialize.release(union)
      out
    }
  }
}
