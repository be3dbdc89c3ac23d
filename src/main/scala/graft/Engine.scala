package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{AlertRule, RuleEngine, ViolationRule}
import graft.sources.FixtureStore

/** SURVEY.md §2 #1-6: the SnowAlert rule pipeline demonstrated over the
  * `events` table, each stage with a DuckDB oracle.
  */
object Engine {
  import Tables.t

  private val From = "2024-01-01 00:00:00"
  private val To = "2024-02-01 00:00:00"
  private val AlertTimeS = 1706745600L // 2024-02-01T00:00:00Z

  private def highValueError = AlertRule(
    name = "high_value_error",
    queryId = "gq001",
    title = "High value error event",
    predicate = col("event_type") === "error" && col("value") > 50.0,
    actor = concat_ws("", lit("user:"), col("user_id")),
    target = concat_ws("", lit("user:"), col("user_id")),
    action = col("event_type"),
    description = concat_ws("", lit("user:"), col("user_id"),
      lit(" error band "), floor(col("value") / 100.0).cast("long")),
    severity = when(col("value") > 200.0, "high").otherwise("medium"),
    eventTime = col("ts"),
    eventData = col("props"))

  // the merge-store demo mirrors the production MERGE shape: the store
  // is the merged first half of January LANDED as a parquet table
  // (marker-keyed fixture, the q_ann_ivf_store precedent — a real
  // deployment's store is stored, not re-derived per run), the incoming
  // batch is the next TWO DAYS of alerts (a batch is small relative to
  // a store that has been accumulating; same rule, later alert time —
  // matched keys must keep the STORE's time, the reference MERGE)
  private val Mid = "2024-01-16 00:00:00"
  private val BatchTo = "2024-01-18 00:00:00"
  private val StoreTimeS = 1705363200L // 2024-01-16T00:00:00Z

  private val StoreBuckets = 16

  /** Build — or reuse via source marker — the landed alert-store
    * fixture for `dir`: mergeAlerts over the first-half window, landed
    * once under the JVM tmpdir BUCKETED + in-bucket SORTED on the merge
    * key (object, description) — the Spark-native equivalent of the
    * reference's warehouse-clustered alerts table that MERGE ON joins
    * against (alert_queries_runner.py:66-97). One file per bucket (the
    * repartition pre-shuffle), so the clustered merge's sort-merge join
    * plans sort-free on the store side under Bench's ordering flag.
    * The landing asserts non-null merge keys (the
    * [[graft.engine.RuleEngine.mergeIntoStoreClustered]] contract). */
  private def alertStoreFixture(s: SparkSession, dir: String): String = {
    val tag = FixtureStore.sourceTagOf(s"$dir/events.parquet") +
      ":alertstore-v2"
    val storeDir = FixtureStore.dirFor("alert_store", tag)
    FixtureStore.ensure(storeDir, tag) { buildDir =>
      val merged = RuleEngine.mergeAlerts(
        alertsIn(s, dir, From, Mid, StoreTimeS))
      val nullKeys = merged.filter(
        col("object").isNull || col("description").isNull).limit(1).count()
      require(nullKeys == 0L,
        "alert store landing: null merge keys — the clustered merge " +
          "joins on plain equality and would drop these rows; fix the " +
          "rule's target/description mapping")
      val tmpName = "graft_alert_store_land_" +
        java.lang.Long.toHexString(System.nanoTime())
      graft.sources.Layout.landBucketedKeys(
        merged.repartition(StoreBuckets, col("object"), col("description")),
        tmpName, Seq("object", "description"), StoreBuckets,
        path = Some(s"$buildDir/data"))
      s.sql(s"DROP TABLE IF EXISTS $tmpName") // external: files stay
      ()
    }
  }

  /** Per-session registration of the landed store as a bucketed table
    * (external CLUSTERED BY DDL over the fixture files — the in-memory
    * catalog dies with the JVM, the files and marker persist). */
  private def alertStoreTable(s: SparkSession, dir: String): String = {
    val root = alertStoreFixture(s, dir)
    val tbl = new java.io.File(root).getName + "_bkt"
    if (!s.catalog.tableExists(tbl)) {
      // DDL columns derive from the LIVE mergeAlerts schema (plan-only,
      // nothing executes) — a hand-written list would silently read
      // NULLs for any renamed/added column under parquet by-name
      // resolution, and the spec that pins the merge plan builds its
      // DDL the same way so the drift would go unseen.
      val cols = RuleEngine.mergeAlerts(
        alertsIn(s, dir, From, Mid, StoreTimeS)).schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      s.sql(s"""CREATE TABLE $tbl ($cols) USING parquet
        | CLUSTERED BY (object, description)
        | SORTED BY (object, description)
        | INTO $StoreBuckets BUCKETS LOCATION '$root/data'""".stripMargin)
    }
    tbl
  }

  private def alertsIn(s: SparkSession, dir: String,
      from: String, to: String, atS: Long): DataFrame =
    RuleEngine.runAlertRule(
      t(s, dir, "events"), highValueError, col("event_id"), from, to, atS)

  private def alerts(s: SparkSession, dir: String): DataFrame =
    alertsIn(s, dir, From, To, AlertTimeS)

  /** The alerts oracle body for an arbitrary window/alert-time (the
    * merge-store oracle needs two instances). */
  private def alertsCteBody(from: String, to: String, atS: Long): String =
    s"""  SELECT md5('high_value_error:' || event_id) AS alert_id,
       |    'high_value_error' AS query_name, 'gq001' AS query_id,
       |    'prod' AS environment, 'events' AS sources,
       |    'user:' || user_id AS actor,
       |    'user:' || user_id AS object,
       |    event_type AS action,
       |    'High value error event' AS title,
       |    epoch_ns(ts) // 1000000000 AS event_time_s,
       |    CAST($atS AS BIGINT) AS alert_time_s,
       |    'user:' || user_id || ' error band ' ||
       |      CAST(floor(value / 100.0) AS BIGINT) AS description,
       |    'graft' AS detector,
       |    props AS event_data,
       |    CASE WHEN value > 200.0 THEN 'high' ELSE 'medium' END AS severity,
       |    CAST(1 AS BIGINT) AS counter
       |  FROM events
       |  WHERE event_type = 'error' AND value > 50.0
       |    AND ts >= TIMESTAMP '$from' AND ts < TIMESTAMP '$to'""".stripMargin

  /** Shared oracle CTE mirroring `alerts`. */
  private val AlertsCte =
    s"""WITH alerts AS (
       |${alertsCteBody(From, To, AlertTimeS)}
       |)""".stripMargin

  /** The in-batch merge, as a SQL SELECT body over a named alerts CTE. */
  private def mergeSqlOver(src: String): String =
    s"""SELECT object, description,
       |  min(alert_id) AS alert_id,
       |  min_by(query_name, alert_id) AS query_name,
       |  min_by(query_id, alert_id) AS query_id,
       |  min_by(environment, alert_id) AS environment,
       |  min_by(sources, alert_id) AS sources,
       |  min_by(actor, alert_id) AS actor,
       |  min_by(action, alert_id) AS action,
       |  min_by(title, alert_id) AS title,
       |  min_by(detector, alert_id) AS detector,
       |  min_by(event_data, alert_id) AS event_data,
       |  min_by(severity, alert_id) AS severity,
       |  CAST(sum(counter) AS BIGINT) AS counter,
       |  min(alert_time_s) AS alert_time_s,
       |  min(event_time_s) AS event_time_s
       |FROM $src GROUP BY object, description""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_alert_rule" -> ((s, dir) => alerts(s, dir).orderBy(col("alert_id"))),

    "q_alert_merge" -> ((s, dir) =>
      RuleEngine.mergeAlerts(alerts(s, dir))
        .orderBy(col("object"), col("description"))),

    // #2b the incremental-upsert hot loop (ref MERGE_ALERTS): a 2-day
    // batch of new alerts MERGEd into the landed first-half store —
    // matched keys accumulate counter and keep the store's alert/event
    // times, new keys insert. The store is read from its parquet
    // fixture and never shuffled (batch broadcast; MergeStorePlanSpec).
    "q_alert_merge_store" -> ((s, dir) =>
      RuleEngine.mergeIntoStore(
        s.read.parquet(s"${alertStoreFixture(s, dir)}/data"),
        alertsIn(s, dir, Mid, BatchTo, AlertTimeS))
        .select(col("object"), col("description"), col("alert_id"),
          col("counter"), col("alert_time_s"), col("event_time_s"),
          col("severity"))
        .orderBy(col("object"), col("description"))),

    // #2c the SAME MERGE as one co-located full-outer join over the
    // store read as its bucketed table (the reference's clustered-
    // warehouse MERGE): no broadcast, no batch-size ceiling, one store
    // scan with no Exchange and no Sort on the store side — only the
    // batch shuffles. Same oracle as q_alert_merge_store (identical
    // result by construction).
    "q_alert_merge_clustered" -> ((s, dir) =>
      RuleEngine.mergeIntoStoreClustered(
        s.table(alertStoreTable(s, dir)),
        alertsIn(s, dir, Mid, BatchTo, AlertTimeS))
        .select(col("object"), col("description"), col("alert_id"),
          col("counter"), col("alert_time_s"), col("event_time_s"),
          col("severity"))
        .orderBy(col("object"), col("description"))),

    "q_alert_suppress" -> ((s, dir) => {
      // noisy-actor suppression keyed on the ACTOR, not the alert id:
      // the suppression predicate is per-actor, so the alert set feeds
      // exactly two consumers — the per-actor profile (map-side partial
      // agg, tiny shuffle) and one broadcast existence test on actor,
      // whose build side is O(noisy actors) — bounded by
      // |alerts|/threshold — not one id per suppressed alert.
      // The two consumers read the projected rule scan DIRECTLY: both
      // scans run inside ONE job (the broadcast build and the probe
      // side schedule in parallel), which round-18 A/B measured faster
      // than checkpointing the projection (1.45 vs 1.69 s steady at
      // events-100× — the checkpoint's write + sequential job cost more
      // than the 211 MB column-pruned re-scan). A caller whose alert
      // frame is expensive to recompute materializes it BEFORE this
      // shape, as the composed Runner pipeline does.
      val a = alerts(s, dir).select("alert_id", "actor")
      val noisy = a.groupBy(col("actor"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 8)
        .select(col("actor"))
      RuleEngine.suppressOnKey(RuleEngine.unsuppressed(a), noisy,
          Seq("actor"), "noisy_actor_squelch")
        .orderBy(col("alert_id"))
    }),

    "q_alert_correlate" -> ((s, dir) =>
      // range-partition on the window key up front: the correlate
      // window clusters on actor and the presentation sort (actor,
      // event_time_s, alert_id) is exactly the window's local sort, so
      // ONE exchange serves both and the final global re-sort of the
      // whole output never plans (guide §2.4; q_running_window rework)
      RuleEngine.correlate(alerts(s, dir).repartitionByRange(col("actor")),
          gapMinutes = 60)
        .select(col("alert_id"), col("actor"), col("action"),
          col("event_time_s"), col("chain_seq"), col("correlation_id"))
        .orderBy(col("actor"), col("event_time_s"), col("alert_id"))),

    "q_alert_correlate_anchored" -> ((s, dir) =>
      RuleEngine.correlateAnchored(alerts(s, dir), gapMinutes = 60)
        .select(col("alert_id"), col("actor"), col("event_time_s"),
          col("correlation_id"))
        .orderBy(col("alert_id"))),

    "q_violation_rule" -> ((s, dir) =>
      violations(s, dir).orderBy(col("id"))),

    "q_violation_suppress" -> ((s, dir) => {
      val signupDays = t(s, dir, "events")
        .filter(col("event_type") === "signup")
        .select(
          concat_ws("", lit("user:"), col("user_id")).as("object"),
          col("ts").cast("date").as("violation_day"))
      RuleEngine.suppressOnKey(RuleEngine.unsuppressed(violations(s, dir)),
          signupDays, Seq("object", "violation_day"), "signup_day")
        .select(col("id"), col("object"), col("violation_day"),
          col("suppressed"))
        .orderBy(col("id"))
    })
  )

  private def violations(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    RuleEngine.runViolationRule(daily, ViolationRule(
      name = "daily_error_burst",
      queryId = "gv001",
      title = "Daily error burst",
      predicate = col("n") >= 2,
      target = concat_ws("", lit("user:"), col("user_id")),
      owner = lit("secops"),
      severity = when(col("n") >= 3, "high").otherwise("medium"),
      day = col("day")))
  }

  private val ViolationsCte =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
      |), violations AS (
      |  SELECT
      |    md5('daily_error_burst|user:' || user_id ||
      |        '|Daily error burst|' || CAST(day AS VARCHAR)) AS id,
      |    'daily_error_burst' AS query_name, 'gv001' AS query_id,
      |    'Daily error burst' AS title,
      |    'user:' || user_id AS object,
      |    'secops' AS owner,
      |    CASE WHEN n >= 3 THEN 'high' ELSE 'medium' END AS severity,
      |    day AS violation_day
      |  FROM daily WHERE n >= 2
      |)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_alert_rule" ->
      s"$AlertsCte\nSELECT * FROM alerts ORDER BY alert_id",

    "q_alert_merge" ->
      s"""$AlertsCte
         |${mergeSqlOver("alerts")}
         |ORDER BY object, description""".stripMargin,

    "q_alert_merge_store" ->
      s"""WITH a1 AS (
         |${alertsCteBody(From, Mid, StoreTimeS)}
         |), a2 AS (
         |${alertsCteBody(Mid, BatchTo, AlertTimeS)}
         |), m1 AS (
         |${mergeSqlOver("a1")}
         |), m2 AS (
         |${mergeSqlOver("a2")}
         |)
         |SELECT coalesce(s.object, n.object) AS object,
         |  coalesce(s.description, n.description) AS description,
         |  coalesce(s.alert_id, n.alert_id) AS alert_id,
         |  CAST(coalesce(s.counter, 0) + coalesce(n.counter, 0) AS BIGINT)
         |    AS counter,
         |  coalesce(s.alert_time_s, n.alert_time_s) AS alert_time_s,
         |  coalesce(s.event_time_s, n.event_time_s) AS event_time_s,
         |  coalesce(s.severity, n.severity) AS severity
         |FROM m1 s FULL OUTER JOIN m2 n
         |  ON s.object IS NOT DISTINCT FROM n.object
         | AND s.description IS NOT DISTINCT FROM n.description
         |ORDER BY object, description""".stripMargin,

    "q_alert_merge_clustered" ->
      s"""WITH a1 AS (
         |${alertsCteBody(From, Mid, StoreTimeS)}
         |), a2 AS (
         |${alertsCteBody(Mid, BatchTo, AlertTimeS)}
         |), m1 AS (
         |${mergeSqlOver("a1")}
         |), m2 AS (
         |${mergeSqlOver("a2")}
         |)
         |SELECT coalesce(s.object, n.object) AS object,
         |  coalesce(s.description, n.description) AS description,
         |  coalesce(s.alert_id, n.alert_id) AS alert_id,
         |  CAST(coalesce(s.counter, 0) + coalesce(n.counter, 0) AS BIGINT)
         |    AS counter,
         |  coalesce(s.alert_time_s, n.alert_time_s) AS alert_time_s,
         |  coalesce(s.event_time_s, n.event_time_s) AS event_time_s,
         |  coalesce(s.severity, n.severity) AS severity
         |FROM m1 s FULL OUTER JOIN m2 n
         |  ON s.object = n.object
         | AND s.description = n.description
         |ORDER BY object, description""".stripMargin,

    "q_alert_suppress" ->
      s"""$AlertsCte, noisy AS (
         |  SELECT actor FROM alerts GROUP BY actor HAVING count(*) >= 8
         |)
         |SELECT alert_id, actor,
         |  actor IN (SELECT actor FROM noisy) AS suppressed,
         |  CASE WHEN actor IN (SELECT actor FROM noisy)
         |       THEN 'noisy_actor_squelch' END AS suppression_rule
         |FROM alerts ORDER BY alert_id""".stripMargin,

    "q_alert_correlate" ->
      s"""$AlertsCte, flagged AS (
         |  SELECT alert_id, actor, object, action, event_time_s,
         |    CASE WHEN event_time_s - lag(event_time_s) OVER win <= 3600
         |           AND (object = lag(object) OVER win
         |                OR action = lag(action) OVER win)
         |         THEN 0 ELSE 1 END AS new_chain
         |  FROM alerts
         |  WINDOW win AS (PARTITION BY actor ORDER BY event_time_s, alert_id)
         |), chained AS (
         |  SELECT alert_id, actor, action, event_time_s,
         |    CAST(sum(new_chain) OVER (
         |      PARTITION BY actor ORDER BY event_time_s, alert_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chain_seq
         |  FROM flagged
         |)
         |SELECT alert_id, actor, action, event_time_s, chain_seq,
         |  md5(actor || ':' || chain_seq) AS correlation_id
         |FROM chained ORDER BY actor, event_time_s, alert_id""".stripMargin,

    "q_alert_correlate_anchored" ->
      s"""$AlertsCte, parented AS (
         |  SELECT a_id, p_id FROM (
         |    SELECT a.alert_id AS a_id, p.alert_id AS p_id,
         |      row_number() OVER (PARTITION BY a.alert_id
         |        ORDER BY p.event_time_s DESC, p.alert_id DESC) AS rn
         |    FROM alerts a JOIN alerts p
         |      ON p.actor = a.actor
         |      AND (p.event_time_s < a.event_time_s
         |           OR (p.event_time_s = a.event_time_s
         |               AND p.alert_id < a.alert_id))
         |      AND a.event_time_s - p.event_time_s <= 3600
         |      AND (p.object = a.object OR p.action = a.action)
         |  ) WHERE rn = 1
         |), chase AS (
         |  WITH RECURSIVE walk(a_id, cur) AS (
         |    SELECT a_id, p_id FROM parented
         |    UNION ALL
         |    SELECT w.a_id, p.p_id FROM walk w
         |    JOIN parented p ON p.a_id = w.cur
         |  ) SELECT a_id, cur FROM walk
         |), roots AS (
         |  SELECT a_id, cur AS root FROM chase
         |  WHERE cur NOT IN (SELECT a_id FROM parented)
         |)
         |SELECT a.alert_id, a.actor, a.event_time_s,
         |  md5(coalesce(r.root, a.alert_id)) AS correlation_id
         |FROM alerts a LEFT JOIN roots r ON r.a_id = a.alert_id
         |ORDER BY a.alert_id""".stripMargin,

    "q_violation_rule" ->
      s"$ViolationsCte\nSELECT * FROM violations ORDER BY id",

    "q_violation_suppress" ->
      s"""$ViolationsCte, signup_days AS (
         |  SELECT DISTINCT 'user:' || user_id AS object,
         |    CAST(ts AS DATE) AS violation_day
         |  FROM events WHERE event_type = 'signup'
         |)
         |SELECT v.id, v.object, v.violation_day,
         |  EXISTS (SELECT 1 FROM signup_days s
         |          WHERE s.object = v.object
         |            AND s.violation_day = v.violation_day) AS suppressed
         |FROM violations v ORDER BY v.id""".stripMargin
  )
}
