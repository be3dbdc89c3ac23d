package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.ParamLiteral

/** An alert rule: a declarative predicate + field mapping over an event
  * table, the Spark re-expression of a SnowAlert rule view
  * (reference: src/runners/alert_queries_runner.py:38-62, packs SQL).
  * All fields are Columns so the whole rule stays inside Catalyst —
  * pushdown/pruning reach the scan, nothing runs on the driver.
  */
final case class AlertRule(
    name: String,
    queryId: String,
    title: String,
    predicate: Column,
    actor: Column,
    target: Column,
    action: Column,
    description: Column,
    severity: Column,
    eventTime: Column,
    eventData: Column,
    environment: String = "prod",
    sources: String = "events",
    detector: String = "graft")

/** A violation rule: daily compliance SELECT with a deterministic
  * identity hash (reference: src/runners/helpers/db.py:458-493). */
final case class ViolationRule(
    name: String,
    queryId: String,
    title: String,
    predicate: Column,
    target: Column,
    owner: Column,
    severity: Column,
    day: Column)

/** The SnowAlert pipeline re-expressed as DataFrame transforms:
  * rule → merge(dedup) → suppress → correlate. Each step is one
  * declarative plan; at 100 TB each is a single keyed shuffle (or a
  * broadcast) — no driver-side iteration anywhere (the reference's
  * alert_processor loops rows on a client; correlation here is a
  * window computation).
  */
object RuleEngine {

  /** Run an alert rule over a time window. `alert_id` is a
    * deterministic md5 of (rule, event id) rather than UUID_STRING so
    * results are replayable/idempotent; times emitted as epoch seconds.
    * Ref: alert_queries_runner.py RUN_ALERT_QUERY. */
  def runAlertRule(
      events: DataFrame,
      rule: AlertRule,
      idCol: Column,
      fromTs: String,
      toTsExclusive: String,
      alertTimeS: Long): DataFrame =
    events
      .filter(hit(rule, fromTs, toTsExclusive))
      .select(alertColumns(rule, idCol, alertTimeS): _*)

  /** Every rule of `rules` over ONE pass of `events`: one filter keeps
    * the events some rule hit, one generator emits a row per rule that
    * hit it, and `rule_pos` says which (its index in `rules`). Without
    * `rule_pos` the rows are those of the per-rule [[runAlertRule]]
    * frames' union, `alert_id` included; the rules' column types must
    * unify, as that union's must. */
  def runAlertRules(
      events: DataFrame,
      rules: Seq[AlertRule],
      idCol: Column,
      fromTs: String,
      toTsExclusive: String,
      alertTimeS: Long): DataFrame = {
    require(rules.nonEmpty, "runAlertRules needs at least one rule")
    val hits = rules.map(hit(_, fromTs, toTsExclusive))
    val rows = rules.zip(hits).map { case (r, h) =>
      when(h, struct(alertColumns(r, idCol, alertTimeS): _*))
    }
    events
      .filter(hits.reduce(_ || _))
      .select(posexplode(array(rows: _*)).as(Seq("rule_pos", "__alert")))
      .filter(col("__alert").isNotNull)
      .select(col("rule_pos"), col("__alert.*"))
  }

  /** A rule's hit test: its predicate, inside its own `eventTime`
    * window. The bounds are [[graft.functions.ParamLiteral]]s, so the
    * generated code does not change with the window. */
  private def hit(rule: AlertRule, fromTs: String, toTsExclusive: String)
      : Column =
    rule.predicate &&
      rule.eventTime >= ParamLiteral.timestamp(fromTs, Some(FromParam)) &&
      rule.eventTime < ParamLiteral.timestamp(toTsExclusive, Some(ToParam))

  private val FromParam = "window_from"
  private val ToParam = "window_to"
  private val AlertTimeParam = "alert_time_s"

  /** The window's values of the tagged parameters a rule frame holds,
    * by tag: what a prepared rule pass re-binds for another window. */
  private[engine] def windowParams(fromTs: String, toTsExclusive: String,
      alertTimeS: Long): Map[String, Any] = Map(
    FromParam -> ParamLiteral.timestampValue(fromTs),
    ToParam -> ParamLiteral.timestampValue(toTsExclusive),
    AlertTimeParam -> alertTimeS)

  /** How many tagged parameters [[runAlertRules]] writes per rule: each
    * bound of the hit test twice (the pass's filter and its generator)
    * and `alert_time_s` once. */
  private[engine] val WindowParamsPerRule = 5

  /** The alert row a rule emits for an event it hit. */
  private def alertColumns(rule: AlertRule, idCol: Column, alertTimeS: Long)
      : Seq[Column] = Seq(
    md5(concat_ws(":", lit(rule.name), idCol)).as("alert_id"),
    lit(rule.name).as("query_name"),
    lit(rule.queryId).as("query_id"),
    lit(rule.environment).as("environment"),
    lit(rule.sources).as("sources"),
    rule.actor.as("actor"),
    rule.target.as("object"),
    rule.action.as("action"),
    lit(rule.title).as("title"),
    rule.eventTime.cast("long").as("event_time_s"),
    ParamLiteral.long(alertTimeS, Some(AlertTimeParam)).as("alert_time_s"),
    rule.description.as("description"),
    lit(rule.detector).as("detector"),
    rule.eventData.as("event_data"),
    rule.severity.as("severity"),
    lit(1L).as("counter"))

  /** Merge/dedup new alerts: one row per (object, description) with
    * summed counter and earliest times. EVERY body column comes from the
    * SAME source alert — the one with the minimum alert_id — via
    * min_by(_, alert_id), so the merged body is coherent (title matches
    * event_data etc.), a deterministic strengthening of the reference's
    * ANY_VALUE which also takes the whole body from one row.
    * Ref: alert_queries_runner.py MERGE_ALERTS (lines 66-97).
    * Scale: single shuffle on the group key with partial aggregation. */
  def mergeAlerts(alerts: DataFrame): DataFrame = {
    val byMinId = Seq("query_name", "query_id", "environment", "sources",
      "actor", "action", "title", "detector", "event_data", "severity")
    alerts
      .groupBy(col("object"), col("description"))
      .agg(
        min(col("alert_id")).as("alert_id"),
        byMinId.map(c => min_by(col(c), col("alert_id")).as(c)) ++ Seq(
          sum(col("counter")).as("counter"),
          min(col("alert_time_s")).as("alert_time_s"),
          min(col("event_time_s")).as("event_time_s")): _*)
  }

  /** Incremental MERGE of a new batch into the persistent alert store
    * (ref: alert_queries_runner.py MERGE_ALERTS WHEN MATCHED → counter
    * += new, store row otherwise untouched / WHEN NOT MATCHED → insert).
    * Mirrors the reference exactly: a matched store row keeps its own
    * alert_time/event_time (and body), only the counter accumulates.
    * Joins are null-safe (<=>) on the merge key, because mergeAlerts
    * groups null descriptions together — a plain equi-join would never
    * match them and duplicate store rows would accumulate.
    *
    * Scale shape — this is the production hot loop (a batch of new
    * alerts against a store that only grows), so the STORE must never
    * shuffle: the merged batch is broadcast onto one full-width store
    * scan (left join: matched rows accumulate the counter, unmatched
    * pass through), the matched key set is recovered from a key-only
    * store scan semi-joined against the same broadcast (bounded by
    * |batch| — store keys are unique by this function's own contract),
    * and inserts are the batch anti-joined against THAT broadcast
    * little set. Three broadcast-hash joins, zero exchanges over store
    * rows (MergeStorePlanSpec pins it) — the old full-outer shape
    * sort-merge-shuffled the entire store to add a day's batch. */
  def mergeIntoStore(store: DataFrame, newAlerts: DataFrame,
      maxBatchRows: Long = 4000000L): DataFrame = {
    // the merged batch feeds three consumers (both broadcasts + the
    // anti-join probe side); materialize it once — it is small by this
    // function's contract, and recomputing the rule scan + merge per
    // consumer tripled the events-table work at 100x
    val obsN = org.apache.spark.sql.Observation(
      s"merge_batch_${System.nanoTime()}")
    val n = graft.Materialize.frame(
      mergeAlerts(newAlerts).observe(obsN, count(lit(1)).as("n")))
    // the broadcast contract fails LOUDLY: a backfill-sized batch would
    // OOM the broadcast build long after this plan was handed out, with
    // an executor stack that points nowhere near the caller. The count
    // rides the checkpoint action itself (observe metric) — zero extra
    // jobs, same pattern as correlateAnchored's edge count.
    val batchRows = obsN.get("n").asInstanceOf[Long]
    require(batchRows <= maxBatchRows,
      s"mergeIntoStore: merged batch has $batchRows rows > maxBatchRows=" +
        s"$maxBatchRows — this is a backfill, not an incremental batch; " +
        "run it as a shuffled full-outer merge on (object, description) " +
        "instead of the broadcast hot loop, or raise maxBatchRows if " +
        "the driver can hold the broadcast")
    val carry = Seq("alert_id", "query_name", "query_id", "environment",
      "sources", "actor", "action", "title", "detector", "event_data",
      "severity", "alert_time_s", "event_time_s")
    val nB = broadcast(n)
    val matchKey =
      col("s.object") <=> col("n.object") &&
        col("s.description") <=> col("n.description")
    // pass 1 (full-width store scan): matched → counter accumulates,
    // store row body kept; unmatched store rows pass through unchanged
    val updated = store.as("s").join(nB.as("n"), matchKey, "left")
      .select(
        Seq(col("s.object").as("object"),
          col("s.description").as("description")) ++
          carry.map(c => coalesce(col(s"s.$c"), col(s"n.$c")).as(c)) :+
          (coalesce(col("s.counter"), lit(0L)) +
            coalesce(col("n.counter"), lit(0L))).as("counter"): _*)
    // pass 2 (key-only store scan, column-pruned): which batch keys hit
    // the store — ≤ |batch| rows, broadcast back under the anti join
    val matched = store.as("s")
      .select(col("s.object"), col("s.description"))
      .join(nB.as("n"), matchKey, "left_semi")
    val inserts = n.as("n").join(broadcast(matched).as("s"),
      matchKey, "left_anti")
    updated.unionByName(inserts.select(updated.columns.map(col): _*))
  }

  /** The MERGE as ONE co-located full-outer join — the scale path the
    * [[mergeIntoStore]] broadcast guard points at, and the shape the
    * reference's warehouse actually runs (MERGE ON the clustering key
    * of a clustered table; alert_queries_runner.py:66-97): when the
    * store is LANDED bucketed on the merge key
    * ([[graft.sources.Layout.landBucketedKeys]] on
    * (object, description)) and read as that bucketed table, the store
    * side of the join needs NO exchange and (one-file-per-bucket,
    * in-bucket sorted) no sort — only the day's batch shuffles, sized
    * |batch| regardless of how large the store has grown. One store
    * scan total (the broadcast shape needs two), no broadcast builds,
    * no batch-size ceiling: this is the backfill-safe variant.
    *
    * Join keys are PLAIN equality, not null-safe: a null-safe join is
    * extracted as coalesce/isnull key EXPRESSIONS, which the bucketed
    * distribution on the raw columns cannot satisfy — the store would
    * silently re-shuffle. The store landing enforces non-null merge
    * keys (the fixture's loud require), and the BATCH side enforces the
    * same contract in-plan below via a per-row assert_true (codegen'd
    * null check, no extra job): a null object/description would
    * silently insert a duplicate row instead of matching — diverging
    * from the null-safe broadcast variant — so it must fail loudly.
    * A null key is a rule bug, not a mergeable identity. */
  def mergeIntoStoreClustered(store: DataFrame, newAlerts: DataFrame)
      : DataFrame = {
    // The guard rides alert_id (assert_true yields NULL when the keys
    // are non-null, so the coalesce is identity) rather than a dropped
    // helper column, which ColumnPruning would erase along with the
    // check.
    val guard = assert_true(
      col("object").isNotNull && col("description").isNotNull,
      lit("clustered merge: null merge key (object/description) in the " +
        "batch — the plain-equality bucketed join would insert a " +
        "duplicate row; fix the rule's target/description mapping"))
    val n = mergeAlerts(newAlerts).withColumn("alert_id",
      coalesce(guard.cast("string"), col("alert_id")))
    val carry = Seq("alert_id", "query_name", "query_id", "environment",
      "sources", "actor", "action", "title", "detector", "event_data",
      "severity", "alert_time_s", "event_time_s")
    val matchKey =
      col("s.object") === col("n.object") &&
        col("s.description") === col("n.description")
    store.as("s").join(n.as("n"), matchKey, "full_outer")
      .select(
        Seq(coalesce(col("s.object"), col("n.object")).as("object"),
          coalesce(col("s.description"), col("n.description"))
            .as("description")) ++
          carry.map(c => coalesce(col(s"s.$c"), col(s"n.$c")).as(c)) :+
          (coalesce(col("s.counter"), lit(0L)) +
            coalesce(col("n.counter"), lit(0L))).as("counter"): _*)
  }

  /** The suppression columns of a frame no rule has flagged yet:
    * `suppressed` false and `suppression_rule` null. */
  def unsuppressed(frame: DataFrame): DataFrame =
    frame.withColumn("suppressed", lit(false))
      .withColumn("suppression_rule", lit(null).cast("string"))

  /** One suppression rule's flags over a frame that already carries
    * `suppressed` / `suppression_rule` ([[unsuppressed]]): a row is hit
    * iff its key — the `keyCols` together — is among the rule's
    * `suppressedKeys`, and the first rule that hits a row names it (ref:
    * alert_suppressions_runner.py:15-38, one UPDATE per rule). Alerts and
    * violations key on their id; when a rule is really a predicate over
    * an ATTRIBUTE (actor, source ip, ...), keying on that attribute
    * broadcasts a set bounded by its cardinality instead of one id per
    * suppressed row. The hit test is an existence test against the
    * broadcast keys, so duplicates need no `distinct` and the flagged
    * side is never shuffled; a composite key is one struct, which the
    * analyzer unpacks into `(a, b) IN (SELECT a, b ...)`, so a NULL in
    * any key column never matches. IN is three-valued: a NULL among the
    * keys makes a non-matching key's test NULL, not false (Spark's
    * existence-join rewrite happens to return false), so it is
    * coalesced to false. */
  def suppressOnKey(
      flagged: DataFrame,
      suppressedKeys: DataFrame,
      keyCols: Seq[String],
      ruleName: String): DataFrame = {
    val keys = keyCols.map(col)
    val key = if (keys.size == 1) keys.head else struct(keys: _*)
    val hit = coalesce(
      key.isin(broadcast(suppressedKeys.select(keys: _*))), lit(false))
    flagged.withColumn("__sup_hit", hit)
      .withColumn("suppression_rule",
        when(!col("suppressed") && col("__sup_hit"), lit(ruleName))
          .otherwise(col("suppression_rule")))
      .withColumn("suppressed", col("suppressed") || col("__sup_hit"))
      .drop("__sup_hit")
  }

  /** Correlation: alerts from the same actor whose event times chain
    * within `gapMinutes` (and share object or action with the previous
    * alert in the chain) get one correlation_id. The reference
    * (alert_processor.py:11-40) loops alerts on a client and issues
    * point UPDATEs; here it is gap-based sessionization — one shuffle
    * on actor, then window functions, fully parallel. */
  def correlate(alerts: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("actor"))
      .orderBy(col("event_time_s"), col("alert_id"))
    val boundary = when(
      col("event_time_s") - lag(col("event_time_s"), 1).over(w) <= gapMinutes * 60L &&
        (col("object") === lag(col("object"), 1).over(w) ||
          col("action") === lag(col("action"), 1).over(w)),
      0L).otherwise(1L)
    alerts
      .withColumn("__new_chain", boundary)
      .withColumn(
        "chain_seq",
        sum(col("__new_chain"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(
        "correlation_id",
        md5(concat_ws(":", col("actor"), col("chain_seq"))))
      .drop("__new_chain")
  }

  /** Anchored correlation — the reference's EXACT most-recent-match
    * semantics (alert_processor.py:11-40): each alert joins the most
    * recent prior alert of the same actor within `gapMinutes` whose
    * object OR action matches THIS alert's, and takes that alert's
    * correlation id (transitively, the chain root's).
    *
    * This differs from the gap-sessionization `correlate` exactly when
    * an unrelated alert interleaves a chain: actor emits A(obj=X),
    * B(obj=Y), C(obj=X) within the window — sessionization breaks at B
    * (the IMMEDIATELY previous alert doesn't match C), while the
    * reference looks past B and correlates C with A. CorrelationSpec
    * pins this divergence.
    *
    * Shape: a candidate self-join keyed by (actor, gap-length time
    * bucket) — NOT actor alone. A parent within `gapMinutes` of an alert
    * at time t lives in t's bucket or the one before it, so the probe
    * side is duplicated into those two buckets and the join is a plain
    * two-key equi-join: candidates are bounded per (actor, bucket), and
    * a noisy service account with f alerts in the store costs
    * sum-per-bucket f_b·(f_b + f_b-1) candidates, never f² globally.
    * Buckets whose parent count exceeds `maxActorBucketAlerts` are
    * dropped from the PARENT side entirely (their alerts root their own
    * chains) — the same hot-bucket hygiene the LSH dedup join applies,
    * sized so it never fires below truly degenerate skew. The bucket
    * count rides a window over the join's own shuffle keys, so it is
    * co-partitioned with the join — no extra shuffle. Then a max_by
    * argmax picks the parent pointer (no window sort) and pointer
    * jumping resolves the transitive chain root. */
  def correlateAnchored(
      alerts: DataFrame,
      gapMinutes: Int,
      maxActorBucketAlerts: Int = 10000): DataFrame = {
    // Resolve each alert to its chain ROOT (the id the reference
    // propagates transitively) by pointer jumping over the parent
    // FOREST EDGES: each round replaces every node's label with its
    // label's label, so convergence takes O(log depth) rounds — a
    // depth-1000 chain resolves in ~10 rounds, where per-edge min-label
    // propagation would need 1000. The forest is acyclic by
    // construction (parents are strictly earlier).
    //
    // Floor-cuts over the naive shape (this operator is job-chain
    // bound, not data bound, so the count of materialized jobs IS the
    // cost model locally; at scale the same choices stop the candidate
    // join from ever being computed twice):
    //  - The candidate join runs EXACTLY ONCE: its (small) edge output
    //    is materialized before any self-join touches it. Without
    //    this, the grandparent self-join below would re-execute the
    //    whole candidate join on its build side (measured: Catalyst
    //    does not ReuseExchange across the two instances).
    //  - The label table holds ONLY nodes that have a parent (the edge
    //    set), never the full alert population — a parentless alert is
    //    its own root and needs no state. Every round shuffles |edges|
    //    rows, not |alerts|, and the final resolve is one left join of
    //    alerts against this (typically much smaller) table.
    //  - An EMPTY forest (no alert correlates to any other — common
    //    for quiet windows) is detected on the materialize action
    //    itself and skips every subsequent job: each alert roots its
    //    own chain.
    //  - The first label job fuses THREE hops (parent, grandparent,
    //    great-grandparent — self-joins of the materialized edge
    //    table, broadcast-sized per bucket) and observes the
    //    deepest-hop count on the checkpoint action. Real alert
    //    stores are almost always a depth-≤1 forest (each alert
    //    anchors straight to its chain root via the max_by
    //    most-recent-match), so the common case resolves in ONE extra
    //    job with zero pointer-jump rounds — the loop only runs when a
    //    chain of depth ≥ 3 was actually observed, starting from the
    //    3-hop labels the seed job already produced.
    val obsE = org.apache.spark.sql.Observation(
      s"anchor_edges_${System.nanoTime()}")
    val parents = graft.Materialize.frame(
      anchoredParents(alerts, gapMinutes, maxActorBucketAlerts)
        .observe(obsE, count(lit(1)).as("n")))
    if (obsE.get("n").asInstanceOf[Long] == 0L) {
      return alerts.withColumn("correlation_id", md5(col("alert_id")))
    }
    def hopSide(i: Int) = parents.select(
      col("a_id").as(s"__n$i"), col("parent_id").as(s"__p$i"))
    val obs0 = org.apache.spark.sql.Observation(
      s"anchor_seed_${System.nanoTime()}")
    var lab = graft.Materialize.frame(
      parents.select(col("a_id").as("node"), col("parent_id").as("__h1"))
        .join(hopSide(2), col("__h1") === col("__n2"), "left")
        .join(hopSide(3), col("__p2") === col("__n3"), "left")
        .select(col("node"),
          coalesce(col("__p3"), col("__p2"), col("__h1")).as("root"),
          col("__p3").isNotNull.as("__deep"))
        .observe(obs0, count_if(col("__deep")).as("n")))
    var converged = obs0.get("n").asInstanceOf[Long] == 0L
    lab = lab.drop("__deep")
    var rounds = 0
    val maxRounds = 40 // supports chain depth up to 2^40
    while (!converged && rounds < maxRounds) {
      // convergence count rides the checkpoint action (observe metric)
      // — one job per round instead of two. Left join: a root with no
      // parent of its own is absent from the label table (edges only).
      val obs = org.apache.spark.sql.Observation(
        s"anchor_${System.identityHashCode(lab)}_$rounds")
      val hop = graft.Materialize.frame(lab
        .join(lab.select(col("node").as("r_node"), col("root").as("r_root")),
          col("root") === col("r_node"), "left")
        .select(col("node"), coalesce(col("r_root"), col("root")).as("root"),
          (col("r_root").isNotNull && col("r_root") =!= col("root"))
            .as("__changed"))
        .observe(obs, count_if(col("__changed")).as("n")))
      converged = obs.get("n").asInstanceOf[Long] == 0L
      lab = hop.drop("__changed")
      rounds += 1
    }
    alerts
      .join(lab.withColumnRenamed("node", "alert_id"), Seq("alert_id"),
        "left")
      .withColumn("correlation_id",
        md5(coalesce(col("root"), col("alert_id"))))
      .drop("root")
  }

  /** The anchored-correlation candidate join: (alert → most-recent
    * matching parent) keyed by (actor, gap-length time bucket).
    * Package-visible so PlanShapeSpec can pin that the equi-join keys
    * include the bucket column — the property that bounds a hot actor's
    * candidate blowup. */
  private[graft] def anchoredParents(
      alerts: DataFrame,
      gapMinutes: Int,
      maxActorBucketAlerts: Int): DataFrame = {
    // W = 0 would divide by zero in the bucket keys (null buckets under
    // non-ANSI mode → every alert silently roots its own chain).
    require(gapMinutes > 0, s"gapMinutes must be positive, got $gapMinutes")
    val W = gapMinutes * 60L
    // The ALERT side keeps one row per alert; the PARENT side
    // duplicates into its own and the NEXT bucket (a parent at pt can
    // only serve alerts in bucket(pt) or bucket(pt)+1) — the AsOf
    // orientation, adopted here in round 18. With each a_id living in
    // exactly ONE (actor, bucket) partition, the argmax below can group
    // by (a_actor, __abk, a_id): same groups (a_id is unique and
    // determines the others), but the join's output partitioning
    // satisfies the wider clustering, so the |alerts| + |candidates|
    // re-shuffle the a_id-only grouping forced is ELIDED — the same
    // exchange removal measured on AsOf in round 17. Net shuffle rows
    // |A| + 3|P| with no candidate-row exchange anywhere, vs the old
    // orientation's 3|A| + |P| + |candidates|.
    //
    // Round-18 A/B notes (same-JVM, interleaved, events-100x): a
    // shuffle_hash hint here measured SLOWER than the default SMJ
    // (the window's (actor, bucket) sort makes the parent side
    // SMJ-ready, and the argmax's SortAggregate wants sorted input
    // anyway), and a Materialize of the shared alert projection
    // (1 rule scan instead of 2, +1 sequential job) also measured
    // slower at 100x — both rejected on numbers. Callers running over
    // an expensive-to-recompute alert frame should materialize it
    // BEFORE calling; the operator itself stays lazy. (The composed
    // Runner pipeline calls `correlate`, not this operator.)
    val a = alerts.select(col("alert_id").as("a_id"),
      col("actor").as("a_actor"), col("object").as("a_object"),
      col("action").as("a_action"), col("event_time_s").as("a_t"))
      .withColumn("__abk", floor(col("a_t") / W))
    val p = alerts.select(col("alert_id").as("p_id"),
      col("actor").as("p_actor"), col("object").as("p_object"),
      col("action").as("p_action"), col("event_time_s").as("p_t"))
      .withColumn("__pbk0", floor(col("p_t") / W))
      .withColumn("__bsz", count(lit(1)).over(
        Window.partitionBy(col("p_actor"), col("__pbk0"))))
      .filter(col("__bsz") <= maxActorBucketAlerts)
      .withColumn("__pbk",
        explode(array(col("__pbk0"), col("__pbk0") + 1)))
      .drop("__bsz", "__pbk0")
    a.join(p,
        col("a_actor") === col("p_actor") &&
          col("__abk") === col("__pbk") &&
          (col("p_t") < col("a_t") ||
            (col("p_t") === col("a_t") && col("p_id") < col("a_id"))) &&
          col("a_t") - col("p_t") <= W &&
          (col("p_object") === col("a_object") ||
            col("p_action") === col("a_action")))
      .groupBy(col("a_actor"), col("__abk"), col("a_id"))
      .agg(max_by(col("p_id"), struct(col("p_t"), col("p_id")))
        .as("parent_id"))
      .select(col("a_id"), col("parent_id"))
  }

  /** Run a violation rule: one row per violating (target, day) with the
    * reference's identity-hash id: md5 of the canonical identity fields
    * (db.py INSERT_VIOLATIONS_WITH_ID_QUERY). */
  def runViolationRule(
      grouped: DataFrame,
      rule: ViolationRule): DataFrame =
    grouped
      .filter(rule.predicate)
      .select(
        md5(concat_ws("|",
          lit(rule.name), rule.target, lit(rule.title), rule.day))
          .as("id"),
        lit(rule.name).as("query_name"),
        lit(rule.queryId).as("query_id"),
        lit(rule.title).as("title"),
        rule.target.as("object"),
        rule.owner.as("owner"),
        rule.severity.as("severity"),
        rule.day.as("violation_day"))
}
