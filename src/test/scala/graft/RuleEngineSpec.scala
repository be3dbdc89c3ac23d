package graft

import org.apache.spark.sql.catalyst.plans.ExistenceJoin
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

import graft.engine.{AlertRule, RuleEngine}

/** Unit semantics of the rule pipeline on tiny hand-built inputs. */
class RuleEngineSpec extends SparkSuite {
  import spark.implicits._

  private def mkEvents = Seq(
    // (event_id, ts, user, type, value)
    (1L, "2024-01-01 10:00:00", 1L, "error", 120.0),
    (2L, "2024-01-01 10:30:00", 1L, "error", 130.0), // chains with #1
    (3L, "2024-01-01 13:00:00", 1L, "error", 140.0), // new chain (gap)
    (4L, "2024-01-01 10:00:00", 2L, "error", 10.0),  // below threshold
    (5L, "2024-01-01 10:00:00", 3L, "error", 250.0)
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", col("ts_s").cast("timestamp"))
    .withColumn("props", lit("{}"))

  private val rule = AlertRule(
    name = "r1", queryId = "q1", title = "T",
    predicate = col("event_type") === "error" && col("value") > 100,
    actor = concat_ws("", lit("u"), col("user_id")),
    target = concat_ws("", lit("u"), col("user_id")),
    action = col("event_type"),
    description = concat_ws("", lit("u"), col("user_id")),
    severity = when(col("value") > 200, "high").otherwise("medium"),
    eventTime = col("ts"),
    eventData = col("props"))

  private def alerts = RuleEngine.runAlertRule(
    mkEvents, rule, col("event_id"),
    "2024-01-01 00:00:00", "2024-01-02 00:00:00", 0L)

  test("rule filters below-threshold and out-of-window events") {
    assert(alerts.count() == 4)
    assert(alerts.filter(col("severity") === "high").count() == 1)
  }

  test("alert_id is deterministic") {
    val a = alerts.select("alert_id").collect().map(_.getString(0)).sorted
    val b = alerts.select("alert_id").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
    assert(a.distinct.length == 4)
  }

  test("merge sums counters per (object, description)") {
    val m = RuleEngine.mergeAlerts(alerts)
    // u1 has 3 alerts with same object+description → one row, counter 3
    val u1 = m.filter(col("object") === "u1").collect()
    assert(u1.length == 1 && u1.head.getAs[Long]("counter") == 3L)
    assert(m.count() == 2)
  }

  test("mergeIntoStore upserts: matched groups accumulate, new insert") {
    val store = RuleEngine.mergeAlerts(alerts) // u1(x3), u3(x1)
    // next run: two more u1 alerts at later times + a new actor u9
    val next = RuleEngine.runAlertRule(
      mkEvents.withColumn("event_id", col("event_id") + 100)
        .withColumn("user_id",
          when(col("user_id") === 3, 9L).otherwise(col("user_id")))
        .withColumn("ts", col("ts") + expr("INTERVAL 2 DAYS")),
      rule, col("event_id"),
      "2024-01-01 00:00:00", "2024-01-05 00:00:00", 99L)
    val merged = RuleEngine.mergeIntoStore(store, next)
    val u1 = merged.filter(col("object") === "u1").head
    // 3 from the store + 3 from the new batch
    assert(u1.getAs[Long]("counter") == 6L)
    // store's alert_id and earliest event time are kept
    val storeU1 = store.filter(col("object") === "u1").head
    assert(u1.getAs[String]("alert_id") ==
      storeU1.getAs[String]("alert_id"))
    assert(u1.getAs[Long]("event_time_s") ==
      storeU1.getAs[Long]("event_time_s"))
    // new actor inserted with its own counter
    assert(merged.filter(col("object") === "u9").head
      .getAs[Long]("counter") == 1L)
    assert(merged.count() == 3) // u1, u3 (store only), u9 (new only)
  }

  test("merged body columns all come from the min-alert_id source alert") {
    // Two alerts in one (object, description) group with DIFFERENT
    // severity/event_data; the merged row must take every body column
    // from the same (min-alert_id) alert, never stitched across members.
    val m = RuleEngine.mergeAlerts(alerts)
    val u1 = m.filter(col("object") === "u1").head
    val src = alerts
      .filter(col("object") === "u1")
      .orderBy(col("alert_id")).head
    for (c <- Seq("query_name", "actor", "title", "event_data", "severity"))
      assert(u1.getAs[String](c) == src.getAs[String](c), s"column $c")
  }

  test("mergeIntoStore fails loudly on a backfill-sized batch " +
      "(broadcast contract guard)") {
    val store = RuleEngine.mergeAlerts(alerts)
    // the merged batch has 2 groups (u1, u3) — a limit of 1 trips the
    // guard BEFORE any broadcast plan is handed out
    val ex = intercept[IllegalArgumentException] {
      RuleEngine.mergeIntoStore(store, alerts, maxBatchRows = 1L)
    }
    assert(ex.getMessage.contains("backfill"), ex.getMessage)
    // at the default limit the same call plans fine
    assert(RuleEngine.mergeIntoStore(store, alerts).count() == 2)
  }

  test("mergeIntoStore keeps store-side times on match (reference MERGE)") {
    val store = RuleEngine.mergeAlerts(alerts)
    // new batch at EARLIER times — the reference's WHEN MATCHED leaves
    // store alert_time/event_time untouched, only counter accumulates
    val earlier = RuleEngine.runAlertRule(
      mkEvents.withColumn("event_id", col("event_id") + 100)
        .withColumn("ts", col("ts") - expr("INTERVAL 5 DAYS")),
      rule, col("event_id"),
      "2023-12-01 00:00:00", "2024-01-05 00:00:00", 99L)
    val merged = RuleEngine.mergeIntoStore(store, earlier)
    val u1 = merged.filter(col("object") === "u1").head
    val storeU1 = store.filter(col("object") === "u1").head
    assert(u1.getAs[Long]("event_time_s") ==
      storeU1.getAs[Long]("event_time_s"))
    assert(u1.getAs[Long]("alert_time_s") ==
      storeU1.getAs[Long]("alert_time_s"))
    assert(u1.getAs[Long]("counter") == 6L)
  }

  test("mergeIntoStore matches null merge keys (null-safe join)") {
    val nullDesc = RuleEngine.mergeAlerts(
      alerts.withColumn("description", lit(null).cast("string")))
    val merged = RuleEngine.mergeIntoStore(nullDesc, alerts
      .withColumn("description", lit(null).cast("string")))
    // same groups both sides: null keys must MATCH, not duplicate
    assert(merged.count() == nullDesc.count())
    assert(merged.filter(col("object") === "u1").head
      .getAs[Long]("counter") == 6L)
  }

  test("randomized: incremental store folds match the reference MERGE mirror") {
    // K random batches with colliding/null merge keys folded through
    // mergeIntoStore must equal a driver transcription of the
    // reference's MERGE (WHEN MATCHED → counter += batch-group count,
    // store row otherwise untouched; WHEN NOT MATCHED → insert the
    // batch-group merge). Catches stitched bodies, null-key dup rows,
    // and time/counter drift across any batch arrival order.
    val rnd = new scala.util.Random(7L)
    val objects = Seq(Some("o1"), Some("o2"), Some("o3"), None)
    val descs = Seq(Some("d1"), Some("d2"), None)
    var id = 0
    def batch(): Seq[(String, String, String, Long, Long, Long)] =
      (0 until 5 + rnd.nextInt(10)).map { _ =>
        id += 1
        (f"a$id%04d", objects(rnd.nextInt(objects.length)).orNull,
          descs(rnd.nextInt(descs.length)).orNull, 1L,
          1000L + rnd.nextInt(1000), 2000L + rnd.nextInt(1000))
      }
    def toDf(rows: Seq[(String, String, String, Long, Long, Long)]) =
      rows.toDF("alert_id", "object", "description", "counter",
          "event_time_s", "alert_time_s")
        .withColumn("query_name", lit("qn")).withColumn("query_id", lit("qi"))
        .withColumn("environment", lit("e")).withColumn("sources", lit("s"))
        .withColumn("actor", col("object")).withColumn("action", lit("act"))
        .withColumn("title", lit("t")).withColumn("detector", lit("d"))
        .withColumn("event_data", lit("{}"))
        .withColumn("severity", lit("low"))

    val mirror = scala.collection.mutable.LinkedHashMap
      .empty[(Option[String], Option[String]), (String, Long, Long, Long)]
    var store = RuleEngine.mergeAlerts(toDf(Nil))
    for (_ <- 1 to 4) {
      val b = batch()
      store = RuleEngine.mergeIntoStore(store, toDf(b))
      for ((key, g) <- b.groupBy(r => (Option(r._2), Option(r._3)))) {
        val minId = g.map(_._1).min
        val (cnt, et, at) = (g.size.toLong, g.map(_._5).min, g.map(_._6).min)
        mirror.get(key) match {
          case Some((sid, sc, set, sat)) =>
            mirror(key) = (sid, sc + cnt, set, sat) // store row untouched
          case None => mirror(key) = (minId, cnt, et, at)
        }
      }
    }
    val got = store.collect().map { r =>
      (Option(r.getAs[String]("object")),
        Option(r.getAs[String]("description"))) ->
        (r.getAs[String]("alert_id"), r.getAs[Long]("counter"),
          r.getAs[Long]("event_time_s"), r.getAs[Long]("alert_time_s"))
    }.toMap
    assert(got == mirror.toMap)
  }

  test("rule output narrows to the typed Alert envelope (graft.model)") {
    import graft.model.{Alert, Model}
    val ds = Model.alerts(alerts)
    val rows: Seq[Alert] = ds.collect().toSeq
    assert(rows.length == 4)
    val a = rows.minBy(_.alert_id)
    assert(a.query_name == "r1" && a.counter == 1L)
    assert(a.actor.startsWith("u") && a.event_time_s > 0)
    // typed API composes with Dataset operators
    assert(ds.filter((x: Alert) => x.severity == "high").count() == 1)
  }

  test("suppress flags exactly the given ids") {
    val sup = alerts.filter(col("actor") === "u3").select("alert_id")
    val out = RuleEngine.suppressOnKey(RuleEngine.unsuppressed(alerts), sup,
      Seq("alert_id"), "squelch1")
    assert(out.filter(col("suppressed")).count() == 1)
    assert(out.filter(col("suppression_rule") === "squelch1").count() == 1)
    assert(out.filter(!col("suppressed")).count() == 3)
  }

  test("suppressOnKey on actor equals id-based suppress of that actor's alerts") {
    val byKey = RuleEngine.suppressOnKey(RuleEngine.unsuppressed(alerts),
      alerts.filter(col("actor") === "u1").select("actor"),
      Seq("actor"), "squelch2")
    val byId = RuleEngine.suppressOnKey(RuleEngine.unsuppressed(alerts),
      alerts.filter(col("actor") === "u1").select("alert_id"),
      Seq("alert_id"), "squelch2")
    val cols = Seq("alert_id", "suppressed", "suppression_rule")
    assert(byKey.select(cols.map(col): _*).orderBy("alert_id").collect().toSeq ==
      byId.select(cols.map(col): _*).orderBy("alert_id").collect().toSeq)
    assert(byKey.filter(col("suppressed")).count() == 3)
  }

  test("suppressOnKey over a composite key matches every column, and a " +
    "NULL in either key column never matches") {
    val frame = Seq[(Int, String, String)]((1, "a", "x"), (2, "a", "y"),
      (3, null, "x"), (4, "b", null), (5, null, null))
      .toDF("id", "k1", "k2")
    // a duplicate pair, and pairs that equal rows 3-5 only if NULL = NULL
    val keys = Seq[(String, String)](("a", "x"), ("a", "x"), (null, "x"),
      ("b", null), (null, null)).toDF("k1", "k2")
    val out = RuleEngine.suppressOnKey(RuleEngine.unsuppressed(frame),
      keys, Seq("k1", "k2"), "pair")
    assert(out.filter(col("suppressed")).select("id").as[Int].collect()
      .toSeq == Seq(1))
    assert(out.filter(col("suppression_rule") === "pair").count() == 1)
    // the struct unpacks into a two-column existence test: no struct
    // comparison (which would find NULL = NULL), no distinct aggregate
    val plan = out.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1 && joins.head.joinType.isInstanceOf[ExistenceJoin],
      plan.treeString)
    assert(joins.head.condition.toSeq.flatMap(_.references).map(_.name)
      .toSet == Set("k1", "k2"), plan.treeString)
    assert(plan.collect { case a: Aggregate => a }.isEmpty, plan.treeString)
  }

  test("correlate chains within gap, breaks on gap") {
    val c = RuleEngine.correlate(alerts, gapMinutes = 60)
    val u1 = c.filter(col("actor") === "u1")
      .orderBy("event_time_s")
      .select("chain_seq").collect().map(_.getLong(0))
    assert(u1.sameElements(Array(1L, 1L, 2L))) // 10:00+10:30 chain, 13:00 new
    // correlation_id equal within chain, different across chains
    val ids = c.filter(col("actor") === "u1").orderBy("event_time_s")
      .select("correlation_id").collect().map(_.getString(0))
    assert(ids(0) == ids(1) && ids(1) != ids(2))
  }
}
