package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.{AlertRule, RuleEngine}
import graft.streaming.StreamingAlerts
import graft.streaming.StreamingAlerts.{SessionEvent, SessionSummary}

case class StreamEv(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("typed connectors land continuously over a file stream") {
    // drop a CloudTrail JSON-lines file, stream it through the SAME
    // landing projection the batch connector uses, and read the typed
    // columns from the sink — the continuous analogue of
    // connectors_runner's scheduled landing
    val dir = tempDir("graft-stream-land")
    java.nio.file.Files.writeString(dir.resolve("ct1.jsonl"),
      """{"eventID":"e1","eventTime":"2024-01-01T10:00:00Z","eventName":"CreateUser","awsRegion":"us-east-1","recipientAccountId":"111122223333","userIdentity":{"type":"IAMUser","arn":"arn:a","userName":"alice"}}
        |""".stripMargin)
    val stream = graft.sources.Connectors.jsonLinesStream(
      spark, dir.toString, graft.sources.CloudTrail.schema)
      .select(col("raw"), col("eventID").as("event_id"),
        col("eventName").as("event_name"),
        col("userIdentity.userName").as("user_identity_username"))
    val q = stream.writeStream.format("memory").queryName("land_out")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("land_out").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("event_name") == "CreateUser")
    assert(rows.head.getAs[String]("user_identity_username") == "alice")
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rule = AlertRule(
    name = "sr1", queryId = "q1", title = "T",
    predicate = col("event_type") === "error" && col("value") > 100,
    actor = concat_ws("", lit("u"), col("user_id")),
    target = concat_ws("", lit("u"), col("user_id")),
    action = col("event_type"),
    description = concat_ws("", lit("u"), col("user_id")),
    severity = lit("medium"),
    eventTime = col("ts"),
    eventData = lit("{}"))

  test("ruleStream emits alerts for matching events only") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamEv]
    val out = StreamingAlerts.ruleStream(input.toDF(), rule, col("event_id"))
    val q = out.writeStream.format("memory").queryName("alerts_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamEv(1, ts("2024-01-01 10:00:00"), 1, "error", 120.0),
      StreamEv(2, ts("2024-01-01 10:01:00"), 1, "click", 500.0),
      StreamEv(3, ts("2024-01-01 10:02:00"), 2, "error", 50.0))
    q.processAllAvailable()
    val got = spark.table("alerts_out").collect()
    q.stop()
    assert(got.length == 1)
    assert(got.head.getAs[String]("actor") == "u1")
  }

  test("windowedCounts aggregates per window and type") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamEv]
    val out = StreamingAlerts.windowedCounts(
      input.toDF(), "10 minutes", "10 minutes", "1 minute")
    val q = out.writeStream.format("memory").queryName("wc_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamEv(1, ts("2024-01-01 10:01:00"), 1, "error", 1.0),
      StreamEv(2, ts("2024-01-01 10:02:00"), 2, "error", 2.0),
      StreamEv(3, ts("2024-01-01 10:03:00"), 3, "click", 3.0))
    q.processAllAvailable()
    // advance watermark past the window so append emits it
    input.addData(StreamEv(9, ts("2024-01-01 11:00:00"), 1, "view", 0.0))
    q.processAllAvailable()
    val got = spark.table("wc_out").collect()
    q.stop()
    val err = got.find(_.getAs[String]("event_type") == "error").get
    assert(err.getAs[Long]("n") == 2L)
    assert(err.getAs[Double]("value_sum") == 3.0)
  }

  test("dedupStream drops duplicate alert ids") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val alerts = input.toDF().toDF("alert_id", "event_time")
    val q = StreamingAlerts.dedupStream(alerts).writeStream
      .format("memory").queryName("dd_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      ("a1", ts("2024-01-01 10:00:00")),
      ("a1", ts("2024-01-01 10:00:30")),
      ("a2", ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    val got = spark.table("dd_out").collect()
    assert(got.map(_.getString(0)).sorted.sameElements(Array("a1", "a2")))
    // state is watermark-bounded: once the watermark passes a1's
    // horizon, its dedup state is evicted and a later a1 re-emits —
    // bounded state on unbounded streams, per
    // dropDuplicatesWithinWatermark semantics
    input.addData(("a3", ts("2024-01-01 11:00:00"))) // advance watermark
    q.processAllAvailable()
    input.addData(("a1", ts("2024-01-01 11:00:10")))
    q.processAllAvailable()
    val again = spark.table("dd_out").collect()
    q.stop()
    assert(again.count(_.getString(0) == "a1") == 2)
  }

  test("dedupStream watermarks event_time even when the input is " +
      "watermarked on a different column") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    val input = MemoryStream[(String, Timestamp, Timestamp)]
    def base = input.toDF().toDF("alert_id", "ts", "event_time")
    // watermark on ts only: the documented event_time contract must
    // still be declared, not silently replaced by ts's delay
    val cross = StreamingAlerts.dedupStream(base.withWatermark("ts", "5 minutes"))
    val crossWms = cross.queryExecution.logical.collect {
      case e: EventTimeWatermark => e.eventTime.name
    }
    assert(crossWms.contains("event_time"), crossWms.toString)
    // already watermarked on event_time: composes without redefining
    val pre = StreamingAlerts.dedupStream(
      base.withWatermark("event_time", "5 minutes"))
    val preWms = pre.queryExecution.logical.collect {
      case e: EventTimeWatermark => e.eventTime.name
    }
    assert(preWms == Seq("event_time"), preWms.toString)
    // MULTIPLE watermarks with event_time NOT topmost (ts applied
    // after an upstream event_time watermark): the existing
    // event_time watermark must be SEEN (collect, not collectFirst)
    // and not re-declared — a redefinition is an analysis error under
    // multiple-stateful-operator support
    val stacked = StreamingAlerts.dedupStream(
      base.withWatermark("event_time", "5 minutes")
        .withWatermark("ts", "2 minutes"))
    val stackedWms = stacked.queryExecution.logical.collect {
      case e: EventTimeWatermark => e.eventTime.name
    }
    assert(stackedWms.count(_ == "event_time") == 1, stackedWms.toString)
    assert(stackedWms.contains("ts"), stackedWms.toString)
  }

  test("suppressOnKey flags streaming alerts against a static suppression set") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamEv]
    val alerts = StreamingAlerts.ruleStream(input.toDF(), rule, col("event_id"))
    val supIds = Seq(
      // deterministic id of event 1 under rule sr1
      org.apache.spark.sql.functions.md5(lit("sr1:1")))
    val supDf = spark.range(1).select(supIds.head.as("alert_id"))
    val q = RuleEngine.suppressOnKey(RuleEngine.unsuppressed(alerts), supDf,
        Seq("alert_id"), "static_squelch")
      .writeStream.format("memory").queryName("sup_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamEv(1, ts("2024-01-01 10:00:00"), 1, "error", 120.0),
      StreamEv(2, ts("2024-01-01 10:01:00"), 2, "error", 220.0))
    q.processAllAvailable()
    val got = spark.table("sup_out").collect()
    q.stop()
    assert(got.length == 2)
    assert(got.count(_.getAs[Boolean]("suppressed")) == 1)
    val sup = got.find(_.getAs[Boolean]("suppressed")).get
    assert(sup.getAs[String]("actor") == "u1")
    assert(sup.getAs[String]("suppression_rule") == "static_squelch")
  }

  test("a query restarted from its checkpoint emits no duplicate alerts") {
    // each AvailableNow run resumes the offsets and the dedup state from
    // the checkpoint, like every scheduled ingest cycle; the second file
    // repeats event 1 inside the watermark
    val root = tempDir("graft-stream-restart")
    val Seq(src, sink, ck) =
      Seq("src", "sink", "ck").map(root.resolve(_).toString)
    def arrive(evs: StreamEv*): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(src)
    def cycle(): Unit =
      StreamingAlerts.dedupStream(StreamingAlerts.ruleStream(
          spark.readStream.schema(Seq.empty[StreamEv].toDF().schema)
            .parquet(src), rule, col("event_id")))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    arrive(
      StreamEv(1, ts("2024-01-01 10:00:00"), 1, "error", 120.0),
      StreamEv(2, ts("2024-01-01 10:01:00"), 2, "error", 220.0))
    cycle()
    arrive(
      StreamEv(1, ts("2024-01-01 10:02:00"), 1, "error", 120.0),
      StreamEv(3, ts("2024-01-01 10:03:00"), 3, "error", 320.0))
    cycle()
    val ids = spark.read.parquet(sink).select("alert_id").as[String]
      .collect().toSeq
    assert(ids.length == 3, ids)
    assert(ids.distinct.length == 3, ids)
  }

  test("dispatchStream routes each micro-batch to the sinks") {
    implicit val ctx = spark.sqlContext
    val buf = s"stream-${System.nanoTime()}"
    val input = MemoryStream[StreamEv]
    val alerts = StreamingAlerts.ruleStream(input.toDF(), rule, col("event_id"))
    val q = StreamingAlerts.dispatchStream(alerts,
      Seq(new graft.engine.MemorySink(buf)), defaultHandler = "memory")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamEv(1, ts("2024-01-01 10:00:00"), 1, "error", 120.0),
      StreamEv(2, ts("2024-01-01 10:01:00"), 2, "error", 220.0),
      StreamEv(3, ts("2024-01-01 10:02:00"), 3, "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val delivered = graft.engine.MemorySink.drain(buf)
    assert(delivered.length == 2)
    assert(delivered.forall(_.contains("\"alert_id\"")))
  }

  test("sessionize emits closed sessions and expires state on timeout") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val out = StreamingAlerts.sessionize(input.toDS(), gapS = 3600,
      watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    // u1: two events 10 min apart → one session
    input.addData(
      SessionEvent("u1", ts("2024-01-01 10:00:00")),
      SessionEvent("u1", ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    // nothing closed yet: watermark has not passed u1's end + gap
    assert(spark.table("sess_out").isEmpty)
    // a much later event advances the watermark past 11:10 → u1's
    // state times out and the CLOSED session is emitted
    input.addData(SessionEvent("u2", ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    input.addData(SessionEvent("u2", ts("2024-01-01 13:00:05")))
    q.processAllAvailable()
    val got = spark.table("sess_out").as[SessionSummary].collect()
    q.stop()
    val u1 = got.find(_.actor == "u1").get
    assert(u1.startS == ts("2024-01-01 10:00:00").getTime / 1000)
    assert(u1.endS == ts("2024-01-01 10:10:00").getTime / 1000)
    assert(u1.nEvents == 2L)
    // u2's session is still open → not emitted in Append mode
    assert(!got.exists(_.actor == "u2"))
  }

  test("sessionize closes a session mid-batch when the gap is exceeded") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val out = StreamingAlerts.sessionize(input.toDS(), gapS = 600,
      watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("sess_gap_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      SessionEvent("u1", ts("2024-01-01 10:00:00")),
      SessionEvent("u1", ts("2024-01-01 10:05:00")),
      SessionEvent("u1", ts("2024-01-01 12:00:00"))) // > gap → closes 1st
    q.processAllAvailable()
    val got = spark.table("sess_gap_out").as[SessionSummary].collect()
    q.stop()
    assert(got.length == 1)
    assert(got.head.nEvents == 2L)
    assert(got.head.endS == ts("2024-01-01 10:05:00").getTime / 1000)
  }
}
