package graft

import org.apache.spark.sql.functions._

/** Generalized baseline runner (ref: src/runners/baseline_runner.py —
  * any (source, pivot, event-time, id) triple → percentile profile with
  * when_present and zero-filled overall families). */
class BaselineRunnerSpec extends SparkSuite {
  import spark.implicits._

  test("dailyProfile profiles arbitrary pivots with zero-filled day grid") {
    // u1 active on 2 of 5 days (bursty), u2 active every day (steady)
    val events = Seq(
      ("u1", "2024-01-01 10:00:00", 1L), ("u1", "2024-01-01 11:00:00", 2L),
      ("u1", "2024-01-01 12:00:00", 2L), ("u1", "2024-01-05 10:00:00", 3L),
      ("u2", "2024-01-01 10:00:00", 4L), ("u2", "2024-01-02 10:00:00", 5L),
      ("u2", "2024-01-03 10:00:00", 6L), ("u2", "2024-01-04 10:00:00", 7L),
      ("u2", "2024-01-05 10:00:00", 8L)
    ).toDF("user", "ts_s", "id")
      .withColumn("ts", col("ts_s").cast("timestamp"))

    val prof = Baselines.dailyProfile(
      events, col("user"), col("ts"), col("id"))
    assert(prof.count() == 2)

    val u1 = prof.filter(col("pivot") === "u1").head
    // when_present: days {3 events, 1 event} → avg 2, 2 active days
    assert(u1.getAs[Double]("num_events_avg_when_present") == 2.0)
    assert(u1.getAs[Long]("num_days_when_present") == 2L)
    // overall: grid 2024-01-01..05 → {3,0,0,0,1} → avg 0.8, 5 days
    assert(u1.getAs[Long]("num_days_overall") == 5L)
    assert(u1.getAs[Double]("num_events_avg_overall") == 0.8)
    // the zero-filled median exposes the burstiness
    assert(u1.getAs[Double]("num_events_p50_overall") == 0.0)
    assert(u1.getAs[Double]("num_events_p50_when_present") == 2.0)
    assert(u1.getAs[java.sql.Date]("earliest_when_present").toString ==
      "2024-01-01")
    assert(u1.getAs[java.sql.Date]("latest_when_present").toString ==
      "2024-01-05")

    val u2 = prof.filter(col("pivot") === "u2").head
    // steady actor: both families agree
    assert(u2.getAs[Double]("num_events_avg_when_present") ==
      u2.getAs[Double]("num_events_avg_overall"))
    assert(u2.getAs[Long]("num_days_overall") == 5L)
    // distinct-id counting per day
    assert(u2.getAs[Double]("num_ids_avg_when_present") == 1.0)
  }

  test("loginBaseline matches a census reference and guards its " +
      "128-day bitmask window loudly") {
    // positive: the day-bitmask shape agrees with a direct
    // count-distinct census on real data
    val got = Baselines.loginBaseline(spark, Sf)
      .select("user_id", "n_events", "active_days", "total_days")
    val ref = Tables.t(spark, Sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("ts").cast("date")).as("active_days"))
    assert(got.join(ref, Seq("user_id", "n_events", "active_days"))
      .count() == got.count())
    val td = Tables.t(spark, Sf, "events")
      .agg(countDistinct(col("ts").cast("date"))).head.getLong(0)
    assert(got.select("total_days").distinct().head.getLong(0) == td)

    // negative: a >128-day observation span must FAIL loudly, never
    // fold two days onto one mask bit (the packed-key-guard discipline)
    val wide = tempDir("login_guard").toString
    Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-06-01 10:00:00"))
      .toDF("user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .write.mode("overwrite").parquet(s"$wide/events.parquet")
    val e = intercept[Exception] {
      Baselines.loginBaseline(spark, wide).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("128-day day-bitmask window")),
      s"expected the span guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("dailyProfile pivots by any expression (reuse across sources)") {
    // same runner over a different source shape: pivot = event_type
    val prof = Baselines.dailyProfile(
      Tables.t(spark, Sf, "events"),
      col("event_type"), col("ts"), col("event_id"))
    assert(prof.count() == 5) // one profile row per event type
    assert(prof.filter(col("num_events_p50_when_present") <= 0).count() == 0)
  }
}
