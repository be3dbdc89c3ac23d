package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.AlertRule
import graft.streaming.{StreamingAlerts, StreamingCorpus}

/** Timed evidence for the STREAMING surface (SURVEY §2 #40-46, #83c) —
  * the one operator family whose correctness is spec-proven but whose
  * cost was never measured. Runs, in ONE JVM with /proc/stat steal
  * sampled around each cycle (the BASELINE.md calm-gating discipline):
  *
  *  1. a full [[StreamingCorpus.landVectorsPq]] AvailableNow landing
  *     cycle — arriving embeddings gated against a frozen
  *     (seeds, cellStore) history, cell-assigned, PQ-code-stamped and
  *     appended cell-partitioned — at GRAFT_STREAM_EMBED_DIR;
  *  2. a [[StreamingAlerts]] micro-batch — rule → watermark →
  *     dropDuplicatesWithinWatermark → parquet append — at
  *     GRAFT_STREAM_EVENTS_DIR.
  *
  * Prints ONE JSON line (and writes it to GRAFT_STREAM_OUT, default
  * STREAMBENCH.json) with cycle wall-clock, input/output rows, and
  * rows/s. Driver-side evidence tooling like [[StoreBench]]; not part
  * of any query surface. (Ref: connectors_runner.py's scheduled batch
  * landings are the reference's operational heartbeat — an AvailableNow
  * cycle is that contract with continuous semantics.) */
object StreamBench {
  /** The file-stream source wants a DIRECTORY of arriving files; the
    * testdata tables are single parquet files. Stage a temp dir holding
    * a symlink to the file — the arrival directory of a real landing
    * pipeline, without copying gigabytes. */
  private def stageDir(file: String): String = {
    val d = Files.createTempDirectory("graft_stream_in")
    Files.createSymbolicLink(d.resolve("batch-0.parquet"),
      java.nio.file.Paths.get(file))
    d.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(GraftSession.cpus)
    val hz = 100L // USER_HZ on linux
    // steal seconds since the reading s0; -1 when the counter is unreadable
    def stealSince(s0: Long): Double = {
      val s1 = GraftSession.steal()
      if (s0 < 0 || s1 < 0) -1.0 else (s1 - s0).toDouble / hz
    }

    // ---- cycle 1: vector landing (gate + cell + PQ codes + append) ----
    val embedDir =
      sys.env.getOrElse("GRAFT_STREAM_EMBED_DIR", "/root/testdata/sf0.1")
    val eb = spark.read.parquet(s"$embedDir/embeddings.parquet")
    val nVec = eb.count()
    // frozen per-cycle model from a 200-vector history prefix — the
    // cadence landVectorsPq documents (rebuild per cycle from the grown
    // store; here the prefix stands in for the prior store). At the
    // embed-100x dir this gates ~18% of arrivals as near-dups of
    // history (the replicas of the prefix), the realistic shape of a
    // crawl batch against an existing corpus.
    val history = eb.filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (seeds, cellStore) = StreamingCorpus.cellStoreOf(history, cells = 32)
    val cbs = Ann.pqCodebookOf(history)
    val base = Files.createTempDirectory("graft_streambench").toString
    val vecs = spark.readStream.schema(eb.schema)
      .parquet(stageDir(s"$embedDir/embeddings.parquet"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val s0 = GraftSession.steal(); val t0 = System.nanoTime()
    StreamingCorpus.landVectorsPq(vecs, seeds, cellStore, cbs,
      s"$base/vstore", s"$base/vck", tau = 0.35).awaitTermination()
    val vecS = (System.nanoTime() - t0) / 1e9
    val vecSteal = stealSince(s0)
    val landed = spark.read.parquet(s"$base/vstore").count()

    // ---- cycle 2: streaming alert micro-batch (rule + dedup + land) ----
    val eventsDir =
      sys.env.getOrElse("GRAFT_STREAM_EVENTS_DIR", "/root/testdata/sf0.1")
    val evb = spark.read.parquet(s"$eventsDir/events.parquet")
    val nEv = evb.count()
    val rule = AlertRule(
      name = "high_value_error", queryId = "gq001",
      title = "High value error event",
      predicate = col("event_type") === "error" && col("value") > 50.0,
      actor = concat_ws("", lit("user:"), col("user_id")),
      target = concat_ws("", lit("user:"), col("user_id")),
      action = col("event_type"),
      description = concat_ws("", lit("user:"), col("user_id"),
        lit(" error band "), floor(col("value") / 100.0).cast("long")),
      severity = when(col("value") > 200.0, "high").otherwise("medium"),
      eventTime = col("ts").cast("timestamp"),
      eventData = col("props"))
    val events = spark.readStream.schema(evb.schema)
      .parquet(stageDir(s"$eventsDir/events.parquet"))
    val s1 = GraftSession.steal(); val t1 = System.nanoTime()
    StreamingAlerts.dedupStream(
        StreamingAlerts.ruleStream(events, rule, col("event_id")))
      .writeStream
      .format("parquet")
      .option("path", s"$base/astore")
      .option("checkpointLocation", s"$base/ack")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val alertS = (System.nanoTime() - t1) / 1e9
    val alertSteal = stealSince(s1)
    val alertsOut = spark.read.parquet(s"$base/astore").count()

    def f(x: Double) = f"$x%.2f"
    val json =
      s"""{"metric":"stream_cycles",""" +
        s""""vector_cycle_s":${f(vecS)},"vectors_in":$nVec,""" +
        s""""vectors_landed":$landed,""" +
        s""""vector_rows_per_s":${f(nVec / vecS)},""" +
        s""""vector_steal_s":${f(vecSteal)},""" +
        s""""alert_cycle_s":${f(alertS)},"events_in":$nEv,""" +
        s""""alerts_out":$alertsOut,""" +
        s""""event_rows_per_s":${f(nEv / alertS)},""" +
        s""""alert_steal_s":${f(alertSteal)},""" +
        s""""embed_dir":"$embedDir","events_dir":"$eventsDir"}"""
    val out = sys.env.getOrElse("GRAFT_STREAM_OUT", "STREAMBENCH.json")
    Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    // scalastyle:off println
    println(json)
    // scalastyle:on println
    spark.stop()
  }
}
