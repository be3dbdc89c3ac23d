package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Ann, CorpusPipeline, Dedup, SparkEntry, Tables}
import graft.engine.{AlertRule, MemorySink, RunConfig, RunLog, Runner,
  SuppressionRule}
import graft.streaming.StreamingAlerts

/** What one set-up gives a workload: a fresh session, the generated
  * input directory and a private working directory. */
final class Ctx(val spark: SparkSession, val data: String, val tmp: String)

/** One closed-loop workload. `op` is the timed call; `before` and
  * `after` run outside the timed section (input release, output capture
  * for the checks, cache release). `after` reports the op's input units
  * under "units" where the harness cannot count them from the inputs. */
trait Workload {
  /** Untimed ops between the last set-up and the timed loop. */
  def settleOps: Int
  def setup(c: Ctx): Unit
  def before(i: Int): Unit = ()
  /** False once the workload's inputs are used up. */
  def hasNext: Boolean = true
  def op(i: Int): Unit
  def after(i: Int): Map[String, Any]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "alert_tick" => new AlertTick
    case "stream_ingest" => new StreamIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def mkdirs(p: String): String = { new File(p).mkdirs(); p }

  private[perfbench] def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private[perfbench] def dirBytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(x => dirBytes(x.getPath)).sum
  }
}

/** Scheduled alert ticks: `Runner.runAlerts` over a one-day window of a
  * date-partitioned event history per tick. The window slides by
  * `StepHours` a tick, as a scheduler's would, so the settle and timed
  * ticks never repeat a window (nor the window's literals in the
  * generated code) until it wraps round after the last window inside the
  * history. */
final class AlertTick(warmTicks: Int = 1) extends Workload {
  val settleOps = 5
  /** Days of history: `TICK_DAYS` in `perfbench/gen.py`. */
  private val Days = 7
  private val StepHours = 6
  private val Windows = (Days - 1) * 24 / StepHours + 1
  private val Start = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private var events: DataFrame = _
  private var last: (RunLog, Runner.AlertRunResult, String) = _

  private val userTag = concat_ws("", lit("user:"), col("user_id"))
  private val band = concat_ws("", userTag, lit(" "), col("event_type"),
    lit(" band "), floor(col("value") / 100.0).cast("long"))
  private def k = get_json_object(col("props"), "$.k").cast("int")
  private def rule(name: String, pred: Column) = AlertRule(
    name = name, queryId = name, title = name, predicate = pred,
    actor = userTag, target = userTag, action = col("event_type"),
    description = band,
    severity = when(col("value") > 200.0, "high").otherwise("medium"),
    eventTime = col("ts"), eventData = col("props"))
  private def et(t: String) = col("event_type") === t

  /** The rule set; `perfbench/checks.py` holds the same rules as SQL. */
  val rules: Seq[AlertRule] = Seq(
    rule("high_value_error", et("error") && col("value") > 50.0),
    rule("big_purchase", et("purchase") && col("value") > 150.0),
    rule("click_flood", et("click") && col("value") > 120.0),
    rule("view_spike", et("view") && col("value") > 130.0),
    rule("signup_anomaly", et("signup") && col("value") > 100.0),
    rule("error_hot_prop", et("error") && k >= 90),
    rule("error_user_mod7", et("error") && col("user_id") % 7 === 0),
    rule("tiny_purchase", et("purchase") && col("value") < 0.5),
    rule("click_low_prop", et("click") && k < 3),
    rule("any_extreme", col("value") > 250.0))

  val suppressions = Seq(SuppressionRule("squelch_user_mod10_3",
    a => a.filter(substring_index(col("object"), ":", -1).cast("long") % 10 === 3)
      .select("alert_id")))

  def setup(c: Ctx): Unit = {
    val path = s"${c.tmp}/events_by_date"
    Tables.writePartitionedEvents(c.spark, c.data, path)
    events = Tables.partitionedEvents(c.spark, path)
    (0 until warmTicks).foreach { i => op(i); after(i) }
  }

  private def window(i: Int): (String, String, Long) = {
    val from = Start.plusHours((i % Windows).toLong * StepHours)
    val to = from.plusDays(1)
    (from.format(Fmt), to.format(Fmt), to.toEpochSecond(ZoneOffset.UTC))
  }

  def op(i: Int): Unit = {
    val (from, to, atS) = window(i)
    val log = RunLog.newRun()
    val buf = s"perfbench-tick-$i-${System.nanoTime()}"
    val res = Trace.span("engine.run_alerts") {
      Runner.runAlerts(Tables.timeWindow(events, from, to), rules,
        col("event_id"), suppressions, Seq(new MemorySink(buf)),
        RunConfig(from, to, alertTimeS = atS, defaultHandler = "memory"), log)
    }
    last = (log, res, buf)
  }

  def after(i: Int): Map[String, Any] = {
    val (log, res, buf) = last
    val sent = MemorySink.drain(buf).size
    res.store.unpersist(blocking = true)
    res.handlerResults.unpersist(blocking = true)
    val rows = log.entries
    def row(n: String) = rows.find(_.query_name == n)
    val (from, to, _) = window(i)
    Map(
      "from" -> from,
      "to" -> to,
      "rules" -> rules.map(r => r.name -> row(r.name).map(_.inserted).getOrElse(-1L)).toMap,
      "merged" -> row("alert_merge").map(_.inserted).getOrElse(-1L),
      "suppressed" -> row(suppressions.head.name).map(_.suppressed).getOrElse(-1L),
      "passed" -> row(suppressions.head.name).map(_.passed).getOrElse(-1L),
      "live" -> row("alert_dispatch").map(_.inserted).getOrElse(-1L),
      "sent" -> sent,
      "record_status_s" -> row("alert_dispatch").map(_.duration_s).getOrElse(0.0),
      "errors" -> rows.flatMap(_.error).size)
  }
}

/** Ingest cycles: release one arrival batch, then one AvailableNow
  * trigger of rule -> dedup -> parquet sink with checkpoint and
  * watermark state. */
final class StreamIngest(warmCycles: Int = 1) extends Workload {
  val settleOps = 6
  private var c: Ctx = _
  private var batches: IndexedSeq[File] = _
  private var src, sink, ck: String = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var q: StreamingQuery = _
  private var released = 0L
  private var sinkRows = 0L
  private var written = 0L
  private var next = 0

  val rule: AlertRule = AlertRule(
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

  def setup(ctx: Ctx): Unit = {
    c = ctx
    batches = new File(s"${c.data}/arrivals").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toIndexedSeq
    src = Workloads.mkdirs(s"${c.tmp}/stream/src")
    sink = s"${c.tmp}/stream/sink"
    ck = s"${c.tmp}/stream/ck"
    schema = c.spark.read.parquet(batches.head.getPath).schema
    next = 0; released = 0L; sinkRows = 0L; written = 0L
    (0 until warmCycles).foreach { i => before(i); op(i); after(i) }
  }

  override def hasNext: Boolean = next < batches.size

  override def before(i: Int): Unit = {
    val b = batches(next)
    Files.copy(b.toPath, Paths.get(src, b.getName),
      StandardCopyOption.REPLACE_EXISTING)
    released = b.length()
    next += 1
  }

  def op(i: Int): Unit = {
    var runId = ""
    Trace.span("streaming.cycle", Map("stream_run_id" -> runId)) {
      q = StreamingAlerts.dedupStream(StreamingAlerts.ruleStream(
          c.spark.readStream.schema(schema).parquet(src), rule, col("event_id")))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
      runId = q.runId.toString
      q.awaitTermination()
    }
  }

  def after(i: Int): Map[String, Any] = {
    val progress = q.recentProgress.toSeq
    val total = c.spark.read.parquet(sink).count()
    val out = total - sinkRows
    sinkRows = total
    val bytes = Workloads.dirBytes(sink) + Workloads.dirBytes(ck)
    val grew = bytes - written
    written = bytes
    Map(
      "units" -> progress.map(_.numInputRows).sum,
      "progress" -> progress.map(p => Map(
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)),
      "batch" -> (next - 1),
      "alerts_out" -> out,
      "input_bytes" -> released,
      "bytes_written" -> grew)
  }
}

/** One-shot probes, in traced runs, of the layers a workload's own loop
  * does not exercise, on the small inputs under `DATA/probe`: three
  * `SparkEntry` queries (construct, plan, execute), one corpus build
  * with its dedup pair counts, and one op of the other workload. */
object Probes {
  import Workloads.secs

  private val Queries = Seq("q_agg_pushdown", "q_alert_correlate", "q_dedup_clusters")

  def run(spark: SparkSession, workload: String, dir: String,
      tmp: String): Map[String, Any] = {
    val ctx = new Ctx(spark, dir, tmp)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    out("queries") = Queries.filter(SparkEntry.queries.contains).map { q =>
      var df: DataFrame = null
      Map("construct_s" -> secs { df = SparkEntry.queries(q)(spark, dir) },
        "plan_s" -> secs(df.queryExecution.executedPlan),
        "execute_s" -> secs(df.write.mode("overwrite").format("noop").save()))
    }
    out("corpus") = Map(
      "corpus.curate_s" -> secs(CorpusPipeline.run(spark, dir)),
      "dedup.clusters_s" -> secs(Dedup.dedupClusters(spark, dir).collect()),
      "ann.ivf_pq_s" -> secs(Ann.ivfPqAnn(spark, dir).collect()),
      "candidate_pairs" ->
        Dedup.lshCandidates(Dedup.minhashSignatures(spark, dir)).count(),
      "verified_pairs" -> Dedup.lshPairs(spark, dir).count())
    if (workload == "stream_ingest") {
      val t = new AlertTick(warmTicks = 0)
      t.setup(ctx)
      val took = secs(t.op(0))
      out("tick") = t.after(0) + ("run_alerts_s" -> took)
    }
    if (workload == "alert_tick") {
      val st = new StreamIngest(warmCycles = 0)
      st.setup(ctx)
      st.before(0)
      st.op(0)
      out("stream") = st.after(0)
    }
    out.toMap
  }
}

/** Per-kernel throughput: each kernel as a single projection through
  * the noop writer over a materialized synthetic input. */
object KernelBench {
  private val Words = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row the agg key query a scan batch").split(" ")

  private val Rows = 100000

  def run(spark: SparkSession): Map[String, Double] = {
    val words = array(Words.map(lit).toIndexedSeq: _*)
    def word(k: Int) = element_at(words,
      (pmod(xxhash64(col("id"), lit(k)), lit(Words.length.toLong)) + 1).cast("int"))
    def vec(salt: Int) = array((0 until 32).map(k =>
      pmod(xxhash64(col("id"), lit(salt + k)), lit(1000L)) / 1000.0): _*)
    val base = spark.range(Rows).select(
      concat_ws(" ", (0 until 60).map(word): _*).as("text"),
      vec(1000).as("a"), vec(2000).as("b")).localCheckpoint(eager = true)
    val kernels = Seq(
      "fast_md5" -> graft.functions.hashes.md5(col("text")),
      "minhash_slices" -> graft.functions.hashes.minhashSlices(col("text")),
      "cosine_similarity" -> graft.functions.vec.cosine(col("a"), col("b")),
      "trigram_stats" -> graft.functions.text.trigramStats(col("text")))
    val out = kernels.map { case (n, k) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        base.select(k.as("k")).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val times = Seq.fill(3)(once()).sorted
      n -> Rows / times(1)
    }.toMap
    base.unpersist(blocking = true)
    out
  }
}
