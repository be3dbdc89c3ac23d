package graft.engine

import scala.collection.mutable
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One per-stage metadata row, mirroring the reference's run records
  * (src/runners/helpers/db.py record_metadata: QUERY_NAME, START_TIME,
  * END_TIME, DURATION, ROW_COUNT{INSERTED,UPDATED,SUPPRESSED,PASSED},
  * ERROR) that feed the snowalert_query_rule_run_errors-style
  * monitoring rules. */
final case class RunMetadataRow(
    run_id: String,
    query_name: String,
    start_time_ms: Long,
    end_time_ms: Long,
    duration_s: Double,
    inserted: Long,
    updated: Long,
    suppressed: Long,
    passed: Long,
    error: Option[String])

/** Accumulates per-stage run metadata on the driver (metadata is tiny —
  * one row per rule per run — the data-plane work stays distributed;
  * only the final counts come back, exactly like the reference's
  * runner). `toDF` exposes the log as a queryable DataFrame so the
  * reference's monitoring rules (rules over metadata tables) can run on
  * it like on any other source. */
class RunLog(val runId: String) { // non-final: specs override flush to
  // plant post-terminal-action failures (Runner's degradation scope)
  private val rows = mutable.ArrayBuffer.empty[RunMetadataRow]

  def record(
      queryName: String,
      startMs: Long,
      endMs: Long,
      inserted: Long = 0L,
      updated: Long = 0L,
      suppressed: Long = 0L,
      passed: Long = 0L,
      error: Option[String] = None): Unit = synchronized {
    rows += RunMetadataRow(runId, queryName, startMs, endMs,
      (endMs - startMs) / 1000.0, inserted, updated, suppressed, passed,
      error)
  }

  /** Runs a stage from its start time: on failure records `queryName`'s
    * ERROR row with zero counts, matching record_metadata's ERROR path,
    * and rethrows. */
  private def recordingError[T](queryName: String)(stage: Long => T): T = {
    val t0 = System.currentTimeMillis()
    try stage(t0) catch {
      case e: Exception =>
        record(queryName, t0, System.currentTimeMillis(),
          error = Some(String.valueOf(e.getMessage)))
        throw e
    }
  }

  /** Run an alert/violation rule stage: materializes the stage output
    * count (the INSERTED row count) and wall time. */
  def timedInsert(queryName: String)(stage: => DataFrame): DataFrame = {
    recordingError(queryName) { t0 =>
      val df = stage
      val n = df.count()
      record(queryName, t0, System.currentTimeMillis(), inserted = n)
      df
    }
  }

  /** Run a suppression stage: one aggregate action yields both counts —
    * no double scan of the alert set. SUPPRESSED counts only the rows
    * THIS rule matched (suppression_rule == queryName), mirroring the
    * reference runner's per-rule updated-row count; earlier rules' hits
    * are not re-attributed. PASSED is the rows still unsuppressed after
    * this stage. */
  def timedSuppress(queryName: String)(stage: => DataFrame): DataFrame = {
    recordingError(queryName) { t0 =>
      val df = stage
      val counts = df.groupBy().agg(
        org.apache.spark.sql.functions.count_if(
          org.apache.spark.sql.functions.col("suppression_rule") ===
            queryName),
        org.apache.spark.sql.functions.count_if(
          !org.apache.spark.sql.functions.col("suppressed"))).head()
      record(queryName, t0, System.currentTimeMillis(),
        suppressed = counts.getLong(0), passed = counts.getLong(1))
      df
    }
  }

  // ---- observe()-based stages: metrics ride the plan ----------------
  // The eager timed* variants above run one counting ACTION per stage,
  // which re-executes the stage's whole subplan when the composed
  // pipeline later runs — at 100 TB every rule's event scan would
  // execute twice. These variants attach a CollectMetrics node
  // (Dataset.observe) instead: the counts are computed as a side
  // channel of the ONE terminal action, so each rule's scan runs once.
  // Call flush() after that action to resolve the rows.
  private val pendingObs = mutable.ArrayBuffer.empty[RunLog.Pending]

  private def observation(queryName: String) =
    org.apache.spark.sql.Observation(s"${runId}_$queryName")

  /** Datasets analyze eagerly: a broken rule (missing column etc.)
    * throws while its stage is built, which records its ERROR row. */
  def observedInsert(queryName: String)(stage: => DataFrame): DataFrame = {
    recordingError(queryName) { t0 =>
      val df = stage
      val obs = observation(queryName)
      synchronized {
        pendingObs += RunLog.Pending(queryName, t0, obs,
          m => (m("inserted").asInstanceOf[Long], 0L, 0L))
      }
      df.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("inserted"))
    }
  }

  /** Insert stages fused into one frame: row r belongs to stage
    * `queryNames(r.position)`. ONE observation counts every stage's rows
    * (a `count_if` per position); flush records one row per name, in
    * order, each spanning the whole fused action. Names may repeat. */
  def observedInserts(queryNames: Seq[String], position: String)(
      fused: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count_if}
    require(queryNames.nonEmpty, "observedInserts needs at least one stage")
    val t0 = System.currentTimeMillis()
    val obs = observation("__fused_inserts")
    synchronized {
      queryNames.zipWithIndex.foreach { case (name, i) =>
        pendingObs += RunLog.Pending(name, t0, obs,
          m => (m(s"inserted_$i").asInstanceOf[Long], 0L, 0L))
      }
    }
    val counts = queryNames.indices.map(i =>
      count_if(col(position) === i).as(s"inserted_$i"))
    fused.observe(obs, counts.head, counts.tail: _*)
  }

  def observedSuppress(queryName: String)(stage: => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count_if}
    recordingError(queryName) { t0 =>
      val df = stage
      val obs = observation(queryName)
      synchronized {
        pendingObs += RunLog.Pending(queryName, t0, obs, m =>
          (0L, m("suppressed").asInstanceOf[Long],
            m("passed").asInstanceOf[Long]))
      }
      df.observe(obs,
        count_if(col("suppression_rule") === queryName).as("suppressed"),
        count_if(!col("suppressed")).as("passed"))
    }
  }

  /** Drop pending observations WITHOUT recording rows — for the
    * degraded per-rule isolation path: when the fused plan's terminal
    * action failed, its observed metrics can never be delivered (flush
    * would record a noise "metrics never observed" row per stage);
    * the degraded re-run records each stage's real row instead. */
  def discardPending(): Unit = synchronized(pendingObs.clear())

  /** Resolve all observed stages into metadata rows. Must run after the
    * pipeline's terminal action: metrics arrive asynchronously, shortly
    * after it, so flush waits for them until one shared deadline,
    * `timeoutMs` from the call. A stage whose subplan never executed is
    * recorded as an error row rather than blocking forever. */
  def flush(timeoutMs: Long = 30000): Unit = {
    val toFlush = synchronized {
      val t = pendingObs.toSeq
      pendingObs.clear()
      t
    }
    val deadline = timeoutMs.millis.fromNow
    toFlush.foreach { p =>
      val observed =
        try {
          val row = Await.result(p.obs.future, deadline.timeLeft)
          Some(row.getValuesMap[Any](row.schema.fieldNames.toSeq))
        } catch { case _: TimeoutException => None }
      val end = System.currentTimeMillis()
      observed match {
        case None =>
          record(p.queryName, p.t0, end,
            error = Some("metrics never observed"))
        case Some(m) =>
          val (inserted, suppressed, passed) = p.counts(m)
          record(p.queryName, p.t0, end, inserted = inserted,
            suppressed = suppressed, passed = passed)
      }
    }
  }

  def entries: Seq[RunMetadataRow] = synchronized(rows.toSeq)

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.toDF()
  }
}

object RunLog {
  /** An observed stage awaiting flush: its counts (inserted,
    * suppressed, passed) are read from its observation's metrics, and
    * one observation may serve several stages. */
  private final case class Pending(queryName: String, t0: Long,
      obs: org.apache.spark.sql.Observation,
      counts: Map[String, Any] => (Long, Long, Long))

  def newRun(): RunLog = new RunLog(java.util.UUID.randomUUID().toString)
}
