package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Spans come from the benchmark's own code
  * around each call into a layer; each span sets the Spark job group to
  * its id, so the job listener tags every job (with its stages and
  * tasks) by the innermost enclosing span. Streaming progress events are
  * tagged by the query's run id, which the cycle span records. Records
  * stay in memory and are written once, at exit. With `on` false a span
  * is a plain call and sets no job group, so the reducer drops the jobs
  * of untraced ops. */
object Trace {
  @volatile var on = false

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Epoch microseconds on the monotonic clock (comparable with the
    * listener's epoch-millisecond event times). */
  def nowUs: Double = baseMs * 1000.0 + (System.nanoTime() - baseNs) / 1000.0

  def record(r: Map[String, Any]): Unit = records.synchronized(records += r)

  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(
      body: => T): T = {
    if (!on) return body
    val sc = SparkSession.active.sparkContext
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(GroupKey, s"pb-$id")
    sc.setLocalProperty(DescKey, name)
    val t0 = nowUs
    try body
    finally {
      val t1 = nowUs
      sc.setLocalProperty(GroupKey, prevGroup)
      sc.setLocalProperty(DescKey, prevDesc)
      stack.set(stack.get.tail)
      record(Map("kind" -> "span", "id" -> id, "parent" -> parent,
        "name" -> name, "t0_us" -> t0, "t1_us" -> t1) ++ attrs)
    }
  }

  /** Attach the listeners (for the rest of the session). */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
  }

  /** Write every record; call after the listener bus has drained. */
  def write(path: String): Unit = {
    val all = records.synchronized(records.toList) ++ jobs.done
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try all.foreach { r => w.write(Json.write(r)); w.newLine() }
    finally w.close()
  }

  private final class JobRec(val id: Int, val group: String,
      val desc: String, val submitMs: Long, val stageNames: Seq[String]) {
    var endMs = 0L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var scan = 0L
    def toMap: Map[String, Any] = Map("kind" -> "job", "job" -> id,
      "group" -> group, "desc" -> desc, "t0_us" -> submitMs * 1000.0,
      "t1_us" -> endMs * 1000.0, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs,
      "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
      "scan_bytes" -> scan, "stage_names" -> stageNames)
  }

  private object jobs extends SparkListener {
    private val live = new ConcurrentHashMap[Int, JobRec]
    private val stageJob = new ConcurrentHashMap[Int, JobRec]
    private val finished = mutable.ArrayBuffer.empty[JobRec]

    def done: List[Map[String, Any]] = synchronized(finished.map(_.toMap).toList)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val r = new JobRec(e.jobId,
        p.flatMap(x => Option(x.getProperty(GroupKey))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(DescKey))).getOrElse(""),
        e.time, e.stageInfos.map(_.name))
      live.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, r))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = stageJob.get(e.stageInfo.stageId)
      // taskMetrics is null for a stage that never ran a task
      if (r != null && Option(e.stageInfo.taskMetrics).isDefined)
        r.synchronized(r.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = stageJob.get(e.stageId)
      if (r != null) Option(e.taskMetrics).foreach { m =>
        r.synchronized {
          r.tasks += 1
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.diskBytesSpilled
          r.scan += m.inputMetrics.bytesRead
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = live.remove(e.jobId)
      if (r != null) {
        r.endMs = e.time
        synchronized(finished += r)
      }
    }
  }

  private object progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq
      record(Map("kind" -> "progress", "run_id" -> p.runId.toString,
        "batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum,
        "sink_rows" -> p.sink.numOutputRows))
    }
  }
}
