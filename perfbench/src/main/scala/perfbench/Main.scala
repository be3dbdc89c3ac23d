package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up a workload several times (each on a
  * fresh session and tmpdir), let it settle, run its closed loop for the
  * given seconds, and write the run record as JSON. `perfbench/run.py`
  * drives it and owns the checks and the metric arithmetic.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seconds S
  *     --trace 0|1 --cores N --seed N
  *
  * A traced run also runs the function-kernel bench and one-shot probes
  * of the layers its workload does not exercise, on `DATA/probe`.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val seed = a("seed").toLong

    val workload = Workloads(name)
    var spark: SparkSession = null
    val setupS = (0 until Setups).map { k =>
      if (spark != null) spark.stop()
      val tmp = Workloads.mkdirs(s"$work/tmp$k")
      System.setProperty("java.io.tmpdir", tmp)
      val t0 = System.nanoTime()
      spark = session(cores, work)
      workload.setup(new Ctx(spark, a("data"), tmp))
      (System.nanoTime() - t0) / 1e9
    }

    val host = Map(
      "cores" -> cores,
      "cpu_lines" -> Host.cpuLines,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "seed" -> seed)
    // settle: untimed ops while the JIT compiles the hot paths (the first
    // ops after set-up run slower than later ones). A fixed count, so the
    // timed loop starts at the same point of the input sequence each run.
    loop(workload, Double.MaxValue, traced = false, maxOps = workload.settleOps,
      heapEveryS = Double.PositiveInfinity)
    if (traced) Trace.attach(spark)
    // a traced run alternates traced and untraced ops (the untraced ones
    // give the tracing overhead at the same warm-up stage), so it runs
    // twice as long to trace as many ops as an untraced run times
    val run = loop(workload, if (traced) 2 * seconds else seconds, traced)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "host" -> host, "setup_s" -> setupS, "run" -> run)
    if (traced) {
      ListenerBus.drain(spark.sparkContext)
      Trace.write(s"$work/spans.jsonl")
      record("kernels") = KernelBench.run(spark)
      record("probes") = Probes.run(spark, name, s"${a("data")}/probe",
        Workloads.mkdirs(s"$work/probe"))
    }
    Files.writeString(Paths.get(s"$work/record.json"), Json.write(record))
    spark.stop()
  }

  /** Bench's session settings at local[cores]. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Workloads.mkdirs(s"$work/spark-local"))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Op index across loops: a workload's input sequence (windows, arrival
    * batches) continues from the settle loop. */
  private var nextOp = 0

  /** Closed loop, one client: ops run back to back until their summed
    * wall time reaches `seconds`. Per op: wall time, process CPU, GC and
    * JIT time. Heap in use is sampled after a forced GC (outside the
    * timed section) before the first op, after the last, and about every
    * `heapEveryS` seconds of op time. With `traced`, every second op
    * records spans. At most `maxOps` ops. */
  private def loop(w: Workload, seconds: Double, traced: Boolean,
      maxOps: Int = Int.MaxValue, heapEveryS: Double = 3.0): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcs.map(_.getCollectionTime).sum
    // drain the listener bus first (a backlog of queued events is not
    // the working set), then two collections with a pause between: the
    // first clears the weak references the ContextCleaner watches, the
    // cleaner then drops the blocks (broadcasts, shuffles) they held,
    // the second frees them. The cleaner runs on its own thread and now
    // and then lags a round (one reading in six runs came out 70 MB
    // high), so a sample is the lower of two such readings.
    def heapAfterGc(): Double = {
      ListenerBus.drain(SparkSession.active.sparkContext)
      Seq.fill(2) {
        System.gc()
        Thread.sleep(100)
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
    }
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val heap = mutable.ArrayBuffer(heapAfterGc())
    var sinceGc = 0.0
    var timed = 0.0
    var i = nextOp
    val stat0 = Host.stat()
    val wall0 = System.nanoTime()
    while (timed < seconds && i - nextOp < maxOps && w.hasNext) {
      w.before(i)
      val (c0, g0, j0) = (os.getProcessCpuTime, gcMs, jit.getTotalCompilationTime)
      val tracedOp = traced && i % 2 == 1
      Trace.on = tracedOp
      val t0 = System.nanoTime()
      val err = try { Trace.span("op")(w.op(i)); None }
        catch { case e: Exception => Some(String.valueOf(e.getMessage).take(500)) }
      val lat = (System.nanoTime() - t0) / 1e9
      Trace.on = false
      val rec = Map[String, Any]("latency_s" -> lat, "traced" -> tracedOp,
        "cpu_s" -> (os.getProcessCpuTime - c0) / 1e9,
        "gc_s" -> (gcMs - g0) / 1000.0,
        "jit_s" -> (jit.getTotalCompilationTime - j0) / 1000.0)
      val out = err match {
        case Some(e) => Map[String, Any]("ok" -> false, "error" -> e)
        case None =>
          try w.after(i) + ("ok" -> true)
          catch { case e: Exception =>
            Map[String, Any]("ok" -> false, "error" -> String.valueOf(e.getMessage)) }
      }
      ops += rec ++ out
      timed += lat
      sinceGc += lat
      if (sinceGc >= heapEveryS) { heap += heapAfterGc(); sinceGc = 0.0 }
      i += 1
    }
    nextOp = i
    heap += heapAfterGc()
    val wall = (System.nanoTime() - wall0) / 1e9
    Map("ops" -> ops.toSeq, "timed_s" -> timed, "wall_s" -> wall,
      "heap_peak_mb" -> heap.max, "heap_mb" -> heap.toSeq,
      "steal_share" -> Host.stealShare(stat0, Host.stat(), wall))
  }
}

/** Host counters from /proc/stat: steal normalized by the host's cpuN
  * lines, which is the CPU count the aggregate steal counter sums over. */
object Host {
  private val UserHz = 100.0

  private def lines: Seq[String] =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.toSeq
    catch { case _: Exception => Nil }

  def cpuLines: Int = lines.count(_.matches("^cpu\\d+\\s.*"))

  /** Aggregate steal jiffies, or -1 when unreadable. */
  def stat(): Long = lines.headOption.map(_.trim.split("\\s+")) match {
    case Some(t) if t.length > 8 && t(0) == "cpu" => t(8).toLong
    case _ => -1L
  }

  def stealShare(s0: Long, s1: Long, wallS: Double): Double =
    if (s0 < 0 || s1 < 0 || cpuLines == 0 || wallS <= 0) -1.0
    else (s1 - s0) / (UserHz * cpuLines * wallS)
}
