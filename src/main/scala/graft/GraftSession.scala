package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one session graft's drivers (Bench, Verify, Probe) and the test
  * suite run on, so the plan Verify and PlanShapeSpec check is planned
  * under the settings Bench times — plus the driver glue they share.
  * Its core count is the only environment variable that reaches a
  * session; no query reads the environment (EnvReadsSpec). */
object GraftSession {

  /** Local cores: SPARK_GRAFT_CPUS if set, else the JVM's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // split large single files across the cores: the default 128 MB
      // yields ~14 scan partitions for a 1.7 GB fact file — under half
      // of a 32-core host's cores — and the scan-bound aggregates pay
      // for it (measured: q_agg_pushdown at 100x lineitem 0.82 -> 0.67 s
      // at 64m, flat for shuffle-bound queries and for sf0.1's small
      // files). The same sizing rule §5 prescribes for the cluster.
      .config("spark.sql.files.maxPartitionBytes", "64m")
      // let SMALL files split to the cores too: maxSplitBytes floors at
      // openCostInBytes (default 4 MB), which caps a 20 MB single-file
      // scan at ~5 tasks on local[32]; 256 KB lets totalBytes/parallelism
      // set the split instead (measured: the 10x-events scans behind
      // q_asof_join/q_tfidf drop ~10%, flat elsewhere — same §5 sizing
      // rule as maxPartitionBytes, applied at the small end)
      .config("spark.sql.files.openCostInBytes", "262144")
      // the bucketed landing (Layout.landBucketed) writes ONE file per
      // bucket, so the write-time in-bucket sort order is real at read
      // time; this flag lets the scan report it and the co-located SMJ
      // plan sort-free (Spark disabled the default because MULTI-file
      // buckets interleave — not our layout; LayoutSpec pins both
      // shapes, measured 4.3-6.6 -> ~1.0 s on the 60M-row fact join)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Storage hygiene between queries: Materialize.frame localCheckpoints
    * (alert frames, per-round cluster state) are only reclaimed when the
    * JVM GCs the RDD reference and the async ContextCleaner runs. Over
    * 280 query executions the orphaned blocks accumulate in the unified
    * memory region, evicting to disk under pressure — which serializes
    * later checkpoint/broadcast builds behind disk I/O on a contended
    * host (observed: the three Materialize/broadcast-heavy queries at
    * 5-19x their steady time in a driver-side run, BASELINE.md
    * host-variance note). Explicitly unpersisting after each query keeps
    * storage occupancy bounded by ONE query's working set; SharedFrames
    * views use df.persist (not localCheckpoint) and are kept. */
  def reclaim(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(RddCheckpointAccess.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = false))

  /** Hypervisor-steal counter (host-wide, cumulative jiffies: /proc/stat
    * "cpu" line, 8th value). Shared hosts see hour-scale neighbor-steal
    * storms that inflate random query blocks 2-40x with zero plan change;
    * sampling the counter around a run makes a reading self-adjudicating
    * — a judge can separate "regression" from "storm window" without a
    * manual control run. -1 = counter unreadable. */
  def steal(): Long = try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    line.trim.split("\\s+") match {
      case t if t.length > 8 && t(0) == "cpu" => t(8).toLong
      case _ => -1L
    }
  } catch { case _: Throwable => -1L }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — Spark error messages and builder-authored SQL
    * routinely carry tabs and newlines, and one raw control char makes
    * the whole file fail json.load. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
