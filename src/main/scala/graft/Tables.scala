package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table loader: each table is one parquet file under the sf dir. */
object Tables {
  val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Loaded-table cache — the catalog role a metastore plays in a real
  // deployment. `spark.read.parquet` re-lists the path and re-reads a
  // footer for the schema on EVERY call; a rule engine resolving the
  // same base tables hundreds of times per run (each bench query
  // constructs its plan from scratch) should pay that I/O once per
  // (session, path). The cached value is the analyzed DataFrame — an
  // immutable logical plan; optimization/execution still run per query,
  // so this caches metadata, never results. Keyed weakly on the session
  // so stopped sessions (tests boot many) don't pin their plans.
  private val cache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[String, DataFrame]]

  private def cached(spark: SparkSession, key: String)(
      load: => DataFrame): DataFrame = cache.synchronized {
    cache.computeIfAbsent(spark, _ => scala.collection.mutable.HashMap())
      .getOrElseUpdate(key, load)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    cached(spark, s"$dir/$name")(load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two encodings across testdata
      // generations: parquet TIMESTAMP(NANOS) (which Spark can only read
      // as a raw int64 via the nanosAsLong legacy conf) and native
      // timestamp[us] (TIMESTAMP_NTZ / TIMESTAMP in Spark). Dispatch on
      // the loaded dtype so the engine reads whichever layout the data
      // carries. The conf is (re)set on the Long branch only, and there
      // rather than at session build because the driver smoke-checks
      // with a session it builds itself; the set is idempotent.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // int64 nanos → truncate to Spark's native µs precision (floor,
          // matching whole-second comparisons in ns engines).
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          // timestamp[us]: NTZ → session TimestampType. Session TZ is
          // UTC, so the cast is identity on the instant.
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Write `events` in the production layout SURVEY §5 describes: a
    * date-partitioned parquet table (one directory per event date), so
    * time-windowed rules prune partitions at the source. */
  def writePartitionedEvents(
      spark: SparkSession, sfDir: String, outPath: String): Unit =
    t(spark, sfDir, "events")
      .withColumn("date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("date").parquet(outPath)

  def partitionedEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Rule time-window over a date-partitioned event table: the ts
    * predicate does the exact windowing, the derived date predicate is
    * what Catalyst turns into partition pruning (only matching date
    * directories are listed/scanned). The ts bounds are
    * [[graft.functions.ParamLiteral]]s, so a scheduler sliding the
    * window reuses the generated code; the date bounds are plain
    * literals, since pruning evaluates them at planning time. That is
    * why a prepared alert tick (`engine.Runner.runAlerts`) re-binds
    * only its rule pass's own tagged parameters and swaps this frame's
    * analyzed plan in whole: the date literals, and the file listing
    * pruned by them, are always the current window's. */
  def timeWindow(events: DataFrame, fromTs: String, toTsExclusive: String): DataFrame = {
    val from = lit(fromTs).cast("timestamp")
    val to = lit(toTsExclusive).cast("timestamp")
    events.filter(
      col("date") >= to_date(from) && col("date") <= to_date(to) &&
        col("ts") >= graft.functions.ParamLiteral.timestamp(fromTs) &&
        col("ts") < graft.functions.ParamLiteral.timestamp(toTsExclusive))
  }
}
