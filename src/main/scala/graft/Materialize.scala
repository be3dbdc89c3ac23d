package graft

import org.apache.spark.sql.DataFrame

/** Materialization point for frames that are consumed more than once and
  * for per-round lineage truncation inside iterative algorithms
  * (connected components, anchored-correlation pointer jumping).
  *
  * Local/default mode uses an eager `localCheckpoint` — blocks live in
  * executor storage, no filesystem round-trip, fastest for local[n] and
  * for short-lived jobs. That is the WRONG durability story for a
  * 1000-executor run: executor-local blocks die with the executor, and an
  * iterative job whose round-k state was on the lost executor aborts.
  * Cluster runs set `spark.graft.checkpointDir` (any HDFS/S3A/ABFS path)
  * and every materialization switches to a RELIABLE `checkpoint` that
  * survives executor loss; lineage is truncated either way.
  */
object Materialize {

  val ConfKey = "spark.graft.checkpointDir"

  /** Last checkpoint dir this class set, per context (weak-keyed: a
    * String value cannot reference the SparkContext key). */
  private val lastSet = new scala.collection.mutable.WeakHashMap[
    org.apache.spark.SparkContext, String]()

  /** Materialize `df` eagerly and truncate its lineage. Reliable iff
    * [[ConfKey]] is set on the session. */
  def frame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // getCheckpointDir returns the qualified path plus a random
        // UUID subdir, so it can't be compared to the conf value
        // directly (equality never matches → a new checkpoint dir per
        // call; substring containment can false-positive on prefixes,
        // e.g. '/a/ck' vs a stale '/a/ckpt-old'). Track what THIS
        // class last set per context and re-set only on change.
        val ctx = spark.sparkContext
        lastSet.synchronized {
          if (!lastSet.get(ctx).contains(dir)) {
            ctx.setCheckpointDir(dir)
            lastSet(ctx) = dir
          }
        }
        df.checkpoint(eager = true)
      case None =>
        df.localCheckpoint(eager = true)
    }
  }

  /** Drop the blocks behind a frame [[frame]] returned, for a caller
    * that knows nothing reads it any more. A local checkpoint is a
    * persisted RDD; a reliable checkpoint persists nothing (its files
    * belong to the checkpoint dir), so this is a no-op there. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
