package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The reliable-checkpoint switch for iterative/materialized frames:
  * local mode defaults to executor-local blocks (fast, non-durable);
  * setting spark.graft.checkpointDir flips EVERY materialization —
  * including the ones inside connectedComponents' rounds — to a reliable
  * checkpoint that survives executor loss on a cluster. */
class MaterializeSpec extends SparkSuite {
  import spark.implicits._

  test("SharedFrames builds a view once per (session, dir, view) and " +
      "persists it") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = { builds.incrementAndGet(); Seq(1, 2).toDF("x") }
    val key = s"spec-view-${System.nanoTime()}"
    val a = graft.sources.SharedFrames.get(spark, "/tmp/a", key)(build)
    val b = graft.sources.SharedFrames.get(spark, "/tmp/a", key)(build)
    assert(builds.get() == 1) // second lookup served from the registry
    assert(a eq b)
    assert(a.storageLevel.useMemory) // persisted columnar form
    // a different sf dir or view name is a different frame
    graft.sources.SharedFrames.get(spark, "/tmp/b", key)(build)
    assert(builds.get() == 2)
    a.unpersist()
  }

  test("default path truncates lineage without touching a checkpoint dir") {
    spark.conf.unset(Materialize.ConfKey)
    val out = Materialize.frame(Seq(1, 2, 3).toDF("x"))
    assert(out.count() == 3)
    // a materialized frame plans as a bare RDD scan — lineage truncated
    assert(out.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("spark.graft.checkpointDir routes materialization to reliable " +
      "checkpoint files") {
    val dir = tempDir("graft-ckpt").toString
    spark.conf.set(Materialize.ConfKey, dir)
    try {
      val out = Materialize.frame(Seq(1, 2, 3, 4).toDF("x"))
      assert(out.count() == 4)
      val files = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_))
        .count()
      assert(files > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("connectedComponents survives and converges on the reliable path") {
    val dir = tempDir("graft-ckpt-cc").toString
    spark.conf.set(Materialize.ConfKey, dir)
    try {
      val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
        .toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got("a") == "a" && got("b") == "a" && got("c") == "a")
      assert(got("x") == "x" && got("y") == "x")
    } finally spark.conf.unset(Materialize.ConfKey)
  }
}
