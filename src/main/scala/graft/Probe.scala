package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe: `runMain graft.Probe <query> [sfDir]` runs one SparkEntry
  * query on the session Bench times ([[GraftSession]]), once to warm up
  * (JIT, codegen, parquet footers) and once timed, and prints the timed
  * run's split — construct (building the DataFrame), plan (analysis,
  * optimization, physical planning), execute (the noop write Bench
  * times), the number of classes it generated and compiled
  * (codegen cache misses; on a warm run usually a plan constant that
  * was written into the generated code) and the Spark jobs and stages
  * it ran (skipped stages not counted) — then the formatted
  * plan the write executed, after AQE's
  * re-planning. Not part of the driver contract. */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <query> [sfDir]")
    val query = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus)
    val writes = new LinkedBlockingQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) writes.put(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    // on the same listener queue as the write's completion, so once a
    // run's write has been seen its jobs and stages have been counted
    val jobs, stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })

    def once(): (Seq[Double], QueryExecution) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(query)(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t3 = System.nanoTime()
      (Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9),
        writes.poll(60, TimeUnit.SECONDS))
    }
    once()
    val (compiles, jobs0, stages0) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, jobs.get, stages.get)
    val (Seq(c, p, e), executed) = once()
    println(f"$query: construct=$c%.3f plan=$p%.3f execute=$e%.3f " +
      f"wall=${c + p + e}%.3f s compiles=" +
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles) +
      s" jobs=${jobs.get - jobs0} stages=${stages.get - stages0}")
    if (executed != null)
      println(executed.explainString(ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
