package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe: `runMain graft.Probe <query> [sfDir]` runs one SparkEntry
  * query on the session Bench times ([[GraftSession]]), once to warm up
  * (JIT, codegen, parquet footers) and once timed, and prints the timed
  * run's split — construct (building the DataFrame), plan (analysis,
  * optimization, physical planning), execute (the noop write Bench
  * times) and the number of classes it generated and compiled
  * (codegen cache misses; on a warm run usually a plan constant that
  * was written into the generated code) — then the formatted
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

    def once(): Seq[Double] = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(query)(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t3 = System.nanoTime()
      Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
    }
    once()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val Seq(c, p, e) = once()
    println(f"$query: construct=$c%.3f plan=$p%.3f execute=$e%.3f " +
      f"wall=${c + p + e}%.3f s compiles=" +
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles))
    // listener events arrive asynchronously; the timed write is the 2nd
    val executed = (1 to 2).map(_ => writes.poll(60, TimeUnit.SECONDS)).last
    if (executed != null)
      println(executed.explainString(ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
