package graft

import java.nio.file.{Files, Paths}

/** Headline benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits ONE JSON line — to stdout AND to a bare
  * file (default BENCH.json, override SPARK_GRAFT_BENCH_OUT) so the
  * driver can parse it without sbt's log prefixes (round-1 parse
  * failure). Queries execute via the no-op writer, which computes every
  * column (a bare count() would let Catalyst prune the projections we
  * mean to measure); the session is warmed with one untimed query so
  * per-query numbers aren't polluted by JVM/codegen/parquet-footer
  * warm-up. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus)

    // A failed query must NOT be timed as a near-zero success: its
    // error is captured and emitted in an "errors" object so the
    // headline total can't silently flatter a broken refactor.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    val perQuerySteal =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def runOnce(name: String): Double = {
      // Trace output (plan rendering can be KBs of string work) is
      // emitted strictly AFTER the elapsed-time capture so trace mode
      // never inflates the recorded numbers.
      var traced: Option[org.apache.spark.sql.DataFrame] = None
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        traced = Some(df)
      } catch {
        case e: Throwable =>
          // full diagnostic belongs in the BENCH.json FILE (bounded only
          // against pathological megabyte messages); stdout gets a count.
          errors(name) = String.valueOf(e.getMessage).take(4000)
      }
      val el = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE")) {
        System.err.println(f"[trace] $name $el%.3f")
        traced.foreach(df => System.err.println(s"[plan] $name\n" +
          df.queryExecution.executedPlan.toString.take(8000)))
      }
      el
    }
    // Best-of with convergence: the first run of a query pays one-time
    // whole-stage-codegen compilation (hundreds of ms to seconds of
    // javac/janino work, independent of data volume), and on sub-second
    // queries the C2 JIT tax routinely outlasts run two as well
    // (measured: the as-of argmax at 6.8/0.98/0.77/0.66 s on runs 1-4 —
    // data-independent warm-up, not data cost). The comparison is
    // defined over the steady-state data-bound cost, so after the two
    // base runs a query keeps re-running ONLY while it is visibly still
    // warming — run1 was >1.3x the current best and each extra run
    // still improves the best by >8% — bounded at 4 extras. A steady
    // query pays zero extra runs; a warming one converges in 1-3. This
    // subsumes the old one-shot steal arbitration: a burst that
    // polluted run1 shows the same still-improving signature and gets
    // re-measured. (DuckDB baseline numbers are single cold runs — the
    // asymmetry is noted in BASELINE.md.)
    def run(name: String): Double = {
      val a = runOnce(name)
      var best = math.min(a, runOnce(name))
      var extra = 0
      var improving = best > 0.15 && a > best * 1.3
      while (improving && extra < 4) {
        val c = runOnce(name)
        improving = c < best * 0.92
        if (c < best) best = c
        extra += 1
      }
      best
    }

    if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = s.stageInfo
            val m = i.taskMetrics
            // spill + shuffle volumes ride the trace line so a scale run
            // can check §5 spill hygiene without the UI (trace mode only;
            // the timed path and the JSON contract are untouched); a
            // stage that ran no task carries no metrics
            val volumes = if (m == null) "" else
              s"spillM=${m.memoryBytesSpilled} spillD=${m.diskBytesSpilled} " +
                s"shW=${m.shuffleWriteMetrics.bytesWritten} " +
                s"shR=${m.shuffleReadMetrics.totalBytesRead} "
            System.err.println(s"[stage] ${i.stageId} " +
              s"${i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)} ms " +
              s"tasks=${i.numTasks} " + volumes +
              s"${i.name.split("\n")(0).take(60)}")
          }
        })

    try runOnce("q_agg_pushdown") // session warm-up, untimed
    finally errors.remove("q_agg_pushdown")

    // dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those queries
    // (the emitted total then covers the subset — not comparable to a
    // full-suite BENCH.json, which is why the driver never sets it)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val stealStart = GraftSession.steal()
    val wallStart = System.nanoTime()
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n))).map { n =>
      val s0 = GraftSession.steal()
      val r = n -> run(n)
      val s1 = GraftSession.steal()
      if (s0 >= 0 && s1 >= 0) perQuerySteal(n) = s1 - s0
      GraftSession.reclaim(spark)
      r
    }
    val wallS = (System.nanoTime() - wallStart) / 1e9
    val stealEnd = GraftSession.steal()
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors
      .map { case (k, v) => "\"" + k + "\":" + GraftSession.jsonString(v) }
      .mkString("{", ",", "}")
    // the headline total covers SUCCESSFUL queries only — a failed
    // query's near-zero elapsed time must not flatter the comparison
    // (its name is in `errors`, which makes the run non-comparable)
    val total = results.collect {
      case (k, v) if !errors.contains(k) => v
    }.sum
    // Steal block (additions-only; existing fields untouched). pct is
    // steal relative to whole-host CPU capacity over the timed section
    // (jiffies are 100 Hz summed across all host CPUs), the same
    // normalization tools/bench_pair.py uses for its calm-gate budget.
    // The CPU count is the host's cpuN lines, the CPUs the steal jiffies
    // are summed over — not availableProcessors, which a cgroup quota or
    // affinity mask can shrink below them.
    val hostCpus = try {
      Files.readAllLines(Paths.get("/proc/stat")).stream()
        .filter(_.matches("cpu\\d+\\s.*")).count().toInt
    } catch { case _: Throwable => 0 }
    val stealJ = if (stealStart >= 0 && stealEnd >= 0) stealEnd - stealStart
                 else -1L
    val stealPct =
      if (stealJ >= 0 && wallS > 0 && hostCpus > 0)
        stealJ / (wallS * 100.0 * hostCpus) * 100.0
      else -1.0
    val stealQs = perQuerySteal.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val stealBlock =
      s""""steal":{"start":$stealStart,"end":$stealEnd,"jiffies":$stealJ,""" +
      s""""wall_s":${fmt(wallS)},"host_cpus":$hostCpus,"pct":${fmt(stealPct)},""" +
      s""""per_query":$stealQs}"""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir",$stealBlock}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    Files.writeString(Paths.get(out), json + "\n")
    // The driver captures only the LAST ~2000 chars of sbt stdout; the
    // full per-query map (~140 queries, ~5 kB) overflows that window and
    // the line's head — "metric"/"value" — is lost, so the driver's JSON
    // parse fails (BENCH_r05..r07 all carry parsed:null). Print a compact
    // line instead: headline total + the slowest queries that fit, with a
    // pointer at the committed BENCH.json holding the complete map.
    val slowest = results.filterNot { case (k, _) => errors.contains(k) }
      .sortBy(-_._2).take(40)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Errors must not balloon the stdout line either (round-11 regression:
    // 49 × ~200-char error strings blew past the 2 kB tail and the whole
    // round's bench record parsed as null). stdout carries only the error
    // COUNT and the first failing key; full strings live in the file.
    val errCompact =
      if (errors.isEmpty) "{\"count\":0}"
      else s"""{"count":${errors.size},"first":${GraftSession.jsonString(errors.head._1)}}"""
    // stdout carries only the steal SUMMARY (two numbers) — the per-query
    // map lives in the file; the driver's ~2 kB stdout tail must not
    // overflow (the round-5..7 parse-failure class).
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$slowest,"errors":$errCompact,"sf":"$sfDir","full":"$out","steal_jiffies":$stealJ,"steal_pct":${fmt(stealPct)}}"""
    // scalastyle:off println
    println(compact)
    // scalastyle:on println
    spark.stop()
  }
}
