package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Verify's dump is what tools/check.py grades: a query that fails must
  * not pass on an earlier run's output, and must stay listed so the
  * check reports it missing. */
class VerifySpec extends SparkSuite {

  test("a failing query leaves no output, stale or partial, and keeps " +
      "its oracle key") {
    val out = tempDir("graft_verify").toString
    // an earlier run's output under each failing name
    for (name <- Seq("q_bad_plan", "q_bad_run"))
      spark.range(3).write.parquet(s"$out/$name")
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_good" -> ((s, _) => s.range(2).toDF("id")),
      "q_bad_plan" -> ((_, _) => throw new IllegalStateException("plan")),
      "q_bad_run" -> ((s, _) =>
        s.range(2).select(raise_error(lit("run")).as("id"))))
    val oracles = queries.keys.map(k => k -> s"SELECT 1 AS $k").toMap +
      ("q_not_run" -> "SELECT 1")
    Verify.dump(spark, queries, oracles, Sf, out)

    assert(spark.read.parquet(s"$out/q_good").count() == 2)
    assert(!new File(s"$out/q_bad_plan").exists())
    assert(!new File(s"$out/q_bad_run").exists())
    val json = Files.readString(Paths.get(s"$out/oracle_sql.json"))
    for (k <- queries.keys) assert(json.contains(s""""$k":"""), json)
    assert(!json.contains("q_not_run"), json)
    graft.sources.FixtureStore.deleteRecursively(new File(out))
  }
}
