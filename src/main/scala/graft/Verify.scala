package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.build(GraftSession.cpus)
    dump(spark, SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }, SparkEntry.oracleSql, sfDir, outDir)
    spark.stop()
  }

  /** Writes each query's result to `$outDir/$name` and the oracle SQL of
    * these queries to `$outDir/oracle_sql.json`. A query that throws is
    * logged and leaves no `$outDir/$name`, not even an earlier run's, so
    * tools/check.py reports it missing instead of checking stale rows. */
  def dump(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracles: Map[String, String], sfDir: String, outDir: String): Unit = {
    new File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a query that throws while planning leaves the old dir in place,
        // one that throws while writing an empty one: drop either
        graft.sources.FixtureStore.deleteRecursively(new File(s"$outDir/$name"))
      }
      // orphaned localCheckpoint blocks otherwise accumulate across the dump
      GraftSession.reclaim(spark)
    }
    val json = oracles.filter { case (k, _) => queries.contains(k) }
      .map { case (k, v) =>
        s"${GraftSession.jsonString(k)}: ${GraftSession.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
