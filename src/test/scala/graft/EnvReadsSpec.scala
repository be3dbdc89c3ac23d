package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No environment variable reaches a query plan: only the session
  * factory (its core count) and the Bench driver read the environment,
  * so Verify, Bench, Probe and the specs plan every query from the same
  * code and the same session config. Nor does a tuning knob: graft's
  * own session conf holds one deployment path and one measured floor. */
class EnvReadsSpec extends AnyFunSuite {
  private val Root = Paths.get("src/main/scala")
  private val EnvRead = """sys\.env|System\.getenv""".r
  private val EnvName = """(?:sys\.env\.\w+|System\.getenv)\("(\w+)"""".r
  private val GraftConfKey = """spark\.graft\.[\w.${}]*[\w}]""".r

  private def sources: Map[String, String] =
    Files.walk(Root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => Root.relativize(p).toString -> Files.readString(p)).toMap

  test("only GraftSession and Bench read environment variables") {
    assert(Files.isDirectory(Root), s"run from the repository root: $Root")
    val readers = sources.filter { case (_, src) =>
      EnvRead.findFirstIn(src).isDefined }
    assert(readers.keySet ==
      Set("graft/GraftSession.scala", "graft/Bench.scala"))
    def names(file: String) =
      EnvName.findAllMatchIn(readers(file)).map(_.group(1)).toSet
    assert(names("graft/GraftSession.scala") == Set("SPARK_GRAFT_CPUS"))
    assert(names("graft/Bench.scala") == Set("SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_TRACE", "SPARK_GRAFT_BENCH_ONLY",
      "SPARK_GRAFT_BENCH_OUT"))
  }

  test("graft's own session conf keys are the checkpoint dir and the " +
      "dedup pruning floor") {
    assert(Files.isDirectory(Root), s"run from the repository root: $Root")
    val keys = sources.values.flatMap(GraftConfKey.findAllIn).toSet
    assert(keys == Set("spark.graft.checkpointDir",
      "spark.graft.dedup.pruneMinInputBytes"))
  }
}
