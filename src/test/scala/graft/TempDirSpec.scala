package graft

import java.nio.file.{Files, Path}

import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event
import org.scalatest.funsuite.AnyFunSuite

/** `SparkSuite.tempDir`: a spec's scratch directories are gone, with
  * everything written into them, once the spec has run. */
class TempDirSpec extends AnyFunSuite {
  test("a suite's temp dirs and their contents are deleted after it ran") {
    var made = Seq.empty[Path]
    val suite = new SparkSuite {
      test("writes into two temp dirs") {
        made = Seq(tempDir("graft_tempdir_a"), tempDir("graft_tempdir_b"))
        Files.createDirectories(made.head.resolve("nested/deeper"))
        Files.writeString(made.head.resolve("nested/deeper/f.txt"), "x")
        Files.writeString(made(1).resolve("g.txt"), "y")
      }
    }
    val silent = new Reporter { def apply(e: Event): Unit = () }
    assert(suite.run(None, Args(silent)).succeeds())
    assert(made.size == 2)
    assert(made.forall(d => !Files.exists(d)), s"left behind: $made")
  }
}
