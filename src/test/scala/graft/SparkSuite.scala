package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf = "/root/testdata/sf0.001"

  private val tempDirs = mutable.ArrayBuffer.empty[Path]

  /** A new directory under `java.io.tmpdir`, deleted with everything in
    * it once the suite has run. */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.filter(Files.exists(_)).foreach { dir =>
        Files.walk(dir).iterator.asScala.toSeq.reverse
          .foreach(Files.deleteIfExists)
      }
      tempDirs.clear()
    } finally super.afterAll()
}

object SparkSuite {
  // the drivers' session at a fixed 4 cores, so spec results and plans
  // do not depend on the host
  lazy val session: SparkSession = GraftSession.build(4)
}
