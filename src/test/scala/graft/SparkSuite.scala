package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf = "/root/testdata/sf0.001"
}

object SparkSuite {
  // the drivers' session at a fixed 4 cores, so spec results and plans
  // do not depend on the host
  lazy val session: SparkSession = GraftSession.build(4)
}
