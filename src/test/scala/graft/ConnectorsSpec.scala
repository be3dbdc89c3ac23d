package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.sources.Connectors

class ConnectorsSpec extends SparkSuite {

  private def tmpFile(name: String, content: String): String = {
    val dir = tempDir("graft-conn")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("jsonLines lands raw + typed columns") {
    val path = tmpFile("ct.jsonl",
      """{"eventName":"StopLogging","awsRegion":"us-east-1","requestParameters":{"name":"trail1"}}
        |{"eventName":"DeleteTrail","awsRegion":"eu-west-1","requestParameters":{"name":"trail2"}}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("eventName", StringType),
      StructField("awsRegion", StringType),
      StructField("requestParameters",
        StructType(Seq(StructField("name", StringType))))))
    val df = Connectors.jsonLines(spark, path, schema)
    assert(df.columns.toSeq ==
      Seq("raw", "eventName", "awsRegion", "requestParameters"))
    assert(df.count() == 2)
    val row = df.filter(df("eventName") === "StopLogging").head
    assert(row.getAs[String]("awsRegion") == "us-east-1")
    assert(row.getAs[String]("raw").contains("trail1"))
  }

  test("csvInventory reads typed columns") {
    val path = tmpFile("devices.csv",
      "device_id,os,last_seen\nd1,linux,2024-01-01\nd2,macos,2024-01-02\n")
    val schema = StructType(Seq(
      StructField("device_id", StringType),
      StructField("os", StringType),
      StructField("last_seen", DateType)))
    val df = Connectors.csvInventory(spark, path, schema)
    assert(df.count() == 2)
    assert(df.schema("last_seen").dataType == DateType)
  }

  test("nginxLog parses combined log lines") {
    val path = tmpFile("access.log",
      """1.2.3.4 - alice [10/Oct/2024:13:55:36 +0000] "GET /index.html HTTP/1.1" 200 2326
        |5.6.7.8 - - [10/Oct/2024:13:55:37 +0000] "POST /api HTTP/1.1" 500 -
        |""".stripMargin)
    val df = Connectors.nginxLog(spark, path)
    assert(df.count() == 2)
    val ok = df.filter(df("status") === 200).head
    assert(ok.getAs[String]("remote_addr") == "1.2.3.4")
    assert(ok.getAs[String]("method") == "GET")
    assert(ok.getAs[Long]("body_bytes") == 2326L)
    val err = df.filter(df("status") === 500).head
    assert(err.getAs[Long]("body_bytes") == 0L)
  }

  test("incremental keeps only newer records") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("2024-01-01 00:00:00", "2024-01-03 00:00:00")
      .toDF("t").withColumn("t", col("t").cast("timestamp"))
    assert(Connectors.incremental(df, "t", "2024-01-02 00:00:00").count() == 1)
  }
}
