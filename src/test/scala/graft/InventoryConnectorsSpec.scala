package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.InventoryConnectors

/** The eight remaining snapshot/inventory connectors (ref:
  * src/connectors/{tenable_io, jamf_inventory, assetpanda, aws_config,
  * aws_inventory, aws_accounts, azure_subscription, azure_vm}.py). */
class InventoryConnectorsSpec extends SparkSuite {

  private def tmpFile(name: String, content: String): String = {
    val dir = tempDir("graft-inv")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("tenable users land typed columns with derived role") {
    val path = tmpFile("users.jsonl",
      """{"username":"alice","uuid":"uu1","id":7,"user_name":"alice","email":"a@x.co","type":"local","permissions":64,"login_fail_count":1,"login_fail_total":3,"enabled":true,"two_factor":{"sms_enabled":1}}
        |{"username":"bob","uuid":"uu2","id":8,"user_name":"bob","email":"b@x.co","type":"local","permissions":23,"enabled":false}
        |""".stripMargin)
    val df = InventoryConnectors.landTenableUsers(spark, path)
    assert(df.count() == 2)
    val a = df.filter(col("username") === "alice").head
    assert(a.getAs[String]("role") == "Administrator")
    assert(a.getAs[Int]("permission") == 64)
    assert(a.getAs[String]("two_factor").contains("sms_enabled"))
    val b = df.filter(col("username") === "bob").head
    assert(b.getAs[String]("role") == "unknown permissions {permissions}")
    assert(df.columns.contains("snapshot_at"))
    // the land instant is injectable — one stamp per batch, not a
    // per-action current_timestamp() re-evaluation
    val stamped = InventoryConnectors.landTenableUsers(spark, path,
        lit("2024-01-05 00:00:00").cast("timestamp"))
      .select(col("snapshot_at")).distinct().collect()
    assert(stamped.map(_.getTimestamp(0).toInstant.toString).toSeq ==
      Seq("2024-01-05T00:00:00Z"))
  }

  test("tenable agent/vuln exports land raw-only") {
    val path = tmpFile("agents.jsonl",
      "{\"agent\":1}\n{\"agent\":2}\n")
    val df = InventoryConnectors.landTenableExport(spark, path)
    assert(df.columns.toSeq == Seq("raw", "export_at"))
    assert(df.count() == 2)
  }

  test("jamf computers land general fields typed") {
    val path = tmpFile("jamf.jsonl",
      """{"computer_id":42,"recorded_at":"2024-01-05T10:00:00Z","general":{"id":42,"name":"mac-eng-1","serial_number":"C02XX","mac_address":"aa:bb:cc:dd:ee:ff","ip_address":"10.0.0.9"}}
        |""".stripMargin)
    val df = InventoryConnectors.landJamfComputers(spark, path)
    val r = df.head
    assert(r.getAs[Long]("computer_id") == 42L)
    assert(r.getAs[String]("name") == "mac-eng-1")
    assert(r.getAs[String]("serial_number") == "C02XX")
  }

  test("assetpanda lands unique increasing insert ids") {
    val path = tmpFile("ap.jsonl",
      "{\"id\":\"obj-1\"}\n{\"id\":\"obj-2\"}\n{\"id\":\"obj-3\"}\n")
    val df = InventoryConnectors.landAssetpanda(spark, path)
    val ids = df.select("insert_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == 3)
    assert(ids.forall(_ >= 1))
    assert(df.columns.toSeq ==
      Seq("insert_id", "raw", "id", "insert_at"))
  }

  test("aws config items land with filename-derived event_time") {
    val dir = tempDir("graft-cfg")
    val f = dir.resolve("cfg_20240105T120000Z_part0.jsonl")
    Files.writeString(f,
      """{"configurationItemCaptureTime":"2024-01-05T11:59:00Z","awsAccountId":"111122223333","awsRegion":"us-east-1","resourceType":"AWS::EC2::SecurityGroup","ARN":"arn:aws:ec2:sg/sg-1","resourceId":"sg-1","resourceName":"web","configuration":{"groupId":"sg-1"},"tags":{"env":"prod"}}
        |""".stripMargin)
    val df = InventoryConnectors.landAwsConfig(spark, f.toString)
    val r = df.head
    assert(r.getAs[java.sql.Timestamp]("event_time").toInstant ==
      java.time.Instant.parse("2024-01-05T12:00:00Z"))
    assert(r.getAs[String]("account_id") == "111122223333")
    assert(r.getAs[String]("resource_type") == "AWS::EC2::SecurityGroup")
    assert(r.getAs[String]("configuration").contains("groupId"))
    assert(r.getAs[Long]("hash_raw") != 0L)
  }

  test("aws accounts land org list_accounts fields") {
    val path = tmpFile("acct.jsonl",
      """{"Arn":"arn:aws:organizations::1:account/o-1/111122223333","Email":"root@corp.example","Id":"111122223333","JoinedMethod":"INVITED","JoinedTimestamp":"2020-06-01T00:00:00Z","Name":"prod","Status":"ACTIVE"}
        |""".stripMargin)
    val df = InventoryConnectors.landAwsAccounts(spark, path)
    val r = df.head
    assert(r.getAs[String]("account_id") == "111122223333")
    assert(r.getAs[String]("account_alias") == "prod")
    assert(r.getAs[String]("status") == "ACTIVE")
  }

  test("aws inventory lands each asset type's shape") {
    val ec2 = tmpFile("ec2.jsonl",
      """{"InstanceId":"i-1","Architecture":"x86_64","InstanceType":"m5.large","LaunchTime":"2024-01-01T00:00:00Z","RegionName":"us-east-1","State":{"Name":"running"},"InstanceName":"web-1","AccountId":"111122223333"}
        |""".stripMargin)
    val dfEc2 = InventoryConnectors.landAwsInventory(spark, ec2, "EC2")
    val r = dfEc2.head
    assert(r.getAs[String]("instance_id") == "i-1")
    assert(r.getAs[String]("instance_state") == "running")

    val iam = tmpFile("iam.jsonl",
      """{"Path":"/","UserName":"alice","UserId":"AIDA1","Arn":"arn:aws:iam::1:user/alice","CreateDate":"2023-01-01T00:00:00Z","PasswordLastUsed":"2024-01-04T00:00:00Z","AccountId":"111122223333"}
        |""".stripMargin)
    val dfIam = InventoryConnectors.landAwsInventory(spark, iam, "IAM")
    assert(dfIam.head.getAs[String]("user_name") == "alice")
    assert(InventoryConnectors.awsInventoryShapes.keySet ==
      Set("EC2", "SG", "ELB", "IAM", "AMI"))
  }

  test("azure subscriptions land with tenant id and policies variant") {
    val path = tmpFile("subs.jsonl",
      """{"id":"/subscriptions/s1","subscription_id":"s1","display_name":"prod","state":"Enabled","subscription_policies":{"quota_id":"EnterpriseAgreement_2014-09-01"},"authorization_source":"RoleBased"}
        |""".stripMargin)
    val df = InventoryConnectors.landAzureSubscriptions(spark, path, "t0")
    val r = df.head
    assert(r.getAs[String]("tenant_id") == "t0")
    assert(r.getAs[String]("subscription_id") == "s1")
    assert(r.getAs[String]("subscription_policies").contains("quota_id"))
  }

  test("inventory connectors integrate with the runner registry loop") {
    import graft.sources.{ConnectorRunner, RegisteredConnector}
    val path = tmpFile("jamf2.jsonl",
      """{"computer_id":1,"recorded_at":"2024-01-05T10:00:00Z","general":{"id":1,"name":"m1","serial_number":"S1"}}
        |{"computer_id":2,"recorded_at":"2024-01-06T10:00:00Z","general":{"id":2,"name":"m2","serial_number":"S2"}}
        |""".stripMargin)
    val reg = Seq(RegisteredConnector("jamf_inventory", "0 */6",
      "recorded_at",
      s => InventoryConnectors.landJamfComputers(s, path)))
    val log = graft.engine.RunLog.newRun()
    val tick = java.time.LocalDateTime.of(2024, 1, 7, 6, 3)
    val (runs1, wm1) =
      ConnectorRunner.runDue(spark, reg, Map.empty, tick, log)
    assert(runs1.head.landed.count() == 2)
    val (runs2, wm2) = ConnectorRunner.runDue(spark, reg, wm1, tick, log)
    assert(runs2.head.landed.count() == 0)
    assert(wm2("jamf_inventory") == wm1("jamf_inventory"))
  }

  test("azure vms land typed identity plus variant profiles") {
    val path = tmpFile("vms.jsonl",
      """{"id":"/subscriptions/s1/providers/Microsoft.Compute/virtualMachines/vm1","location":"eastus","name":"vm1","provisioning_state":"Succeeded","type":"Microsoft.Compute/virtualMachines","vm_id":"uuid-1","hardware_profile":{"vm_size":"Standard_D2"},"os_profile":{"computer_name":"vm1"},"storage_profile":{"os_disk":{"name":"osdisk1"}}}
        |""".stripMargin)
    val df = InventoryConnectors.landAzureVms(spark, path, "s1")
    val r = df.head
    assert(r.getAs[String]("name") == "vm1")
    assert(r.getAs[String]("subscription_id") == "s1")
    assert(r.getAs[String]("hardware_profile").contains("Standard_D2"))
    assert(r.getAs[String]("storage_profile").contains("osdisk1"))
    assert(r.getAs[String]("provisioning_state") == "Succeeded")
  }
}
