package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{CloudTrail, Okta}

/** Typed connector projections (ref: src/connectors/aws_cloudtrail.py
  * LANDING_TABLE_COLUMNS, src/connectors/okta.py + packs/okta.sql
  * views). */
class TypedConnectorsSpec extends SparkSuite {

  private def tmpFile(name: String, content: String): String = {
    val dir = tempDir("graft-typed")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("cloudtrail lands nested records into flat landing columns") {
    val path = tmpFile("ct.jsonl",
      """{"eventID":"e1","eventTime":"2024-01-01T10:00:00Z","eventName":"CreateUser","eventSource":"iam.amazonaws.com","awsRegion":"us-east-1","recipientAccountId":"111122223333","sourceIPAddress":"1.2.3.4","errorCode":"AccessDenied","errorMessage":"denied","userIdentity":{"type":"IAMUser","arn":"arn:aws:iam::111122223333:user/alice","userName":"alice","sessionContext":{"attributes":{"mfaAuthenticated":"true"}}}}
        |{"eventID":"e2","eventTime":"2024-01-01T11:00:00Z","eventName":"StopLogging","eventSource":"cloudtrail.amazonaws.com","awsRegion":"us-east-1","recipientAccountId":"111122223333","sourceIPAddress":"5.6.7.8","userIdentity":{"type":"Root","arn":"arn:aws:iam::111122223333:root"}}
        |""".stripMargin)
    val df = CloudTrail.land(spark, path)
    assert(df.count() == 2)
    val e1 = df.filter(col("event_id") === "e1").head
    assert(e1.getAs[String]("user_identity_type") == "IAMUser")
    assert(e1.getAs[String]("user_identity_arn") ==
      "arn:aws:iam::111122223333:user/alice")
    assert(e1.getAs[String](
      "user_identity_session_context_attributes_mfa_authenticated") == "true")
    assert(e1.getAs[String]("error_code") == "AccessDenied")
    assert(e1.getAs[String]("raw").contains("\"eventID\":\"e1\""))
    val e2 = df.filter(col("event_id") === "e2").head
    assert(e2.getAs[String]("user_identity_type") == "Root")
    assert(e2.getAs[String]("error_code") == null)
  }

  test("cloudtrail fromEvents derives a rule-ready landing view") {
    val ct = CloudTrail.fromEvents(Tables.t(spark, Sf, "events"))
    assert(ct.filter(col("user_identity_type") === "Root").count() > 0)
    assert(ct.filter(col("error_code") === "AccessDenied").count() > 0)
    val names = ct.select("event_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(names.contains("CreateUser") && names.contains("DeleteTrail"))
  }

  test("okta system log lands typed actor/outcome columns") {
    val path = tmpFile("okta.jsonl",
      """{"uuid":"u1","published":"2024-01-01T10:00:00Z","eventType":"user.session.start","severity":"INFO","displayMessage":"User login","actor":{"id":"a1","type":"User","alternateId":"alice@example.com","displayName":"Alice"},"client":{"ipAddress":"1.2.3.4"},"outcome":{"result":"FAILURE","reason":"INVALID_CREDENTIALS"}}
        |{"uuid":"u2","published":"2024-01-01T10:05:00Z","eventType":"user.session.start","severity":"INFO","displayMessage":"User login","actor":{"id":"a1","type":"User","alternateId":"alice@example.com","displayName":"Alice"},"client":{"ipAddress":"1.2.3.4"},"outcome":{"result":"SUCCESS"}}
        |""".stripMargin)
    val df = Okta.landSystemLog(spark, path)
    assert(df.count() == 2)
    val f = df.filter(col("outcome_result") === "FAILURE").head
    assert(f.getAs[String]("actor_email") == "alice@example.com")
    assert(f.getAs[String]("outcome_reason") == "INVALID_CREDENTIALS")
    assert(f.getAs[String]("client_ip") == "1.2.3.4")
  }

  test("okta groups snapshots land typed columns; groups keeps latest") {
    // okta.sql groups views: snapshots projection + QUALIFY-latest
    val path = tmpFile("okta_groups.jsonl",
      """{"id":"g1","created":"2024-01-01T00:00:00Z","lastUpdated":"2024-01-02T00:00:00Z","lastMembershipUpdated":"2024-01-02T00:00:00Z","objectClass":["okta:user_group"],"type":"OKTA_GROUP","profile":{"name":"Engineering","description":"eng"}}
        |{"id":"g1","created":"2024-01-01T00:00:00Z","lastUpdated":"2024-01-03T00:00:00Z","lastMembershipUpdated":"2024-01-03T00:00:00Z","objectClass":["okta:user_group"],"type":"OKTA_GROUP","profile":{"name":"Engineering","description":"eng-renamed"}}
        |{"id":"g2","created":"2024-01-01T00:00:00Z","lastUpdated":"2024-01-02T00:00:00Z","lastMembershipUpdated":"2024-01-02T00:00:00Z","objectClass":["okta:user_group"],"type":"BUILT_IN","profile":{"name":"Everyone","description":"all"}}
        |""".stripMargin)
    val snaps = Okta.landGroupSnapshots(spark, path)
    assert(snaps.count() == 3)
    val g2 = snaps.filter(col("type") === "BUILT_IN")
      .select(col("profile.name"), col("object_class")).head
    assert(g2.getString(0) == "Everyone")
    assert(g2.getSeq[String](1) == Seq("okta:user_group"))
    val latest = Okta.groups(snaps)
    assert(latest.count() == 2)
    assert(latest.filter(col("id") === "g1")
      .select(col("profile.description")).head.getString(0) == "eng-renamed")
    assert(latest.columns.contains("raw"))
  }

  test("osquery result log lands typed envelope + columns map") {
    val path = tmpFile("osq.jsonl",
      """{"name":"pack_incident-response_open_sockets","action":"added","hostIdentifier":"host-1","calendarTime":"Mon Jan  1 10:00:00 2024 UTC","unixTime":1704103200,"epoch":0,"counter":3,"columns":{"pid":"421","port":"443"},"decorations":{"env":"prod"}}
        |""".stripMargin)
    val df = graft.sources.Osquery.land(spark, path)
    assert(df.count() == 1)
    val r = df.head
    assert(r.getAs[String]("hostidentifier") == "host-1")
    assert(r.getAs[Map[String, String]]("columns")("port") == "443")
    assert(r.getAs[java.sql.Timestamp]("event_time") ==
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
  }

  test("azure operation log lands typed identity/authorization columns") {
    val path = tmpFile("az.jsonl",
      """{"time":"2024-01-01T10:00:00Z","callerIpAddress":"1.2.3.4","category":"Administrative","correlationId":"c1","durationMs":42,"level":"Information","location":"westus","operationName":"Microsoft.Compute/virtualMachines/write","resourceId":"/subscriptions/s1/vm1","resultSignature":"Succeeded.","resultType":"Success","identity":{"authorization":{"action":"Microsoft.Compute/virtualMachines/write","scope":"/subscriptions/s1"},"claims":{"name":"alice"}}}
        |""".stripMargin)
    val df = graft.sources.AzureLog.landOperations(spark, path)
    assert(df.count() == 1)
    val r = df.head
    assert(r.getAs[String]("operation_name") ==
      "Microsoft.Compute/virtualMachines/write")
    assert(r.getAs[String]("identity_authorization_scope") ==
      "/subscriptions/s1")
    assert(r.getAs[String]("caller_ip_address") == "1.2.3.4")
  }

  test("okta latestSnapshot keeps one row per entity (QUALIFY analogue)") {
    import spark.implicits._
    val snaps = Seq(
      ("id1", "2024-01-01 00:00:00", "STAGED"),
      ("id1", "2024-01-03 00:00:00", "ACTIVE"),
      ("id2", "2024-01-02 00:00:00", "ACTIVE")
    ).toDF("id", "recorded_at", "status")
      .withColumn("recorded_at", col("recorded_at").cast("timestamp"))
    val latest = Okta.latestSnapshot(snaps, "id")
    assert(latest.count() == 2)
    assert(latest.filter(col("id") === "id1").head
      .getAs[String]("status") == "ACTIVE")
  }

  test("gsuite admin-activity lands flat columns + parameter map") {
    val path = tmpFile("gs.jsonl",
      """{"id":{"time":"2024-01-01T10:00:00Z","customerId":"C123"},"etag":"\"abcdef\"","ipAddress":"9.9.9.9","actor":{"email":"admin@corp.example","profileId":"p1"},"events":[{"name":"login_failure","parameters":[{"name":"login_type","value":"google_password"},{"name":"is_suspicious","boolValue":true},{"name":"login_challenge_method","multiValue":["password","idv_preregistered_phone"]}]}]}
        |""".stripMargin)
    val df = graft.sources.GSuiteLogs.land(spark, path, "auditor@corp.example")
    val r = df.head
    assert(r.getAs[String]("event_name") == "login_failure")
    assert(r.getAs[String]("etag") == "abcdef") // quotes stripped
    assert(r.getAs[String]("actor_email") == "admin@corp.example")
    assert(r.getAs[String]("delegating_subject") == "auditor@corp.example")
    val params = r.getAs[Map[String, String]]("event_params")
    assert(params("login_type") == "google_password")
    assert(params("is_suspicious") == "true") // boolValue fallback
    assert(params("login_challenge_method") ==
      "password,idv_preregistered_phone") // multiValue fallback
  }

  test("gsuite landing tolerates empty events and duplicate params") {
    // the reference connector's dict comprehension is last-wins and its
    // indexing tolerates empty event lists — ANSI element_at /
    // map_from_entries must not abort the landing job
    val path = tmpFile("gs-edge.jsonl",
      """{"id":{"time":"2024-01-01T10:00:00Z","customerId":"C1"},"etag":"\"e\"","actor":{"email":"a@c"},"events":[]}
        |{"id":{"time":"2024-01-01T11:00:00Z","customerId":"C1"},"etag":"\"e\"","actor":{"email":"b@c"},"events":[{"name":"login_success","parameters":[{"name":"login_type","value":"first"},{"name":"login_type","value":"second"},{"value":"orphan"}]}]}
        |""".stripMargin)
    val df = graft.sources.GSuiteLogs.land(spark, path)
    val rows = df.orderBy(col("event_time")).collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("event_name"))) // events:[]
    val params = rows(1).getAs[Map[String, String]]("event_params")
    assert(params("login_type") == "second") // last-wins like the dict
    assert(params.size == 1) // null-named parameter dropped
  }

  test("umbrella device snapshot lands typed landing columns") {
    val path = tmpFile("umb.jsonl",
      """{"deviceId":"d-1","osVersionName":"Monterey","lastSyncStatus":"ok","type":"mac","version":"3.0","lastSync":"2024-01-05T00:00:00Z","osVersion":"12.6","name":"laptop-1","status":"active","originId":42,"appliedBundle":7,"hasIpBlocking":true}
        |""".stripMargin)
    val r = graft.sources.UmbrellaDevices.land(spark, path).head
    assert(r.getAs[String]("device_id") == "d-1")
    assert(r.getAs[Long]("origin_id") == 42L)
    assert(r.getAs[Boolean]("has_ip_blocking"))
    assert(r.getAs[java.sql.Timestamp]("snapshot_at") != null)
  }

  test("ldap CSV export lands typed password-lifecycle columns") {
    val path = tmpFile("ldap.csv",
      """group_name,display_name,sam,email,account_created,account_last_modified,password_last_set,password_expires
        |Admins,Alice A,alicea,alice@corp.example,2020-01-01 00:00:00,2024-01-01 00:00:00,2023-12-01 00:00:00,2024-06-01 00:00:00
        |""".stripMargin)
    val r = graft.sources.LdapLog.land(spark, path).head
    assert(r.getAs[String]("sam") == "alicea")
    assert(r.getAs[java.sql.Timestamp]("password_expires").toString
      .startsWith("2024-06-01"))
  }

  test("vpc flow log parses v2 records, nulling '-' placeholders") {
    val path = tmpFile("flow.log",
      """2 111122223333 eni-abc123 10.0.0.1 10.0.0.2 443 49152 6 10 840 1704103200 1704103260 ACCEPT OK
        |2 111122223333 eni-abc123 - - - - - - - 1704103200 1704103260 - NODATA
        |""".stripMargin)
    val df = graft.sources.AwsFlowLog.land(spark, path)
    val ok = df.filter(col("log_status") === "OK").head
    assert(ok.getAs[String]("srcaddr") == "10.0.0.1")
    assert(ok.getAs[Long]("bytes") == 840L)
    assert(ok.getAs[Long]("protocol") == 6L)
    assert(ok.getAs[java.sql.Timestamp]("start_time") != null)
    val nodata = df.filter(col("log_status") === "NODATA").head
    assert(nodata.isNullAt(nodata.fieldIndex("srcaddr")))
    assert(nodata.isNullAt(nodata.fieldIndex("bytes")))
  }

  test("network protocol mapping lands the reference dimension and " +
      "enriches flow rows") {
    // ref aws_flow_log.py PROTOCOL_MAPPING_TABLE_COLUMNS + the
    // protocol_table.csv Y/N boolean encoding and NULL_IF('')
    val dim = tmpFile("protocols.csv",
      """Decimal,Keyword,Protocol,IPv6 Extension Header
        |1,ICMP,Internet Control Message,N
        |6,TCP,Transmission Control,N
        |43,IPv6-Route,Routing Header for IPv6,Y
        |146,,,
        |""".stripMargin)
    val mapping = graft.sources.AwsFlowLog.landProtocolMapping(spark, dim)
    assert(mapping.columns.toSeq == Seq("protocol_id", "protocol_keyword",
      "protocol_name", "protocol_ipv6_extension_header"))
    val tcp = mapping.filter(col("protocol_id") === 6L).head
    assert(tcp.getAs[String]("protocol_keyword") == "TCP")
    assert(!tcp.getAs[Boolean]("protocol_ipv6_extension_header"))
    assert(mapping.filter(col("protocol_id") === 43L).head
      .getAs[Boolean]("protocol_ipv6_extension_header"))
    val blank = mapping.filter(col("protocol_id") === 146L).head
    assert(blank.isNullAt(blank.fieldIndex("protocol_keyword")))
    assert(blank.isNullAt(
      blank.fieldIndex("protocol_ipv6_extension_header")))

    // joined view: protocol numbers resolve to names; '-'-nulled rows
    // survive the left join unresolved
    val flows = tmpFile("flow2.log",
      """2 111122223333 eni-abc123 10.0.0.1 10.0.0.2 443 49152 6 10 840 1704103200 1704103260 ACCEPT OK
        |2 111122223333 eni-abc123 - - - - - - - 1704103200 1704103260 - NODATA
        |""".stripMargin)
    val joined = graft.sources.AwsFlowLog.withProtocolNames(
      graft.sources.AwsFlowLog.land(spark, flows), mapping)
    assert(joined.count() == 2)
    assert(joined.filter(col("log_status") === "OK").head
      .getAs[String]("protocol_keyword") == "TCP")
    val un = joined.filter(col("log_status") === "NODATA").head
    assert(un.isNullAt(un.fieldIndex("protocol_keyword")))
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "the dimension must broadcast")
  }

  test("meraki device snapshot lands typed landing columns") {
    val path = tmpFile("meraki.jsonl",
      """{"serial":"Q2XX-1","address":"HQ","name":"sw1","networkId":"N_1","model":"MS220","mac":"aa:bb","lanIp":"10.0.0.5","tags":"core","lng":-122.1,"lat":37.4}
        |""".stripMargin)
    val r = graft.sources.MerakiDevices.landDevices(spark, path).head
    assert(r.getAs[String]("serial") == "Q2XX-1")
    assert(r.getAs[String]("network_id") == "N_1")
    assert(r.getAs[Double]("lat") == 37.4)
  }

  test("salesforce event log lands raw variant + typed view") {
    val path = tmpFile("sf.jsonl",
      """{"EVENT_TYPE":"Login","TIMESTAMP_DERIVED":"2024-01-01T10:00:00Z","USER_ID":"005xx","SOURCE_IP":"1.2.3.4","LOGIN_STATUS":"LOGIN_NO_ERROR","BROWSER_TYPE":"Chrome"}
        |""".stripMargin)
    val landed = graft.sources.SalesforceEventLog.land(spark, path)
    assert(landed.columns.toSeq == Seq("raw")) // VARIANT-only landing
    val v = graft.sources.SalesforceEventLog.eventView(landed).head
    assert(v.getAs[String]("event_type") == "Login")
    assert(v.getAs[String]("login_status") == "LOGIN_NO_ERROR")
    assert(v.getAs[java.sql.Timestamp]("event_time") != null)
  }

  test("aws_collect iam users land with account stamp and raw record") {
    val path = tmpFile("iam.jsonl",
      """{"Path":"/","UserName":"alice","UserId":"AIDA1","Arn":"arn:aws:iam::111122223333:user/alice","CreateDate":"2020-05-01T00:00:00Z","PasswordLastUsed":"2024-01-10T08:00:00Z"}
        |""".stripMargin)
    val r = graft.sources.AwsCollect
      .landIamUsers(spark, path, "111122223333").head
    assert(r.getAs[String]("user_name") == "alice")
    assert(r.getAs[String]("account_id") == "111122223333")
    assert(r.getAs[java.sql.Timestamp]("password_last_used") != null)
  }

  test("duo admin logs land raw + typed view") {
    val path = tmpFile("duo.jsonl",
      """{"timestamp":1704103200,"action":"admin_login","username":"admin1","object":"portal"}
        |""".stripMargin)
    val v = graft.sources.DuoCollect.adminView(
      graft.sources.DuoCollect.landAdminLogs(spark, path)).head
    assert(v.getAs[String]("action") == "admin_login")
    assert(v.getAs[java.sql.Timestamp]("event_time").toString
      .startsWith("2024-01-01"))
  }

  test("github push webhooks land typed ref/commit columns") {
    val path = tmpFile("gh.jsonl",
      """{"ref":"refs/heads/main","before":"aaa","after":"bbb","created":false,"deleted":false,"forced":true,"compare":"url","commits":[{"id":"bbb","message":"m"}]}
        |""".stripMargin)
    val r = graft.sources.GithubWebhooks.landPushEvents(spark, path).head
    assert(r.getAs[String]("ref") == "refs/heads/main")
    assert(r.getAs[Boolean]("forced"))
    assert(r.getAs[Long]("hash_raw") != 0L)
    assert(r.getAs[scala.collection.Seq[Map[String, String]]]("commits")
      .head("id") == "bbb")
  }

  test("device inventories land via the generic snapshot lander") {
    val cs = tmpFile("cs.jsonl",
      """{"device_id":"cs-1","hostname":"host1","platform_name":"Linux","external_ip":"5.6.7.8","status":"normal","last_seen":"2024-01-29T00:00:00Z"}
        |""".stripMargin)
    val r1 = graft.sources.DeviceInventory.landCrowdstrike(spark, cs).head
    assert(r1.getAs[String]("device_id") == "cs-1")
    assert(r1.getAs[String]("platform_name") == "Linux")
    assert(r1.getAs[java.sql.Timestamp]("snapshot_at") != null)

    val aw = tmpFile("aw.jsonl",
      """{"Udid":"u-1","SerialNumber":"SN9","MacAddress":"aa:bb","DeviceFriendlyName":"Pixel","UserName":"alice","Model":"Pixel 8","OperatingSystem":"Android 14","CompromisedStatus":false}
        |""".stripMargin)
    val r2 = graft.sources.DeviceInventory.landAirwatch(spark, aw).head
    assert(r2.getAs[String]("serial_number") == "SN9")
    assert(r2.getAs[String]("user_name") == "alice")
    assert(!r2.getAs[Boolean]("compromised_status"))
  }

  test("connector runner lands incrementally by watermark on schedule") {
    import graft.sources.{ConnectorRunner, RegisteredConnector}
    val path = tmpFile("osq.jsonl",
      """{"name":"q1","action":"added","hostIdentifier":"i-1","unixTime":1704103200,"columns":{"pid":"1"}}
        |{"name":"q1","action":"added","hostIdentifier":"i-2","unixTime":1704189600,"columns":{"pid":"2"}}
        |""".stripMargin)
    val reg = Seq(RegisteredConnector(
      "osquery_log", "0 *", "event_time",
      s => graft.sources.Osquery.land(s, path)))
    val log = graft.engine.RunLog.newRun()

    // not due: minute >= 15
    val lateTick = java.time.LocalDateTime.of(2024, 1, 1, 3, 30)
    assert(ConnectorRunner
      .runDue(spark, reg, Map.empty, lateTick, log)._1.isEmpty)

    // first due run: no watermark → everything lands
    val tick = java.time.LocalDateTime.of(2024, 1, 1, 3, 5)
    val (runs1, wm1) = ConnectorRunner.runDue(spark, reg, Map.empty, tick, log)
    assert(runs1.head.landed.count() == 2)
    assert(wm1("osquery_log").startsWith("2024-01-02"))

    // second run with advanced watermark: nothing newer → zero rows,
    // watermark kept
    val (runs2, wm2) = ConnectorRunner.runDue(spark, reg, wm1, tick, log)
    assert(runs2.head.landed.count() == 0)
    assert(wm2("osquery_log") == wm1("osquery_log"))

    // metadata rows recorded per run
    assert(log.entries.map(_.query_name) == Seq("osquery_log", "osquery_log"))
    assert(log.entries.head.inserted == 2 && log.entries(1).inserted == 0)

    // schedule grammar: every-N-hours and the 12h-offset form
    assert(ConnectorRunner.timeToRun("0 */6",
      java.time.LocalDateTime.of(2024, 1, 1, 6, 10)))
    assert(!ConnectorRunner.timeToRun("0 */6",
      java.time.LocalDateTime.of(2024, 1, 1, 7, 10)))
    assert(ConnectorRunner.timeToRun("0 1-13/12",
      java.time.LocalDateTime.of(2024, 1, 1, 13, 2)))
  }
}
