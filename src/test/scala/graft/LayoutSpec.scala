package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** sources.Layout: the bucketed landing layout must actually buy the
  * plans it promises — exchange-free co-located joins and bucket-pruned
  * point reads — asserted on executed plans, not narrated.
  *
  * The join tests disable broadcast: at sf0.001 both tables fit under
  * the broadcast threshold and Catalyst (correctly) broadcasts instead
  * of using the bucketed distribution. The layout exists for the scale
  * where NEITHER side broadcasts — the threshold simulates it. */
class LayoutSpec extends SparkSuite {

  private lazy val wh = tempDir("graft_layout_").toString

  private def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private val NoBroadcast = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** Land lineitem + orders (sf0.001) bucketed by orderkey, one file
    * per bucket (the repartition-before-write shape the Scaladoc
    * prescribes), once per JVM. */
  private lazy val landed: Unit = {
    Layout.landBucketed(
      Tables.t(spark, Sf, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey")),
      "li_bkt", "l_orderkey", 8, path = Some(s"$wh/li"))
    Layout.landBucketed(
      Tables.t(spark, Sf, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(8, col("o_orderkey")),
      "o_bkt", "o_orderkey", 8, path = Some(s"$wh/o"))
  }

  test("co-located join plans no exchange on either side") {
    landed
    // Spark's default (no sorted-scan ordering), the shape a session
    // without GraftSession's flag gets: no exchange, the sort stays
    withConf(NoBroadcast :+
      ("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "false"): _*) {
      val j = Layout.coLocatedJoin(spark, "li_bkt", "o_bkt",
        "l_orderkey", "o_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join planned an exchange:\n$plan")
      assert(plan.contains("Sort ["),
        s"default-ordering bucketed join planned no sort:\n$plan")
    }
  }

  test("q_join_bucketed consumes the landed layout: no exchange on " +
      "either join side, result matches the raw-frame join") {
    withConf(NoBroadcast: _*) {
      val df = CoreSql.joinBucketed(spark, Sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the ONLY hash exchange is the ≤|priorities|-row aggregate —
      // the join itself runs on the landed bucketed distribution
      val joinSide = plan.split("SortMergeJoin").last
      assert(!joinSide.contains("Exchange hashpartitioning"),
        s"bucketed fact join planned an exchange:\n$plan")
      // nor a sort: the session reports the landed in-bucket order, so
      // this is the sort-free plan Bench times
      assert(!joinSide.contains("Sort ["),
        s"bucketed fact join planned a sort:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      val got = df.collect().map(_.toString).toSeq
      val raw = Tables.t(spark, Sf, "lineitem")
        .join(Tables.t(spark, Sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(Num.r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(col("o_orderpriority"))
        .collect().map(_.toString).toSeq
      assert(got == raw)
    }
  }

  test("coLocatedJoin rejects a self-join (ambiguous attributes need " +
      "aliased sides)") {
    landed
    val ex = intercept[IllegalArgumentException] {
      Layout.coLocatedJoin(spark, "li_bkt", "li_bkt",
        "l_orderkey", "l_orderkey")
    }
    assert(ex.getMessage.contains("self-join"), ex.getMessage)
  }

  test("with sorted-scan ordering restored, the join also plans no sort") {
    landed
    // one file per bucket -> the scan can report its in-bucket order;
    // Spark 3+ only does so behind the legacy flag (multi-file buckets
    // interleave, so the default stopped trusting write-time order),
    // which GraftSession sets
    withConf(NoBroadcast: _*) {
      val plan = Layout.coLocatedJoin(spark, "li_bkt", "o_bkt",
          "l_orderkey", "o_orderkey")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join planned an exchange:\n$plan")
      assert(!plan.contains("Sort ["),
        s"sorted one-file-per-bucket join still planned a sort:\n$plan")
    }
  }

  test("bucketed join result matches the raw-frame join") {
    landed
    withConf(NoBroadcast: _*) {
      val viaLayout = Layout.coLocatedJoin(spark, "li_bkt", "o_bkt",
          "l_orderkey", "o_orderkey")
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s"))
        .collect()(0)
      val li = Tables.t(spark, Sf, "lineitem")
      val o = Tables.t(spark, Sf, "orders")
      val raw = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s"))
        .collect()(0)
      assert(viaLayout.getLong(0) == raw.getLong(0))
      assert(math.abs(viaLayout.getDouble(1) - raw.getDouble(1)) < 1e-6)
    }
  }

  test("landBucketed fails LOUDLY when a bucket lands as multiple files") {
    // no repartition pre-shuffle: each of several input partitions
    // writes its own file per bucket, so the one-file-per-bucket
    // invariant — the soundness condition for the legacy
    // outputOrdering flag — is violated and the landing must throw,
    // not silently produce a table whose reported sort order is false
    val ex = intercept[IllegalStateException] {
      Layout.landBucketed(
        Tables.t(spark, Sf, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .repartition(4), // round-robin: every partition hits every bucket
        "li_bkt_bad", "l_orderkey", 8, path = Some(s"$wh/li_bad"))
    }
    assert(ex.getMessage.contains("files"), ex.getMessage)
    spark.sql("DROP TABLE IF EXISTS li_bkt_bad")
  }

  test("point lookup prunes to one bucket") {
    landed
    val someKey = spark.table("li_bkt").select(col("l_orderkey"))
      .limit(1).collect()(0).getLong(0)
    // a bare filter feeds no distribution-requiring operator, so
    // Spark's auto-bucketed-scan heuristic would drop the bucketed
    // scan — and with it the 1-of-n file prune; point-read workloads
    // over stored bucketed tables run with it off (Layout Scaladoc)
    withConf(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val plan = spark.table("li_bkt")
        .filter(col("l_orderkey") === someKey)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing from point-lookup scan:\n$plan")
    }
  }

  test("hive partitioning composes with bucketing (partition + bucket prune)") {
    Layout.landBucketed(
      Tables.t(spark, Sf, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .repartition(4, col("l_orderkey")),
      "li_part_bkt", "l_orderkey", 4,
      partitionCols = Seq("l_returnflag"), path = Some(s"$wh/lip"))
    val someKey = spark.table("li_part_bkt").select(col("l_orderkey"))
      .limit(1).collect()(0).getLong(0)
    withConf(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val q = spark.table("li_part_bkt")
        .filter(col("l_returnflag") === "R" && col("l_orderkey") === someKey)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning missing under partition filter:\n$plan")
      assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag") ||
        plan.contains("(l_returnflag = R)"),
        s"partition filter not pruning at the scan:\n$plan")
    }
  }
}
