package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.engine.RuleEngine

/** SURVEY §2 #2 at scale: the incremental alert-store upsert is the
  * production hot loop — a small batch of new alerts MERGEd into a store
  * that only grows. The store side must therefore never shuffle: the
  * batch is broadcast onto the store scan(s). These specs pin that on
  * the EXECUTED physical plan, with the store read from parquet (a real
  * scan, not a local relation), so a refactor back to the full-outer
  * sort-merge shape — which shuffles the entire store to add one day's
  * batch — fails loudly. */
class MergeStorePlanSpec extends SparkSuite {
  import spark.implicits._

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case r: ReusedExchangeExec => p +: allNodes(r.child)
    case _ => p +: p.children.flatMap(allNodes)
  }

  private def mkAlerts(ids: Seq[Long], mod: Int) = {
    val key = concat(lit("u"), pmod(col("event_id"), lit(mod.toLong)))
    ids.toDF("event_id")
      .select(
        concat(lit("a"), col("event_id")).as("alert_id"),
        lit("qn").as("query_name"), lit("qi").as("query_id"),
        lit("prod").as("environment"), lit("events").as("sources"),
        key.as("actor"), key.as("object"),
        lit("act").as("action"), lit("T").as("title"),
        lit("graft").as("detector"), lit("{}").as("event_data"),
        lit("low").as("severity"), key.as("description"),
        lit(1L).as("counter"), lit(100L).as("alert_time_s"),
        col("event_id").as("event_time_s"))
  }

  test("mergeIntoStore broadcasts the batch; the store is never " +
      "shuffled and never sort-merge joined") {
    // store: 100 merged keys (u0..u99) written to parquet so the plan
    // has a real FileSourceScan to track; batch: 20 alerts — u0..u9
    // match the store, u100..u109 are new
    val base = tempDir("graft_merge_store").toString
    RuleEngine.mergeAlerts(mkAlerts(1L to 200L, 100))
      .write.parquet(s"$base/store")
    val store = spark.read.parquet(s"$base/store")
    val batch = mkAlerts(1090L to 1109L, 110)

    val out = RuleEngine.mergeIntoStore(store, batch)
    out.write.mode("overwrite").format("noop").save()

    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "store upsert fell back to a sort-merge join")
    val bhjs = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhjs == 3, s"expected 3 broadcast joins (update/semi/anti), " +
      s"got $bhjs")
    // no STORE row ever crosses a shuffle: walk each shuffle exchange's
    // subtree, stopping at broadcast boundaries (rows that cross a
    // BroadcastExchange are hashed relations, not shuffled partitions —
    // the batch's key set broadcast under the anti join is the wanted
    // shape), and assert no store scan feeds a shuffle directly
    def shuffled(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeLike => Seq(p)
      case a: AdaptiveSparkPlanExec => p +: shuffled(a.executedPlan)
      case q: QueryStageExec => p +: shuffled(q.plan)
      case r: ReusedExchangeExec => p +: shuffled(r.child)
      case _ => p +: p.children.flatMap(shuffled)
    }
    val shuffledStoreScans = nodes.collect {
      case s: ShuffleExchangeLike => shuffled(s).collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",")
            .contains(s"$base/store") => f
      }
    }.flatten
    assert(shuffledStoreScans.isEmpty,
      "the store scan sits under a shuffle exchange — the upsert " +
        "re-shuffles the store to absorb a batch")

    // semantics sanity on the same frames (the full semantics suite is
    // RuleEngineSpec): matched keys accumulate, new keys insert
    val got = out.select(col("object"), col("counter")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 110) // 100 store keys + 10 new
    assert(got("u0") == 3L) // store events 100,200 + batch event 1100
    assert(got("u10") == 2L) // store events 10,110; no batch hit
    assert(got("u100") == 1L) // batch-only key (event 1090)
  }

  test("mergeIntoStoreClustered over a store landed bucketed on the " +
      "merge key: the store side never shuffles and the result matches " +
      "the broadcast merge") {
    val base = tempDir("graft_merge_clust").toString
    val storeFrame = RuleEngine.mergeAlerts(mkAlerts(1L to 200L, 100))
    graft.sources.Layout.landBucketedKeys(
      storeFrame.repartition(8, col("object"), col("description")),
      "graft_spec_store_land", Seq("object", "description"), 8,
      path = Some(s"$base/store"))
    spark.sql("DROP TABLE IF EXISTS graft_spec_store_land")
    val cols = storeFrame.schema.fields.map { f =>
      s"${f.name} ${f.dataType.sql}"
    }.mkString(", ")
    spark.sql(s"""CREATE TABLE graft_spec_store_bkt ($cols) USING parquet
      | CLUSTERED BY (object, description) SORTED BY (object, description)
      | INTO 8 BUCKETS LOCATION '$base/store'""".stripMargin)
    val store = spark.table("graft_spec_store_bkt")
    val batch = mkAlerts(1090L to 1109L, 110)

    val out = RuleEngine.mergeIntoStoreClustered(store, batch)
    out.write.mode("overwrite").format("noop").save()

    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "clustered merge should be a sort-merge join")
    // only the BATCH shuffles: no store scan under any shuffle exchange
    val storeScansUnderShuffle = nodes.collect {
      case s: ShuffleExchangeLike => allNodes(s).collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",")
            .contains(s"$base/store") => f
      }
    }.flatten
    assert(storeScansUnderShuffle.isEmpty,
      "the clustered merge re-shuffles the bucketed store")
    val storeScans = nodes.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.mkString(",")
          .contains(s"$base/store") => f
    }
    assert(storeScans.size == 1,
      s"clustered merge should scan the store ONCE, got ${storeScans.size}")
    assert(storeScans.head.bucketedScan,
      "store scan lost its bucketed distribution")

    // result parity with the broadcast hot-loop shape on the same data
    val viaBroadcast = RuleEngine.mergeIntoStore(
      spark.read.parquet(s"$base/store"), batch)
    val l = out.orderBy(col("object"), col("description"))
      .collect().map(_.toString).toSeq
    val r = viaBroadcast.orderBy(col("object"), col("description"))
      .collect().map(_.toString).toSeq
    assert(l == r)
  }
}
