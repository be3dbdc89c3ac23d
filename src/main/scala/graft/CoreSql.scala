package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.FixtureStore

/** Core SQL analytics surface (SURVEY.md §2 #16–25): the building blocks
  * every SnowAlert query pack leans on (pack SQL files), re-expressed as
  * declarative DataFrame plans so Catalyst handles pushdown, pruning and
  * join selection.
  */
object CoreSql {
  import Tables.t

  /** #16 Multi-aggregate groupBy with filter+projection pushed to parquet.
    * Ref: packs/snowflake_query_pack.sql-style summary rules. */
  def aggPushdown(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Num.r4(sum(col("l_quantity"))).as("sum_qty"),
        Num.r4(sum(col("l_extendedprice"))).as("sum_base_price"),
        Num.r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price"),
        Num.r4(avg(col("l_quantity"))).as("avg_qty"),
        Num.r4(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** #17 3-way join with broadcast dims; Catalyst plans customer as a
    * BroadcastHashJoin — no shuffle of the fact table for that side.
    * Lineitem is PARTIALLY PRE-AGGREGATED by orderkey before the join:
    * the order-grain rollup shares the join's shuffle key (one exchange
    * covers both), the fact-fact join then carries one row per order
    * instead of one per line, and the per-order counts make the final
    * aggregation a plain sum — no countDistinct expand pass over the
    * joined fact rows. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    // The customer side is broadcast ONLY while it is actually
    // dim-sized. A hard-coded broadcast() hint was the measured 1000×
    // anti-lesson: at 15M customer rows (252 MB parquet) the hint
    // forces a ~1-2 GB hash build shipped to every task on every run —
    // the worst absolute in the core-1000× ledger — while the
    // shuffled join it suppresses is a bounded per-partition merge.
    // The size check reads parquet FOOTER metadata (no data pass, no
    // job): ≤64 MB on disk keeps the broadcast (the measured win at
    // ≤100×); larger lets Catalyst/AQE plan the exchange join it
    // would have chosen without the hint.
    val cSize = try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/customer.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case _: Throwable => 0L }
    val cSide = if (cSize <= 64L * 1024 * 1024) broadcast(c) else c
    val lAgg = l.groupBy(col("l_orderkey"))
      .agg(
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"),
        count(lit(1)).as("nl"))
    lAgg.join(o, col("l_orderkey") === o("o_orderkey"))
      .join(cSide, o("o_custkey") === c("c_custkey"))
      .groupBy(c("c_mktsegment"), o("o_orderpriority"))
      .agg(
        Num.r2(sum(col("rev"))).as("revenue"),
        count(lit(1)).as("n_orders"),
        sum(col("nl")).as("n_lines"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  /** #18 semi/anti joins (EXISTS / NOT EXISTS surface). ONE pass over
    * each table: orders dedups to its distinct custkeys (map-side
    * partial dedup rides the custkey exchange), customer LEFT-joins
    * that unique key set — no fan-out possible — and a single
    * aggregate counts both the matched (EXISTS) and unmatched
    * (NOT EXISTS) sides. The naive two-join shape scans and probes
    * orders twice for two scalar outputs; this halves the work at any
    * scale and both counts come off one exchange. */
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"))
    val ordK = t(s, dir, "orders").select(col("o_custkey")).distinct()
    cust
      .join(ordK, cust("c_custkey") === ordK("o_custkey"), "left")
      .agg(
        count_if(col("o_custkey").isNull).as("customers_without_orders"),
        count_if(col("o_custkey").isNotNull).as("customers_with_orders"))
  }

  /** #19 top-k per group via ranking window (deterministic tiebreak). */
  def topkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      // range-partition on the window key up front: one exchange serves
      // both the ranking window and the (o_custkey, rn)-prefixed
      // presentation sort — the old plan re-range-exchanged the whole
      // window output for the final orderBy (guide §2.4; the
      // q_running_window rework, same shape)
      .repartitionByRange(col("o_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** #20 tumbling daily time slices (TIME_SLICE re-expression). */
  def timeSlice(s: SparkSession, dir: String): DataFrame =
    // group on the LONG epoch-day (integer division; identical to the
    // date cast under the UTC session) and decorate the ~|days| groups
    // with the DATE after the aggregate — the per-row date conversion
    // and the wider group key never touch the event stream
    t(s, dir, "events")
      .groupBy(expr("CAST(ts AS LONG) DIV 86400").as("d"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Num.r4(sum(col("value"))).as("value_sum"),
        Num.r4(avg(col("value"))).as("value_avg"))
      .select(expr("DATE_ADD(DATE '1970-01-01', CAST(d AS INT))").as("day"),
        col("event_type"), col("n"), col("value_sum"), col("value_avg"))
      .orderBy(col("day"), col("event_type"))

  /** #21 JSON extraction from a VARIANT-style string column. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    // JsonLongField kernel (from_json-parity byte scanner, fuzz-pinned)
    // instead of get_json_object's per-row path-matcher walk — same
    // single-field hot path as the SARs views
    t(s, dir, "events")
      .withColumn("k",
        graft.functions.json.longField(col("props"), "k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(when(col("k") > 50, 1)).as("n_high"),
        Num.r4(avg(col("k"))).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** #22 regex + LIKE predicates over text. */
  def regexLike(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("text").rlike("[0-9]{2,}"), 1)).as("n_numeric"),
        count(when(col("text").like("%the%"), 1)).as("n_the"),
        Num.r4(avg(col("n_chars"))).as("avg_chars"))
      .orderBy(col("lang"))

  /** #23 rollup totals (GROUPING SETS surface) over broadcast dims. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        Num.r2(sum(col("c_acctbal"))).as("acctbal_sum"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** #24 running-frame window: cumulative sum + lag delta per user. */
  def runningWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
      // range-partition on the window key BEFORE the window: range
      // partitioning clusters equal keys like the hash exchange the
      // window would otherwise insert, and the final presentation sort
      // (user_id, event_id) is a prefix-compatible extension of it, so
      // ONE exchange serves both window and orderBy (guide §2.4) — the
      // old plan hash-exchanged for the window and then range-exchanged
      // + fully re-sorted the whole output again for presentation
      .repartitionByRange(col("user_id"))
      .withColumn("running_value",
        Num.r4(sum(col("value"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .withColumn("delta",
        Num.r4(col("value") - lag(col("value"), 1).over(w)))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** #25 VARIANT flatten as a query: LATERAL FLATTEN of the props JSON
    * object (key, value) per event — the data.*_v view shape — then a
    * per-key profile. */
  def variantFlatten(s: SparkSession, dir: String): DataFrame =
    // two-level aggregate instead of count + countDistinct in one: the
    // mixed-distinct form plans an Expand that doubles the exploded
    // kv stream before the shuffle; grouping by (key, value) first
    // makes both outputs plain counts over the grouped frame
    // (count(value) skips the null-value group, exactly like the
    // countDistinct it replaces). The flatten itself is the
    // byte-scanning JsonKvPairs kernel — from_json's per-row Jackson
    // map parse was ~70% of this query at 10× events (same flatten
    // semantics, fuzz-pinned in FuzzParitySpec).
    t(s, dir, "events")
      .select(explode(graft.functions.json.kvPairs(col("props")))
        .as("kv"))
      .select(col("kv.key").as("key"), col("kv.value").as("value"))
      .groupBy(col("key"), col("value"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("key"))
      .agg(sum(col("c")).as("n"), count(col("value")).as("n_values"))
      .orderBy(col("key"))

  /** #26b as-of join (operators.AsOf): for each error event, the most
    * recent prior click by the same user within one hour — session
    * attribution. Second-truncated epoch times on both engines (events
    * ts is ns-precision parquet). */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("long").as("t_s"))
    graft.operators.AsOf.asofJoin(
      left = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("t_s")),
      right = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("t_s")),
      keys = Seq("user_id"),
      leftId = "event_id", leftTimeS = "t_s",
      rightId = "event_id", rightTimeS = "t_s",
      toleranceS = 3600L,
      // errors are the RARE side (~2% of events) against the dense
      // click timeline: build the join's hash table from them, not
      // from the 2x-duplicated click stream (~20x fewer build rows;
      // measured -0.07 s same-JVM at 10x events, parity exact)
      buildSide = "left")
      .orderBy(col("event_id"))
  }

  /** #87 range (point-in-interval) join without an equi-key: per event
    * day, the count of open 3-day incident windows — one window starts
    * at every day that saw an 'error' event — the "how many intervals
    * cover this instant" ask behind maintenance-window suppression and
    * in-flight joins. Discretized by [[graft.operators.RangeJoin]]: the
    * interval side pre-aggregates to (day, n) so no row-to-row range
    * join ever plans (a raw range predicate here is a
    * BroadcastNestedLoopJoin over every event-day × window pair). */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    // ONE scan feeds both sides: a per-day census (any-error flag)
    // groups on LONG epoch-day keys — integer division instead of a
    // per-row datetime truncation, identical under the UTC session —
    // and the ~|days| result is checkpointed for its two consumers.
    // The previous shape scanned the 10M-row event stream twice
    // (points distinct + incident distinct), each with a per-row
    // date_trunc: 5.5 s → 0.9 s at 100× events.
    val days = t(s, dir, "events")
      .groupBy(expr("CAST(ts AS LONG) DIV 86400").as("d"))
      .agg(max(when(col("event_type") === "error", 1).otherwise(0))
        .as("has_err"))
      .select(timestamp_seconds(col("d") * 86400).as("bucket"),
        col("has_err"))
      .transform(graft.Materialize.frame)
    val incidents = days.filter(col("has_err") === 1)
      .select(col("bucket").as("start"))
    graft.operators.RangeJoin.containingCount(
      points = days, pointCol = "bucket",
      intervals = incidents, startCol = "start", len = 3)
      .select(date_format(col("bucket"), "yyyy-MM-dd").as("day"),
        col("n_open"))
      .orderBy(col("day"))
  }

  private val Buckets = 32

  /** Build — or reuse via the FixtureStore marker — the bucketed
    * landing of `dir`'s fact tables (lineitem, orders), each landed by
    * [[graft.sources.Layout.landBucketed]]: bucketBy(32, orderkey),
    * in-bucket sorted, one file per bucket. Registration is
    * per-session (the in-memory catalog dies with the JVM; the files
    * and marker persist per source generation), via external
    * CLUSTERED BY table DDL over the landed files. Returns the two
    * table names. */
  private def ensureBucketedFacts(
      s: SparkSession, dir: String): (String, String) = {
    val tag = FixtureStore.sourceTagOf(s"$dir/lineitem.parquet") + ";" +
      FixtureStore.sourceTagOf(s"$dir/orders.parquet") + s";bkt$Buckets-v1"
    val root = FixtureStore.dirFor("bktfacts", tag)
    // one source generation's tables: graft_bktfacts_<md5>_{li,o}
    val name = new java.io.File(root).getName
    FixtureStore.ensure(root, tag) { buildDir =>
      def land(df: DataFrame, sub: String, key: String): Unit = {
        val tmpName = s"${name}_land_$sub"
        graft.sources.Layout.landBucketed(
          df.repartition(Buckets, col(key)), tmpName, key, Buckets,
          path = Some(s"$buildDir/$sub"))
        s.sql(s"DROP TABLE IF EXISTS $tmpName") // external: files stay
        ()
      }
      land(t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_extendedprice"), col("l_discount")), "li", "l_orderkey")
      land(t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority")), "o", "o_orderkey")
    }
    val liT = s"${name}_li"
    val oT = s"${name}_o"
    if (!s.catalog.tableExists(liT))
      s.sql(s"""CREATE TABLE $liT (l_orderkey BIGINT,
        | l_extendedprice DOUBLE, l_discount DOUBLE) USING parquet
        | CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)
        | INTO $Buckets BUCKETS LOCATION '$root/li'""".stripMargin)
    if (!s.catalog.tableExists(oT))
      s.sql(s"""CREATE TABLE $oT (o_orderkey BIGINT,
        | o_orderpriority STRING) USING parquet
        | CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey)
        | INTO $Buckets BUCKETS LOCATION '$root/o'""".stripMargin)
    (liT, oT)
  }

  /** #98b `q_join_bucketed` — the [[graft.sources.Layout]] landing
    * consumed end to end: the per-orderkey revenue join of
    * [[joinBroadcast]]'s fact⋈fact core run over tables landed
    * bucketed on the join key. Both scans report the bucketed
    * distribution, so the sort-merge join plans with NO Exchange on
    * either side — the exchange work happened once at landing instead
    * of on every run (ref: alert_queries_runner.py MERGE ON alert_id,
    * which presumes exactly this warehouse-side clustering). The only
    * shuffles left in the whole query are the ≤|priorities|-row
    * aggregate and the final ordering. */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (liT, oT) = ensureBucketedFacts(s, dir)
    graft.sources.Layout
      .coLocatedJoin(s, liT, oT, "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(
        Num.r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_bucketed" -> joinBucketed _,
    "q_range_join" -> rangeJoin _,
    "q_asof_join" -> asofJoin _,
    "q_variant_flatten" -> variantFlatten _,
    "q_agg_pushdown" -> aggPushdown _,
    "q_join_broadcast" -> joinBroadcast _,
    "q_semi_anti_join" -> semiAntiJoin _,
    "q_topk_window" -> topkWindow _,
    "q_time_slice" -> timeSlice _,
    "q_json_extract" -> jsonExtract _,
    "q_regex_like" -> regexLike _,
    "q_rollup" -> rollupAgg _,
    "q_running_window" -> runningWindow _
  )

  def oracle: Map[String, String] = Map(
    // the oracle states the range predicate directly; the engine's
    // discretized equi-join must produce identical counts
    "q_range_join" ->
      """WITH d AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day FROM events
        |), inc AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS start FROM events
        |  WHERE event_type = 'error'
        |)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  count(*) AS n_open
        |FROM d JOIN inc i
        |  ON i.start <= d.day AND d.day < i.start + INTERVAL 3 DAY
        |GROUP BY d.day ORDER BY day""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS t_s
        |  FROM events
        |), err AS (
        |  SELECT event_id, user_id, t_s FROM ev WHERE event_type = 'error'
        |), clk AS (
        |  SELECT event_id, user_id, t_s FROM ev WHERE event_type = 'click'
        |), j AS (
        |  SELECT e.event_id,
        |    c.event_id AS r_event_id, c.t_s AS r_t_s,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY c.t_s DESC, c.event_id DESC) AS rn
        |  FROM err e JOIN clk c ON c.user_id = e.user_id
        |    AND c.t_s <= e.t_s AND e.t_s - c.t_s <= 3600
        |)
        |SELECT e.event_id, e.user_id, e.t_s, j.r_event_id, j.r_t_s
        |FROM err e LEFT JOIN (
        |  SELECT event_id, r_event_id, r_t_s FROM j WHERE rn = 1
        |) j ON j.event_id = e.event_id
        |ORDER BY e.event_id""".stripMargin,

    "q_variant_flatten" ->
      """WITH kv AS (
        |  SELECT props, unnest(json_keys(props)) AS key FROM events
        |)
        |SELECT key, count(*) AS n,
        |  count(DISTINCT json_extract_string(props, '$.' || key))
        |    AS n_values
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,

    "q_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_bucketed" ->
      """SELECT o.o_orderpriority,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    "q_join_broadcast" ->
      """SELECT c.c_mktsegment, o.o_orderpriority,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS n_orders,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment, o.o_orderpriority
        |ORDER BY c.c_mktsegment, o.o_orderpriority""".stripMargin,

    "q_semi_anti_join" ->
      """SELECT
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS customers_without_orders,
        |  (SELECT count(*) FROM customer c WHERE EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS customers_with_orders""".stripMargin,

    "q_topk_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_time_slice" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  count(*) AS n,
        |  round(sum(value), 4) AS value_sum,
        |  round(avg(value), 4) AS value_avg
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    "q_json_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
        |  FROM events
        |)
        |SELECT event_type,
        |  count(CASE WHEN k > 50 THEN 1 END) AS n_high,
        |  round(avg(k), 4) AS avg_k,
        |  max(k) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_regex_like" ->
      """SELECT lang,
        |  count(*) AS n_docs,
        |  count(CASE WHEN regexp_matches(text, '[0-9]{2,}') THEN 1 END)
        |    AS n_numeric,
        |  count(CASE WHEN text LIKE '%the%' THEN 1 END) AS n_the,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_rollup" ->
      """SELECT r.r_name, n.n_name,
        |  round(sum(c.c_acctbal), 2) AS acctbal_sum,
        |  count(*) AS n_customers
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)
        |ORDER BY r.r_name NULLS FIRST, n.n_name NULLS FIRST""".stripMargin,

    "q_running_window" ->
      """SELECT user_id, event_id, value,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING), 4) AS running_value,
        |  round(value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY event_id), 4) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin
  )
}
