package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** SURVEY.md §2 #43: date-partitioned event source — proves (not just
  * claims) that a from/to-windowed rule scans only matching partitions,
  * via the executed plan's partition filters and file-count metric. */
class PruningSpec extends SparkSuite {

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    def unwrap(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(unwrap)
    }
    unwrap(df.queryExecution.executedPlan).head
  }

  test("time-windowed read prunes to matching date partitions") {
    val out = tempDir("graft-part")
      .resolve("events").toString
    Tables.writePartitionedEvents(spark, Sf, out)

    val all = Tables.partitionedEvents(spark, out)
    val nDates = all.select("date").distinct().count()
    assert(nDates > 5) // sf0.001 spans most of Jan 2024

    val windowed = Tables.timeWindow(
      Tables.partitionedEvents(spark, out),
      "2024-01-10 00:00:00", "2024-01-12 00:00:00")
    val rows = windowed.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val t = r.getAs[java.sql.Timestamp]("ts")
      !t.before(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
        t.before(java.sql.Timestamp.valueOf("2024-01-12 00:00:00"))
    })

    val scan = scanOf(windowed)
    // the date predicate reached the scan as a partition filter...
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.partitionFilters.mkString(",").contains("date"))
    // ...and only the 3 candidate date directories were read (the ts
    // range touches at most 2024-01-10/11/12), not all ~31
    val filesRead = scan.metrics("numFiles").value
    val filesTotal = all.inputFiles.length.toLong
    assert(filesRead <= 3)
    assert(filesRead < filesTotal)
    // the ts predicate is pushed to the parquet reader for row-group
    // skipping within the surviving partitions: both bounds reach the
    // reader as source filters, not only the scan's data filters
    assert(scan.dataFilters.mkString(",").contains("ts"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(ts,") &&
      pushed.contains("LessThan(ts,"), s"ts bounds not pushed: $pushed")
  }

  test("ivf search over the LANDED cell-partitioned vector store prunes " +
      "to the probed cell directories") {
    // the production ANN read path: landVectors appends gated vectors
    // to parquet PARTITIONED BY cell; ivfAnnStore's driver-folded cell
    // `isin` literal must reach that layout as an ACTUAL partition
    // filter — nprobe/K of the store's files read, however large the
    // store grows
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingCorpus
    val e = Tables.t(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val vecs = e.collect()
      .map(r => StreamVec(r.getLong(0), r.getSeq[Double](1).toArray))
    val history = e.filter(col("vec_id") < 8)
    val (seeds, cellStore) = StreamingCorpus.cellStoreOf(history, cells = 8)
    assert(seeds.size == 8)
    val base = tempDir("graft_ivf_store").toString
    val input = MemoryStream[StreamVec]
    input.addData(vecs.toIndexedSeq: _*)
    // τ > 1 admits every arrival: the landing layout is what's under test
    StreamingCorpus.landVectors(input.toDF(), seeds, cellStore,
      s"$base/store", s"$base/ck", tau = 1.1).awaitTermination()

    val probeV = vecs.find(_.vec_id == 0L).get.v
    val res = Ann.ivfAnnStore(spark, s"$base/store", probeV, seeds,
      nprobe = 2, k = 10)
    val got = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // driver reference with the kernel's exact arithmetic (4dp half-up
    // squared L2, smallest-cid tiebreak)
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def sq(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val probedCells = seeds.map { case (cid, c) => (r4(sq(probeV, c)), cid) }
      .sorted.take(2).map(_._2).toSet
    val expected = vecs.map { sv =>
      val cell = seeds.map { case (cid, c) => (r4(sq(sv.v, c)), cid) }.min._2
      (sv.vec_id, cell, r4(sq(sv.v, probeV)))
    }.filter(t => probedCells(t._2)).sortBy(t => (t._3, t._1)).take(10).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.nonEmpty && got.forall(t => probedCells(t._2)))

    // the plan pin: the cell literal survived as a PARTITION filter and
    // only the nprobe probed cell directories' files were read
    val scan = scanOf(res)
    assert(scan.partitionFilters.mkString(",").contains("cell"),
      s"cell isin never reached partitionFilters: ${scan.partitionFilters}")
    val filesRead = scan.metrics("numFiles").value
    def filesUnder(cell: Long) = {
      val d = new java.io.File(s"$base/store/cell=$cell")
      if (d.exists()) d.listFiles().count(_.getName.endsWith(".parquet"))
      else 0
    }
    val probedFiles = probedCells.toSeq.map(filesUnder).sum
    val totalFiles = spark.read.parquet(s"$base/store").inputFiles.length
    assert(filesRead.toInt == probedFiles,
      s"read $filesRead files, probed dirs hold $probedFiles")
    assert(filesRead < totalFiles,
      s"no pruning: $filesRead of $totalFiles files read")
  }

  test("ivf-pq search over the code-carrying landed store prunes cells " +
      "AND never reads the float vectors") {
    // the full production IVF-PQ index: landVectorsPq stamps
    // precomputed PQ codes on every landed row (narrow driver-folded
    // argmin projection — no aggregation in the micro-batch), and
    // ivfPqAnnStore searches the layout with (1) the cell isin literal
    // as a partition filter and (2) ADC scoring as array-literal
    // lookups against the stored codes — the scan must column-prune
    // the 256-byte float payload away entirely
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingCorpus
    val e = Tables.t(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val vecs = e.collect()
      .map(r => StreamVec(r.getLong(0), r.getSeq[Double](1).toArray))
    val history = e.filter(col("vec_id") < 8)
    val (seeds, cellStore) = StreamingCorpus.cellStoreOf(history, cells = 8)
    val cbs = Ann.pqCodebookOf(e)
    assert(cbs.size == 16)
    val base = tempDir("graft_ivfpq_store").toString
    val input = MemoryStream[StreamVec]
    input.addData(vecs.toIndexedSeq: _*)
    StreamingCorpus.landVectorsPq(input.toDF(), seeds, cellStore, cbs,
      s"$base/store", s"$base/ck", tau = 1.1).awaitTermination()

    val probeV = vecs.find(_.vec_id == 0L).get.v
    val res = Ann.ivfPqAnnStore(spark, s"$base/store", probeV, seeds, cbs,
      nprobe = 2, k = 10)
    val got = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // driver reference with the kernels' exact arithmetic: 4dp half-up
    // subspace distances, smallest-code/cid tiebreaks
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def sq(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def sub(a: Array[Double], m: Int) = a.slice(m * 8, (m + 1) * 8)
    val probedCells = seeds.map { case (cid, c) => (r4(sq(probeV, c)), cid) }
      .sorted.take(2).map(_._2).toSet
    val adcOf: Array[Double] => Double = v => r4((0 until 8).map { m =>
      val code = cbs.map { case (c, cv) =>
        (r4(sq(sub(v, m), sub(cv, m))), c) }.min._2
      r4(sq(sub(probeV, m), sub(cbs.find(_._1 == code).get._2, m)))
    }.sum)
    val expected = vecs.map { sv =>
      val cell = seeds.map { case (cid, c) => (r4(sq(sv.v, c)), cid) }.min._2
      (sv.vec_id, cell, adcOf(sv.v))
    }.filter(t => probedCells(t._2)).sortBy(t => (t._3, t._1)).take(10).toSeq
    assert(got == expected, s"got $got\nexpected $expected")

    val scan = scanOf(res)
    assert(scan.partitionFilters.mkString(",").contains("cell"),
      s"cell isin never reached partitionFilters: ${scan.partitionFilters}")
    // the float payload is column-pruned at the scan: codes only
    assert(!scan.schema.fieldNames.contains("v"),
      s"stored-index search reads the float vectors: " +
        scan.schema.fieldNames.mkString(","))
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(s"$base/store").inputFiles.length
    assert(filesRead < totalFiles,
      s"no pruning: $filesRead of $totalFiles files read")
  }

  test("corpus selection ops column-prune the text payload at the scan") {
    // the text column is the 100 TB of a documents table; operators
    // that only SELECT docs (not read them) must never deserialize it
    for (name <- Seq("q_domain_cap", "q_corpus_sample", "q_leakage_split")) {
      val scan = scanOf(SparkEntry.queries(name)(spark, Sf))
      val cols = scan.schema.fieldNames.toSet
      assert(!cols.contains("text"),
        s"$name reads the text payload: ${cols.mkString(",")}")
    }
    // the pipeline needs text once (for the gate + hash) but its
    // windows must not carry it — checked in PlanShapeSpec; here:
    // the chunk op reads ONLY text + source
    val chunkScan = scanOf(SparkEntry.queries("q_doc_chunk")(spark, Sf))
    assert(chunkScan.schema.fieldNames.toSet == Set("text", "source"))
  }
}
