package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingCorpus

case class StreamDoc(doc_id: Long, text: String, ingest_time: Timestamp)

/** Incremental corpus landing (§2 #80): dedup-at-ingest, signature
  * parity with the batch path, and parquet landing across batches. */
class StreamingCorpusSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dedupIngest drops an exact re-post inside the horizon") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val out = StreamingCorpus.dedupIngest(input.toDF())
    val q = out.writeStream.format("memory").queryName("corpus_dedup")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamDoc(1, "spark table scan", ts("2024-01-01 10:00:00")),
      StreamDoc(2, "spark table scan", ts("2024-01-01 10:01:00")), // dup
      StreamDoc(3, "hash join probe", ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    val got = spark.table("corpus_dedup").collect()
    q.stop()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
  }

  test("streamed signatures are bit-identical to the batch projection") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamingCorpus.signatures(input.toDF())
      .writeStream.format("memory").queryName("corpus_sigs")
      .outputMode(OutputMode.Append).start()
    val texts = Seq(
      (10L, "key agg row scan slow fast table"),
      (11L, "batch window spark order data column"))
    input.addData(texts.map { case (id, t) =>
      StreamDoc(id, t, ts("2024-01-01 10:00:00")) })
    q.processAllAvailable()
    val streamed = spark.table("corpus_sigs").collect()
      .map(r => r.getLong(0) -> (0 until 8).map(i =>
        r.getAs[String](s"mh$i")).toSeq).toMap
    q.stop()
    val arr = graft.functions.hashes.minhashSlices(col("text"))
    val batch = texts.toDF("doc_id", "text")
      .select(col("doc_id") +: (0 until 8).map(i =>
        element_at(arr, i + 1).as(s"mh$i")): _*)
      .collect().map(r => r.getLong(0) -> (0 until 8).map(i =>
        r.getAs[String](s"mh$i")).toSeq).toMap
    assert(streamed == batch)
  }

  test("landSignatures appends a readable parquet signature store") {
    implicit val ctx = spark.sqlContext
    val store = tempDir("graft-sig-store").toString
    val ckpt = tempDir("graft-sig-ckpt").toString
    val input = MemoryStream[StreamDoc]
    input.addData(
      StreamDoc(1, "spark table scan runs fast", ts("2024-01-01 10:00:00")),
      StreamDoc(2, "spark table scan runs fast", ts("2024-01-01 10:00:30")),
      StreamDoc(3, "hash join probe build side", ts("2024-01-01 10:01:00")))
    val q1 = StreamingCorpus.landSignatures(input.toDF(), store, ckpt)
    q1.awaitTermination()
    // second landing cycle appends without rewriting the store
    input.addData(
      StreamDoc(4, "sort merge join spills to disk", ts("2024-01-01 10:20:00")))
    val q2 = StreamingCorpus.landSignatures(input.toDF(), store, ckpt)
    q2.awaitTermination()
    val landed = spark.read.parquet(store)
    assert(landed.columns.contains("mh0") && landed.columns.contains("mh7"))
    assert(landed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 4L)) // 2 deduped at ingest, 4 landed by cycle two
  }

  test("novelAgainstHistory drops historical dups beyond the watermark") {
    implicit val ctx = spark.sqlContext
    // history landed long ago — far outside any watermark horizon
    val history = Seq("spark table scan runs fast",
      "hash join probe build side").toDF("text")
      .select(xxhash64(col("text")).as("h"))
    val input = MemoryStream[StreamDoc]
    val out = StreamingCorpus.novelAgainstHistory(
      input.toDF(), history, expected = 100, fpp = 0.01)
    val q = out.writeStream.format("memory").queryName("novel_docs")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamDoc(1, "spark table scan runs fast", ts("2024-06-01 10:00:00")),
      StreamDoc(2, "sort merge join spills", ts("2024-06-01 10:00:10")),
      StreamDoc(3, "hash join probe build side", ts("2024-06-01 10:00:20")),
      StreamDoc(4, "window frame running sum", ts("2024-06-01 10:00:30")))
    q.processAllAvailable()
    val got = spark.table("novel_docs").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    // 1 and 3 re-post historical content — dropped with exact
    // semantics; the novel 2 and 4 land
    assert(got == Set(2L, 4L))
    // the gated stream drops no columns
    assert(spark.table("novel_docs").columns.sorted.toSeq ==
      Seq("doc_id", "ingest_time", "text"))
  }

  test("targetGate scores in-stream exactly like the batch DSIR model") {
    implicit val ctx = spark.sqlContext
    // model learned offline over the landed corpus
    val corpus = Tables.t(spark, Sf, "documents")
    val llr = CorpusOps.llrTable(corpus)
    val input = MemoryStream[StreamDoc]
    val q = StreamingCorpus.targetGate(input.toDF(), llr)
      .writeStream.format("memory").queryName("gated_docs")
      .outputMode(OutputMode.Append).start()
    // replay real corpus docs (both verdict classes) through the
    // stream: the gate must admit exactly the batch model's keep set,
    // with identical scores
    val batch = CorpusOps.importanceWeights(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getString(4))).toSeq
    val sampleIds = (batch.filter(_._3 == "keep").take(10) ++
      batch.filter(_._3 == "drop").take(10)).map(_._1).toSet
    val sample = corpus.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(d => sampleIds.contains(d._1))
    input.addData(sample.map { case (id, t) =>
      StreamDoc(id, t, ts("2024-01-01 10:00:00")) })
    q.processAllAvailable()
    val streamed = spark.table("gated_docs").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("llr_mean"))
      .toMap
    q.stop()
    val expected = batch
      .filter(r => sampleIds.contains(r._1) && r._3 == "keep")
      .map(r => r._1 -> r._2).toMap
    assert(streamed == expected)
    assert(expected.nonEmpty && streamed.size < sample.length)
  }

  test("semanticGate drops same-cell historical near-dups at ingest") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // frozen history: seeds e1/e2 (vec_id 0/1), one stored vector in
    // cell 0; cell 1's store is empty
    val history = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.1, 0.0, 0.0)),   // cell 0
      (3L, Array(0.71, 0.65, 0.0, 0.0))) // just inside cell 0
      .toDF("vec_id", "v")
    val (seeds, store) = StreamingCorpus.cellStoreOf(history, cells = 2)
    assert(seeds.map(_._1) == Seq(0L, 1L))
    val input = MemoryStream[StreamVec]
    val q = StreamingCorpus
      .semanticGate(input.toDF(), seeds, store, tau = 0.8)
      .writeStream.format("memory").queryName("gated_vecs")
      .outputMode(OutputMode.Append).start()
    input.addData(
      // cell 0, cosine vs stored (1, .1, 0, 0) ≈ 0.99 → dropped
      StreamVec(10L, Array(0.95, 0.2, 0.0, 0.0)),
      // equidistant tie → cell 0 (smallest cid), orthogonal → admitted
      StreamVec(11L, Array(0.0, 0.0, 1.0, 0.0)),
      // the documented cell-boundary blind spot: the mirror image of
      // stored vec 3 (cosine ≈ 0.996 ≥ τ) lands JUST inside cell 1,
      // where nothing stored reaches τ (best is the seed at 0.74) —
      // the straddling near-dup is admitted
      StreamVec(12L, Array(0.65, 0.71, 0.0, 0.0)))
    q.processAllAvailable()
    val got = spark.table("gated_vecs").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    q.stop()
    assert(got == Map(11L -> 0L, 12L -> 1L))
    // batch parity: the stream admits exactly what the batch anti-join
    // over the same frozen store admits
    val arriving = Seq(
      (10L, Array(0.95, 0.2, 0.0, 0.0)),
      (11L, Array(0.0, 0.0, 1.0, 0.0)),
      (12L, Array(0.65, 0.71, 0.0, 0.0))).toDF("vec_id", "v")
    val batch = StreamingCorpus
      .semanticGate(arriving, seeds, store, tau = 0.8)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(batch == got.keySet)
  }

  test("landVectors appends gated vectors cell-partitioned") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val history = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.1, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val (seeds, store) = StreamingCorpus.cellStoreOf(history, cells = 2)
    val base = tempDir("graft_land_vec").toString
    val input = MemoryStream[StreamVec]
    input.addData(
      StreamVec(10L, Array(0.95, 0.2, 0.0, 0.0)),  // dup of vec 2
      StreamVec(11L, Array(0.0, 0.0, 1.0, 0.0)),   // novel, cell 0
      StreamVec(12L, Array(0.1, 0.9, 0.0, 0.0)))   // dup of seed 1
    val q = StreamingCorpus.landVectors(input.toDF(), seeds, store,
      s"$base/store", s"$base/ck", tau = 0.8)
    q.awaitTermination()
    val landed = spark.read.parquet(s"$base/store")
    assert(landed.collect().map(_.getAs[Long]("vec_id")).toSet ==
      Set(11L))
    // the store is physically partitioned by cell — the layout the
    // next cycle's cell-keyed readers prune on
    assert(new java.io.File(s"$base/store").listFiles()
      .exists(_.getName.startsWith("cell=")))
  }
}

case class StreamVec(vec_id: Long, v: Array[Double])
