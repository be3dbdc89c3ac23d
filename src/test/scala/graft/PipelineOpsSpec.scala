package graft

import org.apache.spark.sql.functions._

/** Specs for the round-8 pipeline operators: PII scan/redaction (the
  * synthetic corpus is PII-free, so the kernels are proven on planted
  * documents here), the hashed-feature quality classifier, the filter
  * funnel, and PQ-ANN.
  */
class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  private val planted = Seq(
    (1L, "contact me at alice.smith+work@example.co.uk or bob@test.io"),
    (2L, "server 10.1.2.3 and 192.168.0.255 responded"),
    (3L, "ssn 123-45-6789 phone 555-123-4567 end"),
    (4L, "nothing sensitive here at all"),
    (5L, "mixed: a@b.com from 8.8.8.8 called 555.867.5309"))

  test("pii patterns count planted matches exactly") {
    val df = planted.toDF("doc_id", "text")
    val counted = TextOps.PiiPatterns.foldLeft(df) {
      case (d, (name, pat)) =>
        d.withColumn(s"c_$name", regexp_count(col("text"), lit(pat)))
    }
    val rows = counted.orderBy("doc_id")
      .select("c_email", "c_ipv4", "c_ssn", "c_phone")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows(0) == ((2, 0, 0, 0)))
    assert(rows(1) == ((0, 2, 0, 0)))
    assert(rows(2) == ((0, 0, 1, 1)))
    assert(rows(3) == ((0, 0, 0, 0)))
    assert(rows(4) == ((1, 1, 0, 1)))
  }

  test("pii redaction replaces every match with a typed placeholder") {
    val out = planted.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.piiRedact(col("text")).as("red"))
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(out(1L) == "contact me at [EMAIL] or [EMAIL]")
    assert(out(2L) == "server [IPV4] and [IPV4] responded")
    assert(out(3L) == "ssn [SSN] phone [PHONE] end")
    assert(out(4L) == "nothing sensitive here at all")
    assert(out(5L) == "mixed: [EMAIL] from [IPV4] called [PHONE]")
    // redacted text re-scans clean
    val rescanned = planted.toDF("doc_id", "text")
      .select(TextOps.piiRedact(col("text")).as("text"))
    TextOps.PiiPatterns.foreach { case (_, pat) =>
      assert(rescanned.filter(regexp_count(col("text"), lit(pat)) > 0)
        .count() == 0L)
    }
  }

  test("pii scan over the synthetic corpus is a verified zero-census") {
    val r = TextOps.piiScan(spark, Sf)
    assert(r.agg(sum("n_flagged"), sum("n_email"), sum("n_ipv4"),
      sum("n_ssn"), sum("n_phone")).collect().head.toSeq
      .forall(_ == 0L))
  }

  test("quality classifier: scores are sigmoid-bounded and verdict-consistent") {
    val r = Materialize.frame(TextOps.qualityClassifier(spark, Sf))
    assert(r.count() > 0)
    assert(r.filter(col("score") <= 0.0 || col("score") >= 1.0).count() == 0)
    assert(r.filter(
      (col("score") >= 0.5 && col("verdict") =!= "keep") ||
        (col("score") < 0.5 && col("verdict") =!= "drop")).count() == 0)
    // first-principles pin: a doc whose every token is "spark" must
    // score exactly sigmoid(4·w(bucket("spark"))), with bucket and
    // weight recomputed here independently of the production code
    def hx(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bucket = Integer.parseInt(hx("spark").substring(2, 4), 16)
    val w =
      (2 * "0123456789abcdef".indexOf(hx(s"qw:$bucket").charAt(0)) - 15) / 16.0
    val avgW = BigDecimal(w).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val expected = BigDecimal(1.0 / (1.0 + math.exp(-4.0 * avgW.toDouble)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docsDir = tempDir("qc_pin").toString
    Seq((0L, "spark spark spark", "en", "pin", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val pinned = TextOps.qualityClassifier(spark, docsDir)
      .select("avg_w", "score").as[(Double, Double)].head()
    assert(pinned == ((avgW.toDouble, expected)))
  }

  test("filter funnel stages are monotonically non-increasing") {
    val r = CorpusOps.filterFunnel(spark, Sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val Seq(n, p1, p2, p3, p4) = Seq("n_docs", "n_len", "n_wordlen",
        "n_stopword", "n_final").map(c => row.getAs[Long](c))
      assert(n >= p1 && p1 >= p2 && p2 >= p3 && p3 >= p4 && p4 >= 0)
    }
    // the funnel actually discriminates at sf0.001 (not all-pass/all-fail)
    val tot = CorpusOps.filterFunnel(spark, Sf)
      .agg(sum("n_docs"), sum("n_final")).as[(Long, Long)].head()
    assert(tot._2 > 0 && tot._2 < tot._1)
  }

  test("pq-ann: codebook members decode to themselves and ADC is exact for them") {
    // for a vector IN the codebook, every subspace argmin is its own
    // codeword (distance 0 beats any tie), so its ADC distance equals
    // the probe's true distance-table sum for that codeword
    val r = Ann.pqAnn(spark, Sf, probeId = 0L, k = 1000)
      .filter(col("vec_id") < 16 && col("vec_id") =!= 0)
      .orderBy("vec_id")
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val exact = e.filter(col("vec_id") < 16 && col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), Num.r4(expr(
        """aggregate(zip_with(v, pv, (x, y) -> (x-y)*(x-y)),
          | 0D, (acc, x) -> acc + x)""".stripMargin)).as("true_d"))
    // ADC sums per-subspace distances each rounded to 4dp; allow the
    // accumulated rounding (8 subspaces × 5e-5) against the exact sum
    val joined = r.join(exact, "vec_id")
      .select(abs(col("adc_dist") - col("true_d")).as("err"))
      .agg(max("err")).as[Double].head()
    assert(joined < 8 * 5e-5 + 1e-9, s"codebook ADC err $joined")
  }

  test("projection encode (pqCodeArray) equals the aggregate encode " +
      "(pqCodes) on every vector") {
    // two implementations of the same per-subspace argmin: the batch
    // crossJoin×min(struct) aggregate and the driver-folded
    // NearestCentroid projection the streaming landing stamps
    // (landVectorsPq). They must agree code-for-code, or the stored
    // index would disagree with the query-time encode it stands in for.
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
    val agg = Ann.pqCodes(e, Ann.pqCodebook(e))
      .groupBy("vec_id")
      .agg(map_from_arrays(collect_list(col("m")),
        collect_list(col("code"))).as("mc"))
      .select(col("vec_id"), expr(
        "transform(sequence(0, 7), m -> mc[m])").as("agg_codes"))
    val proj = e.select(col("vec_id"),
      Ann.pqCodeArray(Ann.pqCodebookOf(e)).as("proj_codes"))
    val diff = agg.join(proj, "vec_id")
      .filter(expr("exists(zip_with(agg_codes, proj_codes, " +
        "(a, b) -> a <> b), x -> x)"))
      .count()
    assert(diff == 0, s"$diff vectors encode differently")
    assert(agg.count() == e.count())
  }

  test("pq-ann top-10 is deterministic and overlaps exact L2 top-10") {
    val a = Ann.pqAnn(spark, Sf).collect().map(_.getLong(0)).toSeq
    val b = Ann.pqAnn(spark, Sf).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val exactTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), expr(
        """aggregate(zip_with(v, pv, (x, y) -> (x-y)*(x-y)),
          | 0D, (acc, x) -> acc + x)""".stripMargin).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    // PQ with a 16-vector demo codebook is coarse; require SOME signal
    // (random top-10-of-500 overlap would be ~0.2 elements)
    assert(a.toSet.intersect(exactTop).size >= 2,
      s"pq top10 $a vs exact $exactTop")
  }
}
