package graft

/** DupRunBits buffer laws, unit-level (the end-to-end pin is the
  * span_extent brute-force spec): OR-merge across asymmetric partials
  * and the serialize/deserialize round trip. */
class DupRunBitsSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def buf(positions: Long*): graft.functions.DupRunBits.Buf = {
    val agg = graft.functions.DupRunBits(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = false))
    val b = agg.createAggregationBuffer()
    positions.foreach { p =>
      agg.update(b, org.apache.spark.sql.catalyst.InternalRow(p))
    }
    b
  }
  private def eval(b: graft.functions.DupRunBits.Buf): (Long, Long) = {
    val agg = graft.functions.DupRunBits(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = false))
    val a = agg.eval(b)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (a.getLong(0), a.getLong(1))
  }

  test("runs crossing word boundaries merge across partials") {
    val agg = graft.functions.DupRunBits(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = false))
    // positions 62,63 in one partial and 64,65 in another: the run
    // spans the 64-bit word boundary and only exists after the merge
    val merged = agg.merge(buf(62L, 63L), buf(64L, 65L, 200L))
    assert(eval(merged) == (5L, 4L))
    // merge with the empty buffer is identity either way
    assert(eval(agg.merge(buf(), buf(3L, 4L))) == (2L, 2L))
    assert(eval(agg.merge(buf(3L, 4L), buf())) == (2L, 2L))
  }

  test("serialize round-trips the bitmap") {
    val agg = graft.functions.DupRunBits(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = false))
    val b = buf(0L, 1L, 2L, 100L, 101L, 511L)
    assert(eval(agg.deserialize(agg.serialize(b))) == eval(b))
    assert(eval(b) == (6L, 3L))
  }
}

import org.apache.spark.sql.functions._

import graft.functions.vec

/** graft.functions custom Catalyst expressions (SURVEY §4). */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("cosine matches the aggregate/zip_with formulation bit-for-bit") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2, 0.3), Array(-0.4, 0.5, -0.6)),
      (Array(1e-8, 2e8, -3.5), Array(7.1, -2.2, 0.0))
    ).toDF("a", "b")
    val builtin = df.select(
      (expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)") /
        (sqrt(expr("aggregate(transform(a, x -> x * x), 0D, (acc, x) -> acc + x)")) *
          sqrt(expr("aggregate(transform(b, x -> x * x), 0D, (acc, x) -> acc + x)"))))
        .as("c")).collect().map(_.getDouble(0))
    val custom = df.select(vec.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(custom.sameElements(builtin)) // exact, not approximate
  }

  test("fast_md5 matches the built-in md5 exactly") {
    val df = Tables.t(spark, Sf, "documents").select(col("text"))
    val mismatches = df.select(
      md5(col("text").cast("binary")).as("builtin"),
      graft.functions.hashes.md5(col("text")).as("fast"))
      .filter(col("builtin") =!= col("fast"))
    assert(mismatches.count() == 0)
    // null propagation
    assert(spark.sql("SELECT 1").select(
      graft.functions.hashes.md5(lit(null).cast("string"))).head.isNullAt(0))
  }

  test("cosine is null on zero-norm input, mirroring Divide semantics") {
    val df = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(df.select(vec.cosine(col("a"), col("b"))).head.isNullAt(0))
  }

  test("cosine participates in whole-stage codegen") {
    val df = Tables.t(spark, Sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .select(vec.cosine(col("v"), col("v")).as("c"))
    // "*(n)" prefixes mark operators fused into WholeStageCodegen
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_similarity"))
    assert(df.filter(abs(col("c") - 1.0) > 1e-9).count() == 0) // self-cosine ≈ 1
  }

  test("min_gram_md5 matches the explode+min(md5(substring)) formulation") {
    val docs = Tables.t(spark, Sf, "documents")
      .filter(length(col("text")) >= 5).limit(50)
      .select(col("doc_id"), col("text"))
    val naive = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text)-3-1), i -> substring(text, i, 5))"))
        .as("g"))
      .groupBy(col("doc_id")).agg(min(md5(col("g").cast("binary"))).as("fp"))
    val fused = docs.select(col("doc_id"),
      graft.functions.hashes.minGramMd5(col("text"), 5).as("fp"))
    assert(fused.join(naive, Seq("doc_id"))
      .filter(naive("fp") =!= fused("fp")).count() == 0)
    // edge cases: shorter than width → null; non-ASCII grams hash the
    // same as substring+md5
    val edge = Seq("abc", "héllo wörld").toDF("text")
    val e = edge.select(
      graft.functions.hashes.minGramMd5(col("text"), 5).as("fp"),
      when(length(col("text")) >= 5, expr(
        "array_min(transform(sequence(1, length(text)-4), i -> md5(cast(substring(text, i, 5) as binary))))"))
        .as("naive"))
    assert(e.filter(!(col("fp") <=> col("naive"))).count() == 0)
  }

  test("minhash_slices matches the explode+8-slice-min formulation") {
    val docs = Tables.t(spark, Sf, "documents").limit(50)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 3)
    val sh = docs
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(split(text, ' '))-2),
          |  i -> concat_ws(' ', element_at(split(text, ' '), i),
          |    element_at(split(text, ' '), i+1),
          |    element_at(split(text, ' '), i+2)))""".stripMargin)).as("s"))
      .withColumn("h", md5(col("s").cast("binary")))
    val naiveAggs = (0 until 8).map(i =>
      min(substring(col("h"), 4 * i + 1, 4)).as(s"mh$i"))
    val naive = sh.groupBy(col("doc_id"))
      .agg(naiveAggs.head, naiveAggs.tail: _*)
    val arr = graft.functions.hashes.minhashSlices(col("text"))
    val fused = docs.select(col("doc_id") +: (0 until 8).map(i =>
      element_at(arr, i + 1).as(s"mh$i")): _*)
    val joined = fused.as("f").join(naive.as("n"), Seq("doc_id"))
    val bad = (0 until 8).map(i =>
      joined.filter(col(s"f.mh$i") =!= col(s"n.mh$i")).count()).sum
    assert(bad == 0)
    // repeated spaces produce empty split tokens — both paths must agree
    val tricky = Seq("a  b c", "x y z  ").toDF("text")
    val tf = tricky.select(graft.functions.hashes.minhashSlices(col("text"))
      .as("a")).collect()
    assert(tf.forall(!_.isNullAt(0)))
  }

  test("fused md5 kernels return null correctly UNDER CODEGEN") {
    // spark.range is not folded by ConvertToLocalRelation, so this
    // projection runs through WholeStageCodegen — the path where a
    // null result with an unset isNull flag would corrupt the row
    val df = spark.range(3).select(
      when(col("id") === 0, "ab")          // < width → null fingerprint
        .when(col("id") === 1, "one two")  // < 3 words → null minhash
        .otherwise("alpha beta gamma delta").as("text"))
    val out = df.select(
      graft.functions.hashes.minGramMd5(col("text"), 5).as("fp"),
      graft.functions.hashes.minhashSlices(col("text")).as("mh"))
      .collect()
    assert(out.count(_.isNullAt(0)) == 1) // only "ab"
    assert(out.count(_.isNullAt(1)) == 2) // "ab" and "one two"
    assert(out.exists(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("squared_l2_distance matches the zip_with fold bit-for-bit") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2, 0.3), Array(-0.4, 0.5, -0.6)),
      (Array(1e-8, 2e8, -3.5), Array(7.1, -2.2, 0.0))
    ).toDF("a", "b")
    val builtin = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"))
      .collect().map(_.getDouble(0))
    val custom = df.select(vec.sqdist(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(custom.sameElements(builtin)) // exact, not approximate
    // null propagation
    assert(Seq((Array(1.0), Option.empty[Array[Double]])).toDF("a", "b")
      .select(vec.sqdist(col("a"), col("b"))).head.isNullAt(0))
    // ragged arrays → null even when BOTH children are non-nullable
    // (literal arrays): the expression must declare nullable=true or
    // codegen's non-nullable branch assigns an undeclared isNull and
    // the interpreted fallback's null can read back as 0.0
    assert(spark.range(1)
      .select(vec.sqdist(array(lit(1.0), lit(2.0)), array(lit(3.0))))
      .head.isNullAt(0))
  }

  test("nearest_centroid: argmin, 4dp rounding, smallest-cid tiebreak") {
    val cents: Seq[(Long, Array[Double])] = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)), (2L, Array(0.0, 0.0)))
    // (0.5, 0) is exactly equidistant (0.25) from cids 0, 1 AND the
    // duplicate seed 2 → the smallest cid must win; (0.9, 0) is
    // nearest cid 1
    val df = Seq(Array(0.5, 0.0), Array(0.9, 0.0)).toDF("v")
    val got = df.select(
      vec.nearestCentroid(col("v"), cents).as("m"))
      .select(col("m.cid"), col("m.dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got(0) == ((0L, 0.25)))
    assert(got(1) == ((1L, 0.01))) // 0.1² = 0.010000000000000002 → r4
    // matches the declarative argmin-over-rounded-distances exactly
    val decl = df.select(expr(
      """array_min(transform(array(
        |  struct(round(aggregate(zip_with(v, array(0D, 0D), (x, c) -> (x-c)*(x-c)), 0D, (a, x) -> a + x) * 10000) / 10000 AS dist, 0L AS cid),
        |  struct(round(aggregate(zip_with(v, array(1D, 0D), (x, c) -> (x-c)*(x-c)), 0D, (a, x) -> a + x) * 10000) / 10000 AS dist, 1L AS cid),
        |  struct(round(aggregate(zip_with(v, array(0D, 0D), (x, c) -> (x-c)*(x-c)), 0D, (a, x) -> a + x) * 10000) / 10000 AS dist, 2L AS cid)), s -> s))"""
        .stripMargin).getField("cid")).collect().map(_.getLong(0))
    assert(got.map(_._1).sameElements(decl))
  }

  test("hyperplane_bucket matches the per-plane fold formulation") {
    val planes = Array(
      Array(1.0, -2.0, 0.5), Array(-0.3, 0.0, 0.7), Array(0.0, 0.0, 0.0))
    val df = Seq(
      Array(1.0, 1.0, 1.0), Array(-1.0, 0.5, 2.0), Array(0.0, 0.0, 0.0)
    ).toDF("v")
    val folds = (0 until 3).map { p =>
      val coefs = array(planes(p).map(lit).toIndexedSeq: _*)
      when(expr(
        s"aggregate(zip_with(v, array(${planes(p).mkString("D,")}D), " +
          "(x, c) -> x * c), 0D, (acc, x) -> acc + x)") > 0,
        lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    val expect = df.select(folds).collect().map(_.getLong(0))
    val got = df.select(
      graft.functions.vec.hyperplaneBucket(col("v"), planes))
      .collect().map(_.getLong(0))
    assert(got.sameElements(expect))
  }

  test("bloom_might_contain: no false negatives and null-in-null-out") {
    val hashes = spark.range(0, 1000).select(xxhash64(col("id")).as("h"))
    val bf = hashes.stat.bloomFilter("h", 1000, 0.01)
    val misses = hashes.select(
      graft.functions.bloom.mightContain(col("h"), bf).as("m"))
      .filter(!col("m")).count()
    assert(misses == 0, "bloom filter produced a false negative")
    assert(spark.range(1).select(
      graft.functions.bloom.mightContain(lit(null).cast("long"), bf))
      .head.isNullAt(0))
  }

  test("trigram_stats matches the transform+array_distinct formulation") {
    val docs = Tables.t(spark, Sf, "documents").select(col("doc_id"), col("text"))
      .limit(200)
    val naive = docs
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        greatest(size(col("w")) - 2, lit(0)).cast("long").as("n_tri"),
        when(size(col("w")) >= 3, size(array_distinct(expr(
          "transform(sequence(0, size(w)-3)," +
            " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))).cast("long"))
          .otherwise(0L).as("n_uniq"))
    val fused = docs.select(col("doc_id"),
      graft.functions.text.trigramStats(col("text")).as("ts"))
      .select(col("doc_id"), col("ts.n_tri"), col("ts.n_uniq"))
    assert(fused.except(naive).count() == 0)
    assert(naive.except(fused).count() == 0)
    // degenerate inputs: < 3 words → (0, 0); null in, null out
    val edge = Seq("", "a", "a b").toDF("text")
      .select(graft.functions.text.trigramStats(col("text")).as("ts"))
      .select(col("ts.n_tri"), col("ts.n_uniq")).collect()
    assert(edge.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
    assert(spark.range(1).select(graft.functions.text.trigramStats(
      lit(null).cast("string"))).head.isNullAt(0))
  }

  test("bucket_weight_sum matches the aggregate(transform(md5)) fold") {
    val wts = Array.tabulate(256)(b => (b % 31 - 15) / 16.0)
    val wtsCol = array(wts.map(lit).toIndexedSeq: _*)
    val docs = Tables.t(spark, Sf, "documents").select(col("text")).limit(200)
    val naive = docs.select(
      aggregate(
        transform(split(col("text"), " "), tok => element_at(wtsCol,
          conv(substring(md5(tok), 3, 2), 16, 10).cast("int") + 1)),
        lit(0d), (acc, x) => acc + x)).collect().map(_.getDouble(0))
    val fused = docs.select(
      graft.functions.text.bucketWeightSum(col("text"), wts))
      .collect().map(_.getDouble(0))
    assert(fused.sameElements(naive)) // exact, not approximate
  }

  test("distinct_word_gram_hashes matches the transform+array_distinct chain") {
    // parity with the declarative formulation the fused kernel replaced
    // (Grams.scala pre-kernel), over real corpus text PLUS edge shapes:
    // exactly 4 words, repeated grams (distinct must collapse), empty
    // tokens from double spaces (split keeps them — so must the kernel)
    val edge = Seq("a b c d", "a b c d a b c d a b c d e",
      "x  y z w", " lead and trail ").toDF("text")
    val docs = Tables.t(spark, Sf, "documents").select(col("text"))
      .limit(200).union(edge)
    def naive(hashFn: String) = expr(
      s"""array_distinct(transform(sequence(1, size(split(text, ' '))-3),
         |  i -> $hashFn(concat_ws(' ',
         |    element_at(split(text, ' '),i), element_at(split(text, ' '),i+1),
         |    element_at(split(text, ' '),i+2), element_at(split(text, ' '),i+3)))))""".stripMargin)
    for (fn <- Seq("md5", "xxhash64")) {
      val cmp = docs.filter(size(split(col("text"), " ")) >= 4).select(
        naive(fn).as("naive"),
        Grams.distinctWordGrams(col("text"), fn).as("fused"))
        .filter(col("naive") =!= col("fused"))
      assert(cmp.count() == 0, s"variant $fn diverges")
    }
    // below 4 words the kernel is null (callers filter on word count)
    assert(Seq("a b c").toDF("text")
      .select(Grams.distinctWordGrams(col("text"), "md5"))
      .head.isNullAt(0))
  }

  test("distinct_gram_hashes is xxhash64 of distinct_grams, elementwise") {
    // the long-keyed kernel must be exactly xxhash64 (seed 42) of the
    // distinct string-gram set: same order, same length
    val docs = Tables.t(spark, Sf, "documents").select(col("text"))
      .limit(200).union(Seq("abcd", "aaaaa", "😀😀abc").toDF("text"))
      .filter(length(col("text")) >= 4)
    val cmp = docs.select(
      transform(expr("array_distinct(transform(sequence(1, length(text)-3), " +
        "i -> substring(text, i, 4)))"), g => xxhash64(g)).as("mapped"),
      graft.functions.hashes.distinctGramHashes(col("text"), 4).as("fused"))
      .filter(col("mapped") =!= col("fused"))
    assert(cmp.count() == 0)
    assert(Seq("abc").toDF("text")
      .select(graft.functions.hashes.distinctGramHashes(col("text"), 4))
      .head.isNullAt(0))
  }

  test("width-3 word-gram hashes are xxhash64 of distinct_shingles") {
    // lshPairs carries its shingle sets as longs; they must be exactly
    // xxhash64 of the distinct shingle strings, first-seen order
    val docs = Tables.t(spark, Sf, "documents").select(col("text"))
      .limit(200).union(Seq("a b c", "a b c d a b c").toDF("text"))
      .filter(size(split(col("text"), " ")) >= 3)
    val cmp3 = docs.select(
      transform(expr(
        """array_distinct(transform(sequence(1, size(split(text, ' '))-2),
          |  i -> concat_ws(' ', element_at(split(text, ' '), i),
          |    element_at(split(text, ' '), i+1),
          |    element_at(split(text, ' '), i+2))))""".stripMargin),
        sh => xxhash64(sh)).as("mapped"),
      graft.functions.hashes.distinctWordGramHashes(col("text"), 3,
        "xxhash64").as("fused"))
      .filter(col("mapped") =!= col("fused"))
    assert(cmp3.count() == 0)
  }

  test("simhash32 matches the explode + 32-bit-sum aggregate formulation") {
    val docs = Tables.t(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).limit(300)
      .union(Seq((900001L, "x"), (900002L, ""), (900003L, "a a a b"))
        .toDF("doc_id", "text"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val bitSums = (0 until 32).map { j =>
      val p = Seq(8, 4, 2, 1)(j % 4)
      sum(expr(
        s"2 * (((instr('0123456789abcdef', substr(h, ${j / 4 + 1}, 1)) - 1) div $p) % 2) - 1"))
        .as(s"s$j")
    }
    val naive = toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        expr((0 until 32)
          .map(j => s"CASE WHEN s$j > 0 THEN cast(${1L << j} as bigint) ELSE cast(0 as bigint) END")
          .mkString(" + ")).as("naive"))
    val cmp = docs.select(col("doc_id"),
      graft.functions.hashes.simHash32(col("text")).as("fused"))
      .join(naive, Seq("doc_id"))
      .filter(col("naive") =!= col("fused"))
    assert(cmp.count() == 0) // bit-for-bit, incl. empty/repeated tokens
  }

  test("sorted_long_intersect_count matches size(array_intersect) on " +
      "sorted set arrays") {
    // the candidate-verify kernel vs the built-in it replaced, over
    // real per-doc gram sets (self-paired with shifted neighbors) plus
    // edge shapes: empty arrays, disjoint, identical, single overlap
    val docs = Tables.t(spark, Sf, "documents")
      .filter(size(split(col("text"), " ")) >= 3).limit(200)
      .select(col("doc_id"), sort_array(
        graft.functions.hashes.distinctWordGramHashes(col("text"), 3,
          "xxhash64")).as("gs"))
    val pairs = docs.as("a").join(docs.as("b"),
      col("a.doc_id") + 1 === col("b.doc_id") ||
        col("a.doc_id") === col("b.doc_id"))
    val diverge = pairs.select(
      size(array_intersect(col("a.gs"), col("b.gs"))).cast("long")
        .as("builtin"),
      graft.functions.hashes.sortedLongIntersectCount(
        col("a.gs"), col("b.gs")).as("fused"))
      .filter(col("builtin") =!= col("fused"))
    assert(diverge.count() == 0)
    val edge = Seq(
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(-5L, 0L, 7L), Array(7L, 9L, 11L))).toDF("x", "y")
    val got = edge.select(graft.functions.hashes
      .sortedLongIntersectCount(col("x"), col("y"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 0L, 3L, 1L))
  }

  test("min_gram_md5 counts code points, not UTF-16 units") {
    // a supplementary char (surrogate pair in UTF-16) must gram like
    // Spark's substring — by code point
    val df = spark.range(1).select(lit("😀abcdef").as("text"))
    val fused = df.select(
      graft.functions.hashes.minGramMd5(col("text"), 5)).head.getString(0)
    val naive = df.select(expr(
      "array_min(transform(sequence(1, length(text)-4), i -> md5(cast(substring(text, i, 5) as binary))))"))
      .head.getString(0)
    assert(fused == naive)
  }
}
