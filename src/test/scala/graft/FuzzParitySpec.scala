package graft

import org.apache.spark.sql.functions._

import graft.functions.vec

/** Randomized parity fuzzing for the fused Catalyst kernels against the
  * declarative formulations they replaced (VERDICT r9 #7). The corpus
  * is seeded-deterministic (no flaky reruns) and adversarial by
  * construction: empty strings, runs of separators, leading/trailing
  * spaces, supplementary-plane unicode (surrogate pairs), combining
  * diacritics, quotes/backslashes, and token repetition — the shapes
  * where a hand-rolled loop diverges from Spark's split/substring
  * semantics (UTF-16 vs code points, empty split tokens, first-seen
  * distinct order). Every compare is bit-for-bit (null-safe <=>)
  * except the float aggregate, which tolerates summation-order ULPs.
  */
class FuzzParitySpec extends SparkSuite {
  import spark.implicits._

  // 😀 and 𝔘 are supplementary-plane (2 UTF-16 units, 1 code point);
  // "é" is a combining accent (2 code points, 1 grapheme).
  private val Atoms = Vector("a", "b", "ab", "abc", "α", "ß", "😀", "𝔘",
    "é", "字", "'", "\"", "\\", "0", "zz😀z")

  private def corpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val rand = (1 to n).map { _ =>
      val parts = rng.nextInt(14)
      (0 until parts).map { _ =>
        rng.nextInt(7) match {
          case 0 => " "
          case 1 => "  " // double separator → empty split token
          case _ => Atoms(rng.nextInt(Atoms.length))
        }
      }.mkString
    }
    val pinned = Seq("", " ", "  ", "a", "😀", "😀😀abc", "a b c d",
      " a  b ", "😀 😀 😀 😀", "a a a a a", "\ta\tb", "é é x y")
    (pinned ++ rand).distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private def docs = corpus(20260813L, 400).toDF("doc_id", "text")

  test("fuzz: minhash_slices parity on adversarial text") {
    val d = docs.filter(size(split(col("text"), " ")) >= 3)
    val sh = d.select(col("doc_id"), explode(expr(
      """transform(sequence(1, size(split(text, ' '))-2),
        |  i -> concat_ws(' ', element_at(split(text, ' '), i),
        |    element_at(split(text, ' '), i+1),
        |    element_at(split(text, ' '), i+2)))""".stripMargin)).as("s"))
      .withColumn("h", md5(col("s").cast("binary")))
    val naiveAggs = (0 until 8).map(i =>
      min(substring(col("h"), 4 * i + 1, 4)).as(s"mh$i"))
    val naive = sh.groupBy(col("doc_id")).agg(naiveAggs.head, naiveAggs.tail: _*)
    val arr = graft.functions.hashes.minhashSlices(col("text"))
    val fused = d.select(col("doc_id") +: (0 until 8).map(i =>
      element_at(arr, i + 1).as(s"f$i")): _*)
    val joined = fused.join(naive, Seq("doc_id"))
    val bad = (0 until 8).map(i =>
      joined.filter(!(col(s"f$i") <=> col(s"mh$i"))).count()).sum
    assert(bad == 0)
  }

  test("fuzz: min_gram_md5 parity (code points, not UTF-16 units)") {
    val cmp = docs.select(
      graft.functions.hashes.minGramMd5(col("text"), 5).as("fused"),
      when(length(col("text")) >= 5, expr(
        "array_min(transform(sequence(1, length(text)-4), i -> md5(cast(substring(text, i, 5) as binary))))"))
        .as("naive"))
      .filter(!(col("fused") <=> col("naive")))
    assert(cmp.count() == 0)
  }

  test("fuzz: distinct_grams / distinct_gram_hashes parity") {
    val d = docs.filter(length(col("text")) >= 4)
    // first-seen order must match array_distinct's, element for element
    val cmp = d.select(
      transform(expr("array_distinct(transform(sequence(1, length(text)-3), i -> substring(text, i, 4)))"),
        g => xxhash64(g)).as("naive"),
      graft.functions.hashes.distinctGramHashes(col("text"), 4).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0)
  }

  test("fuzz: distinct_word_gram_hashes parity, md5 and xxhash64") {
    val d = docs.filter(size(split(col("text"), " ")) >= 4)
    def naive(hashFn: String) = expr(
      s"""array_distinct(transform(sequence(1, size(split(text, ' '))-3),
         |  i -> $hashFn(concat_ws(' ',
         |    element_at(split(text, ' '),i), element_at(split(text, ' '),i+1),
         |    element_at(split(text, ' '),i+2), element_at(split(text, ' '),i+3)))))""".stripMargin)
    for (fn <- Seq("md5", "xxhash64")) {
      val cmp = d.select(naive(fn).as("naive"),
        Grams.distinctWordGrams(col("text"), fn).as("fused"))
        .filter(!(col("naive") <=> col("fused")))
      assert(cmp.count() == 0, s"variant $fn diverges")
    }
    // below 4 words → null, on every adversarial short shape
    val short = docs.filter(size(split(col("text"), " ")) < 4)
      .select(Grams.distinctWordGrams(col("text"), "md5").as("g"))
      .filter(col("g").isNotNull)
    assert(short.count() == 0)
  }

  test("fuzz: word_gram_hashes parity (positional, duplicates kept)") {
    val d = docs.filter(size(split(col("text"), " ")) >= 4)
    val naive = expr(
      """transform(sequence(1, size(split(text, ' '))-3),
        |  i -> xxhash64(concat_ws(' ',
        |    element_at(split(text, ' '),i), element_at(split(text, ' '),i+1),
        |    element_at(split(text, ' '),i+2), element_at(split(text, ' '),i+3))))""".stripMargin)
    val cmp = d.select(naive.as("naive"),
      graft.functions.hashes.wordGramHashes(col("text"), 4).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0, "word_gram_hashes diverges")
    val short = docs.filter(size(split(col("text"), " ")) < 4)
      .select(graft.functions.hashes.wordGramHashes(col("text"), 4).as("g"))
      .filter(col("g").isNotNull)
    assert(short.count() == 0)
  }

  test("fuzz: bpe_token_count parity vs regexp_extract_all") {
    val cmp = docs.select(
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("naive"),
      graft.functions.text.bpeTokenCount(col("text")).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0, "bpe_token_count diverges from the regex")
  }

  test("fuzz: word_hashes parity (order and duplicates kept)") {
    val cmp = docs.select(
      expr("transform(split(text, ' '), w -> xxhash64(w))").as("naive"),
      graft.functions.hashes.wordHashes(col("text")).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0, "word_hashes diverges from xxhash64(split)")
  }

  test("fuzz: term_stats parity (token total + per-term counts)") {
    val terms = Seq("a", "ab", "😀", "")
    val ts = graft.functions.text.termStats(col("text"), terms)
    val naive = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"),
      array(terms.map(t0 =>
        size(filter(split(col("text"), " "), w => w === lit(t0)))
          .cast("long")): _*).as("cnts"))
    val fused = docs.select(col("doc_id"),
      ts.getField("dl").as("dl"), ts.getField("cnts").as("cnts"))
    val bad = fused.join(naive, Seq("doc_id"))
      .filter(!(fused("dl") <=> naive("dl")) ||
        !(fused("cnts") <=> naive("cnts")))
    assert(bad.count() == 0, "term_stats diverges from split/filter")
  }

  test("fuzz: simhash32 parity on adversarial text") {
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
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0)
  }

  test("fuzz: trigram_stats parity on adversarial text") {
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
  }

  test("fuzz: bucket_weight_sum parity on adversarial text") {
    val wts = Array.tabulate(256)(b => (b % 31 - 15) / 16.0)
    val wtsCol = array(wts.map(lit).toIndexedSeq: _*)
    val cmp = docs.select(
      aggregate(
        transform(split(col("text"), " "), tok => element_at(wtsCol,
          conv(substring(md5(tok), 3, 2), 16, 10).cast("int") + 1)),
        lit(0d), (acc, x) => acc + x).as("naive"),
      graft.functions.text.bucketWeightSum(col("text"), wts).as("fused"))
      .filter(!(col("naive") <=> col("fused"))) // exact, not approximate
    assert(cmp.count() == 0)
  }

  test("fuzz: hyperplane_bucket and squared_l2_distance on random vectors") {
    val rng = new scala.util.Random(42L)
    def rv(): Array[Double] = Array.fill(8)(rng.nextInt(6) match {
      case 0 => 0.0
      case 1 => (rng.nextInt(9) - 4) * 1e-300 // subnormal-adjacent
      case 2 => (rng.nextInt(9) - 4) * 1e300
      case _ => rng.nextDouble() * 2 - 1
    })
    val planes = Array.fill(6)(rv())
    val vecs = (1 to 200).map(_ => (rv(), rv()))
    val df = vecs.toDF("v", "u")
    val folds = planes.indices.map { p =>
      when(expr(
        s"aggregate(zip_with(v, array(${planes(p).mkString("D,")}D), " +
          "(x, c) -> x * c), 0D, (acc, x) -> acc + x)") > 0,
        lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    val cmpH = df.select(folds.as("naive"),
      vec.hyperplaneBucket(col("v"), planes).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmpH.count() == 0)
    val cmpD = df.select(
      expr("aggregate(zip_with(v, u, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")
        .as("naive"),
      vec.sqdist(col("v"), col("u")).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmpD.count() == 0)
  }

  test("fuzz: fast_md5 matches the built-in md5 on adversarial text") {
    val cmp = docs.select(
      md5(col("text").cast("binary")).as("naive"),
      graft.functions.hashes.md5(col("text")).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0)
  }

  test("fuzz: distinct_shingles / distinct_grams on adversarial text") {
    val dSh = docs.filter(size(split(col("text"), " ")) >= 3)
    // the hashed shingle kernel against xxhash64 of the declarative
    // distinct shingle strings
    val cmpSh = dSh.select(
      transform(expr(
        """array_distinct(transform(sequence(1, size(split(text, ' '))-2),
          |  i -> concat_ws(' ', element_at(split(text, ' '), i),
          |    element_at(split(text, ' '), i+1),
          |    element_at(split(text, ' '), i+2))))""".stripMargin),
        sh => xxhash64(sh)).as("naive"),
      graft.functions.hashes.distinctWordGramHashes(col("text"), 3,
        "xxhash64").as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmpSh.count() == 0) // first-seen order, element for element
    // (the gram half is "fuzz: distinct_grams / distinct_gram_hashes parity")
  }

  test("fuzz: cosine matches the aggregate/zip_with fold on random vectors") {
    val rng = new scala.util.Random(11L)
    def rv(): Array[Double] = Array.fill(8)(rng.nextInt(5) match {
      case 0 => 0.0
      case 1 => (rng.nextInt(9) - 4) * 1e-200
      case _ => rng.nextDouble() * 2 - 1
    })
    val df = ((1 to 150).map(_ => (rv(), rv())) :+
      (Array.fill(8)(0.0), rv())).toDF("a", "b") // zero norm → null
    // try_divide = the kernel's null-on-zero-norm contract (plain "/"
    // THROWS under ANSI, which is how the declarative formulation would
    // kill a whole job on one degenerate row — the kernel's null is the
    // production-safe behavior)
    val naive = expr(
      "try_divide(aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x), " +
        "sqrt(aggregate(transform(a, x -> x * x), 0D, (acc, x) -> acc + x)) * " +
        "sqrt(aggregate(transform(b, x -> x * x), 0D, (acc, x) -> acc + x)))")
    val cmp = df.select(naive.as("naive"),
      vec.cosine(col("a"), col("b")).as("fused"))
      .filter(!(col("naive") <=> col("fused")))
    assert(cmp.count() == 0)
  }

  test("fuzz: nearest_centroid matches the driver mirror incl. exact ties") {
    val rng = new scala.util.Random(23L)
    def rv(): Array[Double] = Array.fill(4)(
      (rng.nextInt(41) - 20) / 8.0) // representable values → exact ties
    val cents: Seq[(Long, Array[Double])] =
      (0L until 6L).map(i => (i, rv())) :+ (6L, Array(0.0, 0.0, 0.0, 0.0)) :+
        (7L, Array(0.0, 0.0, 0.0, 0.0)) // duplicate seed → cid tiebreak
    val vecs = (1 to 200).map(_ => rv()) :+ Array(0.0, 0.0, 0.0, 0.0)
    def mirror(v: Array[Double]): (Long, Double) =
      cents.map { case (cid, c) =>
        var acc = 0.0
        var i = 0
        while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
        (math.floor(acc * 10000.0 + 0.5) / 10000.0, cid)
      }.min match { case (d, cid) => (cid, d) }
    val got = vecs.toDF("v")
      .select(vec.nearestCentroid(col("v"), cents).as("m"))
      .select(col("m.cid"), col("m.dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == vecs.map(mirror))
  }

  test("fuzz: vector_sum matches the posexplode sum per group") {
    val rng = new scala.util.Random(7L)
    val rows = (1 to 300).map(i =>
      (i % 17, Array.fill(16)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("g", "v")
    val naive = df
      .select(col("g"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("g", "pos").agg(sum(col("x")).as("sx"))
    val fused = df.groupBy("g").agg(vec.vectorSum(col("v")).as("vs"))
      .select(col("g"), posexplode(col("vs")).as(Seq("pos", "fx")))
    val joined = naive.join(fused, Seq("g", "pos"))
      .filter(abs(col("sx") - col("fx")) > lit(1e-12) * greatest(
        abs(col("sx")), lit(1.0)))
    assert(joined.count() == 0)
    // null arrays are ignored; all-null group → null sum
    val withNulls = Seq((1, Some(Array(1.0, 2.0))), (1, None), (2, None))
      .toDF("g", "v")
    val r = withNulls.groupBy("g").agg(vec.vectorSum(col("v")).as("vs"))
      .orderBy("g").collect()
    assert(r(0).getSeq[Double](1) == Seq(1.0, 2.0))
    assert(r(1).isNullAt(1))
    // ragged rows throw rather than silently truncating
    val ragged = Seq(Array(1.0), Array(1.0, 2.0)).toDF("v").coalesce(1)
    assertThrows[org.apache.spark.SparkException] {
      ragged.agg(vec.vectorSum(col("v"))).collect()
    }
    // an empty array is DATA, not the no-input sentinel: an all-empty
    // group sums to an empty array (not null), and an empty array mixed
    // with non-empty rows is a ragged row like any other
    val allEmpty = Seq(Array.empty[Double], Array.empty[Double]).toDF("v")
    assert(allEmpty.agg(vec.vectorSum(col("v"))).head
      .getSeq[Double](0).isEmpty)
    val mixedEmpty =
      Seq(Array(1.0, 2.0), Array.empty[Double]).toDF("v").coalesce(1)
    assertThrows[org.apache.spark.SparkException] {
      mixedEmpty.agg(vec.vectorSum(col("v"))).collect()
    }
  }

  test("vector_sum mean: count(v) denominator matches the rows summed") {
    // a null embedding must not deflate the centroid mean — the
    // numerator (VectorSum skips nulls) and denominator (count(v))
    // must cover the same rows, mirroring the posexplode/avg oracle
    val df = Seq(
      (1, Some(Array(2.0, 4.0))), (1, Some(Array(4.0, 8.0))), (1, None))
      .toDF("g", "v")
    val r = df.groupBy("g")
      .agg(vec.vectorSum(col("v")).as("s"), count(col("v")).as("n"))
      .select(expr("transform(s, x -> x / n)").as("mean"))
      .head.getSeq[Double](0)
    assert(r == Seq(3.0, 6.0))
  }

  test("fuzz: json_long_field matches from_json LongType field") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rng = new scala.util.Random(4242L)
    val values = Vector("0", "7", "-13", "123456789012345", "1.5", "-0.25",
      "1e3", "2E-1", "\"5\"", "true", "false", "null", "01", "-",
      "9223372036854775807", "9223372036854775808", // Long.Max, Max+1
      "-9223372036854775808", "[1,2]", "{\"k\":9}", "{}",
      "\"a\\\"b\"", "\"\\u0041\"")
    val keys = Vector("k", "kk", "key", "\\u006b", "a\\\"b", "字")
    def doc(): String = {
      val nFields = rng.nextInt(5)
      val fields = (0 until nFields).map { _ =>
        s""""${keys(rng.nextInt(keys.length))}":${values(rng.nextInt(values.length))}"""
      }
      val ws = if (rng.nextBoolean()) " " else ""
      s"{$ws${fields.mkString(s",$ws")}$ws}"
    }
    val malformed = Seq("", "   ", "{", "}", "{\"k\":}", "{\"k\" 1}",
      "{\"k\":1", "[{\"k\":1}]", "5", "\"k\"", "{\"k\":1} x", "{\"k\":1}}",
      "{\"k\":1,}", "{,\"k\":1}", "{\"k\"\":1}", "not json",
      "{\"k\": 00}", "{\"k\":+1}", "{\"k\":--1}", "{\"k\":1 2}")
    val pinned = Seq(
      """{"k":1,"k":2}""", // duplicate: last wins
      """{"k":1,"k":1.5}""", // duplicate, last malformed -> null
      """{"k":1.5,"k":3}""", // duplicate, last good -> 3
      """{"a":{"k":9},"k":4}""", // nested k must not shadow top level
      """{"a":[{"k":9}],"b":"\"k\":7"}""", // k inside array/string only
      """{"\u006b":11}""", // escaped key decodes to k
      """{ "k" : 42 }""", """{"k":-0}""", """{"k":0}""",
      """{"a":[01],"k":1}""", // invalid token INSIDE a container
      """{"a":[1,-],"k":1}""",
      "{\"a\":\"x\ty\",\"k\":1}", // raw control char in a string value
      """{"a":truth,"k":1}""", // bad literal
      """{"a":[[[[[[1]]]]]],"k":5}""", // harmless deep nesting
      """{"k":1,"a":"\q"}""") // invalid escape after the value
    val docs = (pinned ++ malformed ++ (1 to 400).map(_ => doc()))
      .distinct.zipWithIndex.map { case (d, i) => (i.toLong, d) }
    val df = docs.toDF("id", "doc")
    val sch = StructType(Seq(StructField("k", LongType)))
    val cmp = df.select(col("id"), col("doc"),
        graft.functions.json.longField(col("doc"), "k").as("kern"),
        from_json(col("doc"), sch).getField("k").as("decl"))
      .filter(!(col("kern") <=> col("decl")))
      .collect()
    assert(cmp.isEmpty,
      s"divergence on: ${cmp.take(10).map(r => r.getString(1) +
        " kern=" + r.get(2) + " decl=" + r.get(3)).mkString(" | ")}")
  }

  test("fuzz: word_census matches explode(split) per-doc counts") {
    val naive = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val kern = docs
      .select(col("doc_id"),
        explode(graft.functions.hashes.wordCensus(col("text"))).as("wc"))
      .select(col("doc_id"), col("wc.word").as("w"), col("wc.c").as("c"))
    // exact bag equality both directions: every (doc, word) count
    // matches, nothing extra on either side
    val joined = naive.withColumnRenamed("c", "nc")
      .join(kern.withColumnRenamed("c", "kc"), Seq("doc_id", "w"), "full_outer")
    val bad = joined.filter(!(col("nc") <=> col("kc"))).collect()
    assert(bad.isEmpty, s"divergence: ${bad.take(10).mkString(" | ")}")
    // and within one doc the census is duplicate-free
    val dup = kern.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("k")).filter(col("k") > 1).count()
    assert(dup == 0)
  }

  test("fuzz: json_kv_pairs matches explode(from_json Map) — order, dups, rendering") {
    import org.apache.spark.sql.types.{MapType, StringType => SStr}
    val rng = new scala.util.Random(1616L)
    // scalar pool stresses every rendering rule: int text kept, -0
    // normalized, overflow ints raw, floats through double (1.50→1.5,
    // 1e2→100.0), strings decoded (incl. escapes + unicode), literals
    val scalars = Vector("0", "7", "-13", "-0", "123456789012345",
      "9223372036854775808", "-9223372036854775809", "1.5", "1.50",
      "-0.25", "1e3", "2E-1", "1E+2", "0.0",
      // overflow/underflow-exponent floats: the double is infinite
      // (rendered QUOTED by Jackson) or flushes to signed zero
      "1e999", "-1E+999", "1e-999", "-1e-999", "1.7976931348623159e308",
      "true", "false", "null",
      "\"x\"", "\"a\\\"b\"", "\"\\u0041\"", "\"x\\ny\"", "\"\\u001f\"",
      "\"😀字\"", "\"\"", "\"\\\\\"", "\"\\u00e9\"")
    def value(depth: Int): String =
      if (depth >= 2 || rng.nextInt(10) < 7)
        scalars(rng.nextInt(scalars.length))
      else if (rng.nextBoolean()) {
        val n = rng.nextInt(3)
        val ws = if (rng.nextBoolean()) " " else ""
        (0 until n).map(_ =>
          s""""k${rng.nextInt(3)}"$ws:$ws${value(depth + 1)}""")
          .mkString(s"{$ws", s",$ws", s"$ws}")
      } else {
        val n = rng.nextInt(4)
        val ws = if (rng.nextBoolean()) " " else ""
        (0 until n).map(_ => value(depth + 1))
          .mkString(s"[$ws", s",$ws", s"$ws]")
      }
    val keys = Vector("k", "kk", "a", "\\u006b", "a\\\"b", "字", "")
    def doc(): String = {
      val n = rng.nextInt(6)
      val ws = if (rng.nextBoolean()) " " else ""
      (0 until n).map(_ =>
        s""""${keys(rng.nextInt(keys.length))}"$ws:$ws${value(0)}""")
        .mkString(s"{$ws", s",$ws", s"$ws}")
    }
    val malformed = Seq("", "   ", "{", "}", "{\"k\":}", "{\"k\" 1}",
      "{\"k\":1", "[{\"k\":1}]", "5", "\"k\"", "{\"k\":1}}", "{\"k\":1,}",
      "{,\"k\":1}", "not json", "{\"k\": 00}", "{\"k\":+1}",
      "{\"a\":[01]}", "{\"a\":truth}", "{\"a\":\"\\q\"}",
      "{\"a\":\"x\ty\"}", "[1,2]")
    val pinned = Seq(
      """{"a":1,"a":2}""", // duplicates BOTH kept, in order
      """{"a":1,"b":2,"a":3}""",
      """{"n":null}""", // pair emitted with null VALUE
      """{}""", // empty map -> zero pairs after explode
      """{"o":{ "x" : [1, 2.50, "a\u0041"] }}""", // compact re-ser
      """{"k":-0,"f":-0.0}""", """  {"ws" : 7}  """,
      """{"t":1} trailing""", """{"deep":[[[{"z":"\u001F"}]]]}""")
    val docs = (pinned ++ malformed ++ (1 to 500).map(_ => doc()))
      .distinct.zipWithIndex.map { case (d, i) => (i.toLong, d) }
    val df = docs.toDF("id", "doc")
    val decl = df.select(col("id"),
        posexplode_outer(from_json(col("doc"), MapType(SStr, SStr))))
      .toDF("id", "pos", "dk", "dv")
    val kern = df.select(col("id"),
        posexplode_outer(graft.functions.json.kvPairs(col("doc"))))
      .select(col("id"), col("pos"), col("col.key").as("kk"),
        col("col.value").as("kv"))
    val joined = decl.join(kern, Seq("id", "pos"), "full_outer")
    val bad = joined.filter(
        !(col("dk") <=> col("kk")) || !(col("dv") <=> col("kv")))
      .join(df, Seq("id")).select(col("doc"), col("dk"), col("dv"),
        col("kk"), col("kv"))
      .collect()
    assert(bad.isEmpty, s"divergence on: ${bad.take(10).map(r =>
      s"${r.get(0)} decl=(${r.get(1)},${r.get(2)}) kern=(${r.get(3)},${r.get(4)})")
      .mkString(" | ")}")
  }
}
