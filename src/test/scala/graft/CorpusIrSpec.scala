package graft

import org.apache.spark.sql.functions._

/** Round-8 corpus/IR operators: k-means (Ann.kmeans), BM25 + TF-IDF
  * (TextOps), cross-document repeated spans (Dedup.spanDedup). Each is
  * pinned against a brute-force Scala reimplementation on sf0.001 (the
  * DuckDB hash oracle is the cross-engine gate; this pins semantics
  * against an independent in-process model) plus the plan shapes the
  * 100 TB story depends on. */
class CorpusIrSpec extends SparkSuite {

  /** Half-up 4dp rounding — Spark's round()/Num.r4 semantics (math.rint
    * would do banker's rounding: 0.03125 → .0312, not .0313). */
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val docs: Seq[(Long, String)] =
    Tables.t(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  // --- k-means -------------------------------------------------------

  test("kmeans partitions every vector and is deterministic") {
    val n = Tables.t(spark, Sf, "embeddings").count()
    val out = Ann.kmeans(spark, Sf).collect()
    assert(out.map(_.getLong(1)).sum == n)
    val again = Ann.kmeans(spark, Sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("kmeans survives a null embedding (dropped from the update, " +
      "like the old exploded shape silently did)") {
    // NearestCentroid is null-intolerant: without the pre-assignment
    // filter, a null vector forms a null-cid group whose VectorSum is
    // null and the driver-side centroid divide NPEs
    import spark.implicits._
    val dir = tempDir("graft_kmeans_null").toString
    val rows = (0L until 12L).map { i =>
      val v: Option[Seq[Float]] =
        if (i == 7L) None
        else Some(Seq.tabulate(64)(d => ((i % 3) * 10 + d % 5).toFloat))
      (i, v, s"l${i % 3}")
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Ann.kmeans(spark, dir, k = 3, iters = 2).collect()
    assert(out.nonEmpty)
    // the 11 non-null vectors all land in a cluster; the null row is
    // censused under the null cluster (assignment of null v is null)
    assert(out.map(_.getLong(1)).sum == 12L)
  }

  test("kmeans total inertia does not increase with a second iteration") {
    def inertia(iters: Int): Double =
      Ann.kmeans(spark, Sf, iters = iters).collect()
        .map(r => r.getLong(1) * r.getDouble(2)).sum
    assert(inertia(2) <= inertia(1) + 1e-6)
  }

  test("kmeans argmin is a fused projection, not a window or a join") {
    // centroids are driver-folded into the NearestCentroid expression:
    // the census plan is scan → narrow argmin → one tiny groupBy — no
    // per-vector window sort, no K-fold join expansion of any kind
    val plan = Ann.kmeans(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "kmeans plans a Window")
    assert(!plan.contains("Join"), "kmeans re-grew a centroid join")
    assert(plan.contains("nearest_centroid"),
      "kmeans lost its fused argmin expression")
  }

  test("kmeans Lloyd update aggregates vectors, not exploded dims") {
    // the round-13 loss shape: posexplode(v) → groupBy(cid, pos)
    // multiplied every row D× BEFORE the exchange. The update must be
    // the VectorSum shape (a D-length buffer per group): capture every
    // plan kmeans executes and assert none Generates (explodes) rows.
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // the listener bus is shared and async: late onSuccess events from
    // a PREVIOUS test's action can arrive after registration, so keep
    // only plans that are recognizably kmeans's own — every kmeans
    // action past seeding (2 updates + census, and the regression's
    // exploded update too) carries the fused nearest_centroid argmin
    def mine = plans.synchronized(
      plans.filter(_.contains("nearest_centroid")).toList)
    spark.listenerManager.register(l)
    try {
      Ann.kmeans(spark, Sf).collect()
      // listener delivery is async: 2 update iterations + final census
      // = 3 argmin-bearing actions; bounded wait for all to arrive
      val deadline = System.nanoTime() + 10e9.toLong
      while (mine.size < 3 &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(l)
    assert(mine.size >= 3,
      "listener never saw kmeans's 3 argmin actions")
    val exploded = mine.filter(_.contains("Generate"))
    assert(exploded.isEmpty,
      s"kmeans executed ${exploded.size} plan(s) with a Generate " +
        "(posexplode row expansion before the update exchange)")
    assert(mine.exists(_.contains("vector_sum")),
      "kmeans update lost its VectorSum aggregate")
  }

  // --- BM25 ----------------------------------------------------------

  test("bm25 matches a brute-force scorer") {
    val terms = Seq("spark", "table", "scan")
    val (k1, b) = (1.2, 0.75)
    val lens = docs.map { case (id, t) => id -> t.split(" ").length }.toMap
    val avgdl = lens.values.sum.toDouble / lens.size
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ").filter(terms.contains).map(w => (id, w))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val df = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size }
    val idf = df.map { case (w, d) =>
      w -> math.log(1 + (lens.size - d + 0.5) / (d + 0.5))
    }
    val scores = tf.groupBy(_._1._1).map { case (id, m) =>
      id -> m.map { case ((_, w), f) =>
        idf(w) * (f * (k1 + 1)) /
          (f + k1 * (1 - b + b * lens(id) / avgdl))
      }.sum
    }
    val expected = scores.toSeq
      .map { case (id, sc) => (id, r4(sc)) }
      .sortBy { case (id, sc) => (-sc, id) }.take(10)
    val got = TextOps.bm25(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
  }

  test("bm25 idf side is broadcast, top-k is a TakeOrdered") {
    val plan = TextOps.bm25(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // --- TF-IDF --------------------------------------------------------

  test("tfidf emits ranks 1..3 per source with non-increasing weights") {
    val out = TextOps.tfidfTerms(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val bySrc = out.groupBy(_._1)
    assert(bySrc.nonEmpty)
    for ((_, rows) <- bySrc) {
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2, 3))
      val ws = rows.sortBy(_._4).map(_._3)
      assert(ws.zip(ws.tail).forall { case (a, bb) => a >= bb })
    }
  }

  // --- span dedup ----------------------------------------------------

  // --- sequence packing ---------------------------------------------

  test("seqPack conserves every document and token within its stream") {
    val perDoc = docs.map { case (id, t) => (id, t.split(" ").length) }
    val out = CorpusOps.seqPack(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._3).sum == perDoc.size)     // every doc packed once
    assert(out.map(_._4).sum == perDoc.map(_._2).sum) // every token
    // bins start at 0 and are strictly increasing per stream. They are
    // NOT necessarily dense: a doc longer than the 256-token budget
    // legitimately skips the bins it straddles (bin = the window its
    // START falls in), so density would reject correct output on a
    // corpus with longer documents.
    for ((stream, bins) <- out.groupBy(_._1)) {
      val ids = bins.map(_._2).sorted.toSeq
      assert(ids.head == 0L, s"stream $stream starts at bin ${ids.head}")
      assert(ids.distinct == ids, s"stream $stream repeats a bin: $ids")
    }
  }

  // --- BPE pair census ----------------------------------------------

  test("bpePairs matches a brute-force merge-pair census") {
    val wordFreq = docs.flatMap(_._2.split(" ", -1))
      .filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    val pairFreq = scala.collection.mutable.Map[String, Long]()
    for ((w, f) <- wordFreq; i <- 0 until w.length - 1)
      pairFreq(w.substring(i, i + 2)) =
        pairFreq.getOrElse(w.substring(i, i + 2), 0L) + f
    val expected = pairFreq.toSeq
      .sortBy { case (p, f) => (-f, p) }.take(50)
    val got = TextOps.bpePairs(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("bpeTrain matches a brute-force Sennrich merge loop") {
    val wordFreq = docs.flatMap(_._2.split(" ", -1))
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    var vocab: Map[Vector[String], Long] = wordFreq
      .groupBy { case (w, _) => w.map(_.toString).toVector }
      .map { case (syms, entries) => syms -> entries.values.sum }
    val expected =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    for (step <- 1 to 8) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        pairs((syms(i), syms(i + 1))) =
          pairs.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((a, b), fr) = pairs.toSeq
        .sortBy { case ((x, y), c) => (-c, x, y) }.head
      expected += ((step, a, b, a + b, fr))
      vocab = vocab.toSeq.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }.groupBy(_._1).map { case (sy, es) => sy -> es.map(_._2).sum }
    }
    val got = TextOps.bpeTrain(spark, Sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == expected.toSeq)
  }

  test("bpeEncode matches a brute-force encode under the learned merges") {
    val rows = Tables.t(spark, Sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // learn (same brute-force loop as the train spec)
    val wordFreq = rows.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    var vocab: Map[Vector[String], Long] = wordFreq
      .groupBy { case (w, _) => w.map(_.toString).toVector }
      .map { case (syms, es) => syms -> es.values.sum }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def apply1(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    for (_ <- 1 to 8) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        pairs((syms(i), syms(i + 1))) =
          pairs.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((a, b), _) = pairs.toSeq
        .sortBy { case ((x, y), c) => (-c, x, y) }.head
      merges += ((a, b))
      vocab = vocab.toSeq.map { case (sy, f) => (apply1(sy, a, b), f) }
        .groupBy(_._1).map { case (sy, es) => sy -> es.map(_._2).sum }
    }
    def encLen(w: String): Long = {
      var syms = w.map(_.toString).toVector
      for ((a, b) <- merges) syms = apply1(syms, a, b)
      syms.length.toLong
    }
    val expected = rows
      .flatMap { case (src, t) =>
        t.split(" ", -1).filter(_.nonEmpty).map(w => (src, w)) }
      .groupBy(_._1).toSeq
      .map { case (src, ws) =>
        val nWords = ws.size.toLong
        val nTok = ws.map(w => encLen(w._2)).sum
        (src, nWords, nTok,
          BigDecimal(nTok.toDouble / nWords)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(_._1)
    val got = TextOps.bpeEncode(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected)
    // merges strictly compress: avg tokens/word below the char count
    assert(got.forall(_._4 >= 1.0) && got.exists(_._4 > 1.0))
  }

  test("bpeTrain merge application is greedy left-to-right ('a a a' case)") {
    import spark.implicits._
    val dir = tempDir("graft_bpe_train").toString
    // corpus = "aaa" x3: merge 1 must be (a,a) f=6 (pairs aa@0, aa@1,
    // per word 2 obs x3 words); applying it greedily leaves [aa, a],
    // so merge 2 is (aa, a) f=3 — an overlap-aware application that
    // merged both pairs (or re-counted 'a a' after a blind replace)
    // produces a different table.
    Seq((1L, "aaa aaa aaa", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.bpeTrain(spark, dir, merges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(4))).toSeq
    assert(got == Seq((1, "a", "a", 6L), (2, "aa", "a", 3L)))
  }

  test("bpe loop stops early on a dry corpus; encode still applies what it learned") {
    import spark.implicits._
    val dir = tempDir("graft_bpe_dry").toString
    // vocab = {"ab"}: merge 1 = (a,b); afterwards every word is one
    // symbol — no pairs remain, the loop must stop at 1 merge (the
    // 8-iteration request must not fail or fabricate merges)
    Seq((1L, "ab ab", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val trained = TextOps.bpeTrain(spark, dir, merges = 8).collect()
    assert(trained.map(r => (r.getInt(0), r.getString(3))).toSeq ==
      Seq((1, "ab")))
    val enc = TextOps.bpeEncode(spark, dir, merges = 8).collect()
    assert(enc.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("s", 2L, 2L)),
      "2 words, each encoded as the single merged token")
  }

  // --- PMI collocations ----------------------------------------------

  test("bpe learn loop lineage stays bounded (periodic re-materialization)") {
    import spark.implicits._
    // a 40-merge run over a synthetic vocab wide enough to never run
    // dry: distinct 3-char words over a (26, 26, 10) alphabet. Each
    // merge layers one replace projection on the vocab; the loop must
    // snap the lineage every BpeMaterializeEvery merges so a
    // production-scale vocabulary (32k merges) pays flat per-iteration
    // plan cost, not an O(merges²) re-optimize of the full chain.
    def sym(word: String) = " " + word.flatMap(c => s" $c ") + " "
    val words = (0 until 80).map { i =>
      s"${('a' + i % 26).toChar}${('A' + (i / 3) % 26).toChar}" +
        s"${('0' + i % 10).toChar}"
    }.distinct
    val vocab = words.zipWithIndex
      .map { case (w, i) => (sym(w), (i + 7).toLong) }.toDF("w", "f")
    val (learned, v) = TextOps.bpeLearnLoop(vocab, merges = 40)
    assert(learned.size == 40, s"vocab ran dry at ${learned.size} merges")
    assert(learned.forall { case (_, a, b, m, f) => m == a + b && f > 0 })
    // the final vocab's lineage is anchored at the last materialization:
    // at most BpeMaterializeEvery stacked projections above the
    // checkpoint scan — never the full 40-merge chain
    val projections = v.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.size
    assert(projections <= TextOps.BpeMaterializeEvery,
      s"lineage grew past the materialization bound: $projections " +
        "stacked projections")
    assert(projections >= 1, "expected the post-checkpoint merge chain")
  }

  test("pmiPairs matches a brute-force collocation census") {
    val texts = docs.map(_._2)
    val bigrams = texts.flatMap(_.split(" ", -1).sliding(2)
      .filter(_.length == 2).map(a => (a(0), a(1))))
    val cab = bigrams.groupBy(identity).map { case (p, o) => p -> o.size }
    val uni = texts.flatMap(_.split(" ", -1))
      .groupBy(identity).map { case (w, o) => w -> o.size }
    val n = bigrams.size.toDouble
    val expected = cab.toSeq
      .filter(_._2 >= 5)
      .map { case ((wa, wb), c) =>
        (wa, wb, c.toLong, r4(math.log((c * n) / (uni(wa).toLong * uni(wb))))) }
      .sortBy { case (wa, wb, _, pmi) => (-pmi, wa, wb) }
      .take(30)
    val got = TextOps.pmiPairs(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected && expected.nonEmpty)
  }

  test("pmiPairs survives single-token and empty documents") {
    // sequence(1, 0) is DESCENDING [1, 0] in Spark — without the
    // size >= 2 guard a one-word doc (or empty text: split yields one
    // element) reaches element_at(hs, 0) and throws. Pin on a corpus
    // the generated testdata never produces.
    import spark.implicits._
    val dir = tempDir("graft_pmi_guard").toString
    Seq((1L, "", "en", "s", 0L), (2L, "solo", "en", "s", 4L),
      (3L, "alpha beta alpha beta alpha beta alpha beta alpha beta",
        "en", "s", 53L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.pmiPairs(spark, dir, minCount = 2, k = 5).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("alpha", "beta"), ("beta", "alpha")))
  }

  // --- DSIR importance weights ---------------------------------------

  test("importanceWeights matches a brute-force bucket-LLR model") {
    val rows = Tables.t(spark, Sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bucket(w: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      ((d(1) >> 4) & 0xf) * 16 + (d(1) & 0xf)
    }
    val cr = Array.fill(256)(0L); val ct = Array.fill(256)(0L)
    for ((_, lang, text) <- rows; w <- text.split(" ", -1)) {
      val b = bucket(w); cr(b) += 1; if (lang == "en") ct(b) += 1
    }
    val nr = cr.sum.toDouble; val nt = ct.sum.toDouble
    val llr = Array.tabulate(256) { b =>
      val w = math.log((ct(b) + 1.0) / (nt + 256)) -
        math.log((cr(b) + 1.0) / (nr + 256))
      math.floor(w * 1024 + 0.5) / 1024
    }
    val expected = rows.map { case (id, lang, text) =>
      val ws = text.split(" ", -1)
      val mean = ws.map(w => llr(bucket(w))).sum / ws.length
      val r = BigDecimal(mean)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, lang, ws.length.toLong, r, if (r > 0) "keep" else "drop")
    }.sortBy(_._1).toSeq
    val got = CorpusOps.importanceWeights(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSeq
    assert(got == expected)
    // the model must actually separate the target: English docs score
    // higher on average than the rest
    val (en, rest) = got.partition(_._2 == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    assert(en.map(_._4).sum / en.size > rest.map(_._4).sum / rest.size)
  }

  // --- deterministic training-order shuffle --------------------------

  test("corpusShuffle is a reproducible seed-keyed permutation") {
    val out = CorpusOps.corpusShuffle(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every document appears exactly once
    assert(out.map(_._3).sorted.toSeq == docs.map(_._1).sorted)
    // positions are dense 1..n within each stream
    for ((stream, rows) <- out.groupBy(_._1))
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.size).toSeq,
        s"stream $stream positions not dense")
    // same seed → identical order; different seed → different order
    val again = CorpusOps.corpusShuffle(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
    val reseeded = CorpusOps.corpusShuffle(spark, Sf, seed = "ep2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq != reseeded.toSeq)
    assert(reseeded.map(_._3).sorted.toSeq == docs.map(_._1).sorted)
  }

  test("corpusShuffle numbering never funnels through one partition") {
    // the row_number window must be hash-partitioned on stream — a
    // global ORDER BY window would plan a SinglePartition exchange
    val plan = CorpusOps.corpusShuffle(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"shuffle numbering collapsed to one partition:\n$plan")
    // the LIBRARY path (totalOrder = false, the default) must also plan
    // no global range sort: production loaders read streams
    // independently, so the only exchange is the stream hash partition
    assert(!plan.contains("rangepartitioning"),
      s"library path plans a global range sort:\n$plan")
  }

  test("corpusShuffle library path is per-stream ordered in place") {
    // within every physical partition, each stream's rows appear in
    // ascending pos order (the order a per-worker loader reads) — no
    // total-order sort needed to consume the epoch
    val bad = CorpusOps.corpusShuffle(spark, Sf)
      .select(col("stream"), col("pos"))
      .rdd.mapPartitions { it =>
        val last = scala.collection.mutable.Map.empty[Long, Long]
        var violations = 0L
        it.foreach { r =>
          val (s0, p) = (r.getLong(0), r.getLong(1))
          if (last.getOrElse(s0, 0L) >= p) violations += 1
          last(s0) = p
        }
        Iterator.single(violations)
      }.collect().sum
    assert(bad == 0L, s"$bad out-of-order rows inside stream runs")
  }

  // --- source overlap ------------------------------------------------

  test("sourceOverlap matches a brute-force pairwise Jaccard") {
    val srcDocs = Tables.t(spark, Sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = srcDocs.groupBy(_._1).map { case (src, rows) =>
      src -> rows.flatMap { case (_, t) =>
        val w = t.split(" ")
        if (w.length < 4) Seq.empty
        else w.sliding(4).map(_.mkString(" ")).toSeq
      }.toSet
    }
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size if inter > 0
    } yield (a, b, inter.toLong,
      r4(inter.toDouble / (sa.size + sb.size - inter))))
      .toSeq.sortBy(x => (x._1, x._2))
    val got = Dedup.sourceOverlap(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected)
  }

  test("spanDedup matches a brute-force 4-gram model") {
    val gramSets = docs.map { case (id, t) =>
      val w = t.split(" ")
      id -> (if (w.length < 4) Set.empty[String]
             else w.sliding(4).map(_.mkString(" ")).toSet)
    }.filter(_._2.nonEmpty)
    val counts = gramSets.flatMap(_._2).groupBy(identity)
      .map { case (g, v) => g -> v.size }
    val expected = gramSets.map { case (id, gs) =>
      val dup = gs.count(g => counts(g) > 1)
      (id, gs.size.toLong, dup.toLong, r4(dup.toDouble / gs.size))
    }.sortBy(_._1)
    val got = Dedup.spanDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
  }
}
