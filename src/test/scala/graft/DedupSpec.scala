package graft

import org.apache.spark.sql.functions._

/** Dedup building blocks on hand-built inputs. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("candidate-member prune leaves lshPairs rows identical") {
    // the pruned verify path (candidate checkpoint + semi join on the
    // member ids) must emit exactly the unpruned rows — the prune is a
    // pure exchange-volume optimization gated on input size, so force
    // both paths at sf0.001 via the conf and compare
    val key = Dedup.PruneMinInputBytes
    def rows(thresh: String): Seq[(Long, Long, Long, Long, Long, Double)] = {
      spark.conf.set(key, thresh)
      try Dedup.lshPairs(spark, Sf).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
      finally spark.conf.unset(key)
    }
    val unpruned = rows(Long.MaxValue.toString)
    val pruned = rows("0")
    assert(pruned.nonEmpty, "vacuous: no candidate pairs at sf0.001")
    assert(pruned == unpruned)
  }

  test("a malformed prune threshold fails naming its conf key") {
    val key = Dedup.PruneMinInputBytes
    spark.conf.set(key, "256m")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.pruneGate(Tables.t(spark, Sf, "documents")))
      assert(e.getMessage.contains(key) && e.getMessage.contains("256m"))
    } finally spark.conf.unset(key)
  }

  test("connectedComponents labels a multi-hop chain with its min id") {
    // chain 10-20-30-40 (diameter 3 → needs >1 propagation round),
    // separate pair 100-200, isolated-by-absence docs don't appear
    val pairs = Seq(
      (10L, 20L), (20L, 30L), (30L, 40L),
      (100L, 200L)
    ).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      100L -> 100L, 200L -> 100L))
  }

  test("spanExtent matches a brute-force longest-duplicated-run scan") {
    val docs = Tables.t(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val grams = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(4).filter(_.length == 4)
        .map(_.mkString(" ")).toVector
    }.filter(_._2.nonEmpty)
    val docSets = grams.map { case (id, gs) => id -> gs.toSet }
    val shared = docSets.flatMap(_._2.map(g => g))
      .groupBy(identity).collect {
        case (g, _) if docSets.count(_._2.contains(g)) > 1 => g
      }.toSet
    val expected = grams.map { case (id, gs) =>
      val dup = gs.map(shared.contains)
      var run = 0; var best = 0; var nd = 0
      dup.foreach { d =>
        if (d) { run += 1; nd += 1; best = math.max(best, run) }
        else run = 0
      }
      (id, gs.length.toLong, nd.toLong, best.toLong,
        if (best == 0) 0L else best + 3L)
    }.sortBy(_._1)
    val got = Dedup.spanExtent(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected && expected.exists(_._4 > 0),
      "span extents must match and the corpus must contain a real run")
  }

  test("spanExtent finds a planted verbatim cross-doc span") {
    val dir = tempDir("graft_span_extent").toString
    // doc 2 quotes a 6-word span of doc 1 → run of 3 windows, span 6
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique1 unique2", "en",
        "a", 0L),
      (2L, "other words alpha beta gamma delta epsilon zeta tail", "en",
        "b", 0L),
      (3L, "completely different content with no overlap at all", "en",
        "c", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.spanExtent(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == (3L, 6L) && got(2L) == (3L, 6L) &&
      got(3L) == (0L, 0L))
  }

  test("connectedComponents merges components discovered via bridges") {
    // two cliques joined by one bridge edge
    val pairs = Seq(
      (5L, 6L), (6L, 7L), (8L, 9L), (7L, 8L)
    ).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.sameElements(Array(5L)))
  }

  test("randomized: connectedComponents matches union-find") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val nNodes = 30 + rnd.nextInt(20)
      val edges = (0 until nNodes).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter { case (a, b) => a != b }
      // union-find reference with min-id canonical labels
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(n => n -> find(n)).toMap
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: edges=$edges")
    }
  }

  test("sourceOverlap segments beyond 64 sources into mask planes") {
    // 70 sources → 2 mask planes. Each source carries one unique
    // 4-gram; pair (i, i+35) shares exactly one 4-gram. Every doc has
    // 5 sliding 4-grams (8 words), so jaccard = 1/(5+5-1) = 0.1111.
    val docs = (0 until 70).map { i =>
      val j = if (i < 35) i else i - 35
      (f"src$i%02d",
        s"u${i}a u${i}b u${i}c u${i}d s${j}a s${j}b s${j}c s${j}d")
    }.toDF("source", "text")
    val out = Dedup.sourceOverlapOf(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 35)
    for (i <- 0 until 35) {
      val key = (f"src$i%02d", f"src${i + 35}%02d")
      assert(out(key) == ((1L, 0.1111)), s"pair $key: ${out.get(key)}")
    }
  }

  test("containmentJoin matches brute-force all-pairs containment") {
    // at sf0.001 every gram's df is far below the dfCap guard, so the
    // prefix-filtered output must equal the exhaustive all-pairs scan
    val docs = Tables.t(spark, Sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      if (w.length < 4) None
      else Some(id -> w.sliding(4).map(_.mkString(" ")).toSet)
    }.toMap
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = sa.intersect(sb).size
      c = inter.toDouble / math.min(sa.size, sb.size)
      if c >= 0.5
    } yield (a, b,
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq.sortBy(p => (p._1, p._2))
    val got = Dedup.containmentJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected && expected.nonEmpty)
  }

  test("fuzz: prefix-filter candidates are lossless vs all-pairs containment") {
    // random small-vocab corpora force heavy gram sharing — the worst
    // case for a candidate filter; with the df cap not binding, the
    // prefix theorem says output must equal the exhaustive scan exactly
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val docs: Seq[(Long, Seq[String])] = (0 until 14).map { i =>
        (i.toLong, Seq.fill(4 + rnd.nextInt(9))("w" + rnd.nextInt(10)))
      }
      // splice a few true containments: doc 3/7/11 embed their
      // predecessor's full text
      val spliced = docs.map { case (id, ws) =>
        if (id % 4 == 3) (id, docs((id - 1).toInt)._2 ++ ws) else (id, ws)
      }
      val gramSets: Map[Long, Set[String]] = spliced.map { case (id, ws) =>
        id -> ws.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
      }.toMap
      val gramIds = gramSets.values.flatten.toSeq.distinct.sorted.zipWithIndex
        .map { case (g, i) => g -> (i + 1).toLong }.toMap
      val df = gramSets.toSeq
        .map { case (id, gs) => (id, gs.map(gramIds).toSeq) }
        .toDF("doc_id", "gs")
      val got = Dedup.containmentJoinOf(df, ct = 0.5, dfCap = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val expected = (for {
        (a, sa) <- gramSets; (b, sb) <- gramSets if a < b
        inter = sa.intersect(sb).size
        c = inter.toDouble / math.min(sa.size, sb.size)
        if c >= 0.5
      } yield (a, b, BigDecimal(c)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(got == expected, s"round $round")
      assert(expected.nonEmpty, s"round $round degenerate")
    }
  }

  test("fuzz: verified output is tie-order independent under a BINDING " +
      "df cap (eligible-only prefix ranking)") {
    // boilerplate spliced into EVERY doc gives grams with df = n_docs,
    // far above the cap — the cap binds hard. With eligibility applied
    // BEFORE ranking, the verified output is a theorem over tie orders:
    // a true pair's smaller side A either keeps >= L eligible grams
    // (any L grams of A contain a shared one) or its whole eligible set
    // A' is the prefix (found iff A' ∩ B nonempty — a set condition).
    // The reference here replays the exact semantics under TWO opposite
    // tie orders and demands identical verified output, then checks the
    // engine agrees with it.
    val ct = 0.5
    val cap = 3
    val rnd = new scala.util.Random(13)
    for (round <- 1 to 5) {
      val boiler = Seq("bp0", "bp1", "bp2", "bp3", "bp4", "bp5")
      val docs: Seq[(Long, Seq[String])] = (0 until 14).map { i =>
        (i.toLong,
          boiler ++ Seq.fill(5 + rnd.nextInt(9))("w" + rnd.nextInt(8)))
      }
      val spliced = docs.map { case (id, ws) =>
        if (id % 4 == 3) (id, docs((id - 1).toInt)._2 ++ ws) else (id, ws)
      }
      val gramSets: Map[Long, Set[String]] = spliced.map { case (id, ws) =>
        id -> ws.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
      }.toMap
      val gramIds = gramSets.values.flatten.toSeq.distinct.sorted.zipWithIndex
        .map { case (g, i) => g -> (i + 1).toLong }.toMap
      val sets: Map[Long, Set[Long]] =
        gramSets.map { case (id, gs) => id -> gs.map(gramIds) }
      val dfm: Map[Long, Int] =
        sets.values.flatten.groupBy(identity).map { case (g, v) => g -> v.size }
      // the cap must actually bind: boilerplate grams exceed it
      assert(dfm.values.max > cap, s"round $round: cap never binds")

      def verified(tieAsc: Boolean): Set[(Long, Long, Double)] = {
        val prefix: Map[Long, Set[Long]] = sets.map { case (id, gs) =>
          val l = math.floor((1.0 - ct) * gs.size).toLong + 1
          val eligible = gs.toSeq.filter(g => dfm(g) <= cap)
            .sortBy(g => (dfm(g), if (tieAsc) g else -g))
          id -> eligible.take(l.toInt).toSet
        }
        (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          if prefix(a).exists(sb) || prefix(b).exists(sa)
          inter = sa.intersect(sb).size
          c = inter.toDouble / math.min(sa.size, sb.size)
          if c >= ct
        } yield (a, b, BigDecimal(c)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      }
      val asc = verified(tieAsc = true)
      val desc = verified(tieAsc = false)
      assert(asc == desc,
        s"round $round: tie order changed the verified output under a " +
          s"binding cap — asc ${asc.diff(desc)} desc ${desc.diff(asc)}")
      assert(asc.nonEmpty, s"round $round degenerate")
      val df = sets.toSeq.map { case (id, gs) => (id, gs.toSeq) }
        .toDF("doc_id", "gs")
      val got = Dedup.containmentJoinOf(df, ct = ct, dfCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == asc, s"round $round: engine disagrees with the " +
        s"reference semantics — got-only ${got.diff(asc)}, " +
        s"ref-only ${asc.diff(got)}")
    }
  }

  test("lsh candidate pairs never include a doc paired with itself") {
    val cand = Dedup.lshCandidates(Dedup.minhashSignatures(spark, Sf))
      .filter(col("doc_a") >= col("doc_b"))
    assert(cand.isEmpty)
  }
}
