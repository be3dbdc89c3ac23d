package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2 #26-31: deduplication operators for training-data
  * pipelines. All are composition of built-in codegen'd expressions —
  * signatures are computed in a single projection pass (no shuffle);
  * only candidate generation shuffles, on (band, bucket) keys, and every
  * exact-similarity verification (Jaccard, cosine, hamming) runs on LSH
  * candidates ONLY — the engine never materializes O(n²) pairs, and the
  * corpus-wide data never enters a pairwise join.
  */
object Dedup {
  import Tables.t

  private val NumHashes = 8

  /** Word-level 3-shingles per doc, WITH duplicates: every consumer
    * aggregates with duplicate-insensitive functions (min for minhash,
    * collect_set for the exact-Jaccard sets), so the explicit distinct —
    * a full extra shuffle of the exploded corpus — is pure waste and is
    * omitted. Docs with <3 words are dropped before the sequence() so
    * the bound never goes negative (Spark's sequence(1, n<1) is
    * DESCENDING, not empty — unlike the oracle's generate_series). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w)-2),
          |  i -> concat_ws(' ', element_at(w,i), element_at(w,i+1),
          |                 element_at(w,i+2)))""".stripMargin)).as("sh"))

  /** #27 MinHash signatures: the whole shingle→md5→8-slice-min fold
    * runs inside one codegen'd expression (MinhashSlices) — a narrow
    * projection with NO explode and NO shuffle (codegen subexpression
    * elimination computes the array once for the 8 extractions).
    * lshPairs keeps the aggregation form because it also needs the
    * per-doc shingle SET for exact Jaccard. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val arr = graft.functions.hashes.minhashSlices(col("text"))
    t(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        element_at(arr, i + 1).as(s"mh$i")): _*)
  }

  /** Bucket-size cap applied before every bucket self-join: a
    * degenerate hot bucket with f members yields f²/2 pairs no matter
    * how good the banding is (boilerplate/empty docs at web scale), so
    * buckets above the cap are skipped entirely — standard LSH skew
    * hygiene. The count runs as a window over the same keys the
    * downstream self-join shuffles on — co-partitioned, no extra
    * shuffle, one pass over the signature table. */
  private val MaxBucket = 100

  private[graft] def dropHotBuckets(df: DataFrame, keys: Seq[String],
      cap: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bsz") <= cap)
      .drop("__bsz")
  }

  /** LSH banding (4 bands × 2 rows) → DISTINCT candidate pairs. The
    * only pairwise join in the dedup path, and it joins on (band
    * bucket) keys — docs colliding in ≥1 band — never on raw content;
    * hot buckets above MaxBucket are dropped before the join. */
  def lshCandidates(sig: DataFrame): DataFrame = {
    // Band keys are xxhash64 LONGS over (band-index, slice, slice) — the
    // bucket is a pure grouping key that never reaches any output (the
    // downstream self-join emits verified doc pairs only). The keys are
    // collision-resistant, not injective: a collision merges two
    // buckets, and output still agrees with the oracle's md5-string
    // buckets because every spurious candidate from the merge must pass
    // the exact-Jaccard verify like any other (the residual risk, a
    // merge tipping a bucket over MaxBucket, needs a collision: at most
    // ~n²/2⁶⁵ odds over n band keys). 8-byte keys halve the banding
    // exchange — the dedup family's single largest shuffle (docs-1000x
    // trace: 2.2 GB per pass, zero spill) — and drop four md5 string
    // kernels per doc (guide §2.3 "narrower types").
    val bands = sig.select(col("doc_id"), explode(array(
      xxhash64(lit(0), col("mh0"), col("mh1")),
      xxhash64(lit(1), col("mh2"), col("mh3")),
      xxhash64(lit(2), col("mh4"), col("mh5")),
      xxhash64(lit(3), col("mh6"), col("mh7")))).as("bucket"))
    val sized = dropHotBuckets(bands, Seq("bucket"))
    sized.as("ba")
      .join(sized.as("bb"),
        col("ba.bucket") === col("bb.bucket") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
      .distinct()
  }

  private def candidateDocs(cand: DataFrame): DataFrame =
    cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()

  /** #28 LSH banding → candidate pairs → exact Jaccard on candidates
    * ONLY: the per-doc state (8 minhash aggregates + shingle set +
    * count) is computed in a SINGLE groupBy over one shingle explode —
    * one shuffle of the corpus, linear — then banding yields candidate
    * pairs and intersections are computed per candidate pair via
    * array_intersect over the per-doc sets. A hot shingle shared by f
    * docs costs f rows here, never f²; no pairwise work happens before
    * the candidate filter. */
  def lshPairs(s: SparkSession, dir: String): DataFrame = {
    // The whole per-doc state (8-slice minhash signature + distinct
    // shingle set + its count) is a PROJECTION — MinhashSlices +
    // DistinctWordGramHashes fold per-doc, so there is no shingle
    // explode and no aggregation shuffle at all. The shingle set is
    // carried as xxhash64 longs, not trigram text: only intersection
    // COUNTS reach the output (injective-invariant; the oracle keys raw
    // shingles), and 8-byte elements shrink the persisted signature
    // table and the pair-join traffic severalfold. The frame is then
    // MATERIALIZED once with an eager localCheckpoint: three consumers
    // read it (banding + both pair-side joins), and at 100 TB this is
    // exactly the signature table you'd persist.
    // Shingle sets are stored SORTED (one sort_array per document at
    // signature-build time) so the pair verify is the allocation-free
    // SortedLongIntersectCount merge — size(array_intersect) built a
    // hash set + the intersection array per candidate pair for a count
    // (candidates outnumber docs ~6x on a near-dup-heavy corpus;
    // measured 1.9 -> 1.2 s on the 10x verify stage).
    val docs = t(s, dir, "documents")
    lshPairsFrom(
      docShFrame(docs).transform(graft.Materialize.frame), pruneGate(docs))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The per-doc signature state behind [[lshPairs]] (8-slice minhash +
    * sorted shingle-hash set + count), as a plain projection over a
    * documents frame — the caller materializes it (three consumers). */
  private[graft] def docShFrame(docs: DataFrame): DataFrame = {
    val arr = graft.functions.hashes.minhashSlices(col("text"))
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id") +:
        ((0 until NumHashes).map(i => element_at(arr, i + 1).as(s"mh$i")) :+
          sort_array(graft.functions.hashes.distinctWordGramHashes(
            col("text"), 3, "xxhash64")).as("shs")): _*)
      .withColumn("nsh", size(col("shs")).cast("long"))
  }

  /** Conf key + gate for the candidate-member prune in [[lshPairsFrom]]:
    * prune when the documents input (leaf parquet stats, i.e. file
    * bytes) is at least this large. The prune costs one extra action
    * (the candidate checkpoint — exchange reuse does NOT dedupe the
    * banding pipeline across the spine and the member aggregate;
    * measured r22: the no-checkpoint variant re-ran banding and read
    * ~0.2 s/query slower at sf0.1) and saves the verify joins' shingle
    * exchange. At sf0.1 (≈30 MB input, ≈2 MB exchange) the extra
    * dispatch-floor job costs more than the exchange; at docs-1000×
    * (557 MB input) the prune cut the family's largest shuffle 2.2 GB →
    * 35 MB (1.37% candidate membership). 256 MB input sits between the
    * two regimes on the measured overhead (~0.1-0.15 s/job) vs savings
    * (~GB/pass) curves; production tunes it like any CBO threshold. */
  private[graft] val PruneMinInputBytes =
    "spark.graft.dedup.pruneMinInputBytes"

  private[graft] def pruneGate(docs: DataFrame): Boolean = {
    val raw = docs.sparkSession.conf
      .get(PruneMinInputBytes, (256L << 20).toString)
    val thresh = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$PruneMinInputBytes must be a whole number of bytes, got '$raw'"))
    docs.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(thresh)
  }

  /** Candidate join + exact-Jaccard verify over a (materialized)
    * [[docShFrame]] — UNSORTED. Composing consumers (cluster edge build,
    * fuzzy decontamination) must use THIS: the presentation
    * orderBy(doc_a, doc_b) in [[lshPairs]] survives below a downstream
    * Generate (EliminateSorts cannot see through it — the r21
    * simhash-pairs lesson), which range-shuffled + sorted the whole
    * verified pair table inside the connected-components edge job for
    * an ordering nothing consumed. */
  private[graft] def lshPairsFrom(docSh: DataFrame,
      prune: Boolean): DataFrame = {
    // With the prune on, candidates are CHECKPOINTED: they feed the
    // join spine AND the member aggregate, and exchange reuse does not
    // dedupe the banding pipeline across those two consumers (verified
    // r22: the executed plan shows no ReusedExchange and the banding
    // stages run twice without the checkpoint).
    val cand =
      if (prune) graft.Materialize.frame(lshCandidates(docSh))
      else lshCandidates(docSh)
    // Prune the shingle-array table to candidate MEMBERS before its
    // exchange (guide §3.2/§8: decide with small rows, move heavy rows
    // once). The verify joins are equi-joins on doc ids, yet without
    // the prune the planner exchanges EVERY >=3-token doc's shingle
    // array — the checkpoint leaf carries no usable size estimate, so
    // the join never broadcasts at scale and AQE materializes the full
    // exchange before it can intervene. The docs-1000x trace read
    // 2.2 GB shuffled for 1.37% candidate membership (68.6k of 5M
    // docs); the semi join cuts it to 35 MB. The member list is a
    // distinct-id aggregate over the checkpointed candidates — its
    // shuffle gives AQE a real size, so the semi join broadcasts while
    // members fit and falls back to a shuffled semi join (ids only,
    // never arrays) beyond that; a Bloom probe (BloomDedupGate's
    // kernel) is the production fallback if members ever outgrow
    // broadcast.
    val vSh =
      if (prune) docSh.join(candidateDocs(cand), Seq("doc_id"), "left_semi")
      else docSh
    cand
      .join(vSh.select(col("doc_id").as("doc_a"), col("shs").as("sa"),
        col("nsh").as("na")), Seq("doc_a"))
      .join(vSh.select(col("doc_id").as("doc_b"), col("shs").as("sb"),
        col("nsh").as("nb")), Seq("doc_b"))
      .withColumn("inter",
        graft.functions.hashes.sortedLongIntersectCount(
          col("sa"), col("sb")))
      .withColumn("jaccard",
        Num.r4(col("inter") / (col("na") + col("nb") - col("inter"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        col("nb"), col("jaccard"))
  }

  /** #28b near-dup CLUSTERS: connected components over the LSH
    * near-dup pair graph, labeling every member with the component's
    * minimum doc_id (the canonical representative a dedup pipeline
    * keeps). Iterative min-label propagation — the standard Spark shape
    * for components (think GraphX's connectedComponents re-expressed on
    * DataFrames): each round is one join + one map-side-combined min
    * aggregation; lineage is truncated per round with an eager
    * localCheckpoint; rounds are bounded by component diameter (near-dup
    * clusters are tiny cliques, so 1-2 rounds in practice). The
    * convergence check is a scalar count per round — not a data
    * collect. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    connectedComponents(
      lshPairsFrom(
        docShFrame(docs).transform(graft.Materialize.frame),
        pruneGate(docs))
        .select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))
  }

  /** Min-label propagation over an undirected (doc_a, doc_b) edge list:
    * returns (doc_id, cluster) with cluster = the component's minimum
    * id. Public so any pair source (simhash, embedding) composes. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val Seq(a, b) = pairs.columns.toSeq.take(2)
    // symmetrize via a row-local explode, NOT a union of two selects:
    // the union's two branches are two full instances of the upstream
    // pair pipeline (lshPairs' candidate join + verify) in the ONE
    // materialize action — Catalyst does not merge sibling subtrees,
    // and AQE exchange reuse only dedups up to the last exchange, so
    // the verify projection ran twice (r21 plan audit). One explode
    // emits both directions from a single pass.
    val edges = pairs
      .select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .transform(graft.Materialize.frame) // pairs pipeline runs once, not per round
    // Round 1 FUSED: against the identity labeling the first propagation
    // round's edge⋈labels join is a no-op (each neighbor's label IS its
    // id), so labels-after-round-1 collapse to one aggregation —
    // least(node, min(neighbor)) — and the init distinct + the first
    // |edges| join (two exchanges of the edge set) never plan. Identical
    // state and convergence count to the unfused round 1 by construction
    // (every node has ≥1 neighbor in the symmetrized edge list, so the
    // old left join was total).
    val obs1 = org.apache.spark.sql.Observation(
      s"cc_seed_${System.nanoTime()}")
    var labels = graft.Materialize.frame(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("__nb"))
        .select(col("src").as("doc_id"),
          least(col("src"), col("__nb")).as("cluster"),
          (col("__nb") < col("src")).as("__changed"))
        .observe(obs1, count_if(col("__changed")).as("n")))
    var converged = obs1.get("n").asInstanceOf[Long] == 0L
    labels = labels.drop("__changed")
    var rounds = 1
    val maxRounds = 20
    while (!converged && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster").as("nc")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("nc")).as("nbmin"))
        .select(col("src").as("doc_id"), col("nbmin"))
      // the convergence check rides the checkpoint action as an
      // observed metric — one Spark job per round, not two
      val obs = org.apache.spark.sql.Observation(
        s"cc_${System.identityHashCode(labels)}_$rounds")
      val updated = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbmin"), col("cluster")))
            .as("cluster"),
          (col("nbmin") < col("cluster")).as("__changed"))
        .observe(obs, count_if(col("__changed")).as("n"))
        .transform(graft.Materialize.frame)
      converged = obs.get("n").asInstanceOf[Long] == 0L
      labels = updated.drop("__changed")
      rounds += 1
    }
    // A component with diameter > maxRounds would come back silently
    // split into multiple clusters — fail loudly instead (the oracle is
    // a full transitive closure, and downstream canonical-member logic
    // assumes whole components). Near-dup components are tiny cliques,
    // so hitting this means pathological input, not normal data.
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          "(component diameter too large); raise the round cap or " +
          "pre-partition the pair graph")
    }
    labels
  }

  /** #26 exact dedup after canonicalization (here: first-8-words key —
    * the normalize→hash→groupBy shape of content-defined dedup). */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(slice(split(col("text"), " "), 1, 8), " ")).as("key"))
      .groupBy(col("key"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("key"))

  /** #29 character 4-gram Jaccard over the MinHash-LSH candidate pairs
    * (the candidate-pair verification primitive, composed with #28's
    * banding): grams are extracted only for candidate docs, then
    * intersected per candidate pair via array_intersect — no corpus-wide
    * gram join. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // candidate pairs are consumed three times (the pair frame + both
    // sides' doc lists) — materialize once instead of re-running
    // shingle→signature→banding per consumer
    val cand = lshCandidates(minhashSignatures(s, dir))
      .transform(graft.Materialize.frame)
    // the distinct-gram set folds per doc inside DistinctGramHashes — a
    // projection, no explode or aggregation; grams travel as xxhash64
    // longs (~4× narrower arrays than 4-char strings; jaccard depends
    // only on set sizes + intersections, injective-invariant — the
    // oracle keys raw gram text). Materialized once, joined twice.
    val docG = t(s, dir, "documents")
      .join(candidateDocs(cand), Seq("doc_id"), "left_semi")
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"),
        sort_array(graft.functions.hashes.distinctGramHashes(col("text"), 4))
          .as("gs"))
      .withColumn("ng", size(col("gs")).cast("long"))
      .transform(graft.Materialize.frame)
    cand
      .join(docG.select(col("doc_id").as("doc_a"), col("gs").as("ga"),
        col("ng").as("na")), Seq("doc_a"))
      .join(docG.select(col("doc_id").as("doc_b"), col("gs").as("gb"),
        col("ng").as("nb")), Seq("doc_b"))
      .withColumn("inter",
        graft.functions.hashes.sortedLongIntersectCount(
          col("ga"), col("gb")))
      .withColumn("jaccard",
        Num.r4(col("inter") / (col("na") + col("nb") - col("inter"))))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** #30a 32-bit SimHash per doc from token-frequency-weighted
    * md5-derived token hashes. The whole token-loop + 32 per-bit
    * majority votes is ONE fused per-row kernel
    * ([[graft.functions.SimHash32]]) — a shuffle-free projection
    * (only the presentation sort exchanges), where the previous
    * aggregate form exploded one row per token and evaluated 32
    * substr/instr trees per token. Output matches the explode
    * formulation bit-for-bit (spec-pinned). */
  /** The unsorted signature projection behind [[simhash]]/[[simhashPairs]]:
    * the pair query must compose THIS, not the presentation-sorted
    * [[simhash]] — EliminateSorts cannot see a Sort through the banding
    * Generate, so the r20 plan range-shuffled + sorted the full
    * signature table on BOTH self-join sides for an ordering nothing
    * consumed (plan audit r21: 2 of q_simhash_pairs' 3
    * rangepartitioning exchanges were this). */
  private def simhashSig(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      // the aggregate form DROPPED null-text docs (explode of a null
      // array); keep that contract
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.hashes.simHash32(col("text")).as("simhash32"))

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashSig(s, dir).orderBy(col("doc_id"))

  /** #30b SimHash near-dup PAIRS: band the 32-bit signature into 4×8-bit
    * keys (hamming ≤ 3 guarantees ≥1 identical band), bucket-join on
    * (band, key) — candidate pairs only — then exact hamming filter
    * bit_count(xor) ≤ 3. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSig(s, dir)
    val keyed = dropHotBuckets(sig
      .select(col("doc_id"), col("simhash32"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr(
        "(simhash32 div cast(power(2, band * 8) as bigint)) % 256")),
      Seq("band", "key"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash32").as("sa"), col("b.simhash32").as("sb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** #31 embedding-cosine near-duplicate pairs: blocked on (label AND
    * hyperplane-LSH band key) — 2 bands × 4 bits of the 8-plane
    * signature from Ann.signatures (OR-construction for recall) — then
    * exact-cosine rerank on candidates only. No all-pairs-within-label
    * join anywhere in the plan. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val keyed = dropHotBuckets(
      e.select(col("vec_id"), col("label"))
        .join(Ann.signatures(e), Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("bucket"),
          explode(expr("sequence(0, 1)")).as("band"))
        .withColumn("key", expr(
          "CASE band WHEN 0 THEN bucket % 16 ELSE bucket div 16 END")),
      Seq("label", "band", "key"))
    val cand = keyed.as("a")
      .join(keyed.as("b"),
        col("a.label") === col("b.label") &&
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")),
        Seq("vec_b"))
      .withColumn("cosine",
        Num.r4(graft.functions.vec.cosine(col("va"), col("vb"))))
      .filter(col("cosine") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** #28c corpus curation capstone: the composed training-data pass —
    * quality-score filter, then near-dup removal keeping only each
    * cluster's canonical (minimum-id) member. What survives is the
    * training corpus. */
  def corpusCuration(s: SparkSession, dir: String): DataFrame = {
    // ONE pass over the corpus text (guide §1.2): the quality score and
    // the minhash/shingle signature state are computed in the same scan
    // projection and checkpointed together, then BOTH branches — the
    // score filter and the near-dup clustering — read the checkpoint.
    // Before the fuse the query scanned documents.parquet twice (score
    // branch + signature build) and, because the score filter was pushed
    // below its projection, evaluated the full score formula twice per
    // row. The signature kernels run under a clusterability guard (the
    // same >= 3-token filter lshPairs applies BEFORE its kernels), and
    // the raw 8-slice array is stored whole — band extraction is a
    // trivial element_at over the checkpointed array per consumer, which
    // also keeps the kernel out of repeated-CASE-WHEN codegen.
    val cl = size(split(col("text"), " ")) >= 3
    val docs = t(s, dir, "documents")
    val base = docs
      .select(col("doc_id"),
        TextOps.scoreCol(col("text")).as("score"),
        cl.as("__cl"),
        when(cl, graft.functions.hashes.minhashSlices(col("text")))
          .as("__mh"),
        when(cl, sort_array(graft.functions.hashes.distinctWordGramHashes(
          col("text"), 3, "xxhash64"))).as("shs"))
      .transform(graft.Materialize.frame)
    val docSh = base.filter(col("__cl"))
      .select(col("doc_id") +:
        ((0 until NumHashes).map(i =>
          element_at(col("__mh"), i + 1).as(s"mh$i")) :+
          col("shs")): _*)
      .withColumn("nsh", size(col("shs")).cast("long"))
    val clusters = connectedComponents(
      lshPairsFrom(docSh, pruneGate(docs))
        .select(col("doc_a"), col("doc_b")))
    base
      .filter(col("score") >= 0.6)
      .select(col("doc_id"), col("score"))
      .join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
      .select(col("doc_id"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** #66b FUZZY eval-set decontamination: where q_decontaminate flags
    * exact n-gram overlap, this catches paraphrased/near-duplicate
    * contamination — training docs whose MinHash-LSH buckets collide
    * with a held-out eval doc (doc_id % 50 == 0, the same eval split as
    * q_decontaminate) and whose exact shingle Jaccard confirms the
    * match. Pure reuse of the lshPairs bucketed plan (never all-pairs:
    * at 100 TB the eval side is a benchmark suite, so its bucket keys
    * are a tiny fraction and the join prunes to them), reoriented to
    * (train_doc, eval_doc). */
  def fuzzyDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val evalA = col("doc_a") % 50 === 0
    val docs = t(s, dir, "documents")
    lshPairsFrom(
      docShFrame(docs).transform(graft.Materialize.frame), pruneGate(docs))
      .filter(evalA =!= (col("doc_b") % 50 === 0))
      .select(
        when(evalA, col("doc_b")).otherwise(col("doc_a")).as("train_doc"),
        when(evalA, col("doc_a")).otherwise(col("doc_b")).as("eval_doc"),
        col("jaccard"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** #77 cross-document repeated-span detection — the exact-substring
    * half of training-data dedup (the Lee et al. "Deduplicating
    * Training Data" signal; production runs 50-token windows over a
    * suffix-array-equivalent, this is the same statistic via hashed
    * 4-gram windows — the plan is what matters). Per-doc DISTINCT
    * window hashes (deduped inside the row-local array expression
    * before the explode, as in decontaminate), then one gram-keyed
    * aggregate counts how many documents carry each window, and one
    * LEFT join back + one doc aggregate computes the census and the
    * dup flags in a single pass (the r10 shape — semi join, right
    * join, two doc aggregates — consumed the gram frame three times).
    * Gram keys are xxhash64 LONGS: no hash reaches the output (counts
    * only), so any injective mapping agrees with the md5-keyed oracle,
    * and both shuffles move 8-byte longs instead of 32-char hex.
    * The gram frame IS materialized (16-byte rows after the narrow
    * projection): measured at sf~1 (BASELINE.md r11), recomputing the
    * text scan + gram kernel per consumer loses to one checkpoint of
    * the long rows. Output: per-doc span census + duplicated
    * fraction. */
  /** The pre-checkpoint stage of [[spanDedup]]: per-doc distinct word-gram
    * hash arrays via the fused gram kernel. Exposed (package-private) so
    * the plan-shape suite can assert the kernel on the stage where it
    * runs — after Materialize.frame the downstream plan only shows the
    * checkpoint's `Scan ExistingRDD`, hiding the kernel from inspection. */
  private[graft] def spanDocGrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 4)
      .select(col("doc_id"),
        Grams.distinctWordGrams(col("text"), "xxhash64").as("gs"))

  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    // checkpoint the per-doc gram ARRAY (one row per doc), not the
    // exploded frame: the expensive thing to avoid recomputing is the
    // text scan + gram kernel, while the explode is a codegen'd
    // Generate each consumer replays for free — so the checkpoint
    // serializes |docs| array rows instead of |grams| pairs
    val docGrams = spanDocGrams(s, dir).transform(graft.Materialize.frame)
    val grams = docGrams.select(col("doc_id"), explode(col("gs")).as("g"))
    val shared = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("g"), lit(1).as("__dup"))
    grams.join(shared, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__dup")).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        Num.r4(col("n_dup") / col("n_grams")).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** #77b per-document longest duplicated span `q_span_extent` — the
    * Lee et al. 2022 exact-substring-dedup TARGET statistic that
    * [[spanDedup]]'s set-census approximates: for each doc, the
    * longest run of CONSECUTIVE word-4-gram windows whose grams also
    * appear in another document (a run of L consecutive duplicated
    * windows covers L+3 words of verbatim cross-doc text — the span
    * you would cut). Positional plan (this is the one gram op where
    * WHERE a gram occurs matters, so the distinct-set kernels don't
    * apply):
    *
    *  - positional gram hashes via the fused WordGramHashes kernel
    *    (codegen'd, one pass per row; text never leaves the scan) —
    *    the (doc, pos, g) stream explodes from the materialized
    *    per-doc array, which feeds both the census and the flag join
    *    from ONE text scan;
    *  - cross-doc shared set: per-doc DISTINCT grams (row-local
    *    array_distinct over the materialized array) → one
    *    map-side-combined gram census → df > 1;
    *  - the positional stream inner-joins the shared set on the gram
    *    key, so only DUPLICATED (doc, pos) rows survive, and the run
    *    census is ONE [[graft.functions.DupRunBits]] aggregate: a
    *    per-doc position BITMAP (windows/8 bytes) with map-side OR
    *    partials whose eval scans once for [n_dup, max_run]. Probe
    *    A/B at 10× docs recorded both rejected alternatives: the
    *    gaps-and-islands window sorted the duplicated token stream
    *    (~11 s), and a per-doc collect_list of shared grams + row-
    *    local kernel died in the ObjectHashAggregate's array buffers
    *    (3-8 s, degrading run-over-run) — the primitive bitset
    *    aggregate is the [[graft.functions.VectorSum]] lesson applied
    *    to span analysis (~2 s, at DuckDB parity);
    *  - n_windows is size(gs) — free from the materialized array.
    *
    * Output: (doc_id, n_windows, n_dup, max_dup_run, max_span_words),
    * max_span_words = max_dup_run + 3 (0 when no window duplicates).
    * Gram hashes are injective-invariant internals (xxhash64 here,
    * raw gram text in the oracle — the oracle keeps the equivalent
    * positional-window formulation). */
  def spanExtent(s: SparkSession, dir: String): DataFrame = {
    val docG = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.hashes.wordGramHashes(col("text"), 4).as("gs"))
      .filter(col("gs").isNotNull)
      .transform(graft.Materialize.frame)
    val shared = docG
      .select(col("doc_id"), explode(array_distinct(col("gs"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("g"))
    val stats = docG
      .select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "g")))
      .join(shared, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.vec.dupRunBits(col("pos").cast("long")).as("r"))
    docG.join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_windows"),
        coalesce(element_at(col("r"), 1), lit(0L)).as("n_dup"),
        coalesce(element_at(col("r"), 2), lit(0L)).as("max_dup_run"),
        when(coalesce(element_at(col("r"), 2), lit(0L)) === 0L, 0L)
          .otherwise(element_at(col("r"), 2) + 3L).as("max_span_words"))
      .orderBy(col("doc_id"))
  }

  /** #91 prefix-filter containment join (PPJoin-family): all document
    * pairs whose word-4-gram CONTAINMENT |A∩B| / min(|A|,|B|) ≥ t —
    * the asymmetric near-dup signal MinHash-LSH (#28) structurally
    * misses: a short doc wholly quoted inside a long one has high
    * containment but LOW Jaccard, so no minhash band ever buckets the
    * pair. Candidate generation uses the prefix-filter theorem: order
    * every doc's grams by a single global total order (document
    * frequency, rarest first, gram hash as tie-break) — if
    * |A∩B| ≥ t·min(na,nb), the SMALLER doc must share a gram within
    * its first ⌊(1-t)·n⌋+1 rarest grams with the other doc's full
    * list. Probing every doc's prefix against the full gram index is
    * therefore lossless, and the join fans out by df(g) of PREFIX
    * grams only — rare by construction, so candidate work is
    * Σ_{prefix grams} df(g), never |docs|².
    * `dfCap` (mirrored in the oracle) excludes grams seen in more
    * docs than the cap from candidate generation — a guard against
    * boilerplate-only prefixes; it can drop a pair only if every
    * shared rare gram is corpus-boilerplate, which at the default
    * means the "contained" text is not distinctive content.
    *
    * Only cap-ELIGIBLE grams are ranked (df ≤ dfCap before the
    * row_number, both engines), which makes the verified output a
    * tie-order-free THEOREM even with the cap binding: the prefix of
    * doc X is exactly its first min(L, |X'|) eligible grams, where
    * X' = X's eligible grams and L = ⌊(1-t)·n⌋+1 over the FULL gram
    * count n. For a true pair (containment ≥ t, A the smaller side):
    * if |A'| ≥ L, ANY L grams of A contain one shared with B
    * (|A\B| < L), and eligible grams are grams of A — found under
    * every tie order; if |A'| < L the prefix is all of A', a SET, so
    * the pair is found iff A' ∩ B ≠ ∅ — also order-free. (A via-B
    * candidate implies a shared eligible gram of A, collapsing into
    * the same condition.) The two engines' different tie-break
    * orders (xxhash64 longs here, gram text in the oracle) can thus
    * change candidate SETS but never the verified output; the fuzz
    * specs pin this at a non-binding cap AND at a binding one. */
  def containmentJoin(s: SparkSession, dir: String, ct: Double = 0.5,
      dfCap: Int = 100): DataFrame =
    containmentJoinOf(spanDocGrams(s, dir), ct, dfCap)

  /** Frame-generic body of [[containmentJoin]] over a (doc_id,
    * gs: array&lt;long&gt;) distinct-gram frame — spec-injectable, so the
    * prefix-filter losslessness can be fuzz-pinned on random corpora. */
  def containmentJoinOf(docGrams: DataFrame, ct: Double = 0.5,
      dfCap: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // gs stored sorted: the verify intersect below becomes the
    // allocation-free sorted-merge kernel; df counts, (df, g) prefix
    // ranking and the exploded gram index are order-insensitive
    val docG = docGrams
      .withColumn("gs", sort_array(col("gs")))
      .withColumn("ng", size(col("gs")).cast("long"))
      .transform(graft.Materialize.frame)
    val grams = docG.select(col("doc_id"), col("ng"),
      explode(col("gs")).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("g"))
    // shuffle_hash on both g-keyed joins: Catalyst's default SMJ would
    // SORT the full gram stream by g — wasted work on both, because the
    // df-join output is immediately re-sorted by doc_id for the window
    // and the candidate-join output is immediately re-hashed for the
    // pair distinct. The hash builds are the SMALL sides (dfreq's
    // (g, df) pairs / the prefix), per-partition slices of an
    // aggregate-sized frame, and the dfCap bound keeps candidate keys
    // unskewed — measured 4.1 -> 2.9 s E2E at 10x docs, exact parity.
    val prefix = grams.join(dfreq.hint("shuffle_hash"), Seq("g"))
      // cap-eligibility BEFORE ranking: boilerplate grams must not
      // consume prefix slots, or the pigeonhole guarantee (and with it
      // cross-engine tie-order independence) breaks under a binding cap
      .filter(col("df") <= dfCap)
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= floor(lit(1.0 - ct) * col("ng")) + 1)
      .select(col("doc_id").as("pid"), col("g"))
    val cand = prefix.hint("shuffle_hash")
      .join(grams.select(col("doc_id").as("fid"), col("g")), Seq("g"))
      .filter(col("pid") =!= col("fid"))
      .select(least(col("pid"), col("fid")).as("doc_a"),
        greatest(col("pid"), col("fid")).as("doc_b"))
      .distinct()
    cand
      .join(docG.select(col("doc_id").as("doc_a"), col("gs").as("ga"),
        col("ng").as("na")), Seq("doc_a"))
      .join(docG.select(col("doc_id").as("doc_b"), col("gs").as("gb"),
        col("ng").as("nb")), Seq("doc_b"))
      .withColumn("inter",
        graft.functions.hashes.sortedLongIntersectCount(
          col("ga"), col("gb")))
      .filter(col("inter") / least(col("na"), col("nb")) >= ct)
      .select(col("doc_a"), col("doc_b"),
        Num.r4(col("inter") / least(col("na"), col("nb")))
          .as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** #79 cross-source overlap matrix: estimated containment between
    * every pair of corpus sources — the view that catches a crawl slice
    * republishing another slice (or an eval set hiding inside a
    * training source) before mixing. Per-(source, gram) DISTINCT
    * 4-gram hashes (row-local dedup before the explode, cross-doc
    * dedup in one (source, g) aggregate), then one gram-keyed
    * bit_or aggregate folds each gram's source set into a LONG BITMASK
    * (sources get dense bit ids, driver-enumerated like the k-means
    * centroids — a bounded dimension table, not data), and a second,
    * tiny aggregate counts grams per distinct mask. Every output then
    * derives from that mask census with bit tests: per-source sizes =
    * Σ cnt over masks containing the bit, pair intersections = Σ cnt
    * over masks containing both bits. Never doc×doc, never a set
    * object per gram — the corpus-sized shuffle carries (long, long).
    * Zero-overlap pairs are absent by construction. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(t(s, dir, "documents"))

  /** Frame-generic body of [[sourceOverlap]] (spec-injectable).
    *
    * gram key = xxhash64 LONG, not an md5 hex string: the per-gram
    * aggregate below shuffles 8-byte longs instead of 32-char strings
    * (4x narrower exchange, native long hashing). The oracle keeps
    * md5 — every count here is invariant under ANY injective gram
    * mapping, so the engines agree without sharing a hash function
    * (collision odds ~n^2/2^65, negligible).
    * Source names are a DIMENSION, not data: enumerate them once on
    * the driver (sorted, so bit order == lexicographic order and the
    * a<b bit filter below reproduces the string ordering), then the
    * whole overlap matrix needs ONE corpus-sized shuffle — the
    * declarative bit_or per gram, map-side combined, (g: long,
    * masks) rows. The r10/r11a shapes (self-join / collect_set)
    * moved set objects or three exchanges of the same frame; the
    * mask census after this aggregate is ≤ |distinct masks| rows, so
    * everything downstream is driver-scale. Beyond 64 sources the
    * mask SEGMENTS into ⌈n/64⌉ 64-wide planes — one conditional
    * bit_or per plane in the same single aggregate, census keyed on
    * the plane array; the single-plane corpus keeps the exact r11
    * hot-path expression (no per-row DIV/mod when n ≤ 64). */
  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val srcs = docs.select(col("source"))
      .distinct().orderBy(col("source"))
      .collect().map(_.getString(0))
    require(srcs.nonEmpty, "sourceOverlap: no sources")
    val n = srcs.length
    val planes = (n + 63) / 64
    val sidOf = element_at(
      map(srcs.zipWithIndex.flatMap { case (src, i) =>
        Seq(lit(src), lit(i)) }: _*), col("source"))
    val nameOf = (sid: org.apache.spark.sql.Column) => element_at(
      array(srcs.map(lit): _*), (sid + 1).cast("int"))
    val maskAggs =
      if (planes == 1)
        Seq(expr("bit_or(shiftleft(CAST(1 AS BIGINT), sid))").as("__m0"))
      else (0 until planes).map { p =>
        expr(s"bit_or(IF(sid DIV 64 = $p, " +
          "shiftleft(CAST(1 AS BIGINT), sid % 64), CAST(0 AS BIGINT)))")
          .as(s"__m$p")
      }
    val maskCensus = docs
      .filter(size(split(col("text"), " ")) >= 4)
      .select(sidOf.as("sid"),
        explode(Grams.distinctWordGrams(col("text"), "xxhash64")).as("g"))
      .groupBy(col("g"))
      .agg(maskAggs.head, maskAggs.tail: _*)
      .select(array((0 until planes).map(p => col(s"__m$p")): _*)
        .as("masks"))
      .groupBy(col("masks"))
      .agg(count(lit(1)).as("cnt"))
    val bitA = expr("(shiftright(element_at(masks, " +
      "CAST(a DIV 64 AS INT) + 1), CAST(a % 64 AS INT)) & 1) = 1")
    val bitB = expr("(shiftright(element_at(masks, " +
      "CAST(b DIV 64 AS INT) + 1), CAST(b % 64 AS INT)) & 1) = 1")
    val withA = maskCensus
      .select(col("masks"), col("cnt"),
        explode(sequence(lit(0), lit(n - 1))).as("a"))
      .filter(bitA)
    val sizes = withA.groupBy(col("a"))
      .agg(sum(col("cnt")).as("n_grams"))
    val inter = withA
      .select(col("masks"), col("cnt"), col("a"),
        explode(sequence(lit(0), lit(n - 1))).as("b"))
      .filter(col("a") < col("b") && bitB)
      .groupBy(col("a"), col("b"))
      .agg(sum(col("cnt")).as("n_shared"))
    inter
      .join(broadcast(sizes.withColumnRenamed("n_grams", "na")), Seq("a"))
      .join(broadcast(sizes.withColumnRenamed("a", "b")
        .withColumnRenamed("n_grams", "nb")), Seq("b"))
      .select(nameOf(col("a")).as("source_a"), nameOf(col("b")).as("source_b"),
        col("n_shared"),
        Num.r4(col("n_shared") / (col("na") + col("nb") - col("n_shared")))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_containment" -> ((s: SparkSession, dir: String) =>
      containmentJoin(s, dir)),
    "q_source_overlap" -> sourceOverlap _,
    "q_span_dedup" -> spanDedup _,
    "q_span_extent" -> spanExtent _,
    "q_corpus_curation" -> corpusCuration _,
    "q_decontaminate_fuzzy" -> fuzzyDecontaminate _,
    "q_dedup_exact" -> exactDedup _,
    "q_minhash_signatures" -> ((s: SparkSession, dir: String) =>
      minhashSignatures(s, dir).orderBy(col("doc_id"))),
    "q_dedup_lsh_pairs" -> lshPairs _,
    "q_dedup_clusters" -> dedupClusters _,
    "q_ngram_jaccard" -> ngramJaccard _,
    "q_dedup_simhash" -> simhash _,
    "q_simhash_pairs" -> simhashPairs _,
    "q_embedding_neardup" -> embeddingNearDup _
  )

  private val ShinglesCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), pos AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |  FROM pos
      |), sig AS (
      |  SELECT doc_id,
      |    min(substr(md5(sh), 1, 4)) AS mh0,
      |    min(substr(md5(sh), 5, 4)) AS mh1,
      |    min(substr(md5(sh), 9, 4)) AS mh2,
      |    min(substr(md5(sh), 13, 4)) AS mh3,
      |    min(substr(md5(sh), 17, 4)) AS mh4,
      |    min(substr(md5(sh), 21, 4)) AS mh5,
      |    min(substr(md5(sh), 25, 4)) AS mh6,
      |    min(substr(md5(sh), 29, 4)) AS mh7
      |  FROM sh GROUP BY doc_id
      |), bands AS (
      |  SELECT doc_id, md5('0:' || mh0 || mh1) AS bucket FROM sig
      |  UNION ALL SELECT doc_id, md5('1:' || mh2 || mh3) FROM sig
      |  UNION ALL SELECT doc_id, md5('2:' || mh4 || mh5) FROM sig
      |  UNION ALL SELECT doc_id, md5('3:' || mh6 || mh7) FROM sig
      |), sized AS (
      |  SELECT doc_id, bucket,
      |    count(*) OVER (PARTITION BY bucket) AS bsz
      |  FROM bands
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sized a JOIN sized b
      |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE a.bsz <= 100
      |)""".stripMargin

  private val LshPairsCore =
    s"""$ShinglesCte, counts AS (
       |  SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT c.doc_a, c.doc_b, coalesce(i.inter, 0) AS inter,
       |    ca.nsh AS na, cb.nsh AS nb,
       |    round(coalesce(i.inter, 0)
       |      / (ca.nsh + cb.nsh - coalesce(i.inter, 0)), 4) AS jaccard
       |  FROM cand c
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN counts ca ON ca.doc_id = c.doc_a
       |  JOIN counts cb ON cb.doc_id = c.doc_b
       |  WHERE round(coalesce(i.inter, 0)
       |      / (ca.nsh + cb.nsh - coalesce(i.inter, 0)), 4) >= 0.5
       |)""".stripMargin

  private val SimhashCte =
    """WITH stoks AS (
      |  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
      |  FROM documents
      |), sbits AS (
      |  SELECT doc_id, h, unnest(generate_series(0, 31)) AS j FROM stoks
      |), contribs AS (
      |  SELECT doc_id, j,
      |    2 * (((strpos('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1)
      |      // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
      |          ELSE 1 END)) % 2) - 1 AS contrib
      |  FROM sbits
      |), sums AS (
      |  SELECT doc_id, j,
      |    CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM contribs GROUP BY doc_id, j
      |), ssig AS (
      |  SELECT doc_id,
      |    CAST(sum(bit * CAST(power(2, j) AS BIGINT)) AS BIGINT) AS simhash32
      |  FROM sums GROUP BY doc_id
      |)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_source_overlap" ->
      """WITH words AS (
        |  SELECT source, string_split(text, ' ') AS w FROM documents
        |), grams AS (
        |  SELECT DISTINCT source,
        |    md5(list_aggregate(w[i:i+3], 'string_agg', ' ')) AS g
        |  FROM words, UNNEST(range(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 4
        |), sizes AS (
        |  SELECT source, count(*) AS n FROM grams GROUP BY source
        |), inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM grams a JOIN grams b USING (g)
        |  WHERE a.source < b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT source_a, source_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE) /
        |    (sa.n + sb.n - n_shared), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = source_a
        |JOIN sizes sb ON sb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // Prefix tie-break differs by engine (gram text here, xxhash64 in
    // Spark) — any consistent total order is lossless under the prefix
    // theorem, so the verified outputs agree even though candidate
    // sets differ. df <= 100 mirrors the Spark dfCap guard and, like
    // the Spark side, applies BEFORE the ranking (eligible-only
    // prefixes keep the parity a theorem even with the cap binding).
    "q_dedup_containment" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id,
        |    list_aggregate(w[i:i+3], 'string_agg', ' ') AS g
        |  FROM words, UNNEST(range(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 4
        |), gc AS (
        |  SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id
        |), df AS (
        |  SELECT g, count(*) AS df FROM g GROUP BY g
        |), ranked AS (
        |  SELECT gr.doc_id, gr.g, df.df,
        |    row_number() OVER (PARTITION BY gr.doc_id
        |      ORDER BY df.df, gr.g) AS rn,
        |    gc.ng
        |  FROM g gr JOIN df USING (g) JOIN gc USING (doc_id)
        |  WHERE df.df <= 100
        |), prefix AS (
        |  SELECT doc_id, g FROM ranked
        |  WHERE rn <= CAST(floor(0.5 * ng) AS BIGINT) + 1
        |), cand AS (
        |  SELECT DISTINCT least(p.doc_id, f.doc_id) AS doc_a,
        |    greatest(p.doc_id, f.doc_id) AS doc_b
        |  FROM prefix p JOIN g f ON f.g = p.g AND f.doc_id <> p.doc_id
        |), inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c
        |  JOIN g a ON a.doc_id = c.doc_a
        |  JOIN g b ON b.doc_id = c.doc_b AND b.g = a.g
        |  GROUP BY 1, 2
        |)
        |SELECT i.doc_a, i.doc_b,
        |  round(i.inter * 1.0 / least(ca.ng, cb.ng), 4) AS containment
        |FROM inter i
        |JOIN gc ca ON ca.doc_id = i.doc_a
        |JOIN gc cb ON cb.doc_id = i.doc_b
        |WHERE i.inter * 1.0 / least(ca.ng, cb.ng) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_span_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    md5(list_aggregate(w[i:i+3], 'string_agg', ' ')) AS g
        |  FROM words, UNNEST(range(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 4
        |), shared AS (
        |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
        |), census AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(count(*) FILTER (g IN (SELECT g FROM shared)) AS BIGINT)
        |      AS n_dup
        |  FROM grams GROUP BY doc_id
        |)
        |SELECT doc_id, n_grams, n_dup,
        |  round(CAST(n_dup AS DOUBLE) / n_grams, 4) AS dup_ratio
        |FROM census ORDER BY doc_id""".stripMargin,

    "q_span_extent" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    list_aggregate(w[i:i+3], 'string_agg', ' ') AS g
        |  FROM words, UNNEST(range(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 4
        |), shared AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
        |  GROUP BY g HAVING count(*) > 1
        |), f AS (
        |  SELECT doc_id, pos, g IN (SELECT g FROM shared) AS dup FROM g
        |), runs AS (
        |  SELECT doc_id,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS isl
        |  FROM f WHERE dup
        |), mr AS (
        |  SELECT doc_id, max(len) AS max_run FROM (
        |    SELECT doc_id, isl, count(*) AS len FROM runs GROUP BY 1, 2
        |  ) GROUP BY 1
        |), census AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_dup
        |  FROM f GROUP BY 1
        |)
        |SELECT census.doc_id, n_windows, n_dup,
        |  CAST(coalesce(max_run, 0) AS BIGINT) AS max_dup_run,
        |  CAST(CASE WHEN max_run IS NULL THEN 0 ELSE max_run + 3 END
        |    AS BIGINT) AS max_span_words
        |FROM census LEFT JOIN mr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS key
        |  FROM documents
        |)
        |SELECT key, min(doc_id) AS canonical_doc_id, count(*) AS n_docs
        |FROM keyed GROUP BY key HAVING count(*) >= 2 ORDER BY key""".stripMargin,

    "q_minhash_signatures" ->
      s"$ShinglesCte\nSELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7 FROM sig ORDER BY doc_id",

    "q_dedup_lsh_pairs" ->
      s"""$LshPairsCore
         |SELECT doc_a, doc_b, inter, na, nb, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_decontaminate_fuzzy" ->
      s"""$LshPairsCore
         |SELECT
         |  CASE WHEN doc_a % 50 = 0 THEN doc_b ELSE doc_a END AS train_doc,
         |  CASE WHEN doc_a % 50 = 0 THEN doc_a ELSE doc_b END AS eval_doc,
         |  jaccard
         |FROM pairs WHERE (doc_a % 50 = 0) <> (doc_b % 50 = 0)
         |ORDER BY train_doc, eval_doc""".stripMargin,

    "q_corpus_curation" ->
      s"""$LshPairsCore, cedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), cverts AS (
         |  SELECT DISTINCT src AS doc FROM cedges
         |), reach AS (
         |  WITH RECURSIVE walk(doc, r) AS (
         |    SELECT doc, doc FROM cverts
         |    UNION
         |    SELECT e.src, walk.r FROM cedges e
         |    JOIN walk ON walk.doc = e.dst
         |  ) SELECT doc, r FROM walk
         |), clusters AS (
         |  SELECT doc AS doc_id, min(r) AS cluster
         |  FROM reach GROUP BY doc
         |), scored AS (
         |  SELECT doc_id,
         |    round(0.4 * (len(list_filter(string_split(text, ' '),
         |        x -> x IN ('the', 'a', 'of', 'and'))) * 1.0
         |      / len(string_split(text, ' ')))
         |    + 0.3 * (least(len(string_split(text, ' ')), 100) / 100.0)
         |    + 0.3 * (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))
         |        * 1.0 / length(text)), 4) AS score
         |  FROM documents
         |)
         |SELECT s.doc_id, s.score
         |FROM scored s
         |LEFT JOIN clusters c ON c.doc_id = s.doc_id
         |WHERE s.score >= 0.6
         |  AND (c.cluster IS NULL OR c.cluster = s.doc_id)
         |ORDER BY s.doc_id""".stripMargin,

    "q_dedup_clusters" ->
      s"""$LshPairsCore, cedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), cverts AS (
         |  SELECT DISTINCT src AS doc FROM cedges
         |), reach AS (
         |  WITH RECURSIVE walk(doc, r) AS (
         |    SELECT doc, doc FROM cverts
         |    UNION
         |    SELECT e.src, walk.r FROM cedges e
         |    JOIN walk ON walk.doc = e.dst
         |  ) SELECT doc, r FROM walk
         |)
         |SELECT doc AS doc_id, min(r) AS cluster
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""$ShinglesCte, gpos AS (
         |  SELECT doc_id, text, unnest(generate_series(1, len(text)-3)) AS i
         |  FROM documents WHERE len(text) >= 4
         |), g AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 4) AS g FROM gpos
         |), gc AS (
         |  SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id
         |), ginter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c
         |  JOIN g a ON a.doc_id = c.doc_a
         |  JOIN g b ON b.doc_id = c.doc_b AND b.g = a.g
         |  GROUP BY 1, 2
         |)
         |SELECT c.doc_a, c.doc_b,
         |  round(coalesce(i.inter, 0)
         |    / (ca.ng + cb.ng - coalesce(i.inter, 0)), 4) AS jaccard
         |FROM cand c
         |LEFT JOIN ginter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |JOIN gc ca ON ca.doc_id = c.doc_a
         |JOIN gc cb ON cb.doc_id = c.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,

    "q_dedup_simhash" ->
      s"$SimhashCte\nSELECT doc_id, simhash32 FROM ssig ORDER BY doc_id",

    "q_simhash_pairs" ->
      s"""$SimhashCte, banded AS (
         |  SELECT doc_id, simhash32, unnest(generate_series(0, 3)) AS band
         |  FROM ssig
         |), skeyed AS (
         |  SELECT doc_id, simhash32, band,
         |    (simhash32 // CAST(power(2, band * 8) AS BIGINT)) % 256 AS key
         |  FROM banded
         |), ssized AS (
         |  SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz
         |  FROM skeyed
         |), scand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash32 AS sa, b.simhash32 AS sb
         |  FROM ssized a JOIN ssized b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE a.bsz <= 100
         |)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM scand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding AS v FROM embeddings
        |), dims AS (
        |  SELECT vec_id, v, unnest(generate_series(1, len(v))) AS d FROM e
        |), planes AS (
        |  SELECT vec_id, d, v[d]::DOUBLE AS x,
        |    unnest(generate_series(0, 7)) AS p
        |  FROM dims
        |), projs AS (
        |  SELECT vec_id, p,
        |    sum((strpos('0123456789abcdef',
        |      substr(md5(p || ':' || d), 1, 1)) - 8.5) * x) AS proj
        |  FROM planes GROUP BY vec_id, p
        |), bucketed AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN proj > 0 THEN 1 ELSE 0 END
        |      * CAST(power(2, p) AS BIGINT)) AS BIGINT) AS bucket
        |  FROM projs GROUP BY vec_id
        |), keyed AS (
        |  SELECT e.vec_id, e.label, b.bucket, band.band,
        |    CASE band.band WHEN 0 THEN b.bucket % 16
        |         ELSE b.bucket // 16 END AS key
        |  FROM e JOIN bucketed b ON b.vec_id = e.vec_id
        |  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band) band
        |), ksized AS (
        |  SELECT *, count(*) OVER (PARTITION BY label, band, key) AS bsz
        |  FROM keyed
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM ksized a JOIN ksized b
        |    ON a.label = b.label AND a.band = b.band AND a.key = b.key
        |      AND a.vec_id < b.vec_id
        |  WHERE a.bsz <= 100
        |), pairs AS (
        |  SELECT c.vec_a, c.vec_b, ea.v AS va, eb.v AS vb
        |  FROM cand c
        |  JOIN e ea ON ea.vec_id = c.vec_a
        |  JOIN e eb ON eb.vec_id = c.vec_b
        |), expanded AS (
        |  SELECT vec_a, vec_b, va, vb,
        |    unnest(generate_series(1, len(va))) AS i
        |  FROM pairs
        |), comp AS (
        |  SELECT vec_a, vec_b,
        |    sum(va[i]::DOUBLE * vb[i]::DOUBLE) AS dot,
        |    sum(va[i]::DOUBLE * va[i]::DOUBLE) AS qa,
        |    sum(vb[i]::DOUBLE * vb[i]::DOUBLE) AS qb
        |  FROM expanded GROUP BY vec_a, vec_b
        |)
        |SELECT vec_a, vec_b,
        |  round(dot / (sqrt(qa) * sqrt(qb)), 4) AS cosine
        |FROM comp
        |WHERE round(dot / (sqrt(qa) * sqrt(qb)), 4) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin
  )
}
