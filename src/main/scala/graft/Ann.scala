package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.FixtureStore

/** SURVEY.md §2 #32-34: similarity search over the embedding column.
  * Brute-force is the exact baseline (probe broadcast, per-partition
  * top-k via TakeOrdered — no global sort); random-hyperplane LSH is the
  * scale path (bucket prune → exact rerank within bucket); centroids are
  * the IVF coarse-quantizer building block.
  */
object Ann {
  import Tables.t

  private def withV(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** #32 exact top-10 cosine neighbors of probe vector vec_id=0. */
  def bruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = withV(t(s, dir, "embeddings"))
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("pv")))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(probe)
      .withColumn("cosine",
        Num.r4(graft.functions.vec.cosine(col("v"), col("pv"))))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Deterministic md5-seeded random-hyperplane signature: plane p,
    * dim d has coefficient strpos(hex, md5('p:d')[0]) - 8.5 ∈ ±7.5.
    * Returns (vec_id, bucket) with an 8-bit signature; at 100 TB this is
    * the thing to materialize once (see `signatures`) — recomputing it
    * per query is demo-only. Shared with Dedup.embeddingNearDup as the
    * blocking key. */
  def signatures(e: DataFrame): DataFrame = buckets(e)

  /** The (plane, dim) coefficient is a pure function of two small ints —
    * the 8×dim table is computed ONCE on the driver and folded into the
    * plan (a HyperplaneBucket reference object), so the signature is a
    * single narrow projection: one fused 8-plane dot-product loop per
    * row. (The original form re-derived every coefficient per row via
    * md5 inside a double explode — dim×8 hashes per vector and two
    * shuffling aggregations, for values that never change.)
    * Bit-identical to the oracle's strpos(md5) formulation. */
  private def planeCoef(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    val firstHex = "0123456789abcdef".charAt((digest(0) & 0xff) >>> 4)
    "0123456789abcdef".indexOf(firstHex) + 1 - 8.5
  }

  private def buckets(e: DataFrame): DataFrame = {
    // dimensionality probe: one-row scan drives the literal table size.
    // Assumes a fixed-dimension embedding column (the standard shape of
    // an embedding table); an empty table yields an empty result rather
    // than a probe failure.
    val probe = e.select(size(col("v")).as("n")).head(1)
    if (probe.isEmpty) {
      return e.select(col("vec_id"), lit(0L).as("bucket")).limit(0)
    }
    val dim = probe.head.getInt(0)
    // all 8 projections in one fused HyperplaneBucket loop (the
    // per-plane aggregate(zip_with) folds are CodegenFallback lambdas
    // allocating 8 zipped arrays per row — the q_ann_pq lesson)
    val planes = Array.tabulate(8, dim)((p, d) => planeCoef(p, d + 1))
    e.select(col("vec_id"),
      graft.functions.vec.hyperplaneBucket(col("v"), planes).as("bucket"))
  }

  /** #33 LSH-bucketed ANN: candidates share the probe's 8-bit
    * hyperplane bucket; exact cosine rerank only within the bucket. */
  def lshAnn(s: SparkSession, dir: String): DataFrame = {
    val e = withV(t(s, dir, "embeddings"))
    // materialize the signature table once (it feeds both the probe
    // lookup and the corpus join) — the "signatures are a table, not a
    // subplan" shape SURVEY §5 promises at 100 TB
    val b = buckets(e).transform(graft.Materialize.frame)
    val probeBucket = broadcast(
      b.filter(col("vec_id") === 0).select(col("bucket")))
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("pv")))
    e.join(b, Seq("vec_id"))
      .join(probeBucket, Seq("bucket"))
      .filter(col("vec_id") =!= 0)
      .crossJoin(probe)
      .withColumn("cosine",
        Num.r4(graft.functions.vec.cosine(col("v"), col("pv"))))
      .select(col("vec_id"), col("bucket"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** #33b measured recall of the LSH path vs the exact baseline —
    * |lsh ∩ bf_top10| / |lsh| — the metric SURVEY promises for ANN
    * quality tracking. One scalar row. */
  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    // both top-k lists are a handful of rows consumed twice —
    // materialize so the full ANN pipelines run once, not per consumer
    val bf = bruteForce(s, dir).select(col("vec_id")).transform(graft.Materialize.frame)
    val lsh = lshAnn(s, dir).select(col("vec_id")).transform(graft.Materialize.frame)
    lsh.join(bf, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .select(col("n_lsh"), col("n_overlap"),
        Num.r4(col("n_overlap") / col("n_lsh")).as("recall"))
  }

  /** Batch-probe ANN: the 100 TB shape. Signatures are computed ONCE
    * (at scale: materialized to a table) and shared by every probe in
    * the batch; candidates join on bucket; per-probe exact top-k via a
    * row_number window on (probe, cosine) — no per-probe re-scan of the
    * corpus, no global sort. */
  def annBatch(
      s: SparkSession, dir: String,
      probeIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withV(t(s, dir, "embeddings"))
    // signatures materialized once, shared by the probe side and the
    // corpus side (otherwise Catalyst recomputes the explode+agg per
    // consumer)
    val withB = e.join(graft.Materialize.frame(signatures(e)), Seq("vec_id"))
    val probes = broadcast(
      withB.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("bucket")))
    withB.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        Num.r4(graft.functions.vec.cosine(col("v"), col("pv"))))
      // range-partition on the window key: the per-probe top-k window
      // clusters on probe_id and the presentation sort (probe_id, rn)
      // extends it, so one exchange serves both (guide §2.4; the
      // q_running_window rework) — the candidate set is already
      // bucket-pruned, so the range sampler's extra pass is trivial
      .repartitionByRange(col("probe_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"), col("cosine"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** #34b IVF search: coarse-quantize every vector to its nearest
    * centroid (argmax rounded-cosine, deterministic tiebreak), then
    * search only the probe's cell with exact rerank — the inverted-file
    * counterpart of the hyperplane-LSH path. Centroids are broadcast;
    * the assignment pass is linear (n × K fused-cosine evals); the
    * rerank touches one cell. */
  /** Per-label mean vectors for [[ivfAnn]] via ONE VectorSum aggregate
    * (D-length buffer, map-side combined) — the same kernel as
    * [[centroids]] and [[kmeans]]; the previous
    * posexplode(v)→groupBy(label,pos) build multiplied every corpus row
    * D× BEFORE its exchange (the shape §5 bans and
    * VectorExpressions.scala documents) and then needed a second
    * aggregate + sort_array to reassemble the vector. The per-dimension
    * rounding is the Num.r4 half-away-from-zero floor form spelled into
    * the lambda (SQL round() goes through BigDecimal and disagrees at
    * half-way representations), so the assignment argmax is unchanged.
    * Package-private so PlanShapeSpec pins the kernel on the stage
    * where it runs — the final ivfAnn plan only shows the assignment
    * checkpoint's `Scan ExistingRDD` (the spanDocGrams precedent). */
  private[graft] def ivfCentroids(e: DataFrame): DataFrame =
    e.filter(col("v").isNotNull)
      .groupBy(col("label"))
      .agg(graft.functions.vec.vectorSum(col("v")).as("__vs"),
        // count(v), not count(*): VectorSum skips null arrays, so
        // the divisor must count the same rows the numerator summed
        count(col("v")).as("__n"))
      .select(col("label").as("cell"),
        expr("""transform(__vs, x -> IF(x / __n < 0,
          | -(floor((-x / __n) * 10000d + 0.5d) / 10000d),
          | floor((x / __n) * 10000d + 0.5d) / 10000d))""".stripMargin)
          .as("cvec"))

  def ivfAnn(s: SparkSession, dir: String, probeId: Long = 0L,
      k: Int = 5): DataFrame = {
    val e = withV(t(s, dir, "embeddings"))
    val cents = broadcast(ivfCentroids(e))
    // argmax via min_by aggregation (map-side combined), NOT a
    // row_number window: a window here would sort+shuffle every
    // (vector × centroid) row just to take one per vector — a real
    // scale cost at 100x. Tiebreak matches the old window exactly:
    // highest sim, then lexicographically smallest cell.
    val assign = e.crossJoin(cents)
      .withColumn("sim",
        Num.r4(graft.functions.vec.cosine(col("v"), col("cvec"))))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"),
        struct((-col("sim")).as("ns"), col("cell"))).as("cell"))
      // the assignment table feeds both the probe-cell lookup and the
      // corpus join — materialize once (at scale: the inverted file IS
      // a stored table)
      .transform(graft.Materialize.frame)
    val probeCell = broadcast(
      assign.filter(col("vec_id") === probeId).select(col("cell")))
    val probe = broadcast(e.filter(col("vec_id") === probeId)
      .select(col("v").as("pv")))
    e.join(assign, Seq("vec_id"))
      .join(probeCell, Seq("cell"))
      .filter(col("vec_id") =!= probeId)
      .crossJoin(probe)
      .withColumn("cosine",
        Num.r4(graft.functions.vec.cosine(col("v"), col("pv"))))
      .select(col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Product-quantization geometry: D=64 split into M subspaces of
    * SubDim dims, K codewords per subspace. Codes compress 64 floats
    * (256 B) to M bytes — the reason PQ is the 100 TB ANN memory story. */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 16

  /** Rounded squared-L2 distance between subspace m of `v` and of `cv`
    * via the fused SquaredL2Distance kernel over codegen'd slices (the
    * zip_with/aggregate lambda formulation is a CodegenFallback that
    * allocates per row×codeword — measured 5× slower at sf~1);
    * rounding to 4 decimals makes the argmin tiebreak identical across
    * engines. Same index-order summation as the built-in fold. */
  private def pqSubDist(m: Int): org.apache.spark.sql.Column =
    Num.r4(graft.functions.vec.sqdist(
      slice(col("v"), m * PqSubDim + 1, PqSubDim),
      slice(col("cv"), m * PqSubDim + 1, PqSubDim)))

  /** #84 product-quantization ANN (IVF-PQ's compression half): encode
    * every vector as M subspace codewords, then answer the probe by
    * asymmetric distance computation — probe-to-codeword distances are
    * a tiny M×K table, an approximate distance is M lookups against a
    * vector's CODE, never its floats. Demo codebook = the subvectors
    * of the K lowest vec_ids (production trains per-subspace Lloyd
    * iterations with [[kmeans]]'s machinery; encode/search below are
    * unchanged). Plan shape: codebook broadcast under a crossJoin;
    * encoding is one map-side-combined argmin aggregate per vector
    * (M min(struct) aggs, no window); the ADC table is built from the
    * probe row alone and BROADCAST back onto the M-row-per-vector code
    * explode — the corpus's float arrays are read once to encode and
    * never shuffled. At 100 TB the code table is the stored index:
    * 8 bytes/vector replaces 256, and search touches only codes. */
  def pqAnn(s: SparkSession, dir: String, probeId: Long = 0L,
      k: Int = 10): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    val cb = pqCodebook(e)
    pqAdcScore(pqCodes(e, cb), pqAdcTable(e, cb, probeId), probeId)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }

  /** Demo codebook: the subvectors of the K lowest vec_ids, broadcast
    * (production trains per-subspace Lloyd with [[kmeans]]'s machinery;
    * everything downstream is unchanged). */
  private[graft] def pqCodebook(e: DataFrame): DataFrame =
    broadcast(e.filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("code"), col("v").as("cv")))

  /** PQ encode: per-(vector, codeword) subspace distances, then argmin
    * per subspace as min(struct(dist, code)) — map-side combined, ties
    * to the smallest code. Returns (vec_id, m, code) — the stored code
    * table at scale. */
  private[graft] def pqCodes(sub: DataFrame, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val subCols = (0 until PqM).map(m => pqSubDist(m).as(s"d$m"))
    val keep = carry.map(col)
    sub.crossJoin(cb)
      .select(col("vec_id") +: col("code") +: (keep ++ subCols): _*)
      .groupBy(col("vec_id") +: keep: _*)
      .agg(min(struct(col("d0"), col("code"))).as("m0"),
        (1 until PqM).map(m =>
          min(struct(col(s"d$m"), col("code"))).as(s"m$m")): _*)
      .select(col("vec_id") +: keep :+ explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), col(s"m$m.code").as("code"))): _*)).as("c"): _*)
      .select(col("vec_id") +: keep :+ col("c.m").as("m")
        :+ col("c.code").as("code"): _*)
  }

  /** ADC table: probe × codebook → M×K subspace distances, broadcast. */
  private def pqAdcTable(e: DataFrame, cb: DataFrame,
      probeId: Long): DataFrame = {
    val subCols = (0 until PqM).map(m => pqSubDist(m).as(s"d$m"))
    broadcast(e.filter(col("vec_id") === probeId)
      .crossJoin(cb)
      .select(col("code") +: subCols: _*)
      .select(col("code"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), col(s"d$m").as("d"))): _*)).as("x"))
      .select(col("x.m").as("m"), col("code"), col("x.d").as("d")))
  }

  /** Asymmetric distance: M table lookups against each vector's code. */
  private def pqAdcScore(codes: DataFrame, dt: DataFrame,
      probeId: Long, carry: Seq[String] = Nil): DataFrame =
    codes.filter(col("vec_id") =!= probeId)
      .join(dt, Seq("m", "code"))
      .groupBy(col("vec_id") +: carry.map(col): _*)
      .agg(Num.r4(sum(col("d"))).as("adc_dist"))

  /** Driver-side 4dp half-up rounding — the kernels' exact
    * floor(x·1e4+0.5)/1e4 (the ScaleOpsSpec mirror convention). */
  private def r4d(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  /** #34c composed IVF-PQ search `q_ann_ivf_pq` — the production
    * 100 TB ANN shape: the IVF coarse quantizer prunes the corpus to
    * the probe's `nprobe` nearest cells, and PQ asymmetric distance
    * ranks what survives. Both halves are the existing machinery
    * ([[nearestSeed]] cells, [[pqCodes]]/[[pqAdcTable]] ADC) composed
    * with NO new shuffle shapes:
    *
    *  - the cell assignment is the narrow fused [[NearestCentroid]]
    *    projection (no crossJoin, no window);
    *  - the probed cells are computed ON THE DRIVER from the K×D seed
    *    matrix + the 1-row probe vector (both bounded model collects)
    *    and folded into the plan as an `isin` LITERAL — at 100 TB the
    *    code table is stored partitioned BY cell, so this literal is a
    *    partition-pruning predicate: search reads nprobe/K of the
    *    index, the inverted-file story realized as Spark partition
    *    pruning;
    *  - encoding runs AFTER the cell filter (identical codes — the
    *    argmin is per-vector — but only survivors pay it; at scale the
    *    codes are precomputed and this stage is just the pruned scan);
    *  - scoring is the same broadcast-ADC join + map-side-combined sum
    *    as [[pqAnn]].
    *
    * Output: top-k (vec_id, cell, adc_dist) by ADC distance. */
  def ivfPqAnn(s: SparkSession, dir: String, probeId: Long = 0L,
      cells: Int = Cells, nprobe: Int = 2, k: Int = 10): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    def empty = e.select(col("vec_id"), lit(0L).as("cell"),
      lit(0d).as("adc_dist")).limit(0)
    val seeds = seedCentroids(e, cells)
    if (seeds.isEmpty) return empty
    val probeRows = e.filter(col("vec_id") === probeId)
      .select(col("v")).head(1)
    if (probeRows.isEmpty) return empty
    val probeV = probeRows.head.getSeq[Double](0).toArray
    val probeCells = probeCellsOf(probeV, seeds, nprobe)
    val assigned = e
      .withColumn("cell", nearestSeed(seeds).getField("cid"))
      .filter(col("cell").isin(probeCells: _*))
    val cb = pqCodebook(e)
    // cell rides the encode aggregate (functionally dependent on
    // vec_id) — no join-back, the pruned corpus is scanned exactly once
    val codes = pqCodes(assigned.select(col("vec_id"), col("cell"),
      col("v")), cb, carry = Seq("cell"))
    pqAdcScore(codes, pqAdcTable(e, cb, probeId), probeId,
        carry = Seq("cell"))
      .select(col("vec_id"), col("cell"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }

  /** The probe's `nprobe` nearest cells, ranked ON THE DRIVER over the
    * K×D seed matrix by the SAME rounded squared-L2 + smallest-cid
    * tiebreak as the assignment kernel — K scalar distances, no job. */
  private def probeCellsOf(probeV: Array[Double],
      seeds: Seq[(Long, Array[Double])], nprobe: Int): Seq[Long] =
    seeds
      .map { case (cid, c) =>
        var ss = 0.0
        var i = 0
        while (i < c.length) { val d = probeV(i) - c(i); ss += d * d; i += 1 }
        (r4d(ss), cid)
      }
      .sorted.take(nprobe).map(_._2)

  /** #34e IVF search over a LANDED cell-partitioned vector store — the
    * production read path for [[ivfPqAnn]]'s index: the streaming side
    * ([[graft.streaming.StreamingCorpus.landVectors]]) appends gated
    * vectors to parquet `PARTITIONED BY (cell)`, and search on that
    * layout prunes to the probe's `nprobe` cell DIRECTORIES — the
    * `isin` literal is a partition filter at the scan (PruningSpec
    * pins `partitionFilters` + the files-read metric on the executed
    * plan), so a K-cell store reads nprobe/K of its files, no matter
    * how large the store grows. Survivors are ranked by the same fused
    * rounded-squared-L2 projection as the assignment kernel (probe
    * folded as a 1-row centroid matrix); at 100 TB the stored rows
    * would carry precomputed PQ codes and this ranking stage becomes
    * the ADC join of [[pqAnn]] — the scan shape is identical. */
  def ivfAnnStore(s: SparkSession, storeDir: String,
      probeV: Array[Double], seeds: Seq[(Long, Array[Double])],
      nprobe: Int = 2, k: Int = 10,
      excludeId: Option[Long] = None): DataFrame = {
    val probeCells = probeCellsOf(probeV, seeds, nprobe)
    val store = s.read.parquet(storeDir)
    // the partition column comes back with its inferred type; compare
    // against literals of that type so the predicate stays a plain
    // partition-pruning IN, not a cast the pruner must unwrap
    val cellVals: Seq[Any] = store.schema("cell").dataType match {
      case org.apache.spark.sql.types.IntegerType => probeCells.map(_.toInt)
      case _ => probeCells
    }
    store
      .filter(col("cell").isin(cellVals: _*))
      .transform(excludeProbe(excludeId))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        nearestSeed(Seq((0L, probeV))).getField("dist").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** When the probe vector itself is a stored row, the query-time paths
    * ([[bruteForce]], [[ivfPqAnn]], ...) filter it out — the stored-path
    * equivalent, so stored and query-time searches are result-identical
    * for the same probe (pass `Some(probeId)` when the probe is landed;
    * `None` for out-of-corpus probes). */
  private def excludeProbe(excludeId: Option[Long])(df: DataFrame): DataFrame =
    excludeId.fold(df)(id => df.filter(col("vec_id") =!= id))

  /** The PQ codebook as a driver-side model — PqK rows of (code, D
    * doubles), the same bounded collect as [[seedCentroidsOf]]. Lets
    * streaming landings and stored-index searches fold the codebook
    * into the plan instead of re-joining it. */
  def pqCodebookOf(e: DataFrame): Seq[(Long, Array[Double])] =
    collectCentroids(e.filter(col("vec_id") < PqK)
      .select(col("vec_id"), col("v")))

  /** PQ encode as a NARROW PROJECTION: `codes[m]` = the argmin codeword
    * of subspace m, each argmin a fused [[graft.functions
    * .NearestCentroid]] over the driver-folded per-subspace codebook
    * (rounded 4dp distances, smallest-code tiebreak — the EXACT
    * arithmetic of [[pqCodes]]' aggregate encode, without its
    * crossJoin×aggregate shape). Stream-safe: no aggregation, so the
    * landing path can stamp codes on append-mode micro-batches. */
  def pqCodeArray(cbs: Seq[(Long, Array[Double])]): Column =
    array((0 until PqM).map { m =>
      graft.functions.vec.nearestCentroid(
        slice(col("v"), m * PqSubDim + 1, PqSubDim),
        cbs.map { case (c, cv) =>
          (c, cv.slice(m * PqSubDim, (m + 1) * PqSubDim)) })
        .getField("cid")
    }: _*)

  /** #34f IVF-PQ search over a LANDED cell-partitioned store whose rows
    * carry PRECOMPUTED PQ codes (the [[graft.streaming.StreamingCorpus
    * .landVectorsPq]] layout) — the full production read path the
    * [[ivfPqAnn]] doc promises: the cell `isin` literal prunes to
    * nprobe partition DIRECTORIES, and scoring is M array-literal
    * lookups against each stored code — the scan reads (vec_id, codes,
    * cell) only, never the float vectors. The ADC table is computed ON
    * THE DRIVER from the probe vector and the folded codebook (M×PqK
    * scalar distances) and folded into the projection as array
    * literals: no join, no shuffle — top-k is the only exchange. */
  def ivfPqAnnStore(s: SparkSession, storeDir: String,
      probeV: Array[Double], seeds: Seq[(Long, Array[Double])],
      cbs: Seq[(Long, Array[Double])], nprobe: Int = 2, k: Int = 10,
      excludeId: Option[Long] = None): DataFrame = {
    // the ADC literal table is dense over code 0..PqK-1 (element_at by
    // stored code) — fail loudly here rather than with a bare map miss
    // if the frozen codebook is undersized. sameElements, not ==: the
    // check is value-wise, independent of the collection kinds the two
    // sides happen to be after any refactor.
    require(cbs.map(_._1).sorted.sameElements(0L until PqK.toLong),
      s"codebook must cover codes 0..${PqK - 1}, got ${cbs.map(_._1)}")
    val probeCells = probeCellsOf(probeV, seeds, nprobe)
    // driver-side ADC table: adc(m)(code) = rounded subspace distance
    // probe↔codeword, same r4 arithmetic as pqAdcTable's kernel
    val adc: IndexedSeq[Array[Double]] = (0 until PqM).map { m =>
      val ps = probeV.slice(m * PqSubDim, (m + 1) * PqSubDim)
      val byCode = cbs.map { case (c, cv) =>
        val cs = cv.slice(m * PqSubDim, (m + 1) * PqSubDim)
        var ss = 0.0
        var i = 0
        while (i < ps.length) { val d = ps(i) - cs(i); ss += d * d; i += 1 }
        (c, r4d(ss))
      }.toMap
      (0 until PqK).map(c => byCode(c.toLong)).toArray
    }
    val store = s.read.parquet(storeDir)
    val cellVals: Seq[Any] = store.schema("cell").dataType match {
      case org.apache.spark.sql.types.IntegerType => probeCells.map(_.toInt)
      case _ => probeCells
    }
    val dist = Num.r4((0 until PqM).map { m =>
      element_at(typedLit(adc(m)), col("codes")(m).cast("int") + 1)
    }.reduce(_ + _))
    store
      .filter(col("cell").isin(cellVals: _*))
      .transform(excludeProbe(excludeId))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        dist.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }

  /** Build — or validate and reuse — the landed IVF-PQ index for an
    * embeddings frame at `storeDir`: (vec_id, codes) PARTITIONED BY
    * cell, the [[graft.streaming.StreamingCorpus.landVectorsPq]] layout
    * built batch-side. A `_graft_source` marker records `sourceTag`
    * (the caller's identity for the input data — path + size + mtime);
    * a store whose marker doesn't match is REBUILT, never silently
    * reused — a leftover store from different data or an older frozen
    * model cannot poison a search or an A/B measurement. */
  def ensurePqStore(e: DataFrame, seeds: Seq[(Long, Array[Double])],
      cbs: Seq[(Long, Array[Double])], storeDir: String,
      sourceTag: String): Unit = {
    FixtureStore.ensure(storeDir, sourceTag) { buildDir =>
      e.withColumn("cell",
          graft.functions.vec.nearestCentroid(col("v"), seeds).getField("cid"))
        .withColumn("codes", pqCodeArray(cbs))
        .write.mode("overwrite").partitionBy("cell").parquet(buildDir)
    }
    ()
  }

  /** #34g `q_ann_ivf_store` — the stored-index search under the
    * DRIVER'S oracle gate: lands the full IVF-PQ index fixture for
    * `dir`'s embeddings once per source generation (marker-keyed,
    * [[ensurePqStore]]), then answers the q_ann_ivf_pq probe via
    * [[ivfPqAnnStore]] — cell partition pruning, codes-only scan, probe
    * row excluded. Same frozen model ([[Cells]] seed cells, 16-codeword
    * codebook) and same ADC arithmetic as [[ivfPqAnn]], so it is
    * result-identical and the SAME DuckDB oracle verifies the stored
    * path end to end (previously spec-only parity). */
  def ivfPqStoreSearch(s: SparkSession, dir: String): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    def empty = e.select(col("vec_id"), lit(0L).as("cell"),
      lit(0d).as("adc_dist")).limit(0)
    val seeds = seedCentroids(e, Cells)
    if (seeds.isEmpty) return empty
    val probeRows = e.filter(col("vec_id") === 0L).select(col("v")).head(1)
    if (probeRows.isEmpty) return empty
    val probeV = probeRows.head.getSeq[Double](0).toArray
    val cbs = pqCodebookOf(e)
    val tag = FixtureStore.sourceTagOf(s"$dir/embeddings.parquet") + ":pq-v1"
    val storeDir = FixtureStore.dirFor("ivf_store", tag)
    ensurePqStore(e, seeds, cbs, storeDir, tag)
    ivfPqAnnStore(s, storeDir, probeV, seeds, cbs, excludeId = Some(0L))
  }

  /** Collect the centroid frame — K rows of (cid, K×D doubles), the
    * only thing that ever leaves the executors — to the driver. This is
    * how distributed Lloyd actually iterates (MLlib collects centroids
    * between passes): the corpus never moves, only the K×D summary
    * does. Bounded by construction, NOT a `.collect()` of data. */
  private def collectCentroids(kd: DataFrame): Seq[(Long, Array[Double])] =
    kd.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** The K lowest-vec_id vectors as driver-side seed centroids
    * (deterministic init; the production-scale analogue swaps in one
    * k-means|| pass). The filter pushes to the parquet scan. */
  private def seedCentroids(e: DataFrame, k: Int): Seq[(Long, Array[Double])] =
    collectCentroids(e.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v")))

  /** Public seed-centroid collect for callers composing the cell
    * machinery outside this object (e.g. the streaming semantic gate
    * freezes these per landing cycle). Bounded: K rows. */
  def seedCentroidsOf(e: DataFrame, k: Int): Seq[(Long, Array[Double])] =
    seedCentroids(e, k)

  /** Nearest-centroid struct (dist, cid) over the `v` column with the
    * centroids FOLDED INTO THE PLAN — the same driver-folding trick as
    * the LSH hyperplanes ([[planeCoef]]): the assignment becomes a
    * narrow per-row projection (ONE fused argmin loop — see
    * [[graft.functions.NearestCentroid]]), with no broadcast exchange,
    * no crossJoin expansion, and no aggregation shuffle. Distances
    * round to 4dp BEFORE the argmin and ties break to the smallest
    * cid, so near-tie assignments agree with the oracle's
    * differently-ordered sums. */
  private def nearestSeed(cents: Seq[(Long, Array[Double])]): Column =
    graft.functions.vec.nearestCentroid(col("v"), cents)

  /** #74 Lloyd k-means over the embedding column: K=8, two iterations,
    * deterministic init (the K lowest vec_ids seed the centroids). Each
    * iteration is ONE linear job: assignment is a narrow
    * literal-centroid projection ([[nearestSeed]] — no crossJoin, no
    * broadcast, no per-vector window), the update a single per-cid
    * [[graft.functions.VectorSum]] aggregate + count — a D-length
    * buffer per group with map-side partials, the SAME shape as
    * [[centroids]] — producing K rows that are collected and divided
    * driver-side into the next pass; exactly how MLlib's k-means
    * distributes. (The earlier posexplode(v)→groupBy(cid,pos) update
    * multiplied every row D× BEFORE the exchange — the §5-banned shape
    * and the round-13 1.39× loss at 100× embeddings.) The corpus is
    * never collected and never shuffled; between iterations only K
    * centroid rows move. Output: per-cluster census with mean squared
    * distance (inertia/n). */
  def kmeans(s: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    var cents = seedCentroids(e, k)
    if (cents.isEmpty) {
      return e.select(col("vec_id").as("cluster"), lit(0L).as("n_vecs"),
        lit(0d).as("avg_ssq")).limit(0)
    }
    for (_ <- 1 to iters) {
      // null vectors take no part in the update (NearestCentroid is
      // null-intolerant → a null-cid group whose VectorSum is null
      // would NPE the driver-side divide); dropping them preserves the
      // old exploded update's silent-skip behavior
      val kd = e.filter(col("v").isNotNull)
        .select(nearestSeed(cents).getField("cid").as("cid"), col("v"))
        .groupBy(col("cid"))
        .agg(graft.functions.vec.vectorSum(col("v")).as("vs"),
          // count(v), not count(*): VectorSum skips null arrays, so
          // the divisor must count the same rows the numerator summed
          count(col("v")).as("n"))
        .collect()
      cents = kd.iterator.map { r =>
        val n = r.getLong(2).toDouble
        (r.getLong(0), r.getSeq[Double](1).map(_ / n).toArray)
      }.toSeq.sortBy(_._1)
    }
    val m = nearestSeed(cents)
    e.select(m.getField("cid").as("cluster"), m.getField("dist").as("dist"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), Num.r4(avg(col("dist"))).as("avg_ssq"))
      .orderBy(col("cluster"))
  }

  /** #34 per-label centroids (IVF coarse quantizer). The mean vector
    * is ONE per-label [[graft.functions.VectorSum]] aggregate + count
    * — a D-length buffer per group with map-side partials — not a
    * posexplode×D row expansion before the shuffle; the only Generate
    * in the plan unrolls the |labels| aggregated rows for output. */
  def centroids(s: SparkSession, dir: String): DataFrame =
    withV(t(s, dir, "embeddings"))
      .groupBy(col("label"))
      .agg(graft.functions.vec.vectorSum(col("v")).as("__vsum"),
        // count(v), not count(*): VectorSum skips null arrays, so the
        // denominator must count the same rows the numerator summed
        count(col("v")).as("__n"))
      .select(col("label"), col("__n"),
        posexplode(col("__vsum")).as(Seq("pos", "sx")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        Num.r4(col("sx") / col("__n")).as("centroid"))
      .orderBy(col("label"), col("dim"))

  /** Voronoi-cell blocking for the pairwise ANN-graph operators: every
    * vector is assigned to the nearest of [[Cells]] seed centroids via
    * the narrow literal-centroid projection of [[nearestSeed]], then
    * cells above [[Cap]] members are dropped (the [[Dedup.dropHotBuckets]]
    * skew hygiene — a degenerate cell with f members is f² pairs no
    * matter how good the quantizer; the count window runs over the same
    * key the downstream self-join shuffles on, co-partitioned). The
    * per-cell compare is then an equi-join ON THE CELL KEY — both sides
    * shuffle-partition by cell, work is bounded by Σ|cell|² ≈ n²/cells,
    * and NOTHING is broadcast: this is the shape that survives 100 TB
    * (more cells, same plan), unlike a full-table broadcast self-join
    * which dies at the 8 GB broadcast ceiling. */
  private def cellBlocked(e: DataFrame): DataFrame = {
    val cents = seedCentroids(e, Cells)
    if (cents.isEmpty)
      return e.withColumn("cell", lit(0L)).limit(0)
    Dedup.dropHotBuckets(
      e.withColumn("cell", nearestSeed(cents).getField("cid")),
      Seq("cell"), Cap)
  }

  /** The cell-blocked pairwise family's (knn_graph, semdedup,
    * diverse_sample) block count — one Voronoi cell per seed, the
    * `Cells` lowest vec_ids; the dial to raise with the data so
    * Σ|cell|² stays bounded (§2 #83a) — and its hot-cell cap. The
    * queries and [[oracle]]'s [[cellCte]] read these same values, and
    * the IVF-PQ pair (q_ann_ivf_pq, q_ann_ivf_store) and its oracle
    * seed as many cells. */
  private val Cells = 32
  private val Cap = 500

  /** #83a k-nearest-neighbor graph: each vector's top-k same-cell
    * neighbors by cosine — the input to graph clustering, SemDeDup, and
    * diversity sampling. Blocking is the Voronoi cell of [[Cells]] seed
    * centroids ([[cellBlocked]] — the IVF coarse-quantizer shape, and
    * at 100 TB [[Cells]] scales the block count with the data);
    * the per-cell compare is a cell-keyed sort-merge self-join, never a
    * broadcast of the corpus (PlanShapeSpec pins this). The per-vector
    * top-k is a rank window over the candidate pairs, the same
    * TakeOrdered-per-key shape as q_topk_window. */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    val blocked = cellBlocked(e)
    val pairs = blocked.as("a")
      .join(blocked.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        Num.r4(graft.functions.vec.cosine(col("a.v"), col("b.v")))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("vec_id"), col("rank"))
  }

  /** #83b SemDeDup-style semantic dedup census: greedily drop any
    * vector with a same-cell cosine-≥τ neighbor of smaller id (the
    * canonical member of every near-dup group survives), report
    * per-label attrition. Blocking within k-means-style cells is the
    * SemDeDup paper's own structure (cluster, then dedup inside each
    * cluster); the compare is the same cell-keyed self-join as
    * [[knnGraph]] — no corpus broadcast — and the census a left join of
    * the corpus against the small dropped set. */
  def semDedup(s: SparkSession, dir: String,
      tau: Double = 0.35): DataFrame = {
    val e = withV(t(s, dir, "embeddings"))
    val blocked = cellBlocked(e.select(col("vec_id"), col("v")))
    val dropped = blocked.as("a")
      .join(blocked.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(Num.r4(graft.functions.vec.cosine(col("a.v"), col("b.v")))
        >= tau)
      .select(col("b.vec_id").as("dropped_id")).distinct()
    e.join(dropped, col("vec_id") === col("dropped_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dropped_id").isNotNull.cast("long")).as("n_dropped"),
        Num.r4(lit(1.0) -
          sum(col("dropped_id").isNotNull.cast("int")) / count(lit(1)))
          .as("keep_rate"))
      .orderBy(col("label"))
  }

  /** #93 cell-prototype diversity sample (coreset selection): one
    * representative per Voronoi cell — the member NEAREST its cell
    * seed — plus the cell census. This is the cluster-prototype
    * recipe for pruning/diversifying an embedding corpus (keep one
    * exemplar per semantic neighborhood; SemDeDup's sibling for
    * budget-driven selection). The whole selection is one
    * map-side-combined HashAggregate over the narrow
    * [[nearestSeed]] projection: the (dist, vec_id) argmin rides a
    * single DECIMAL(38,0) packed key (the AsOf.packedKey pattern) —
    * 4dp-quantized distance above vec_id — so no struct-keyed min_by
    * (which would
    * force a SortAggregate over every vector, the AsOf lesson) and
    * no per-cell window. min(dist) separately recovers the
    * representative's distance (it IS the argmin's distance). */
  def diverseSample(s: SparkSession, dir: String): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    val cents = seedCentroids(e, Cells)
    if (cents.isEmpty)
      return s.emptyDataFrame
        .withColumn("cell", lit(0L)).withColumn("n_vecs", lit(0L))
        .withColumn("rep_id", lit(0L)).withColumn("rep_dist", lit(0.0))
        .limit(0)
    val ns = nearestSeed(cents)
    val assigned = Dedup.dropHotBuckets(
      e.select(col("vec_id"), ns.getField("cid").as("cell"),
        ns.getField("dist").as("dist")),
      Seq("cell"), Cap)
    // Packed key as DECIMAL(38,0) (the AsOf.packedKey pattern): a LONG
    // pack silently flips sign when the quantized distance reaches 2^31
    // (squared-L2 ~2.1e5) or vec_id leaves [0, 2^32) — decimal widths
    // make the lexicographic (dist, vec_id) order exact for any domain.
    val two63 = lit(BigDecimal(BigInt(1) << 63))
    assigned
      .withColumn("__k",
        round(col("dist") * 10000).cast(DecimalType(38, 0)) * two63
          + col("vec_id").cast(DecimalType(38, 0)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("__k")).as("__min"),
        min(col("dist")).as("rep_dist"))
      .select(col("cell"), col("n_vecs"),
        (col("__min") % two63).cast("long").as("rep_id"),
        col("rep_dist"))
      .orderBy(col("cell"))
  }

  /** #34d measured recall of the composed IVF-PQ path vs the exact
    * squared-L2 baseline — |ivfpq ∩ exact_top10| / |ivfpq|, the
    * quality dial for the (nprobe, M, K) knobs. Approximation loses
    * recall two ways (a true neighbor outside the probed cells; ADC
    * quantization reordering the tail), and this is the query that
    * measures both at once. One scalar row. */
  def ivfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = withV(t(s, dir, "embeddings")).select(col("vec_id"), col("v"))
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("pv")))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(probe)
      .withColumn("d", Num.r4(graft.functions.vec.sqdist(col("v"), col("pv"))))
      .orderBy(col("d"), col("vec_id"))
      .limit(10).select(col("vec_id"))
      .transform(graft.Materialize.frame)
    val apx = ivfPqAnn(s, dir).select(col("vec_id"))
      .transform(graft.Materialize.frame)
    apx.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(apx.agg(count(lit(1)).as("n_apx")))
      .select(col("n_apx"), col("n_overlap"),
        Num.r4(col("n_overlap") / col("n_apx")).as("recall"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_diverse_sample" -> diverseSample _,
    "q_knn_graph" -> ((s: SparkSession, dir: String) => knnGraph(s, dir)),
    "q_semdedup" -> ((s: SparkSession, dir: String) => semDedup(s, dir)),
    "q_ann_bruteforce" -> bruteForce _,
    "q_ann_lsh" -> lshAnn _,
    "q_ann_recall" -> lshRecall _,
    "q_ann_ivf" -> ((s: SparkSession, dir: String) => ivfAnn(s, dir)),
    "q_ann_batch" -> ((s: SparkSession, dir: String) =>
      annBatch(s, dir, Seq(0L, 1L, 2L), k = 3)),
    "q_embedding_centroids" -> centroids _,
    "q_kmeans" -> ((s: SparkSession, dir: String) => kmeans(s, dir)),
    "q_ann_pq" -> ((s: SparkSession, dir: String) => pqAnn(s, dir)),
    "q_ann_ivf_pq" -> ((s: SparkSession, dir: String) => ivfPqAnn(s, dir)),
    "q_ann_ivf_store" -> ((s: SparkSession, dir: String) =>
      ivfPqStoreSearch(s, dir)),
    "q_ann_ivf_pq_recall" -> ((s: SparkSession, dir: String) =>
      ivfPqRecall(s, dir))
  )

  /** q_kmeans oracle: the two Lloyd iterations + final assignment
    * unrolled as CTEs over the (vec_id, dim) expansion; argmin via
    * row_number with the same (dist, cid) tiebreak. */
  private val KmeansSql: String = {
    def assignCte(a: String, c: String): String =
      s"""$a AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT d.vec_id, c.cid,
         |      round(sum((d.x - c.x) * (d.x - c.x)), 4) AS dist,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY round(sum((d.x - c.x) * (d.x - c.x)), 4), c.cid)
         |        AS rn
         |    FROM d JOIN $c c USING (i) GROUP BY d.vec_id, c.cid
         |  ) WHERE rn = 1
         |)""".stripMargin
    def updateCte(c: String, a: String): String =
      s"""$c AS (
         |  SELECT cid, i, avg(d.x) AS x
         |  FROM $a JOIN d USING (vec_id) GROUP BY cid, i
         |)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |d AS (
       |  SELECT vec_id, i, v[i]::DOUBLE AS x
       |  FROM e, UNNEST(generate_series(1, len(v))) t(i)
       |),
       |c0 AS (SELECT vec_id AS cid, i, x FROM d WHERE vec_id < 8),
       |${assignCte("a1", "c0")},
       |${updateCte("c1", "a1")},
       |${assignCte("a2", "c1")},
       |${updateCte("c2", "a2")},
       |${assignCte("a3", "c2")}
       |SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       |  round(avg(dist), 4) AS avg_ssq
       |FROM a3 GROUP BY cid ORDER BY cluster""".stripMargin
  }

  private val CosineCte =
    """WITH e AS (
      |  SELECT vec_id, label, embedding AS v FROM embeddings
      |), probe AS (
      |  SELECT v AS pv FROM e WHERE vec_id = 0
      |), expanded AS (
      |  SELECT e.vec_id, e.v, p.pv,
      |    unnest(generate_series(1, len(e.v))) AS i
      |  FROM e CROSS JOIN probe p WHERE e.vec_id <> 0
      |), comp AS (
      |  SELECT vec_id,
      |    sum(v[i]::DOUBLE * pv[i]::DOUBLE) AS dot,
      |    sum(v[i]::DOUBLE * v[i]::DOUBLE) AS qa,
      |    sum(pv[i]::DOUBLE * pv[i]::DOUBLE) AS qb
      |  FROM expanded GROUP BY vec_id
      |)""".stripMargin

  /** Shared oracle CTE chain for the cell-blocked pairwise operators:
    * Voronoi assignment to the [[Cells]] lowest-vec_id seeds (argmin of
    * 4dp-rounded squared L2, ties to the smallest cid — exactly
    * [[nearestSeed]]), hot cells (> [[Cap]] members) excluded, corpus
    * re-joined to its cell. */
  private val cellCte: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), d AS (
       |  SELECT vec_id, i, v[i]::DOUBLE AS x
       |  FROM e, UNNEST(generate_series(1, len(v))) t(i)
       |), c0 AS (SELECT vec_id AS cid, i, x FROM d WHERE vec_id < $Cells),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT d.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY d.vec_id
       |        ORDER BY round(sum((d.x - c.x) * (d.x - c.x)), 4), c.cid)
       |        AS rn
       |    FROM d JOIN c0 c USING (i) GROUP BY d.vec_id, c.cid
       |  ) WHERE rn = 1
       |), sized AS (
       |  SELECT cell FROM assign GROUP BY cell HAVING count(*) <= $Cap
       |), ec AS (
       |  SELECT e.vec_id, e.v, a.cell
       |  FROM e JOIN assign a USING (vec_id) JOIN sized USING (cell)
       |)""".stripMargin

  private val IvfPqSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (
        |  SELECT vec_id, i, v[i]::DOUBLE AS x,
        |    CAST(floor((i - 1) / 8) AS INTEGER) AS m
        |  FROM e, UNNEST(generate_series(1, len(v))) t(i)
        |),
        |c0 AS (SELECT vec_id AS cid, i, x FROM d WHERE vec_id < $Cells),
        |assign AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT d.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY round(sum((d.x - c.x) * (d.x - c.x)), 4), c.cid)
        |        AS rn
        |    FROM d JOIN c0 c USING (i) GROUP BY d.vec_id, c.cid
        |  ) WHERE rn = 1
        |),
        |pcell AS (
        |  SELECT cid FROM (
        |    SELECT c.cid,
        |      row_number() OVER (
        |        ORDER BY round(sum((p.x - c.x) * (p.x - c.x)), 4), c.cid)
        |        AS rn
        |    FROM d p JOIN c0 c USING (i)
        |    WHERE p.vec_id = 0
        |    GROUP BY c.cid
        |  ) WHERE rn <= 2
        |),
        |cb AS (SELECT CAST(vec_id AS INTEGER) AS code, i, x, m
        |       FROM d WHERE vec_id < 16),
        |sub AS (
        |  SELECT d.vec_id, a.cell, cb.code, d.m,
        |    round(sum((d.x - cb.x) * (d.x - cb.x)), 4) AS dist
        |  FROM d
        |  JOIN assign a ON a.vec_id = d.vec_id
        |  JOIN pcell pc ON pc.cid = a.cell
        |  JOIN cb ON cb.i = d.i
        |  GROUP BY d.vec_id, a.cell, cb.code, d.m
        |),
        |codes AS (
        |  SELECT vec_id, cell, m, code FROM (
        |    SELECT vec_id, cell, m, code,
        |      row_number() OVER (PARTITION BY vec_id, m
        |        ORDER BY dist, code) AS rn
        |    FROM sub) WHERE rn = 1
        |),
        |dt AS (
        |  SELECT cb.code, d.m,
        |    round(sum((d.x - cb.x) * (d.x - cb.x)), 4) AS d
        |  FROM d JOIN cb ON cb.i = d.i
        |  WHERE d.vec_id = 0
        |  GROUP BY cb.code, d.m
        |)
        |SELECT c.vec_id, c.cell, round(sum(dt.d), 4) AS adc_dist
        |FROM codes c JOIN dt ON dt.m = c.m AND dt.code = c.code
        |WHERE c.vec_id <> 0
        |GROUP BY c.vec_id, c.cell
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_diverse_sample" ->
      s"""$cellCte, dist AS (
         |  SELECT ec.vec_id, ec.cell,
         |    round(sum((d.x - c.x) * (d.x - c.x)), 4) AS dist
         |  FROM ec
         |  JOIN d ON d.vec_id = ec.vec_id
         |  JOIN c0 c ON c.i = d.i AND c.cid = ec.cell
         |  GROUP BY ec.vec_id, ec.cell
         |), ranked AS (
         |  SELECT cell, vec_id, dist,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY dist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cell) AS n_vecs
         |  FROM dist
         |)
         |SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  vec_id AS rep_id, dist AS rep_dist
         |FROM ranked WHERE rn = 1 ORDER BY cell""".stripMargin,
    "q_knn_graph" ->
      s"""$cellCte, p AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
         |  FROM ec a JOIN ec b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT vec_id, nbr_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nbr_id) AS INT) AS rank
         |  FROM p
         |)
         |SELECT vec_id, nbr_id, cosine, rank FROM r
         |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    "q_semdedup" ->
      s"""$cellCte, dropped AS (
         |  SELECT DISTINCT b.vec_id AS dropped_id
         |  FROM ec a JOIN ec b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.35
         |)
         |SELECT label, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN d.dropped_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  round(1.0 - sum(CASE WHEN d.dropped_id IS NOT NULL
         |    THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS keep_rate
         |FROM e LEFT JOIN dropped d ON e.vec_id = d.dropped_id
         |GROUP BY label ORDER BY label""".stripMargin,
    "q_kmeans" -> KmeansSql,
    // subspace m of dim i is floor((i-1)/8); codebook = vec_id < 16;
    // per-subspace distances rounded to 4 decimals before the argmin
    // (same as the Spark side) so ties break identically on code.
    "q_ann_pq" ->
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |d AS (
        |  SELECT vec_id, i, v[i]::DOUBLE AS x,
        |    CAST(floor((i - 1) / 8) AS INTEGER) AS m
        |  FROM e, UNNEST(generate_series(1, len(v))) t(i)
        |),
        |cb AS (SELECT CAST(vec_id AS INTEGER) AS code, i, x, m
        |       FROM d WHERE vec_id < 16),
        |sub AS (
        |  SELECT d.vec_id, cb.code, d.m,
        |    round(sum((d.x - cb.x) * (d.x - cb.x)), 4) AS dist
        |  FROM d JOIN cb ON cb.i = d.i
        |  GROUP BY d.vec_id, cb.code, d.m
        |),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      row_number() OVER (PARTITION BY vec_id, m
        |        ORDER BY dist, code) AS rn
        |    FROM sub) WHERE rn = 1
        |),
        |dt AS (SELECT m, code, dist AS d FROM sub WHERE vec_id = 0)
        |SELECT c.vec_id, round(sum(dt.d), 4) AS adc_dist
        |FROM codes c JOIN dt ON dt.m = c.m AND dt.code = c.code
        |WHERE c.vec_id <> 0
        |GROUP BY c.vec_id
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,
    // composed IVF-PQ: the pq oracle's subspace machinery restricted to
    // the probe's 2 nearest of the `Cells` seed cells (cellCte-style
    // assignment; the ADC table is built from the full probe row, as on
    // the Spark side). Probed cells rank by the same rounded sqdist + cid tiebreak
    // as the assignment.
    "q_ann_ivf_pq" -> IvfPqSql,
    // the stored-index path is result-identical to the query-time path
    // (same frozen seeds/codebook, same ADC arithmetic, probe excluded)
    // — so the same oracle gates the landed layout end to end
    "q_ann_ivf_store" -> IvfPqSql,
    "q_ann_ivf_pq_recall" ->
      s"""WITH e2 AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), dd AS (
         |  SELECT vec_id, i, v[i]::DOUBLE AS x
         |  FROM e2, UNNEST(generate_series(1, len(v))) t(i)
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT d.vec_id,
         |      round(sum((d.x - p.x) * (d.x - p.x)), 4) AS dist
         |    FROM dd d JOIN dd p ON p.i = d.i AND p.vec_id = 0
         |    WHERE d.vec_id <> 0
         |    GROUP BY d.vec_id
         |  ) ORDER BY dist, vec_id LIMIT 10
         |), apx AS (
         |  SELECT vec_id FROM ($IvfPqSql) q
         |)
         |SELECT CAST(n_apx AS BIGINT) AS n_apx,
         |  CAST(n_overlap AS BIGINT) AS n_overlap,
         |  round(CAST(n_overlap AS DOUBLE) / n_apx, 4) AS recall
         |FROM (SELECT
         |  (SELECT count(*) FROM apx) AS n_apx,
         |  (SELECT count(*) FROM apx
         |   WHERE vec_id IN (SELECT vec_id FROM exact)) AS n_overlap)
         |""".stripMargin,
    
    "q_ann_bruteforce" ->
      s"""$CosineCte
         |SELECT vec_id, round(dot / (sqrt(qa) * sqrt(qb)), 4) AS cosine
         |FROM comp
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding AS v FROM embeddings
        |), dims AS (
        |  SELECT vec_id, v, unnest(generate_series(1, len(v))) AS d FROM e
        |), planes AS (
        |  SELECT vec_id, v, d, v[d]::DOUBLE AS x,
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
        |), probe_bucket AS (
        |  SELECT bucket FROM bucketed WHERE vec_id = 0
        |), probe AS (
        |  SELECT v AS pv FROM e WHERE vec_id = 0
        |), cands AS (
        |  SELECT e.vec_id, b.bucket, e.v, p.pv,
        |    unnest(generate_series(1, len(e.v))) AS i
        |  FROM e
        |  JOIN bucketed b ON b.vec_id = e.vec_id
        |  JOIN probe_bucket pb ON pb.bucket = b.bucket
        |  CROSS JOIN probe p
        |  WHERE e.vec_id <> 0
        |), comp AS (
        |  SELECT vec_id, bucket,
        |    sum(v[i]::DOUBLE * pv[i]::DOUBLE) AS dot,
        |    sum(v[i]::DOUBLE * v[i]::DOUBLE) AS qa,
        |    sum(pv[i]::DOUBLE * pv[i]::DOUBLE) AS qb
        |  FROM cands GROUP BY vec_id, bucket
        |)
        |SELECT vec_id, bucket,
        |  round(dot / (sqrt(qa) * sqrt(qb)), 4) AS cosine
        |FROM comp ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin,

    "q_ann_recall" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding AS v FROM embeddings
        |), probe AS (
        |  SELECT v AS pv FROM e WHERE vec_id = 0
        |), bexp AS (
        |  SELECT e.vec_id, e.v, p.pv,
        |    unnest(generate_series(1, len(e.v))) AS i
        |  FROM e CROSS JOIN probe p WHERE e.vec_id <> 0
        |), bcomp AS (
        |  SELECT vec_id,
        |    sum(v[i]::DOUBLE * pv[i]::DOUBLE) AS dot,
        |    sum(v[i]::DOUBLE * v[i]::DOUBLE) AS qa,
        |    sum(pv[i]::DOUBLE * pv[i]::DOUBLE) AS qb
        |  FROM bexp GROUP BY vec_id
        |), bf AS (
        |  SELECT vec_id FROM bcomp
        |  ORDER BY round(dot / (sqrt(qa) * sqrt(qb)), 4) DESC, vec_id
        |  LIMIT 10
        |), dims AS (
        |  SELECT vec_id, v, unnest(generate_series(1, len(v))) AS d FROM e
        |), planes AS (
        |  SELECT vec_id, v, d, v[d]::DOUBLE AS x,
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
        |), probe_bucket AS (
        |  SELECT bucket FROM bucketed WHERE vec_id = 0
        |), lcands AS (
        |  SELECT e.vec_id, e.v, p.pv,
        |    unnest(generate_series(1, len(e.v))) AS i
        |  FROM e
        |  JOIN bucketed b ON b.vec_id = e.vec_id
        |  JOIN probe_bucket pb ON pb.bucket = b.bucket
        |  CROSS JOIN probe p
        |  WHERE e.vec_id <> 0
        |), lcomp AS (
        |  SELECT vec_id,
        |    sum(v[i]::DOUBLE * pv[i]::DOUBLE) AS dot,
        |    sum(v[i]::DOUBLE * v[i]::DOUBLE) AS qa,
        |    sum(pv[i]::DOUBLE * pv[i]::DOUBLE) AS qb
        |  FROM lcands GROUP BY vec_id
        |), lsh AS (
        |  SELECT vec_id FROM lcomp
        |  ORDER BY round(dot / (sqrt(qa) * sqrt(qb)), 4) DESC, vec_id
        |  LIMIT 5
        |)
        |SELECT
        |  (SELECT count(*) FROM lsh) AS n_lsh,
        |  (SELECT count(*) FROM lsh
        |     WHERE vec_id IN (SELECT vec_id FROM bf)) AS n_overlap,
        |  round((SELECT count(*) FROM lsh
        |           WHERE vec_id IN (SELECT vec_id FROM bf)) * 1.0
        |        / (SELECT count(*) FROM lsh), 4) AS recall""".stripMargin,

    "q_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding AS v FROM embeddings
        |), cdims AS (
        |  SELECT label, v, unnest(generate_series(1, len(v))) AS pos FROM e
        |), cent AS (
        |  SELECT label AS cell, pos,
        |    round(avg(v[pos]::DOUBLE), 4) AS cr
        |  FROM cdims GROUP BY 1, 2
        |), sims AS (
        |  SELECT e.vec_id, c.cell,
        |    round(sum(e.v[c.pos]::DOUBLE * c.cr)
        |      / (sqrt(sum(e.v[c.pos]::DOUBLE * e.v[c.pos]::DOUBLE))
        |         * sqrt(sum(c.cr * c.cr))), 4) AS sim
        |  FROM e CROSS JOIN cent c
        |  GROUP BY e.vec_id, c.cell
        |), assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (
        |        PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |    FROM sims) WHERE rn = 1
        |), pc AS (
        |  SELECT cell FROM assign WHERE vec_id = 0
        |), probe AS (
        |  SELECT v AS pv FROM e WHERE vec_id = 0
        |), cand AS (
        |  SELECT e.vec_id, a.cell, e.v, p.pv,
        |    unnest(generate_series(1, len(e.v))) AS i
        |  FROM e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  JOIN pc ON pc.cell = a.cell
        |  CROSS JOIN probe p
        |  WHERE e.vec_id <> 0
        |), comp AS (
        |  SELECT vec_id, cell,
        |    round(sum(v[i]::DOUBLE * pv[i]::DOUBLE)
        |      / (sqrt(sum(v[i]::DOUBLE * v[i]::DOUBLE))
        |         * sqrt(sum(pv[i]::DOUBLE * pv[i]::DOUBLE))), 4) AS cosine
        |  FROM cand GROUP BY 1, 2
        |)
        |SELECT vec_id, cell, cosine FROM comp
        |ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin,

    "q_ann_batch" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding AS v FROM embeddings
        |), dims AS (
        |  SELECT vec_id, v, unnest(generate_series(1, len(v))) AS d FROM e
        |), planes AS (
        |  SELECT vec_id, v, d, v[d]::DOUBLE AS x,
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
        |), probes AS (
        |  SELECT e.vec_id AS probe_id, e.v AS pv, b.bucket
        |  FROM e JOIN bucketed b ON b.vec_id = e.vec_id
        |  WHERE e.vec_id IN (0, 1, 2)
        |), cands AS (
        |  SELECT e.vec_id, p.probe_id, e.v, p.pv,
        |    unnest(generate_series(1, len(e.v))) AS i
        |  FROM e
        |  JOIN bucketed b ON b.vec_id = e.vec_id
        |  JOIN probes p ON p.bucket = b.bucket
        |  WHERE e.vec_id <> p.probe_id
        |), comp AS (
        |  SELECT probe_id, vec_id,
        |    round(sum(v[i]::DOUBLE * pv[i]::DOUBLE)
        |      / (sqrt(sum(v[i]::DOUBLE * v[i]::DOUBLE))
        |         * sqrt(sum(pv[i]::DOUBLE * pv[i]::DOUBLE))), 4) AS cosine
        |  FROM cands GROUP BY probe_id, vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, cosine,
        |    CAST(row_number() OVER (
        |      PARTITION BY probe_id ORDER BY cosine DESC, vec_id)
        |      AS BIGINT) AS rn
        |  FROM comp
        |)
        |SELECT probe_id, vec_id, cosine, rn FROM ranked
        |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin,

    "q_embedding_centroids" ->
      """WITH expanded AS (
        |  SELECT label, embedding AS v,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings
        |)
        |SELECT label, CAST(i AS INTEGER) AS dim,
        |  round(avg(v[i]::DOUBLE), 4) AS centroid
        |FROM expanded GROUP BY label, i ORDER BY label, dim""".stripMargin
  )
}
