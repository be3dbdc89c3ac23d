package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftexpr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native (codegen'd) cosine similarity over two Array[Double] columns —
  * SURVEY §4's graft.functions: a custom Catalyst Expression where the
  * built-ins fall short. The `aggregate(zip_with(...))` formulation
  * allocates an intermediate array per row and evaluates a lambda per
  * element; this expression is ONE fused loop with three scalar
  * accumulators, participates in whole-stage codegen, and matches the
  * built-in formulation bit-for-bit (same index-order summation,
  * null on zero norm mirroring Divide's null-on-zero).
  *
  * Requires equal-length arrays with non-null elements (embedding
  * columns).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var qa = 0.0
    var qb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      qa += x * x
      qb += y * y
      i += 1
    }
    if (qa == 0.0 || qb == 0.0) null
    else dot / (math.sqrt(qa) * math.sqrt(qb))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val qa = ctx.freshName("qa")
      val qb = ctx.freshName("qb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $qa = 0.0;
         |double $qb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y;
         |  $qa += $x * $x;
         |  $qb += $y * $y;
         |}
         |if ($qa == 0.0 || $qb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($qa) * java.lang.Math.sqrt($qb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over two Array[Double] columns — the metric of
  * k-means assignment and Voronoi cell blocking. Same rationale as
  * [[CosineSimilarity]]: the `aggregate(zip_with(...))` formulation is a
  * CodegenFallback that allocates a zipped array per (row × centroid);
  * this is one fused codegen'd loop with a single accumulator, summing
  * in index order exactly like the built-in formulation and the
  * oracle's `sum((x - c.x) * (x - c.x))` over an ordered dim expansion.
  *
  * Length-mismatched (ragged) inputs return NULL — exactly what the
  * zip_with/aggregate formulation produces (zip_with null-pads the
  * shorter side and the null propagates through the fold), so a
  * corrupted embedding row surfaces as a null distance, never as a
  * plausible-but-wrong partial distance.
  */
case class SquaredL2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  // nullable even when both children are not: the ragged-input branch
  // below sets isNull. Without this, nullSafeCodeGen's non-nullable
  // branch assigns to an undeclared isNull (janino failure → interpreted
  // fallback) and the interpreted null can read back as 0.0 downstream.
  override def nullable: Boolean = true

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "squared_l2_distance"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null // ragged → null, like zip_with
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2Distance =
    copy(left = newLeft, right = newRight)
}

/** Runtime kernel for [[NearestCentroid]] — separate object so the
  * generated Java calls a static forwarder (the FastMd5 pattern). */
object NearestCentroidUtil {
  /** Argmin over the centroid matrix of the 4dp-rounded squared L2
    * distance (distances are ≥ 0, so Num.r4 reduces to
    * floor(x·1e4 + 0.5)/1e4); ties keep the FIRST (= smallest,
    * caller sorts) cid — matching the oracle's
    * `ORDER BY round(sum((x-c)²), 4), cid` row_number tiebreak. */
  def nearest(v: ArrayData, cents: Array[Array[Double]],
      cids: Array[Long]): InternalRow = {
    val n = v.numElements()
    var bestD = Double.PositiveInfinity
    var bestC = 0L
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      // centroids are driver-built from the same column — a ragged row
      // is corruption; fail loudly, never a partial distance
      require(c.length == n,
        s"nearest_centroid: dim mismatch (vector $n vs centroid ${c.length})")
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = v.getDouble(i) - c(i)
        acc += d * d
        i += 1
      }
      val r = java.lang.Math.floor(acc * 10000.0 + 0.5) / 10000.0
      if (r < bestD) { bestD = r; bestC = cids(k) }
      k += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestC))
  }
}

/** Nearest-centroid assignment as ONE fused expression: the K×D
  * centroid matrix rides along as a reference object (double[][] —
  * k-means folds at most K×D ≈ a few KB into the plan), and the whole
  * argmin is a single tight loop per row. The declarative alternative —
  * array_min over K structs of Num.r4(sqdist(v, lit_array)) — generates
  * K × 3 inlined distance loops (CaseWhen re-evaluates its branches)
  * plus K per-row literal-array constructions, which blows the
  * generated method past the JIT-able size and costs ~10× in practice.
  * Output: struct(dist: 4dp-rounded squared L2, cid: centroid id),
  * ties to the smallest cid (centroids pre-sorted by the caller).
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]],
    cids: Array[Long]) extends UnaryKernel {
  require(cents.nonEmpty && cents.length == cids.length,
    "NearestCentroid needs a non-empty centroid matrix with one cid each")

  override def prettyName: String = "nearest_centroid"
  override protected def accepts = StaticKernel.Vectors
  override def dataType: DataType = StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false)))
  override protected def forwarder =
    "graft.functions.NearestCentroidUtil.nearest"
  override protected def planArgs = Seq("cents" -> cents, "cids" -> cids)
  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroid = copy(child = newChild)
}

/** Runtime kernel for [[HyperplaneBucket]] — separate object so the
  * generated Java calls a static forwarder. */
object HyperplaneBucketUtil {
  /** Signature bit p is set iff v · planes(p) > 0, accumulated in
    * index order exactly like the
    * `aggregate(zip_with(v, coefs, (x, c) -> x * c), 0D, +)` fold.
    * A NaN dot product SETS the bit — Spark SQL orders NaN greater
    * than every value, so the declarative `> 0` is true there where
    * Java's is false (caught by FuzzParitySpec). Ragged inputs throw:
    * planes are driver-built from the same column, so a dim mismatch
    * is corruption, not data. */
  def bucket(v: ArrayData, planes: Array[Array[Double]]): Long = {
    var b = 0L
    var p = 0
    while (p < planes.length) {
      val c = planes(p)
      require(c.length == v.numElements(),
        s"hyperplane_bucket: dim mismatch (vector ${v.numElements()} " +
          s"vs plane ${c.length})")
      var acc = 0.0
      var i = 0
      while (i < c.length) {
        acc += v.getDouble(i) * c(i)
        i += 1
      }
      if (acc > 0 || java.lang.Double.isNaN(acc)) b |= (1L << p)
      p += 1
    }
    b
  }
}

/** Random-hyperplane LSH signature as ONE fused expression: the P×D
  * plane matrix rides as a codegen reference object and all P
  * projections run in one tight loop per row. The declarative
  * alternative — P aggregate(zip_with(v, lit_coefs)) folds summed into
  * a bucket — is a CodegenFallback evaluating P interpreted lambdas
  * and allocating P zipped arrays per row (the same failure mode the
  * NearestCentroid/SquaredL2Distance kernels fix). Bit-identical to
  * the fold: same index-order summation, same `proj > 0` bit rule.
  */
case class HyperplaneBucket(child: Expression,
    planes: Array[Array[Double]]) extends UnaryKernel {
  require(planes.nonEmpty && planes.length <= 64,
    "HyperplaneBucket needs 1..64 planes")

  override def prettyName: String = "hyperplane_bucket"
  override protected def accepts = StaticKernel.Vectors
  override def dataType: DataType = LongType
  override protected def forwarder =
    "graft.functions.HyperplaneBucketUtil.bucket"
  override protected def planArgs = Seq("planes" -> planes)
  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBucket = copy(child = newChild)
}

/** Elementwise vector-sum aggregate: sums Array[Double] columns into
  * one array without exploding rows — the aggregate-side twin of the
  * scalar kernels above. A per-label 64-dim centroid via
  * posexplode×64 + groupBy(label, pos) multiplies the shuffle input
  * 64× before aggregating; this kernel keeps partial aggregation
  * map-side (one D-length buffer per group) so only |groups|×1 array
  * rows cross the shuffle, and the caller divides by count for the
  * mean. Same summation semantics as the per-dimension built-in sum:
  * doubles added in row order per partition, partials merged.
  *
  * Null input arrays are ignored (like every Spark agg). A
  * length-mismatched (ragged) row throws — silently truncating would
  * produce a plausible-but-wrong centroid (the SquaredL2Distance
  * lesson); embedding columns are fixed-dimension by contract. The
  * buffer carries an explicit `seen` flag so a zero-length input array
  * is real data, not the no-input sentinel: a group of only empty
  * arrays evals to an empty array, and an empty array mixed with
  * non-empty rows hits the same ragged-row require as any other
  * length mismatch. */
case class VectorSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VectorSum.Buf]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vector_sum"

  override def createAggregationBuffer(): VectorSum.Buf =
    new VectorSum.Buf(false, Array.emptyDoubleArray)

  override def update(buf: VectorSum.Buf, input: InternalRow): VectorSum.Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (!buf.seen) {
      val fresh = new Array[Double](n)
      var i = 0
      while (i < n) { fresh(i) = arr.getDouble(i); i += 1 }
      buf.sums = fresh
      buf.seen = true
    } else {
      require(buf.sums.length == n,
        s"$prettyName: length mismatch (${buf.sums.length} vs $n)")
      var i = 0
      while (i < n) { buf.sums(i) += arr.getDouble(i); i += 1 }
    }
    buf
  }

  override def merge(a: VectorSum.Buf, b: VectorSum.Buf): VectorSum.Buf = {
    if (!b.seen) return a
    if (!a.seen) return b
    require(a.sums.length == b.sums.length,
      s"$prettyName: length mismatch (${a.sums.length} vs ${b.sums.length})")
    var i = 0
    while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
    a
  }

  override def eval(buf: VectorSum.Buf): Any =
    if (!buf.seen) null else new GenericArrayData(buf.sums)

  // 1 seen byte + 8 bytes per dim — the length is implied by the size
  override def serialize(buf: VectorSum.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(1 + buf.sums.length * 8)
    bb.put(if (buf.seen) 1.toByte else 0.toByte)
    var i = 0
    while (i < buf.sums.length) { bb.putDouble(buf.sums(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VectorSum.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val seen = bb.get() == 1.toByte
    val out = new Array[Double]((bytes.length - 1) / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    new VectorSum.Buf(seen, out)
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorSum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorSum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): VectorSum =
    copy(child = newChild)
}

object VectorSum {
  /** Aggregation buffer: `seen` distinguishes "no non-null input yet"
    * from "saw a zero-length array" — without it an empty input array
    * would be silently ignored in a mixed group instead of throwing
    * the ragged-row error, and an all-empty group would eval to null
    * instead of an empty array. */
  final class Buf(var seen: Boolean, var sums: Array[Double])
}

/** Column-API surface for the custom expressions. */
object vec {
  def cosine(a: Column, b: Column): Column =
    graftexpr.column(
      CosineSimilarity(graftexpr.expression(a), graftexpr.expression(b)))

  def sqdist(a: Column, b: Column): Column =
    graftexpr.column(
      SquaredL2Distance(graftexpr.expression(a), graftexpr.expression(b)))

  /** struct(dist, cid) of the nearest centroid; `cents` must be sorted
    * by cid so distance ties break to the smallest cid. */
  def nearestCentroid(v: Column, cents: Seq[(Long, Array[Double])]): Column =
    graftexpr.column(NearestCentroid(graftexpr.expression(v),
      cents.map(_._2).toArray, cents.map(_._1).toArray))

  /** P-bit hyperplane-LSH signature of `v` against the plane matrix. */
  def hyperplaneBucket(v: Column, planes: Array[Array[Double]]): Column =
    graftexpr.column(HyperplaneBucket(graftexpr.expression(v), planes))

  /** Elementwise sum of an array<double> column (aggregate). */
  def vectorSum(v: Column): Column =
    graftexpr.column(
      VectorSum(graftexpr.expression(v)).toAggregateExpression())

  /** [n_dup, max_run] duplicated-position census (see DupRunBits). */
  def dupRunBits(pos: Column): Column =
    graftexpr.column(
      DupRunBits(graftexpr.expression(pos)).toAggregateExpression())
}

object DupRunBits {
  /** Growable bitmap of duplicated positions (bit i = window i). */
  final class Buf(var words: Array[Long])
}

/** Per-group duplicated-position bitset aggregate: input rows are the
  * POSITIONS of duplicated windows within a document; the buffer is a
  * bitmap (one bit per window position, grown on demand — bytes per
  * doc ≈ windows/8), partials merge with bitwise OR, and eval scans
  * the bitmap once for [n_dup, max_run] (count of duplicated windows,
  * longest consecutive run). This replaces a per-doc collect_list (an
  * ObjectHashAggregate whose array buffers measured 3-8 s at 10×) and
  * the gaps-and-islands window sort with a map-side-combinable
  * primitive buffer — the [[VectorSum]] pattern applied to span
  * analysis. */
case class DupRunBits(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DupRunBits.Buf]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint positions, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "dup_run_bits"

  override def createAggregationBuffer(): DupRunBits.Buf =
    new DupRunBits.Buf(Array.emptyLongArray)

  private def ensure(buf: DupRunBits.Buf, words: Int): Unit =
    if (buf.words.length < words) {
      var cap = math.max(buf.words.length, 1)
      while (cap < words) cap <<= 1
      buf.words = java.util.Arrays.copyOf(buf.words, cap)
    }

  override def update(buf: DupRunBits.Buf, input: InternalRow): DupRunBits.Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val pos = v.asInstanceOf[Long]
    require(pos >= 0 && pos < Int.MaxValue.toLong * 8,
      s"$prettyName: position $pos out of range")
    val w = (pos >> 6).toInt
    ensure(buf, w + 1)
    buf.words(w) |= 1L << (pos & 63)
    buf
  }

  override def merge(a: DupRunBits.Buf, b: DupRunBits.Buf): DupRunBits.Buf = {
    if (b.words.isEmpty) return a
    if (a.words.isEmpty) return b
    val (big, small) = if (a.words.length >= b.words.length) (a, b) else (b, a)
    var i = 0
    while (i < small.words.length) { big.words(i) |= small.words(i); i += 1 }
    big
  }

  override def eval(buf: DupRunBits.Buf): Any = {
    var nd = 0L
    var best = 0L
    var run = 0L
    var w = 0
    while (w < buf.words.length) {
      val word = buf.words(w)
      if (word == 0L && run == 0L) { w += 1 }
      else {
        var b = 0
        while (b < 64) {
          if ((word & (1L << b)) != 0L) {
            run += 1; nd += 1; if (run > best) best = run
          } else run = 0
          b += 1
        }
        w += 1
      }
    }
    new GenericArrayData(Array(nd, best))
  }

  override def serialize(buf: DupRunBits.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.words.length * 8)
    var i = 0
    while (i < buf.words.length) { bb.putLong(buf.words(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DupRunBits.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    new DupRunBits.Buf(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): DupRunBits =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DupRunBits =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): DupRunBits =
    copy(child = newChild)
}
