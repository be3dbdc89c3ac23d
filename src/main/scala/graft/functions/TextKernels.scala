package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftexpr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen helpers for the text-quality kernels. */
object TextKernelUtil {

  /** Count space-separated tokens exactly equal to one of `tokens` —
    * the size(filter(split(text, ' '), x -> x IN (...))) count without
    * the higher-order-function lambda (HOF lambdas run interpreted and
    * knock the enclosing projection out of whole-stage codegen). */
  def tokenInListCount(s: UTF8String, tokens: Array[String]): Long = {
    val words = s.toString.split(" ", -1)
    var n = 0L
    var i = 0
    while (i < words.length) {
      var j = 0
      var hit = false
      while (!hit && j < tokens.length) {
        if (words(i) == tokens(j)) hit = true
        j += 1
      }
      if (hit) n += 1
      i += 1
    }
    n
  }

  /** Word-trigram census: (n_tri, n_uniq) in one pass — the
    * size(array_distinct(transform(sequence(...), trigram))) pair
    * without building the trigram Column array per row (an interpreted
    * HOF lambda plus one concat_ws allocation per trigram plus an
    * O(n²)-ish array_distinct). Trigram identity is the exact
    * space-joined string, so the distinct count matches the
    * declarative/oracle formulation bit-for-bit. */
  def trigramStats(s: UTF8String): InternalRow = {
    val words = s.toString.split(" ", -1)
    val n = words.length
    if (n < 3) return new GenericInternalRow(Array[Any](0L, 0L))
    val nTri = n - 2
    val set = new java.util.HashSet[String](nTri * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + 3 <= n) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1)).append(' ')
        .append(words(i + 2))
      set.add(sb.toString)
      i += 1
    }
    new GenericInternalRow(Array[Any](nTri.toLong, set.size.toLong))
  }

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hashed-bag-of-words weight fold: per space-separated token, bucket
    * = hex chars 3-4 of md5(token) (= the two nibbles of digest byte 1,
    * exactly `conv(substring(md5(tok), 3, 2), 16, 10)`), accumulate
    * weights(bucket) in token order — the same summation order as the
    * `aggregate(transform(w, tok -> element_at(...)))` fold it
    * replaces, with one THREAD-LOCAL digest instead of a fresh
    * MessageDigest per token and no interpreted lambda. */
  def bucketWeightSum(s: UTF8String, weights: Array[Double]): Double = {
    val words = s.toString.split(" ", -1)
    val md = digest.get()
    var acc = 0.0
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(
        words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val b = ((d(1) >> 4) & 0xf) * 16 + (d(1) & 0xf)
      acc += weights(b)
      i += 1
    }
    acc
  }

  /** Count ASCII digits — length(regexp_replace(text, '[^0-9]', ''))
    * without the per-row regex engine. */
  def digitCount(s: UTF8String): Long = {
    val str = s.toString
    var n = 0L
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c >= '0' && c <= '9') n += 1
      i += 1
    }
    n
  }

  /** BPE-ish token count — the number of matches of
    * `[a-z]+|[0-9]+|[^a-z0-9 ]` — in one code-point pass with no regex
    * engine and no materialized match array: a maximal lowercase run
    * is one token, a maximal digit run is one token, every other
    * non-space code point is its own token, spaces separate. Exactly
    * Java regex semantics for this pattern (alternation is greedy
    * left-to-right; char classes match code points), parity-pinned
    * against size(regexp_extract_all(...)) by FuzzParitySpec. */
  def bpeTokenCount(s: UTF8String): Long = {
    val str = s.toString
    var n = 0L
    // 0 = none/space, 1 = in lowercase run, 2 = in digit run
    var state = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp >= 'a' && cp <= 'z') {
        if (state != 1) { n += 1; state = 1 }
      } else if (cp >= '0' && cp <= '9') {
        if (state != 2) { n += 1; state = 2 }
      } else if (cp == ' ') {
        state = 0
      } else {
        n += 1
        state = 0
      }
      i += Character.charCount(cp)
    }
    n
  }

  /** One-pass per-document term statistics for fixed-vocabulary scoring
    * (BM25 over query terms): total token count plus one occurrence
    * count per term of `tokens` — replaces split+size+explode+filter+
    * groupBy over the full token stream with a single row-local scan
    * (the explode materializes every word of every document just to
    * keep a handful of term hits). Token identity is exact string
    * equality on space-separated words, like [[tokenInListCount]]. */
  def termStats(s: UTF8String, tokens: Array[String]): InternalRow = {
    val words = s.toString.split(" ", -1)
    val cnts = new Array[Long](tokens.length)
    var i = 0
    while (i < words.length) {
      var j = 0
      while (j < tokens.length) {
        if (words(i) == tokens(j)) cnts(j) += 1
        j += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](words.length.toLong,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(cnts)))
  }

  // --- PII census kernel -------------------------------------------------
  //
  // Single-pass replacements for the four regexp_count projections of
  // TextOps.PiiPatterns. Each scanner replicates java.util.regex /
  // RE2 leftmost-first NON-OVERLAPPING counting for its exact pattern,
  // including \b word boundaries (ASCII \w — Java's default and RE2's:
  // any char > 0x7f is a non-word char, so scanning UTF-16 units is
  // sound) and the bounded backtracking the patterns admit:
  //  * \d{1,3}\. groups can only match a full digit run of 1-3 ending
  //    at '.', because shortening a longer run leaves a digit where
  //    the '.' must be — so no general backtracking is needed;
  //  * the email domain [A-Za-z0-9.-]+\.[A-Za-z]{2,} backtracks to the
  //    LAST '.' inside the maximal domain run that is followed by >=2
  //    letters and preceded by >=1 domain char.
  // Pinned against regexp_count by PiiFuzzSpec on adversarial corpora
  // (near-misses, unseparated concatenations, boundary abuse).

  private def isDig(c: Char): Boolean = c >= '0' && c <= '9'
  private def isLetterC(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  // Java's \b word-char predicate WITHOUT UNICODE_CHARACTER_CLASS is
  // NOT ascii-\w: java.util.regex.Pattern.Bound treats any Unicode
  // letter/digit (code-point) plus '_' as a word char, and a
  // NON_SPACING_MARK as word iff a charwise backward scan over marks
  // reaches a letter/digit (Bound.hasBaseCharacter — including its
  // quirk of stepping one CHAR at a time, so a low surrogate under the
  // scan aborts it). Verified empirically over all 1,112,063 code
  // points against Pattern.compile("\\b1") in this JDK.
  private def isWordCp(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  private def hasBase(s: String, i: Int): Boolean = {
    var x = i
    while (x >= 0) {
      val cp = s.codePointAt(x)
      if (Character.isLetterOrDigit(cp)) return true
      if (Character.getType(cp) != Character.NON_SPACING_MARK) return false
      x -= 1
    }
    false
  }

  /** Java-\b word-ness of the char BEFORE index i. */
  private def wordLeft(s: String, i: Int): Boolean =
    i > 0 && {
      val cp = s.codePointBefore(i)
      isWordCp(cp) ||
        (Character.getType(cp) == Character.NON_SPACING_MARK &&
          hasBase(s, i - 1))
    }

  /** Java-\b word-ness of the char AT index i. */
  private def wordRight(s: String, i: Int): Boolean =
    i < s.length && {
      val cp = s.codePointAt(i)
      isWordCp(cp) ||
        (Character.getType(cp) == Character.NON_SPACING_MARK &&
          hasBase(s, i))
    }
  private def isLocalC(c: Char): Boolean =
    isLetterC(c) || isDig(c) || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'
  private def isDomainC(c: Char): Boolean =
    isLetterC(c) || isDig(c) || c == '.' || c == '-'

  /** Count matches of `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`. */
  def countEmail(s: String): Long = {
    val n = s.length
    var cnt = 0L
    var s0 = 0 // next search start (previous match end)
    var a = 0
    while (a < n) {
      if (s.charAt(a) == '@' && a > s0) {
        var ls = a // local-part start: maximal local run ending at a-1
        while (ls > s0 && isLocalC(s.charAt(ls - 1))) ls -= 1
        if (ls < a) {
          val d0 = a + 1
          var de = d0 // maximal domain run [d0, de)
          while (de < n && isDomainC(s.charAt(de))) de += 1
          // longest [A-Za-z0-9.-]+ prefix wins: last '.' at q >= d0+1
          // followed by >= 2 letters
          var q = -1
          var lr = 0
          var p = de - 2
          while (q < 0 && p >= d0 + 1) {
            if (s.charAt(p) == '.') {
              var e = p + 1
              while (e < n && isLetterC(s.charAt(e))) e += 1
              if (e - (p + 1) >= 2) { q = p; lr = e - (p + 1) }
            }
            p -= 1
          }
          if (q >= 0) {
            cnt += 1
            s0 = q + 1 + lr
            a = s0 - 1 // loop increment puts the next '@' probe at s0
          }
        }
      }
      a += 1
    }
    cnt
  }

  /** Count matches of `\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b`. */
  def countIpv4(s: String): Long = {
    val n = s.length
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (isDig(s.charAt(i)) && !wordLeft(s, i)) {
        var pos = i
        var ok = true
        var g = 0
        while (ok && g < 3) { // three "1-3 digits then '.'" groups
          var r = 0
          while (r <= 3 && pos + r < n && isDig(s.charAt(pos + r))) r += 1
          if (r >= 1 && r <= 3 && pos + r < n && s.charAt(pos + r) == '.')
            pos += r + 1
          else ok = false
          g += 1
        }
        if (ok) { // final group: 1-3 digits then a word boundary
          var r = 0
          while (r <= 3 && pos + r < n && isDig(s.charAt(pos + r))) r += 1
          if (r >= 1 && r <= 3 && !wordRight(s, pos + r)) {
            cnt += 1
            i = pos + r - 1 // resume after the match
          }
        }
      }
      i += 1
    }
    cnt
  }

  /** Count matches of `\b\d{3}-\d{2}-\d{4}\b` (match length 11). */
  def countSsn(s: String): Long = {
    val n = s.length
    var cnt = 0L
    var i = 0
    while (i + 11 <= n) {
      if (isDig(s.charAt(i)) && !wordLeft(s, i) &&
          isDig(s.charAt(i + 1)) && isDig(s.charAt(i + 2)) &&
          s.charAt(i + 3) == '-' &&
          isDig(s.charAt(i + 4)) && isDig(s.charAt(i + 5)) &&
          s.charAt(i + 6) == '-' &&
          isDig(s.charAt(i + 7)) && isDig(s.charAt(i + 8)) &&
          isDig(s.charAt(i + 9)) && isDig(s.charAt(i + 10)) &&
          !wordRight(s, i + 11)) {
        cnt += 1
        i += 11
      } else i += 1
    }
    cnt
  }

  /** Count matches of `\b\d{3}[-.]\d{3}[-.]\d{4}\b` (match length 12). */
  def countPhone(s: String): Long = {
    val n = s.length
    var cnt = 0L
    var i = 0
    while (i + 12 <= n) {
      val s1 = if (i + 3 < n) s.charAt(i + 3) else ' '
      val s2 = if (i + 7 < n) s.charAt(i + 7) else ' '
      if (isDig(s.charAt(i)) && !wordLeft(s, i) &&
          isDig(s.charAt(i + 1)) && isDig(s.charAt(i + 2)) &&
          (s1 == '-' || s1 == '.') &&
          isDig(s.charAt(i + 4)) && isDig(s.charAt(i + 5)) &&
          isDig(s.charAt(i + 6)) &&
          (s2 == '-' || s2 == '.') &&
          isDig(s.charAt(i + 8)) && isDig(s.charAt(i + 9)) &&
          isDig(s.charAt(i + 10)) && isDig(s.charAt(i + 11)) &&
          !wordRight(s, i + 12)) {
        cnt += 1
        i += 12
      } else i += 1
    }
    cnt
  }

  /** struct(c_email, c_ipv4, c_ssn, c_phone) in one string pass each —
    * the four PiiPatterns regexp_count projections without four
    * java.util.regex engines per row. */
  def piiCounts(u: UTF8String): InternalRow = {
    val s = u.toString
    new GenericInternalRow(Array[Any](
      countEmail(s), countIpv4(s), countSsn(s), countPhone(s)))
  }
}

/** See TextKernelUtil.tokenInListCount. `tokens` is a literal list fixed
  * at plan time (stopword dictionaries). */
case class TokenInListCount(child: Expression, tokens: Seq[String])
    extends UnaryKernel {
  override def prettyName: String = "token_in_list_count"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = LongType
  override protected def forwarder =
    "graft.functions.TextKernelUtil.tokenInListCount"
  override protected def planArgs = Seq("tokens" -> tokens.toArray)
  override protected def withNewChildInternal(
      newChild: Expression): TokenInListCount = copy(child = newChild)
}

/** See TextKernelUtil.bpeTokenCount. */
case class BpeTokenCount(child: Expression) extends UnaryKernel {
  override def prettyName: String = "bpe_token_count"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = LongType
  override protected def forwarder =
    "graft.functions.TextKernelUtil.bpeTokenCount"
  override protected def withNewChildInternal(
      newChild: Expression): BpeTokenCount = copy(child = newChild)
}

/** See TextKernelUtil.digitCount. */
case class DigitCount(child: Expression) extends UnaryKernel {
  override def prettyName: String = "digit_count"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = LongType
  override protected def forwarder = "graft.functions.TextKernelUtil.digitCount"
  override protected def withNewChildInternal(
      newChild: Expression): DigitCount = copy(child = newChild)
}

/** See TextKernelUtil.bucketWeightSum. `weights` is the 2^k-entry
  * model table fixed at plan time (rides as a reference object). */
case class BucketWeightSum(child: Expression, weights: Array[Double])
    extends UnaryKernel {
  require(weights.length == 256,
    "BucketWeightSum buckets by one md5 byte: need exactly 256 weights")

  override def prettyName: String = "bucket_weight_sum"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = DoubleType
  override protected def forwarder =
    "graft.functions.TextKernelUtil.bucketWeightSum"
  override protected def planArgs = Seq("weights" -> weights)
  override protected def withNewChildInternal(
      newChild: Expression): BucketWeightSum = copy(child = newChild)
}

/** See TextKernelUtil.trigramStats: struct(n_tri, n_uniq) per row. */
case class TrigramStats(child: Expression) extends UnaryKernel {
  override def prettyName: String = "trigram_stats"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = StructType(Seq(
    StructField("n_tri", LongType, nullable = false),
    StructField("n_uniq", LongType, nullable = false)))
  override protected def forwarder =
    "graft.functions.TextKernelUtil.trigramStats"
  override protected def withNewChildInternal(
      newChild: Expression): TrigramStats = copy(child = newChild)
}

/** See TextKernelUtil.termStats: struct(dl, cnts) per row — token total
  * plus per-term occurrence counts for the plan-time `tokens` list. */
case class TermStats(child: Expression, tokens: Seq[String])
    extends UnaryKernel {
  override def prettyName: String = "term_stats"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("cnts", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override protected def forwarder = "graft.functions.TextKernelUtil.termStats"
  override protected def planArgs = Seq("tokens" -> tokens.toArray)
  override protected def withNewChildInternal(
      newChild: Expression): TermStats = copy(child = newChild)
}

/** See TextKernelUtil.piiCounts: struct(c_email, c_ipv4, c_ssn,
  * c_phone) per row. Cited pattern semantics: TextOps.PiiPatterns. */
case class PiiCounts(child: Expression) extends UnaryKernel {
  override def prettyName: String = "pii_counts"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = StructType(Seq(
    StructField("c_email", LongType, nullable = false),
    StructField("c_ipv4", LongType, nullable = false),
    StructField("c_ssn", LongType, nullable = false),
    StructField("c_phone", LongType, nullable = false)))
  override protected def forwarder = "graft.functions.TextKernelUtil.piiCounts"
  override protected def withNewChildInternal(
      newChild: Expression): PiiCounts = copy(child = newChild)
}

/** Bounded top-k aggregate: keeps the k best (weight, word) pairs per
  * group under the total order (weight DESC, word ASC binary — the
  * row_number()-window tie-break), evaluating to an array of
  * struct(word, weight) in rank order. This is the scale path for
  * "top k per group": a window form sorts EVERY group member on one
  * task per group (a per-source full-vocab sort at corpus scale),
  * while this aggregate's partial state is k entries per group per
  * map partition — only k×|partitions| tiny structs cross the
  * shuffle, and merge is a k-way bounded insert. */
case class TopKWeighted(
    weight: Expression,
    word: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[TopKWeighted.Buf]
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  override def left: Expression = weight
  override def right: Expression = word

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires k > 0, got $k")
    else if (weight.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a double weight, got ${weight.dataType.simpleString}")
    else if (word.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string word, got ${word.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      StructType(Seq(
        StructField("word", StringType, nullable = false),
        StructField("weight", DoubleType, nullable = false))),
      containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "top_k_weighted"

  override def createAggregationBuffer(): TopKWeighted.Buf =
    new TopKWeighted.Buf(0, new Array[Double](k), new Array[UTF8String](k))

  /** Rank position of candidate (w, t): the count of kept entries that
    * order strictly before it. Weights compare under Spark's SQL double
    * ordering (NaN greater than any double and equal to itself,
    * -0.0 == 0.0) so the result matches the row_number() window this
    * aggregate replaces even for non-finite weights. */
  private def insert(buf: TopKWeighted.Buf, w: Double, t: UTF8String): Unit = {
    var p = 0
    var scan = true
    while (scan && p < buf.n) {
      val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(buf.ws(p), w)
      if (cmp > 0 || (cmp == 0 && buf.words(p).compareTo(t) <= 0)) p += 1
      else scan = false
    }
    if (p >= k) return
    var i = math.min(buf.n, k - 1)
    while (i > p) {
      buf.ws(i) = buf.ws(i - 1)
      buf.words(i) = buf.words(i - 1)
      i -= 1
    }
    buf.ws(p) = w
    buf.words(p) = t
    if (buf.n < k) buf.n += 1
  }

  override def update(buf: TopKWeighted.Buf, input: InternalRow)
      : TopKWeighted.Buf = {
    val w = weight.eval(input)
    val t = word.eval(input)
    if (w != null && t != null)
      // clone: the eval result may point into a reused row buffer
      insert(buf, w.asInstanceOf[Double],
        t.asInstanceOf[UTF8String].clone())
    buf
  }

  override def merge(a: TopKWeighted.Buf, b: TopKWeighted.Buf)
      : TopKWeighted.Buf = {
    var i = 0
    while (i < b.n) { insert(a, b.ws(i), b.words(i)); i += 1 }
    a
  }

  override def eval(buf: TopKWeighted.Buf): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = new GenericInternalRow(
        Array[Any](buf.words(i), buf.ws(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: TopKWeighted.Buf): Array[Byte] = {
    var size = 4
    var i = 0
    while (i < buf.n) { size += 12 + buf.words(i).numBytes(); i += 1 }
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putDouble(buf.ws(i))
      val wb = buf.words(i).getBytes
      bb.putInt(wb.length)
      bb.put(wb)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKWeighted.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKWeighted.Buf(n, new Array[Double](k),
      new Array[UTF8String](k))
    var i = 0
    while (i < n) {
      buf.ws(i) = bb.getDouble()
      val wb = new Array[Byte](bb.getInt())
      bb.get(wb)
      buf.words(i) = UTF8String.fromBytes(wb)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKWeighted =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKWeighted =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKWeighted =
    copy(weight = newLeft, word = newRight)
}

object TopKWeighted {
  /** Rank-ordered size-≤k state: parallel arrays, entry i is the
    * i-th best (weight DESC, word ASC). */
  final class Buf(var n: Int, val ws: Array[Double],
      val words: Array[UTF8String])
}

object text {
  def tokenInListCount(c: Column, tokens: Seq[String]): Column =
    graftexpr.column(TokenInListCount(graftexpr.expression(c), tokens))

  /** top-k (weight, word) pairs per group, rank order (aggregate). */
  def topKWeighted(weight: Column, word: Column, k: Int): Column =
    graftexpr.column(TopKWeighted(graftexpr.expression(weight),
      graftexpr.expression(word), k).toAggregateExpression())

  def digitCount(c: Column): Column =
    graftexpr.column(DigitCount(graftexpr.expression(c)))

  def bpeTokenCount(c: Column): Column =
    graftexpr.column(BpeTokenCount(graftexpr.expression(c)))

  def trigramStats(c: Column): Column =
    graftexpr.column(TrigramStats(graftexpr.expression(c)))

  def bucketWeightSum(c: Column, weights: Array[Double]): Column =
    graftexpr.column(BucketWeightSum(graftexpr.expression(c), weights))

  def piiCounts(c: Column): Column =
    graftexpr.column(PiiCounts(graftexpr.expression(c)))

  def termStats(c: Column, tokens: Seq[String]): Column =
    graftexpr.column(TermStats(graftexpr.expression(c), tokens))
}
