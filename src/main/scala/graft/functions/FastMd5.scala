package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftexpr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen helper for FastMd5 — separate object (not the expression's
  * companion) so scalac emits static forwarders the generated Java can
  * call directly. */
object Md5Util {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Hex = "0123456789abcdef".getBytes

  // Rejected round-20 variant, for the record: a hand-rolled
  // single-block MD5 compress (RFC 1321 in plain Java ALU ops, zero
  // allocation) replacing JCE in the fingerprint gram loop measured
  // SLOWER at docs-1000× — 53.9 s vs the JCE loop's 49.3 s — because
  // HotSpot intrinsifies MessageDigest's MD5 compress (JDK-8250902);
  // a Java reimplementation competes with vectorized intrinsic code
  // and loses. The wins that DID ship live in minGramMd5's loop
  // discipline: digest into reused buffers, raw-digest unsigned
  // compare, hex once at the end (49.3 → 37.1 s, near parity with
  // DuckDB's C md5 at 33.9 s).
  def md5Hex(bytes: Array[Byte]): UTF8String = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** min (lexicographic) md5 hex digest over every `width`-char gram of
    * `s`, matching min(md5(substring(s, i, width))) for i in
    * 1..len-width+1. One thread-local digest, one reused gram buffer,
    * no per-gram allocations beyond the digest's own output. Returns
    * null for strings shorter than `width` (no grams — the SQL min over
    * an empty set). */
  def minGramMd5(s: UTF8String, width: Int): UTF8String = {
    val str = s.toString
    // Spark's length()/substring() count CODE POINTS, not UTF-16 units
    // — index grams by code point so supplementary characters (emoji)
    // produce the same grams as substring(text, i, width)
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n < width) return null
    // Hot-loop design, measured at docs-1000× (round 20): the digest
    // itself stays on JCE — HotSpot intrinsifies the MD5 compress
    // (JDK-8250902), so a hand-rolled Java single-block compress
    // measured SLOWER here (53.9 vs 49.3 s; rejected — see the note
    // above md5Hex). What this loop does avoid is the per-gram garbage
    // the old form paid: digest lands in one of two REUSED 16-byte
    // buffers (digest(buf, 0, 16) — no fresh array per call), the
    // running minimum is the RAW digest compared unsigned (hex is
    // nibble-monotone, so unsigned byte order IS hex-lexicographic
    // order), and the winner is hex-encoded once at the end — no
    // 32-byte hex buffer, encode, or compare per gram.
    val md = digest.get()
    val gram = new Array[Byte](width)
    var cur = new Array[Byte](16)
    var min: Array[Byte] = null
    var i = 0
    // all-ASCII document (bytes == code points — the overwhelming
    // case): grams are byte slices of the UTF8String's own buffer, so
    // the loop is update(bytes, i, width) with no per-gram copy and no
    // codePoints round-trip
    val asciiDoc = s.numBytes == n
    val raw = if (asciiDoc) s.getBytes else null
    while (i + width <= n) {
      md.reset()
      if (asciiDoc) md.update(raw, i, width)
      else {
        var j = 0
        var ascii = true
        while (j < width && ascii) {
          val cp = cps(i + j)
          if (cp < 128) gram(j) = cp.toByte else ascii = false
          j += 1
        }
        if (ascii) md.update(gram)
        else md.update(new String(cps, i, width)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      md.digest(cur, 0, 16)
      if (min == null) { min = cur; cur = new Array[Byte](16) }
      else if (java.util.Arrays.compareUnsigned(cur, min) < 0) {
        val t = min; min = cur; cur = t
      }
      i += 1
    }
    val out = new Array[Byte](32)
    var k = 0
    while (k < 16) {
      out(2 * k) = Hex((min(k) >> 4) & 0xf)
      out(2 * k + 1) = Hex(min(k) & 0xf)
      k += 1
    }
    UTF8String.fromBytes(out)
  }

  /** 8 slice-minima of md5 hex over 3-word shingles (see MinhashSlices
    * for exact semantics). One digest, one hex buffer, slice compares
    * in place; allocations only when a slice minimum improves. */
  def minhashSlices(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    // split(text, ' ') semantics: Java split with limit -1 keeps
    // trailing empty tokens, like Spark's
    val words = s.toString.split(" ", -1)
    val n = words.length
    if (n < 3) return null
    // encode each word once; a word participates in up to 3 shingles
    val wb = new Array[Array[Byte]](n)
    var w = 0
    while (w < n) {
      wb(w) = words(w).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      w += 1
    }
    val Space = ' '.toByte
    val md = digest.get()
    val hex = new Array[Byte](32)
    val mins = new Array[Array[Byte]](8)
    var j = 0
    while (j + 3 <= n) {
      md.reset()
      md.update(wb(j)); md.update(Space)
      md.update(wb(j + 1)); md.update(Space)
      md.update(wb(j + 2))
      val d = md.digest()
      var k = 0
      while (k < 16) {
        hex(2 * k) = Hex((d(k) >> 4) & 0xf)
        hex(2 * k + 1) = Hex(d(k) & 0xf)
        k += 1
      }
      var i = 0
      while (i < 8) {
        val off = 4 * i
        val cur = mins(i)
        var cmp = 0
        if (cur != null) {
          var b = 0
          while (cmp == 0 && b < 4) {
            cmp = java.lang.Byte.compare(hex(off + b), cur(b))
            b += 1
          }
        }
        if (cur == null || cmp < 0) {
          mins(i) = java.util.Arrays.copyOfRange(hex, off, off + 4)
        }
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mins.map(UTF8String.fromBytes(_)).asInstanceOf[Array[Any]])
  }

  /** 32-bit SimHash of the space-split tokens of `s` (WITH duplicates —
    * token frequency weights the bits), from the first 32 bits of each
    * token's md5. Bit j of the result is set iff more tokens have bit j
    * set than clear, where bit j is read MSB-first through the hex
    * digest: hex char j/4, value bit (3 - j%4) — exactly the
    * instr('0123456789abcdef', substr(h, j/4+1, 1)) formulation of the
    * aggregate it replaces (Dedup.simhash pre-kernel), whose per-token
    * cost was 32 substr/instr expression trees plus a token explode
    * and a hash aggregate; here one per-doc loop, no explode, no
    * shuffle. */
  def simHash32(s: UTF8String): Long = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length
    val cnt = new Array[Int](32)
    val md = digest.get()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(toks(i)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 4 digest bytes, big-endian: bit j of the simhash reads
      // bit (31 - j) of this word (nibble j/4 MSB-first = hex order)
      val u = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
        ((d(2) & 0xff) << 8) | (d(3) & 0xff)
      var j = 0
      while (j < 32) {
        cnt(j) += (u >>> (31 - j)) & 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      // sum of (2*bit - 1) over tokens > 0  ⟺  2*cnt > n
      if (2 * cnt(j) > n) out |= 1L << j
      j += 1
    }
    out
  }

  /** Distinct xxhash64 (Spark seed 42) hashes of the `width`-code-point
    * grams of `s`, first-occurrence order — long keys for consumers
    * where only set sizes and intersection counts reach the output
    * (collision-resistant, not injective: ~n²/2⁶⁵ collision odds):
    * 8-byte elements instead of 4-char UTF8Strings shrink the shuffled
    * per-doc arrays ~4× and make array_intersect compare longs. Null
    * for strings shorter than `width`. */
  def distinctGramHashes(s: UTF8String, width: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < width) return null
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + width <= n) {
      seen.add(org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(new String(cps, i, width)),
          org.apache.spark.sql.types.StringType, 42L))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Word-start byte offsets of `s` under split(" ", -1) semantics:
    * starts(k) is the byte offset of word k, starts(nWords) a sentinel
    * one past a virtual trailing space, so word k occupies bytes
    * [starts(k), starts(k+1)-1). The scan is over raw UTF-8 bytes —
    * 0x20 never occurs inside a multibyte sequence, so byte-level
    * splitting equals character-level splitting — and because joining
    * consecutive split words with ' ' reconstructs the source bytes,
    * every word GRAM is a contiguous region of the original buffer:
    * gram g of width w = bytes [starts(g), starts(g+w)-1). Grams are
    * hashed straight from that region; no gram string, word array, or
    * StringBuilder is ever materialized (this scan replaced a
    * split+join kernel that allocated ~3 strings per gram — measured
    * ~3x on the span-dedup/source-overlap hot path at sf~1). */
  private def wordStartOffsets(bytes: Array[Byte]): Array[Int] = {
    val nb = bytes.length
    var nWords = 1
    var i = 0
    while (i < nb) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < nb) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = nb + 1
    starts
  }

  private def md5HexRegion(bytes: Array[Byte], off: Int, len: Int)
      : UTF8String = {
    val md = digest.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Distinct md5-hex hashes of the width-word grams of `s`, first
    * occurrence order — matches array_distinct(transform(sequence,
    * i -> md5(concat_ws(' ', w[i..i+width-1])))) exactly (distinct on
    * the HASH, like the expression it replaces). Null for < width
    * words (callers filter). Each gram is digested straight from its
    * byte region (see [[wordStartOffsets]]). */
  def distinctWordGramMd5(s: UTF8String, width: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val starts = wordStartOffsets(bytes)
    val nWords = starts.length - 1
    if (nWords < width) return null
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var g = 0
    while (g + width <= nWords) {
      val start = starts(g)
      seen.add(md5HexRegion(bytes, start, starts(g + width) - 1 - start))
      g += 1
    }
    val out = new Array[Any](seen.size)
    val oit = seen.iterator()
    var k = 0
    while (oit.hasNext) { out(k) = oit.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct xxhash64 (Spark seed 42) hashes of the width-word grams
    * of `s` — the long-keyed twin of [[distinctWordGramMd5]]. Hashes
    * are computed straight from each gram's byte region and deduped in
    * an insertion-ordered open-addressing long set: zero allocations
    * per gram, and the result rides out as a primitive long array. */
  def distinctWordGramXx(s: UTF8String, width: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val starts = wordStartOffsets(bytes)
    val nWords = starts.length - 1
    if (nWords < width) return null
    val nGrams = nWords - width + 1
    // power-of-two capacity ≥ 2*nGrams keeps load factor ≤ 0.5
    var cap = 8
    while (cap < nGrams * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val order = new Array[Long](nGrams)
    var cnt = 0
    var g = 0
    while (g < nGrams) {
      val start = starts(g)
      val len = starts(g + width) - 1 - start
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          len, 42L)
      var idx = java.lang.Long.hashCode(h) & (cap - 1)
      var dup = false
      while (used(idx) && !dup) {
        if (table(idx) == h) dup = true
        else idx = (idx + 1) & (cap - 1)
      }
      if (!dup) {
        used(idx) = true
        table(idx) = h
        order(cnt) = h
        cnt += 1
      }
      g += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(order, cnt))
  }

  /** POSITIONAL width-word gram xxhash64 hashes — every gram window in
    * document order, duplicates kept (the [[distinctWordGramXx]]
    * sibling for span analysis, where WHERE a gram occurs matters).
    * Null when the doc has fewer than `width` words. */
  def wordGramXx(s: UTF8String, width: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val starts = wordStartOffsets(bytes)
    val nWords = starts.length - 1
    if (nWords < width) return null
    val nGrams = nWords - width + 1
    val out = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      val start = starts(g)
      val len = starts(g + width) - 1 - start
      out(g) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          len, 42L)
      g += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** 32-bit byte-domain dHash of a binary payload: 33 evenly-spaced
    * byte samples (offset_j = ⌊j·n/33⌋), bit j set iff sample j >
    * sample j+1 (unsigned). Locality-sensitive to byte edits the way
    * pixel dHash is to image edits — a real perceptual hash swaps the
    * byte stream for the decoded luminance grid, plan unchanged.
    * Null under 33 bytes (samples would repeat degenerately). */
  def pHash32(bytes: Array[Byte]): java.lang.Long = {
    val n = bytes.length
    if (n < 33) return null
    var out = 0L
    var j = 0
    var prev = bytes(0) & 0xff
    while (j < 32) {
      val next = bytes(((j + 1).toLong * n / 33).toInt) & 0xff
      if (prev > next) out |= 1L << j
      prev = next
      j += 1
    }
    out
  }

  /** xxhash64 (Spark seed 42) of EVERY space-separated word of `s`, in
    * order, duplicates kept — transform(split(s, ' '), w -> xxhash64(w))
    * without the interpreted lambda or the per-word string: each word is
    * hashed straight from its byte region. The unigram twin of
    * [[distinctWordGramXx]], for token-stream operators (LM vocab
    * counts, per-doc score folds) whose downstream only needs an
    * injective word key. */
  def wordHashesXx(s: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val starts = wordStartOffsets(bytes)
    val nWords = starts.length - 1
    val out = new Array[Long](nWords)
    var w = 0
    while (w < nWords) {
      val start = starts(w)
      val len = starts(w + 1) - 1 - start
      out(w) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          len, 42L)
      w += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  private def regionEquals(bytes: Array[Byte], aStart: Int, bStart: Int,
      len: Int): Boolean = {
    var i = 0
    while (i < len) {
      if (bytes(aStart + i) != bytes(bStart + i)) return false
      i += 1
    }
    true
  }

  /** Row-local word census: (word, count) over the space-separated
    * words of `s`, first-occurrence order — the per-document half of
    * explode(split(text, ' ')) + groupBy(word).count() done in ONE
    * byte pass, so the per-token Generate rows and per-token aggregate
    * probes never exist; downstream term-frequency aggregates see one
    * row per DISTINCT word per document. Probing keys on xxhash64 of
    * the word's byte region with byte-exact confirmation (a hash
    * collision cannot merge two different words), so the census equals
    * the declarative form bit-for-bit, empty tokens included. */
  def wordCensus(s: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val starts = wordStartOffsets(bytes)
    val nWords = starts.length - 1
    var cap = 8
    while (cap < nWords * 2) cap <<= 1
    val slots = new Array[Int](cap) // census index + 1; 0 = empty
    val hs = new Array[Long](nWords)
    val st = new Array[Int](nWords)
    val ln = new Array[Int](nWords)
    val cnt = new Array[Long](nWords)
    var n = 0
    var w = 0
    while (w < nWords) {
      val start = starts(w)
      val len = starts(w + 1) - 1 - start
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          len, 42L)
      var idx = java.lang.Long.hashCode(h) & (cap - 1)
      var found = -1
      while (found < 0 && slots(idx) != 0) {
        val e = slots(idx) - 1
        if (hs(e) == h && ln(e) == len &&
            regionEquals(bytes, st(e), start, len)) found = e
        else idx = (idx + 1) & (cap - 1)
      }
      if (found >= 0) cnt(found) += 1
      else {
        slots(idx) = n + 1
        hs(n) = h; st(n) = start; ln(n) = len; cnt(n) = 1L
        n += 1
      }
      w += 1
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](
          UTF8String.fromBytes(bytes, st(i), ln(i)), cnt(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Two-pointer merge count over ascending duplicate-free long arrays
    * (see SortedLongIntersectCount). */
  def sortedLongIntersectCount(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

/** Drop-in replacement for the built-in md5() over string input with
  * identical output, minus its per-row costs: the built-in routes
  * through commons-codec DigestUtils, which instantiates a fresh
  * MessageDigest per row and builds the hex via a char[]→String→
  * UTF8String round-trip. This one reuses a thread-local digest and
  * writes hex bytes straight into a UTF8String — the md5-bound dedup/
  * fingerprint operators are pure hash throughput, so this is where
  * a native expression beats the built-in (SURVEY §4 graft.functions).
  */
case class FastMd5(child: Expression) extends UnaryKernel {
  override def prettyName: String = "fast_md5"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = StringType
  override protected def forwarder = "graft.functions.Md5Util.md5Hex"
  override protected def withNewChildInternal(
      newChild: Expression): FastMd5 = copy(child = newChild)
}

/** Fingerprint kernel: min (lexicographic) md5 hex over all `width`-char
  * grams of a document, in ONE loop per row. The equivalent
  * explode+groupBy plan materializes and shuffles one row per gram
  * (~n_chars rows per doc); this keeps the whole winnowing fold inside
  * whole-stage codegen — no explode, no shuffle, the fingerprint query
  * becomes a narrow projection. Matches
  * min(md5(substring(text, i, width))) exactly (ASCII hex compares
  * lexicographically the same under String and byte order). Null for
  * documents shorter than `width`. */
case class MinGramMd5(child: Expression, width: Int) extends UnaryKernel {
  override def prettyName: String = "min_gram_md5"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = StringType
  override protected def forwarder = "graft.functions.Md5Util.minGramMd5"
  override protected def planArgs = Seq("width" -> width)
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): MinGramMd5 = copy(child = newChild)
}

/** MinHash kernel: the 8 per-slice minima of md5 over every 3-word
  * shingle of a document, in ONE loop per row — the signature row of
  * minhashSignatures without the shingle explode or the aggregation
  * shuffle. Matches min(substring(md5(shingle), 4*i+1, 4)) for i in
  * 0..7 over shingles built as concat_ws(' ', w[j], w[j+1], w[j+2]) from
  * split(text, ' ') — including split's empty tokens on repeated
  * spaces. Returns null when the doc has fewer than 3 words. */
case class MinhashSlices(child: Expression) extends UnaryKernel {
  override def prettyName: String = "minhash_slices"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def forwarder = "graft.functions.Md5Util.minhashSlices"
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): MinhashSlices = copy(child = newChild)
}

/** See Md5Util.pHash32: byte-domain dHash of a binary payload. */
case class PHash32(child: Expression) extends UnaryKernel {
  override def prettyName: String = "phash32"
  override protected def accepts = StaticKernel.Binary
  override def dataType: DataType = LongType
  override protected def forwarder = "graft.functions.Md5Util.pHash32"
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): PHash32 = copy(child = newChild)
}

/** Whole-document 32-bit SimHash as one fused per-row loop (see
  * Md5Util.simHash32 for the bit contract) — replaces a token explode
  * + 32 aggregate expressions + hash aggregate with a shuffle-free
  * projection. */
case class SimHash32(child: Expression) extends UnaryKernel {
  override def prettyName: String = "simhash32"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = LongType
  override protected def forwarder = "graft.functions.Md5Util.simHash32"
  override protected def withNewChildInternal(
      newChild: Expression): SimHash32 = copy(child = newChild)
}

/** Distinct xxhash64 hashes of the char `width`-grams, first-seen
  * order (see Md5Util.distinctGramHashes for the injective-invariance
  * argument). Null for docs shorter than `width` code points. */
case class DistinctGramHashes(child: Expression, width: Int)
    extends UnaryKernel {
  override def prettyName: String = "distinct_gram_hashes"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def forwarder = "graft.functions.Md5Util.distinctGramHashes"
  override protected def planArgs = Seq("width" -> width)
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): DistinctGramHashes = copy(child = newChild)
}

/** Distinct hashed width-word grams per document as an array, in one
  * fused loop — the shared Grams contract (decontamination, span
  * dedup, source overlap, gram novelty) without the interpreted
  * array_distinct(transform(sequence(...))) lambda chain, which
  * allocates a Column string per gram per row and runs as a
  * CodegenFallback (measured 4-6× at sf~1). Distinct is on the HASH
  * value in first-occurrence order, exactly like the expression it
  * replaces; `variant` picks md5 hex strings (cross-engine oracle
  * keys) or xxhash64 longs (narrow shuffles). Null for docs with
  * fewer than `width` words. */
case class DistinctWordGramHashes(child: Expression, width: Int,
    variant: String) extends UnaryKernel {
  require(width > 0, "width must be positive")
  require(variant == "md5" || variant == "xxhash64",
    s"unsupported gram hash $variant")

  override def prettyName: String = "distinct_word_gram_hashes"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType =
    if (variant == "md5") ArrayType(StringType, containsNull = false)
    else ArrayType(LongType, containsNull = false)
  override protected def forwarder =
    if (variant == "md5") "graft.functions.Md5Util.distinctWordGramMd5"
    else "graft.functions.Md5Util.distinctWordGramXx"
  override protected def planArgs = Seq("width" -> width)
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): DistinctWordGramHashes = copy(child = newChild)
}

/** Intersection CARDINALITY of two ascending-sorted long-set arrays —
  * the candidate-verify kernel. `size(array_intersect(sa, sb))` builds
  * a hash set AND materializes the intersection array per candidate
  * pair when only the count reaches the output (jaccard/containment);
  * over pre-sorted set arrays a two-pointer merge does neither —
  * no per-pair allocation at all. Sorting costs one `sort_array` per
  * DOCUMENT at signature-build time; the win is per candidate PAIR
  * (candidates outnumber documents severalfold under near-dup-heavy
  * corpora). Both inputs MUST be duplicate-free and ascending — the
  * signature kernels' set outputs wrapped in sort_array qualify. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryKernel {
  override def prettyName: String = "sorted_long_intersect_count"
  override protected def accepts = StaticKernel.LongSets
  override def dataType: DataType = LongType
  override protected def forwarder =
    "graft.functions.Md5Util.sortedLongIntersectCount"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** See Md5Util.wordGramXx: positional width-word gram xxhash64 longs,
  * document order, duplicates kept. */
case class WordGramHashes(child: Expression, width: Int)
    extends UnaryKernel {
  require(width > 0, "width must be positive")

  override def prettyName: String = "word_gram_hashes"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def forwarder = "graft.functions.Md5Util.wordGramXx"
  override protected def planArgs = Seq("width" -> width)
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): WordGramHashes = copy(child = newChild)
}

/** See Md5Util.wordHashesXx: per-word xxhash64 longs, order kept. */
case class WordHashes(child: Expression) extends UnaryKernel {
  override def prettyName: String = "word_hashes"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def forwarder = "graft.functions.Md5Util.wordHashesXx"
  override protected def withNewChildInternal(
      newChild: Expression): WordHashes = copy(child = newChild)
}

/** See Md5Util.wordCensus: per-document (word, count) pairs, one pass. */
case class WordCensus(child: Expression) extends UnaryKernel {
  override def prettyName: String = "word_census"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)
  override protected def forwarder = "graft.functions.Md5Util.wordCensus"
  override protected def withNewChildInternal(
      newChild: Expression): WordCensus = copy(child = newChild)
}

object hashes {
  /** md5 hex digest of a string column (same output as
    * functions.md5(c.cast(binary)), faster per row). */
  def md5(c: Column): Column =
    graftexpr.column(FastMd5(graftexpr.expression(c)))

  /** min md5 over all width-char grams (see MinGramMd5). */
  def minGramMd5(c: Column, width: Int): Column =
    graftexpr.column(MinGramMd5(graftexpr.expression(c), width))

  /** 8 minhash slice minima over 3-word shingles (see MinhashSlices). */
  def minhashSlices(c: Column): Column =
    graftexpr.column(MinhashSlices(graftexpr.expression(c)))

  /** 32-bit document SimHash (see SimHash32). */
  def simHash32(c: Column): Column =
    graftexpr.column(SimHash32(graftexpr.expression(c)))

  /** distinct char-gram xxhash64 longs (see DistinctGramHashes). */
  def distinctGramHashes(c: Column, width: Int): Column =
    graftexpr.column(DistinctGramHashes(graftexpr.expression(c), width))

  /** distinct hashed width-word grams (see DistinctWordGramHashes). */
  def distinctWordGramHashes(c: Column, width: Int,
      variant: String): Column =
    graftexpr.column(
      DistinctWordGramHashes(graftexpr.expression(c), width, variant))

  /** intersection cardinality of two sorted long-set arrays (see
    * SortedLongIntersectCount). */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    graftexpr.column(SortedLongIntersectCount(
      graftexpr.expression(a), graftexpr.expression(b)))

  /** per-word xxhash64 longs, duplicates and order kept (see WordHashes). */
  def wordHashes(c: Column): Column =
    graftexpr.column(WordHashes(graftexpr.expression(c)))

  /** per-document (word, count) census pairs (see WordCensus). */
  def wordCensus(c: Column): Column =
    graftexpr.column(WordCensus(graftexpr.expression(c)))

  /** positional width-word gram xxhash64 longs (see WordGramHashes). */
  def wordGramHashes(c: Column, width: Int): Column =
    graftexpr.column(WordGramHashes(graftexpr.expression(c), width))

  /** 32-bit byte-domain dHash of a binary payload (see PHash32). */
  def pHash32(c: Column): Column =
    graftexpr.column(PHash32(graftexpr.expression(c)))
}
