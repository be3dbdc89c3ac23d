package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftexpr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-field JSON long extraction without a general-purpose parser.
  *
  * The SARs/osquery-shaped log views (reference sars/run.py's
  * `raw:"columns":"path"` idiom) extract ONE typed field from every
  * event's JSON payload — the per-row hot path of those queries.
  * Spark's from_json tokenizes the document through Jackson and builds
  * an InternalRow per row; get_json_object walks a path matcher. Both
  * are an order of magnitude more machinery than "find the top-level
  * key, read an integer". This kernel is a single-pass VALIDATING
  * scanner over the UTF-8 bytes, matching from_json's observable
  * semantics for one LongType field (fuzz-pinned in FuzzParitySpec):
  *
  *   - the field is written only on a successful integer conversion,
  *     so of duplicate keys the last CONVERTIBLE one wins (a trailing
  *     `"k":1.5` or an overflowing literal does not erase an earlier
  *     good value — Jackson's write-on-success row build)
  *   - tokenizer-level malformations ANYWHERE (leading-zero numbers,
  *     bare `-`, bad literals/escapes, structural errors) null the
  *     whole document, exactly like Jackson's hard parse failure
  *   - trailing bytes after the root object are ignored (Jackson stops
  *     at the end of the first value)
  *   - escaped key characters (`k` etc.) are decoded before
  *     comparison (allocates only when a key contains a backslash)
  */
object JsonKernelUtil {

  /** Per-thread scratch for the value parser (kind + long value). */
  private final class St {
    var kind: Int = 0 // 0 = not an in-range integer, 1 = integer
    var value: Long = 0L
  }
  private val st = new ThreadLocal[St] {
    override def initialValue(): St = new St
  }

  /** Returns boxed Long or null; `key` must be the raw (unescaped)
    * field name. */
  def longField(s: UTF8String, key: UTF8String): java.lang.Long = {
    val bytes = s.getBytes
    val n = bytes.length
    val keyBytes = key.getBytes
    val state = st.get()
    var i = skipWs(bytes, 0)
    if (i >= n || bytes(i) != '{') return null
    i += 1
    var result: java.lang.Long = null
    var first = true
    while (true) {
      i = skipWs(bytes, i)
      if (i >= n) return null
      if (bytes(i) == '}') return result // trailing bytes ignored
      if (!first) {
        if (bytes(i) != ',') return null
        i = skipWs(bytes, i + 1)
        if (i >= n) return null
      }
      first = false
      if (bytes(i) != '"') return null
      val keyStart = i + 1
      val keyEnd = scanString(bytes, keyStart)
      if (keyEnd < 0) return null
      var escaped = false
      var j = keyStart
      while (j < keyEnd && !escaped) {
        if (bytes(j) == '\\') escaped = true
        j += 1
      }
      val matched =
        if (!escaped) regionEquals(bytes, keyStart, keyEnd - keyStart, keyBytes)
        else {
          val dec = decodeString(bytes, keyStart, keyEnd)
          dec != null && java.util.Arrays.equals(
            dec.getBytes(java.nio.charset.StandardCharsets.UTF_8), keyBytes)
        }
      i = skipWs(bytes, keyEnd + 1)
      if (i >= n || bytes(i) != ':') return null
      i = skipWs(bytes, i + 1)
      i = parseValue(bytes, i, 0, state)
      if (i < 0) return null // tokenizer error anywhere nulls the doc
      if (matched && state.kind == 1)
        result = java.lang.Long.valueOf(state.value)
    }
    null // unreachable
  }

  private val MaxDepth = 1000 // Jackson's default nesting limit

  /** Validate (and for integers, parse) one JSON value at `i`. Returns
    * the position after the value, or -1 on a tokenizer-level error.
    * `state.kind` is 1 with `state.value` set iff the value is an
    * in-range integer literal (the only convertible shape for a
    * LongType field). */
  private def parseValue(
      bytes: Array[Byte], start: Int, depth: Int, state: St): Int = {
    val n = bytes.length
    state.kind = 0
    if (start >= n || depth > MaxDepth) return -1
    var i = start
    bytes(i) match {
      case '"' =>
        val e = scanString(bytes, i + 1)
        if (e < 0) -1 else e + 1
      case '{' =>
        i = skipWs(bytes, i + 1)
        if (i < n && bytes(i) == '}') return i + 1
        var first = true
        while (true) {
          if (!first) {
            i = skipWs(bytes, i)
            if (i >= n || bytes(i) != ',') return -1
            i = skipWs(bytes, i + 1)
          } else i = skipWs(bytes, i)
          first = false
          if (i >= n || bytes(i) != '"') return -1
          val ke = scanString(bytes, i + 1)
          if (ke < 0) return -1
          i = skipWs(bytes, ke + 1)
          if (i >= n || bytes(i) != ':') return -1
          i = skipWs(bytes, i + 1)
          i = parseValue(bytes, i, depth + 1, state)
          if (i < 0) return -1
          i = skipWs(bytes, i)
          if (i >= n) return -1
          if (bytes(i) == '}') { state.kind = 0; return i + 1 }
        }
        -1
      case '[' =>
        i = skipWs(bytes, i + 1)
        if (i < n && bytes(i) == ']') return i + 1
        var first = true
        while (true) {
          if (!first) {
            i = skipWs(bytes, i)
            if (i >= n || bytes(i) != ',') return -1
            i = skipWs(bytes, i + 1)
          }
          first = false
          i = parseValue(bytes, i, depth + 1, state)
          if (i < 0) return -1
          i = skipWs(bytes, i)
          if (i >= n) return -1
          if (bytes(i) == ']') { state.kind = 0; return i + 1 }
        }
        -1
      case 't' =>
        if (matchWord(bytes, i, "true")) i + 4 else -1
      case 'f' =>
        if (matchWord(bytes, i, "false")) i + 5 else -1
      case 'n' =>
        if (matchWord(bytes, i, "null")) i + 4 else -1
      case _ => parseNumber(bytes, i, state)
    }
  }

  private def matchWord(bytes: Array[Byte], i: Int, w: String): Boolean = {
    if (i + w.length > bytes.length) return false
    var k = 0
    while (k < w.length) {
      if (bytes(i + k) != w.charAt(k)) return false
      k += 1
    }
    true
  }

  /** Strict JSON number grammar (no leading zeros, no '+', digits
    * required around '.'/exponent). Sets state.kind=1 + state.value for
    * in-range integer literals; kind=0 for valid floats and overflow
    * (valid token, not convertible). Returns -1 on grammar violations —
    * a tokenizer error. */
  private def parseNumber(
      bytes: Array[Byte], start: Int, state: St): Int = {
    val n = bytes.length
    var i = start
    var neg = false
    if (i < n && bytes(i) == '-') { neg = true; i += 1 }
    if (i >= n || bytes(i) < '0' || bytes(i) > '9') return -1
    val firstDigit = i
    // accumulate negatively so Long.MinValue parses (Long.parseLong's
    // trick); overflow makes the token non-convertible, not malformed
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val multmin = limit / 10
    var acc = 0L
    var overflow = false
    while (i < n && bytes(i) >= '0' && bytes(i) <= '9') {
      val d = bytes(i) - '0'
      if (acc < multmin) overflow = true
      else {
        acc *= 10
        if (acc < limit + d) overflow = true else acc -= d
      }
      i += 1
    }
    // leading zero: "0" alone is fine, "0..." digits after is an error
    if (bytes(firstDigit) == '0' && i - firstDigit > 1) return -1
    var isInt = true
    if (i < n && bytes(i) == '.') {
      isInt = false
      i += 1
      val d0 = i
      while (i < n && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      if (i == d0) return -1
    }
    if (i < n && (bytes(i) == 'e' || bytes(i) == 'E')) {
      isInt = false
      i += 1
      if (i < n && (bytes(i) == '+' || bytes(i) == '-')) i += 1
      val d0 = i
      while (i < n && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      if (i == d0) return -1
    }
    if (isInt && !overflow) {
      state.kind = 1
      state.value = if (neg) acc else -acc
    } else state.kind = 0
    i
  }

  /** Scan a string body starting after the opening quote; returns the
    * index of the closing quote or -1 on malformed escapes / raw
    * control characters / EOF. */
  private def scanString(bytes: Array[Byte], start: Int): Int = {
    val n = bytes.length
    var i = start
    while (i < n) {
      val b = bytes(i)
      if (b == '"') return i
      if (b == '\\') {
        if (i + 1 >= n) return -1
        bytes(i + 1) match {
          case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i += 2
          case 'u' =>
            if (i + 5 >= n) return -1
            var k = i + 2
            while (k < i + 6) {
              if (Character.digit(bytes(k), 16) < 0) return -1
              k += 1
            }
            i += 6
          case _ => return -1
        }
      } else if ((b & 0xff) < 0x20) {
        return -1 // raw control character — Jackson rejects
      } else i += 1
    }
    -1
  }

  private def regionEquals(
      bytes: Array[Byte], off: Int, len: Int, key: Array[Byte]): Boolean = {
    if (len != key.length) return false
    var i = 0
    while (i < len) {
      if (bytes(off + i) != key(i)) return false
      i += 1
    }
    true
  }

  /** Decode the escaped JSON string in bytes[start, end) (end at the
    * closing quote); null on malformed escapes. Allocates — called only
    * for keys containing a backslash. */
  private def decodeString(
      bytes: Array[Byte], start: Int, end: Int): String = {
    val sb = new java.lang.StringBuilder(end - start)
    var i = start
    while (i < end) {
      val b = bytes(i)
      if (b == '\\') {
        if (i + 1 >= end) return null
        bytes(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            if (i + 6 > end) return null
            var cp = 0
            var k = i + 2
            while (k < i + 6) {
              val h = Character.digit(bytes(k), 16)
              if (h < 0) return null
              cp = cp * 16 + h
              k += 1
            }
            sb.append(cp.toChar)
            i += 6
          case _ => return null
        }
      } else {
        var j = i
        while (j < end && bytes(j) != '\\') j += 1
        sb.append(new String(bytes, i, j - i,
          java.nio.charset.StandardCharsets.UTF_8))
        i = j
      }
    }
    sb.toString
  }

  private def skipWs(bytes: Array[Byte], start: Int): Int = {
    var i = start
    while (i < bytes.length &&
      (bytes(i) == ' ' || bytes(i) == '\t' ||
        bytes(i) == '\n' || bytes(i) == '\r')) i += 1
    i
  }

  // ---- kv-pairs flatten (JsonKvPairs) ------------------------------

  /** All top-level (key, value-as-string) pairs of a JSON object, in
    * document order, duplicates kept — `explode(from_json(doc,
    * Map[String,String]))` semantics (fuzz-pinned in FuzzParitySpec)
    * at byte-scan cost, for the VARIANT-flatten hot path:
    *
    *   - string values are escape-DECODED (Jackson getText)
    *   - in-range integer tokens render via the parsed long (`-0` →
    *     `0`, Jackson writeNumber(getLongValue)); overflowing integer
    *     tokens keep their raw (canonical) digits (BigInteger path)
    *   - float tokens normalize through double
    *     (`1.50`→`1.5`, `1e2`→`100.0` — Jackson getDoubleValue)
    *   - `true`/`false` literal; `null` → null VALUE (the pair is
    *     still emitted, as the map entry exists)
    *   - nested objects/arrays re-serialize COMPACT with the same
    *     scalar rules applied recursively and strings re-escaped
    *     (Jackson copyCurrentStructure)
    *   - malformed document / non-object root → null (PERMISSIVE
    *     from_json's null map; explode then emits nothing)
    *   - trailing bytes after the root object are ignored
    *
    * Returns a GenericArrayData of (UTF8String, UTF8String|null) rows,
    * or null. */
  def kvPairs(doc: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = doc.getBytes
    val n = bytes.length
    val state = st.get()
    var i = skipWs(bytes, 0)
    if (i >= n || bytes(i) != '{') return null
    i += 1
    val buf = new java.util.ArrayList[AnyRef](8)
    var first = true
    while (true) {
      i = skipWs(bytes, i)
      if (i >= n) return null
      if (bytes(i) == '}')
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          buf.toArray)
      if (!first) {
        if (bytes(i) != ',') return null
        i = skipWs(bytes, i + 1)
        if (i >= n) return null
      }
      first = false
      if (bytes(i) != '"') return null
      val keyStart = i + 1
      val keyEnd = scanString(bytes, keyStart)
      if (keyEnd < 0) return null
      val key = sliceDecoded(bytes, keyStart, keyEnd)
      if (key == null) return null
      i = skipWs(bytes, keyEnd + 1)
      if (i >= n || bytes(i) != ':') return null
      i = skipWs(bytes, i + 1)
      if (i >= n) return null
      val vStart = i
      i = parseValue(bytes, i, 0, state)
      if (i < 0) return null
      val value = renderValue(bytes, vStart, i, state)
      if (value == null) return null // internal render error
      buf.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](key,
          if (value eq NullSentinel) null else value)))
    }
    null // unreachable
  }

  private val NullSentinel: UTF8String = UTF8String.fromString("\u0000graft-null")

  /** The string slice [start, end) escape-decoded — zero-copy when it
    * contains no backslash. */
  private def sliceDecoded(
      bytes: Array[Byte], start: Int, end: Int): UTF8String = {
    var j = start
    var escaped = false
    while (j < end && !escaped) {
      if (bytes(j) == '\\') escaped = true
      j += 1
    }
    if (!escaped) UTF8String.fromBytes(bytes, start, end - start)
    else {
      val dec = decodeString(bytes, start, end)
      if (dec == null) null else UTF8String.fromString(dec)
    }
  }

  /** Render the ALREADY-VALIDATED value at bytes[start, end) to its
    * from_json(…String) textual form; NullSentinel for JSON null (and
    * for internal errors, disambiguated by the caller on the first
    * byte). `state` still holds parseValue's verdict for a top-level
    * scalar number. */
  private def renderValue(
      bytes: Array[Byte], start: Int, end: Int, state: St): UTF8String =
    bytes(start) match {
      case '"' => sliceDecoded(bytes, start + 1, end - 1)
      case 't' => TrueText
      case 'f' => FalseText
      case 'n' => NullSentinel
      case '{' | '[' =>
        val sb = new java.lang.StringBuilder(end - start)
        if (renderCompact(bytes, start, sb) < 0) null
        else UTF8String.fromString(sb.toString)
      case _ => renderNumberFrom(bytes, start, end, state)
    }

  private val TrueText = UTF8String.fromString("true")
  private val FalseText = UTF8String.fromString("false")

  /** Number rendering from a validated token whose parse verdict is in
    * `state`: in-range ints via the long (so `-0` → `0`), overflow
    * ints raw, floats through double. */
  private def renderNumberFrom(
      bytes: Array[Byte], start: Int, end: Int, state: St): UTF8String = {
    if (state.kind == 1) {
      // raw slice == Long.toString(value) except for the "-0" token
      if (end - start == 2 && bytes(start) == '-' && bytes(start + 1) == '0')
        ZeroText
      else UTF8String.fromBytes(bytes, start, end - start)
    } else {
      var isInt = true
      var j = start
      while (j < end && isInt) {
        val b = bytes(j)
        if (b == '.' || b == 'e' || b == 'E') isInt = false
        j += 1
      }
      if (isInt) UTF8String.fromBytes(bytes, start, end - start) // BigInteger
      else {
        val d = java.lang.Double.parseDouble(
          new String(bytes, start, end - start,
            java.nio.charset.StandardCharsets.US_ASCII))
        // a float token whose double overflows renders QUOTED —
        // Jackson's generator (QUOTE_NON_NUMERIC_NUMBERS, default on)
        // writes non-finite doubles as JSON strings, top-level and
        // inside re-serialized structure alike; underflow is finite
        // (0.0 / -0.0) and takes the plain Double.toString path
        if (java.lang.Double.isInfinite(d))
          if (d > 0) PosInfText else NegInfText
        else UTF8String.fromString(java.lang.Double.toString(d))
      }
    }
  }

  private val PosInfText = UTF8String.fromString("\"Infinity\"")
  private val NegInfText = UTF8String.fromString("\"-Infinity\"")

  /** Recursive compact re-serialization of the (validated) value at
    * `i` — Jackson copyCurrentStructure: whitespace dropped, strings
    * decoded and re-escaped, scalar number rules recursively. Returns
    * the index after the value, or -1 (cannot happen on validated
    * input; kept as a guard). */
  private def renderCompact(
      bytes: Array[Byte], start: Int, sb: java.lang.StringBuilder): Int = {
    val n = bytes.length
    val state = st.get()
    var i = start
    bytes(i) match {
      case '"' =>
        val e = scanString(bytes, i + 1)
        if (e < 0) return -1
        val dec = sliceDecoded(bytes, i + 1, e)
        if (dec == null) return -1
        appendEscaped(sb, dec.toString)
        e + 1
      case 't' => sb.append("true"); i + 4
      case 'f' => sb.append("false"); i + 5
      case 'n' => sb.append("null"); i + 4
      case '{' =>
        sb.append('{')
        i = skipWs(bytes, i + 1)
        var firstM = true
        while (i < n && bytes(i) != '}') {
          if (!firstM) {
            if (bytes(i) != ',') return -1
            i = skipWs(bytes, i + 1)
            sb.append(',')
          }
          firstM = false
          if (i >= n || bytes(i) != '"') return -1
          val ke = scanString(bytes, i + 1)
          if (ke < 0) return -1
          val kd = sliceDecoded(bytes, i + 1, ke)
          if (kd == null) return -1
          appendEscaped(sb, kd.toString)
          i = skipWs(bytes, ke + 1)
          if (i >= n || bytes(i) != ':') return -1
          sb.append(':')
          i = skipWs(bytes, i + 1)
          if (i >= n) return -1
          i = renderCompact(bytes, i, sb)
          if (i < 0) return -1
          i = skipWs(bytes, i)
        }
        if (i >= n) return -1
        sb.append('}')
        i + 1
      case '[' =>
        sb.append('[')
        i = skipWs(bytes, i + 1)
        var firstE = true
        while (i < n && bytes(i) != ']') {
          if (!firstE) {
            if (bytes(i) != ',') return -1
            i = skipWs(bytes, i + 1)
            sb.append(',')
          }
          firstE = false
          if (i >= n) return -1
          i = renderCompact(bytes, i, sb)
          if (i < 0) return -1
          i = skipWs(bytes, i)
        }
        if (i >= n) return -1
        sb.append(']')
        i + 1
      case _ =>
        val e = parseNumber(bytes, i, state)
        if (e < 0) return -1
        val r = renderNumberFrom(bytes, i, e, state)
        if (r == null) return -1
        sb.append(r.toString)
        e
    }
  }

  private val ZeroText = UTF8String.fromString("0")

  private val HexUpper = "0123456789ABCDEF".toCharArray

  /** Jackson writeString escaping (fuzz-pinned): `"` `\` and the five
    * short control escapes; other chars below 0x20 as `\u00XX`;
    * UTF-16 surrogate units — i.e. every supplementary-plane code
    * point — as `\uXXXX` pairs (Jackson's byte-generator escapes
    * surrogates rather than emitting 4-byte UTF-8); everything else,
    * including BMP non-ASCII, verbatim. Hex is uppercase, matching
    * Jackson. */
  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ =>
          if (c < 0x20)
            sb.append("\\u00").append(HexUpper((c >> 4) & 0xf))
              .append(HexUpper(c & 0xf))
          else if (c >= 0xD800 && c <= 0xDFFF)
            sb.append("\\u").append(HexUpper((c >> 12) & 0xf))
              .append(HexUpper((c >> 8) & 0xf))
              .append(HexUpper((c >> 4) & 0xf))
              .append(HexUpper(c & 0xf))
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

/** `json_long_field(doc, 'key')`: the top-level integer field of a JSON
  * object as a long — from_json(StructType(key: LongType)) semantics at
  * byte-scan cost (see [[JsonKernelUtil.longField]]). Null on an absent,
  * malformed or non-integer field. */
case class JsonLongField(child: Expression, key: String)
    extends UnaryKernel {
  override def prettyName: String = "json_long_field"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = LongType
  override protected def forwarder = "graft.functions.JsonKernelUtil.longField"
  override protected def planArgs =
    Seq("jsonKey" -> UTF8String.fromString(key))
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): JsonLongField = copy(child = newChild)
}

/** `json_kv_pairs(doc)`: every top-level (key, value-as-string) pair
  * of a JSON object, document order, duplicates kept —
  * `explode(from_json(doc, Map[String,String]))` flatten semantics
  * (see [[JsonKernelUtil.kvPairs]]; fuzz-pinned) at byte-scan cost.
  * Null on malformed/non-object documents, so
  * `explode(json_kv_pairs(doc))` drops them exactly like the null map.
  * The VARIANT-flatten hot path (reference data.*_v LATERAL FLATTEN
  * views): at 10× events the Jackson map parse was ~70% of
  * q_variant_flatten's runtime. */
case class JsonKvPairs(child: Expression) extends UnaryKernel {
  override def prettyName: String = "json_kv_pairs"
  override protected def accepts = StaticKernel.Strings
  override def dataType: DataType = JsonKvPairs.OutType
  override protected def forwarder = "graft.functions.JsonKernelUtil.kvPairs"
  override protected def mayReturnNull = true
  override protected def withNewChildInternal(
      newChild: Expression): JsonKvPairs = copy(child = newChild)
}

object JsonKvPairs {
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = true))),
    containsNull = false)
}

/** Column-API surface. */
object json {
  def longField(doc: Column, key: String): Column =
    graftexpr.column(JsonLongField(graftexpr.expression(doc), key))

  def kvPairs(doc: Column): Column =
    graftexpr.column(JsonKvPairs(graftexpr.expression(doc)))
}
