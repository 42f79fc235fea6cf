package graft.ingest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass byte-level TTN envelope parser — the engine's only
  * envelope path (reference: lib/MyMQTTclient.py:312-418 RecordImport;
  * the reference likewise parses each telegram once and touches only the
  * handful of subfields the import consumes).
  *
  * Why not `from_json`: the DiagQ76 stage breakdown priced the Jackson
  * parse of 10 M envelopes at ~9.6 s even when Catalyst prunes the parse
  * schema to ONE field — the cost is generic tokenization plus Spark's
  * per-row parser/row-builder machinery, not schema width. This parser
  * is a recursive-descent scan over the line's UTF-8 bytes that extracts
  * exactly the subfields [[TtnEnvelope.parseBest]] consumes and skips
  * every other value generically, allocating only the output row and
  * (for escape-free strings) zero-copy `UTF8String` views.
  *
  * Semantics — identical to the `from_json(envelopeSchema)` + struct
  * navigation + `size` + HOF argmax composition of
  * [[TtnEnvelope.parseJackson]], on every input the envelope contract
  * reaches (arbitrary key order, inter-token whitespace, JSON escapes
  * incl. \uXXXX surrogate pairs, unknown extra fields, null/missing
  * branches, duplicate keys last-wins (for object-schema keys: last
  * CONVERTIBLE occurrence wins — a scalar occurrence of
  * metadata/end_device_ids/uplink_message is ignored and an earlier
  * object's subfields survive, measured Jackson behavior), nested-object
  * skipping; differential-fuzzed against the Jackson path in
  * TtnFastJsonSpec):
  *
  *   - malformed JSON (truncation, bad token) → null row, matching
  *     PERMISSIVE `from_json`'s null struct; bytes past the first
  *     complete top-level object are ignored (measured `from_json`
  *     behavior — it does not reject trailing garbage);
  *   - per-field precedence is the exact coalesce order of the Column
  *     form: v3-first for app/dev/port/counter/payload, v2-first for
  *     event_time (`coalesce(metadata.time, received_at)`);
  *   - the gateway array follows `when(uplink_message.isNotNull, v3)
  *     .otherwise(v2)` — uplink_message must be a JSON OBJECT to select
  *     the v3 branch (a JSON null leaves the struct null);
  *   - a null ELEMENT in a gateway array counts towards `n_gateways`
  *     (what `size` of the `arrays_zip` array counts) and never wins the
  *     argmax;
  *   - scalar type mismatches (string where number expected and vice
  *     versa) null the field and skip the value. This is the one
  *     DOCUMENTED divergence from Jackson, whose StringType fallback
  *     stringifies non-string tokens; no envelope version emits such
  *     shapes and the differential spec pins the agreement domain.
  */
object TtnFastJson {

  /** Envelope frame (r12, VERDICT r11 item 2): the gateway array is
    * REDUCED inside the parse — element count plus the D5 argmax,
    * streamed per element — so the per-row `array<struct>` (up to dozens
    * of rows + boxes per envelope over 10 M envelopes) is never
    * allocated. Null semantics: `n_gateways` is null iff the selected
    * version's gateway array is null/absent (else the element count,
    * nulls included — the `size()` contract on a non-null array);
    * `best_score`/`best_gtw_id` are the fields of the HOF argmax
    * `array_max(transform(gws, g -> struct(score, gtw_id)))`, both null
    * when no non-null element exists. Parity with
    * [[TtnEnvelope.parseJackson]] is differential-fuzzed in
    * TtnFastJsonSpec. */
  val fusedOutType: StructType = StructType(Seq(
    StructField("app_id", StringType),
    StructField("dev_id", StringType),
    StructField("port", IntegerType),
    StructField("counter", LongType),
    StructField("payload_b64", StringType),
    StructField("event_time", StringType),
    StructField("n_gateways", IntegerType),
    StructField("best_score", DoubleType),
    StructField("best_gtw_id", StringType)))

  /** Stackless control-flow signal for malformed input — thrown at most
    * once per bad row, never on the well-formed path. */
  private object Malformed extends Exception {
    override def fillInStackTrace(): Throwable = this
  }

  /** Per-array gateway reduction state: element count + the
    * lexicographic (score, id) argmax, accumulated while the elements
    * are parsed. One short-lived instance per gateway-array OCCURRENCE
    * (duplicate keys re-parse into a fresh one — last convertible
    * occurrence wins, the Jackson contract). */
  private final class GwAcc {
    var count = 0
    var found = false
    var nullScore = true
    var score = 0.0
    var id: UTF8String = null

    /** The HOF argmax's per-element comparison: nulls-first (score, id)
      * struct ordering, where a null snr or rssi nulls the score; null
      * elements are skipped — the caller only feeds non-null elements
      * here. */
    def offer(gid: UTF8String, rssi: java.lang.Double, snr: java.lang.Double): Unit = {
      val sNull = rssi == null || snr == null
      val s = if (sNull) 0.0 else 10.0 * snr.doubleValue + 0.2 * rssi.doubleValue
      val wins =
        if (!found) true
        else {
          val c =
            if (sNull && nullScore) 0
            else if (sNull) -1
            else if (nullScore) 1
            else if (s == score) 0 // Spark's double order: -0.0 ties 0.0
            else java.lang.Double.compare(s, score)
          if (c != 0) c > 0
          else if (gid == null) false
          else if (id == null) true
          else gid.compareTo(id) > 0
        }
      if (wins) { found = true; nullScore = sNull; score = s; id = gid }
    }
  }

  // Cached key constants — UTF8String.equals is a byte compare, no
  // per-key String allocation on the hot path.
  private val K_APP_ID = UTF8String.fromString("app_id")
  private val K_DEV_ID = UTF8String.fromString("dev_id")
  private val K_PORT = UTF8String.fromString("port")
  private val K_COUNTER = UTF8String.fromString("counter")
  private val K_PAYLOAD_RAW = UTF8String.fromString("payload_raw")
  private val K_RECEIVED_AT = UTF8String.fromString("received_at")
  private val K_METADATA = UTF8String.fromString("metadata")
  private val K_TIME = UTF8String.fromString("time")
  private val K_GATEWAYS = UTF8String.fromString("gateways")
  private val K_END_DEVICE_IDS = UTF8String.fromString("end_device_ids")
  private val K_DEVICE_ID = UTF8String.fromString("device_id")
  private val K_APPLICATION_IDS = UTF8String.fromString("application_ids")
  private val K_APPLICATION_ID = UTF8String.fromString("application_id")
  private val K_UPLINK_MESSAGE = UTF8String.fromString("uplink_message")
  private val K_F_PORT = UTF8String.fromString("f_port")
  private val K_F_CNT = UTF8String.fromString("f_cnt")
  private val K_FRM_PAYLOAD = UTF8String.fromString("frm_payload")
  private val K_RX_METADATA = UTF8String.fromString("rx_metadata")
  private val K_GTW_ID = UTF8String.fromString("gtw_id")
  private val K_GATEWAY_IDS = UTF8String.fromString("gateway_ids")
  private val K_GATEWAY_ID = UTF8String.fromString("gateway_id")
  private val K_RSSI = UTF8String.fromString("rssi")
  private val K_SNR = UTF8String.fromString("snr")

  /** Parse one envelope JSON document into the [[fusedOutType]] frame —
    * gateway array reduced in-stream, never materialized. Returns null
    * on malformed input (including non-object top level). */
  def parseFused(line: UTF8String): InternalRow = {
    if (line == null) return null
    val b = line.getBytes
    try doParse(b)
    catch { case scala.util.control.NonFatal(_) => null }
  }

  private def doParse(b: Array[Byte]): InternalRow = {
    val n = b.length
    var i = 0

    @inline def ws(): Unit =
      while (i < n && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1

    @inline def expect(c: Byte): Unit = {
      if (i >= n || b(i) != c) throw Malformed
      i += 1
    }

    /** Cursor sits ON the opening quote. Returns the decoded string. */
    def parseString(): UTF8String = {
      expect('"')
      val start = i
      var hasEsc = false
      while (i < n && b(i) != '"') {
        if (b(i) == '\\') { hasEsc = true; i += 1; if (i >= n) throw Malformed }
        // Raw (unescaped) control bytes < 0x20 are invalid JSON; Jackson
        // (allowUnquotedControlChars=false, the from_json default)
        // rejects them by nulling the row (ADVICE r7).
        else if (b(i) >= 0 && b(i) < 0x20) throw Malformed
        i += 1
      }
      if (i >= n) throw Malformed
      val end = i
      i += 1 // closing quote
      if (!hasEsc) UTF8String.fromBytes(b, start, end - start)
      else {
        val sb = new java.lang.StringBuilder(end - start)
        var j = start
        while (j < end) {
          val c = b(j)
          if (c == '\\') {
            j += 1
            b(j) match {
              case '"'  => sb.append('"'); j += 1
              case '\\' => sb.append('\\'); j += 1
              case '/'  => sb.append('/'); j += 1
              case 'b'  => sb.append('\b'); j += 1
              case 'f'  => sb.append('\f'); j += 1
              case 'n'  => sb.append('\n'); j += 1
              case 'r'  => sb.append('\r'); j += 1
              case 't'  => sb.append('\t'); j += 1
              case 'u'  =>
                if (j + 4 >= end) throw Malformed
                sb.append(hex4(b, j + 1).toChar)
                j += 5
              case _ => throw Malformed
            }
          } else if (c >= 0) { sb.append(c.toChar); j += 1 }
          else {
            // multi-byte UTF-8 sequence: copy raw bytes via String decode
            var k = j
            while (k < end && b(k) < 0) k += 1
            sb.append(new String(b, j, k - j, java.nio.charset.StandardCharsets.UTF_8))
            j = k
          }
        }
        UTF8String.fromString(sb.toString)
      }
    }

    def hex4(a: Array[Byte], off: Int): Int = {
      var v = 0
      var k = 0
      while (k < 4) {
        val c = a(off + k)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else throw Malformed
        v = (v << 4) | d
        k += 1
      }
      v
    }

    /** Cursor on the first byte of a number token. Returns (endExclusive)
      * after validating the strict JSON number grammar:
      * '-'? int frac? exp? — leading '+' (JSON allows only '-'), leading
      * zeros, bare '.', and dangling exponents are all Malformed, exactly
      * the shapes Jackson rejects by nulling the row (ADVICE r7). */
    def numberEnd(): Int = {
      if (i < n && b(i) == '-') i += 1
      val intStart = i
      while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
      if (i == intStart) throw Malformed
      if (b(intStart) == '0' && i - intStart > 1) throw Malformed
      if (i < n && b(i) == '.') {
        i += 1
        val fracStart = i
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
        if (i == fracStart) throw Malformed
      }
      if (i < n && (b(i) == 'e' || b(i) == 'E')) {
        i += 1
        if (i < n && (b(i) == '+' || b(i) == '-')) i += 1
        val expStart = i
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
        if (i == expStart) throw Malformed
      }
      i
    }

    /** Parse a JSON number as Double; null (returned as java Double) on
      * non-number token after skipping it. */
    def parseDoubleOrSkip(): java.lang.Double = {
      ws()
      if (i < n && (b(i) == '-' || (b(i) >= '0' && b(i) <= '9'))) {
        val start = i
        val end = numberEnd()
        java.lang.Double.valueOf(java.lang.Double.parseDouble(
          new String(b, start, end - start, java.nio.charset.StandardCharsets.US_ASCII)))
      } else if (isNullToken()) null
      else { skipValue(); null }
    }

    /** Parse a JSON integral number as Long. A NUMBER token that is not
      * integral (fraction/exponent), or one that overflows Long, is
      * Malformed: Jackson's integral coercion failure nulls the whole
      * row under PERMISSIVE (`Long.parseLong` throwing on overflow gives
      * the same row-null through the outer catch). Non-number tokens
      * null the field — the documented string/number-mismatch
      * divergence. */
    def parseLongOrSkip(): java.lang.Long = {
      ws()
      if (i < n && (b(i) == '-' || (b(i) >= '0' && b(i) <= '9'))) {
        val start = i
        val end = numberEnd()
        var k = start
        while (k < end) {
          val c = b(k)
          if (c == '.' || c == 'e' || c == 'E') throw Malformed
          k += 1
        }
        java.lang.Long.valueOf(java.lang.Long.parseLong(
          new String(b, start, end - start, java.nio.charset.StandardCharsets.US_ASCII)))
      } else if (isNullToken()) null
      else { skipValue(); null }
    }

    /** Parse an IntegerType-bound JSON number. A value outside Int range
      * is Malformed — the Jackson path's IntegerType coercion failure
      * nulls the ENTIRE envelope row under PERMISSIVE, so the native
      * parser must too (ADVICE r7), and it must fire per-field (a bad v2
      * `port` kills the row even when v3 `f_port` is fine). */
    def parseIntRangeOrSkip(): java.lang.Long = {
      val v = parseLongOrSkip()
      if (v != null && (v.longValue > Int.MaxValue || v.longValue < Int.MinValue))
        throw Malformed
      v
    }

    def parseStringOrSkip(): UTF8String = {
      ws()
      if (i < n && b(i) == '"') parseString()
      else if (isNullToken()) null
      else { skipValue(); null }
    }

    /** If the next token is `null`, consume it and return true. Cursor
      * must be on a non-ws byte (callers ws() first). */
    def isNullToken(): Boolean = {
      if (i + 3 < n && b(i) == 'n' && b(i + 1) == 'u' && b(i + 2) == 'l' && b(i + 3) == 'l') {
        i += 4; true
      } else false
    }

    /** Generic skip of any JSON value; cursor on its first byte. */
    def skipValue(): Unit = {
      ws()
      if (i >= n) throw Malformed
      b(i) match {
        case '"' => parseString(); ()
        case '{' =>
          i += 1; ws()
          if (i < n && b(i) == '}') { i += 1 }
          else {
            var more = true
            while (more) {
              ws(); parseString(); ws(); expect(':'); skipValue(); ws()
              if (i < n && b(i) == ',') i += 1
              else { expect('}'); more = false }
            }
          }
        case '[' =>
          i += 1; ws()
          if (i < n && b(i) == ']') { i += 1 }
          else {
            var more = true
            while (more) {
              skipValue(); ws()
              if (i < n && b(i) == ',') i += 1
              else { expect(']'); more = false }
            }
          }
        case 't' =>
          if (i + 3 < n && b(i + 1) == 'r' && b(i + 2) == 'u' && b(i + 3) == 'e') i += 4
          else throw Malformed
        case 'f' =>
          if (i + 4 < n && b(i + 1) == 'a' && b(i + 2) == 'l' && b(i + 3) == 's' && b(i + 4) == 'e') i += 5
          else throw Malformed
        case 'n' => if (!isNullToken()) throw Malformed
        case c if c == '-' || (c >= '0' && c <= '9') => numberEnd(); ()
        case _ => throw Malformed
      }
    }

    /** Iterate an object's keys, dispatching each value to `onKey`;
      * cursor on '{'. `onKey` must consume the value. Tolerates the
      * value being a JSON null for object-typed branches. */
    def parseObject(onKey: UTF8String => Unit): Unit = {
      expect('{')
      ws()
      if (i < n && b(i) == '}') { i += 1; return }
      var more = true
      while (more) {
        ws()
        val key = parseString()
        ws(); expect(':'); ws()
        onKey(key)
        ws()
        if (i < n && b(i) == ',') i += 1
        else { expect('}'); more = false }
      }
    }

    /** True and consumed if the next value is a JSON null (object-typed
      * branch absent); otherwise cursor still on the value. */
    def nullBranch(): Boolean = { ws(); isNullToken() }

    // ---- extraction state ------------------------------------------------
    var v2App: UTF8String = null; var v3App: UTF8String = null
    var v2Dev: UTF8String = null; var v3Dev: UTF8String = null
    var v2Port: java.lang.Long = null; var v3Port: java.lang.Long = null
    var v2Cnt: java.lang.Long = null; var v3Cnt: java.lang.Long = null
    var v2Pay: UTF8String = null; var v3Pay: UTF8String = null
    var metaTime: UTF8String = null; var receivedAt: UTF8String = null
    var v2Gws: GwAcc = null; var v3Gws: GwAcc = null
    var umSeen = false

    /** One gateway array: elements are objects (or JSON null, counted
      * but never offered). `v3` selects which id key the element schema
      * knows — "gtw_id" (v2) vs the nested "gateway_ids.gateway_id"
      * (v3); the OTHER version's id key is outside the element schema and
      * is skipped like any unknown. Returns null for a JSON null /
      * non-array value; otherwise the streamed reduction. */
    def parseGwArray(v3: Boolean): GwAcc = {
      ws()
      if (isNullToken()) return null
      if (i >= n || b(i) != '[') { skipValue(); return null }
      i += 1; ws()
      val acc = new GwAcc
      if (i < n && b(i) == ']') { i += 1; return acc }
      var more = true
      while (more) {
        ws()
        if (isNullToken()) {
          // null element: size() counts it, the argmax skips it
          acc.count += 1
        } else {
          var gid: UTF8String = null
          var rssi: java.lang.Double = null
          var snr: java.lang.Double = null
          parseObject { k =>
            if (!v3 && k.equals(K_GTW_ID)) gid = parseStringOrSkip()
            else if (v3 && k.equals(K_GATEWAY_IDS)) gid = v3GwId()
            else if (k.equals(K_RSSI)) rssi = parseDoubleOrSkip()
            else if (k.equals(K_SNR)) snr = parseDoubleOrSkip()
            else skipValue()
          }
          acc.count += 1
          acc.offer(gid, rssi, snr)
        }
        ws()
        if (i < n && b(i) == ',') i += 1
        else { expect(']'); more = false }
      }
      acc
    }

    /** v3: the element's id is nested one object deeper:
      * gateway_ids.gateway_id. */
    def v3GwId(): UTF8String = {
      if (nullBranch()) return null
      if (i >= n || b(i) != '{') { skipValue(); return null }
      var gid: UTF8String = null
      parseObject { k =>
        if (k.equals(K_GATEWAY_ID)) gid = parseStringOrSkip()
        else skipValue()
      }
      gid
    }

    // ---- top-level dispatch ---------------------------------------------
    ws()
    parseObject { key =>
      if (key.equals(K_APP_ID)) v2App = parseStringOrSkip()
      else if (key.equals(K_DEV_ID)) v2Dev = parseStringOrSkip()
      else if (key.equals(K_PORT)) v2Port = parseIntRangeOrSkip()
      else if (key.equals(K_COUNTER)) v2Cnt = parseLongOrSkip()
      else if (key.equals(K_PAYLOAD_RAW)) v2Pay = parseStringOrSkip()
      else if (key.equals(K_RECEIVED_AT)) receivedAt = parseStringOrSkip()
      // Object-typed branches RESET their extraction state only on a
      // NULL or OBJECT occurrence: Jackson converts each duplicate
      // occurrence wholesale and the last CONVERTIBLE one wins — a later
      // '"metadata": null' or a sparser later object erases an earlier
      // occurrence's subfields (ADVICE r7), but a SCALAR occurrence of
      // an object-schema key is ignored outright and the earlier
      // extraction survives (ADVICE r8; measured via the differential
      // fuzz's scalar-at-object-key shapes — resetting on the scalar
      // diverged in 5/3200 fuzz lines).
      else if (key.equals(K_METADATA)) {
        if (nullBranch()) { metaTime = null; v2Gws = null }
        else if (i < n && b(i) == '{') {
          metaTime = null; v2Gws = null
          parseObject { k =>
            if (k.equals(K_TIME)) metaTime = parseStringOrSkip()
            else if (k.equals(K_GATEWAYS)) v2Gws = parseGwArray(v3 = false)
            else skipValue()
          }
        } else skipValue()
      } else if (key.equals(K_END_DEVICE_IDS)) {
        if (nullBranch()) { v3Dev = null; v3App = null }
        else if (i < n && b(i) == '{') {
          v3Dev = null; v3App = null
          parseObject { k =>
            if (k.equals(K_DEVICE_ID)) v3Dev = parseStringOrSkip()
            else if (k.equals(K_APPLICATION_IDS)) {
              if (nullBranch()) v3App = null
              else if (i < n && b(i) == '{') {
                v3App = null
                parseObject { kk =>
                  if (kk.equals(K_APPLICATION_ID)) v3App = parseStringOrSkip()
                  else skipValue()
                }
              } else skipValue()
            } else skipValue()
          }
        } else skipValue()
      } else if (key.equals(K_UPLINK_MESSAGE)) {
        if (nullBranch()) {
          umSeen = false; v3Port = null; v3Cnt = null; v3Pay = null
          v3Gws = null
        } else if (i < n && b(i) == '{') {
          umSeen = true; v3Port = null; v3Cnt = null; v3Pay = null
          v3Gws = null
          parseObject { k =>
              if (k.equals(K_F_PORT)) v3Port = parseIntRangeOrSkip()
              else if (k.equals(K_F_CNT)) v3Cnt = parseLongOrSkip()
              else if (k.equals(K_FRM_PAYLOAD)) v3Pay = parseStringOrSkip()
              else if (k.equals(K_RX_METADATA)) v3Gws = parseGwArray(v3 = true)
              else skipValue()
            }
        } else skipValue()
      } else skipValue()
    }
    // NOTE: bytes past the first complete top-level object are IGNORED —
    // measured Jackson/from_json behavior (the differential fuzz caught
    // the first cut rejecting `{...} trailing` that from_json accepts).

    val port = if (v3Port != null) v3Port else v2Port
    val app = if (v3App != null) v3App else v2App
    val dev = if (v3Dev != null) v3Dev else v2Dev
    val portBoxed = // always in Int range: parseIntRangeOrSkip threw otherwise
      if (port == null) null else Int.box(port.longValue.toInt)
    val cnt = if (v3Cnt != null) v3Cnt else v2Cnt
    val pay = if (v3Pay != null) v3Pay else v2Pay
    val time = if (metaTime != null) metaTime else receivedAt
    val gws = if (umSeen) v3Gws else v2Gws
    new GenericInternalRow(Array[Any](app, dev, portBoxed, cnt, pay, time,
      if (gws == null) null else Int.box(gws.count),
      if (gws == null || !gws.found || gws.nullScore) null
      else Double.box(gws.score),
      if (gws == null || !gws.found) null else gws.id))
  }
}
