package graft.codecs

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import CValue._

/** S9: the reference's JSON bus codec
  * (`contrib/backends/remote/codecs/json.py`), byte-exact on the wire.
  *
  * Wire format: every value is a type-tagged pair
  * `[type, converted-value]` — `bytes` → utf-8 text, `dict` → list of
  * `[key, value]` pairs (ORDER preserved), `list`/`tuple` → item lists,
  * everything else `other` (`_convert_and_save_type`, json.py:12-56).
  * The JSON text itself follows python `json.dumps` defaults:
  * `", "`/`": "` separators and `ensure_ascii` (non-ASCII escaped as
  * `\\uXXXX`). Response bodies are base64 when `sendBody`
  * (`_prepare_response_message`, json.py:71-75).
  *
  * JsonCodecSpec pins golden strings produced by running the reference
  * codec itself; a reference deployment's JSON spider log replays into
  * this engine through `SpiderLogReplay`.
  *
  * Float formatting replicates python `repr` notation (fixed within
  * [1e-4, 1e16), `me±dd` scientific outside, `-0.0` preserved) over
  * the JVM's shortest-round-trip digits; the only residual deviation
  * is pathological subnormals where pre-JDK-19 digit selection can
  * differ from the correctly-rounded shortest. */
object JsonCodec {

  // ---------------------------------------------------------------- encode

  private def escape(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      // ensure_ascii escapes non-ASCII only — 0x7f (DEL) stays raw
      case c if c < 0x20 || c > 0x7f => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** python `repr`/`json.dumps` float text: shortest round-trip digits,
    * fixed notation for 1e-4 ≤ |v| < 1e16, else `me±dd` scientific
    * (exponent ≥ 2 digits) — NOT Java's notation thresholds (1e-3/1e7),
    * so the digits are re-rendered under python's rules. */
  private def fmtDouble(v: Double): String = {
    if (v.isNaN) return "NaN" // json.dumps defaults (allow_nan)
    if (v.isInfinity) return if (v > 0) "Infinity" else "-Infinity"
    if (java.lang.Double.doubleToRawLongBits(v) == Long.MinValue) return "-0.0"
    if (v == v.toLong && math.abs(v) < 1e16) return s"${v.toLong}.0"
    val s = v.toString
    val neg = s.startsWith("-")
    val body = if (neg) s.substring(1) else s
    // shortest digits + normalized decimal exponent (value =
    // d[0].d[1:] × 10^e). Java ≤18's digit selection can differ from
    // the correctly-rounded shortest on pathological subnormals; for
    // frontier traffic (scores, counters) the digits coincide.
    val (digits0, e) =
      if (body.contains('E')) {
        val Array(m, ex) = body.split('E')
        (m.replace(".", ""), ex.toInt)
      } else {
        val dot = body.indexOf('.')
        val ip = body.substring(0, dot)
        val fp = body.substring(dot + 1)
        if (ip != "0") (ip + fp, ip.length - 1)
        else {
          val nz = fp.indexWhere(_ != '0')
          (fp.substring(nz), -nz - 1)
        }
      }
    val digits = {
      val d = digits0.reverse.dropWhile(_ == '0').reverse
      if (d.isEmpty) "0" else d
    }
    val out =
      if (e >= 16 || e < -4) {
        val mant =
          if (digits.length == 1) digits
          else digits.substring(0, 1) + "." + digits.substring(1)
        val sign = if (e < 0) "-" else "+"
        val ed = math.abs(e).toString
        s"${mant}e$sign${if (ed.length < 2) "0" + ed else ed}"
      } else if (e >= 0) {
        if (digits.length <= e + 1) digits.padTo(e + 1, '0').mkString + ".0"
        else digits.substring(0, e + 1) + "." + digits.substring(e + 1)
      } else "0." + ("0" * (-e - 1)) + digits
    if (neg) "-" + out else out
  }

  /** `_convert_and_save_type` + `json.dumps` in one pass. */
  private def write(v: CValue, sb: StringBuilder): Unit = v match {
    case b: CBytes =>
      sb.append("[\"bytes\", "); escape(bytesUtf8(b), sb); sb.append(']')
    case CDict(items) =>
      sb.append("[\"dict\", [")
      items.zipWithIndex.foreach { case ((k, vv), i) =>
        if (i > 0) sb.append(", ")
        sb.append('['); write(k, sb); sb.append(", "); write(vv, sb); sb.append(']')
      }
      sb.append("]]")
    case CList(items) => writeSeq("list", items, sb)
    case CTuple(items) => writeSeq("tuple", items, sb)
    case CStr(s) => sb.append("[\"other\", "); escape(s, sb); sb.append(']')
    case CLong(n) => sb.append("[\"other\", ").append(n).append(']')
    case CDouble(d) => sb.append("[\"other\", ").append(fmtDouble(d)).append(']')
    case CBool(b) => sb.append("[\"other\", ").append(if (b) "true" else "false").append(']')
    case CNull => sb.append("[\"other\", null]")
  }

  private def writeSeq(tag: String, items: Vector[CValue], sb: StringBuilder): Unit = {
    sb.append("[\"").append(tag).append("\", [")
    items.zipWithIndex.foreach { case (it, i) =>
      if (i > 0) sb.append(", ")
      write(it, sb)
    }
    sb.append("]]")
  }

  def encodeValue(v: CValue): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def requestDict(r: WireRequest): CDict = CDict(Vector(
    CStr("url") -> CStr(r.url),
    CStr("method") -> r.method,
    CStr("headers") -> r.headers,
    CStr("cookies") -> r.cookies,
    CStr("meta") -> r.meta))

  private def responseDict(r: WireResponse, sendBody: Boolean): CDict = CDict(Vector(
    CStr("url") -> CStr(r.url),
    CStr("status_code") -> CLong(r.statusCode),
    CStr("meta") -> r.meta,
    CStr("body") -> (r.body.filter(_ => sendBody) match {
      case Some(b) => bytes(java.util.Base64.getEncoder.encodeToString(b.toArray))
      case None => CNull
    })))

  def encodeRequest(r: WireRequest): String = encodeValue(requestDict(r))

  def encode(msg: BusMessage, sendBody: Boolean = false): String = {
    import BusMessage._
    val dict = msg match {
      case PageCrawled(r) => CDict(Vector(
        CStr("type") -> CStr("page_crawled"),
        CStr("r") -> responseDict(r, sendBody)))
      case LinksExtracted(r, links) => CDict(Vector(
        CStr("type") -> CStr("links_extracted"),
        CStr("r") -> requestDict(r),
        CStr("links") -> CList(links.map(requestDict))))
      case RequestError(r, e) => CDict(Vector(
        CStr("type") -> CStr("request_error"),
        CStr("r") -> requestDict(r),
        CStr("error") -> CStr(e)))
      case UpdateScore(r, score, schedule) => CDict(Vector(
        CStr("type") -> CStr("update_score"),
        CStr("r") -> requestDict(r),
        CStr("score") -> CDouble(score),
        CStr("schedule") -> CBool(schedule)))
      case NewJobId(j) => CDict(Vector(
        CStr("type") -> CStr("new_job_id"),
        CStr("job_id") -> CLong(j)))
      case Offset(p, o) => CDict(Vector(
        CStr("type") -> CStr("offset"),
        CStr("partition_id") -> CLong(p),
        CStr("offset") -> CLong(o)))
      case Stats(s) => CDict(Vector(
        CStr("type") -> CStr("stats"),
        CStr("stats") -> s))
    }
    encodeValue(dict)
  }

  /** Leading bytes of every encoded message up to the type value — the
    * dict's first pair is always ("type", <tag>), and the wire format
    * renders it identically for all messages. */
  private val TypePrefix = "[\"dict\", [[[\"other\", \"type\"], [\"other\", \""

  /** Envelope tag of a bus frame (`page_crawled`/`links_extracted`/
    * `request_error`/`update_score`/`new_job_id`/`offset`/`stats`)
    * without parsing the payload — a prefix match on the fixed
    * `("type", tag)` first pair. "" if the frame isn't message-shaped. */
  def peekTag(s: String): String =
    if (s.startsWith(TypePrefix)) {
      val start = TypePrefix.length
      val end = s.indexOf('"', start)
      if (end > start) s.substring(start, end) else ""
    } else ""

  // ---------------------------------------------------------------- decode

  /** The frame reader: Jackson, also accepting python's `NaN`,
    * `Infinity` and `-Infinity` (what `json.dumps` writes for non-finite
    * floats, and `fmtDouble` with it), and rejecting content after the
    * frame's value, as `json.loads` does ("Extra data"). Thread-safe once
    * built. */
  private val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()

  /** `_convert_from_saved_type`: the tagged tree back to CValue. */
  private def fromSaved(n: JsonNode): CValue = {
    require(n.isArray && n.size == 2, s"tagged pair expected, got $n")
    val v = n.get(1)
    def items = v.asScala.toVector
    n.get(0).textValue match {
      case "bytes" if v.isTextual => bytes(v.textValue)
      case "dict" if v.isArray => CDict(items.map { p =>
        require(p.isArray && p.size == 2, s"bad dict pair $p")
        (fromSaved(p.get(0)), fromSaved(p.get(1)))
      })
      case "list" if v.isArray => CList(items.map(fromSaved))
      case "tuple" if v.isArray => CTuple(items.map(fromSaved))
      case "other" => scalar(v)
      case t => sys.error(s"unknown tag $t")
    }
  }

  /** Integer tokens read as CLong, tokens with a fraction or exponent (and
    * the non-finite names) as CDouble — python's int/float split. */
  private def scalar(n: JsonNode): CValue =
    if (n.isNull) CNull
    else if (n.isBoolean) CBool(n.booleanValue)
    else if (n.isIntegralNumber && n.canConvertToLong) CLong(n.longValue)
    else if (n.isFloatingPointNumber) CDouble(n.doubleValue)
    else if (n.isTextual) CStr(n.textValue)
    else sys.error(s"unexpected scalar $n")

  def decodeValue(s: String): CValue = fromSaved(json.readTree(s))

  private def get(d: CDict, key: String): CValue =
    d.items.collectFirst { case (CStr(`key`), v) => v }
      .getOrElse(sys.error(s"missing key $key"))

  private def requestFrom(v: CValue): WireRequest = {
    val d = v.asInstanceOf[CDict]
    WireRequest(
      url = get(d, "url").asInstanceOf[CStr].v,
      method = get(d, "method") match {
        case b: CBytes => b
        case CStr(s) => bytes(s)
        case _ => bytes("GET")
      },
      headers = get(d, "headers").asInstanceOf[CDict],
      cookies = get(d, "cookies").asInstanceOf[CDict],
      meta = get(d, "meta").asInstanceOf[CDict])
  }

  private def responseFrom(v: CValue): WireResponse = {
    val d = v.asInstanceOf[CDict]
    WireResponse(
      url = get(d, "url").asInstanceOf[CStr].v,
      statusCode = get(d, "status_code").asInstanceOf[CLong].v,
      meta = get(d, "meta").asInstanceOf[CDict],
      body = get(d, "body") match {
        case CNull => None
        case b: CBytes => Some(ArraySeq.unsafeWrapArray(
          java.util.Base64.getDecoder.decode(bytesUtf8(b))))
        case x => sys.error(s"bad body $x")
      })
  }

  /** Decode a typed bus message (reference Decoder.decode). */
  def decode(s: String): BusMessage = {
    import BusMessage._
    val d = decodeValue(s).asInstanceOf[CDict]
    get(d, "type").asInstanceOf[CStr].v match {
      case "page_crawled" => PageCrawled(responseFrom(get(d, "r")))
      case "links_extracted" => LinksExtracted(
        requestFrom(get(d, "r")),
        get(d, "links").asInstanceOf[CList].items.map(requestFrom))
      case "request_error" => RequestError(
        requestFrom(get(d, "r")), get(d, "error").asInstanceOf[CStr].v)
      case "update_score" => UpdateScore(
        requestFrom(get(d, "r")),
        get(d, "score") match {
          case CDouble(x) => x
          case CLong(n) => n.toDouble
          case x => sys.error(s"bad score $x")
        },
        get(d, "schedule").asInstanceOf[CBool].v)
      case "new_job_id" => NewJobId(get(d, "job_id").asInstanceOf[CLong].v)
      case "offset" => Offset(
        get(d, "partition_id").asInstanceOf[CLong].v,
        get(d, "offset").asInstanceOf[CLong].v)
      case "stats" => Stats(get(d, "stats").asInstanceOf[CDict])
      case t => sys.error(s"unknown message type $t")
    }
  }

  /** Decode a bare request message (reference Decoder.decode_request). */
  def decodeRequest(s: String): WireRequest = requestFrom(decodeValue(s))
}
