package graft.codecs

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ArraySeq
import CValue._
import BusMessage._

/** Byte-exact conformance with the reference JSON codec
  * (`contrib/backends/remote/codecs/json.py`): the golden strings in
  * `src/test/resources/json_codec_goldens.json` were produced by RUNNING
  * the reference Encoder on the fixture messages below — our encoder
  * must reproduce them character-for-character, and our decoder must
  * read them back into the same models. */
class JsonCodecSpec extends AnyFunSuite {

  // parse the goldens file with a tiny ad-hoc reader (it's a flat
  // {string: string} object, not the codec's tagged wire format)
  private lazy val goldensRaw: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/json_codec_goldens.json"), "UTF-8")
    val txt = try src.mkString finally src.close()
    """"([a-z_]+)": (".*")""".r
      .findAllMatchIn(txt)
      .map { m =>
        val key = m.group(1)
        // JSON string literal → raw string (the values escape quotes)
        val lit = m.group(2)
        val sb = new StringBuilder
        var i = 1
        while (i < lit.length - 1) {
          val c = lit.charAt(i)
          if (c == '\\') {
            i += 1
            lit.charAt(i) match {
              case '"' => sb.append('"'); case '\\' => sb.append('\\')
              case '/' => sb.append('/'); case 'n' => sb.append('\n')
              case 't' => sb.append('\t'); case 'r' => sb.append('\r')
              case 'u' =>
                sb.append(Integer.parseInt(lit.substring(i + 1, i + 5), 16).toChar)
                i += 4
              case e => sb.append(e)
            }
          } else sb.append(c)
          i += 1
        }
        key -> sb.toString
      }.toMap
  }

  // the fixture messages the goldens were generated from
  private val req = WireRequest(
    url = "http://www.example.com/some/page",
    method = bytes("GET"),
    headers = CDict(Vector(bytes("X-Important-Header") -> bytes("Frontera"))),
    cookies = CDict(Vector(bytes("currency") -> bytes("USD"))),
    meta = CDict(Vector(
      bytes("this_param") -> bytes("should be passed over"),
      bytes("depth") -> CLong(0),
      bytes("score") -> CDouble(0.25))))
  private val link1 = WireRequest("http://www.example.com/child",
    meta = CDict(Vector(bytes("depth") -> CLong(1))))
  private val link2 = WireRequest("http://www.example.com/other",
    method = bytes("POST"),
    headers = CDict(Vector(bytes("A") -> bytes("B"))),
    // the reference Request model substitutes {b'scrapy_meta': {}} for a
    // falsy meta (core/models.py:33) — the golden carries it
    meta = CDict(Vector(bytes("scrapy_meta") -> CDict(Vector.empty))))
  private val resp = WireResponse(
    url = "http://www.example.com/some/page", statusCode = 200,
    meta = req.meta,
    body = Some(ArraySeq.unsafeWrapArray("some content".getBytes("UTF-8"))))

  test("encodings are byte-exact vs the reference-generated goldens") {
    assert(JsonCodec.encodeRequest(req) == goldensRaw("request"))
    assert(JsonCodec.encode(PageCrawled(resp), sendBody = true) ==
      goldensRaw("page_crawled_body"))
    assert(JsonCodec.encode(PageCrawled(resp), sendBody = false) ==
      goldensRaw("page_crawled_nobody"))
    assert(JsonCodec.encode(LinksExtracted(req, Vector(link1, link2))) ==
      goldensRaw("links_extracted"))
    assert(JsonCodec.encode(RequestError(req, "error")) ==
      goldensRaw("request_error"))
    assert(JsonCodec.encode(UpdateScore(req, 0.5, schedule = true)) ==
      goldensRaw("update_score"))
    assert(JsonCodec.encode(NewJobId(3)) == goldensRaw("new_job_id"))
    assert(JsonCodec.encode(Offset(0, 28796)) == goldensRaw("offset"))
    assert(JsonCodec.encode(Stats(CDict(Vector(
      CStr("crawled_pages_count") -> CLong(2),
      CStr("links_extracted_count") -> CLong(3))))) == goldensRaw("stats"))
  }

  test("decoding the reference-generated goldens yields the fixture models") {
    assert(JsonCodec.decodeRequest(goldensRaw("request")) == req)
    assert(JsonCodec.decode(goldensRaw("page_crawled_body")) ==
      PageCrawled(resp.copy(headers = CDict(Vector.empty))))
    JsonCodec.decode(goldensRaw("page_crawled_nobody")) match {
      case PageCrawled(r) => assert(r.body.isEmpty && r.statusCode == 200)
      case other => fail(s"$other")
    }
    assert(JsonCodec.decode(goldensRaw("links_extracted")) ==
      LinksExtracted(req, Vector(link1, link2)))
    assert(JsonCodec.decode(goldensRaw("request_error")) ==
      RequestError(req, "error"))
    assert(JsonCodec.decode(goldensRaw("update_score")) ==
      UpdateScore(req, 0.5, schedule = true))
    assert(JsonCodec.decode(goldensRaw("new_job_id")) == NewJobId(3))
    assert(JsonCodec.decode(goldensRaw("offset")) == Offset(0, 28796))
  }

  test("round-trip: non-ASCII, escapes, nested structures, tuples") {
    val tricky = WireRequest(
      url = "http://ex.com/päge?q=\"x\"\n",
      meta = CDict(Vector(
        bytes("t") -> CTuple(Vector(CLong(-5), CNull, CBool(false))),
        bytes("l") -> CList(Vector(CStr("日本語"), CDouble(2.5))),
        bytes("nested") -> CDict(Vector(CStr("k") -> bytes("v"))))))
    val enc = JsonCodec.encodeRequest(tricky)
    assert(!enc.exists(_ > 0x7e), "ensure_ascii: output must be pure ASCII")
    assert(JsonCodec.decodeRequest(enc) == tricky)
    val msg: BusMessage = LinksExtracted(tricky, Vector(req, link1))
    assert(JsonCodec.decode(JsonCodec.encode(msg)) == msg)
  }

  test("python float repr parity (json.dumps notation rules) + DEL passthrough") {
    def f(d: Double): String = JsonCodec.encodeValue(CDouble(d))
    // fixed notation for 1e-4 <= |v| < 1e16 — NOT Java's 1e-3/1e7 cutover
    assert(f(0.0001) == "[\"other\", 0.0001]")
    assert(f(12345678.5) == "[\"other\", 12345678.5]")
    assert(f(1234567890123456.0) == "[\"other\", 1234567890123456.0]")
    assert(f(0.25) == "[\"other\", 0.25]")
    assert(f(0.001) == "[\"other\", 0.001]")
    // scientific with python's e±dd outside that range
    assert(f(1e-5) == "[\"other\", 1e-05]")
    assert(f(-2.5e-7) == "[\"other\", -2.5e-07]")
    assert(f(1e16) == "[\"other\", 1e+16]")
    assert(f(1e22) == "[\"other\", 1e+22]")
    assert(f(1.5e22) == "[\"other\", 1.5e+22]")
    // signed zero survives (python repr(-0.0) == '-0.0')
    assert(f(-0.0) == "[\"other\", -0.0]")
    // DEL (0x7f) is ASCII — ensure_ascii leaves it raw; 0x80 is escaped
    val del = "a" + 0x7f.toChar + "b"
    assert(JsonCodec.encodeValue(CStr(del)) == "[\"other\", \"" + del + "\"]")
    assert(JsonCodec.encodeValue(CStr("a" + 0x80.toChar + "b")) ==
      "[\"other\", \"a\\u0080b\"]")
  }

  test("non-finite floats round-trip; a truncated frame fails as a JSON parse error") {
    // python json.dumps writes NaN/Infinity/-Infinity bare (allow_nan)
    for ((d, text) <- Seq(Double.NaN -> "NaN", Double.PositiveInfinity -> "Infinity",
        Double.NegativeInfinity -> "-Infinity")) {
      val wire = JsonCodec.encodeValue(CDouble(d))
      assert(wire == s"[\"other\", $text]")
      // CDouble(NaN) != CDouble(NaN): compare the payload
      JsonCodec.decodeValue(wire) match {
        case CDouble(x) => assert(if (d.isNaN) x.isNaN else x == d, wire)
        case other => fail(s"$wire decoded to $other")
      }
    }
    val frame = JsonCodec.encode(Offset(3, 17))
    intercept[com.fasterxml.jackson.core.JsonProcessingException](
      JsonCodec.decode(frame.take(frame.length - 3)))
  }

  test("content after a frame's value fails as a JSON parse error, as json.loads's \"Extra data\"") {
    for (wire <- Seq("[\"other\", 1]]]", "[\"other\", 1] [\"other\", 2]"))
      intercept[com.fasterxml.jackson.core.JsonProcessingException](JsonCodec.decodeValue(wire))
    // trailing whitespace is not content
    assert(JsonCodec.decodeValue("[\"other\", 1] \n") == CLong(1))
  }
}
