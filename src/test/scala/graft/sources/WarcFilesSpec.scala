package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WarcFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("parseWarc: framing is Content-Length-authoritative, offsets recorded") {
    // the adversarial payload: contains the record magic AND a blank
    // line — only byte-exact Content-Length framing survives it
    val evil = "WARC/1.0\r\n\r\nnot a record".getBytes("UTF-8")
    val multi = "日本語テキスト".getBytes("UTF-8") // byte length != char length
    val tape = WarcFiles.buildWarc(Seq(
      (1L, "https://a.example/x", evil),
      (2L, "https://b.example/y", multi)))
    val rows = WarcFiles.parseWarc("t.warc", tape)
    assert(rows.length == 2)
    assert(rows.head.getLong(1) == 0L, "first record at offset 0")
    assert(rows(1).getLong(1) > 0L)
    assert(rows.head.getAs[Array[Byte]](7).sameElements(evil),
      "payload containing record magic must round-trip whole")
    assert(rows(1).getAs[Array[Byte]](7).sameElements(multi))
    assert(rows.map(_.getString(2)).forall(_ == "resource"))
    assert(rows.map(_.getString(4)) == Seq("https://a.example/x", "https://b.example/y"))
  }

  test("parseWarc: truncated and malformed tapes fail loudly, naming the offset") {
    val good = WarcFiles.buildWarc(Seq((1L, "u", "abc".getBytes("UTF-8"))))
    val truncated = good.take(good.length - 8) // cut into the payload/sep
    val e = intercept[IllegalArgumentException](
      WarcFiles.parseWarc("bad.warc", truncated))
    assert(e.getMessage.contains("bad.warc"))
    val noMagic = "HELLO/1.0\r\n\r\n".getBytes("UTF-8")
    val e2 = intercept[IllegalArgumentException](
      WarcFiles.parseWarc("nm.warc", noMagic))
    assert(e2.getMessage.contains("WARC/"))
    // a Content-Length past 2^32 must fail LOUDLY, not wrap Int into a
    // small positive slice that misframes the rest of the tape
    val huge = ("WARC/1.0\r\nContent-Length: 4294967306\r\n\r\n" +
      "0123456789rest").getBytes("UTF-8")
    val e3 = intercept[IllegalArgumentException](
      WarcFiles.parseWarc("huge.warc", huge))
    assert(e3.getMessage.contains("4294967306"),
      s"wrap must surface the declared length: ${e3.getMessage}")
  }

  test("read: distributed 2-file tape parse; httpBodyText strips envelopes") {
    val base = java.nio.file.Files.createTempDirectory("warc_spec")
    val httpBlock = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<p>body</p>").getBytes("UTF-8")
    java.nio.file.Files.write(base.resolve("a.warc"),
      WarcFiles.buildWarc(Seq((1L, "u1", "plain".getBytes("UTF-8")))))
    java.nio.file.Files.write(base.resolve("b.warc"),
      WarcFiles.buildWarc(Seq((2L, "u2", httpBlock))))
    val got = WarcFiles.read(spark, s"$base/*.warc")
      .withColumn("body", WarcFiles.httpBodyText(col("content")))
      .select("target_uri", "body").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("u1") == "plain", "no envelope: block passes through whole")
    assert(got("u2") == "<p>body</p>", "envelope stripped at the first CRLFCRLF")
  }

  test("httpBodyText: gzip bodies gunzip per the envelope; identity passes") {
    val base = java.nio.file.Files.createTempDirectory("warc_gz_spec")
    val payload = "<p>compressed body with «unicode»</p>"
    java.nio.file.Files.write(base.resolve("t.warc"),
      WarcFiles.buildWarcHttp(Seq(
        (1L, "u1", payload.getBytes("UTF-8"), true),
        (2L, "u2", "<p>plain body</p>".getBytes("UTF-8"), false))))
    val got = WarcFiles.read(spark, s"$base/*.warc")
      .withColumn("body", WarcFiles.httpBodyText(col("content")))
      .select("target_uri", "body").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("u1") == payload, "gzip body must gunzip losslessly")
    assert(got("u2") == "<p>plain body</p>")
  }

  test("httpBodyText: corrupt gzip, bombs and unknown encodings fail loudly") {
    import org.apache.spark.sql.graft.HttpBodyText
    def block(enc: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Encoding: $enc\r\n\r\n").getBytes("UTF-8") ++ body
    // declared gzip, garbage bytes -> loud, not U+FFFD soup
    val e1 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("gzip", Array[Byte](1, 2, 3, 4)), 1 << 20))
    assert(e1.getMessage.contains("corrupt gzip"))
    // a 1 MiB zero stream against a 1 KiB guard -> loud bound refusal
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(new Array[Byte](1 << 20)); g.close()
    val e2 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("gzip", bo.toByteArray), 1024))
    assert(e2.getMessage.contains("guard"))
    // an encoding this decoder does not speak -> loud
    val e3 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("br", "x".getBytes("UTF-8")), 1 << 20))
    assert(e3.getMessage.contains("unsupported Content-Encoding"))
    // no envelope at all: whole block decodes (resource records)
    assert(HttpBodyText.body("raw bytes".getBytes("UTF-8"), 1 << 20)
      .toString == "raw bytes")
    // header NAME matching is case-insensitive per HTTP
    val mixed = ("HTTP/1.1 200 OK\r\ncOnTeNt-EnCoDiNg: identity\r\n\r\nok")
      .getBytes("UTF-8")
    assert(HttpBodyText.body(mixed, 1 << 20).toString == "ok")
    // deflate = the RFC 9110 zlib-wrapped stream
    val d = new java.util.zip.Deflater()
    d.setInput("deflated body text".getBytes("UTF-8")); d.finish()
    val db = new Array[Byte](256)
    val dn = d.deflate(db); d.end()
    assert(HttpBodyText.body(block("deflate", db.take(dn)), 1 << 20)
      .toString == "deflated body text")
    // raw DEFLATE mis-declared as deflate fails the zlib header check loudly
    val e4 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("deflate", Array[Byte](0x4b, 0x4c, 0x04, 0x00)), 1 << 20))
    assert(e4.getMessage.contains("deflate"))
  }

  test("httpBodyText: chunked bodies de-chunk in wire order across all nestings") {
    val base = java.nio.file.Files.createTempDirectory("warc_chunk_spec")
    // long enough for several 13-byte chunks; the multi-byte « lands
    // mid-chunk so de-chunking must be byte-level, not char-level
    val payload = "chunked body with «unicode» and enough words to span chunks"
    val recs = Seq(
      (0L, "identity", "identity"), (1L, "identity", "chunked"),
      (2L, "gzip", "chunked"), (3L, "deflate", "chunked"),
      (4L, "gzip", "identity"), (5L, "deflate", "identity")
    ).map { case (id, ce, te) =>
      (id, s"u$id", payload.getBytes("UTF-8"),
        "text/html; charset=utf-8", ce, te)
    }
    java.nio.file.Files.write(base.resolve("t.warc"),
      WarcFiles.buildWarcHttpWire(recs))
    val got = WarcFiles.read(spark, s"$base/*.warc")
      .withColumn("body", WarcFiles.httpBodyText(col("content")))
      .select("target_uri", "body").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (0 to 5).foreach(i => assert(got(s"u$i") == payload,
      s"wire nesting $i must decode losslessly, got '${got(s"u$i")}'"))
  }

  test("httpBodyText: malformed chunked framing fails loudly, not as text soup") {
    import org.apache.spark.sql.graft.HttpBodyText
    def block(body: String): Array[Byte] =
      ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + body)
        .getBytes("UTF-8")
    // size line not hex
    val e1 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("zz\r\ndata\r\n0\r\n\r\n"), 1 << 20))
    assert(e1.getMessage.contains("not hex"), e1.getMessage)
    // declared size past end of body
    val e2 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("ff\r\nshort\r\n0\r\n\r\n"), 1 << 20))
    assert(e2.getMessage.contains("truncated chunk"), e2.getMessage)
    // missing final 0-chunk (body just ends)
    val e3 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("5\r\nhello\r\n"), 1 << 20))
    assert(e3.getMessage.contains("unterminated"), e3.getMessage)
    // chunk data not CRLF-terminated (boundary drift = misattribution)
    val e4 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("5\r\nhelloXX0\r\n\r\n"), 1 << 20))
    assert(e4.getMessage.contains("CRLF"), e4.getMessage)
    // bytes after the terminator
    val e5 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("5\r\nhello\r\n0\r\n\r\nextra"), 1 << 20))
    assert(e5.getMessage.contains("past the chunked terminator"), e5.getMessage)
    // the de-chunked total honors the bomb guard
    val e6 = intercept[IllegalArgumentException](
      HttpBodyText.body(block("400\r\n" + "x" * 1024 + "\r\n0\r\n\r\n"), 100))
    assert(e6.getMessage.contains("guard"), e6.getMessage)
    // an unsupported transfer coding is loud
    val e7 = intercept[IllegalArgumentException](HttpBodyText.body(
      ("HTTP/1.1 200 OK\r\nTransfer-Encoding: brotli\r\n\r\nx")
        .getBytes("UTF-8"), 1 << 20))
    assert(e7.getMessage.contains("unsupported Transfer-Encoding"), e7.getMessage)
    // SIGNED size lines ('-1f', '+5') are not wire-legal hex: parseLong
    // alone would accept them and a negative length would surface as a
    // raw IndexOutOfBounds instead of the named framing error
    for (bad <- Seq("-1f", "+5")) {
      val eS = intercept[IllegalArgumentException](
        HttpBodyText.body(block(s"$bad\r\ndata\r\n0\r\n\r\n"), 1 << 20))
      assert(eS.getMessage.contains("not hex"),
        s"signed size '$bad' must hit the named framing error, got: ${eS.getMessage}")
    }
    // extensions, UPPER hex, trailers: all legal, all accepted
    val ok = HttpBodyText.body(
      block("5;x=1\r\nhello\r\nB\r\n 0123456789\r\n0\r\nX-T: v\r\n\r\n"),
      1 << 20)
    assert(ok.toString == "hello 0123456789")
  }

  test("httpBodyText: meta-charset prescan fills in when the header has no label") {
    import org.apache.spark.sql.graft.HttpBodyText
    def page(ctype: String, bytes: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n").getBytes("UTF-8") ++ bytes
    // no header label: <meta charset=...> wins (cp1252 € = 0x80)
    val m1 = "<meta charset=\"windows-1252\"><p>€</p>"
    assert(HttpBodyText.body(page("text/html",
      m1.getBytes("windows-1252")), 1 << 20).toString == m1)
    // http-equiv form
    val m2 = "<meta http-equiv=\"Content-Type\" content=\"text/html; " +
      "charset=iso-8859-1\"><p>café</p>"
    assert(HttpBodyText.body(page("text/html",
      m2.getBytes("ISO-8859-1")), 1 << 20).toString == m2)
    // the HEADER label wins over a conflicting meta
    val m3 = "<meta charset=\"utf-8\"><p>café</p>"
    assert(HttpBodyText.body(page("text/html; charset=iso-8859-1",
      m3.getBytes("ISO-8859-1")), 1 << 20).toString == m3)
    // prescan is BOUNDED: a meta past the first 1024 bytes is ignored
    // (latin-1 bytes then mis-decode as utf-8 -> U+FFFD, proving the
    // fallback ran, not the label)
    val far = (" " * 1100) + "<meta charset=\"iso-8859-1\">café"
    val farGot = HttpBodyText.body(page("text/html",
      far.getBytes("ISO-8859-1")), 1 << 20).toString
    assert(farGot.contains("caf�"),
      s"a label past the 1024-byte window must not apply: '${farGot.takeRight(20)}'")
    // charset= in body TEXT (outside any <meta ...> tag) does not apply
    val m5 = "<p>use charset=iso-8859-1 here</p>café"
    assert(HttpBodyText.body(page("text/html",
      m5.getBytes("ISO-8859-1")), 1 << 20).toString.contains("caf�"),
      "charset= outside a meta tag must not label the page")
    // only the two WHATWG forms label: a description meta that MENTIONS
    // a charset inside its content value must not relabel a UTF-8 page
    // into silent mojibake
    val m6 = "<meta name=\"description\" content=\"how charset=utf-16 " +
      "pages work\"><p>café</p>"
    assert(HttpBodyText.body(page("text/html",
      m6.getBytes("UTF-8")), 1 << 20).toString == m6,
      "a charset= inside an unrelated attribute value must not apply")
    // the prescan is HTML-only (WHATWG): a text/plain body that happens
    // to contain a literal meta tag must NOT be relabeled...
    val m7 = "<meta charset=\"iso-8859-1\"> in a plain-text doc café"
    assert(HttpBodyText.body(page("text/plain",
      m7.getBytes("ISO-8859-1")), 1 << 20).toString.contains("caf�"),
      "a text/plain body must not be relabeled by an embedded meta tag")
    // ...while an ABSENT Content-Type stays prescan-eligible (header-less
    // legacy pages are the prescan's reason to exist)
    val m8 = "<meta charset=\"windows-1252\"><p>€</p>"
    assert(HttpBodyText.body(
      ("HTTP/1.1 200 OK\r\n\r\n").getBytes("UTF-8") ++
        m8.getBytes("windows-1252"), 1 << 20).toString == m8,
      "an absent Content-Type must keep the prescan eligible")
    // quote-aware tag end: a '>' inside a quoted attribute value must not
    // truncate the scan before the charset attribute
    val m9 = "<meta name=\"a>b\" charset=\"windows-1252\"><p>€</p>"
    assert(HttpBodyText.body(page("text/html",
      m9.getBytes("windows-1252")), 1 << 20).toString == m9,
      "a quoted '>' must not hide the charset declaration")
  }

  test("http_status / http_header: envelope probes with honest nulls") {
    import org.apache.spark.sql.graft.HttpEnvelope
    val ok = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "X-Robots-Tag: noindex\r\nX-Robots-Tag: none\r\n\r\nbody")
      .getBytes("UTF-8")
    assert(HttpEnvelope.status(ok) == 200)
    assert(HttpEnvelope.header(ok, "X-ROBOTS-TAG").toString == "noindex",
      "case-insensitive name, FIRST occurrence wins")
    assert(HttpEnvelope.header(ok, "location") == null)
    val redirect = ("HTTP/1.1 301 Moved Permanently\r\n" +
      "Location: https://x/\r\n\r\n").getBytes("UTF-8")
    assert(HttpEnvelope.status(redirect) == 301)
    assert(HttpEnvelope.header(redirect, "Location").toString == "https://x/")
    // a resource payload that merely CONTAINS header-ish lines is not
    // an envelope (no HTTP/ magic); nor is a truncated envelope
    assert(HttpEnvelope.status("Name: value\r\n\r\nx".getBytes("UTF-8")) == null)
    assert(HttpEnvelope.status("HTTP/1.1 200 OK\r\nTrunc".getBytes("UTF-8")) == null)
    assert(HttpEnvelope.header("plain".getBytes("UTF-8"), "a") == null)
    // malformed status line -> null, not a crash
    assert(HttpEnvelope.status("HTTP/1.1\r\n\r\n".getBytes("UTF-8")) == null)
    assert(HttpEnvelope.status("HTTP/1.1 20x OK\r\n\r\n".getBytes("UTF-8")) == null)
  }

  test("filterXRobotsNoindex: header directive drops; scoped/benign values keep") {
    import graft.api.TextAnalysis
    val spark2 = spark
    import spark2.implicits._
    def block(extra: Seq[(String, String)]): Array[Byte] =
      ("HTTP/1.1 200 OK\r\n" +
        extra.map { case (n, v) => s"$n: $v\r\n" }.mkString +
        "\r\nbody").getBytes("UTF-8")
    val rows = Seq(
      (1L, block(Seq("X-Robots-Tag" -> "noindex, nofollow"))),
      (2L, block(Seq("X-Robots-Tag" -> " NONE "))),
      (3L, block(Seq("X-Robots-Tag" -> "unavailable_after: 2027-01-01"))),
      (4L, block(Seq("X-Robots-Tag" -> "googlebot: noindex"))), // scoped: out of rule
      (5L, block(Nil)),
      (6L, "no envelope at all".getBytes("UTF-8"))
    ).toDF("doc_id", "content")
    val kept = TextAnalysis.filterXRobotsNoindex(rows)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L, 6L), kept.toString)
  }

  test("robots_disallowed refuses non-flag-prefixed rule arrays loudly") {
    import org.apache.spark.sql.graft.RobotsDisallowed
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: Any*) = new GenericArrayData(xs.map {
      case null => null
      case s: String => UTF8String.fromString(s)
    }.toArray[Any])
    val t = UTF8String.fromString("/x")
    assert(RobotsDisallowed.disallowed(t, arr("D/x")))
    assert(!RobotsDisallowed.disallowed(t, arr()))
    Seq(arr(""), arr("X/x"), arr(null)).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        RobotsDisallowed.disallowed(t, bad))
      assert(e.getMessage.contains("flag-prefixed"), e.getMessage)
    }
  }
}
