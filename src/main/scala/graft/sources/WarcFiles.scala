package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC (ISO 28500) source — the format web crawls actually arrive in
  * (Common Crawl tapes, Heritrix output): a concatenation of records,
  * each a `WARC/1.x` header block (CRLF-separated `Name: value` lines,
  * blank-line terminated) followed by exactly `Content-Length` BYTES of
  * block payload and a CRLF CRLF record separator. The parser is a
  * strict byte scanner around that framing — Content-Length is the only
  * authority on block size (payloads are arbitrary bytes; scanning for
  * separators inside them would corrupt any block that contains one).
  *
  * The 100 TB shape: `spark.read.format("binaryFile")` distributes
  * whole files across executors and each task parses its own files —
  * WARC has no intra-file sync markers (records are back-to-back with
  * data-dependent lengths), so a file is the natural split unit, as it
  * is for every production WARC reader; crawl tapes ship as many ~1 GB
  * files, which is exactly the parallelism a file-per-task source
  * needs. Parsing is streaming within the file (one pass, no copies
  * beyond the per-record payload slice).
  *
  * Malformed framing (no `WARC/` magic, unparsable or missing
  * Content-Length, truncated payload) fails LOUDLY with the file and
  * byte offset — a crawl tape with broken framing is a transfer error,
  * not a row-level data problem (row-level tolerance belongs to the
  * payload parsers downstream, like the corrupt-JSONL gate). Output
  * columns: `(path, record_offset, warc_type, record_id, target_uri,
  * warc_date, content_type, content)` — `content` is the raw block
  * bytes; `response` records keep their HTTP envelope in the block, per
  * spec ([[httpBodyText]] strips and decodes it when wanted).
  */
object WarcFiles {

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = true),
    StructField("record_offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content", BinaryType, nullable = true)))

  /** Parse one WARC file's bytes into records (exposed for the builder
    * and specs; the distributed path calls it per file). */
  def parseWarc(path: String, bytes: Array[Byte]): Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var i = 0
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"malformed WARC '$path' at byte $i: $msg")
    def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < bytes.length &&
        !(bytes(j) == '\r' && bytes(j + 1) == '\n')) j += 1
      if (j + 1 >= bytes.length) fail("unterminated header line")
      j
    }
    while (i < bytes.length) {
      // tolerate (spec-legal) extra CRLFs between records
      if (bytes(i) == '\r' && i + 1 < bytes.length && bytes(i + 1) == '\n') {
        i += 2
      } else {
        val recordOffset = i.toLong
        val e0 = lineEnd(i)
        val version = new String(bytes, i, e0 - i, "UTF-8")
        if (!version.startsWith("WARC/")) fail(s"expected WARC/ magic, got '$version'")
        i = e0 + 2
        var headers = Map.empty[String, String]
        var done = false
        while (!done) {
          val e = lineEnd(i)
          if (e == i) { done = true; i += 2 } // blank line: end of headers
          else {
            val line = new String(bytes, i, e - i, "UTF-8")
            val c = line.indexOf(':')
            if (c < 0) fail(s"header line without colon: '$line'")
            headers += (line.substring(0, c).trim.toLowerCase ->
              line.substring(c + 1).trim)
            i = e + 2
          }
        }
        // keep the length as a Long until AFTER the bounds check: a
        // header like 'Content-Length: 4294967306' narrowed early wraps
        // to a small positive Int and silently misframes the tape
        // (attacker-controlled record smuggling); the check below makes
        // any length that can't fit the remaining bytes fail loudly
        val lenL = headers.get("content-length") match {
          case Some(v) => try v.toLong catch {
            case _: NumberFormatException => fail(s"bad Content-Length '$v'")
          }
          case None => fail("missing Content-Length")
        }
        if (lenL < 0 || lenL > (bytes.length - i).toLong) fail(
          s"truncated block: Content-Length $lenL past end of file")
        val len = lenL.toInt
        val block = java.util.Arrays.copyOfRange(bytes, i, i + len)
        i += len
        out += Row(path, recordOffset,
          headers.get("warc-type").orNull,
          headers.get("warc-record-id").orNull,
          headers.get("warc-target-uri").orNull,
          headers.get("warc-date").orNull,
          headers.get("content-type").orNull,
          block)
      }
    }
    out.toSeq
  }

  /** Read WARC files under `path` (glob ok) into the record frame. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content")
    files.as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY))
      .flatMap { case (p, bytes) => parseWarc(p, bytes) }(
        org.apache.spark.sql.Encoders.row(schema))
  }

  /** Content-Encoding-aware body decode
    * ([[org.apache.spark.sql.graft.HttpBodyText]] states the full
    * contract): identity bodies slice, gzip bodies gunzip under a
    * bounded-output guard (64 MiB), corrupt or unsupported encodings
    * fail loudly. One codegen'd expression over the raw block bytes. */
  def httpBodyText(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.HttpBodyText(
        org.apache.spark.sql.graft.ColumnShim.expression(content), 64L << 20))

  /** Deterministic RESPONSE-record fixture builder: each (id, uri,
    * payload, gzip) lands as a `response` record whose block is a full
    * HTTP envelope plus the (optionally gzip'd) payload — the shape real
    * crawl tapes have, exercising the [[httpBodyText]] decode path. */
  def buildWarcHttp(records: Seq[(Long, String, Array[Byte], Boolean)]): Array[Byte] =
    buildWarcHttpTyped(records.map { case (id, uri, p, gz) =>
      (id, uri, p, gz, "text/html; charset=utf-8") })

  /** [[buildWarcHttp]] with an explicit per-record HTTP Content-Type
    * value — for charset-labeled fixture bodies. */
  def buildWarcHttpTyped(records: Seq[(Long, String, Array[Byte], Boolean, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("UTF-8"))
    records.foreach { case (id, uri, payload, gz, ctype) =>
      val body = if (gz) {
        val bo = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bo)
        g.write(payload); g.close()
        bo.toByteArray
      } else payload
      val envelope = "HTTP/1.1 200 OK\r\n" +
        s"Content-Type: $ctype\r\n" +
        (if (gz) "Content-Encoding: gzip\r\n" else "") +
        s"Content-Length: ${body.length}\r\n\r\n"
      val block = envelope.getBytes("UTF-8") ++ body
      w("WARC/1.0\r\n")
      w("WARC-Type: response\r\n")
      w(s"WARC-Record-ID: <urn:graft:$id>\r\n")
      w(s"WARC-Target-URI: $uri\r\n")
      w("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      w("Content-Type: application/http;msgtype=response\r\n")
      w(s"Content-Length: ${block.length}\r\n")
      w("\r\n")
      out.write(block)
      w("\r\n\r\n")
    }
    out.toByteArray
  }

  /** Fully wire-shaped RESPONSE fixture: per record the payload is
    * content-coded (`identity` | `gzip` | `deflate`), then
    * transfer-coded (`identity` | `chunked`) — exactly how the layers
    * nest on a real wire (chunks of gzip bytes, never gzip of chunk
    * framing). Chunked framing is deterministic and deliberately
    * exercises the legal-but-rarely-tested corners a de-chunker must
    * accept: 13-byte chunks (cutting multi-byte code points mid-chunk),
    * alternating lower/UPPER hex size lines, a chunk extension on the
    * first chunk, and a trailer field after the last chunk. Chunked
    * records carry no Content-Length, as on the wire. */
  def buildWarcHttpWire(records: Seq[(Long, String, Array[Byte],
      String, String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("UTF-8"))
    records.foreach { case (id, uri, payload, ctype, cenc, tenc) =>
      val contentCoded = cenc match {
        case "identity" => payload
        case "gzip" =>
          val bo = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bo)
          g.write(payload); g.close()
          bo.toByteArray
        case "deflate" =>
          val d = new java.util.zip.Deflater()
          d.setInput(payload); d.finish()
          val bo = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
          d.end()
          bo.toByteArray
        case other => throw new IllegalArgumentException(
          s"fixture content coding '$other'")
      }
      val body = tenc match {
        case "identity" => contentCoded
        case "chunked" =>
          val bo = new java.io.ByteArrayOutputStream()
          contentCoded.grouped(13).zipWithIndex.foreach { case (c, k) =>
            val hex = java.lang.Integer.toHexString(c.length)
            val size = if (k % 2 == 1)
              hex.toUpperCase(java.util.Locale.ROOT) else hex
            val ext = if (k == 0) ";graft=1" else ""
            bo.write((size + ext + "\r\n").getBytes("UTF-8"))
            bo.write(c)
            bo.write("\r\n".getBytes("UTF-8"))
          }
          bo.write("0\r\nX-Graft-Trailer: ok\r\n\r\n".getBytes("UTF-8"))
          bo.toByteArray
        case other => throw new IllegalArgumentException(
          s"fixture transfer coding '$other'")
      }
      val envelope = "HTTP/1.1 200 OK\r\n" +
        s"Content-Type: $ctype\r\n" +
        (if (cenc != "identity") s"Content-Encoding: $cenc\r\n" else "") +
        (if (tenc == "chunked") "Transfer-Encoding: chunked\r\n"
         else s"Content-Length: ${body.length}\r\n") +
        "\r\n"
      val block = envelope.getBytes("UTF-8") ++ body
      w("WARC/1.0\r\n")
      w("WARC-Type: response\r\n")
      w(s"WARC-Record-ID: <urn:graft:$id>\r\n")
      w(s"WARC-Target-URI: $uri\r\n")
      w("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      w("Content-Type: application/http;msgtype=response\r\n")
      w(s"Content-Length: ${block.length}\r\n")
      w("\r\n")
      out.write(block)
      w("\r\n\r\n")
    }
    out.toByteArray
  }

  /** RESPONSE fixture with explicit status line + extra headers: each
    * (id, uri, payload, status, reason, extraHeaders) lands identity-
    * encoded under `HTTP/1.1 <status> <reason>` — the shape for
    * exercising status-code routing and header-level directives
    * (X-Robots-Tag, Location) without the compression layers. */
  def buildWarcHttpStatus(records: Seq[(Long, String, Array[Byte], Int,
      String, Seq[(String, String)])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("UTF-8"))
    records.foreach { case (id, uri, payload, status, reason, extra) =>
      val envelope = s"HTTP/1.1 $status $reason\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        extra.map { case (n, v) => s"$n: $v\r\n" }.mkString +
        s"Content-Length: ${payload.length}\r\n\r\n"
      val block = envelope.getBytes("UTF-8") ++ payload
      w("WARC/1.0\r\n")
      w("WARC-Type: response\r\n")
      w(s"WARC-Record-ID: <urn:graft:$id>\r\n")
      w(s"WARC-Target-URI: $uri\r\n")
      w("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      w("Content-Type: application/http;msgtype=response\r\n")
      w(s"Content-Length: ${block.length}\r\n")
      w("\r\n")
      out.write(block)
      w("\r\n\r\n")
    }
    out.toByteArray
  }

  /** Deterministic WARC fixture builder: wrap each (id, uri, payload)
    * as a `resource` record with exact byte-length framing. Used by the
    * gate (and usable for any synthetic tape). */
  def buildWarc(records: Seq[(Long, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("UTF-8"))
    records.foreach { case (id, uri, payload) =>
      w("WARC/1.0\r\n")
      w(s"WARC-Type: resource\r\n")
      w(s"WARC-Record-ID: <urn:graft:$id>\r\n")
      w(s"WARC-Target-URI: $uri\r\n")
      w("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      w("Content-Type: text/html\r\n")
      w(s"Content-Length: ${payload.length}\r\n")
      w("\r\n")
      out.write(payload)
      w("\r\n\r\n")
    }
    out.toByteArray
  }
}
