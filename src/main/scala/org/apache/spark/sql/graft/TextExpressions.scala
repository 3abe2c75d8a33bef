package org.apache.spark.sql.graft

import _root_.graft.core.{SimHash, Shingles}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pipeline-operator scalar expressions beyond the reference surface:
  * SimHash, Hamming distance, rolling/winnowed document fingerprints.
  * Deterministic, null-intolerant, built on the same FxHash64 core as the
  * lsh_* functions.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def prettyName: String = "simhash64"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    SimHash.simhash64(v.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def prettyName: String = "hamming_dist"
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimHash.hamming(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** min_fingerprint(text, k): minimum FxHash64 over all k-code-point windows. */
case class MinFingerprint(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def prettyName: String = "min_fingerprint"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isInstanceOf[TypeCheckSuccess.type]) return base
    LshParams.checkConstant(Seq(right -> "k"))
  }
  @transient private lazy val k = LshParams.evalLong(right, "k").toInt
  override protected def nullSafeEval(v: Any, kv: Any): Any =
    SimHash.minFingerprint(v.asInstanceOf[UTF8String].toString, k)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** shingle_hashes(text, w): the sorted distinct u32 FxHash shingle set of
  * the text's w-code-point windows — the same set every lsh_min band
  * minimizes over (shingleset.rs:24-35) and lsh_jaccard intersects,
  * exposed as a column so set-level operators (n-gram overlap /
  * decontamination joins) can explode and join on shingle identity.
  * Ascending order is part of the contract (deterministic output). */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def prettyName: String = "shingle_hashes"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isInstanceOf[TypeCheckSuccess.type]) return base
    LshParams.checkConstant(Seq(right -> "ngram_width"))
  }
  @transient private lazy val w = LshParams.evalLong(right, "ngram_width").toInt
  override protected def nullSafeEval(v: Any, wv: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(Shingles.sortedShinglesUtf8(bytes, 0, bytes.length, w))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** winnow_fingerprint(text, k, w): winnowed k-gram fingerprint set. */
case class WinnowFingerprint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def prettyName: String = "winnow_fingerprint"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType, LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isInstanceOf[TypeCheckSuccess.type]) return base
    LshParams.checkConstant(Seq(second -> "k", third -> "w"))
  }
  @transient private lazy val k = LshParams.evalLong(second, "k").toInt
  @transient private lazy val w = LshParams.evalLong(third, "w").toInt
  override protected def nullSafeEval(v: Any, kv: Any, wv: Any): Any =
    new GenericArrayData(SimHash.winnow(v.asInstanceOf[UTF8String].toString, k, w))
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** unicode_norm(text, form): Unicode normalization (NFC/NFD/NFKC/NFKD) via
  * the JDK's `java.text.Normalizer` — the canonicalization step a
  * multilingual dedup pipeline must run BEFORE hashing: NFC "é" (U+00E9)
  * and NFD "e"+U+0301 render identically but share no byte, so every
  * downstream identity — shingle sets, MinHash bands, gram hashes, exact
  * dedup — silently treats them as different text. Unicode normalization
  * forms are stable across conforming implementations (UAX #15 stability
  * policy), which is what lets the NFC gate pin this cross-engine against
  * DuckDB's `nfc_normalize` bit-for-bit. NULL → NULL; already-normalized
  * strings pass through unchanged (Normalizer short-circuits on its own
  * quick-check, so the common ASCII path is cheap). `form` is a
  * construction-time constant — no per-row dispatch. */
case class UnicodeNorm(child: Expression, form: String)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"form must be one of NFC, NFD, NFKC, NFKD — got '$form'")

  override def prettyName: String = "unicode_norm"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    UnicodeNorm.normalize(v.asInstanceOf[UTF8String], form)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[UnicodeNorm].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev, c => s"""${ev.value} = $mod.normalize($c, "$form");""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** idn_ascii_host(host): fold an (already [[graft.api.Domains.urlHost]]
  * -normalized) host to ONE ASCII identity — the IDN twins rule real
  * crawl URL sets carry: `münchen.de`, `M%C3%BCnchen.de` and
  * `xn--mnchen-3ya.de` are the same host three ways. Per label:
  * percent-decode ALL `%XX` triplets (UTF-8, malformed bytes →
  * U+FFFD — deterministic, mirroring Python `unquote(errors=
  * 'replace')`), lowercase (root locale), NFC-normalize, then encode
  * any non-ASCII label as `xn--` + RFC 3492 Punycode
  * ([[graft.core.Punycode]]); an ASCII label (including an existing
  * `xn--`) passes through, so both spellings converge. This is BARE
  * identity folding — IDNA's stringprep registration profile
  * (prohibited codepoints, bidi rules, ß→ss) is deliberately NOT
  * applied: the goal is that equal-looking hosts collapse, not that
  * invalid registrations are rejected. NULL → NULL. */
case class IdnAsciiHost(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "idn_ascii_host"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    IdnAsciiHost.toAsciiHost(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[IdnAsciiHost].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev, c => s"""${ev.value} = $mod.toAsciiHost($c);""")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object IdnAsciiHost {
  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Static call target for interpreted eval and generated code. */
  def toAsciiHost(s: UTF8String): UTF8String = {
    val raw = s.toString
    // percent-decode all %XX triplets to bytes; malformed '%' passes
    // through literally (the pctNormalize convention)
    val decoded =
      if (raw.indexOf('%') < 0) raw
      else {
        val buf = new java.io.ByteArrayOutputStream(raw.length)
        var i = 0
        while (i < raw.length) {
          val c = raw.charAt(i)
          if (c == '%' && i + 2 < raw.length &&
              hexVal(raw.charAt(i + 1)) >= 0 && hexVal(raw.charAt(i + 2)) >= 0) {
            buf.write(hexVal(raw.charAt(i + 1)) * 16 + hexVal(raw.charAt(i + 2)))
            i += 3
          } else {
            // write surrogate PAIRS together — a lone half would encode
            // as the replacement byte and split an astral codepoint
            val end =
              if (Character.isHighSurrogate(c) && i + 1 < raw.length &&
                Character.isLowSurrogate(raw.charAt(i + 1))) i + 2
              else i + 1
            buf.write(raw.substring(i, end)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            i = end
          }
        }
        new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      }
    val folded = java.text.Normalizer.normalize(
      decoded.toLowerCase(java.util.Locale.ROOT),
      java.text.Normalizer.Form.NFC)
    val labels = folded.split("\\.", -1).map { lab =>
      // DNS caps labels at 63 octets; 255 codepoints is already far
      // outside any valid host. Past that, the RFC 3492 delta
      // arithmetic (guardless by design — see Punycode's scaladoc)
      // could overflow Int and emit a WRONG encoding that collides
      // distinct junk hosts — pass such labels through unchanged
      // instead: junk keeps its own identity.
      if (lab.length > 255 || lab.codePoints().allMatch(_ < 128)) lab
      else "xn--" + graft.core.Punycode.encode(lab)
    }
    UTF8String.fromString(labels.mkString("."))
  }
}

/** levenshtein_cp(a, b): Levenshtein edit distance over Unicode CODE
  * POINTS — the record-linkage verifier semantics
  * ([[graft.api.BandedLsh.editVerifiedPairs]]). Exists to OWN the unit:
  * DuckDB's builtin counts BYTE edits ('à' = 2 bytes, inflating
  * every non-ASCII distance), and Spark's builtin unit is the engine's
  * choice (Spark 4 counts code points — spec-measured — but that is
  * inherited behavior, not a pinned contract). Code points are the unit
  * a similarity threshold over human-readable keys means; they also
  * match Python's string DP, which is what the unicode gate cross-pins.
  * Classic two-row DP, O(|a|·|b|) — for SHORT key columns, like the
  * operator it verifies. NULL → NULL. */
case class LevenshteinCp(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "levenshtein_cp"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinCp.dist(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[LevenshteinCp].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $mod.dist($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object LevenshteinCp {
  /** Static call target for interpreted eval and generated code. */
  def dist(a: UTF8String, b: UTF8String): Int = {
    val ca = a.toString.codePoints().toArray
    val cb = b.toString.codePoints().toArray
    if (ca.length == 0) return cb.length
    if (cb.length == 0) return ca.length
    var prev = new Array[Int](cb.length + 1)
    var cur = new Array[Int](cb.length + 1)
    var j = 0
    while (j <= cb.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= ca.length) {
      cur(0) = i
      var k = 1
      while (k <= cb.length) {
        val sub = prev(k - 1) + (if (ca(i - 1) == cb(k - 1)) 0 else 1)
        cur(k) = math.min(math.min(prev(k) + 1, cur(k - 1) + 1), sub)
        k += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(cb.length)
  }
}

/** html_extract(html): deterministic HTML → text extraction — tag strip
  * with block-element line breaks, script/style/comment removal, entity
  * decode, whitespace normalization ([[graft.core.HtmlText]], where the
  * scan rules are specified; the Python oracle re-derives them
  * independently). The front-end stage of a web-curation pipeline: its
  * output lines are block structure, which is what the line-level
  * operators (boilerplate df, Gopher line rules) consume. NULL → NULL;
  * codegen is one static call — no UDF, no regex chain. */
case class HtmlExtract(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "html_extract"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    HtmlExtract.extract(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[HtmlExtract].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $mod.extract($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlExtract {
  /** Static call target for interpreted eval and generated code. */
  def extract(s: UTF8String): UTF8String =
    UTF8String.fromString(_root_.graft.core.HtmlText.extract(s.toString))
}

/** html_meta_robots(html): the `content` of the first
  * `<meta name="robots">` tag, or NULL when the page carries none —
  * the page-level crawl opt-out a compliant pipeline honors before
  * curation ([[graft.core.HtmlText.metaRobots]] states the exact scan
  * and attribute rules; `TextAnalysis.filterNoindex` is the drop verdict).
  * NULL → NULL; codegen is one static call. */
case class HtmlMetaRobots(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "html_meta_robots"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    HtmlMetaRobots.robots(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[HtmlMetaRobots].getName}$$.MODULE$$"
    // the kernel returns null for "no robots meta": propagate it as SQL
    // NULL from inside the null-safe wrapper
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $mod.robots($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlMetaRobots {
  /** Static call target for interpreted eval and generated code. */
  def robots(s: UTF8String): UTF8String = {
    val r = _root_.graft.core.HtmlText.metaRobots(s.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
}

/** html_main_content(html): the jusText/trafilatura-class tier above
  * [[HtmlExtract]] — same scan, but each block is kept only if it is long
  * enough AND link-sparse enough ([[graft.core.HtmlText.extractMain]]
  * states the exact integer rules; the Python oracle re-derives them
  * independently). `minChars`/`maxLinkPermille` are construction-time
  * constants — no per-row dispatch, codegen is one static call. The
  * defaults (25 counted chars, 333‰ anchor density) are the jusText
  * short-block / link-density ballpark. NULL → NULL. */
case class HtmlMainContent(child: Expression, minChars: Int, maxLinkPermille: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(minChars >= 0, s"minChars must be >= 0, got $minChars")
  require(maxLinkPermille >= 0 && maxLinkPermille <= 1000,
    s"maxLinkPermille must be in [0, 1000], got $maxLinkPermille")

  override def prettyName: String = "html_main_content"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    HtmlMainContent.extract(v.asInstanceOf[UTF8String], minChars, maxLinkPermille)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[HtmlMainContent].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = $mod.extract($c, $minChars, $maxLinkPermille);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlMainContent {
  /** Static call target for interpreted eval and generated code. */
  def extract(s: UTF8String, minChars: Int, maxLinkPermille: Int): UTF8String =
    UTF8String.fromString(
      _root_.graft.core.HtmlText.extractMain(s.toString, minChars, maxLinkPermille))
}

/** zlib_len(text): byte length of the RFC 1950 zlib stream of the text's
  * UTF-8 bytes at a construction-time compression level — the
  * Gopher/RefinedWeb-class repetition signal: templated spam compresses
  * far below natural prose even when per-line slot variation defeats
  * dup-line and n-gram-repetition counters. The LENGTH is the signal (the
  * ratio to `octet_length` is one division away, and an all-integer
  * threshold like `3 * zlib_len < octet_length` stays drift-free); the
  * compressed bytes are discarded. Determinism contract: zlib's DEFLATE
  * output is fixed for a given (level, strategy, input) within one zlib
  * build, and the JDK's Deflater and CPython's zlib module both bind the
  * same system zlib here — the oracle pins exact lengths and a library
  * swap would surface as a gate mismatch, not silent drift. Per-thread
  * Deflater reuse (reset, never re-alloc): a native-state alloc per row
  * would dominate the scan. NULL → NULL. */
case class ZlibLen(child: Expression, level: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(level >= 0 && level <= 9, s"level must be in [0, 9], got $level")

  override def prettyName: String = "zlib_len"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(v: Any): Any =
    ZlibLen.len(v.asInstanceOf[UTF8String], level)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[ZlibLen].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $mod.len($c, $level);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** http_body_text(block): the wire-shape-aware body decode for WARC
  * `response` records — real crawl tapes ship mostly gzip'd (and often
  * chunked) HTTP bodies, which a plain byte→string cast turns into
  * mojibake with chunk-size lines embedded in the text. Splits the block
  * at the first CRLF CRLF, then undoes the wire layers in wire order
  * (ASCII headers, case-insensitive names, first occurrence wins):
  *
  *  1. `Transfer-Encoding`: `chunked` de-chunks per RFC 9112 §7.1 —
  *     hex size line (chunk extensions after `;` ignored), exactly
  *     `size` data bytes, CRLF, repeated to the 0-size last chunk,
  *     then trailer fields up to the blank line. Malformed framing
  *     (non-hex size, missing CRLF, truncated chunk, missing last
  *     chunk, bytes past the terminator) fails LOUDLY with the body
  *     offset, and the de-chunked total honors the same `maxOut`
  *     guard as inflation. `identity` or absent passes through; any
  *     other coding fails loudly.
  *  2. `Content-Encoding`: `gzip`/`x-gzip` gunzip with a bounded-output
  *     guard (`maxOut`, construction-time constant — a decompression
  *     bomb must not OOM an executor; overflow fails LOUDLY with the
  *     cap), `deflate` inflates as the RFC 9110 zlib-wrapped stream
  *     under the same guard, `identity` or absent passes through, any
  *     OTHER declared encoding and any corrupt compressed stream fail
  *     LOUDLY — a tape whose bodies can't be decoded is a transfer
  *     problem you want surfaced, not U+FFFD soup admitted into the
  *     corpus (same philosophy as the WARC framing parser).
  *  3. Charset: the envelope's `Content-Type ... charset=` label wins;
  *     when the header carries NO label, a bounded WHATWG-style prescan
  *     of the first 1024 DECODED body bytes looks for the first
  *     `charset=` token inside a `<meta ...>` tag (covers both
  *     `<meta charset=...>` and the `http-equiv` Content-Type form) —
  *     the most common labeling for legacy pages; no label anywhere
  *     defaults to UTF-8. utf-8, iso-8859-1/latin-1, windows-1252/
  *     cp1252 and us-ascii decode natively, any other label falls back
  *     to UTF-8 — all with U+FFFD replacement (a charset mis-decode
  *     degrades one row's text; it cannot misattribute bytes across
  *     rows, so unlike the framing layers it is not loud).
  *
  * Blocks with no CRLF CRLF (resource records, truncated envelopes)
  * decode whole as UTF-8. NULL → NULL. */
case class HttpBodyText(child: Expression, maxOut: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(maxOut > 0, s"maxOut must be positive, got $maxOut")

  override def prettyName: String = "http_body_text"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    HttpBodyText.body(v.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${classOf[HttpBodyText].getName}$$.MODULE$$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $mod.body($c, ${maxOut}L);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `http_status(block)`: the status code of a WARC response block's HTTP
  * envelope as an int — the admission signal a real pipeline filters on
  * FIRST (a 301's stub body or a 404 page is not training data; only
  * 200-class payloads should ever reach extraction). NULL when the
  * block carries no HTTP envelope (resource records, truncated blocks:
  * no leading `HTTP/` magic or no CRLF CRLF terminator) — absence of an
  * envelope is a record-type fact, not an error. Never loud: the status
  * is DATA to route on, unlike the framing layers. */
case class HttpStatus(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "http_status"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    HttpEnvelope.status(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${HttpEnvelope.getClass.getName}.MODULE$$"
    val sc = ctx.freshName("httpStatus")
    nullSafeCodeGen(ctx, ev, c =>
      s"""java.lang.Integer $sc = (java.lang.Integer) $mod.status($c);
         |if ($sc == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $sc.intValue(); }""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `http_header(block, name)`: the FIRST occurrence of header `name`
  * (case-insensitive, a construction-time constant) in the block's HTTP
  * envelope, value trimmed — the X-Robots-Tag / Location / Content-Type
  * probe for routing decisions. NULL when the envelope or the header is
  * absent. Same envelope rules as [[HttpStatus]]. */
case class HttpHeader(child: Expression, name: String)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(name != null && name.nonEmpty, "header name must be non-empty")

  override def prettyName: String = "http_header"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    HttpEnvelope.header(v.asInstanceOf[Array[Byte]], name)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val mod = s"${HttpEnvelope.getClass.getName}.MODULE$$"
    val n = ctx.addReferenceObj("httpHeaderName", name, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $mod.header($c, $n);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Shared HTTP-envelope probe kernel for [[HttpStatus]]/[[HttpHeader]]:
  * an envelope exists iff the block starts with the `HTTP/` magic AND
  * terminates its header section with CRLF CRLF (a resource record's
  * payload that merely CONTAINS `Name: value` lines is not an
  * envelope). Header names compare case-insensitively, first occurrence
  * wins — the same rules [[HttpBodyText]] applies. */
object HttpEnvelope {
  private def envelope(block: Array[Byte]): String = {
    if (block.length < 5 || block(0) != 'H' || block(1) != 'T' ||
      block(2) != 'T' || block(3) != 'P' || block(4) != '/') return null
    var sep = -1
    var i = 0
    while (sep < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
        block(i + 2) == '\r' && block(i + 3) == '\n') sep = i
      i += 1
    }
    if (sep < 0) return null
    new String(block, 0, sep, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Static call target: boxed status code, null when absent. */
  def status(block: Array[Byte]): java.lang.Integer = {
    val env = envelope(block)
    if (env == null) return null
    val line = env.split("\r\n", 2)(0)
    // "HTTP/x.y SP code SP reason" — the code is the second SP token
    val parts = line.split(" ", 3)
    if (parts.length < 2 || parts(1).length != 3 ||
      !parts(1).forall(c => c >= '0' && c <= '9')) return null
    Integer.valueOf(parts(1).toInt)
  }

  /** Static call target: first header value for `name`, null when
    * absent. */
  def header(block: Array[Byte], name: String): UTF8String = {
    val env = envelope(block)
    if (env == null) return null
    val prefix = name.toLowerCase(java.util.Locale.ROOT) + ":"
    env.split("\r\n").iterator.drop(1).foreach { l =>
      if (l.length > prefix.length &&
        l.substring(0, prefix.length)
          .toLowerCase(java.util.Locale.ROOT) == prefix)
        return UTF8String.fromString(l.substring(prefix.length).trim)
    }
    null
  }
}

object HttpBodyText {
  private def utf8(bytes: Array[Byte], off: Int, len: Int): UTF8String =
    UTF8String.fromString(
      new String(bytes, off, len, java.nio.charset.StandardCharsets.UTF_8))

  /** Charset-labeled decode (labels already lowercased): the four
    * charsets that cover real crawl traffic decode natively; anything
    * else falls back to UTF-8 with U+FFFD replacement — the stated
    * junk-tier treatment for rare/garbage labels, NOT a loud failure
    * (unlike Content-Encoding, a charset label mis-decode degrades one
    * row's text, it cannot misattribute bytes across rows). */
  private def decode(bytes: Array[Byte], off: Int, len: Int,
                     charset: String): UTF8String = {
    val cs = charset match {
      case "utf-8" | "utf8" | "" => java.nio.charset.StandardCharsets.UTF_8
      case "iso-8859-1" | "latin-1" | "latin1" =>
        java.nio.charset.StandardCharsets.ISO_8859_1
      case "windows-1252" | "cp1252" =>
        java.nio.charset.Charset.forName("windows-1252")
      case "us-ascii" | "ascii" => java.nio.charset.StandardCharsets.US_ASCII
      case _ => java.nio.charset.StandardCharsets.UTF_8
    }
    UTF8String.fromString(new String(bytes, off, len, cs))
  }

  /** Shared charset-token extraction (input already lowercased): skip
    * one optional quote, take chars to the next `;`, quote, `>` or
    * control/space. One rule for the header label and the meta prescan,
    * so the two label sources cannot drift. */
  private def charsetToken(s: String, from: Int): String = {
    val i = if (from < s.length && (s.charAt(from) == '"' ||
      s.charAt(from) == '\'')) from + 1 else from
    val sb = new java.lang.StringBuilder
    var j = i
    while (j < s.length && { val c = s.charAt(j)
      c != ';' && c != '"' && c != '\'' && c != '>' && c > ' ' }) {
      sb.append(s.charAt(j)); j += 1
    }
    sb.toString.trim
  }

  /** Bounded WHATWG-style meta-charset prescan over the first 1024
    * decoded body bytes — [[graft.core.HtmlText.metaCharset]] does the
    * tag/attribute work and honors ONLY the two spec forms (`<meta
    * charset=x>` and the `http-equiv` Content-Type form's `content`
    * attribute), so a `charset=` mentioned inside an unrelated
    * attribute value cannot relabel the page. ISO-8859-1 view of the
    * window — byte-transparent, so the scan is ASCII-safe regardless of
    * the page's real encoding. */
  private def metaCharsetPrescan(b: Array[Byte], off: Int,
                                 len: Int): Option[String] = {
    val win = new String(b, off, math.min(len, 1024),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    Option(graft.core.HtmlText.metaCharset(win))
      .map(_.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
  }

  /** RFC 9112 §7.1 chunked-body decode, loud on every framing defect —
    * a mis-framed chunk boundary misattributes bytes across the text,
    * the exact corruption class the WARC framing parser refuses. */
  private def dechunk(b: Array[Byte], off: Int, len: Int,
                      maxOut: Long): Array[Byte] = {
    val end = off + len
    val out = new java.io.ByteArrayOutputStream(
      math.min(math.max(len, 64), 1 << 20))
    var i = off
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"malformed chunked body at byte ${i - off}: $msg")
    def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < end && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      if (j + 1 >= end) fail("unterminated CRLF line")
      j
    }
    var done = false
    while (!done) {
      val e = lineEnd(i)
      val line = new String(b, i, e - i,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      // chunk extensions (";name=value") are legal and ignorable
      val sizeStr = line.takeWhile(_ != ';').trim
      // pure hex digits only: parseLong(_, 16) also accepts signed forms
      // ('-1f', '+5') — a negative size would slip past the zero/guard/
      // truncation checks and reach out.write with a negative length,
      // surfacing as a raw IndexOutOfBounds instead of the named framing
      // error this decoder promises (round-20 advice finding)
      val size =
        try {
          require(sizeStr.nonEmpty && sizeStr.forall(c =>
            (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
              (c >= 'A' && c <= 'F')))
          java.lang.Long.parseLong(sizeStr, 16)
        } catch { case _: IllegalArgumentException =>
          fail(s"chunk size not hex: '$line'")
        }
      i = e + 2
      if (size == 0L) {
        // trailer fields, then the blank terminating CRLF
        var blank = false
        while (!blank) {
          val t = lineEnd(i)
          blank = t == i
          i = t + 2
        }
        if (i != end) fail(s"${end - i} bytes past the chunked terminator")
        done = true
      } else {
        if (size > maxOut - out.size()) throw new IllegalArgumentException(
          s"chunked body exceeds the $maxOut-byte guard — refusing " +
            "(decompression bomb or mis-framed tape)")
        if (size > end - i - 2) fail(
          s"truncated chunk: declared $size bytes past end of body")
        out.write(b, i, size.toInt)
        i += size.toInt
        if (!(b(i) == '\r' && b(i + 1) == '\n')) fail(
          "chunk data not CRLF-terminated")
        i += 2
      }
    }
    out.toByteArray
  }

  /** Static call target for interpreted eval and generated code. */
  def body(block: Array[Byte], maxOut: Long): UTF8String = {
    var sep = -1
    var i = 0
    while (sep < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
        block(i + 2) == '\r' && block(i + 3) == '\n') sep = i
      i += 1
    }
    if (sep < 0) return utf8(block, 0, block.length)
    // HTTP headers are ASCII by spec; ISO-8859-1 is byte-transparent, so
    // a stray high byte cannot corrupt neighboring header NAMES
    val envelope = new String(block, 0, sep,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val headerLines = envelope.split("\r\n").iterator.drop(1)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSeq
    def header(name: String): Option[String] = headerLines
      .collectFirst { case l if l.startsWith(name + ":") =>
        l.substring(name.length + 1).trim }
    val te = header("transfer-encoding").getOrElse("identity")
    val enc = header("content-encoding").getOrElse("identity")
    // charset label from the FIRST Content-Type header (first occurrence
    // wins, same rule as Content-Encoding — a later duplicate header must
    // not override it): the token after 'charset=' (already lowercased),
    // optional quotes stripped, cut at the next ';' or whitespace; a
    // first Content-Type without a charset parameter falls to the meta
    // prescan below
    val headerCharset = headerLines
      .collectFirst { case l if l.startsWith("content-type:") => l }
      .filter(_.contains("charset="))
      .map(l => charsetToken(l, l.indexOf("charset=") + "charset=".length))
      .filter(_.nonEmpty)
    val bodyOff = sep + 4
    val bodyLen = block.length - bodyOff
    // mk is a thunk: GZIPInputStream reads (and can reject) the header in
    // its CONSTRUCTOR, so construction must run inside the same loud
    // corrupt-stream handler as the reads
    def inflate(mk: () => java.io.InputStream, label: String,
                hintLen: Int): Array[Byte] = {
      // initial-capacity HINT only (the stream grows itself): clamp to
      // 1 MiB so a huge maxOut can never push the long past Int range
      // (a .toInt wrap would be negative and crash the constructor on a
      // legitimate record before the bomb guard even runs)
      val out = new java.io.ByteArrayOutputStream(math.min(
        math.max(hintLen * 4L, 1024L), math.min(maxOut, 1L << 20)).toInt)
      try {
        val in = mk()
        // close in finally: each stream owns a NATIVE zlib Inflater that
        // otherwise waits for a GC Cleaner — per-row leak on the decode
        // hot path would grow off-heap memory unbounded by the heap limit
        try {
          val buf = new Array[Byte](8192)
          var total = 0L
          var n = in.read(buf)
          while (n >= 0) {
            total += n
            if (total > maxOut) throw new IllegalArgumentException(
              s"$label body inflates past the $maxOut-byte guard — refusing " +
                "(decompression bomb or mis-declared encoding)")
            out.write(buf, 0, n)
            n = in.read(buf)
          }
        } finally in.close()
      } catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"corrupt $label body under Content-Encoding: $label: ${e.getMessage}", e)
      }
      out.toByteArray
    }
    // wire order: transfer coding wraps the content-coded payload, so
    // de-chunk FIRST, inflate second (a gzip'd chunked response is
    // chunks of gzip bytes, not gzip of chunk framing)
    val (tb, tOff, tLen) = te match {
      case "identity" | "" => (block, bodyOff, bodyLen)
      case "chunked" =>
        val d = dechunk(block, bodyOff, bodyLen, maxOut); (d, 0, d.length)
      case other => throw new IllegalArgumentException(
        s"unsupported Transfer-Encoding '$other' — this decoder handles " +
          "identity and chunked; an undecodable tape body is a transfer " +
          "problem, not row data")
    }
    val (cb, cOff, cLen) = enc match {
      case "identity" | "" => (tb, tOff, tLen)
      case "gzip" | "x-gzip" =>
        val d = inflate(() => new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(tb, tOff, tLen)), "gzip", tLen)
        (d, 0, d.length)
      case "deflate" =>
        // HTTP deflate is the zlib-wrapped stream (RFC 9110 §8.4.1.2);
        // the broken-server raw-DEFLATE variant arrives with the same
        // label and fails the zlib header check loudly — the right
        // outcome for a tape this decoder can't attribute bytes to
        val d = inflate(() => new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(tb, tOff, tLen)), "deflate", tLen)
        (d, 0, d.length)
      case other => throw new IllegalArgumentException(
        s"unsupported Content-Encoding '$other' — this decoder handles " +
          "identity, gzip and (zlib-wrapped) deflate; an undecodable tape " +
          "body is a transfer problem, not row data")
    }
    // the WHATWG prescan is specified for HTML documents only: a
    // text/plain / JSON / XML body whose first 1024 bytes happen to
    // contain a literal '<meta charset=...>' must not be relabeled
    // (round-20 advice finding) — gate on an html-ish media type, with
    // an ABSENT Content-Type staying prescan-eligible (header-less legacy
    // pages are the prescan's reason to exist)
    val htmlish = headerLines
      .collectFirst { case l if l.startsWith("content-type:") =>
        l.substring("content-type:".length).trim
          .takeWhile(c => c != ';' && c > ' ') }
      .forall(m => m == "text/html" || m == "application/xhtml+xml" ||
        m.isEmpty)
    val charset = headerCharset
      .orElse(if (htmlish) metaCharsetPrescan(cb, cOff, cLen) else None)
      .getOrElse("utf-8")
    decode(cb, cOff, cLen, charset)
  }
}

object ZlibLen {
  // one Deflater per (thread, level), reset between rows — Deflater holds
  // native zlib state, so per-row construction is an allocation + finalizer
  // on the hot path; 10 levels x executor threads is a bounded, documented
  // native footprint
  private val pools: Array[ThreadLocal[java.util.zip.Deflater]] =
    Array.tabulate(10) { l =>
      ThreadLocal.withInitial(() => new java.util.zip.Deflater(l))
    }

  /** Static call target for interpreted eval and generated code. */
  def len(s: UTF8String, level: Int): Long = {
    val in = s.getBytes
    val d = pools(level).get()
    d.reset()
    d.setInput(in)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

object UnicodeNorm {
  /** Static call target for interpreted eval and generated code. The form
    * resolves via a compile-time string switch, not per-row
    * `Form.valueOf` reflection — this sits on the hot pre-identity
    * canonicalization path. */
  def normalize(s: UTF8String, form: String): UTF8String = {
    val f = form match {
      case "NFC" => java.text.Normalizer.Form.NFC
      case "NFD" => java.text.Normalizer.Form.NFD
      case "NFKC" => java.text.Normalizer.Form.NFKC
      case _ => java.text.Normalizer.Form.NFKD
    }
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString, f))
  }
}
