package graft.core

/** Deterministic HTML → text extraction (the C4/CCNet-style front-end a
  * web-crawl pipeline runs before ANY content operator), specified
  * tightly enough to be re-derived independently — the Python oracle in
  * tools/gen_oracles.py mirrors this scan rule for rule, so the gate
  * pins the EXTRACTOR, not shared code.
  *
  * One left-to-right scan:
  *
  *   - `<!--` comments drop through the next `-->` (unterminated: drop
  *     to end of input);
  *   - an opening `<script`/`<style` tag drops everything through its
  *     case-insensitive `</script`/`</style` closer's `>` and emits one
  *     line break (unterminated: drop to end);
  *   - any other `<` followed by an ASCII letter, `/`, `!` or `?` is a
  *     tag ending at the FIRST `>` (a documented simplification: a `>`
  *     inside a quoted attribute value ends the tag early; real crawl
  *     extractors at this tier accept that). The tag name is the
  *     leading `[A-Za-z0-9]*` run after the optional `/`; names in
  *     [[HtmlText.BlockTags]] emit `\n`, every other tag emits nothing.
  *     A `<` with no later `>` is literal text;
  *   - `&` starts an entity if a `;` appears within the next 31 chars
  *     and the body parses as `#` + 1..7 decimal digits, `#x`/`#X` +
  *     1..6 hex digits (valid non-surrogate scalar ≤ U+10FFFF, > 0), or
  *     one of amp/lt/gt/quot/apos/nbsp (nbsp → a PLAIN space — the
  *     downstream tokenizers split on U+0020, not U+00A0). Anything
  *     else leaves the `&` literal. Decoded `<` is text, never
  *     re-scanned;
  *   - source `\n`, `\r`, `\t` become spaces (HTML whitespace is
  *     presentation); ONLY block tags make lines.
  *
  * Then per line: runs of spaces collapse to one, edges trim (chars
  * ≤ U+0020), empty lines drop, lines join with `\n` — so the output's
  * line structure is the document's block structure, which is exactly
  * what the line-level operators (boilerplate df, Gopher line rules)
  * consume. */
object HtmlText {

  /** Tags that emit a line break — HTML's block-level elements plus
    * `title` (head metadata must not glue onto the body's first line).
    * Part of the extraction contract: mirrored verbatim in the oracle. */
  val BlockTags: Set[String] = Set(
    "address", "article", "aside", "blockquote", "br", "caption", "dd",
    "details", "dialog", "div", "dl", "dt", "fieldset", "figcaption",
    "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "hgroup", "hr", "li", "main", "nav", "ol", "p", "pre",
    "section", "summary", "table", "tbody", "td", "tfoot", "th",
    "thead", "title", "tr", "ul")

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isAsciiAlnum(c: Char): Boolean =
    isAsciiLetter(c) || (c >= '0' && c <= '9')

  /** Index of case-insensitive `needle` in `s` at or after `from`, -1 if
    * absent (needle is ASCII by construction here). */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    // ASCII-ONLY case folding, not regionMatches(true): Java's per-char
    // Unicode folding matches İ (U+0130) / ı (U+0131) against ASCII i/I,
    // but the Python oracle's .lower() expands İ to i + combining dot and
    // never matches — a '</scrİpt>' closer would end the block on one
    // side only, the exact cross-twin drift the oracle discipline
    // precludes. The needle is ASCII by construction, so folding only the
    // ASCII range is also the CORRECT reading of the HTML spec's
    // case-insensitive tag names.
    var i = math.max(from, 0)
    val last = s.length - needle.length
    while (i <= last) {
      var m = 0
      while (m < needle.length && {
        val a = s.charAt(i + m)
        val b = needle.charAt(m)
        a == b || (a < 128 && b < 128 && (a | 0x20) == (b | 0x20) &&
          isAsciiLetter(b))
      }) m += 1
      if (m == needle.length) return i
      i += 1
    }
    -1
  }

  /** Decode the entity starting at `i` (s(i) == '&'): returns the decoded
    * string and the source length consumed, or null if not an entity. */
  private def tryEntity(s: String, i: Int): (String, Int) = {
    val n = s.length
    var j = i + 1
    val lim = math.min(n, i + 32)
    while (j < lim && s.charAt(j) != ';') j += 1
    if (j >= lim || j >= n || s.charAt(j) != ';') return null
    val body = s.substring(i + 1, j)
    val len = j - i + 1
    if (body.startsWith("#x") || body.startsWith("#X")) {
      val hex = body.substring(2)
      if (hex.isEmpty || hex.length > 6 ||
        !hex.forall(c => isAsciiAlnum(c) && Character.digit(c, 16) >= 0))
        return null
      val cp = Integer.parseInt(hex, 16)
      if (cp <= 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
        return null
      (new String(Character.toChars(cp)), len)
    } else if (body.startsWith("#")) {
      val dec = body.substring(1)
      if (dec.isEmpty || dec.length > 7 || !dec.forall(c => c >= '0' && c <= '9'))
        return null
      val cp = Integer.parseInt(dec, 10)
      if (cp <= 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
        return null
      (new String(Character.toChars(cp)), len)
    } else body match {
      case "amp"  => ("&", len)
      case "lt"   => ("<", len)
      case "gt"   => (">", len)
      case "quot" => ("\"", len)
      case "apos" => ("'", len)
      case "nbsp" => (" ", len)
      case _      => null
    }
  }

  def extract(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && {
          val d = s.charAt(i + 1)
          isAsciiLetter(d) || d == '/' || d == '!' || d == '?'
        }) {
          var j = i + 1
          val closing = s.charAt(j) == '/'
          if (closing) j += 1
          var k = j
          while (k < n && isAsciiAlnum(s.charAt(k))) k += 1
          val name = s.substring(j, k).toLowerCase(java.util.Locale.ROOT)
          val gt = s.indexOf('>', i + 1)
          if (gt < 0) {
            out.append('<'); i += 1
          } else if (!closing && (name == "script" || name == "style")) {
            val endTag = indexOfIgnoreCase(s, "</" + name, gt + 1)
            i =
              if (endTag < 0) n
              else {
                val gt2 = s.indexOf('>', endTag)
                if (gt2 < 0) n else gt2 + 1
              }
            out.append('\n')
          } else {
            if (BlockTags.contains(name)) out.append('\n')
            i = gt + 1
          }
        } else {
          out.append('<'); i += 1
        }
      } else if (c == '&') {
        val e = tryEntity(s, i)
        if (e == null) { out.append('&'); i += 1 }
        else { out.append(e._1); i += e._2 }
      } else if (c == '\n' || c == '\r' || c == '\t') {
        out.append(' '); i += 1
      } else {
        out.append(c); i += 1
      }
    }
    // line pass: collapse space runs, trim (<= U+0020), drop empties
    val lines = out.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder(out.length)
    var first = true
    lines.foreach { ln =>
      val t = ln.replaceAll(" +", " ").trim
      if (t.nonEmpty) {
        if (!first) sb.append('\n')
        sb.append(t)
        first = false
      }
    }
    sb.toString
  }

  /** Robots meta directive scan — the page-level opt-out a compliant
    * crawl pipeline honors BEFORE content ever reaches curation: returns
    * the `content` attribute of the FIRST `<meta>` tag whose `name`
    * attribute is `robots` (both case-insensitive), or null when the
    * page carries none. Exact, mirrorable rules:
    *
    *   - a tag starts at case-insensitive `<meta` followed by whitespace
    *     or `/` or `>`, and ends at the first `>` (the [[extract]]
    *     simplification); the scan is RAW — a meta inside a comment or
    *     script still counts (stated tier simplification; planted
    *     fixtures control it, and a false positive only over-drops);
    *   - attributes inside the tag: name = a run of `[A-Za-z-]`,
    *     optional whitespace, then either `=` + value or no value;
    *     values are single-/double-quoted runs to the matching quote or
    *     unquoted runs to the next whitespace/`>`; attribute names fold
    *     to lowercase, FIRST occurrence of a name wins within a tag;
    *   - the returned content is trimmed but otherwise verbatim.
    *
    * [[graft.api.TextAnalysis.filterNoindex]] turns the directive into the
    * drop verdict: the content is a comma-separated token list (tokens trimmed, folded
    * lowercase); `noindex` or `none` means the page must not be kept. */
  def metaRobots(s: String): String = {
    val n = s.length
    def isMetaAt(i: Int): Boolean = {
      // direct ASCII-fold compare of the 5 chars (an indexOf-based check
      // here would rescan the tail per position: O(n²) on robots-free pages)
      var m = 0
      while (m < 5 && {
        val a = s.charAt(i + m); val b = "<meta".charAt(m)
        a == b || (a < 128 && (a | 0x20) == b && isAsciiLetter(b))
      }) m += 1
      m == 5
    }
    var i = 0
    while (i + 5 <= n) {
      if (s.charAt(i) == '<' && (i + 5 == n || {
        val c = s.charAt(i + 5)
        c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '/' || c == '>'
      }) && isMetaAt(i)) {
        val gt = s.indexOf('>', i + 5)
        val end = if (gt < 0) n else gt
        var j = i + 5
        var name: String = null
        var content: String = null
        while (j < end) {
          val c = s.charAt(j)
          if (isAsciiLetter(c) || c == '-') {
            var k = j
            while (k < end && (isAsciiLetter(s.charAt(k)) || s.charAt(k) == '-')) k += 1
            val attr = s.substring(j, k).toLowerCase(java.util.Locale.ROOT)
            var m = k
            while (m < end && s.charAt(m) <= ' ') m += 1
            var value = ""
            if (m < end && s.charAt(m) == '=') {
              m += 1
              while (m < end && s.charAt(m) <= ' ') m += 1
              if (m < end && (s.charAt(m) == '"' || s.charAt(m) == '\'')) {
                val q = s.charAt(m)
                val e = s.indexOf(q, m + 1)
                val stop = if (e < 0 || e > end) end else e
                value = s.substring(m + 1, stop)
                m = if (stop < end) stop + 1 else end
              } else {
                var e = m
                while (e < end && s.charAt(e) > ' ') e += 1
                value = s.substring(m, e)
                m = e
              }
            }
            if (attr == "name" && name == null) name = value
            if (attr == "content" && content == null) content = value
            j = m
          } else j += 1
        }
        if (name != null &&
          name.trim.toLowerCase(java.util.Locale.ROOT) == "robots")
          return if (content == null) "" else content.trim
        i = end + 1
      } else i += 1
    }
    null
  }

  /** WHATWG-prescan meta charset over a (caller-bounded) window: the
    * FIRST `<meta ...>` in document order that declares a charset via
    * one of the two forms the spec honors — a `charset` attribute, or
    * the `http-equiv=Content-Type` form's `content` attribute carrying
    * a `charset=` parameter. Returns the raw trimmed label, null when
    * no meta declares one. ONLY those two forms label a page: a
    * `charset=` inside an unrelated attribute value (a description that
    * merely MENTIONS a charset) must not relabel the document — that
    * would be silent mojibake, worse than the U+FFFD fallback. Same
    * attribute grammar as [[metaRobots]] (quoted/unquoted values,
    * case-insensitive names, first occurrence of a name wins). */
  def metaCharset(s: String): String = {
    val n = s.length
    def isMetaAt(i: Int): Boolean = {
      var m = 0
      while (m < 5 && {
        val a = s.charAt(i + m); val b = "<meta".charAt(m)
        a == b || (a < 128 && (a | 0x20) == b && isAsciiLetter(b))
      }) m += 1
      m == 5
    }
    var i = 0
    while (i + 5 <= n) {
      if (s.charAt(i) == '<' && (i + 5 == n || {
        val c = s.charAt(i + 5)
        c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '/' || c == '>'
      }) && isMetaAt(i)) {
        // quote-aware tag end: a '>' INSIDE a quoted attribute value
        // (<meta name="a>b" charset="utf-8">) must not truncate the
        // attribute scan — a missed declaration here mis-decodes the
        // whole page (round-20 advice finding; metaRobots keeps the
        // simpler scan, where the same quirk only risks a missed drop)
        var gt = -1
        var p = i + 5
        var quote: Char = 0
        while (gt < 0 && p < n) {
          val c = s.charAt(p)
          if (quote != 0) { if (c == quote) quote = 0 }
          else if (c == '"' || c == '\'') quote = c
          else if (c == '>') gt = p
          p += 1
        }
        val end = if (gt < 0) n else gt
        var j = i + 5
        var charsetAttr: String = null
        var httpEquiv: String = null
        var content: String = null
        while (j < end) {
          val c = s.charAt(j)
          if (isAsciiLetter(c) || c == '-') {
            var k = j
            while (k < end && (isAsciiLetter(s.charAt(k)) || s.charAt(k) == '-')) k += 1
            val attr = s.substring(j, k).toLowerCase(java.util.Locale.ROOT)
            var m = k
            while (m < end && s.charAt(m) <= ' ') m += 1
            var value = ""
            if (m < end && s.charAt(m) == '=') {
              m += 1
              while (m < end && s.charAt(m) <= ' ') m += 1
              if (m < end && (s.charAt(m) == '"' || s.charAt(m) == '\'')) {
                val q = s.charAt(m)
                val e = s.indexOf(q, m + 1)
                val stop = if (e < 0 || e > end) end else e
                value = s.substring(m + 1, stop)
                m = if (stop < end) stop + 1 else end
              } else {
                var e = m
                while (e < end && s.charAt(e) > ' ') e += 1
                value = s.substring(m, e)
                m = e
              }
            }
            if (attr == "charset" && charsetAttr == null) charsetAttr = value
            if (attr == "http-equiv" && httpEquiv == null) httpEquiv = value
            if (attr == "content" && content == null) content = value
            j = m
          } else j += 1
        }
        if (charsetAttr != null && charsetAttr.trim.nonEmpty)
          return charsetAttr.trim
        if (httpEquiv != null && content != null &&
          httpEquiv.trim.toLowerCase(java.util.Locale.ROOT) == "content-type") {
          val lc = content.toLowerCase(java.util.Locale.ROOT)
          val ix = lc.indexOf("charset=")
          if (ix >= 0) {
            var p = ix + "charset=".length
            if (p < content.length &&
              (content.charAt(p) == '"' || content.charAt(p) == '\'')) p += 1
            val sb = new java.lang.StringBuilder
            var q = p
            while (q < content.length && {
              val ch = content.charAt(q)
              ch != ';' && ch != '"' && ch != '\'' && ch > ' '
            }) { sb.append(content.charAt(q)); q += 1 }
            val tok = sb.toString.trim
            if (tok.nonEmpty) return tok
          }
        }
        i = end + 1
      } else i += 1
    }
    null
  }

  /** Main-content extraction — the jusText/trafilatura-class tier above
    * [[extract]]: the same scan, but each output line (block) additionally
    * carries two counters — its COUNTED characters (code units > U+0020,
    * so space handling cannot move the numbers) and how many of those were
    * emitted inside an open `<a>` anchor (`<a ...>` opens, `</a>` closes,
    * depth floored at 0; the first-`>` tag simplification applies to
    * anchors like every other tag). A line survives iff, after the same
    * collapse/trim, it is non-empty AND
    *
    *   - `total >= minChars` (boilerplate blocks — nav crumbs, copyright
    *     lines, button labels — are short), AND
    *   - `anchor * 1000 <= maxLinkPermille * total` (chrome blocks are
    *     link-dense: nav/footer/sidebar text lives inside anchors, body
    *     prose holds at most scattered inline links).
    *
    * Those are jusText's two dominant signals (Pomikálek 2011), stated as
    * exact integer rules so the Python oracle re-derives them
    * independently; the stopword-density pass of the full algorithm is
    * deliberately out of this tier (the corpus fixtures are synthetic
    * word salad where a stopword prior is meaningless — and a
    * length+link-density tier is already the step the round-18 extractor
    * lacked: it keeps prose paragraphs, including ones with scattered
    * inline links, while dropping chrome that line-frequency boilerplate
    * removal only catches when it repeats across docs).
    *
    * Context pass (jusText's short-block smoothing, one bounded rule): a
    * non-empty line that fails ONLY the length floor — it passes the
    * link-density rule — is RESCUED iff its previous or next non-empty
    * line is good under the base rules. That keeps the `<h1>` over an
    * article body (the classic heading-loss cost of a pure length
    * floor) while still dropping isolated short chrome (button labels,
    * crumbs between link-dense blocks): their neighbors are chrome too.
    * Rescue checks BASE-good neighbors only — a rescued line never
    * rescues another, so the pass cannot cascade down a stack of short
    * lines and its verdict is order-independent. Link-dense short lines
    * are never rescued.
    *
    * Decoded entity characters count like literal ones; a decoded `&#10;`
    * is a line break exactly as in [[extract]]. */
  def extractMain(s: String, minChars: Int, maxLinkPermille: Int): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    val totals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val anchors = scala.collection.mutable.ArrayBuffer.empty[Int]
    var curTotal = 0
    var curAnchor = 0
    var anchorDepth = 0
    def emit(c: Char): Unit = {
      if (c == '\n') {
        out.append('\n'); totals += curTotal; anchors += curAnchor
        curTotal = 0; curAnchor = 0
      } else {
        out.append(c)
        if (c > ' ') {
          curTotal += 1
          if (anchorDepth > 0) curAnchor += 1
        }
      }
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && {
          val d = s.charAt(i + 1)
          isAsciiLetter(d) || d == '/' || d == '!' || d == '?'
        }) {
          var j = i + 1
          val closing = s.charAt(j) == '/'
          if (closing) j += 1
          var k = j
          while (k < n && isAsciiAlnum(s.charAt(k))) k += 1
          val name = s.substring(j, k).toLowerCase(java.util.Locale.ROOT)
          val gt = s.indexOf('>', i + 1)
          if (gt < 0) {
            emit('<'); i += 1
          } else if (!closing && (name == "script" || name == "style")) {
            val endTag = indexOfIgnoreCase(s, "</" + name, gt + 1)
            i =
              if (endTag < 0) n
              else {
                val gt2 = s.indexOf('>', endTag)
                if (gt2 < 0) n else gt2 + 1
              }
            emit('\n')
          } else {
            if (name == "a") {
              if (closing) { if (anchorDepth > 0) anchorDepth -= 1 }
              else anchorDepth += 1
            }
            if (BlockTags.contains(name)) emit('\n')
            i = gt + 1
          }
        } else {
          emit('<'); i += 1
        }
      } else if (c == '&') {
        val e = tryEntity(s, i)
        if (e == null) { emit('&'); i += 1 }
        else { e._1.foreach(emit); i += e._2 }
      } else if (c == '\n' || c == '\r' || c == '\t') {
        emit(' '); i += 1
      } else {
        emit(c); i += 1
      }
    }
    totals += curTotal; anchors += curAnchor
    val lines = out.toString.split("\n", -1)
    val trimmed = new Array[String](lines.length)
    val good = new Array[Boolean](lines.length)
    val cand = new Array[Boolean](lines.length)
    var li = 0
    while (li < lines.length) {
      val t = lines(li).replaceAll(" +", " ").trim
      trimmed(li) = t
      if (t.nonEmpty && anchors(li).toLong * 1000L <=
          maxLinkPermille.toLong * totals(li).toLong) {
        if (totals(li) >= minChars) good(li) = true
        else cand(li) = true // short but link-clean: rescue candidate
      }
      li += 1
    }
    // context pass over the NON-EMPTY line sequence: a candidate keeps
    // iff a base-good line sits directly before or after it (no
    // chaining — see the scaladoc)
    val nonEmpty = new Array[Int](lines.length)
    var ne = 0
    li = 0
    while (li < lines.length) {
      if (trimmed(li).nonEmpty) { nonEmpty(ne) = li; ne += 1 }
      li += 1
    }
    val sb = new java.lang.StringBuilder(out.length)
    var first = true
    var q = 0
    while (q < ne) {
      val idx = nonEmpty(q)
      val keep = good(idx) || (cand(idx) &&
        ((q > 0 && good(nonEmpty(q - 1))) ||
          (q + 1 < ne && good(nonEmpty(q + 1)))))
      if (keep) {
        if (!first) sb.append('\n')
        sb.append(trimmed(idx))
        first = false
      }
      q += 1
    }
    sb.toString
  }
}
