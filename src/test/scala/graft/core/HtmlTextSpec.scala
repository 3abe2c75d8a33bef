package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins every scan rule of [[HtmlText.extract]] against hand-computed
  * outputs; the html_extract gate separately cross-pins the same rules
  * against the independent Python mirror on the documents fixture. */
class HtmlTextSpec extends AnyFunSuite {
  private def x(s: String) = HtmlText.extract(s)

  test("tags strip; block elements make lines; inline tags do not") {
    assert(x("<html><body><p>Hello  world</p><p>Second</p></body></html>")
      == "Hello world\nSecond")
    assert(x("<div>a</div><span>b</span><li>c</li>") == "a\nb\nc")
    assert(x("one <b>bold</b> word") == "one bold word")
  }

  test("script and style drop wholesale, including markup inside") {
    assert(x("""<p>a</p><script>if(x<3){b("</p>")}</script><p>c</p>""")
      == "a\nc")
    assert(x("""<style type="text/css">p { color: red; }</style>After""")
      == "After")
    assert(x("before<script>var x=1;") == "before",
      "unterminated script drops to end of input")
    assert(x("<P>a</P><SCRIPT>x</ScRiPt>b") == "a\nb",
      "tag names and closers are case-insensitive")
    // case folding is ASCII-ONLY: Java's Unicode fold would match the
    // Turkish İ (U+0130) against 'i' while the Python oracle's .lower()
    // expands it and never matches — both twins must treat this closer
    // as NOT a closer (script drops to end of input)
    assert(x("before<script>x</scrİpt>after") == "before",
      "a Turkish-I closer must not end the script block")
    assert(x("before<script>x</scrıpt>after") == "before",
      "dotless-i closer must not end the script block either")
  }

  test("comments drop; unterminated comment drops to end") {
    assert(x("a<!-- <p>hidden</p> -->b") == "ab")
    assert(x("a<!--b") == "a")
  }

  test("named and numeric entities decode; invalid ones stay literal") {
    assert(x("fish &amp; chips &lt;tag&gt; &quot;q&quot; &apos;a&apos;")
      == "fish & chips <tag> \"q\" 'a'")
    assert(x("x&nbsp;y") == "x y", "nbsp decodes to a PLAIN space")
    assert(x("&#65;&#x42;&#x1F600;") == "AB😀")
    assert(x("&unknown; &#; &#x; &#xD800; &#999999999; a&&b")
      == "&unknown; &#; &#x; &#xD800; &#999999999; a&&b")
    assert(x("&" + "a" * 40 + ";") == "&" + "a" * 40 + ";",
      "no ';' within 31 chars of '&' means no entity")
    assert(x("&lt;p&gt;decoded markup is text&lt;/p&gt;")
      == "<p>decoded markup is text</p>",
      "decoded '<' is never re-scanned as a tag")
  }

  test("stray '<' is literal text") {
    assert(x("1 < 2 and 2 > 1") == "1 < 2 and 2 > 1")
    assert(x("a <b unclosed") == "a <b unclosed",
      "'<'+letter with no later '>' is literal")
  }

  test("doctype and processing instructions drop without a line break") {
    assert(x("<!DOCTYPE html><?xml version=\"1.0\"?>text") == "text")
  }

  test("whitespace: source newlines/tabs are spaces; lines trim and collapse") {
    assert(x("x\n\t y") == "x y")
    assert(x("<p>&nbsp; padded &nbsp;</p>") == "padded")
    assert(x("<div> </div><div></div>") == "", "all-blank lines drop")
  }

  test("documented simplification: a '>' inside a quoted attribute ends the tag") {
    assert(x("<a title=\"x>y\">t</a>") == "y\">t")
  }

  test("title is a block: head metadata never glues onto body text") {
    assert(x("<head><title>T</title></head><body><p>b</p></body>")
      == "T\nb")
  }

  // ---- extractMain: the jusText-class length + link-density tier ----
  private def m(s: String, minChars: Int = 25, maxLinkPermille: Int = 333) =
    HtmlText.extractMain(s, minChars, maxLinkPermille)

  test("main content: link-dense nav/footer blocks drop, prose survives") {
    val page = "<div><a href=\"/\">Home</a> <a href=\"/d\">Docs</a> " +
      "<a href=\"/a\">About pages here</a></div>" +
      "<p>this paragraph is long enough to be real content of the page</p>" +
      "<footer><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms of use</a></footer>"
    assert(m(page)
      == "this paragraph is long enough to be real content of the page")
  }

  test("main content: scattered inline links inside prose do NOT drop it") {
    val page = "<p>See <a href=\"/g\">the guide</a> for background and " +
      "details about this corpus of documents</p>"
    // anchor 'theguide' = 8 counted vs total 68: well under 333 per-mille
    assert(m(page).startsWith("See the guide for background"))
  }

  test("main content: a long but ALL-link block drops by density alone") {
    val page = "<p><a href=\"/x\">this anchor text is certainly longer " +
      "than the twenty-five character floor</a></p><p>prose body line " +
      "long enough to stay in the output</p>"
    assert(m(page) == "prose body line long enough to stay in the output")
  }

  test("main content: context pass — a short heading over good prose is rescued") {
    // jusText's short-block smoothing: the <h1> fails only the length
    // floor and sits directly over a good paragraph -> kept
    assert(m("<h1>Doc 7</h1><p>a content paragraph long enough to " +
      "survive the length floor</p>")
      == "Doc 7\na content paragraph long enough to survive the length floor")
  }

  test("main content: isolated short blocks and link-dense short blocks still drop") {
    // no good neighbor on either side -> the crumb stays dropped
    assert(m("<div><a href=\"/\">Home</a> <a href=\"/d\">Docs pages</a></div>" +
      "<h2>lone crumb</h2>" +
      "<footer><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms of use</a></footer>")
      == "")
    // a short ALL-LINK line next to good prose is chrome, not a heading:
    // the rescue only applies to link-clean candidates
    assert(m("<div><a href=\"/x\">More</a></div><p>prose body long " +
      "enough to stay in the output here</p>")
      == "prose body long enough to stay in the output here")
    // no chaining: a rescued short line does not rescue its short
    // neighbor (only BASE-good lines rescue)
    assert(m("<h2>one</h2><h3>two</h3><p>a content paragraph long " +
      "enough to survive the length floor</p>")
      == "two\na content paragraph long enough to survive the length floor")
  }

  test("main content: anchor depth — nested/unbalanced </a> floors at 0") {
    // a stray closer must not push depth negative and mask a later anchor
    val page = "</a><p><a href=\"/x\">linked one two three four five six " +
      "seven eight nine ten eleven</a></p><p>unlinked prose long enough " +
      "to survive every single rule</p>"
    assert(m(page) == "unlinked prose long enough to survive every single rule")
  }

  test("main content: entity chars count; decoded &#10; is a line break") {
    // 30 counted chars arrive only via entities: line must survive
    val ent = "&#65;" * 30
    assert(m("<p>" + ent + "</p>") == "A" * 30)
    assert(m("<p>" + ("x" * 30) + "&#10;" + ("y" * 30) + "</p>")
      == ("x" * 30) + "\n" + ("y" * 30))
  }

  test("metaRobots: attribute parse rules, case folding, first-wins") {
    val r = HtmlText.metaRobots _
    assert(r("""<head><meta name="robots" content="noindex, follow"></head>""")
      == "noindex, follow")
    assert(r("""<META NAME='ROBOTS' CONTENT=' none '>""") == "none",
      "single quotes, uppercase names, trimmed content")
    assert(r("""<meta content=nofollow name=robots>x""") == "nofollow",
      "unquoted values, attribute order free")
    assert(r("""<meta name="description" content="noindex here">""") == null,
      "only the robots NAME qualifies")
    assert(r("""<meta charset="utf-8"><meta name=robots content=all>""")
      == "all", "a value-less earlier meta does not block the scan")
    assert(r("""<meta name="robots" content="a"><meta name="robots" content="b">""")
      == "a", "first robots meta wins")
    assert(r("""<meta name="robots">""") == "",
      "robots meta without content is the empty directive")
    assert(r("<p>no metas at all</p>") == null)
    assert(r("<metadata name=\"robots\" content=\"x\">") == null,
      "'<metadata' is not a meta tag (boundary char check)")
  }

  test("main content: spaces never count toward length or density") {
    // 24 counted chars padded with many spaces: still under a 25 floor
    assert(m("<p>" + ("ab " * 12) + "</p>") == "")
    assert(m("<p>" + ("ab " * 12) + "c</p>") == ("ab " * 12) + "c")
  }
}
