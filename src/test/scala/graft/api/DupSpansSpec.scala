package graft.api

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Dedup.dupSpans]] / [[Dedup.cutDupSpans]] semantics on crafted
  * corpora: the cross-doc-only rule, the island-merge adjacency boundary,
  * the sub-width short-doc guard, and the destructive cut (including a
  * fully-cut document surviving as an empty string). The driver gates
  * (`dup_span_detect`, `dup_span_cut`) cover the fixture-scale DuckDB
  * re-derivation; this spec covers the boundaries the fixture may not hit.
  */
class DupSpansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // letters only — digits are token separators under the [^a-z]+ tokenizer
  private def toks(n: Int, tag: String): String =
    (0 until n).map(i => s"$tag${('a' + i).toChar}").mkString(" ")

  private def spans(df: org.apache.spark.sql.DataFrame) =
    Dedup.dupSpans(df, "doc_id", "text", width = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("shared window flags the exact span in both docs, unique text does not") {
    import spark.implicits._
    val shared = "alpha beta gamma delta"
    // doc 1: 3 unique + shared + 3 unique; doc 2: shared at position 0
    val df = Seq(
      (1L, s"${toks(3, "u")} $shared ${toks(3, "v")}"),
      (2L, s"$shared ${toks(5, "w")}"),
      (3L, toks(12, "z")))
      .toDF("doc_id", "text")
    // only the 4-token shared window duplicates across docs
    assert(spans(df).toSeq == Seq((1L, 3L, 6L, 4L), (2L, 0L, 3L, 4L)))
  }

  test("overlapping and contiguous flagged windows merge; a 1-token gap splits") {
    import spark.implicits._
    // doc 1 and 2 share two windows: positions 0-3 and 5-8 of doc 1 — one
    // unflagged token (4) between them → two spans (gap = end+2 case).
    // doc 3/4 share positions 0-3 and 4-7 — contiguous coverage (end+1
    // case) → ONE merged span 0-7.
    val a = "alpha beta gamma delta"
    val b = "eps zeta eta theta"
    val df = Seq(
      (1L, s"$a gapone $b"),
      (2L, s"$a gaptwo $b xx"),
      (3L, s"$a $b"),
      (4L, s"$a $b yy"))
      .toDF("doc_id", "text")
    val got = spans(df)
    assert(got.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 3L, 4L), (1L, 5L, 8L, 4L)))
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 7L, 8L)))
  }

  test("a gram repeated within ONE doc only is not a cross-doc duplicate") {
    import spark.implicits._
    val rep = "alpha beta gamma delta"
    val df = Seq(
      (1L, s"$rep ${toks(3, "u")} $rep"),
      (2L, toks(12, "z")))
      .toDF("doc_id", "text")
    assert(spans(df).isEmpty)
  }

  test("docs shorter than width emit no windows and cannot flag") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    assert(spans(df).isEmpty)
    // but at width 3 the same pair is one full-doc span each
    val got3 = Dedup.dupSpans(df.toDF("doc_id", "text"), "doc_id", "text", width = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got3.toSeq == Seq((1L, 0L, 2L), (2L, 0L, 2L)))
  }

  test("randomized corpora match an in-memory brute-force reference") {
    import spark.implicits._
    // small vocab forces heavy accidental window sharing; 30 corpora of
    // 6-10 docs each, widths 3..5 — exercises island merging shapes the
    // crafted cases can't enumerate
    val vocab = Vector("ka", "kb", "kc", "kd", "ke", "kf")
    val rng = new scala.util.Random(41)

    def bruteSpans(docs: Seq[(Long, String)], w: Int): Seq[(Long, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector
      }.toMap
      val grams = toks.toSeq.flatMap { case (id, ts) =>
        ts.sliding(w).zipWithIndex.collect {
          case (win, i) if win.length == w => (win.mkString(" "), id, i)
        }
      }
      val dupG = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val flagged = grams.filter(g => dupG(g._1))
        .groupBy(_._2).view.mapValues(_.map(_._3).distinct.sorted)
      flagged.toSeq.flatMap { case (id, starts) =>
        // merge [s, s+w-1] intervals that overlap or touch
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        for (s <- starts) {
          val (a, b) = (s.toLong, (s + w - 1).toLong)
          if (spans.nonEmpty && a <= spans.last._2 + 1)
            spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, b))
          else spans += ((a, b))
        }
        spans.map { case (a, b) => (id, a, b) }
      }.sorted
    }

    for (trial <- 0 until 30) {
      val w = 3 + trial % 3
      val docs = (0 until (6 + rng.nextInt(5))).map { d =>
        val n = 4 + rng.nextInt(14)
        (d.toLong, (0 until n).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val got = Dedup.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .select("doc_id", "span_start", "span_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = bruteSpans(docs, w)
      assert(got == want, s"trial $trial w=$w docs=$docs")
    }
  }

  test("randomized corpora: within-doc rule matches a brute-force reference") {
    import spark.implicits._
    // same property harness under Lee et al.'s full rule: a gram flags
    // when it occurs >= 2 times ANYWHERE (tiny vocab -> rampant intra-doc
    // repeats, the shapes the crafted cases can't enumerate)
    val vocab = Vector("ka", "kb", "kc", "kd")
    val rng = new scala.util.Random(43)

    def bruteWithin(docs: Seq[(Long, String)], w: Int): Seq[(Long, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector
      }.toMap
      val grams = toks.toSeq.flatMap { case (id, ts) =>
        ts.sliding(w).zipWithIndex.collect {
          case (win, i) if win.length == w => (win.mkString(" "), id, i)
        }
      }
      val dupG = grams.groupBy(_._1).filter(_._2.size >= 2).keySet
      val flagged = grams.filter(g => dupG(g._1))
        .groupBy(_._2).view.mapValues(_.map(_._3).distinct.sorted)
      flagged.toSeq.flatMap { case (id, starts) =>
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        for (s <- starts) {
          val (a, b) = (s.toLong, (s + w - 1).toLong)
          if (spans.nonEmpty && a <= spans.last._2 + 1)
            spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, b))
          else spans += ((a, b))
        }
        spans.map { case (a, b) => (id, a, b) }
      }.sorted
    }

    for (trial <- 0 until 20) {
      val w = 3 + trial % 3
      val docs = (0 until (4 + rng.nextInt(4))).map { d =>
        val n = 4 + rng.nextInt(16)
        (d.toLong, (0 until n).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val got = Dedup.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", w,
          crossDocOnly = false)
        .select("doc_id", "span_start", "span_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = bruteWithin(docs, w)
      assert(got == want, s"trial $trial w=$w docs=$docs")
    }
  }

  test("dupSpanStats ties out: cut removes exactly dup_tokens per group") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, filter => afilter, length, lit, lower, size, split, sum}
    val shared = "alpha beta gamma delta"
    val df = Seq(
      (1L, s"${toks(3, "u")} $shared ${toks(3, "v")}", "s0"),
      (2L, s"$shared ${toks(5, "w")}", "s0"),
      (3L, toks(12, "z"), "s1"))
      .toDF("doc_id", "text", "source")
    val stats = Dedup.dupSpanStats(df, "doc_id", "text", "source", width = 4)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // s0: 10+9=19 tokens, both docs carry the 4-token span (8 dup tokens);
    // s1: 12 tokens, no dup docs
    assert(stats.toSeq == Seq(("s0", 2L, 2L, 19L, 8L), ("s1", 1L, 0L, 12L, 0L)))
    // conservation: tokens surviving the cut == tokens - dup_tokens
    val cut = Dedup.cutDupSpans(df, "doc_id", "text", width = 4)
    val survivors = cut
      .select(size(afilter(split(lower(col("text")), "[^a-z]+"),
        t => length(t) > lit(0))).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(survivors == (19L + 12L) - 8L)
  }

  test("cutDupSpans removes exactly the flagged tokens; full cut leaves empty text") {
    import spark.implicits._
    val shared = "alpha beta gamma delta"
    val df = Seq(
      (1L, s"KEEPA Keepb $shared keepc"),   // mixed case: output is canonical lowercase
      (2L, shared),                          // fully cut -> ""
      (3L, toks(6, "z")))                    // untouched, just normalized
      .toDF("doc_id", "text")
    val got = Dedup.cutDupSpans(df, "doc_id", "text", width = 4)
      .orderBy("doc_id").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      (1L, "keepa keepb keepc"),
      (2L, ""),
      (3L, toks(6, "z"))))
  }

  test("crossDocOnly=false flags intra-doc repeats the cross-doc rule skips") {
    import spark.implicits._
    val para = "alpha beta gamma delta"
    // doc 1 repeats its own 4-token paragraph; no other doc shares it
    val df = Seq(
      (1L, s"$para ${toks(3, "u")} $para"),
      (2L, toks(12, "z")))
      .toDF("doc_id", "text")
    // cross-doc: nothing (the repeat lives in ONE doc)
    assert(spans(df).isEmpty)
    // Lee-et-al rule: both occurrences flag, islands stay separate
    val within = Dedup.dupSpans(df, "doc_id", "text", width = 4,
        crossDocOnly = false)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(within.toSeq == Seq((1L, 0L, 3L, 4L), (1L, 7L, 10L, 4L)))
    // cross-doc duplicates still flag under the within rule (count >= 2
    // subsumes min != max)
    val df2 = Seq((1L, s"$para x"), (2L, s"$para y")).toDF("doc_id", "text")
    val w2 = Dedup.dupSpans(df2, "doc_id", "text", width = 4, crossDocOnly = false)
      .collect().map(_.getLong(0)).sorted
    assert(w2.toSeq == Seq(1L, 2L))
    // the cut composes: repeats excised from the single doc
    val cut = Dedup.cutSpans(df, Dedup.dupSpans(df, "doc_id", "text", width = 4,
        crossDocOnly = false), "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(cut.toSeq == Seq((1L, toks(3, "u")), (2L, toks(12, "z"))))
  }

  test("null text: dupSpans skips, cutDupSpans coalesces to empty string") {
    import spark.implicits._
    val shared = "alpha beta gamma delta"
    val df = Seq((1L, s"$shared x"), (2L, shared), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(spans(df).forall(_._1 != 3L))
    val got = Dedup.cutDupSpans(df, "doc_id", "text", width = 4)
      .orderBy("doc_id").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // null-text doc matches the fully-cut convention (and the DuckDB
    // oracle's coalesce) — '' not NULL
    assert(got.toSeq == Seq((1L, "x"), (2L, ""), (3L, "")))
  }

  test("unicodeWords tokenizer: digits, accents and per-char CJK are tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "H\u00e9llo World 42 na\u00efve \u6570\u636e\u53bb\u91cd 123 caf\u00e9-test"))
      .toDF("doc_id", "text")
    val toks = df.select(Tokenizers.unicodeWords(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(toks == Seq("h\u00e9llo", "world", "42", "na\u00efve",
      "\u6570", "\u636e", "\u53bb", "\u91cd", "123", "caf\u00e9", "test"))
    // the ASCII tokenizer is blind to all of the above except pure runs
    val ascii = df.select(Tokenizers.asciiWords(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(ascii == Seq("h", "llo", "world", "na", "ve", "caf", "test"))
  }

  test("dupSpans through the unicode tokenizer finds spans ASCII mode cannot") {
    import spark.implicits._
    // shared window is all digits+CJK — zero tokens under asciiWords
    val shared = "1 2 3 4 \u6570\u636e\u53bb\u91cd" // 8 tokens under unicodeWords
    val df = Seq(
      (1L, s"alpha beta $shared"),
      (2L, s"$shared gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val uni = Dedup.dupSpans(df, "doc_id", "text", width = 8,
        tokenize = Tokenizers.unicodeWords)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(uni.toSeq == Seq((1L, 2L, 9L), (2L, 0L, 7L)))
    assert(spans(df).isEmpty) // ASCII tokenizer: the span is invisible
  }

  test("unicodeWordsNFC: NFD and NFC spellings tokenize identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // same word: doc 1 decomposed (e+U+0301), doc 2 precomposed (U+00E9)
    val df = Seq((1L, "cafe\u0301 au lait"), (2L, "caf\u00e9 au lait"))
      .toDF("doc_id", "text")
    val plain = df.select(Tokenizers.unicodeWords(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(plain(0) != plain(1), "without NFC the spellings must differ")
    val nfc = df.select(Tokenizers.unicodeWordsNFC(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(nfc(0) == nfc(1), s"NFC tokenizer must unify spellings: ${nfc.toSeq}")
    assert(nfc(0) == Seq("caf\u00e9", "au", "lait"))
    // and the span miner then SEES the cross-doc duplicate that mixed
    // normalization forms would otherwise hide
    val docs = Seq(
      (1L, "cafe\u0301 au lait tre\u0300s bon ce matin la\u0300"),
      (2L, "caf\u00e9 au lait tr\u00e8s bon ce matin l\u00e0"))
      .toDF("doc_id", "text")
    assert(Dedup.dupSpans(docs, "doc_id", "text", width = 8,
      tokenize = Tokenizers.unicodeWords).collect().isEmpty)
    val found = Dedup.dupSpans(docs, "doc_id", "text", width = 8,
      tokenize = Tokenizers.unicodeWordsNFC).collect()
    assert(found.length == 2, s"both docs must carry the span: ${found.toSeq}")
  }

  test("bpe tokenizer plugs into the seam; size(bpe_tokens) == bpe_count") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size => asize}
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"))
    val df = Seq((1L, "the thin hand and then"), (2L, "then the hand and thin"))
      .toDF("doc_id", "text")
    val cnts = df.select(
      asize(graft.functions.bpe_tokens(col("text"), merges)).cast("long").as("a"),
      graft.functions.bpe_count(col("text"), merges).as("b")).collect()
    assert(cnts.forall(r => r.getLong(0) == r.getLong(1)))
    // spans over BPE token identity: both docs share >= width consecutive
    // BPE tokens somewhere iff the merged streams share a window
    val got = Dedup.dupSpans(df, "doc_id", "text", width = 2,
        tokenize = Tokenizers.bpe(merges))
      .collect()
    assert(got.nonEmpty)
  }

  test("kana/Hangul/Thai runs segment per character; the Han-only class provably missed them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, filter => afilter, lit, lower, regexp_replace, split}
    // 8-char hiragana+katakana run and a Thai run, shared by two docs with
    // otherwise-unique text — no space boundaries anywhere in the runs
    val kana = "\u3072\u3089\u304c\u306a\u30ab\u30bf\u30ab\u30ca" // \u3072\u3089\u304c\u306a\u30ab\u30bf\u30ab\u30ca
    val thai = "\u0e44\u0e17\u0e22\u0e02\u0e2d\u0e04\u0e27\u0e32" // \u0e44\u0e17\u0e22\u0e02\u0e2d\u0e04\u0e27\u0e32\u0e21-ish, 8 base chars
    val df = Seq(
      (1L, s"${toks(4, "u")} $kana$thai"),
      (2L, s"$kana$thai ${toks(5, "w")}"))
      .toDF("doc_id", "text")
    // the shipped tokenizer: every kana/Thai char is its own token
    val tokens = df.select(Tokenizers.unicodeWords(col("text")).as("t"))
      .limit(1).collect()(0).getSeq[String](0)
    assert(tokens.containsSlice(kana.map(_.toString)) &&
      tokens.containsSlice(thai.map(_.toString)),
      s"kana/Thai must segment per character, got $tokens")
    val got = Dedup.dupSpans(df, "doc_id", "text", width = 8,
        tokenize = Tokenizers.unicodeWords)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 16 shared single-char tokens -> one 16-token span in each doc
    assert(got.toSeq == Seq((1L, 4L, 19L, 16L), (2L, 0L, 15L, 16L)))
    // the round-11 Han-only class: each run is ONE giant token, width-8
    // grams never form across the pair's differing context -> zero spans
    val hanOnly: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => afilter(split(regexp_replace(lower(c), "(\\p{IsHan})", " $1 "),
        "[^\\p{L}\\p{N}]+"), t => t =!= lit(""))
    assert(Dedup.dupSpans(df, "doc_id", "text", width = 8,
      tokenize = hanOnly).collect().isEmpty,
      "the Han-only tokenizer must provably find no span here")
  }

  test("NFD-vs-NFC spellings: only the NFC-canonicalizing tokenizer sees the cross-doc span") {
    import spark.implicits._
    // the same eight accented words, decomposed (NFD) vs precomposed
    // (NFC) — identical on screen, different code-point streams
    val nfd = "cafe\u0301 re\u0301sume\u0301 nai\u0308ve de\u0301ja\u0300 " +
      "sen\u0303or jalapen\u0303o cre\u0300me bru\u0302le\u0301e"
    val nfc = "caf\u00e9 r\u00e9sum\u00e9 na\u00efve d\u00e9j\u00e0 " +
      "se\u00f1or jalape\u00f1o cr\u00e8me br\u00fbl\u00e9e"
    val df = Seq((1L, nfd), (2L, nfc)).toDF("doc_id", "text")
    val plain = Dedup.dupSpans(df, "doc_id", "text", width = 8,
      tokenize = Tokenizers.unicodeWords).collect()
    assert(plain.isEmpty,
      "without canonicalization the spellings must not gram-match")
    val norm = Dedup.dupSpans(df, "doc_id", "text", width = 8,
        tokenize = Tokenizers.unicodeWordsNFC)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(norm.toSeq == Seq((1L, 0L, 7L, 8L), (2L, 0L, 7L, 8L)))
  }

  test("dropBoilerplateLines: frequency-flagged lines drop everywhere, the rest survives verbatim") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter"
    val df = Seq(
      (1L, s"$boiler\nunique alpha content\nmore unique text"),
      (2L, s"intro line two\n$boiler\noutro line two"),
      (3L, s"$boiler\nlast doc body"),
      (4L, "never boilered\nat all"),
      (5L, boiler)) // the whole doc is boilerplate -> empty string
      .toDF("doc_id", "text")
    val got = Dedup.dropBoilerplateLines(df, "doc_id", "text", minDocs = 3L)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(got(0) == "unique alpha content\nmore unique text")
    assert(got(1) == "intro line two\noutro line two")
    assert(got(2) == "last doc body")
    assert(got(3) == "never boilered\nat all", "untouched docs pass through verbatim")
    assert(got(4) == "")
    // below threshold nothing drops: the line sits in 4 docs, minDocs = 5
    val loose = Dedup.dropBoilerplateLines(df, "doc_id", "text", minDocs = 5L)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(loose(0).startsWith(boiler), "under-threshold lines must survive")
    // frequency counts DISTINCT docs: a line repeated 3x inside ONE doc
    // does not flag at minDocs = 3
    val intra = Seq((1L, s"$boiler\n$boiler\n$boiler"), (2L, "other"))
      .toDF("doc_id", "text")
    val keptIntra = Dedup.dropBoilerplateLines(intra, "doc_id", "text", minDocs = 3L)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .select("text").as[String].collect()(0)
    assert(keptIntra == s"$boiler\n$boiler\n$boiler")
  }

  test("materialized-span overloads match the re-mining signatures") {
    import spark.implicits._
    val shared = "alpha beta gamma delta eps zeta eta theta"
    val df = Seq(
      (1L, s"${toks(3, "u")} $shared ${toks(3, "v")}", "a"),
      (2L, s"$shared ${toks(5, "w")}", "a"),
      (3L, toks(12, "z"), "b"))
      .toDF("doc_id", "text", "source")
    val spansDf = Dedup.dupSpans(df, "doc_id", "text", width = 4)
    val statsVia = Dedup.spanStats(df, spansDf, "doc_id", "text", "source")
      .orderBy("source").collect().toSeq
    val statsDirect = Dedup.dupSpanStats(df, "doc_id", "text", "source", width = 4)
      .orderBy("source").collect().toSeq
    assert(statsVia == statsDirect)
    val cutVia = Dedup.cutSpans(df, spansDf, "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "text", "source").collect().toSeq
    val cutDirect = Dedup.cutDupSpans(df, "doc_id", "text", width = 4)
      .orderBy("doc_id").select("doc_id", "text", "source").collect().toSeq
    assert(cutVia == cutDirect)
  }

  test("persisted spans: the composed stats+cut pipeline mines grams once") {
    import spark.implicits._
    val shared = "alpha beta gamma delta"
    val df = Seq(
      (1L, s"${toks(3, "u")} $shared", "a"),
      (2L, s"$shared ${toks(4, "w")}", "a"))
      .toDF("doc_id", "text", "source")
    val spansDf = Dedup.dupSpans(df, "doc_id", "text", width = 4).persist()
    try {
      spansDf.count() // materialize — downstream plans read the cache
      // gram mining's signature is the xxhash64-over-token-windows
      // generate; a cached-span consumer must read an InMemoryTableScan
      // and run NO gram explode of its own (the one-mining-pass
      // contract). Walked structurally, STOPPING at the cache boundary —
      // InMemoryRelation's printed description embeds the original mining
      // plan, so a string search would false-positive on it.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def liveNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case c: InMemoryTableScanExec => Seq(c) // don't descend into the cache
        case a: AdaptiveSparkPlanExec => liveNodes(a.executedPlan)
        case s: QueryStageExec => liveNodes(s.plan)
        case _ => p +: p.children.flatMap(liveNodes)
      }
      for (consumer <- Seq(
          Dedup.cutSpans(df, spansDf, "doc_id", "text"),
          Dedup.spanStats(df, spansDf, "doc_id", "text", "source"))) {
        consumer.collect()
        val nodes = liveNodes(consumer.queryExecution.executedPlan)
        assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"consumer should read the persisted spans:\n${consumer.queryExecution.executedPlan}")
        assert(!nodes.exists(n => n.nodeName.contains("Generate") &&
            n.expressions.exists(_.toString.contains("xxhash64"))),
          s"consumer must not re-mine grams:\n${consumer.queryExecution.executedPlan}")
      }
    } finally spansDf.unpersist()
  }

  test("cutDupSpansExact: layout survives outside spans; unflagged docs round-trip bit-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val shared = "alpha beta gamma delta"
    // layout-rich text: punctuation, digits, doubled spaces, casing — all
    // destroyed by the canonical cut, all preserved by the exact cut
    val doc1 = s"Head-1:  $shared, tail (42)!"
    val doc2 = s"$shared #2\tkeepéd"
    val clean = "No duplicates HERE: 100% original,\ttabs\nand newlines."
    val df = Seq((1L, doc1), (2L, doc2), (3L, clean)).toDF("doc_id", "text")
    val got = Dedup.cutDupSpansExact(df, "doc_id", "text", width = 4)
      .orderBy("doc_id").select("text").as[String].collect()
    // spans: tokens 1..4 in doc 1 ("alpha beta gamma delta" — "Head" is
    // token 0); tokens 0..3 in doc 2. The span's char range goes, its
    // FLANKING separators stay.
    assert(got(0) == "Head-1:  , tail (42)!", s"doc1: ${got(0)}")
    assert(got(1) == " #2\tkeepéd", s"doc2: ${got(1)}")
    assert(got(2) == clean, "unflagged doc must round-trip bit-identical")
    // control: the canonical cut normalizes everything (digits/punct are
    // separators, casing lost) — the difference this variant exists for
    val canonical = Dedup.cutDupSpans(df, "doc_id", "text", width = 4)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(canonical(2) != clean && canonical(2) == "no duplicates here original tabs and newlines")
  }

  test("Khmer/Lao/Myanmar/Tibetan segment per character; the round-12 class provably missed them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, filter => afilter, lit, lower, regexp_replace, split}
    // two 4-char Khmer+Lao runs and a Myanmar+Tibetan pair, shared by two
    // docs with otherwise-unique text. Dependent marks ride along: coeng
    // U+17D2 and vowel sign U+17C2 (Khmer), asat U+103A + vowel U+102C
    // (Myanmar), vowel U+0F7C (Tibetan) — all Mn/Mc, dropped by the split
    // in BOTH engines; Lao U+0EB2 is Lo and survives as its own token.
    val kmLao = "ខ្មែរពន" + // khmer base chars x5
      "ລາວ"                                    // lao x3 (incl Lo vowel)
    val myTib = "မြန်မာ" +      // myanmar base x3
      "བོད"                                    // tibetan base x2
    val df = Seq(
      (1L, s"${toks(4, "u")} $kmLao$myTib"),
      (2L, s"$kmLao$myTib ${toks(5, "w")}"))
      .toDF("doc_id", "text")
    val tokens = df.select(Tokenizers.unicodeWords(col("text")).as("t"))
      .limit(1).collect()(0).getSeq[String](0)
    // 5 khmer + 3 lao + 3 myanmar + 2 tibetan = 13 single-char tokens
    val expected = Seq("ខ", "ម", "រ", "ព", "ន",
      "ລ", "າ", "ວ", "မ", "န", "မ",
      "བ", "ད")
    assert(tokens.containsSlice(expected),
      s"SE-Asian scripts must segment per base character, got $tokens")
    val got = Dedup.dupSpans(df, "doc_id", "text", width = 8,
        tokenize = Tokenizers.unicodeWords)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 13 shared single-char tokens -> one 13-token span in each doc
    assert(got.toSeq == Seq((1L, 4L, 16L, 13L), (2L, 0L, 12L, 13L)))
    // the round-12 class (no SE-Asian scripts): each run is ONE giant
    // token, width-8 grams never form across the differing context
    val round12: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => afilter(split(regexp_replace(lower(c),
        "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}\\p{IsThai}])", " $1 "),
        "[^\\p{L}\\p{N}]+"), t => t =!= lit(""))
    assert(Dedup.dupSpans(df, "doc_id", "text", width = 8,
      tokenize = round12).collect().isEmpty,
      "the round-12 tokenizer must provably find no span here")
  }

  test("gram index: build + rolling appends equal the batch re-mine over the union") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def spansOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.dupSpans(df, "doc_id", "text", width = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val table = "graft_gramidx_spec"
    // build on part 0, admit parts 1 and 2 as two rolling batches
    Dedup.saveGramIndex(docs.filter(col("doc_id") % 3 === 0), table, 4,
      "doc_id", "text", width = 8)
    // after the build alone, the index must equal the batch answer on part 0
    assert(Dedup.dupSpansFromIndex(spark, table).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      == spansOf(docs.filter(col("doc_id") % 3 === 0)), "build-only spans diverge")
    Dedup.appendToGramIndex(docs.filter(col("doc_id") % 3 === 1), table,
      "doc_id", "text", width = 8)
    assert(Dedup.dupSpansFromIndex(spark, table).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      == spansOf(docs.filter(col("doc_id") % 3 < 2)), "first-append spans diverge")
    Dedup.appendToGramIndex(docs.filter(col("doc_id") % 3 === 2), table,
      "doc_id", "text", width = 8)
    val rolled = Dedup.dupSpansFromIndex(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rolled == spansOf(docs), "second-append spans diverge")
    assert(rolled.nonEmpty, "fixture is vacuous: no duplicate spans")
  }

  test("gram index compact: deletes rewrite triples AND re-derive flags (un-partnered spans vanish)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"${toks(5, "u")} $shared"),  // partner A of `shared`
      (2L, s"$shared ${toks(4, "v")}"),  // partner B — the one we delete
      (3L, s"$other ${toks(6, "w")}"),   // partner A of `other`
      (4L, s"${toks(3, "x")} $other"))   // partner B — survives
      .toDF("doc_id", "text")
    val table = "graft_gramidx_spec_compact"
    Dedup.saveGramIndex(df, table, 2, "doc_id", "text", width = 8)
    assert(Dedup.dupSpansFromIndex(spark, table)
      .select("doc_id").distinct().count() == 4)
    Dedup.compactGramIndex(spark, table, Seq(2L).toDF("doc_id"), width = 8)
    // doc 2 gone; doc 1's span must VANISH (its only partner was deleted)
    // — a flag-filtering compaction would wrongly keep it; 3/4 unaffected
    val got = Dedup.dupSpansFromIndex(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((3L, 0L, 7L), (4L, 3L, 10L)), s"got $got")
    // the index equals the batch answer over the survivors, and stays
    // appendable: re-admitting the deleted content re-flags doc 1
    val survivors = df.filter(col("doc_id") =!= 2L)
    assert(got == Dedup.dupSpans(survivors, "doc_id", "text", width = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    Dedup.appendToGramIndex(Seq((10L, shared)).toDF("doc_id", "text"),
      table, "doc_id", "text", width = 8)
    val re = Dedup.dupSpansFromIndex(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(re == Set((1L, 5L, 12L), (3L, 0L, 7L), (4L, 3L, 10L), (10L, 0L, 7L)),
      s"post-compact append diverged: $re")
    // a leftover scratch refuses the next compaction
    val scratch = s"${table}_compact_tmp"
    spark.range(1).selectExpr("0L as gh", "id as doc_id", "0L as pos")
      .write.format("parquet").saveAsTable(scratch)
    val e = intercept[IllegalArgumentException] {
      Dedup.compactGramIndex(spark, table, Seq(3L).toDF("doc_id"), width = 8)
    }
    assert(e.getMessage.contains("interrupted"))
    spark.sql(s"DROP TABLE $scratch")

    // commit point "live dropped, only the scratch survives", built with
    // the shared stage/swap calls in the compaction's own order (stage
    // triples, re-derive flags from the scratch, swap): the refusal names
    // the rename, and running it gives exactly the uncrashed result — a
    // twin index over the same docs, compacted without a crash
    val twin = "graft_gramidx_spec_compact_twin"
    Dedup.saveGramIndex(survivors.unionByName(Seq((10L, shared)).toDF("doc_id", "text")),
      twin, 2, "doc_id", "text", width = 8)
    Dedup.compactGramIndex(spark, twin, Seq(3L).toDF("doc_id"), width = 8)
    try {
      BucketedWrite.stage(spark, table)(
        _.filter(col("doc_id") =!= 3L).select("gh", "doc_id", "pos"))
      BucketedWrite.dropTable(spark, s"${table}_flags")
      Dedup.flagGrams(spark.table(scratch), 8, crossDocOnly = true)
        .write.format("parquet").saveAsTable(s"${table}_flags")
      BucketedWrite.dropTable(spark, table)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.compactGramIndex(spark, table, Seq(3L).toDF("doc_id"), width = 8)
      }
      val rename = s"ALTER TABLE $scratch RENAME TO $table"
      assert(e2.getMessage.contains(rename), e2.getMessage)
      spark.sql(rename)
    } finally BucketedWrite.dropTable(spark, scratch)
    def index(t: String) = Seq(t, s"${t}_flags").map(spark.table(_)
      .collect().map(_.toString).sorted.toSeq) :+
      BucketedWrite.bucketSpec(spark, t)
    assert(index(table) == index(twin),
      "the named rename did not give the uncrashed compaction")
  }

  test("gram index append: a batch gram resurfacing an OLD doc's window flags the old doc") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df1 = Seq(
      (1L, s"${toks(5, "u")} $shared"),   // old doc carrying the passage once
      (2L, toks(12, "v")))                 // old clean doc
      .toDF("doc_id", "text")
    val table = "graft_gramidx_spec_old"
    Dedup.saveGramIndex(df1, table, 2, "doc_id", "text", width = 8)
    assert(Dedup.dupSpansFromIndex(spark, table).count() == 0,
      "nothing duplicates at build time")
    // the batch re-introduces the passage: BOTH the old doc (positions
    // 5..12) and the batch doc (positions 0..7) must flag
    Dedup.appendToGramIndex(Seq((10L, s"$shared ${toks(4, "w")}"))
        .toDF("doc_id", "text"), table, "doc_id", "text", width = 8)
    val got = Dedup.dupSpansFromIndex(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 5L, 12L), (10L, 0L, 7L)), s"got $got")
  }

  test("hotGrams + excludeGrams: a mega-gram is pre-trimmed, other spans unaffected") {
    import spark.implicits._
    val shared = "alpha beta gamma delta"       // the genuine cross-doc dup
    val boiler = "all rights reserved tonight"  // planted in EVERY doc
    val df = (1L to 40L).map { i =>
      // letters only — digits are separators under the [^a-z]+ tokenizer
      val tag = s"${('a' + (i / 26)).toChar}${('a' + (i % 26)).toChar}"
      val unique = (0 until 6).map(j => s"u$tag${('a' + j).toChar}").mkString(" ")
      val mid = if (i <= 2) s" $shared " else " "
      (i, s"$boiler$mid$unique")
    }.toDF("doc_id", "text")
    // the boilerplate 4-gram occurs 40x, the genuine dup 2x
    val hot = Dedup.hotGrams(df, "doc_id", "text", width = 4, cap = 10L)
    val hotRows = hot.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hotRows.length == 1 && hotRows.head._2 == 40L,
      s"exactly the planted mega-gram must trip the cap: ${hotRows.toSeq}")
    val trimmed = Dedup.dupSpans(df, "doc_id", "text", width = 4,
        excludeGrams = Some(hot))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs 1-2 share the paragraph at positions 4..7 plus the bridging
    // windows at pos 1..3 (boiler-tail + shared-head, 2 occurrences — a
    // genuine cross-doc dup); the PURE boilerplate window at pos 0 (40
    // occurrences) is trimmed, so the span starts at 1, not 0
    assert(trimmed == Set((1L, 1L, 7L), (2L, 1L, 7L)),
      s"only the genuine dup must flag after the trim: $trimmed")
    // without the trim the boilerplate flags all 40 docs (the spill shape)
    val untrimmed = Dedup.dupSpans(df, "doc_id", "text", width = 4)
      .select("doc_id").distinct().count()
    assert(untrimmed == 40L, s"control: boilerplate flags every doc, got $untrimmed")

    // dupSpansAdaptive wires the census automatically: same spans as the
    // manual hotGrams+excludeGrams threading, and the excluded set is
    // REPORTED (never a silent cap)
    val (autoSpans, excluded) = Dedup.dupSpansAdaptive(
      df, "doc_id", "text", width = 4, cap = 10L)
    assert(autoSpans.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == trimmed,
      "adaptive must equal the manually-threaded census route")
    val exRows = excluded.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exRows.toSeq == hotRows.toSeq,
      s"the planted mega-gram must be reported: ${exRows.toSeq}")
    // a cap nothing trips: empty report, spans identical to plain dupSpans
    val (plainSpans, none) = Dedup.dupSpansAdaptive(
      df, "doc_id", "text", width = 4, cap = 1000000L)
    assert(none.isEmpty, "nothing over the cap must mean an empty report")
    assert(plainSpans.select("doc_id").distinct().count() == 40L,
      "with an empty census the adaptive path is plain dupSpans")
  }
}
