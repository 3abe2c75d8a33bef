package graft.api

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Each Gopher structural rule exercised INDEPENDENTLY at the published
  * thresholds: every failing fixture doc trips exactly one rule, checked
  * both by `keep` and by reading each signal against its threshold here
  * (the pinned single-space / newline word and line conventions apply —
  * a word adjacent to a `\n` keeps the `\n` inside it, which is why the
  * line fixtures below count one word fewer per line break). */
class GopherRulesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def run(docs: Seq[(Long, String)]) =
    TextAnalysis.gopherRules(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap

  /** The rules a row fails, read from its signals against the published
    * thresholds gopherRules applies. */
  private def failed(r: Row): Set[String] = Seq(
    "n_words" -> { val n = r.getAs[Long]("n_words"); n >= 50L && n <= 100000L },
    "mean_word_len" -> { val x = r.getAs[Double]("mean_word_len"); x >= 3.0 && x <= 10.0 },
    "symbol_word_ratio" -> (r.getAs[Double]("symbol_word_ratio") <= 0.1),
    "bullet_line_frac" -> (r.getAs[Double]("bullet_line_frac") <= 0.9),
    "ellipsis_line_frac" -> (r.getAs[Double]("ellipsis_line_frac") <= 0.3),
    "alpha_word_frac" -> (r.getAs[Double]("alpha_word_frac") >= 0.8),
    "stopword_hits" -> (r.getAs[Long]("stopword_hits") >= 2L)
  ).collect { case (rule, false) => rule }.toSet

  private def failsAlone(r: Row, rule: String): Unit = {
    assert(!r.getAs[Boolean]("keep"), s"$rule: the doc must not keep")
    assert(failed(r) == Set(rule), s"$rule must be the only failing rule, got ${failed(r)}")
  }

  // prose words: 42 chars per 10 words, stopwords "the" and "with"
  private val vocab =
    Seq("the", "quick", "brown", "foxes", "jump", "over", "lazy", "dogs", "with", "care")
  private def prose(n: Int): String = Seq.tabulate(n)(i => vocab(i % vocab.size)).mkString(" ")
  // a 6-word line with three stopwords
  private val line = "the cats with dogs and birds"

  test("a plain prose doc passes every rule") {
    val m = run(Seq(1L -> prose(60)))
    assert(m(1L).getAs[Boolean]("keep"))
    assert(failed(m(1L)).isEmpty)
    assert(m(1L).getAs[Long]("n_words") == 60L)
    assert(m(1L).getAs[Double]("mean_word_len") == 252.0 / 60.0)
    assert(m(1L).getAs[Long]("stopword_hits") == 2L) // "the", "with"
  }

  test("word-count bounds: too few and too many words each fail alone") {
    val m = run(Seq(1L -> prose(10), 2L -> prose(100001)))
    failsAlone(m(1L), "n_words")
    assert(m(1L).getAs[Long]("n_words") == 10L)
    failsAlone(m(2L), "n_words")
    assert(m(2L).getAs[Long]("n_words") == 100001L)
  }

  test("mean word length bounds fail alone (gibberish runs and single-char noise)") {
    val m = run(Seq(
      1L -> ("the with " + Seq.fill(58)("abcdefghijklmnopqrst").mkString(" ")),
      2L -> ("the with " + Seq.fill(58)("a").mkString(" "))))
    failsAlone(m(1L), "mean_word_len")
    assert(m(1L).getAs[Double]("mean_word_len") == 1167.0 / 60.0)
    failsAlone(m(2L), "mean_word_len")
    assert(m(2L).getAs[Double]("mean_word_len") == 65.0 / 60.0)
  }

  test("symbol-to-word ratio fails alone (# debris)") {
    val m = run(Seq(1L -> (prose(60) + " ##" * 10)))
    failsAlone(m(1L), "symbol_word_ratio")
    assert(m(1L).getAs[Double]("symbol_word_ratio") == 20.0 / 70.0)
  }

  test("bullet-line fraction fails alone; - * and \\u2022 all count as bullets") {
    val bullets = Seq("-", "*", "\u2022")
    val m = run(Seq(1L -> Seq.tabulate(10)(i => s"${bullets(i % 3)} $line").mkString("\n")))
    failsAlone(m(1L), "bullet_line_frac")
    assert(m(1L).getAs[Double]("bullet_line_frac") == 1.0)
    assert(m(1L).getAs[Long]("n_words") == 61L) // 10 lines of 7, 9 glued pairs
  }

  test("ellipsis-ended line fraction fails alone (truncated scrapes)") {
    val m = run(Seq(1L -> Seq.tabulate(10)(i => if (i < 4) s"$line..." else line).mkString("\n")))
    failsAlone(m(1L), "ellipsis_line_frac")
    assert(m(1L).getAs[Double]("ellipsis_line_frac") == 0.4)
    // the four '...' also count as symbols but stay under the 0.1 ratio
    assert(m(1L).getAs[Double]("symbol_word_ratio") == 4.0 / 51.0)
  }

  test("alphabetic-word fraction fails alone (tables of numbers)") {
    val m = run(Seq(1L -> (prose(60) + " 12" * 20)))
    failsAlone(m(1L), "alpha_word_frac")
    assert(m(1L).getAs[Double]("alpha_word_frac") == 60.0 / 80.0)
  }

  test("stopword floor fails alone (not prose at all)") {
    val m = run(Seq(1L -> ("the " + Seq.fill(59)("cats").mkString(" "))))
    failsAlone(m(1L), "stopword_hits")
    assert(m(1L).getAs[Long]("stopword_hits") == 1L)
  }

  test("empty and wordless docs keep=false with null ratios") {
    val m = run(Seq(1L -> "", 2L -> "   "))
    Seq(1L, 2L).foreach { id =>
      assert(!m(id).getAs[Boolean]("keep"))
      assert(m(id).getAs[Long]("n_words") == 0L)
      assert(m(id).isNullAt(m(id).fieldIndex("mean_word_len")))
    }
  }

  test("per-lang dispatch: non-English prose passes under its own list, fails English-only") {
    import spark.implicits._
    val prose = (1 to 15).map(_ => "palabra bonita historia cuenta").mkString(" ")
    val docs = Seq(
      (1L, s"el la de $prose", "es"),   // es stopwords present -> keep
      (2L, prose, "es"),                // no es stopwords -> fail own list
      (3L, s"der die und $prose", "de"),
      (4L, s"the of and that $prose", "pt"), // unmapped lang -> en fallback
      (5L, s"el la de $prose", "pt")    // fallback = en -> es words don't count
    ).toDF("doc_id", "text", "lang")
    val perLang = TextAnalysis.gopherRulesPerLang(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(perLang(1L).getAs[Boolean]("keep"),
      "es doc with es stopwords must pass its own list")
    assert(!perLang(2L).getAs[Boolean]("keep") &&
      perLang(2L).getAs[Long]("stopword_hits") == 0L)
    assert(perLang(3L).getAs[Boolean]("keep"))
    assert(perLang(4L).getAs[Boolean]("keep"),
      "unmapped lang must fall back to the fallback list")
    assert(!perLang(5L).getAs[Boolean]("keep"))
    // the same es doc FAILS wholesale under the English-only suite —
    // the exact behavior the per-lang seam exists to fix
    val enOnly = TextAnalysis.gopherRules(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!enOnly(1L).getAs[Boolean]("keep") &&
      enOnly(1L).getAs[Long]("stopword_hits") == 0L)
  }

  test("per-lang dispatch survives ANSI mode for unmapped languages") {
    import spark.implicits._
    // under ANSI (the Spark 4 default) element_at on a map THROWS for
    // missing keys, making the fallback unreachable — the dispatch must
    // use try_element_at so unmapped langs reach the en fallback under
    // BOTH settings (pinned by forcing the conf on for this call)
    val prose = (1 to 15).map(_ => "palabra bonita historia cuenta").mkString(" ")
    val docs = Seq((1L, s"the of and that $prose", "zh")).toDF("doc_id", "text", "lang")
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val m = TextAnalysis.gopherRulesPerLang(docs)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(m(1L).getAs[Boolean]("keep"),
        "unmapped lang under ANSI must dispatch to the fallback list, not throw")
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("per-lang guards: fallback must be mapped, lists non-empty") {
    import spark.implicits._
    val df = Seq((1L, "x", "en")).toDF("doc_id", "text", "lang")
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.gopherRulesPerLang(df, fallbackLang = "xx")
    }
    assert(e1.getMessage.contains("fallbackLang"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.gopherRulesPerLang(df,
        stopwords = Map("en" -> Seq.empty[String]))
    }
    assert(e2.getMessage.contains("non-empty"), e2.getMessage)
  }
}
