package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID (stopword
  * n-gram heuristic), quality scoring, token counting. All are compositions
  * of codegen'd built-in functions (no UDFs) so they inline into whole-stage
  * codegen and push through Catalyst untouched; every formula uses exact
  * integer counts and deterministic double arithmetic so an external oracle
  * can reproduce values bit-for-bit.
  */
object TextAnalysis {

  /** HTML extraction front-end — the stage a web pipeline runs before
    * ANY content operator turns raw crawl HTML into line-structured
    * text: script/style/comment removal, tag strip with block-element
    * line breaks, entity decode, whitespace normalization. One
    * codegen'd scalar expression per row ([[graft.core.HtmlText]] for
    * the scan rules), zero shuffles added — compose it as the first
    * stage of `curate_web`-style chains. Output lines ARE block
    * structure, which is what the line-level operators (boilerplate
    * document frequency, Gopher line rules) consume. */
  def extractHtml(df: DataFrame, htmlCol: String = "html",
                  outCol: String = "text"): DataFrame =
    df.withColumn(outCol, graft.functions.html_extract(col(htmlCol)))

  /** Main-content tier of [[extractHtml]] — the optional stage between
    * raw extraction and the line-frequency boilerplate pass: blocks
    * shorter than 25 counted characters or with anchor-text density
    * above 333‰ are dropped as chrome
    * (nav/footer/sidebar), per the jusText-class rules stated in
    * [[graft.core.HtmlText.extractMain]]. Same per-row, zero-shuffle
    * shape as [[extractHtml]] — compose either as `curate_web`'s first
    * stage; this one removes single-page chrome the document-frequency
    * pass only catches when it repeats across the corpus. */
  def extractMainHtml(df: DataFrame, htmlCol: String = "html",
                      outCol: String = "text"): DataFrame =
    df.withColumn(outCol, graft.functions.html_main_content(col(htmlCol), 25, 333))

  /** Robots-directive page filter — the crawl opt-out stage a compliant
    * pipeline runs FIRST (before extraction spends a single cycle on the
    * page): drops rows whose `<meta name="robots">` directive list
    * contains `noindex` or `none` (tokens comma-split, trimmed,
    * lowercased — the rule expressed in builtins so the verdict
    * inlines into codegen; the trim is a
    * `[\x00-\x20]` edge regexp, NOT Spark's space-only `trim`, because
    * multi-line meta attributes pad tokens with newlines and
    * `String.trim` strips every char ≤ U+0020). Pages without a robots
    * meta keep — absence means indexable. Pass `robotsCol` to KEEP the
    * parsed directive as a column instead of re-scanning the page later
    * (filter and projection share one codegen stage, so subexpression
    * elimination evaluates the scan once). Map-only, zero shuffle. */
  def filterNoindex(df: DataFrame, htmlCol: String = "html",
                    robotsCol: Option[String] = None): DataFrame = {
    // the internal scratch name must not clobber caller data: an input
    // that already carries '__robots' (case-insensitive — Spark resolves
    // names case-insensitively by default) would be silently replaced
    // and then DROPPED below. Derive a name the input provably lacks.
    // An EXPLICIT robotsCol keeps withColumn's documented replace
    // semantics — the caller named the output column on purpose.
    val tmp = robotsCol.getOrElse {
      Iterator.iterate("__robots")(_ + "_")
        .find(n => !df.columns.exists(_.equalsIgnoreCase(n))).get
    }
    val out = df
      .withColumn(tmp, graft.functions.html_meta_robots(col(htmlCol)))
      .filter(!coalesce(
        exists(split(col(tmp), ",", -1), t =>
          regexp_replace(lower(t), "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
            .isin("noindex", "none")),
        lit(false)))
    if (robotsCol.isEmpty) out.drop(tmp) else out
  }

  /** Header-level robots opt-out — the HTTP sibling of [[filterNoindex]]
    * for the directive that never reaches the HTML: drops rows whose
    * response envelope carries `X-Robots-Tag` with a `noindex`/`none`
    * token (same comma-split, trimmed, lowercased rule as the meta
    * filter, over the raw WARC block — no body decode needed, so a
    * compliant pipeline can drop BEFORE paying the gunzip). Rows with
    * no envelope or no X-Robots-Tag keep — absence means indexable.
    * Agent-scoped values (`googlebot: noindex`) are outside the simple
    * token rule and KEEP, stated — the generic-pipeline reading, same
    * stance as [[graft.core.RobotsTxt]]'s agent subset. Map-only. */
  def filterXRobotsNoindex(df: DataFrame,
                           blockCol: String = "content"): DataFrame =
    df.filter(!coalesce(
      exists(split(graft.functions.http_header(col(blockCol),
        "x-robots-tag"), ",", -1),
        t => regexp_replace(lower(t), "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
          .isin("noindex", "none")),
      lit(false)))

  /** Compression-ratio repetition signals (the Gopher/RefinedWeb-class
    * quality tier the n-gram counters miss): per row, the UTF-8 byte
    * length, the zlib-compressed length at level 6, their ratio, and the
    * all-integer template-spam verdict `3 * n_zlib < n_bytes` (ratio
    * below 1/3). Short natural prose — including the
    * small-vocabulary fixture docs — measures ≥ 0.39 at level 6, while
    * templated spam whose per-slot variation defeats dup-line and
    * top-n-gram counters (a unique number between every pair of template
    * words leaves NO repeated 2-gram and no duplicate line) still
    * compresses under 0.29, because LZ77 matches the repeated template
    * words at range regardless of the slots. Integer comparison, not a
    * float threshold — exactly reproducible by any oracle. Empty text:
    * 0 bytes compress to a fixed 8-byte zlib header+trailer, ratio is
    * null (Spark division by zero), spam verdict false. */
  def compressionSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    // the signal schema OWNS these names (the exportShards convention):
    // silently replacing an input column loses caller data downstream.
    // The clash test must match Spark's RESOLUTION rule, which is
    // case-insensitive unless spark.sql.caseSensitive — a guard that
    // compared exactly would pass an input 'N_BYTES' column and then
    // watch withColumn("n_bytes", ...) overwrite it anyway.
    val exact = df.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def clashes(a: String, b: String): Boolean =
      if (exact) a == b else a.equalsIgnoreCase(b)
    Seq("n_bytes", "n_zlib", "zlib_ratio", "template_spam").foreach(c =>
      require(!df.columns.exists(clashes(_, c)),
        s"compressionSignals: input must not carry a '$c' column — the " +
          "signal schema owns that name (rename the input column first)"))
    df.withColumn("n_bytes", octet_length(col(textCol)).cast("long"))
      .withColumn("n_zlib", graft.functions.zlib_len(col(textCol), 6))
      .withColumn("zlib_ratio",
        col("n_zlib").cast("double") / col("n_bytes").cast("double"))
      .withColumn("template_spam",
        col("n_zlib") * 3L < col("n_bytes"))
  }

  /** Small, fixed stopword profiles. Deliberately tiny — the point is a
    * deterministic, cheap heuristic, not linguistic accuracy. */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "was"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "dans", "que", "il"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "una", "en", "que", "se"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "in", "zu", "den"))

  private def words(text: Column): Column = split(text, " ")

  private def hits(text: Column, profile: Seq[String]): Column =
    size(filter(words(text), w => w.isInCollection(profile)))

  /** Predicted language: the profile with the most stopword hits; ties break
    * by profile order (en > fr > es > de); zero hits everywhere → 'und'
    * (undetermined). */
  def langId(text: Column): Column = {
    val scored = profiles.map { case (lang, prof) => (lang, hits(text, prof)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight builds en-first precedence: first profile wins ties
    pick
  }

  /** Distinct-token ratio (lexical diversity), exact double division. */
  def lexicalDiversity(text: Column): Column =
    size(array_distinct(words(text))).cast("double") / size(words(text))

  /** Stopword ratio against the English profile. */
  def stopwordRatio(text: Column): Column =
    hits(text, profiles.head._2).cast("double") / size(words(text))

  /** Composite quality score in [0,1]:
    * 0.4·min(1, chars/200) + 0.3·diversity + 0.3·min(1, 4·stopword_ratio).
    * All terms are exact ratios of integers; the combination is fixed-order
    * double arithmetic, reproducible anywhere. */
  def qualityScore(text: Column): Column = {
    val lenTerm = least(lit(1.0), length(text).cast("double") / 200.0)
    val divTerm = lexicalDiversity(text)
    val stopTerm = least(lit(1.0), stopwordRatio(text) * 4.0)
    lenTerm * 0.4 + divTerm * 0.3 + stopTerm * 0.3
  }

  /** Corpus-wide token histogram, descending — the vocabulary-building scan
    * of a tokenizer/BPE training pipeline. Tokens are maximal lowercase
    * `[a-z]+` runs (everything else separates), a deterministic ASCII
    * normalization any engine reproduces exactly.
    *
    * Shape: explode → two-phase hash aggregation (map-side partial combine
    * collapses each partition to its distinct tokens — vocabulary-sized,
    * not corpus-sized — before the one shuffle). `topK` then plans as
    * TakeOrderedAndProject: per-partition heaps + a driver merge of k rows,
    * never a full sort of the vocabulary. */
  private def vocabCounts(df: DataFrame, textCol: String): DataFrame =
    SparkEnv.spread(df) // tokenize parallelism must not be capped by file layout
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))

  /** Top-k vocabulary by count, ties broken alphabetically (total order —
    * reproducible across engines). */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    vocabCounts(df, textCol).orderBy(col("cnt").desc, col("token").asc).limit(k)

  /** Top-k vocabulary PER GROUP (e.g. per language) — the per-stratum
    * variant of [[vocabTopK]]: explode → two-phase (group, token) count →
    * window top-k within each group. The window partitions by group, so
    * every stratum ranks in parallel; ties break alphabetically for a total
    * order. At 100 TB the (group, token) aggregate is vocabulary-sized per
    * group after map-side combine, never corpus-sized. */
  def vocabTopKPerGroup(df: DataFrame, groupCol: String, textCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol), explode(split(lower(col(textCol)), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(groupCol).orderBy(col("cnt").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** C4-style boilerplate detection: word 2-grams that occur in at least
    * `minDocFrac` of all documents form a blacklist; a document whose
    * occurrences are more than `flagFrac` blacklisted is boilerplate
    * (navigation chrome, license headers, templated spam) and marked
    * `keep = 0`. Returns every input row annotated with
    * `(total_grams, flagged_grams, flagged_frac, keep)`.
    *
    * Shape: one shuffle on gram for document frequencies (two-phase, the
    * distinct (doc, gram) combine is map-side); the blacklist is
    * *frequency-thresholded, so it shrinks relative to corpus size* — at
    * 100 TB it is grams in ≥6% of billions of documents, a few thousand
    * rows — and joins back broadcast. Stats re-attach to the corpus by id
    * left join so gram-less documents survive with frac 0. All ratios are
    * exact int-over-int double divisions. */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       minDocFrac: Double, flagFrac: Double): DataFrame = {
    // spread: the bigram explode is the CPU-heavy step and runs at the
    // SCAN's parallelism — a single-file input serializes it on one task
    // (measured 0.5 s of the gate's 1.9 s at sf0.1); at real scale the
    // scan's splits already provide the width and spread() no-ops
    val tokens = SparkEnv.spread(df)
      .select(col(idCol), split(col(textCol), " ").as("w"))
    // generator-only projection: nothing for ExtractGenerator to hoist
    val occ = tokens.select(col(idCol),
      explode(expr("CASE WHEN size(w) < 2 THEN array() ELSE " +
        "transform(sequence(1, size(w) - 1), " +
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END")).as("gram"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val blacklist = occ.select(col(idCol), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nDocs))
      .filter(col("nd").cast("double") >= lit(minDocFrac) * col("n_docs"))
      .select(col("gram"), lit(1L).as("flagged"))
    val perDoc = occ.join(broadcast(blacklist), Seq("gram"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("total_grams"),
        count(col("flagged")).as("flagged_grams"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("flagged_grams"), lit(0L)).as("flagged_grams"),
        coalesce(col("flagged_grams").cast("double") / col("total_grams"),
          lit(0.0)).as("flagged_frac"))
      .withColumn("keep",
        when(col("flagged_frac") > flagFrac, 0L).otherwise(1L))
  }

  /** Top-k characteristic terms per document, ranked by a log-free tf-idf
    * (`tf · N / df` — same ranking as classic tf-idf for a fixed corpus,
    * but exact integer-over-integer arithmetic instead of an `ln` whose
    * last bit varies across libm implementations, so an external engine
    * reproduces scores bit-for-bit).
    *
    * Shape: explode → two-phase (doc, token) count (one shuffle on the
    * pair); `df` re-aggregates that output by token (vocabulary-sized after
    * map-side combine) and joins back broadcast — document frequencies are
    * a vocabulary table, never corpus-sized; the per-doc window top-k runs
    * every document partition in parallel. Corpus size N enters as a
    * broadcast 1-row cross join, not a driver action. */
  def tfIdfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(split(lower(col(textCol)), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df_docs"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(docFreq), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df_docs"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"),
        col("df_docs"), col("score"))
  }

  /** Split documents into overlapping character windows — the chunking
    * step before embedding long documents (chunk size bounded by the
    * encoder's context, overlap preserving cross-boundary context). Chunk
    * `i` starts at `i·(chunkChars − overlapChars)`; the last chunk may be
    * short. A pure generate — no shuffle, no state; at 100 TB it runs
    * inside the scan stage and multiplies rows by ~len/step. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkChars: Int, overlapChars: Int): DataFrame = {
    require(chunkChars > overlapChars && overlapChars >= 0,
      "need chunkChars > overlapChars >= 0")
    val step = chunkChars - overlapChars
    val chunks = df
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0L),
          floor((length(col(textCol)) - 1).cast("double") / step).cast("long"))).as("chunk_id"))
    chunks.select(col(idCol), col("chunk_id"),
        col(textCol).substr((col("chunk_id") * step + 1).cast("int"),
          lit(chunkChars)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
  }

  /** Canonical text normalization — the cleanup pass that runs before
    * dedup/tokenization so near-identical documents hash identically:
    * control chars → space, whitespace runs collapsed, trimmed, lowercased.
    * A pure per-row projection (three codegen'd regexp/string ops): no
    * shuffle, runs inside the scan stage at any scale. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(regexp_replace(text, "[\\x00-\\x1F]", " "), "\\s+", " ")))

  /** PII patterns kept deliberately simple and in the common RE2/Java regex
    * subset (character classes, bounded repeats, word boundaries) so an
    * external engine reproduces the exact same matches. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses and NNN-NNN-NNNN phone numbers with
    * typed placeholder tokens. Email first (its local part may contain
    * digit runs), then IP (dots, so the phone pattern can never see it),
    * then phone. Per-row projection, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Per-document repetition signals (the Gopher-rule family): repeated
    * words and word-2-grams are the classic marker of boilerplate /
    * degenerate text that quality-filtering drops before training.
    *
    *  - `word_count`     — whitespace tokens
    *  - `dup_word_frac`  — 1 − distinct/total words
    *  - `top_2gram_frac` — occurrences of the most frequent word 2-gram,
    *                        over all 2-gram occurrences
    *  - `dup_2gram_frac` — fraction of 2-gram occurrences beyond each
    *                        gram's first (1 − distinct/total)
    *
    * Shape: the 2-gram mode is computed the scale way — explode the grams,
    * two-phase count per (doc, gram), re-aggregate per doc — NOT a per-row
    * `transform(distinct, g -> count)` lambda, which is O(words²) per
    * document and blows up on exactly the degenerate documents this filter
    * exists to catch. All ratios are exact integer-over-integer double
    * divisions, bit-reproducible in any IEEE engine. */
  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    // One shuffle by id up front, for two reasons: (1) kernel parallelism
    // must not be capped by the input file layout (one-row-group parquet =
    // one scan task = the whole tokenize pass serialized — measured 10.4s
    // single-task at sf0.1); (2) the exchange is a CollapseProject barrier,
    // so the word array is materialized below the generate instead of the
    // split being re-inlined into every consumer. Both downstream branches
    // hang off the same exchange (ReuseExchange — shuffled once).
    val n = SparkEnv.shufflePartitions(df.sparkSession)
    val tokens = df
      // the id filter is a no-op for real corpora, stated explicitly so the
      // final join's inferred isnotnull lands in BOTH branches identically
      // and the shared exchange is reused (one corpus scan, not two) —
      // plan-pinned in PlanShapeSpec
      .filter(col(idCol).isNotNull)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("w"))
      .repartition(n, col(idCol))
    val wordStats = tokens.select(col(idCol),
      size(col("w")).cast("long").as("word_count"),
      (lit(1.0) - size(array_distinct(col("w"))).cast("double")
        / size(col("w")).cast("double")).as("dup_word_frac"))
    // generator-ONLY projection: with no scalar select items next to the
    // explode, ExtractGenerator hoists nothing and the gram transform is
    // evaluated once per document — never once per exploded row (the
    // hoisting trap re-ran it per gram: O(words²) per doc, measured as the
    // rest of the 10.4s stage). Guard: Spark's sequence(1, 0) counts DOWN.
    val gramRows = tokens.select(col(idCol),
      explode(expr("CASE WHEN size(w) < 2 THEN array() ELSE " +
        "transform(sequence(1, size(w) - 1), " +
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END")).as("gram"))
    val gramAgg = gramRows
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        max(col("c")).as("maxc"), sum(col("c")).as("total"),
        count(lit(1)).as("ndistinct"))
    wordStats.join(gramAgg, Seq(idCol), "left")
      .select(col(idCol), col("word_count"), col("dup_word_frac"),
        coalesce(col("maxc").cast("double") / col("total").cast("double"),
          lit(0.0)).as("top_2gram_frac"),
        coalesce((col("total") - col("ndistinct")).cast("double")
          / col("total").cast("double"), lit(0.0)).as("dup_2gram_frac"))
  }

  /** Gopher-style repetition gating (Rae et al. 2021, App. A — the
    * "repetitious documents" rules): [[repetitionStats]]' within-document
    * signals turned into one keep/drop verdict per document. A doc keeps
    * iff it clears ALL of: a minimum word count, a duplicate-word-fraction
    * cap, a top-bigram concentration cap, and a duplicate-bigram-fraction
    * cap. The published thresholds were tuned on MassiveWeb; they are
    * knobs here because every corpus recalibrates them off the stats'
    * quantiles (a synthetic or domain corpus sits in a different regime).
    * Non-destructive — returns `(<idCol>, keep)` for every document, one
    * [[repetitionStats]] pass (same single tokenize+shuffle), and the
    * caller filters or routes on the verdict. */
  def repetitionFilter(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", minWords: Long = 50L,
                       maxDupWordFrac: Double = 0.3,
                       maxTop2GramFrac: Double = 0.18,
                       maxDup2GramFrac: Double = 0.3): DataFrame =
    repetitionStats(df, idCol, textCol).select(col(idCol),
      (col("word_count") >= minWords &&
        col("dup_word_frac") <= maxDupWordFrac &&
        col("top_2gram_frac") <= maxTop2GramFrac &&
        col("dup_2gram_frac") <= maxDup2GramFrac).as("keep"))

  /** The Gopher STRUCTURAL quality rules (Rae et al. 2021, the filter
    * suite every later pipeline quotes) — the lexical/layout half;
    * [[repetitionFilter]] owns the repetition half. One narrow
    * codegen'd pass, zero shuffle: every signal is integer counting over
    * the word/line arrays plus one double division, so an independent
    * engine reproduces each value bit-exactly (the `gopher_rules` gate:
    * DuckDB recomputes the WHOLE rule set — with planted bullet/
    * ellipsis/numeric structures — using its own list/string functions;
    * `GopherRulesSpec` exercises each rule independently). A doc keeps
    * iff ALL of, at the published thresholds:
    *
    *   - word count in [50, 100 000];
    *   - mean word length in [3, 10] (filters both gibberish runs and
    *     single-char noise);
    *   - symbol-to-word ratio ≤ 0.1 (`#` and `...` occurrences —
    *     SEO/nav debris);
    *   - bullet-started line fraction ≤ 0.9 and `...`-ended line
    *     fraction ≤ 0.3 (list/nav pages, truncated scrapes);
    *   - fraction of words containing ≥1 alphabetic char ≥ 0.8 (tables
    *     of numbers);
    *   - ≥ 2 distinct canonical stopwords present (the "is it prose at
    *     all" test).
    *
    * Every signal is returned, so a corpus that needs other cut-offs
    * filters on the signal columns itself. Words split on single spaces,
    * lines on `\n` — the same conventions the rest of this file pins
    * cross-engine. Returns every signal plus the `keep` verdict
    * (non-destructive; empty/wordless docs keep=false with null
    * ratios). */
  def gopherRules(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // the word/line arrays are materialized ONCE in a lower Project and
    // every signal reads the attribute: higher-order functions sit
    // outside codegen subexpression elimination, so the single-Project
    // form re-split-and-filtered the text per signal (~10 passes per
    // row — measured 2× slower at sf0.1). The expensive-alias rule
    // (SPARK-36718) keeps CollapseProject from re-inlining them; spread
    // parallelizes the single-file fixture scan like the rest of the
    // file's per-doc operators.
    val t0 = col(textCol)
    val arr = SparkEnv.spread(df).select(col(idCol), t0.as("__t"),
      filter(split(t0, " "), w => w =!= lit("")).as("__ws"),
      filter(split(t0, "\n"), l => l =!= lit("")).as("__ls"))
    gopherSignalsAndKeep(arr, Seq(col(idCol)),
      size(filter(
        typedLit(GopherStopwords("en")),
        sw => array_contains(col("__ws"), sw))).cast("long"))
  }

  /** The published Gopher stopword list per language \u2014 the Rae et al.
    * 2021 English eight, plus the same "top function words" recipe for
    * the space-delimited languages the word-based rule suite applies to
    * (FineWeb-2-style multilingual reproduction). CJK and other
    * unsegmented scripts are deliberately ABSENT: "words split on
    * single spaces" is meaningless there \u2014 route those languages
    * through the tokenizer-aware family ([[tokenEntropy]],
    * [[repetitionFilter]] with [[words]]) instead of pretending a
    * space-split applies. */
  val GopherStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "be", "to", "of", "and", "that", "have", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "con"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "que", "dans", "une"))

  /** [[gopherRules]] with the stopword test dispatched PER LANGUAGE \u2014
    * the seam a multilingual corpus needs: under the English-only list
    * every non-English doc fails the "is it prose at all" gate
    * wholesale (its function words are not English function words),
    * which silently deletes every other language from the corpus. The
    * stopword list is looked up from `stopwords` by the (lowercased)
    * `langCol` value; languages absent from the map fall back to
    * `fallbackLang`'s list \u2014 stated loudly here because the fallback
    * reintroduces exactly the wholesale-fail behavior for those
    * languages: extend the map for every language the corpus carries.
    * All other thresholds stay global (the published values are
    * length/layout rules, far less language-sensitive than function
    * words).
    *
    * Same plan shape as [[gopherRules]] (arrays materialized once in a
    * lower Project); the dispatch is one `try_element_at` on a literal map
    * \u2014 no join, no UDF, codegen'd. Output adds the `lang` column after
    * the id. */
  def gopherRulesPerLang(df: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", langCol: String = "lang",
                         stopwords: Map[String, Seq[String]] = GopherStopwords,
                         fallbackLang: String = "en"): DataFrame = {
    require(stopwords.contains(fallbackLang),
      s"fallbackLang '$fallbackLang' has no stopword list in the map")
    require(stopwords.values.forall(_.nonEmpty),
      "every language's stopword list must be non-empty")
    val t0 = col(textCol)
    val arr = SparkEnv.spread(df).select(col(idCol), col(langCol), t0.as("__t"),
      filter(split(t0, " "), w => w =!= lit("")).as("__ws"),
      filter(split(t0, "\n"), l => l =!= lit("")).as("__ls"))
    val swMap = map(stopwords.toSeq.sortBy(_._1).flatMap {
      case (l, sws) => Seq(lit(l.toLowerCase), typedLit(sws))
    }: _*)
    // try_element_at, not element_at: under ANSI mode (the Spark 4
    // default) element_at on a map THROWS for unmapped languages, which
    // would crash exactly the docs the fallback exists for — try_
    // yields NULL and the coalesce dispatches to fallbackLang
    val sws = coalesce(try_element_at(swMap, lower(col(langCol))),
      typedLit(stopwords(fallbackLang)))
    gopherSignalsAndKeep(arr, Seq(col(idCol), col(langCol)),
      size(filter(sws, sw => array_contains(col("__ws"), sw))).cast("long"))
  }

  /** The shared signal algebra behind [[gopherRules]] and
    * [[gopherRulesPerLang]]: `arr` must carry `__t`/`__ws`/`__ls` (the
    * once-materialized text/word/line columns \u2014 the SPARK-36718 plan
    * shape both callers pin) and `stopHits` is the one rule the two
    * variants compute differently. */
  private def gopherSignalsAndKeep(arr: DataFrame, carry: Seq[Column],
                                   stopHits: Column): DataFrame = {
    val t = col("__t")
    val ws = col("__ws")
    val ls = col("__ls")
    val nW = size(ws).cast("long")
    val nL = size(ls).cast("long")
    def ratio(num: Column, den: Column): Column =
      when(den > 0L, num.cast("double") / den.cast("double"))
    val meanLen = ratio(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)), nW)
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symRatio = ratio((hashes + ellipses).cast("long"), nW)
    val bulletFrac = ratio(size(filter(ls, l =>
      l.startsWith("- ") || l.startsWith("* ") ||
        l.startsWith("\u2022"))).cast("long"), nL)
    val ellipsisFrac = ratio(
      size(filter(ls, l => l.endsWith("..."))).cast("long"), nL)
    val alphaFrac = ratio(
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long"), nW)
    arr.select(carry ++ Seq(nW.as("n_words"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_word_ratio"), bulletFrac.as("bullet_line_frac"),
        ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
        stopHits.as("stopword_hits")): _*)
      .withColumn("keep",
        coalesce(col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("stopword_hits") >= 2, lit(false)))
  }

  /** Shannon entropy of each document's token distribution, in bits —
    * the gibberish/boilerplate signal quality filters threshold on (low
    * entropy = repeated boilerplate, implausibly high = random noise).
    *
    * Deterministic ACROSS ENGINES, which a naive `sum(p*log(p))` is not,
    * twice over: (1) a distributed float sum's addition order depends on
    * partitioning, so the per-doc count list is sorted first and folded
    * left-to-right; (2) `log` is engine-specific, so every term uses the
    * pinned ln — and since its domain is [1, inf) while p ≤ 1, terms are
    * computed as `p · ln(1/p)` with `1/p = n/c ≥ 1`. Exact-count
    * aggregation (two shuffles, the vocab shape) feeds the fold; docs with
    * no tokens score 0 with n_tokens 0. */
  def tokenEntropy(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    // spread-safe: the sorted-count fold above makes the per-doc sum
    // partition-order-independent by construction
    val toks = SparkEnv.spread(df)
      .select(col(idCol), explode(words(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val perDoc = toks
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("c"))).as("cs"),
        sum(col("c")).cast("double").as("n"))
    val h = aggregate(col("cs"), lit(0.0), (acc, c) =>
      acc + (c.cast("double") / col("n")) *
        graft.functions.ln_pinned(col("n") / c.cast("double")))
    val scored = perDoc.select(col(idCol),
      (h / graft.functions.ln_pinned(lit(2.0))).as("token_entropy_bits"),
      col("n").cast("long").as("n_tokens"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("token_entropy_bits"), lit(0.0)).as("token_entropy_bits"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** CCNet-style unigram cross-entropy quality score: each document's
    * average negative log-likelihood (nats) under the corpus' OWN unigram
    * token distribution, `avg_nll = (1/n) Σ_t c_t · (ln N − ln cnt_t)` —
    * boilerplate built from the corpus' most common tokens scores low,
    * rare-token noise scores high; curation thresholds both tails (the
    * CCNet recipe scores against an external LM's distribution; the
    * self-scored variant needs no model artifact and is fully
    * reproducible). Tokenization is [[vocabTopK]]'s, so the vocabulary
    * and the document tokens share one identity.
    *
    * Deterministic across engines the same two ways as [[tokenEntropy]]:
    * the per-doc terms are sorted (by corpus count, then doc count —
    * entries tying on both have bit-equal terms, so the order within ties
    * cannot matter) and folded left-to-right, and every log is the pinned
    * ln (domain [1, ∞): counts ≥ 1 keep every argument inside).
    *
    * Scale shape: the (token, cnt) vocabulary aggregate is vocab-sized
    * after map-side combine, never corpus-sized; the doc-token join is on
    * `token` (AQE broadcasts it when the vocabulary is small — at web
    * scale, frequency-cap the vocab and route the long tail to a floor
    * count before this join); the per-doc combine is the only other
    * shuffle. Docs with no tokens score 0 with n_tokens 0. */
  def docLogProb(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = SparkEnv.spread(df)
      .select(col(idCol),
        explode(split(lower(col(textCol)), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
    val perDocTok = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("c"))
    // vocabulary DERIVED from the per-doc aggregate, not a second corpus
    // explode: the vocab branch and the join branch share the identical
    // (id, token) aggregate subtree, so ReuseExchange reads and tokenizes
    // the corpus ONCE (the Packing.packSequences offsets trick). Counts are
    // identical to vocabCounts' by associativity — bit-exact, since they
    // are integers.
    val vocab = perDocTok.groupBy(col("token")).agg(sum(col("c")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val perDoc = perDocTok
      .join(vocab, "token")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("cnt"), col("c")))).as("terms"),
        sum(col("c")).cast("double").as("n"))
      .crossJoin(broadcast(total))
    val nll = aggregate(col("terms"), lit(0.0), (acc, t) =>
      acc + t.getField("c").cast("double") *
        (graft.functions.ln_pinned(col("total").cast("double")) -
          graft.functions.ln_pinned(t.getField("cnt").cast("double"))))
    val scored = perDoc.select(col(idCol), (nll / col("n")).as("avg_nll"),
      col("n").cast("long").as("n_tokens"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("avg_nll"), lit(0.0)).as("avg_nll"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** Bigram upgrade of [[docLogProb]]: add-one-smoothed transition model
    * p(w_i | w_{i-1}) = (C(prev,cur) + 1) / (C(prev,·) + V) under the
    * corpus's OWN counts, scored as mean −ln p over each doc's n−1
    * transitions. CCNet scores with a 5-gram KenLM; the bigram is the
    * smallest model that sees word ORDER — shuffled or garbled text that
    * the unigram scores as perfectly fluent lights up here. V = distinct
    * tokens corpus-wide (the standard add-one vocabulary); docs under 2
    * tokens score 0 with n_trans 0.
    *
    * Scale shape mirrors the unigram: bigram/prev-total tables derive
    * from the per-doc aggregate subtree (one tokenize, ReuseExchange);
    * post-combine state is the DISTINCT bigram table — Heaps-law sparse,
    * nothing near vocab²; joins are keyed on (prev, cur) then prev. At
    * web scale frequency-cap the bigram table and route the tail to the
    * +1 smoothing floor before the join, exactly like the unigram vocab
    * cap. Determinism: integer counts, per-doc terms sorted by
    * (prevTotal, bigramCnt, docCount) — ties are bit-equal terms — folded
    * left-to-right in pinned ln. */
  def docLogProbBigram(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val toksArr = filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= lit(""))
    val base = SparkEnv.spread(df).select(col(idCol), toksArr.as("__t"))
    val vDf = base.select(explode(col("__t")).as("token"))
      .agg(countDistinct(col("token")).cast("double").as("V"))
    val perDocBig = base.filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(0), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i + 1).as("prev"),
          element_at(col("__t"), i + 2).as("cur")))).as("bg"))
      .groupBy(col(idCol), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c"))
    val bigCnt = perDocBig.groupBy(col("prev"), col("cur")).agg(sum(col("c")).as("cb"))
    val prevCnt = bigCnt.groupBy(col("prev")).agg(sum(col("cb")).as("cp"))
    val perDoc = perDocBig
      .join(bigCnt, Seq("prev", "cur"))
      .join(prevCnt, Seq("prev"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("cp"), col("cb"), col("c")))).as("terms"),
        sum(col("c")).cast("double").as("n"))
      .crossJoin(broadcast(vDf))
    val nll = aggregate(col("terms"), lit(0.0), (acc, t) =>
      acc + t.getField("c").cast("double") *
        (graft.functions.ln_pinned(t.getField("cp").cast("double") + col("V")) -
          graft.functions.ln_pinned(t.getField("cb").cast("double") + lit(1.0))))
    val scored = perDoc.select(col(idCol), (nll / col("n")).as("avg_nll2"),
      col("n").cast("long").as("n_trans"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("avg_nll2"), lit(0.0)).as("avg_nll2"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"))
  }

  /** Hashed TF-IDF document embeddings — the TEXT→VECTOR bridge into the
    * engine's embedding machinery (ANN, SemDeDup, embedding
    * decontamination) when no neural encoder is in the loop: the hashing
    * trick of MLlib's HashingTF+IDF, made bit-deterministic. Per document:
    * `tf[b]` = count of [[Tokenizers.asciiWords]] tokens with
    * `crc32(token) mod dim = b` (crc32: the zlib-portable bucket hash the
    * DSIR/NB family uses); `idf[b] = ln((N+1)/(df[b]+1))` with `df[b]` =
    * documents with a nonzero bucket (the MLlib smoothing, both arguments
    * ≥ 1 → pinned ln); vector = tf·idf, L2-normalized (sum of squares in
    * bucket order; sqrt and divides are correctly-rounded IEEE — the same
    * exactness contract as `embed_normalize`'s DuckDB oracle).
    *
    * Scale shape: one tokenize+bucket aggregate (map-side combined,
    * output ≤ docs×dim rows), a dim-bounded df table collected to the
    * driver (the idf model is `dim` doubles riding the plan as a
    * literal), one per-doc combine. No corpus shuffle beyond the two
    * aggregates; the dense-vector build is whole-stage-codegen'd
    * expression work. Returns (idCol, tfidf array, embedding array) —
    * `embedding` plugs straight into [[SemanticDedup.semanticDedup]] /
    * [[Ann]]; tokenless documents carry zero vectors (norm 0 ⇒ kept
    * as-is, the same zero-norm contract as the rest of the vector ops). */
  def tfidfEmbed(docs: DataFrame, idCol: String, textCol: String,
                 dim: Int): DataFrame = {
    require(dim >= 2 && dim <= (1 << 16), s"dim must be in [2, 65536], got $dim")
    // pinFrontier: the tokenize+bucket aggregate runs ONCE — the df
    // collect below and the caller's execution of the returned plan both
    // read the stored blocks instead of re-scanning the corpus, which
    // keeps the scaladoc's "one tokenize+bucket aggregate" true. This is
    // a CORPUS-SIZED frontier (one row per (doc, distinct bucket)), so a
    // bare single-replica localCheckpoint was failure-fragile at scale:
    // pinFrontier replicates the blocks on a cluster, and its blocks are
    // still ContextCleaner-freed when the returned frame is GC'd.
    val perDoc = docs
      .select(col(idCol), explode(Tokenizers.asciiWords(col(textCol))).as("tok"))
      .select(col(idCol),
        pmod(crc32(col("tok").cast("binary")), lit(dim.toLong)).cast("int").as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c"))
      .transform(SparkEnv.pinFrontier)
    val dfRows = perDoc.groupBy("b").agg(count(lit(1)).as("df")).collect()
    val dfArr = new Array[Long](dim)
    dfRows.foreach(r => dfArr(r.getInt(0)) = r.getLong(1))
    val n = docs.count()
    val idf = Array.tabulate(dim) { b =>
      graft.core.HyperLogLog.lnPinned((n + 1).toDouble) -
        graft.core.HyperLogLog.lnPinned((dfArr(b) + 1).toDouble)
    }
    val idfLit = lit(idf)
    val sparse = perDoc.groupBy(col(idCol))
      .agg(map_from_entries(sort_array(collect_list(struct(col("b"), col("c"))))).as("m"))
    val raw = transform(sequence(lit(0), lit(dim - 1)), b =>
      coalesce(element_at(col("m"), b), lit(0L)).cast("double") *
        element_at(idfLit, b + 1))
    val withRaw = docs.select(col(idCol)).join(sparse, Seq(idCol), "left")
      .select(col(idCol),
        when(col("m").isNull,
          array_repeat(lit(0.0), dim)).otherwise(raw).as("tfidf"))
    val norm = sqrt(aggregate(col("tfidf"), lit(0.0), (acc, x) => acc + x * x))
    withRaw.select(col(idCol), col("tfidf"),
      when(norm === 0.0, col("tfidf"))
        .otherwise(transform(col("tfidf"), x => x / norm)).as("embedding"))
  }

  /** CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
    * rank each language's documents by an LM score ([[docLogProbBigram]]'s
    * `avg_nll2` is the in-engine scorer; CCNet uses 5-gram KenLM
    * perplexity — same monotone role) and split into 3 equal tiles —
    * head (fluent) / middle / tail (noisy), the split CCNet
    * publishes and pipelines filter or re-weight on.
    *
    * Deterministic: `ntile` over (score ASC, id ASC) — the id tie-break
    * makes the tile edges engine-independent, so a Python re-derivation
    * of ANSI ntile (first `m mod n` tiles take the extra row) is exact.
    *
    * Scale note: the window partitions by LANGUAGE — a handful of huge
    * partitions at web scale (one sort per language, heavily skewed
    * toward the head languages). That is still one shuffle and the sort
    * is what exact tiling costs; the production relaxation when exactness
    * isn't required is [[perplexityBucketsSketch]] — per-lang histogram
    * quantile cut bins applied map-only, same classes up to threshold-bin
    * error, no per-lang sort. */
  def perplexityBuckets(scored: DataFrame, langCol: String, scoreCol: String,
                        idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col(scoreCol).asc, col(idCol).asc)
    scored.withColumn("ppl_bucket", ntile(3).over(w))
      .withColumn("ppl_class",
        when(col("ppl_bucket") === 1, "head")
          .when(col("ppl_bucket") === 3, "tail")
          .otherwise("middle"))
  }

  /** The map-only relaxation [[perplexityBuckets]]'s scaladoc names: CCNet
    * head/middle/tail classes from a per-language fixed-resolution HISTOGRAM
    * quantile instead of the exact per-language window sort. Two bounded
    * aggregates (per-lang min/max, then per-(lang,bin) counts — both
    * map-side combined, state ≤ |langs|·bins rows) replace the per-language
    * sort that dominates the exact operator at web scale (measured ×10.3
    * wall at ×100 corpus, docs/SCALE.md); classification is then one
    * map-only pass against a driver-computed cut-bin table that rides the
    * plan as a literal. Nothing corpus-sized crosses an exchange.
    *
    * Deterministic and externally re-derivable: the only float operation is
    * the shared bin formula `floor((s-mn)/(mx-mn)·bins)` clamped to
    * [0,bins-1] (mn/mx exact per-lang extremes; mx==mn puts everything in
    * bin 0); cut-bin selection is INTEGER arithmetic — the smallest bin B_t
    * whose cumulative count c satisfies `c·nBuckets ≥ t·n` — so a Python
    * mirror reproduces classes bit-for-bit with no float-comparison hazard.
    *
    * Approximation contract: classes match the exact tiles except for docs
    * sharing a threshold BIN with the true tile edge — error mass ≤ the
    * occupancy of `nBuckets-1` bins per language, shrinking as 1/bins
    * (spec-pinned ≥90% agreement at bins=64 on the fixture corpus).
    * Output: input columns + `ppl_bin` (int) + `ppl_class`; there is no
    * exact tile index by design — rank information is what the sketch
    * trades away.
    *
    * The input is re-read three times (extremes, histogram, classify) —
    * cheap when `scored` is a materialized (id, lang, score) projection,
    * which is the pipeline shape; callers feeding an unmaterialized LM
    * plan should localCheckpoint it first (the [[tfidfEmbed]] rationale).
    */
  def perplexityBucketsSketch(scored: DataFrame, langCol: String,
                              scoreCol: String, nBuckets: Int = 3,
                              bins: Int = 256): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    require(bins >= nBuckets, s"need bins >= nBuckets, got $bins")
    val s = col(scoreCol).cast("double")
    val ext = scored.groupBy(col(langCol))
      .agg(min(s).as("mn"), max(s).as("mx"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // the shared bin formula — built once, reused by the histogram pass and
    // the classify pass so both see the identical double arithmetic
    def binOf(mnC: Column, mxC: Column): Column =
      when(mxC === mnC, lit(0)).otherwise(
        least(lit(bins - 1),
          floor(((s - mnC) / (mxC - mnC)) * bins).cast("int")))
    val mnLit = ext.foldLeft(lit(Double.NaN)) { case (acc, (l, (mn, _, _))) =>
      when(col(langCol) === l, lit(mn)).otherwise(acc) }
    val mxLit = ext.foldLeft(lit(Double.NaN)) { case (acc, (l, (_, mx, _))) =>
      when(col(langCol) === l, lit(mx)).otherwise(acc) }
    val hist = scored
      .select(col(langCol), binOf(mnLit, mxLit).as("__b"))
      .groupBy(col(langCol), col("__b")).agg(count(lit(1)).as("c"))
      .collect()
    val counts: Map[String, Array[Long]] = {
      val m = scala.collection.mutable.Map[String, Array[Long]]()
      hist.foreach { r =>
        val arr = m.getOrElseUpdate(r.getString(0), new Array[Long](bins))
        arr(r.getInt(1)) = r.getLong(2)
      }
      m.toMap
    }
    // per-lang cut bins: B_t = smallest bin with cum·nBuckets >= t·n
    // (integer arithmetic; ANSI-tile-flavored but bin-granular)
    val cuts: Map[String, Array[Int]] = counts.map { case (lang, arr) =>
      val n = ext(lang)._3
      val out = new Array[Int](nBuckets - 1)
      var cum = 0L
      var t = 1
      var b = 0
      while (b < bins && t < nBuckets) {
        cum += arr(b)
        while (t < nBuckets && cum * nBuckets >= t * n) {
          out(t - 1) = b; t += 1
        }
        b += 1
      }
      while (t < nBuckets) { out(t - 1) = bins - 1; t += 1 }
      lang -> out
    }
    // classify map-only: bucket = 1 + #cuts strictly below the doc's bin
    val bucketOf = cuts.foldLeft(lit(1)) { case (acc, (lang, cut)) =>
      when(col(langCol) === lang,
        cut.foldLeft(lit(1))((a, cb) =>
          a + when(col("__b") > cb, 1).otherwise(0))).otherwise(acc)
    }
    scored
      .withColumn("__b", binOf(mnLit, mxLit))
      .withColumn("__bk", bucketOf)
      .withColumn("ppl_class",
        when(col("__bk") === 1, "head")
          .when(col("__bk") === nBuckets, "tail")
          .otherwise("middle"))
      .withColumnRenamed("__b", "ppl_bin")
      .drop("__bk")
  }

  /** Unicode script profile — the tokenizer-routing signal a
    * multilingual pipeline computes before any language-specific stage
    * (CCNet/FineWeb-class: BPE for Latin, character tokenizers for CJK,
    * RTL handling for Arabic): per doc, the character count in each
    * major script block plus the dominant script. Pure codegen'd
    * `regexp_count` per class — single-character classes over fixed BMP
    * ranges, so any regex engine re-derives the counts identically; no
    * shuffle. Dominant = the max-count script, ties broken by the fixed
    * class order (latin, cyrillic, cjk, arabic), `none` when every
    * class is 0 (digits/punctuation-only docs route nowhere).
    * Ranges: latin = ASCII letters + Latin-1/Extended-A/B
    * (00C0-024F), cyrillic = 0400-04FF, cjk = Han 4E00-9FFF + kana
    * 3040-30FF + Hangul AC00-D7AF, arabic = 0600-06FF. */
  def scriptProfile(df: DataFrame, textCol: String = "text"): DataFrame = {
    val classes = Seq(
      "latin" -> "[A-Za-z\\u00C0-\\u024F]",
      "cyrillic" -> "[\\u0400-\\u04FF]",
      "cjk" -> "[\\u4E00-\\u9FFF\\u3040-\\u30FF\\uAC00-\\uD7AF]",
      "arabic" -> "[\\u0600-\\u06FF]")
    val counted = classes.foldLeft(df) { case (d, (name, re)) =>
      d.withColumn(s"${name}_chars",
        regexp_count(col(textCol), lit(re)).cast("long"))
    }
    val top = greatest(classes.map { case (n, _) => col(s"${n}_chars") }: _*)
    // the when-chain's order IS the tie-break: the first class reaching
    // the max wins
    val dominant = classes.foldLeft(when(top === 0, "none")) {
      case (acc, (name, _)) => acc.when(col(s"${name}_chars") === top, name)
    }
    counted.withColumn("dominant_script", dominant)
  }

  /** Corpus data card — the per-slice summary a dataset release ships
    * (and the first thing a 100 TB pipeline owner asks of a new drop):
    * per `dims` slice, document count, exact character and whitespace-
    * token totals, distinct-content count and the exact-dup excess.
    * ONE map-side-combined aggregate over the corpus — the per-row work
    * (length, split, hash) happens before the exchange, and the
    * distinct-content count runs on `xxhash64(text)` so the expanded
    * distinct aggregate shuffles (slice, 8 B) pairs, never document
    * bodies (a 64-bit collision under-counts a slice's distinct docs by
    * ~N²/2⁶⁵ — audit-acceptable, and the gate's oracle counts distinct
    * TEXT, so a real collision would surface as a mismatch). */
  def corpusReport(df: DataFrame, textCol: String = "text",
                   dims: Seq[String] = Seq("source", "lang")): DataFrame = {
    require(dims.nonEmpty, "corpusReport needs at least one dimension")
    df.groupBy(dims.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("total_chars"),
        sum(size(split(col(textCol), "\\s+")).cast("long")).as("ws_tokens"),
        countDistinct(when(col(textCol).isNotNull, xxhash64(col(textCol))))
          .as("distinct_texts"))
      .withColumn("exact_dup_docs", col("n_docs") - col("distinct_texts"))
  }
}
