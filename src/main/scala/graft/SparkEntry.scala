package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7 and FIXTURES.md.
  *
  * Each entry in [[queries]] is one operator/capability from SURVEY.md §2
  * (the reference's five LSH scalars + the relational surface it composes
  * with, minhash.rs / euclidean_hash.rs / README.md:150-164) or one of the
  * training-data-pipeline operators this engine adds (dedup, similarity
  * search, text analysis). Where the semantics are expressible in ANSI SQL,
  * [[oracleSql]] carries an independent DuckDB recomputation. The LSH hash
  * queries — whose values DuckDB cannot *recompute* (no `lsh` extension) —
  * are still value-checked: tools/gen_oracles.py re-derives every row with
  * the independent Python implementation of the published pipeline
  * (golden-gated against every reference test vector on each run)
  * and emits literal `SELECT ... FROM (VALUES ...)` oracle SQL into
  * src/main/resources/oracles/, loaded here. The kernels are additionally
  * pinned by the bit-exact golden tests in GoldenVectorsSpec/LshSqlSpec.
  *
  * Design notes for oracle exactness:
  *  - outputs are deterministically ordered and use unique sort keys;
  *  - no floating-point SUM/AVG crosses the engine boundary (sums are over
  *    integral values cast to BIGINT; doubles appear only via MIN/MAX,
  *    compare-only, or exact integer division), so every value matches
  *    bit-for-bit;
  *  - u64 hash values travel as Long bit patterns (SURVEY.md §1.2).
  */
object SparkEntry {

  private def load(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Deterministic URL column for the per-domain gates (the documents
    * fixture has no URL): per-source hosts, a `WWW.` prefix on %5 ids,
    * %40 path collisions, trailing slashes on %3, query strings on %7,
    * fragments on %11 — every normalization rule in
    * [[graft.api.Domains]] gets exercised. Mirrored verbatim in the
    * DuckDB/Python oracles. */
  /** Deterministic raw-HTML twin of the documents fixture: each doc's
    * text wrapped in a realistic page — head metadata, style + script
    * (the script body contains `<`, `&&` and a decoy `</p>` closer),
    * comments, nav chrome, heading, list items with named/numeric
    * entities, the text split across two `<p>` blocks. Mirrored
    * byte-for-byte in tools/gen_oracles.py (`planted_html`), so the
    * html_extract gate pins the EXTRACTOR against the independent
    * Python scan, not fixture plumbing. */
  private def withPlantedHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      concat(
        lit("<!DOCTYPE html><html><head><title>Doc "),
        col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\">p { color: #333; }</style>" +
          "<script>if (x < 3 && y > 0) { track(\"</p>\"); }</script>" +
          "</head><body><!-- header --><div class=\"nav\">Home &raquo; " +
          "Docs</div><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), substring(col("text"), 1, 80),
        lit("</p><ul><li>alpha &amp; beta</li><li>&#65;&#x42; size " +
          "&lt;10&gt;</li></ul><p>"),
        substring(col("text"), 81, 1000000),
        lit("</p><br/>&copy; 2026 example</body></html>")).as("html"))

  /** Raw-HTML twin with CHROME planted around the content: nav bar,
    * link-list sidebar, short heading, an inline-linked prose paragraph
    * and a link-dense footer — the single-page boilerplate the
    * main-content tier must drop and plain extraction keeps. Mirrored
    * byte-for-byte in tools/gen_oracles.py (`planted_main_html`). */
  private def withPlantedMainHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      concat(
        lit("<html><head>"),
        // robots opt-out class for the capstone's stage 0 (a meta strips
        // to no text, so the html_main_content rows are unaffected)
        when(col("doc_id") % 9 === 4,
          lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit("")),
        lit("<title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>nav { color: red; }</style></head><body>" +
          "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/docs\">Docs" +
          "</a> <a href=\"/about\">About us</a></div>" +
          "<aside><ul><li><a href=\"/r1\">related article one</a></li>" +
          "<li><a href=\"/r2\">related article two</a></li>" +
          "<li><a href=\"/r3\">related article three</a></li></ul></aside>" +
          "<h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), substring(col("text"), 1, 80),
        lit("</p><p>See <a href=\"/guide\">the full guide</a> for " +
          "background and details: "),
        substring(col("text"), 81, 1000000),
        lit("</p><footer><a href=\"/privacy\">Privacy</a> | " +
          "<a href=\"/terms\">Terms</a> &copy; 2026 example</footer>" +
          "</body></html>")).as("html"))

  /** Template-spam twin for the compression-ratio gate: docs with
    * id % 10 == 7 become 288 template words each followed by a UNIQUE
    * slot number — no duplicate line, no repeated 2-gram (every 2-gram
    * contains a slot), so dup-line and top-n-gram counters see nothing,
    * while zlib compresses the repeated template vocabulary past 3:1.
    * Built from codegen'd builtins (sequence/transform/element_at), so
    * the fixture is distributed and the Python mirror re-derives it from
    * the same arithmetic. */
  private def withPlantedSpam(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 10 === 7,
        expr("concat_ws(' ', transform(sequence(1, 288), k -> concat(" +
          "element_at(array('item','best','price','free','shipping'," +
          "'order','now','satisfaction','guaranteed','call','today'," +
          "'deal'), CAST((k - 1) % 12 AS INT) + 1), ' ', " +
          "CAST((doc_id * 131071 + k * 8191) & 65535 AS STRING))))"))
        .otherwise(col("text")))

  /** Robots-meta twin for the noindex gate: id-keyed directive classes —
    * a straight noindex (%6==1), an UPPERCASE keep directive (%6==3), a
    * single-quoted `none` (%6==5), and a decoy page whose `noindex`
    * string lives in a DESCRIPTION meta (%6==0, must keep — the name
    * attribute decides, not the content). Mirrored byte-for-byte in
    * tools/gen_oracles.py (`planted_robots_html`). */
  private def withPlantedRobotsHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
      concat(lit("<html><head>"),
        when(col("doc_id") % 6 === 1,
          lit("<meta name=\"robots\" content=\"nofollow,\n noindex\">"))
          .when(col("doc_id") % 6 === 3,
            lit("<meta NAME=\"ROBOTS\" CONTENT=\"INDEX, FOLLOW\">"))
          .when(col("doc_id") % 6 === 5,
            lit("<meta name='robots' content='none'>"))
          .when(col("doc_id") % 6 === 0,
            lit("<meta charset=\"utf-8\">" +
              "<meta name=\"description\" content=\"x, noindex\">"))
          .otherwise(lit("")),
        lit("<title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><p>"), substring(col("text"), 1, 40),
        lit("</p></body></html>")).as("html"))

  private def withPlantedUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      concat(lit("https://"),
        when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".example.com/p"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit("?q="), (col("doc_id") % 4).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit("#s"), col("doc_id").cast("string")))
          .otherwise(lit(""))).as("url"))

  /** Multilingual derivative of the documents fixture for the tokenizer-
    * seam gates: accented Latin via translate (a→à, e→é — preserves the
    * planted cross-doc duplicate structure, since translate is a per-char
    * bijection here) plus a shared suffix containing digits, accented
    * words and per-character-tokenized CJK. Both engines derive it with
    * the same two builtins, so the gate pins the TOKENIZER, not fixture
    * plumbing. Non-ASCII is written as \u escapes: source-encoding-proof. */
  /** Accented-Latin derivative of the fixture plus a shared suffix hitting
    * every character class the ascii tokenizer is blind to: digits,
    * accents, Han, hiragana+katakana, Hangul, Thai (with a combining tone
    * mark U+0E49, which the `[^\p{L}\p{N}]` split step drops identically
    * in both engines), and (round 13) Khmer/Lao/Myanmar/Tibetan \u2014 each
    * carrying Mn/Mc dependent marks (coeng U+17D2, asat U+103A, vowel
    * signs) that both engines drop, and Lao's Lo-classified spacing vowel
    * U+0EB2 that both keep. The no-space runs segment per character only
    * under the extended script classes -- the exact under-detection the
    * narrower tokenizers had (spec-pinned in DupSpansSpec). */
  private def multilingualDocs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents").select(col("doc_id"),
      concat(translate(col("text"), "ae", "\u00e0\u00e9"),
        lit(" 42 na\u00efve \u6570\u636e\u53bb\u91cd" +
          " \u3072\u3089\u304c\u306a\u30ab\u30bf \ud55c\uae00" +
          " \u0e44\u0e17\u0e22\u0e02\u0e49\u0e2d" +
          " \u1781\u17d2\u1798\u17c2\u179a \u0ea5\u0eb2\u0ea7" +
          " \u1019\u103c\u1014\u103a\u1019\u102c \u0f56\u0f7c\u0f51" +
          " 123 d\u00e9j\u00e0 vu"))
        .as("text"))

  /** The NFC-tokenizer gate's fixture: docs 0 and 1 carry the SAME
    * nine-word accented suffix — doc 0 in NFD (decomposed combining
    * marks), doc 1 in NFC — the normal state of web text, where the two
    * spellings render identically but tokenize to different code-point
    * streams. Only an NFC-canonicalizing tokenizer can see the cross-doc
    * duplicate between them (spec-pinned: plain unicodeWords provably
    * finds no span there). Escaped \\uXXXX so the source encoding can
    * never silently re-normalize the fixture. */
  private val NfcSuffix = " caf\u00e9 r\u00e9sum\u00e9 na\u00efve d\u00e9j\u00e0 " +
    "se\u00f1or jalape\u00f1o cr\u00e8me br\u00fbl\u00e9e fianc\u00e9e"
  private val NfdSuffix = " cafe\u0301 re\u0301sume\u0301 nai\u0308ve de\u0301ja\u0300 " +
    "sen\u0303or jalapen\u0303o cre\u0300me bru\u0302le\u0301e fiance\u0301e"
  private def mixedNormDocs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") === 0, concat(col("text"), lit(NfdSuffix)))
        .when(col("doc_id") === 1, concat(col("text"), lit(NfcSuffix)))
        .otherwise(col("text")).as("text"))

  /** The contamination-span gates' fixture: a DISJOINT (corpus, benchmark)
    * split of `documents` (doc_id % 50), with a 10-token passage appended
    * to every benchmark doc AND planted into corpus docs with doc_id % 7
    * = 3 — a known benchmark leak in ~1/7 of the corpus, on top of
    * whatever organic overlap the fixture's planted duplicates already
    * straddle. Lowercase a-z tokens only, so the ascii tokenizer sees all
    * ten. Mirrored verbatim in the oracle SQL. */
  private val ContamPassage =
    "zebra quagga okapi tapir gnu eland kudu oryx saiga argali"
  private def contamSpanFixture(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = load(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" " + ContamPassage)).as("text"))
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" " + ContamPassage)))
          .otherwise(col("text")).as("text"),
        col("source"))
    (corpus, bench)
  }

  /** The staged-curation gates' shared fixture and 7-stage recipe —
    * curate_corpus_staged (in-session stop/resume) and
    * curate_corpus_staged_xsession (simulated JVM restart) must run the
    * IDENTICAL chain so both land on the same pinned oracle. */
  private def stagedCurationFixture(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, DataFrame => DataFrame)]) = {
    val docs = load(s, dir, "documents")
    val passage =
      lit(" zebra quagga okapi tapir gnu eland kudu oryx saiga argali")
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), concat(col("text"), passage).as("text"))
    val corpus0 = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("lang"), col("source"),
        concat(
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter\n"))
            .otherwise(lit("")),
          regexp_replace(col("text"), " the ", "\n"),
          when(col("doc_id") % 4 === 0, lit("\nall rights reserved"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 3, passage).otherwise(lit("")))
          .as("text"))
    val stages = Seq[(String, DataFrame => DataFrame)](
      "boilerplate_drop" -> (d => graft.api.Dedup.dropBoilerplateLines(
        d, "doc_id", "text", minDocs = 80L)),
      "decon_span_cut" -> (d => graft.api.Dedup.cutSpansExact(d,
        graft.api.Contamination.contaminatedSpans(
          d, bench, "doc_id", "text", width = 8), "doc_id", "text")),
      "dup_span_cut" -> (d => graft.api.Dedup.cutDupSpansExact(
        d, "doc_id", "text", width = 8)),
      "nb_quality_filter" -> (d => graft.api.QualityClassifier.trainScore(
          d, "text", col("lang") === "en", buckets = 1024)
        .filter(col("nb_score") > 0.0)),
      "ppl_tile" -> (d => {
        val lm = graft.api.TextAnalysis.docLogProbBigram(d)
        graft.api.TextAnalysis.perplexityBuckets(
            d.join(lm.select("doc_id", "avg_nll2"), "doc_id"),
            "lang", "avg_nll2")
          .filter(col("ppl_class") =!= "tail")
      }),
      "dsir_select" -> (d => graft.api.Sampling.dsirResample(d,
        d.filter(col("source").isin("src0", "src1")), "doc_id", "text",
        k = 80, buckets = 1024, seed = 7L)),
      "train_split" -> (d => graft.api.Sampling.assignSplits(d, "doc_id", 5L,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_v2"),
          col("ppl_class"), col("logw"))))
    (corpus0, stages)
  }

  /** The incremental-curation gate's fixture: a day-1 corpus A
    * (doc_id < 350), a day-2 batch B (>= 350) and the fixed benchmark
    * (doc_id % 50 == 0 + passage), with every admission verdict planted
    * NON-VACUOUSLY — mirrored line for line (same append order) in
    * tools/gen_oracles.py:
    *
    *  - boilerplate: "subscribe to our newsletter" (day-1-known, df >=
    *    minDocs in A alone) and "limited time offer" — planted so its
    *    document frequency crosses minDocs ONLY when B's counts merge
    *    in (the case a frozen-day-1 line table gets wrong; the Python
    *    oracle asserts the A-side count is below the cut). Both lines
    *    are < width tokens, so only the LINE rule can cut them;
    *  - dup grams: a 10-token phrase shared across A docs (flagged at
    *    build) and a second phrase in exactly ONE A doc + several B
    *    docs — duplicated only once the batch appends (the
    *    appendToGramIndex batch-vs-index path);
    *  - exact dups: two B docs share one literal text (within-batch
    *    keep-earliest) and ~15 B docs clone an A doc's text verbatim
    *    (index-vs-batch drop);
    *  - near dups: ~15 B docs clone an A doc plus a short suffix
    *    (banding + exact-Jaccard > 0.5, dropped via the component
    *    rule);
    *  - decontamination: the passage planted in doc_id % 7 == 3;
    *  - NB: organic lang labels (en = seed class). */
  private def incrementalCurationFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = load(s, dir, "documents")
    val passage =
      lit(" zebra quagga okapi tapir gnu eland kudu oryx saiga argali")
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), concat(col("text"), passage).as("text"))
    val did = col("doc_id")
    val fix0 = docs.filter(did % 50 =!= 0).select(did, col("lang"),
      concat(
        when(did % 3 === 0, lit("subscribe to our newsletter\n"))
          .otherwise(lit("")),
        regexp_replace(col("text"), " the ", "\n"),
        when(did % 11 === 5 || (did >= 350 && did % 3 === 1),
          lit("\nlimited time offer")).otherwise(lit("")),
        when(did % 13 === 2 || (did >= 350 && did % 11 === 4),
          lit(" lorem alpha beta gamma delta epsilon zeta eta theta iota"))
          .otherwise(lit("")),
        when(did === 151 || (did >= 350 && did % 31 === 9),
          lit(" omega kappa sigma lambda upsilon phi chi psi rho nu"))
          .otherwise(lit("")),
        when(did % 7 === 3, passage).otherwise(lit("")))
        .as("text"))
    val src = fix0.select((col("doc_id") + 200).as("doc_id"),
      col("text").as("__srctext"))
    val corpus = fix0.join(src, Seq("doc_id"), "left")
      .select(did, col("lang"),
        when(did >= 350 && did % 97 === 0,
          lit("the quick brown fox jumps over the lazy dog again and again"))
          .when(did >= 350 && did % 10 === 3, col("__srctext"))
          .when(did >= 350 && did % 10 === 6,
            concat(col("__srctext"), lit(" incremental clone suffix tokens")))
          .otherwise(col("text")).as("text"))
    (corpus.filter(did < 350), corpus.filter(did >= 350), bench)
  }

  /** Shared harness for the two tape-fed day-N admission gates: day-1
    * state on A, batch B as TWO WARC tape waves (sorted halves, one
    * AvailableNow pass each) through
    * [[graft.streaming.EventStreams.warcAdmitIngest]]. The projection
    * from tape records to admit inputs lives HERE (with the fixture
    * that plants doc_id in the record id and lang in the URI path),
    * per the ingest API's caller-supplied-mapping contract. With
    * `crashSecondWave`, wave 2 first runs through the planted
    * crash-before-commit seam (every write lands, the checkpoint
    * commit does not) and is then REPLAYED by the normal pass —
    * exercising admitBatch's generation skip path and the idempotent
    * id-anti-join appends; the result table must be bit-equal to the
    * uncrashed twin, so both gates share one oracle recipe. */
  private def warcAdmitGate(s: SparkSession, dir: String, prefix: String,
      scratch: String, crashSecondWave: Boolean): DataFrame = {
    import s.implicits._
    val (corpusA, batchB, bench) = incrementalCurationFixture(s, dir)
    val lookupTbl = s"${prefix}_lookup"
    val benchTbl = s"${prefix}_bench"
    val resTbl = s"${prefix}_admits"
    graft.api.IncrementalCuration.reset(s, prefix)
    Seq(lookupTbl, benchTbl, resTbl)
      .foreach(graft.api.BucketedWrite.dropTable(s, _))
    // state build, lookup/bench writes and the batch collect are four
    // independent jobs over disjoint outputs — overlapped, guide §2.6
    val b = graft.api.Par.run(s, Seq[(String, () => AnyRef)](
      (s"warcAdmitGate($prefix): day-1 state build", () => {
        graft.api.IncrementalCuration.buildState(corpusA, prefix,
          "doc_id", "text", col("lang") === "en"); null
      }),
      // few-hundred-row fixture tables scanned on every wave's probe:
      // one file each, not defaultParallelism near-empty ones
      (s"warcAdmitGate($prefix): corpus lookup table", () => {
        corpusA.coalesce(1).write.format("parquet").saveAsTable(lookupTbl); null
      }),
      (s"warcAdmitGate($prefix): bench table", () => {
        bench.coalesce(1).write.format("parquet").saveAsTable(benchTbl); null
      }),
      (s"warcAdmitGate($prefix): batch collect", () =>
        batchB.select(col("doc_id").cast("long"), col("text"), col("lang"))
          .as[(Long, String, String)].collect().sortBy(_._1))
    )).last.asInstanceOf[Array[(Long, String, String)]]
    val half = (b.length + 1) / 2
    val tmp = sys.props("java.io.tmpdir")
    val tape = java.nio.file.Paths.get(tmp, s"${scratch}_tape")
    val ckpt = java.nio.file.Paths.get(tmp, s"${scratch}_ckpt")
    Seq(tape, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    java.nio.file.Files.createDirectories(tape)
    val project: DataFrame => DataFrame = df => df.select(
      regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
        .cast("long").as("doc_id"),
      col("content").cast("string").as("text"),
      regexp_extract(col("target_uri"), "example\\.org/([a-z]+)/", 1)
        .as("lang"))
    def ingest(crash: Boolean): Unit =
      graft.streaming.EventStreams.warcAdmitIngest(s, s"$tape/*.warc",
        ckpt.toString, prefix, lookupTbl, benchTbl, resTbl, project,
        crashBeforeCommit = crash)
    Seq(b.take(half), b.drop(half)).zipWithIndex.foreach { case (wave, i) =>
      java.nio.file.Files.write(tape.resolve(s"wave$i.warc"),
        graft.sources.WarcFiles.buildWarc(wave.map { case (id, t, lg) =>
          (id, s"https://example.org/$lg/$id", t.getBytes("UTF-8"))
        }.toSeq))
      if (crashSecondWave && i == 1) {
        // the crash must actually fire (a seam that silently stopped
        // firing would turn this gate into a copy of the uncrashed one)
        // and must be the PLANTED one — anything else is a real failure
        def planted(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage).exists(_.contains("planted crash")) ||
            planted(t.getCause))
        val crashed =
          try { ingest(crash = true); false }
          catch { case e: Throwable => if (!planted(e)) throw e; true }
        require(crashed, "the planted crash-before-commit seam did not fire")
      }
      ingest(crash = false)
    }
    s.catalog.refreshTable(resTbl)
    s.table(resTbl).orderBy("doc_id")
  }

  /** The WARC tape gates' page wrap — ONE owner for the three tape
    * fixtures (a single-character drift across copies would fail three
    * gates with an opaque hash mismatch); mirrored byte-for-byte as
    * `warc_html` in tools/gen_oracles.py. Non-ASCII guillemets force
    * byte-exact Content-Length framing. */
  private def warcFixtureHtml(id: Long, t: String): String =
    "<html><head><title>Doc «" + id +
      "»</title><script>var x = 1 < 2;</script></head><body>" +
      "<h1>Doc " + id + "</h1><p>" + t + "</p></body></html>"

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (readable only as a
    * long under the legacy conf) and TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ) across driver rounds; normalize either to a micros
    * TIMESTAMP column here. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.EventStreams.normalizeEventTs(load(spark, dir, "events"))
  }

  /** The streaming replay harnesses feed typed Events from the driver; the
    * collect IS the harness (MemoryStream takes local data), not a query
    * plan — one definition so a schema tweak can't miss a site. */
  private def eventsSeq(spark: SparkSession, dir: String): Seq[graft.streaming.EventStreams.Event] = {
    import spark.implicits._
    loadEvents(spark, dir)
      .select(col("event_id").cast("long").as("event_id"), col("ts"),
        col("user_id").cast("long").as("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .as[graft.streaming.EventStreams.Event].collect().toSeq
  }

  private def withLsh(spark: SparkSession): SparkSession = {
    graft.sql.LshFunctions.register(spark)
    spark
  }

  /** Near-dup candidate pairs shared by `minhash_dedup_pairs` and
    * `dedup_clusters`. `.cache()` registers the plan with Spark's
    * CacheManager: both queries build structurally identical plans, so
    * whichever runs second reads the materialized pairs instead of
    * recomputing the banded blocking join (the dominant cost of both). The
    * second consumer finds the plan already registered (`storageLevel` looks
    * it up by plan) and does not re-issue `.cache()`.
    * Lifecycle: scoped to the driver mains — Verify's JVM exits right after
    * the run, and Bench clears the cache between timing passes so no pass
    * rides pairs materialized by an earlier one (the first consumer within
    * a pass honestly pays materialization). */
  private def nearDupPairsShared(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val pairs = graft.api.BandedLsh.nearDupPairs(docs, "doc_id", "text", 4, 8, 3, 123L, 0.5)
    if (pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) pairs.cache()
    else pairs
  }

  /** The deterministically-dirtied documents shared by every source-format
    * round-trip gate (embedded newline, quote, comma, trailing space; doc 0
    * becomes the empty string — the cases real corpus text actually
    * contains and default CSV configs actually lose). ONE recipe, here and
    * in [[dirtiedDocsOracleSql]]: a tweak that touched only one of the six
    * former copies would make that format's gate silently test a different
    * string than its oracle reconstructs. */
  private def dirtiedDocs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents").withColumn("text",
      when(col("doc_id") === 0, lit(""))
        .otherwise(concat(col("text"), lit("\nq\"uo,te "), col("lang"), lit(" "))))

  /** DuckDB reconstruction of [[dirtiedDocs]] — the shared oracle of the
    * round-trip gates. */
  private val dirtiedDocsOracleSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id = 0 THEN ''
      |            ELSE text || chr(10) || 'q"uo,te ' || lang || ' ' END AS text,
      |       lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Flagship query on sf=0.001: banded-MinHash near-dup candidate pairs over
    * documents, the reference's headline pattern (README.md:150-164) done the
    * scale-out way (posexplode band join, SURVEY.md §7.4).
    *
    * The no-dir overload is the driver's smoke contract (fixed signature);
    * the dir-taking overload is the real definition so the flagship runs
    * against any scale factor. */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, "/root/testdata/sf0.001")

  def entry(spark: SparkSession, dir: String): DataFrame = {
    withLsh(spark)
    load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql("""
      WITH banded AS (
        SELECT doc_id, text, posexplode(lsh_min(text, 4, 8, 3, 123)) AS (band, h)
        FROM documents
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             max(lsh_jaccard(a.text, b.text, 4)) AS sim
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING max(lsh_jaccard(a.text, b.text, 4)) > 0.5
      ORDER BY id_a, id_b
    """)
  }

  /** Byte-level BPE merge list for the token_count_bpe / pack_sequences_bpe
    * gates — stands in for a learned vocabulary (merges are DATA the caller
    * supplies; no model ships with the engine). Order is rank: earlier
    * merges apply first. MIRRORED verbatim in tools/gen_oracles.py
    * (BPE_MERGES) — keep the two lists identical or the crosscheck fails. */
  private[graft] val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"), ("e", "s"), ("s", "t"),
    ("a", "r"), ("o", "u"), ("i", "t"), ("an", "d"), ("in", "g"), ("t", "o"),
    ("o", "f"), ("e", "d"), ("i", "s"), ("a", "l"), ("l", "e"), ("c", "o"),
    ("s", "e"), ("m", "e"), ("d", "e"), ("the", "r"), ("h", "a"), ("c", "e"),
    ("l", "i"), ("h", "i"), ("u", "r"), ("r", "o"), ("w", "h"), ("wh", "i"))

  /** One entry per implemented operator from SURVEY.md §2 (+ pipeline ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- reference LSH surface (SURVEY §2.1) — pinned by golden tests ----
    // Hash arrays are posexploded to (id, band, h) scalar rows: the driver's
    // comparator can't sort/hash array cells, and the scalar shape is also
    // what an independent recomputation would produce row-by-row.
    "lsh_min_text" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT doc_id, band, h FROM (
                 SELECT doc_id, posexplode(lsh_min(text, 2, 3, 2, 123)) AS (band, h)
                 FROM documents)
               ORDER BY doc_id, band""")
    }),
    "lsh_min32_text" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT doc_id, band, h FROM (
                 SELECT doc_id, posexplode(lsh_min32(text, 2, 3, 2, 123)) AS (band, h)
                 FROM documents)
               ORDER BY doc_id, band""")
    }),
    "lsh_min_shingles" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "documents").createOrReplaceTempView("documents")
      // word-bigram shingles (the reference's documented shingle-list use,
      // lsh_min.test:56-75), built with Spark array functions. Shape matters
      // twice over:
      //  - no lambda body references an expression from outside the lambda:
      //    CollapseProject inlines projection aliases, and a split() inlined
      //    into a per-element lambda is re-evaluated once per ELEMENT (higher-
      //    order functions are interpreted, no subexpression elimination) —
      //    O(words · |text|) per row, measured 335x slower at sf0.1;
      //  - zip_with(words, words[2:]) pads the short side with NULL, and the
      //    outer slice(.., 1, n-1) drops that trailing NULL pair, so 0/1-word
      //    docs yield an empty shingle list (empty-shingle semantics, SURVEY
      //    §2.2.4) instead of the ANSI element_at(words, 0) error the naive
      //    sequence(1, n-1) form hits (it DESCENDS [1, 0] when n = 1).
      s.sql("""
        SELECT doc_id, band, h FROM (
          SELECT doc_id, posexplode(lsh_min(shingles, 3, 2, 123)) AS (band, h)
          FROM (
            SELECT doc_id,
                   slice(zip_with(words, slice(words, 2, greatest(size(words) - 1, 0)),
                                  (a, b) -> concat(a, ' ', b)),
                         1, greatest(size(words) - 1, 0)) AS shingles
            FROM (SELECT doc_id, split(text, ' ') AS words FROM documents)))
        ORDER BY doc_id, band""")
    }),
    "lsh_euclidean_embed" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql("""SELECT vec_id, band, h FROM (
                 SELECT vec_id,
                        posexplode(lsh_euclidean(CAST(embedding AS ARRAY<DOUBLE>), 0.5, 2, 3, 123)) AS (band, h)
                 FROM embeddings)
               ORDER BY vec_id, band""")
    }),
    "lsh_euclidean32_embed" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql("""SELECT vec_id, band, h FROM (
                 SELECT vec_id,
                        posexplode(lsh_euclidean32(CAST(embedding AS ARRAY<DOUBLE>), 0.5, 2, 3, 123)) AS (band, h)
                 FROM embeddings)
               ORDER BY vec_id, band""")
    }),
    "lsh_min32_shingles" -> ((s, dir) => {
      // the lsh_min32 shingle-list overload (minhash.rs:204-234) — same
      // word-bigram construction as lsh_min_shingles (see the shape notes
      // there); the only delta is the low-32 truncation law (lib.rs:23-27)
      withLsh(s)
      load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""
        SELECT doc_id, band, h FROM (
          SELECT doc_id, posexplode(lsh_min32(shingles, 3, 2, 123)) AS (band, h)
          FROM (
            SELECT doc_id,
                   slice(zip_with(words, slice(words, 2, greatest(size(words) - 1, 0)),
                                  (a, b) -> concat(a, ' ', b)),
                         1, greatest(size(words) - 1, 0)) AS shingles
            FROM (SELECT doc_id, split(text, ' ') AS words FROM documents)))
        ORDER BY doc_id, band""")
    }),
    "lsh_euclidean_d384" -> ((s, dir) => {
      // lsh_euclidean at a production embedding dim: six differently-scaled
      // copies of the d=64 fixture vector concatenated into d=384. This is
      // the regime SURVEY §7.5.3 flags — 384 sequential dot-product
      // accumulation steps, where a last-ulp difference in summation order
      // vs the reference (euclidean_hasher.rs:28-38) would flip a ceil
      // bucket. Both engines accumulate left-to-right in correctly-rounded
      // IEEE doubles, so hashes are bit-exact; the Python oracle re-derives
      // the same 384-step fold. Scale constants are exact dyadic rationals
      // (sign-mixed so positive/negative accumulation both occur).
      withLsh(s)
      load(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql("""SELECT vec_id, band, h FROM (
                 SELECT vec_id, posexplode(lsh_euclidean(x, 0.5, 2, 3, 123)) AS (band, h)
                 FROM (
                   SELECT vec_id,
                          flatten(array(
                            transform(e, v -> v * 0.5D),
                            transform(e, v -> v * -1.25D),
                            transform(e, v -> v * 2.0D),
                            transform(e, v -> v * 0.75D),
                            transform(e, v -> v * -0.125D),
                            transform(e, v -> v * 1.5D))) AS x
                   FROM (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e
                         FROM embeddings)))
               ORDER BY vec_id, band""")
    }),
    "lsh_jaccard_docs" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT a.doc_id AS id_a, b.doc_id AS id_b, lsh_jaccard(a.text, b.text, 2) AS sim
               FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
               ORDER BY id_a""")
    }),
    "lsh_jaccard_customer" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
                      lsh_jaccard(a.c_name, b.c_name, 2) AS sim
               FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
               ORDER BY key_a""")
    }),
    "lsh_blocking_join" -> ((s, dir) => {
      withLsh(s)
      // README.md:150-164 semantics: per-seed single-band blocking, UNION
      // across seeds, exact-jaccard > 0.8 filter — computed by the fused
      // triangle-blocked pairwise operator (3x the relational-join form at
      // sf0.1: the join materializes each of ~10^8 candidate pairs through
      // ~2us of machinery while the jaccard kernel is 156ns; the fused loop
      // also parallelizes INSIDE the mega-bucket, which AQE cannot split).
      // Verbatim SQL form supported and proven pair-identical in
      // PipelineOpsSpec ("bandedSelfJoinPairs equals the SQL blocking join").
      // Rows-only by necessity: the README pattern is 2 seeds x 1 band of 3,
      // whose recall at the data's sim level (~0.85) is ~0.89 (measured:
      // 12560 of 14055 ground-truth pairs at sf0.01) — the emitted set is
      // defined by MinHash collisions, which DuckDB cannot recompute. The
      // value-checked twin is minhash_dedup_pairs, whose banding (8x3) has
      // recall 1 on this data and a brute-force ground-truth oracle.
      val customer = load(s, dir, "customer")
      graft.api.BandedLsh.bandedSelfJoinPairs(customer, "c_custkey", "c_name",
          ngramWidth = 2, bandCount = 1, bandSize = 3, seeds = Seq(1L, 2L), threshold = 0.8)
        .select(col("id_a").as("key_a"), col("id_b").as("key_b"))
        .orderBy("key_a", "key_b")
    }),
    "edit_blocked_pairs" -> ((s, dir) => {
      // record-linkage shape: banded MinHash blocking on a SHORT key
      // column verified by normalized Levenshtein ≥ 0.9 (one-char edits
      // on the 18-char names). The oracle pins the candidate set via the
      // Python minhash mirror, then DuckDB recomputes lev + edit_sim and
      // re-applies the filter itself — the verification arithmetic is
      // engine-checked end to end.
      withLsh(s)
      val customer = load(s, dir, "customer")
      graft.api.BandedLsh.editVerifiedPairs(customer, "c_custkey", "c_name",
          ngramWidth = 2, bandCount = 4, bandSize = 6, seed = 5L, minSim = 0.9)
        .select(col("id_a").as("key_a"), col("id_b").as("key_b"),
          col("lev"), col("edit_sim"))
        // pin the (small) verified set before the global sort: the range
        // partitioner's sampling pass otherwise re-executes the whole
        // candidate-verify leg — the Levenshtein DP over every candidate
        // pair ran TWICE (two ~equal heavy stages, measured at sf0.1)
        .localCheckpoint()
        .orderBy("key_a", "key_b")
    }),

    // The NON-ASCII leg of the record-linkage verifier: the same fixture
    // with its names accented by a per-char bijection (a -> U+00E0,
    // e -> U+00E9), so every key carries multi-byte code points. The
    // oracle is a full Python re-derivation (accent map, shingle bands,
    // CODE-POINT Levenshtein DP) — a byte-edit distance ('à' = 2
    // bytes) or a UTF-16 unit count would land different lev values and
    // fail the hash, which is exactly the cross-engine footgun this gate
    // exists to pin shut.
    "edit_pairs_unicode" -> ((s, dir) => {
      // 400-key slice: the semantic pin needs multi-byte keys, not the
      // ASCII gate's full-cardinality verifier workload (that cost is
      // already measured by edit_blocked_pairs)
      val customer = load(s, dir, "customer")
        .filter(col("c_custkey") <= 400)
        .select(col("c_custkey"),
          translate(col("c_name"), "ae", "\u00e0\u00e9").as("c_name"))
      graft.api.BandedLsh.editVerifiedPairs(customer, "c_custkey", "c_name",
          ngramWidth = 2, bandCount = 4, bandSize = 6, seed = 5L, minSim = 0.9)
        .select(col("id_a").as("key_a"), col("id_b").as("key_b"),
          col("lev"), col("edit_sim"))
        .orderBy("key_a", "key_b")
    }),

    // ---- relational surface the reference composes with (SURVEY §2.3) ----
    "q1_agg" -> ((s, dir) => {
      load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               count(*) AS cnt,
               sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    }),
    "q2_join_agg" -> ((s, dir) => {
      load(s, dir, "customer").createOrReplaceTempView("customer")
      load(s, dir, "orders").createOrReplaceTempView("orders")
      load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT c.c_mktsegment, count(*) AS line_cnt,
               sum(CAST(l.l_quantity AS BIGINT)) AS sum_qty,
               count(DISTINCT o.o_orderkey) AS order_cnt
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY c.c_mktsegment
        ORDER BY c_mktsegment""")
    }),
    // Inner join on a pure OR of cross-side equalities — the SURVEY §7.4
    // banded-join idiom, relationally. Without OrEquiJoinExpansion Spark
    // plans this as a broadcast nested-loop (O(n·m) comparisons); with it,
    // two disjoint equi-joins UNION ALL'd (OrJoinRewriteSpec pins the plan
    // shape + null/multiplicity semantics; this gate pins the values).
    "or_join_expand" -> ((s, dir) => {
      withLsh(s) // installs the optimizer rule on runtime-registered sessions
      load(s, dir, "customer").createOrReplaceTempView("customer")
      load(s, dir, "supplier").createOrReplaceTempView("supplier")
      s.sql("""
        SELECT c_nationkey AS nation, count(*) AS pairs,
               sum(CAST(s_nationkey AS BIGINT)) AS sum_snation
        FROM customer c JOIN supplier s
          ON c.c_nationkey = s.s_nationkey
          OR right(c.c_name, 2) = right(s.s_name, 2)
        GROUP BY c_nationkey
        ORDER BY nation""")
    }),
    // Skew-salted fact⋈dim join (graft.api.Skew.saltedJoin): the fact side
    // scatters across 8 salt buckets by row hash, the dim side replicates
    // 8-fold, so a hot order key occupies 8 reducers instead of one. The
    // result is column-identical to the plain join — the oracle IS the
    // plain join in DuckDB.
    "salted_join_agg" -> ((s, dir) => {
      val li = load(s, dir, "lineitem")
      val ord = load(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      graft.api.Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey",
          Seq(col("l_orderkey"), col("l_partkey")), 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("line_cnt"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),
    "skewsafe_band_join" -> ((s, dir) => {
      // adversarial band-join workload from TPC-H keys: every o_custkey/
      // c_custkey below 100 collapses into ONE (band, band_hash) bucket
      // (~1k orders × ~99 customers ≈ 10^5 pairs — classified hot and
      // grid-blocked across 8 tasks), everything else stays a cold
      // singleton bucket on the plain-join path. The oracle is the plain
      // DuckDB join: bandJoinSkewSafe must be row-for-row EXACT, the
      // blocking only changes which task computes a pair.
      def bucketed(t: String, key: String, id: String, as: String) =
        load(s, dir, t).select(lit(0).as("band"),
          when(col(key) < 100, lit(0L)).otherwise(col(key).cast("long")).as("band_hash"),
          col(id).cast("long").as(as))
      graft.api.BandedLsh.bandJoinSkewSafe(
          bucketed("orders", "o_custkey", "o_orderkey", "id_a"),
          bucketed("customer", "c_custkey", "c_custkey", "id_b"),
          scatterA = col("id_a"), hotThreshold = 10000L, blocks = 8)
        .groupBy("band_hash")
        .agg(count(lit(1)).as("pairs"), min("id_a").as("min_a"), max("id_b").as("max_b"))
        .orderBy("band_hash")
    }),
    "q3_broadcast_dims" -> ((s, dir) => {
      load(s, dir, "region").createOrReplaceTempView("region")
      load(s, dir, "nation").createOrReplaceTempView("nation")
      load(s, dir, "customer").createOrReplaceTempView("customer")
      // region/nation are tiny: Catalyst broadcast-joins them (checked in
      // PlanShapeSpec); the oracle only sees the result.
      s.sql("""
        SELECT r.r_name, count(*) AS customers,
               min(c.c_acctbal) AS min_bal, max(c.c_acctbal) AS max_bal
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                      JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY r.r_name
        ORDER BY r_name""")
    }),
    "q4_window_topn" -> ((s, dir) => {
      load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
          FROM orders)
        WHERE rnk <= 3
        ORDER BY o_orderpriority, rnk""")
    }),
    // q4's exact result computed the scale way: topk_by folds a k-entry
    // heap map-side, so the shuffle carries <= k rows per (group, task)
    // instead of every order row into a per-priority sort partition
    // (TopKByScore scaladoc; PlanShapeSpec pins no-Window + partial agg).
    // The oracle is the window idiom — the two shapes must agree row-for-row.
    "topk_per_group" -> ((s, dir) => {
      load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(graft.functions.topk_by(col("o_totalprice").cast("double"),
          col("o_orderkey").cast("long"), 3).as("tk"))
        .select(col("o_orderpriority"), posexplode(col("tk")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
        .orderBy("o_orderpriority", "rnk")
    }),
    "q5_semi_anti" -> ((s, dir) => {
      load(s, dir, "customer").createOrReplaceTempView("customer")
      load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT 'with_orders' AS bucket, count(*) AS cnt
        FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT 'without_orders' AS bucket, count(*) AS cnt
        FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY bucket""")
    }),
    "q6_datetime_agg" -> ((s, dir) => {
      load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
               count(*) AS orders, min(o_totalprice) AS min_price
        FROM orders GROUP BY date_format(o_orderdate, 'yyyy-MM')
        ORDER BY month""")
    }),
    "q7_json_extract" -> ((s, dir) => {
      loadEvents(s, dir).createOrReplaceTempView("events")
      s.sql("""
        SELECT event_type,
               sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS sum_k,
               count(*) AS cnt
        FROM events GROUP BY event_type ORDER BY event_type""")
    }),
    "q8_grouping_sets" -> ((s, dir) => {
      load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY status, priority""")
    }),
    "q9_events_window" -> ((s, dir) => {
      loadEvents(s, dir).createOrReplaceTempView("events")
      // tumbling 1h windows, batch form of the streaming aggregation in
      // graft.streaming (same plan shape under readStream)
      s.sql("""
        SELECT date_format(window(ts, '1 hour').start, 'yyyy-MM-dd HH:mm') AS win_start,
               event_type, count(*) AS cnt, min(value) AS min_v, max(value) AS max_v
        FROM events GROUP BY window(ts, '1 hour'), event_type
        ORDER BY win_start, event_type""")
    }),

    // ---- training-data pipeline operators ----
    "dedup_exact" -> ((s, dir) => {
      load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""
        SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS copies
        FROM documents GROUP BY md5(text)
        ORDER BY text_hash""")
    }),
    // Global first-come paragraph dedup (Dedup.dedupParagraphs), the
    // FineWeb-class rule. Fixture: sentences become paragraphs (". " ->
    // ".\n\n") so the corpus's natural cross-doc sentence repeats are
    // real paragraph dups, plus planted header/footer boilerplate
    // paragraphs. Oracle: DuckDB re-derives keep-first-by-(doc_id, pos)
    // grouping paragraphs by their STRING — the Spark side decides on
    // xxhash64, so a hash collision would surface here as a mismatch.
    "paragraph_dedup" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("Subscribe to our newsletter.\n\n")).otherwise(lit("")),
          regexp_replace(col("text"), "\\. ", ".\n\n"),
          when(col("doc_id") % 4 === 0,
            lit("\n\nAll rights reserved.")).otherwise(lit("")))
          .as("text"))
      graft.api.Dedup.dedupParagraphs(docs, "doc_id", "text")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // Cross-doc duplicate token SPANS (Dedup.dupSpans): exact-substring
    // dedup a la Lee et al. 2022, as distributed shingle-hash grouping
    // instead of a global suffix array. Oracle: DuckDB re-derives the same
    // definition from the raw text — grams grouped by their STRING (the
    // Spark side groups by xxhash64, so a hash collision would surface
    // here as a mismatch, not hide).
    "dup_span_detect" -> ((s, dir) => {
      graft.api.Dedup.dupSpans(load(s, dir, "documents"), "doc_id", "text",
          width = 8)
        .orderBy("doc_id", "span_start")
    }),
    // Incremental span mining (round 13): build the persisted gram index
    // on 2/3 of the corpus, admit the rest as a rolling batch, read the
    // spans from the flag state. The oracle is dup_span_detect's FULL-
    // corpus SQL re-derivation verbatim — the rolling pipeline must land
    // on exactly the batch answer over the union, while paying only the
    // batch's mining cost per ingest (the corpus text is never re-read).
    "rolling_dup_spans" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      graft.api.Dedup.saveGramIndex(docs.filter(col("doc_id") % 3 < 2),
        "graft_gram_idx", 8, "doc_id", "text", width = 8)
      graft.api.Dedup.appendToGramIndex(docs.filter(col("doc_id") % 3 === 2),
        "graft_gram_idx", "doc_id", "text", width = 8)
      graft.api.Dedup.dupSpansFromIndex(s, "graft_gram_idx")
        .orderBy("doc_id", "span_start")
    }),
    "corpus_diff" -> ((s, dir) => {
      // dataset-version audit: v1 = docs < 450, v2 = docs >= 50 with
      // every doc_id % 13 == 0 rewritten (the re-crawl-updated shape) —
      // all four statuses present. The operator compares 8-byte xxhash64
      // signatures (the scale path: the full-outer join never carries
      // bodies); the oracle compares the TEXT itself, so the gate also
      // pins that the hash compare classifies identically on this corpus.
      val docs = load(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") < 450)
      val v2 = docs.filter(col("doc_id") >= 50)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      graft.api.Dedup.corpusDiff(v1, v2).orderBy("doc_id")
    }),
    "takedown_pipeline" -> ((s, dir) => {
      // the takedown story END TO END: ONE deletion set threaded through
      // both doc-side persisted index families over the same corpus split
      // (build < 300, append 300..399, delete doc_id % 7 == 0), then
      // every post-delete surface answered from the compacted state: the
      // span index must detect as if the deleted docs never existed, and
      // the signature probe of fresh docs (>= 400) against the surviving
      // corpus must emit exactly the survivors' pair set. Composition
      // bugs — a deletion set applied to one index but not the other,
      // id-threading, stale reads across the two compactions — are what
      // the per-index gates cannot see. Output: one tall frame,
      // surface='span' rows (doc, span_start, n_tokens) + surface='pair'
      // rows (batch, corpus, sim).
      val docs = load(s, dir, "documents")
      val deleted = docs
        .filter(col("doc_id") < 400 && col("doc_id") % 7 === 0)
        .select("doc_id")
      // the two index families (gram spans, signatures) are independent
      // build→append→compact chains over disjoint tables, only joined at
      // the final union — run the chains overlapped (guide §2.6); order
      // WITHIN each chain is the lifecycle under test and stays sequential
      graft.api.Par.run(s, Seq[(String, () => Unit)](
        ("takedown_pipeline: gram-index chain", () => {
          graft.api.Dedup.saveGramIndex(docs.filter(col("doc_id") < 300),
            "graft_take_gidx", 8, "doc_id", "text", width = 8)
          graft.api.Dedup.appendToGramIndex(
            docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
            "graft_take_gidx", "doc_id", "text", width = 8)
          graft.api.Dedup.compactGramIndex(s, "graft_take_gidx", deleted,
            width = 8)
        }),
        ("takedown_pipeline: signature-index chain", () => {
          graft.api.BandedLsh.saveSignatureIndex(
            docs.filter(col("doc_id") < 300),
            "graft_take_sidx", 8, "doc_id", "text", 4, 8, 3, 123L,
            hotBucketCap = 5)
          graft.api.BandedLsh.appendToSignatureIndex(
            docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
            "graft_take_sidx", "doc_id", "text", 4, 8, 3, 123L)
          graft.api.BandedLsh.compactSignatureIndex(s, "graft_take_sidx",
            deleted)
          ()
        })))
      val survivors = docs.filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
      val spans = graft.api.Dedup.dupSpansFromIndex(s, "graft_take_gidx")
        .select(lit("span").as("surface"), col("doc_id").cast("long").as("a"),
          col("span_start").cast("long").as("b"),
          col("n_tokens").cast("double").as("v"))
      val pairs = graft.api.BandedLsh.nearDupAgainstIndex("graft_take_sidx",
          survivors, docs.filter(col("doc_id") >= 400),
          "doc_id", "text", 4, 8, 3, 123L, 0.35)
        .select(lit("pair").as("surface"), col("batch_id").cast("long").as("a"),
          col("corpus_id").cast("long").as("b"), col("sim").as("v"))
      spans.unionByName(pairs).orderBy("surface", "a", "b")
    }),
    // The retention-delete lifecycle (round 14): build + append as above,
    // then compact a takedown set (doc_id%5==0) OUT of the index —
    // triples rewritten minus the deleted docs, flags RE-DERIVED from the
    // surviving triples (never the corpus text). Oracle: the same
    // dup-span CTE chain recomputed from scratch over ONLY the surviving
    // documents — so a compaction that merely filtered flags (keeping a
    // span whose only duplicate partner was deleted) mismatches.
    "gram_index_compact" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      graft.api.Dedup.saveGramIndex(docs.filter(col("doc_id") % 3 < 2),
        "graft_gram_cidx", 8, "doc_id", "text", width = 8)
      graft.api.Dedup.appendToGramIndex(docs.filter(col("doc_id") % 3 === 2),
        "graft_gram_cidx", "doc_id", "text", width = 8)
      graft.api.Dedup.compactGramIndex(s, "graft_gram_cidx",
        docs.filter(col("doc_id") % 5 === 0).select("doc_id"), width = 8)
      graft.api.Dedup.dupSpansFromIndex(s, "graft_gram_cidx")
        .orderBy("doc_id", "span_start")
    }),
    // The destructive edit: flagged spans cut, text rebuilt from the kept
    // tokens (canonical single-space join). Every doc survives — what Lee
    // et al. actually do to the training set, vs dropping whole docs.
    "dup_span_cut" -> ((s, dir) => {
      graft.api.Dedup.cutDupSpans(load(s, dir, "documents"), "doc_id", "text",
          width = 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // The layout-preserving cut (round 13): same spans, but each span
    // deletes its CHARACTER range from the original text — whitespace,
    // punctuation, digits and casing outside every span survive
    // byte-identical, so unflagged documents round-trip bit-identical
    // (which this gate checks corpus-wide: the oracle is a full Python
    // re-derivation of spans + the byte-range cut over the original text).
    "dup_span_cut_exact" -> ((s, dir) => {
      graft.api.Dedup.cutDupSpansExact(load(s, dir, "documents"), "doc_id",
          "text", width = 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // The duplication report: % of each source's tokens inside cross-doc
    // dup spans — the before/after number for span cutting. Oracle reuses
    // the dup_span_detect CTE chain and joins per-doc token totals.
    "dup_span_stats" -> ((s, dir) => {
      graft.api.Dedup.dupSpanStats(load(s, dir, "documents"), "doc_id",
          "text", groupCol = "source", width = 8)
        .orderBy("source")
    }),
    // The tokenizer-seam gates: span mining over a MULTILINGUAL derivative
    // of the fixture (accented Latin via translate — preserves the planted
    // cross-doc duplicate structure — plus a shared digits+CJK+accents
    // suffix), with Tokenizers.unicodeWords. The ASCII tokenizer is blind
    // to every character class this fixture adds; the oracle re-derives
    // spans with the IDENTICAL two-step tokenizer in DuckDB RE2.
    "dup_span_detect_tok" -> ((s, dir) => {
      graft.api.Dedup.dupSpans(multilingualDocs(s, dir), "doc_id", "text",
          width = 8, tokenize = graft.api.Tokenizers.unicodeWords)
        .orderBy("doc_id", "span_start")
    }),
    "dup_span_cut_tok" -> ((s, dir) => {
      graft.api.Dedup.cutDupSpans(multilingualDocs(s, dir), "doc_id", "text",
          width = 8, tokenize = graft.api.Tokenizers.unicodeWords)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // Lee et al.'s ACTUAL rule (crossDocOnly=false): ANY second occurrence
    // of a width-gram flags — including a repeat inside ONE document, the
    // self-boilerplate case the cross-doc rule deliberately skips. Fixture
    // derivative doubles every 7th doc's text (both engines build it from
    // the same concat), guaranteeing intra-doc repeats the cross-doc gate
    // provably ignores; oracle = same CTE chain with HAVING count(*) >= 2.
    "dup_span_detect_within" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.api.Dedup.dupSpans(docs, "doc_id", "text", width = 8,
          crossDocOnly = false)
        .orderBy("doc_id", "span_start")
    }),
    // Span mining over the REAL tokenizer: byte-level BPE token identity
    // (Lee et al. run exact-substring dedup on tokenizer output, not word
    // splits). Oracle: gen_oracles.py re-derives tokens+spans in Python
    // from the same merge list, grams keyed by token-tuple CONTENT (vs
    // Spark's xxhash64 — a hash collision would surface as a mismatch).
    "dup_span_detect_bpe" -> ((s, dir) => {
      graft.api.Dedup.dupSpans(load(s, dir, "documents"), "doc_id", "text",
          width = 8, tokenize = graft.api.Tokenizers.bpe(BpeMerges))
        .orderBy("doc_id", "span_start")
    }),
    // The destructive edit under the SAME BPE token identity: flagged
    // flat-stream token indices cut, text rebuilt from the kept tokens'
    // BYTES (within-word concat, single space between surviving words) —
    // detection and destruction share one tokenizer. Oracle: Python
    // re-derives tokens -> spans -> byte rebuild from the same merge list.
    "dup_span_cut_bpe" -> ((s, dir) => {
      graft.api.Dedup.cutDupSpansBpe(load(s, dir, "documents"), "doc_id",
          "text", width = 8, merges = BpeMerges)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // The normalization-form gate: docs 0/1 share a 9-word accented suffix
    // spelled in NFD vs NFC (mixedNormDocs — the normal state of web
    // text). Tokenizers.unicodeWordsNFC canonicalizes first, so the
    // cross-pair span IS detected (spec-pinned: plain unicodeWords finds
    // no span there). Oracle: DuckDB nfc_normalize + the identical RE2
    // two-step — UAX #15 stability across Unicode versions is what makes
    // the cross-engine pin fair (same argument as the normalize_nfc gate).
    "dup_span_detect_nfc" -> ((s, dir) => {
      graft.api.Dedup.dupSpans(mixedNormDocs(s, dir), "doc_id", "text",
          width = 8, tokenize = graft.api.Tokenizers.unicodeWordsNFC)
        .orderBy("doc_id", "span_start")
    }),
    "dedup_near_window" -> ((s, dir) => {
      withLsh(s)
      load(s, dir, "documents").createOrReplaceTempView("documents")
      // exact n-gram-Jaccard near-dup scan over a bounded candidate window.
      // The window is expressed as explode+equi-join, not a range join: a
      // range predicate would force a nested-loop cross product (O(n²) pairs)
      // while this shape hash-joins O(n·window) pairs — the difference between
      // 429s and <1s at sf0.1, and between feasible and not at 100 TB.
      s.sql("""
        SELECT id_a, id_b, sim FROM (
          SELECT p.id_a, b.doc_id AS id_b, lsh_jaccard(p.ta, b.text, 3) AS sim
          FROM (SELECT a.doc_id AS id_a, a.text AS ta, a.doc_id + d.delta AS id_b_target
                FROM documents a
                LATERAL VIEW explode(sequence(1, 5)) d AS delta) p
          JOIN documents b ON b.doc_id = p.id_b_target)
        WHERE sim > 0.5
        ORDER BY id_a, id_b""")
    }),
    // Unicode script profile (TextAnalysis.scriptProfile): per-doc
    // character counts in the major script blocks + the dominant script,
    // the tokenizer-routing signal. Fixture plants Cyrillic/CJK/Arabic
    // tails on a doc_id lattice and two fully-foreign doc classes so the
    // dominant column is exercised beyond latin. Oracle: DuckDB
    // recomputes every count with its own regex engine (RE2 \x{hhhh}
    // ranges vs Java \uhhhh — all BMP, so code-unit and code-point
    // counting agree) and re-derives the dominant CASE.
    "script_profile" -> ((s, dir) => {
      val planted =
        when(col("doc_id") % 17 === 0,
          lit("Привет мир и ещё немного кириллицы здесь"))
          .when(col("doc_id") % 19 === 0, lit("中文文档内容完全是汉字没有别的"))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 7 === 0, lit(" Привет мир")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit(" 中文测试内容")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0, lit(" مرحبا بالعالم")).otherwise(lit(""))))
      graft.api.TextAnalysis.scriptProfile(
          load(s, dir, "documents").select(col("doc_id"), planted.as("text")),
          "text")
        .select("doc_id", "latin_chars", "cyrillic_chars", "cjk_chars",
          "arabic_chars", "dominant_script")
        .orderBy("doc_id")
    }),
    // Corpus data card (TextAnalysis.corpusReport): per-(source, lang)
    // document/char/token totals + distinct-content counts — the release
    // summary a dataset drop ships. Oracle: DuckDB recomputes the whole
    // card, counting distinct TEXT where the Spark side counts distinct
    // xxhash64(text) — a real hash collision would land as a mismatch.
    "corpus_report" -> ((s, dir) => {
      graft.api.TextAnalysis.corpusReport(
          load(s, dir, "documents"), "text", Seq("source", "lang"))
        .orderBy("source", "lang")
    }),
    "text_stats" -> ((s, dir) => {
      load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(size(split(text, ' ')) AS BIGINT) AS words,
               CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS distinct_words,
               CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / size(split(text, ' ')) AS lexical_diversity,
               CAST(size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS stopwords
        FROM documents ORDER BY doc_id""")
    }),
    // CCNet-style unigram cross-entropy: avg negative log-likelihood of
    // each doc under the corpus' own unigram distribution (pinned ln +
    // sorted fold, so the doubles are engine-exact). Oracle: full Python
    // re-derivation (tokenize -> corpus counts -> sorted term fold),
    // pinned VALUES.
    "doc_logprob" -> ((s, dir) => {
      graft.api.TextAnalysis.docLogProb(load(s, dir, "documents"))
        .orderBy("doc_id")
    }),
    // the word-ORDER-aware quality score: add-one bigram transition NLL
    // under the corpus's own counts (docLogProbBigram scaladoc) — catches
    // shuffled/garbled text the unigram scores as fluent. Oracle: full
    // Python re-derivation (counts → sorted fold in pinned ln), VALUES.
    "doc_logprob_bigram" -> ((s, dir) => {
      graft.api.TextAnalysis.docLogProbBigram(load(s, dir, "documents"))
        .orderBy("doc_id")
    }),
    "perplexity_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail: per-language ntile(3) over the bigram-LM
      // score (avg_nll2 ASC, doc_id tie-break). The oracle re-derives the
      // LM score with the independent Python mirror AND re-implements
      // ANSI ntile, so both the scorer and the tiling are pinned.
      val docs = load(s, dir, "documents")
      val scored = graft.api.TextAnalysis.docLogProbBigram(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
      graft.api.TextAnalysis.perplexityBuckets(scored, "lang", "avg_nll2")
        .select(col("doc_id"), col("lang"), col("ppl_bucket"), col("ppl_class"))
        .orderBy("doc_id")
    }),
    "perplexity_buckets_sketch" -> ((s, dir) => {
      // the map-only relaxation of perplexity_buckets: per-lang histogram
      // quantile cut bins (two bounded aggregates, integer cut selection)
      // instead of the per-language window sort — the web-scale path the
      // exact operator's scaladoc names. Oracle: full Python re-derivation
      // of score + binning + cut loop, pinned VALUES. The (id, lang,
      // score) projection is pinned (pinFrontier — corpus-rows wide, so
      // cluster-replicated blocks, not a bare localCheckpoint) so the
      // three sketch passes read stored blocks, not three LM recomputes.
      val docs = load(s, dir, "documents")
      val scored = graft.api.TextAnalysis.docLogProbBigram(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "avg_nll2")
        .transform(graft.api.SparkEnv.pinFrontier)
      graft.api.TextAnalysis.perplexityBucketsSketch(
          scored, "lang", "avg_nll2", nBuckets = 3, bins = 64)
        .select(col("doc_id"), col("lang"), col("ppl_bin"), col("ppl_class"))
        .orderBy("doc_id")
    }),
    "token_entropy" -> ((s, dir) => {
      // pinned-ln Shannon entropy of each doc's token distribution — the
      // gibberish/boilerplate quality signal; sorted-count fold makes the
      // float sum partition-order-independent (VALUES oracle re-derives
      // the identical fold in Python)
      graft.api.TextAnalysis.tokenEntropy(load(s, dir, "documents"))
        .orderBy("doc_id")
    }),
    // ---- source/sink coverage beyond parquet (the reference's DuckDB host
    // reads CSV/JSON natively; a Spark user needs the same corpus paths).
    // Each gate is a full write -> read-back round trip with an explicit
    // schema, value-checked against the parquet ground truth — so encoder
    // AND decoder must both be lossless, not just parse. The fixture text
    // is clean, so the gates DIRTY it deterministically via dirtiedDocs /
    // dirtiedDocsOracleSql — ONE recipe shared by all three format gates
    // and their oracles.
    "source_csv_roundtrip" -> ((s, dir) => {
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_csv"
      // the lossless CSV recipe (each option covers a measured loss):
      // multiLine for embedded newlines; nullValue sentinel so quoted empty
      // strings aren't read back as NULL; writer whitespace trimming OFF
      // (it defaults ON and silently eats trailing spaces)
      docs.write.mode("overwrite").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("nullValue", "\\N").option("emptyValue", "\"\"")
        .csv(path)
      s.read.schema(docs.schema).option("header", "true")
        .option("multiLine", "true").option("nullValue", "\\N").csv(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    "source_jsonl_roundtrip" -> ((s, dir) => {
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_jsonl"
      docs.write.mode("overwrite").json(path)
      s.read.schema(docs.schema).json(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // Gzipped JSONL round trip — .jsonl.gz is THE pretraining interchange
    // format (web-crawl shards ship this way); the gate exercises Spark's
    // write-side codec option and the transparent decompress-on-read path
    // (gz is NOT splittable: one file = one task, so real pipelines shard
    // into many files — the write here keeps the corpus' partitioning).
    // Same dirtied strings and oracle as the plain JSONL gate: compression
    // must be invisible to the data.
    "source_jsonl_gz_roundtrip" -> ((s, dir) => {
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_jsonl_gz"
      docs.write.mode("overwrite").option("compression", "gzip").json(path)
      val files = new java.io.File(path).listFiles()
      require(files.exists(_.getName.endsWith(".json.gz")),
        s"expected gzip-compressed jsonl parts under $path")
      s.read.schema(docs.schema).json(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    "source_jsonl_corrupt" -> ((s, dir) => {
      // crawl-ingest robustness: real JSONL dumps carry malformed lines
      // (truncated records, stray HTML, encoding damage), and a 100 TB
      // ingest must neither die on them NOR silently drop valid rows.
      // PERMISSIVE mode + a columnNameOfCorruptRecord column makes the
      // damage OBSERVABLE: corrupt lines surface as rows with the raw
      // line captured, valid rows parse untouched. The gate plants 7
      // malformed lines in a real dump, pins the corrupt COUNT exactly,
      // and returns the valid rows — which must equal the uncorrupted
      // roundtrip bit-for-bit.
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_jsonl_bad"
      docs.coalesce(1).write.mode("overwrite").json(path)
      val part = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".json")).head
      val bad = Seq(
        "{\"doc_id\": 900001, \"text\": \"truncated",
        "<html><body>not json at all</body></html>",
        "{\"doc_id\": } ",
        "{'doc_id': 900002}",            // single quotes: invalid under allowSingleQuotes=false
        "\u0000\u0001 binary junk",
        "{\"doc_id\": 900003, \"n_chars\": \"NaN\"",
        "}}")
      java.nio.file.Files.write(part.toPath,
        ("\n" + bad.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      // the local FS wrote a .crc sidecar at Spark-write time; the append
      // above invalidates it and Hadoop's checksummed reader would fail
      // the whole file — delete the sidecar so the read exercises the
      // JSON parser's malformed-line path, not the checksum layer
      new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
      val schema = org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_bad", org.apache.spark.sql.types.StringType, true))
      val back = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        // strict JSON: Spark's default allowSingleQuotes=true silently
        // accepts the non-standard quoting crawlers emit — pin it off so
        // the single-quote plant is corrupt as the spec'd format says
        .option("allowSingleQuotes", "false")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
        .localCheckpoint(true) // one parse; the count and the select both read it
      require(back.filter(col("_bad").isNotNull).count() == bad.length,
        "every planted malformed line must surface as a corrupt record")
      back.filter(col("_bad").isNull)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    "source_jsonl_bz2_roundtrip" -> ((s, dir) => {
      // bzip2-compressed JSONL — the one SPLITTABLE text codec in the
      // family: unlike .json.gz (one stream per part, parallelism capped
      // at the part count — the gz gate's documented cap), a single huge
      // .json.bz2 still reads in parallel because the block structure
      // lets Spark split mid-file. The gate pins that property, not just
      // the roundtrip: the write is coalesced to ONE part and the read
      // must still fan out past one partition.
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_jsonl_bz2"
      docs.coalesce(1).write.mode("overwrite")
        .option("compression", "bzip2").json(path)
      val files = new java.io.File(path).listFiles()
      require(files.exists(_.getName.endsWith(".json.bz2")),
        s"expected bzip2-compressed jsonl parts under $path")
      // force small splits so splittability is OBSERVABLE at fixture size
      // (one ~100 KB file is one split under the default 128 MB) — session
      // conf, read at PLANNING time, so the pin evaluates inside the
      // save/restore window and the returned plan is unaffected. Pin only
      // when the compressed file actually exceeds the split size with
      // margin: bzip2 compresses this deliberately repetitious synthetic
      // text hard, and a smaller future fixture landing under one split
      // would otherwise abort a perfectly fine roundtrip.
      val splitBytes = 4096L
      val bz2Size = files.filter(_.getName.endsWith(".json.bz2"))
        .map(_.length).max
      if (bz2Size > 2 * splitBytes) {
        val prev = s.conf.get("spark.sql.files.maxPartitionBytes")
        s.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
        try {
          val probe = s.read.schema(docs.schema).json(path)
          require(probe.rdd.getNumPartitions > 1,
            "a single .json.bz2 file must split into multiple read partitions")
        } finally s.conf.set("spark.sql.files.maxPartitionBytes", prev)
      }
      s.read.schema(docs.schema).json(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // Zstd-compressed parquet sink: zstd is the modern lakehouse codec
    // (better ratio than the snappy default at comparable decode speed —
    // at 100 TB the ratio IS the scan bill). Per-write codec option, no
    // session conf; readback ≡ source and the part files must actually
    // carry the codec suffix (a silently-ignored option would leave the
    // gate green on snappy).
    "sink_parquet_zstd" -> ((s, dir) => {
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_sink_zstd"
      docs.write.mode("overwrite").option("compression", "zstd").parquet(path)
      val files = new java.io.File(path).listFiles()
      require(files.exists(_.getName.endsWith(".zstd.parquet")),
        s"expected zstd-compressed parquet parts under $path")
      s.read.parquet(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // ORC round trip (the third columnar/source format, bundled with
    // Spark): same deterministically-dirtied text as the CSV/JSONL gates —
    // ORC is typed and binary-exact, so unlike CSV no recipe options are
    // needed; the gate pins that the encoder/decoder pair is lossless on
    // the hostile strings anyway.
    "source_orc_roundtrip" -> ((s, dir) => {
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_orc"
      docs.write.mode("overwrite").orc(path)
      s.read.schema(docs.schema).orc(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // Avro round trip (graft.sources.AvroFiles — this build ships no
    // spark-avro module, so the source is built on Avro core + the
    // splittable Hadoop input format): same dirtied recipe as CSV/JSONL/
    // ORC; typed binary container, so losslessness needs no options —
    // the gate pins the encoder/decoder pair on the hostile strings.
    "source_avro_roundtrip" -> ((s, dir) => {
      val docs = dirtiedDocs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft_roundtrip_avro"
      graft.sources.AvroFiles.write(docs, path)
      graft.sources.AvroFiles.read(s, path, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // WARC source (WarcFiles): the format crawl data actually arrives
    // in, parsed by Content-Length byte framing and composed straight
    // into html_extract — the crawl-tape -> text front edge end to end.
    // The fixture tape is synthesized ON THE DRIVER from the documents
    // table (bounded fixture construction, like syntheticWavs — the
    // operator under test is the distributed READ); titles carry
    // non-ASCII guillemets so a parser counting chars instead of BYTES
    // mis-frames every following record. Oracle: Python re-derives each
    // record's extraction through the independent HTML mirror.
    "source_warc_extract" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = docs.map { case (id, t) =>
        (id, s"https://example.org/doc/$id",
          warcFixtureHtml(id, t).getBytes("UTF-8"))
      }
      val base = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_warc_fixture")
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      java.nio.file.Files.createDirectories(base)
      Seq(0, 1).foreach { part =>
        java.nio.file.Files.write(base.resolve(s"part$part.warc"),
          graft.sources.WarcFiles.buildWarc(
            recs.filter(_._1 % 2 == part).toSeq))
      }
      graft.sources.WarcFiles.read(s, s"$base/*.warc")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("text",
          graft.functions.html_extract(col("content").cast("string")))
        .select(col("doc_id"), col("target_uri"), col("warc_type"),
          length(col("text")).cast("long").as("n_chars_ext"),
          substring(col("text"), 1, 60).as("head60"))
        .orderBy("doc_id")
    }),
    // Streaming twin of source_warc_extract: the tape arrives as TWO
    // waves of files; each AvailableNow pass parses only the files the
    // checkpoint hasn't seen (wave 2 must not re-parse wave 1 — a
    // re-parse doubles rows and fails the row count), and the
    // accumulated table must extract bit-equal to the one-shot batch
    // read. One oracle, two arrival paths.
    "stream_warc_ingest" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = docs.map { case (id, t) =>
        (id, s"https://example.org/doc/$id",
          warcFixtureHtml(id, t).getBytes("UTF-8"))
      }
      val tmp = sys.props("java.io.tmpdir")
      val tape = java.nio.file.Paths.get(tmp, "graft_warc_stream_tape")
      val ckpt = java.nio.file.Paths.get(tmp, "graft_warc_stream_ckpt")
      val outp = java.nio.file.Paths.get(tmp, "graft_warc_stream_out")
      Seq(tape, ckpt, outp).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      java.nio.file.Files.createDirectories(tape)
      Seq(0, 1).foreach { wave =>
        java.nio.file.Files.write(tape.resolve(s"wave$wave.warc"),
          graft.sources.WarcFiles.buildWarc(
            recs.filter(_._1 % 2 == wave).toSeq))
        graft.streaming.EventStreams.warcIngest(s, s"$tape/*.warc",
          ckpt.toString, outp.toString)
      }
      s.read.parquet(outp.toString)
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("text",
          graft.functions.html_extract(col("content").cast("string")))
        .select(col("doc_id"), col("target_uri"), col("warc_type"),
          length(col("text")).cast("long").as("n_chars_ext"),
          substring(col("text"), 1, 60).as("head60"))
        .orderBy("doc_id")
    }),
    // Response-record tape with Content-Encoding: gzip bodies (half the
    // records; the rest identity) — the shape real crawl tapes have.
    // httpBodyText must parse each record's HTTP envelope and gunzip
    // per-record: a decoder that skipped the gunzip would hash-mismatch
    // every even doc (mojibake text), one that gunzipped everything
    // would fail loudly on the odd ones. Oracle: the same Python HTML
    // re-derivation as source_warc_extract (the gzip roundtrip must be
    // exactly lossless; the mirror starts from the pre-compression text).
    "source_warc_gzip" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = docs.map { case (id, t) =>
        (id, s"https://example.org/doc/$id",
          warcFixtureHtml(id, t).getBytes("UTF-8"), id % 2 == 0)
      }
      val base = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_warc_gzip_fixture")
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      java.nio.file.Files.createDirectories(base)
      Seq(0, 1).foreach { part =>
        java.nio.file.Files.write(base.resolve(s"part$part.warc"),
          graft.sources.WarcFiles.buildWarcHttp(
            recs.filter(_._1 % 2 == part).toSeq))
      }
      graft.sources.WarcFiles.read(s, s"$base/*.warc")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("text", graft.functions.html_extract(
          graft.sources.WarcFiles.httpBodyText(col("content"))))
        .select(col("doc_id"), col("target_uri"), col("warc_type"),
          length(col("text")).cast("long").as("n_chars_ext"),
          substring(col("text"), 1, 60).as("head60"))
        .orderBy("doc_id")
    }),
    // THE CAPSTONE: crawl tape in, training shards out — every seam the
    // piecewise gates prove, composed as ONE pipeline so stage-boundary
    // schema drift has a gate. WARC response records (half gzip'd, plus
    // the tape's own robots.txt response and three envelope-class
    // extras) -> envelope admission (status 200 + no X-Robots-Tag
    // noindex: the planted 301 and header-noindex extras drop, their
    // 200 CONTROL twin must reach a shard) -> envelope-aware body
    // decode -> site-level robots.txt opt-out (REP: the tape's src6
    // robots disallows /p26) -> page-level robots noindex opt-out (the
    // planted %9==4 class) -> MAIN-content extraction (the chrome the
    // tier exists to drop is planted on every page) -> host blocklist
    // -> path-pattern filter -> URL-identity dedup -> per-domain budget
    // over the extracted mass -> BPE packing order -> durable
    // token-balanced shard export with a readback manifest. Output: the
    // manifest, one row per shard, plus the highest packed chunk id
    // landing in the shard (pins the pack-offsets composition). Oracle:
    // full-chain Python re-derivation — tape wrap, the envelope and REP
    // verdicts, both extraction tiers, all four curation stages, BPE
    // token counts, the shard walk.
    "warc_to_shards" -> ((s, dir) => {
      import graft.api.{Domains, Packing, Sampling}
      import s.implicits._
      val docs0 = load(s, dir, "documents")
      val recs = (withPlantedMainHtml(docs0).select(col("doc_id"), col("html"))
        .join(withPlantedUrls(docs0).select(col("doc_id"), col("url")), "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(2),
          r.getString(1).getBytes("UTF-8"), r.getLong(0) % 2 == 0))
        :+ ((1000001L, "https://src6.example.com/robots.txt",
          "User-agent: *\nDisallow: /p26\n".getBytes("UTF-8"), false)))
        .sortBy(_._1)
      val base = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_warc_to_shards_tape")
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      java.nio.file.Files.createDirectories(base)
      // envelope-admission extras on their own host: a 301 and a
      // header-noindex page that WOULD survive every later stage (they
      // share the control's host/path class), plus the 200 CONTROL that
      // must flow the whole chain into a shard — proving both that the
      // envelope stage bites and that extras genuinely reach the end
      val extraText = "envelope control document body with enough words " +
        "to clear the main content floor and some more prose to make " +
        "the token count meaningful for packing"
      val extraHtml = "<h1>Envelope</h1><p>" + extraText + "</p>"
      val extras = Seq(
        (2000001L, "https://extra.example.com/moved",
          extraHtml.getBytes("UTF-8"), 301, "Moved Permanently",
          Seq("Location" -> "https://extra.example.com/ok")),
        (2000002L, "https://extra.example.com/hidden",
          extraHtml.getBytes("UTF-8"), 200, "OK",
          Seq("X-Robots-Tag" -> "noindex")),
        (2000003L, "https://extra.example.com/ok",
          extraHtml.getBytes("UTF-8"), 200, "OK",
          Seq.empty[(String, String)]))
      Seq(0, 1, 2).foreach { part =>
        val bulk = graft.sources.WarcFiles.buildWarcHttp(
          recs.filter(_._1 % 3 == part).toSeq)
        val tail = if (part == 0)
          graft.sources.WarcFiles.buildWarcHttpStatus(extras) else Array.empty[Byte]
        java.nio.file.Files.write(base.resolve(s"part$part.warc"), bulk ++ tail)
      }
      val tape = graft.sources.WarcFiles.read(s, s"$base/*.warc")
      // the tape's robots.txt responses are ordinary records: slice them
      // off the same parse that feeds the page stages
      val robotsDf = tape.filter(col("target_uri").endsWith("/robots.txt"))
        .select(Domains.urlHost(col("target_uri")).as("host"),
          graft.sources.WarcFiles.httpBodyText(col("content")).as("body"))
      // stage -2: envelope admission — only 200s without an
      // X-Robots-Tag noindex ever pay a body decode
      val admittedRecs = graft.api.TextAnalysis.filterXRobotsNoindex(
        tape.filter(!col("target_uri").endsWith("/robots.txt"))
          .filter(graft.functions.http_status(col("content")) === 200))
      val pages0 = admittedRecs
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("url", col("target_uri"))
        .withColumn("page",
          graft.sources.WarcFiles.httpBodyText(col("content")))
        .select("doc_id", "url", "page")
      // stage -1: the SITE-level opt-out (REP) from the tape's own
      // robots records — compliant pipelines honor it before anything
      val pages = Domains.filterRobotsTxt(pages0, "url", "doc_id", robotsDf)
      // stage 0: the PAGE-level robots opt-out — drops noindex pages
      // before extraction spends a cycle on them (the %9==4 class)
      val extracted = graft.api.TextAnalysis.filterNoindex(pages, "page")
        .withColumn("text", graft.functions.html_main_content(col("page")))
        .select(col("doc_id"), col("url"), col("text"),
          length(col("text")).cast("long").as("n_chars_ext"))
        // pin the extraction frontier: two downstream branches (the
        // curation chain and the curated-text join) plus the export's
        // several actions each replan the whole tape-parse + envelope +
        // REP + extraction tree otherwise — measured ~8 s of driver-side
        // Catalyst/AQE planning per bench pass at sf0.1 (guide §3.3:
        // materialize an intermediate to truncate a huge plan); the pin
        // also evaluates the heavy decode/extract leg ONCE. pinFrontier,
        // not a bare localCheckpoint: this is the CORPUS-SIZED extracted
        // text — unreplicated lineage-severed blocks would turn one lost
        // executor into a failed job at scale (replicated on clusters;
        // see pinFrontier's scaladoc for the measured persist rejection)
        .transform(graft.api.SparkEnv.pinFrontier)
      val blocked = Seq("src3.example.com", "src5.example.com").toDF("domain")
      val s1 = Domains.filterBlockedHosts(
        extracted.select("doc_id", "url", "n_chars_ext"), "url", "doc_id", blocked)
      val s1b = Domains.filterUrlPaths(s1, "url", "doc_id",
        Seq("prefix" -> "/p13", "prefix" -> "/p27", "param" -> "q=1")
          .toDF("kind", "pattern"))
      val s2 = Domains.dedupByUrl(s1b, "url", "doc_id")
      val s3 = Domains.domainTokenQuota(s2, "url", "doc_id",
        col("n_chars_ext"), budgetPerDomain = 2200L, seed = 13L)
      val curated = extracted.select("doc_id", "text")
        .join(s3.select("doc_id"), "doc_id")
      val toks = graft.functions.bpe_count(col("text"), BpeMerges)
      val ord = Sampling.hashScore(col("doc_id"), 21L)
      val outPath = s"${sys.props("java.io.tmpdir")}/graft_warc_to_shards_out"
      val manifest = Packing.exportShards(curated, "doc_id", ord, toks,
        shards = 8, path = outPath)
      val packed = Packing.packSequences(curated, "doc_id", toks, 256, 21L)
        .withColumnRenamed("id", "doc_id").select("doc_id", "chunk_end")
      // the (doc_id, shard) assignment comes from READBACK of the export
      // (the committed artifact is what the manifest audits — and it
      // skips a second approxQuantile + running-sum pass over the corpus)
      val byShard = s.read.parquet(outPath).select("doc_id", "shard")
        .join(packed, "doc_id")
        .groupBy("shard").agg(max(col("chunk_end")).as("max_chunk"))
      manifest.join(byShard, "shard").orderBy("shard")
    }),
    // Charset-labeled response bodies — real crawl traffic is not all
    // UTF-8: per-record `Content-Type ... charset=` drives the decode
    // (latin-1, quoted windows-1252 with € and curly quotes, utf-8, and
    // an unknown label exercising the stated UTF-8 fallback), composed
    // with gzip on the even ids so charset × encoding cross-verifies.
    // A decoder that ignored the label would mangle every non-UTF-8
    // suffix byte (é as U+FFFD, € as a C1 control) and fail the hash.
    // Classes 4-5 carry NO header label at all — the most common real-
    // tape labeling for legacy pages — and declare their charset only in
    // the page (`<meta charset=...>` / the http-equiv Content-Type
    // form), pinning the bounded WHATWG-style prescan; class 4 is also
    // gzip'd (id even), so the prescan provably runs AFTER the inflate.
    // Oracle: the expected decoded STRINGS re-derived in Python from the
    // same text + suffix recipe (the encode side is charset-lossless for
    // the planted characters by construction).
    "source_warc_charset" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = docs.map { case (id, t) =>
        val base = t.take(60)
        // \u escapes: source-encoding-proof (the multilingualDocs rule)
        val (payload, ctype) = (id % 6) match {
          case 0 => ((base + " caf\u00e9 \u00b1 na\u00efve")
            .getBytes("ISO-8859-1"), "text/plain; charset=ISO-8859-1")
          case 1 => ((base + " \u20ac \u201csmart\u201d quotes")
            .getBytes("windows-1252"), "text/plain; charset=\"windows-1252\"")
          case 2 => ((base + " caf\u00e9 \u00b1 na\u00efve")
            .getBytes("UTF-8"), "text/plain; charset=utf-8")
          case 3 => ((base + " plain ascii tail")
            .getBytes("UTF-8"), "text/plain; charset=x-unknown-label")
          case 4 => (("<meta charset=\"windows-1252\"><p>" + base +
            " \u20ac meta tail</p>").getBytes("windows-1252"), "text/html")
          case _ => (("<meta http-equiv=\"Content-Type\" content=\"" +
            "text/html; charset=iso-8859-1\"><p>" + base +
            " caf\u00e9 meta tail</p>").getBytes("ISO-8859-1"), "text/html")
        }
        (id, s"https://example.org/doc/$id", payload, id % 2 == 0, ctype)
      }
      val basep = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_warc_charset_fixture")
      org.apache.commons.io.FileUtils.deleteQuietly(basep.toFile)
      java.nio.file.Files.createDirectories(basep)
      Seq(0, 1).foreach { part =>
        java.nio.file.Files.write(basep.resolve(s"part$part.warc"),
          graft.sources.WarcFiles.buildWarcHttpTyped(
            recs.filter(_._1 % 2 == part).toSeq))
      }
      graft.sources.WarcFiles.read(s, s"$basep/*.warc")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("body", graft.sources.WarcFiles.httpBodyText(col("content")))
        .select(col("doc_id"),
          length(col("body")).cast("long").as("n_chars_body"),
          expr("substring(body, greatest(length(body) - 29, 1), 30)")
            .as("tail30"))
        .orderBy("doc_id")
    }),
    // Transfer-Encoding: chunked bodies — the other framing layer real
    // crawl tapes carry. The tape mixes every legal wire nesting:
    // identity, bare chunked, chunked-of-gzip, chunked-of-deflate (the
    // wire order — chunks wrap the content coding, so the decoder must
    // de-chunk FIRST), plus unchunked gzip/deflate controls; the fixture
    // chunker cuts at 13 bytes (splitting the planted multi-byte — mid-
    // chunk), alternates lower/UPPER hex size lines, and plants a chunk
    // extension and a trailer field. A decoder that skipped de-chunking
    // leaves hex size lines embedded in the text (or feeds framing bytes
    // to gunzip and dies); one that de-chunked after inflating dies on
    // the gzip header. Oracle: Python re-derivation from the same
    // pre-encoding text recipe (the wire layers are lossless by
    // construction, so the decode must reproduce it exactly).
    "source_warc_chunked" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = docs.map { case (id, t) =>
        val payload = (t.take(80) + " — chunked wire tail")
          .getBytes("UTF-8")
        val (cenc, tenc) = (id % 6) match {
          case 0 => ("identity", "identity")
          case 1 => ("identity", "chunked")
          case 2 => ("gzip", "chunked")
          case 3 => ("deflate", "chunked")
          case 4 => ("gzip", "identity")
          case _ => ("deflate", "identity")
        }
        (id, s"https://example.org/doc/$id", payload,
          "text/html; charset=utf-8", cenc, tenc)
      }
      val basep = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_warc_chunked_fixture")
      org.apache.commons.io.FileUtils.deleteQuietly(basep.toFile)
      java.nio.file.Files.createDirectories(basep)
      Seq(0, 1).foreach { part =>
        java.nio.file.Files.write(basep.resolve(s"part$part.warc"),
          graft.sources.WarcFiles.buildWarcHttpWire(
            recs.filter(_._1 % 2 == part).toSeq))
      }
      graft.sources.WarcFiles.read(s, s"$basep/*.warc")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("body", graft.sources.WarcFiles.httpBodyText(col("content")))
        .select(col("doc_id"),
          length(col("body")).cast("long").as("n_chars_body"),
          expr("substring(body, greatest(length(body) - 29, 1), 30)")
            .as("tail30"))
        .orderBy("doc_id")
    }),
    // HTTP status + X-Robots-Tag routing — the two envelope-level
    // admission signals a real pipeline applies before decoding a
    // single body byte: non-200 records (a 301's stub, a 404 page, a
    // 503 splash) are transfer artifacts, not training data, and the
    // X-Robots-Tag header is the robots opt-out that never reaches the
    // HTML. Tape classes (id%5): 200 plain (keep), 301+Location (drop:
    // status), 404 (drop: status), 200 + X-Robots-Tag: noindex (drop:
    // header directive), 200 + X-Robots-Tag: unavailable_after (keep —
    // not a noindex token, pinning the token rule against
    // over-dropping). Oracle: Python recomputes the keep set and body
    // lengths from the same class recipe.
    "http_status_filter" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val recs = docs.map { case (id, t) =>
        val base = t.take(70)
        val (payload, status, reason, extra) = (id % 5) match {
          case 0 => (base + " ok body", 200, "OK", Seq.empty[(String, String)])
          case 1 => ("moved", 301, "Moved Permanently",
            Seq("Location" -> s"https://example.org/new/$id"))
          case 2 => ("not found", 404, "Not Found", Seq.empty[(String, String)])
          case 3 => (base + " hidden body", 200, "OK",
            Seq("X-Robots-Tag" -> "noindex, nofollow"))
          case _ => (base + " ua body", 200, "OK",
            Seq("X-Robots-Tag" -> "unavailable_after: 2027-01-01"))
        }
        (id, s"https://example.org/doc/$id", payload.getBytes("UTF-8"),
          status, reason, extra)
      }
      val basep = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_warc_status_fixture")
      org.apache.commons.io.FileUtils.deleteQuietly(basep.toFile)
      java.nio.file.Files.createDirectories(basep)
      Seq(0, 1).foreach { part =>
        java.nio.file.Files.write(basep.resolve(s"part$part.warc"),
          graft.sources.WarcFiles.buildWarcHttpStatus(
            recs.filter(_._1 % 2 == part).toSeq))
      }
      val parsed = graft.sources.WarcFiles.read(s, s"$basep/*.warc")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"))
        .withColumn("status", graft.functions.http_status(col("content")))
      graft.api.TextAnalysis.filterXRobotsNoindex(
          parsed.filter(col("status") === 200), "content")
        .select(col("doc_id"), col("status"),
          length(graft.sources.WarcFiles.httpBodyText(col("content")))
            .cast("long").as("n_chars_body"))
        .orderBy("doc_id")
    }),
    "sink_partitioned" -> ((s, dir) => {
      // hive-partitioned parquet sink + partition-pruned readback: the
      // 100 TB layout pattern (partition on a low-cardinality routing
      // column; a reader filtering on it must scan only that directory —
      // PlanShapeSpec pins the pruned scan's partition count)
      val docs = load(s, dir, "documents")
      val path = s"${sys.props("java.io.tmpdir")}/graft_sink_partitioned"
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path)
        .filter(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // Z-order clustered parquet sink + box-query readback: orders laid out
    // on the Morton curve of (o_custkey, price-in-cents), so the 2-D box
    // filter prunes files from ordinary parquet min/max stats on BOTH
    // columns (ZOrder scaladoc; ZOrderSpec measures the file-pruning win
    // vs a hash layout). Correctness: readback ≡ the same box query on the
    // source table.
    "sink_zorder" -> ((s, dir) => {
      val orders = load(s, dir, "orders")
      val path = s"${sys.props("java.io.tmpdir")}/graft_sink_zorder"
      graft.api.ZOrder.writeZOrdered(orders, path,
        col("o_custkey"), (col("o_totalprice") * 100).cast("long"), nFiles = 16)
      s.read.parquet(path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_totalprice").between(20000.0, 120000.0))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // 3-D z-order: (custkey, price-cents, order-day) Morton triple — the
    // (source, value, time) shape lakehouse tables actually cluster on.
    // Readback is a 3-dim box query; the gate pins "pure layout change",
    // ZOrderSpec pins the interleave + measured 3-D file pruning.
    "sink_zorder3" -> ((s, dir) => {
      val orders = load(s, dir, "orders")
      val path = s"${sys.props("java.io.tmpdir")}/graft_sink_zorder3"
      // whole-currency units, NOT cents: zvalue3 uses 21 bits/dim and
      // price-cents reach ~2^26 — the masked wrap would silently scramble
      // the price dimension's clustering (readback equality would still
      // pass; the 3-D skipping would not). Whole units top out ~555k < 2^21.
      graft.api.ZOrder.writeZOrdered3(orders, path,
        col("o_custkey"), col("o_totalprice").cast("long"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01")), nFiles = 24)
      s.read.parquet(path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_totalprice").between(20000.0, 120000.0) &&
          col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // Small-files compaction (Layout.compact): fragment the corpus into 64
    // shards, rewrite size-targeted, read back — the maintenance rewrite
    // must be a pure layout change (readback ≡ source). LayoutSpec pins
    // the file-count math and sorted-compaction clustering.
    "sink_compacted" -> ((s, dir) => {
      val tmp = sys.props("java.io.tmpdir")
      val frag = s"$tmp/graft_sink_frag"
      val out = s"$tmp/graft_sink_compacted"
      load(s, dir, "documents").repartition(64).write.mode("overwrite").parquet(frag)
      val (_, bytes) = graft.api.Layout.describeFiles(s, frag)
      graft.api.Layout.compact(s, frag, out, targetBytes = math.max(1L, bytes / 4))
      s.read.parquet(out)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    "token_count_bpe" -> ((s, dir) => {
      // byte-level BPE token counting under a user-supplied merge list
      // (BpeMerges below; gen_oracles.py mirrors the list and the exact
      // merge algorithm, so counts are pinned end to end). This is the
      // token-budget primitive a training pipeline prices data with — the
      // regex-based token_count stays as the cheap heuristic twin.
      load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.bpe_count(col("text"), BpeMerges).as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),
    "pack_sequences_bpe" -> ((s, dir) => {
      // pack_sequences with the REAL tokenizer threaded in as the length
      // column: chunk boundaries now fall at BPE token budgets, not
      // whitespace-word budgets — the form a training-data pipeline
      // actually runs. Same distributed two-level prefix sum.
      graft.api.Packing.packSequences(load(s, dir, "documents"), "doc_id",
          graft.functions.bpe_count(col("text"), BpeMerges), 256, 21L)
        .orderBy("id")
    }),
    "bpe_train" -> ((s, dir) => {
      // LEARN the byte-level BPE merge list from the corpus itself
      // (Sennrich et al. dictionary trainer; BpeTrain scaladoc has the
      // scale shape: one word-count aggregate, capped dict, driver merge
      // loop). gen_oracles.py re-derives the identical merges in Python —
      // same dict cut (count DESC, UTF-8 bytes ASC), same tie-break, same
      // min-count-2 stop — so the learned vocabulary is pinned end to end.
      val docs = load(s, dir, "documents")
      graft.api.BpeTrain
        .mergesDf(s, graft.api.BpeTrain.trainBpe(docs, "text", 48, vocabCap = 2048))
        // rank/left/right are SQL keywords — aliased for the DuckDB oracle
        .select(col("rank").cast("long").as("merge_rank"),
          col("left").as("lhs"), col("right").as("rhs"))
        .orderBy("merge_rank")
    }),
    "token_count_bpe_trained" -> ((s, dir) => {
      // train -> apply composition: the learned merges drive the same
      // bpe_count kernel the static-list gate uses. The oracle re-trains
      // with the Python mirror and re-counts with its own tokenizer — two
      // independent implementations of both halves.
      val docs = load(s, dir, "documents")
      val ranks = graft.api.BpeTrain.trainedRanks(docs, "text", 48, vocabCap = 2048)
      docs.select(col("doc_id"),
          graft.functions.bpe_count(col("text"), ranks).as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),
    "bpe_train_1k" -> ((s, dir) => {
      // the trainer at PRODUCTION merge count: 1024 merges over an
      // 8192-word dict (the documents fixture's 31-word vocabulary tops
      // out at ~89 merges, so the corpus is the lineitem key triple as
      // text — digit-rich words with deep shared-substring structure;
      // integer columns only, whose string form is engine-independent).
      // This is the gate the incremental pair-count trainer exists for:
      // the naive full-recount loop is O(merges x dict) — the Python
      // mirror (which IS that naive loop) takes ~19 s on this fixture,
      // the incremental Scala trainer ~1 s, and the gap grows linearly
      // in merges (docs/SCALE.md MERGES-axis row).
      val li = load(s, dir, "lineitem")
      val nums = li.select(concat_ws(" ",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey")).as("text"))
      graft.api.BpeTrain
        .mergesDf(s, graft.api.BpeTrain.trainBpe(nums, "text", 1024,
          vocabCap = 8192))
        .select(col("rank").cast("long").as("merge_rank"),
          col("left").as("lhs"), col("right").as("rhs"))
        .orderBy("merge_rank")
    }),
    "token_count_bpe_1k" -> ((s, dir) => {
      // train -> apply composition at the 1k-merge scale: the learned
      // ranks drive bpe_count over every lineitem row; output is the
      // token-count histogram with a per-bucket orderkey checksum (60k
      // per-row values would bloat the pinned oracle; the checksum pins
      // WHICH rows land in each bucket, not just how many).
      val li = load(s, dir, "lineitem")
      // NOTE (r21): widening this 3-split scan with SparkEnv.spread was
      // tried and REVERTED — the Scratch stage profile showed the dict and
      // count passes serialized on 3 tasks (1.6 + 1.1 s wall = run), but
      // the bench (best-of-3, idle box) showed no win (2.73 -> 2.85 s here,
      // 1.70 -> 2.13 s on bpe_train_1k): these queries are floor-dominated
      // and the added exchange only buys plan churn. At real scale the
      // scan has thousands of splits and spread is a no-op anyway.
      val nums = li.select(col("l_orderkey"), concat_ws(" ",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey")).as("text"))
      val ranks = graft.api.BpeTrain.trainedRanks(nums, "text", 1024,
        vocabCap = 8192)
      nums.select(col("l_orderkey"),
          graft.functions.bpe_count(col("text"), ranks).as("n_tok"))
        .groupBy("n_tok")
        .agg(count(lit(1)).as("rows"), sum(col("l_orderkey")).as("key_sum"))
        .orderBy("n_tok")
    }),
    "tokenizer_fertility" -> ((s, dir) => {
      // multilingual tokenizer audit: tokens per 100 chars by language,
      // for BOTH tokenizers (whitespace words vs the BPE-ish regex) —
      // the fertility GAP between languages is the signal a tokenizer
      // disadvantages a script (more tokens per character = less
      // content per context window), the number a multilingual data
      // card quotes. Map-side-combined aggregate, one scan; fertility =
      // one double division of two exact integer sums (bit-stable).
      graft.api.SparkEnv.spread(load(s, dir, "documents"))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), "\\s+")).cast("long")).as("ws_tokens"),
          sum(regexp_count(col("text"),
            lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]")).cast("long")).as("bpe_tokens"),
          sum(col("n_chars")).as("chars"))
        .withColumn("ws_per_100c",
          col("ws_tokens") * lit(100.0) / col("chars"))
        .withColumn("bpe_per_100c",
          col("bpe_tokens") * lit(100.0) / col("chars"))
        .orderBy("lang")
    }),
    "token_count" -> ((s, dir) => {
      // spread: four regex counters per row, re-sorted by the ORDER BY —
      // parallelism must not be capped by the one-row-group fixture scan
      graft.api.SparkEnv.spread(load(s, dir, "documents"))
        .createOrReplaceTempView("documents")
      s.sql("""
        SELECT doc_id,
               CAST(size(split(text, '\\s+')) AS BIGINT) AS ws_tokens,
               CAST(regexp_count(text, '[a-zA-Z]+') AS BIGINT) AS alpha_tokens,
               CAST(regexp_count(text, '[0-9]+') AS BIGINT) AS num_tokens,
               CAST(regexp_count(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]') AS BIGINT) AS bpe_tokens
        FROM documents ORDER BY doc_id""")
    }),
    "lang_id" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      docs.select(col("doc_id"), graft.api.TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "quality_score" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      docs.select(col("doc_id"),
          graft.api.TextAnalysis.lexicalDiversity(col("text")).as("diversity"),
          graft.api.TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
          graft.api.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "assign_row_ids" -> ((s, dir) => {
      // contiguous global example ids in curriculum order (longest doc
      // first, id tiebreak) WITHOUT the single-partition row_number window
      // — the two-level prefix-sum decomposition (quantile-sampled range
      // buckets -> parallel within-bucket window -> tiny offsets
      // broadcast). Oracle: DuckDB's actual ROW_NUMBER() over the same
      // order — the strongest possible check that the distributed
      // decomposition reproduces the global window bit-for-bit.
      val docs = load(s, dir, "documents")
      graft.api.Packing.assignRowIds(docs, "doc_id",
          col("n_chars").cast("double") * lit(-1.0), buckets = 7)
        .orderBy("doc_id")
    }),
    "token_budget_select" -> ((s, dir) => {
      // corpus assembly to a token budget: walk docs longest-first (the
      // curriculum order above) and keep every doc whose inclusive
      // running whitespace-token total fits 20k tokens — the "fill the
      // budget by rank" step after scoring, as one distributed running
      // sum + a filter (no driver loop, no global-order reducer).
      val docs = load(s, dir, "documents")
      graft.api.Packing.selectToTokenBudget(docs, "doc_id",
          col("n_chars").cast("double") * lit(-1.0),
          size(split(col("text"), "\\s+")), budget = 20000L, buckets = 7)
        .orderBy("doc_id")
    }),
    "token_shard_assign" -> ((s, dir) => {
      // token-balanced contiguous export sharding in the curriculum
      // order: 16 shards of ~equal token mass, integer-exact boundaries.
      // Same decomposition as assign_row_ids; the oracle re-runs the
      // real global window + total.
      val docs = load(s, dir, "documents")
      graft.api.Packing.assignTokenShards(docs, "doc_id",
          col("n_chars").cast("double") * lit(-1.0),
          size(split(col("text"), "\\s+")), shards = 16, buckets = 7)
        .orderBy("doc_id")
    }),
    // Durable shard export + readback manifest (Packing.exportShards):
    // the training-shard artifact, written hive-partitioned by shard
    // with the manifest derived from READBACK. Oracle: DuckDB re-runs
    // the assignment rule (the token_shard_assign window) and aggregates
    // the same manifest — a lost row, duplicated write, or misassigned
    // shard lands as a count/mass/digest mismatch.
    "export_shard_manifest" -> ((s, dir) => {
      graft.api.Packing.exportShards(load(s, dir, "documents"), "doc_id",
          col("n_chars").cast("double") * lit(-1.0),
          size(split(col("text"), "\\s+")), shards = 16,
          path = s"${sys.props("java.io.tmpdir")}/graft_export_shards")
        .orderBy("shard")
    }),
    "pack_sequences" -> ((s, dir) => {
      // concat-and-chunk packing in the deterministic shuffled training
      // order (same seed as corpus_shuffle): global token offsets via the
      // two-level distributed prefix sum, chunk ids by integer division
      val docs = load(s, dir, "documents")
      graft.api.Packing.packSequences(docs, "doc_id",
          size(split(trim(col("text")), "\\s+")), 256, 21L)
        .orderBy("id")
    }),
    // Whole-document bin packing (Packing.packDocsNextFit): docs placed
    // UNSPLIT into 256-token bins, Next-Fit-Decreasing — the
    // padding-minimizing twin of pack_sequences (which cuts docs at chunk
    // boundaries). Distributed as per-length class-rank (two-level, no
    // single-partition window) + a driver walk over the length HISTOGRAM
    // (state bounded by distinct lengths, never corpus size). Oracle:
    // Python re-runs the literal item-by-item NFD walk — so the batched
    // histogram arithmetic is pinned against the sequential definition.
    "pack_bins_nfd" -> ((s, dir) => {
      graft.api.Packing.packDocsNextFit(load(s, dir, "documents"), "doc_id",
          size(split(trim(col("text")), "\\s+")), capacity = 256L, seed = 21L)
        .orderBy("id")
    }),
    "chunk_documents" -> ((s, dir) => {
      // overlapping 100-char windows, 20-char overlap (step 80) — the
      // pre-embedding chunking pass; fixture is ASCII so the DuckDB
      // character substring equals the byte slice
      graft.api.TextAnalysis.chunkDocuments(
          load(s, dir, "documents"), "doc_id", "text", 100, 20)
        .orderBy("doc_id", "chunk_id")
    }),
    "normalize_text" -> ((s, dir) => {
      // the fixture text is already clean, so the query feeds the operator
      // a deterministically dirtied variant (leading/inner space runs +
      // uppercased prefix) that both engines construct identically — the
      // normalization is genuinely exercised, not a no-op
      val dirty = concat(lit("  "), upper(substring(col("text"), 1, 30)),
        lit("   "), col("text"))
      load(s, dir, "documents")
        .select(col("doc_id"),
          graft.api.TextAnalysis.normalizeText(dirty).as("clean_text"))
        .withColumn("clean_len", length(col("clean_text")).cast("long"))
        .orderBy("doc_id")
    }),
    // Unicode canonicalization (unicode_norm): the step BEFORE any
    // text-identity operator on multilingual data — NFC "é" and NFD
    // "e"+U+0301 render identically but share no byte, so unnormalized
    // corpora silently under-dedup. Fixture: both engines append the SAME
    // decomposed (NFD) tail to each doc from identical literals; Spark's
    // java.text.Normalizer NFC must then agree bit-for-bit with DuckDB's
    // nfc_normalize (UAX #15 stability makes this a fair cross-engine pin).
    "normalize_nfc" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.unicode_norm(
            // tail mixes NFD (e+U+0301, a+U+0300, n+U+0303) decomposed forms
            concat(col("text"), lit(" cafe\u0301 a\u0300 vu n\u0303o")),
            "NFC").as("text_nfc"))
        .orderBy("doc_id")
    }),
    "pii_redact" -> ((s, dir) => {
      // deterministic PII injection (email on doc_id%2, IP on %3, phone on
      // %5 — both engines build the same dirty string), then typed
      // redaction; counts are measured on the dirty text pre-redaction.
      // spread: the regex chain is per-row work re-sorted downstream
      val docs = graft.api.SparkEnv.spread(load(s, dir, "documents"))
      val dirty = docs.select(col("doc_id"), concat(col("text"),
        expr("CASE WHEN doc_id % 2 = 0 THEN ' reach user' || CAST(doc_id AS STRING) || '@example.com' ELSE '' END"),
        expr("CASE WHEN doc_id % 3 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS STRING) || '.0.' || CAST(doc_id % 100 AS STRING) ELSE '' END"),
        expr("CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END")
      ).as("t"))
      dirty.select(col("doc_id"),
          graft.api.TextAnalysis.redactPii(col("t")).as("redacted"),
          regexp_count(col("t"), lit(graft.api.TextAnalysis.emailPattern)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(graft.api.TextAnalysis.ipv4Pattern)).cast("long").as("n_ips"),
          regexp_count(col("t"), lit(graft.api.TextAnalysis.phonePattern)).cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),
    "tfidf_topk" -> ((s, dir) => {
      // top-3 characteristic terms per document by log-free tf-idf
      graft.api.TextAnalysis.tfIdfTopK(
          load(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }),
    "boilerplate_filter" -> ((s, dir) => {
      // C4-style boilerplate marking: 2-grams in >=6% of docs form the
      // blacklist; docs over 50% blacklisted occurrences are dropped
      graft.api.TextAnalysis.boilerplateStats(
          load(s, dir, "documents"), "doc_id", "text", 0.06, 0.5)
        .orderBy("doc_id")
    }),
    "embed_normalize" -> ((s, dir) => {
      graft.api.Ann.l2Normalize(load(s, dir, "embeddings"))
        .orderBy("vec_id", "pos")
    }),
    "vocab_per_lang" -> ((s, dir) => {
      // per-language top-5 vocabulary: the per-stratum window variant of
      // vocab_topk (every stratum ranks in parallel)
      graft.api.TextAnalysis.vocabTopKPerGroup(
          load(s, dir, "documents"), "lang", "text", 5)
        .orderBy("lang", "rank")
    }),
    "length_quantiles" -> ((s, dir) => {
      // per-language document-length quantiles (exact, linear
      // interpolation — the same definition as DuckDB's quantile_cont)
      load(s, dir, "documents")
        .groupBy("lang")
        .agg(
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"),
          expr("percentile(n_chars, 0.99)").as("p99"),
          count(lit(1)).as("n"))
        .orderBy("lang")
    }),
    // Approximate per-language length quantiles from the mergeable HDR
    // histogram — the one-pass, 16 KB-state counterpart to the exact
    // percentile in length_quantiles (which sorts each group). Relative
    // error ≤ 2^-5; at 100 TB the histogram states also persist and roll
    // up via sketch_merge. Oracle: full Python re-derivation (bucketing is
    // integer-exact).
    "hist_quantiles" -> ((s, dir) => {
      load(s, dir, "documents")
        .groupBy("lang")
        .agg(graft.functions.hist_sketch(col("n_chars"), 5).as("h"),
          count(lit(1)).as("n"))
        .select(col("lang"), col("n"),
          graft.functions.hist_quantile(col("h"), 0.5).as("p50"),
          graft.functions.hist_quantile(col("h"), 0.9).as("p90"),
          graft.functions.hist_quantile(col("h"), 0.99).as("p99"))
        .orderBy("lang")
    }),
    "repetition_stats" -> ((s, dir) => {
      graft.api.TextAnalysis.repetitionStats(load(s, dir, "documents"))
        .orderBy("doc_id")
    }),
    "repetition_filter" -> ((s, dir) => {
      // Gopher repetition rules as a verdict: thresholds calibrated to
      // THIS corpus's stat quantiles (synthetic text sits at dup-word
      // median ~0.54, far above MassiveWeb's regime) so every rule bites
      // somewhere and 69/500 keep at sf0.01 — the oracle re-derives the
      // full stats chain and re-applies the thresholds itself.
      graft.api.TextAnalysis.repetitionFilter(load(s, dir, "documents"),
          minWords = 40L, maxDupWordFrac = 0.54,
          maxTop2GramFrac = 0.05, maxDup2GramFrac = 0.05)
        .orderBy("doc_id")
    }),
    "gopher_rules" -> ((s, dir) => {
      // The Gopher STRUCTURAL rule suite (the lexical/layout half;
      // repetition_filter owns the other half) over a fixture with
      // planted bullet / ellipsis / hash / numeric structures — the raw
      // documents rarely trip those rules, so the plants make every
      // signal take non-trivial values. Oracle: DuckDB recomputes the
      // WHOLE rule set with its own list/string machinery (str_split +
      // list lambdas vs Spark's higher-order functions); every ratio is
      // an exact int/int division, bit-equal across engines.
      val did = col("doc_id")
      val docs = load(s, dir, "documents").select(did, concat(col("text"),
        when(did % 5 === 0, lit("\n- item one\n- item two\n* item three" +
          "\n\u2022 dotted item")).otherwise(lit("")),
        when(did % 7 === 0, lit("\nread more... continued...\n### nav ###"))
          .otherwise(lit("")),
        when(did % 11 === 0, lit("\n12 345 6789 10 11 12 13 14 15 16"))
          .otherwise(lit(""))).as("text"))
      graft.api.TextAnalysis.gopherRules(docs).orderBy("doc_id")
    }),
    "gopher_rules_multilang" -> ((s, dir) => {
      // The per-language Gopher seam: each space-delimited language's
      // docs get THEIR language's function words planted (except every
      // 17th doc — the non-vacuous fail case), so they pass under the
      // per-lang stopword dispatch and would fail wholesale under the
      // English-only list; zh stays unplanted and exercises the
      // documented fallback (no zh entry -> the en list -> fail).
      // Oracle: DuckDB re-derives the whole rule set AND the per-lang
      // dispatch with its own CASE/list machinery.
      val did = col("doc_id")
      val inject = map(
        lit("en"), lit("that have of "),
        lit("es"), lit("el la de "),
        lit("de"), lit("der die und "),
        lit("fr"), lit("le la et "))
      val docs = load(s, dir, "documents").select(did, col("lang"),
        concat(
          coalesce(when(did % 17 =!= 0, element_at(inject, col("lang"))),
            lit("")),
          col("text")).as("text"))
      graft.api.TextAnalysis.gopherRulesPerLang(docs).orderBy("doc_id")
    }),
    "bpe_vocab_roundtrip" -> ((s, dir) => {
      // Persisted-vocabulary round-trip: train -> mergesDf -> saveAsTable
      // -> reload from the catalog -> recompile BpeRanks -> count. A
      // trained vocab is this pipeline's most-shipped artifact; the
      // save/reload seam must reproduce the in-session counts exactly,
      // so this gate reuses token_count_bpe_trained's pinned oracle —
      // any serialization loss (byte-token mangling, rank reordering)
      // lands as a count mismatch.
      val docs = load(s, dir, "documents")
      val merges = graft.api.BpeTrain.trainBpe(docs, "text", 48,
        vocabCap = 2048)
      graft.api.BucketedWrite.dropTable(s, "graft_bpe_vocab")
      graft.api.BpeTrain.mergesDf(s, merges).write.format("parquet")
        .saveAsTable("graft_bpe_vocab")
      val reloaded = s.table("graft_bpe_vocab").orderBy("rank")
        .select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
      val ranks = org.apache.spark.sql.graft.BpeRanks.fromByteTokens(reloaded)
      docs.select(col("doc_id"),
          graft.functions.bpe_count(col("text"), ranks).as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),
    "doc_signatures" -> ((s, dir) => {
      // SimHash + rolling-min + winnowed fingerprints (rows-only: FxHash64
      // chains are not expressible in DuckDB; pinned by PipelineOpsSpec).
      // The winnow fingerprint set is posexploded to one (fp_pos, fp) scalar
      // row per element (outer: a doc shorter than k keeps one row with null
      // fp) so the driver comparator sees no array cells.
      withLsh(s)
      // spread: three hash-kernel chains per row (simhash, rolling-min,
      // winnow) — per-row work, re-sorted by the final ORDER BY
      graft.api.SparkEnv.spread(load(s, dir, "documents"))
        .createOrReplaceTempView("documents")
      // LATERAL VIEW — not a generator in the select list: ExtractGenerator
      // would hoist the OTHER projection items (sh, min_fp) into the Project
      // ABOVE the Generate, re-evaluating both hash kernels once per exploded
      // fingerprint row (~31x per doc; and the global sort's range-sampling
      // pass runs that inflated child twice). Materializing the scalars in a
      // subquery below the lateral view keeps them once-per-document:
      // measured 4.3s -> 0.6s at sf0.1.
      s.sql("""
        SELECT doc_id, sh, min_fp, fp_pos, fp
        FROM (SELECT doc_id, text, simhash64(text) AS sh,
                     min_fingerprint(text, 8) AS min_fp
              FROM documents) t
        LATERAL VIEW OUTER posexplode(winnow_fingerprint(text, 8, 16)) g AS fp_pos, fp
        ORDER BY doc_id, fp_pos""")
    }),
    "simhash_dedup_pairs" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      graft.api.Dedup.simhashDupPairs(docs, "doc_id", "text", bands = 4, maxHamming = 6)
        .orderBy("id_a", "id_b")
    }),
    "minhash_dedup_pairs" -> ((s, dir) => {
      // value-checked: the DuckDB oracle recomputes the full ground-truth
      // pair set brute-force; LSH recall is deterministically 1 here (see
      // oracleSql comment)
      nearDupPairsShared(s, dir).orderBy("id_a", "id_b")
    }),
    // Scale-cliff-protected near-dup mining (BandedLsh.nearDupPairsAdaptive):
    // a candidate census picks the fused operator's block count.
    // maxRelationalCandidates=0 forces the 8-block route here — the one-block
    // route is exactly minhash_dedup_pairs above, so this gate pins the
    // routed branch against the same brute-force ground truth (recall 1 at
    // 8x3 banding on this data; identical params/seed/threshold).
    "neardup_adaptive" -> ((s, dir) => {
      graft.api.BandedLsh.nearDupPairsAdaptive(load(s, dir, "documents"),
          "doc_id", "text", 4, 8, 3, 123L, 0.5, maxRelationalCandidates = 0L)
        .orderBy("id_a", "id_b")
    }),
    "curate_corpus" -> ((s, dir) => {
      // The full training-data recipe as ONE composed pipeline — what a
      // user of this engine actually runs end-to-end: narrow quality gates
      // (pushed into the scan) → exact dedup → near-dup cluster drop (only
      // cluster minima survive) → benchmark decontamination → deterministic
      // split assignment, keep train. Every stage is the already-gated
      // operator; the oracle re-derives the whole chain independently in
      // Python, so composition bugs (wrong drop set, wrong stage order)
      // surface as row mismatches.
      val docs = load(s, dir, "documents")
      val quality = docs.filter(col("lang") === "en" && col("n_chars") >= 100)
      val exact = graft.api.Dedup.exact(quality, Seq("text"), "doc_id")
      val pairs = graft.api.BandedLsh.nearDupPairs(
        exact, "doc_id", "text", 4, 8, 3, 123L, 0.5)
      val dropNear = graft.api.BandedLsh.dupClusters(pairs)
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      val deduped = exact.join(dropNear, Seq("doc_id"), "left_anti")
      val bench = graft.api.Sampling.sampleByHash(docs, "doc_id", 0.02, 99L)
      val clean = graft.api.Contamination.removeContaminated(
        deduped, bench, "doc_id", "text", 8, 50L)
      graft.api.Sampling.assignSplits(clean, "doc_id", 5L,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // The 2026-era composed recipe — the published-pipeline stages the
    // round-13 operators exist FOR, chained end to end: CCNet boilerplate-
    // line removal → span-level benchmark decontamination (layout-
    // preserving exact cut) → span-level dedup cut (exact) → NB quality
    // filter (seed = the English slice, the GPT-3 "curated seed vs crawl"
    // shape) → CCNet perplexity tiling over the bigram LM, tail dropped →
    // DSIR selection toward the curated sources → split assignment, train
    // kept. Decon runs BEFORE dedup so benchmark text can't vote in the
    // duplication statistics; every scoring stage refits its model on ITS
    // OWN input (order and threading are the contract this gate pins).
    // Fixture: the boilerplate_lines_drop newline-ification (header %3,
    // footer %4, ' the '→'\n') plus the contamination_span_cut_bpe plant
    // (bench = %50==0 docs + passage, passage appended to corpus %7==3).
    // Oracle: FULL-CHAIN Python re-derivation — every stage recomputed
    // from scratch on the previous stage's output, so stage-order, id-
    // threading and tokenizer-identity bugs surface as row mismatches.
    "curate_corpus_v2" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val passage =
        lit(" zebra quagga okapi tapir gnu eland kudu oryx saiga argali")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), concat(col("text"), passage).as("text"))
      val corpus0 = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("lang"), col("source"),
          concat(
            when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter\n"))
              .otherwise(lit("")),
            regexp_replace(col("text"), " the ", "\n"),
            when(col("doc_id") % 4 === 0, lit("\nall rights reserved"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 3, passage).otherwise(lit("")))
            .as("text"))
      val c1 = graft.api.Dedup.dropBoilerplateLines(
        corpus0, "doc_id", "text", minDocs = 80L)
      val deconSpans = graft.api.Contamination.contaminatedSpans(
        c1, bench, "doc_id", "text", width = 8)
      val c2 = graft.api.Dedup.cutSpansExact(c1, deconSpans, "doc_id", "text")
      // pin the text-rewrite frontier: five scoring stages below
      // (NB train+score, LM fit+score, DSIR fit+score) each run actions
      // over this lineage — without it the span mining re-executes per
      // action (the caching a pipeline user would do between stages).
      // pinFrontier, not a bare localCheckpoint: these carry the full
      // corpus text — replicated blocks on a cluster, so a single node
      // loss reads the survivor instead of failing the job
      val c3 = graft.api.Dedup.cutDupSpansExact(c2, "doc_id", "text", width = 8)
        .transform(graft.api.SparkEnv.pinFrontier)
      val c4 = graft.api.QualityClassifier.trainScore(
          c3, "text", col("lang") === "en", buckets = 1024)
        .filter(col("nb_score") > 0.0)
        .transform(graft.api.SparkEnv.pinFrontier)
      val lm = graft.api.TextAnalysis.docLogProbBigram(c4)
      val c5 = graft.api.TextAnalysis.perplexityBuckets(
          c4.join(lm.select("doc_id", "avg_nll2"), "doc_id"), "lang", "avg_nll2")
        .filter(col("ppl_class") =!= "tail")
        .transform(graft.api.SparkEnv.pinFrontier)
      val sel = graft.api.Sampling.dsirResample(c5,
        c5.filter(col("source").isin("src0", "src1")), "doc_id", "text",
        k = 80, buckets = 1024, seed = 7L)
      graft.api.Sampling.assignSplits(sel, "doc_id", 5L,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_v2"),
          col("ppl_class"), col("logw"))
        .orderBy("doc_id")
    }),
    // curate_corpus_v2 made production-restartable: the SAME seven-stage
    // recipe on the SAME fixture, but each stage commits its frontier to a
    // manifest-tracked table (StagedPipeline) instead of threading through
    // session-bound localCheckpoints. The gate drives the resume path
    // end-to-end: a first run is pre-empted after three committed stages
    // (stopAfter = 3, the crash a 100 TB run WILL hit), a second run
    // replays the manifest, resumes from stage 4 reading the committed
    // table (never recomputing stages 1–3 — spec-pinned via a tamper
    // probe), and the final train selection must be BIT-EQUAL to
    // curate_corpus_v2's full-chain Python oracle. Stage boundaries are
    // exactly the v2 chain's checkpoint frames, so any schema a later
    // stage needs that a committed table failed to carry surfaces here as
    // a hash mismatch.
    "curate_corpus_staged" -> ((s, dir) => {
      val (corpus0, stages) = stagedCurationFixture(s, dir)
      val prefix = "graft_stagedcur"
      graft.api.StagedPipeline.reset(s, prefix)
      graft.api.StagedPipeline.run(corpus0, stages, prefix, stopAfter = 3)
      graft.api.StagedPipeline.run(corpus0, stages, prefix)
        .orderBy("doc_id")
    }),
    // The CROSS-SESSION resume leg: commit stages 1-3, then simulate the
    // JVM restart a pre-empted 100 TB run actually suffers — every
    // catalog registration dies, every warehouse parquet directory
    // survives (CatalogOps.deregisterKeepingFiles produces exactly that
    // state under the local in-memory catalog; a persistent-metastore
    // cluster skips straight to the resume). The resumed run must
    // recover the manifest + stage tables from the directory listing
    // (StagedPipeline.recoverFromWarehouse), pay only stages 4+, and
    // land bit-equal to curate_corpus_staged's pinned oracle.
    "curate_corpus_staged_xsession" -> ((s, dir) => {
      val (corpus0, stages) = stagedCurationFixture(s, dir)
      val prefix = "graft_stagedxs"
      graft.api.StagedPipeline.reset(s, prefix)
      graft.api.StagedPipeline.run(corpus0, stages, prefix, stopAfter = 3)
      (Seq(s"${prefix}_manifest") ++ (0 until 3).map(i => s"${prefix}_s$i"))
        .foreach(t =>
          org.apache.spark.sql.graft.CatalogOps.deregisterKeepingFiles(s, t))
      graft.api.StagedPipeline.run(corpus0, stages, prefix)
        .orderBy("doc_id")
    }),
    // Drop-reason ledger over the committed staged chain: after the
    // seven-stage run commits, attribute every input doc that didn't
    // survive to the FIRST stage whose committed table lost it — one
    // ids-only anti-join per stage over the already-committed tables,
    // zero recipe re-execution. Oracle: the Python full-chain mirror
    // already materializes every frontier; the ledger is its stage-set
    // differences, so a frontier-threading bug in either the staged
    // runner or the ledger lands as a row mismatch.
    "curate_drop_ledger" -> ((s, dir) => {
      val (corpus0, stages) = stagedCurationFixture(s, dir)
      val prefix = "graft_ledger"
      graft.api.StagedPipeline.reset(s, prefix)
      graft.api.StagedPipeline.run(corpus0, stages, prefix)
      graft.api.StagedPipeline.dropLedger(s, prefix, corpus0, "doc_id")
        .orderBy("doc_id")
    }),
    // Incremental (day-2) curation — the production shape after day 1:
    // build the five statistic indexes on corpus A (gram index, line
    // document frequencies, NB sufficient statistics, raw-hash dedup
    // index, signature index) plus the frozen BPE vocabulary, then
    // admit batch B through the FULL recipe (boilerplate + decon +
    // dup-span cuts, exact/near dedup, NB gate) against those indexes —
    // A's text is never re-scanned. The oracle is the batch-B slice of
    // the Python mirror running the whole recipe on A UNION B: the
    // exactness contract (every statistic mergeable over raw text,
    // IncrementalCuration's scaladoc theorem) makes that slice the
    // incremental run's bit-exact answer, so any stale-index or
    // id-threading bug in the composition lands as a hash mismatch.
    // Two-day state composition is additionally spec-pinned
    // (IncrementalCurationSpec admits a day-3 batch).
    "curate_corpus_incremental" -> ((s, dir) => {
      val (corpusA, batchB, bench) = incrementalCurationFixture(s, dir)
      val prefix = "graft_inccur"
      graft.api.IncrementalCuration.reset(s, prefix)
      graft.api.IncrementalCuration.buildState(corpusA, prefix,
        "doc_id", "text", col("lang") === "en")
      graft.api.IncrementalCuration.admitBatch(batchB, bench, corpusA,
          prefix, "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id")
    }),
    // The pre-empted-BETWEEN-DAYS leg: day-1 state built, then every
    // catalog registration dies with the JVM while the warehouse
    // directories survive (CatalogOps.deregisterKeepingFiles — the
    // staged-xsession discipline applied to the day-2 seam). admitBatch
    // auto-recovers the nine state tables from the directory listing
    // and must land bit-equal to curate_corpus_incremental's pinned
    // oracle — any table silently missing from recovery lands as a
    // verdict or span mismatch.
    "curate_corpus_incremental_xsession" -> ((s, dir) => {
      val (corpusA, batchB, bench) = incrementalCurationFixture(s, dir)
      val prefix = "graft_inccurxs"
      graft.api.IncrementalCuration.reset(s, prefix)
      graft.api.IncrementalCuration.buildState(corpusA, prefix,
        "doc_id", "text", col("lang") === "en")
      graft.api.IncrementalCuration.stateTables(prefix).foreach(t =>
        org.apache.spark.sql.graft.CatalogOps.deregisterKeepingFiles(s, t))
      graft.api.IncrementalCuration.admitBatch(batchB, bench, corpusA,
          prefix, "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id")
    }),
    // Day-N state compaction: split the batch into two consecutive days
    // (B1 = [350, 450), B2 = [450, 500)), admit B1, COMPACT the nine
    // state tables (fold line-df/NB generations, dedupe gram flags,
    // single-generation rewrite of the triple stores), then admit B2
    // against the compacted state. The mergeable-statistics theorem
    // makes B2's admit over A ∪ B1 state the bit-exact [450, 500) slice
    // of the SAME Python union rerun that pins curate_corpus_incremental
    // — so a compaction that loses or double-counts ANY statistic
    // (a dropped line generation, a folded-away hash row, a de-duped
    // flag that was load-bearing) lands as a hash mismatch. B2's exact
    // dups are planted against BOTH sides of the compaction: doc 485
    // exact-dups B1's 388 (the compacted hash rows) and 453/463/...
    // exact-dup day-1 A docs.
    // Streaming day-2 admission: batch B arrives over 4 micro-batches,
    // each driving admitBatch through foreachBatch against day-1 state
    // on A (EventStreams.incrementalAdmitReplay — the stream_rolling_
    // dedup shape applied to the full curation recipe). SEQUENTIAL
    // semantics are the point: micro-batch k admits against A union
    // B1..Bk, so e.g. the "limited time offer" line (which crosses
    // minDocs only once ALL of B merges in) cuts in late batches but
    // NOT in early ones — the oracle recomputes each slice as the
    // batch slice of the union rerun over exactly the docs that had
    // arrived, and asserts the result DIFFERS from the one-shot batch
    // gate (the sequential/batch distinction is real, not vacuous).
    "stream_incremental_admit" -> ((s, dir) => {
      import s.implicits._
      val (corpusA, batchB, bench) = incrementalCurationFixture(s, dir)
      val corpus = corpusA
        .select(col("doc_id").cast("long"), col("text"), col("lang"))
        .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
      val stream = batchB
        .select(col("doc_id").cast("long"), col("text"), col("lang"))
        .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
      val benchSeq = bench.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.incrementalAdmitReplay(s, corpus,
          stream, benchSeq, nBatches = 4)
        .orderBy("doc_id")
    }),
    // The production day-N loop front to back: a WARC tape wave lands,
    // the checkpointed file stream parses only the unseen files, and the
    // wave admits through the full day-2 recipe against persisted day-1
    // state (EventStreams.warcAdmitIngest — warcIngest composed with the
    // admitBatch seam). Two waves = two admission days; wave-2 admits
    // must see wave-1's rows in every statistic (lookup + indexes grow
    // between passes) and the checkpoint must keep wave 1 from
    // re-parsing (a replay doubles rows and fails the count). Oracle:
    // the same sequential union-rerun walk as stream_incremental_admit,
    // chunked as the two sorted halves.
    "stream_warc_admit" -> ((s, dir) =>
      warcAdmitGate(s, dir, "graft_warcadm", "graft_warc_admit",
        crashSecondWave = false)),
    // The crash-replay twin: wave 2 completes EVERY write (state
    // appends, gen_done marker, result/lookup rows) and then dies
    // before the checkpoint commit — the worst-case at-least-once
    // window. The restart replays the wave; admitBatch's gen_done skip
    // path reconstructs the bit-equal verdicts without touching state,
    // and the id-anti-join appends land nothing twice. Oracle: the
    // SAME union-rerun rows as stream_warc_admit — the crash must be
    // invisible in the output, which is the exactly-once claim.
    "stream_admit_replay" -> ((s, dir) =>
      warcAdmitGate(s, dir, "graft_warcrep", "graft_warc_replay",
        crashSecondWave = true)),
    // Takedown through the day-2 state: build day-1 indexes on A, DELETE
    // the 30 docs that are B's exact/near clone partners (ids in
    // [150, 350) with id % 10 in {3, 6} — subtract-or-rebuild per
    // statistic, takedownState's scaladoc), then admit B. The oracle is
    // the batch slice of the Python rerun on (A minus takedown) UNION B
    // — with the BPE vocabulary still trained on the ORIGINAL A, the
    // stated frozen-tokenizer exemption — so every clone of a deleted
    // doc must now be ADMITTED as a first holder (the deletion visibly
    // flips exact AND near verdicts), and a subtraction error in any
    // count statistic (line df, NB) lands as a score/cut hash mismatch.
    "takedown_incremental" -> ((s, dir) => {
      val (corpusA, batchB, bench) = incrementalCurationFixture(s, dir)
      val prefix = "graft_inctake"
      val isDel = col("doc_id") >= 150 && col("doc_id") < 350 &&
        (col("doc_id") % 10 === 3 || col("doc_id") % 10 === 6)
      graft.api.IncrementalCuration.reset(s, prefix)
      graft.api.IncrementalCuration.buildState(corpusA, prefix,
        "doc_id", "text", col("lang") === "en")
      graft.api.IncrementalCuration.takedownState(corpusA.filter(isDel),
        prefix, "doc_id", "text", col("lang") === "en")
      graft.api.IncrementalCuration.admitBatch(batchB, bench,
          corpusA.filter(!isDel), prefix, "doc_id", "text",
          col("lang") === "en")
        .orderBy("doc_id")
    }),
    "inc_state_compact" -> ((s, dir) => {
      val (corpusA, batchB, bench) = incrementalCurationFixture(s, dir)
      val prefix = "graft_inccmp"
      val b1 = batchB.filter(col("doc_id") < 450)
      val b2 = batchB.filter(col("doc_id") >= 450)
      graft.api.IncrementalCuration.reset(s, prefix)
      graft.api.IncrementalCuration.buildState(corpusA, prefix,
        "doc_id", "text", col("lang") === "en")
      graft.api.IncrementalCuration.admitBatch(b1, bench, corpusA,
        prefix, "doc_id", "text", col("lang") === "en")
      graft.api.IncrementalCuration.compactState(s, prefix)
      graft.api.IncrementalCuration.admitBatch(b2, bench,
          corpusA.unionByName(b1), prefix, "doc_id", "text",
          col("lang") === "en")
        .orderBy("doc_id")
    }),
    // Prototype/coreset selection: the 5 most central vectors per semantic
    // cell (squared L2 to the cell centroid, ties by id) — the data-pruning
    // companion of semantic_dedup, same trained cells. Oracle: full Python
    // re-derivation (kmeans -> per-cell distance rank), pinned VALUES.
    "semantic_prototypes" -> ((s, dir) => {
      graft.api.SemanticDedup.clusterPrototypes(load(s, dir, "embeddings"),
          nClusters = 16, k = 5, seed = 77L, iters = 5, sampleSize = 500)
        .orderBy("cluster", "rank")
    }),
    // The embedding-side composed recipe, analog of curate_corpus:
    // semantic dedup (SemDeDup cells, keep-earliest) → embedding
    // decontamination (drop anything cosine-near the hash-sampled bench)
    // → surviving (vec_id, cluster). Every stage is the already-gated
    // operator; the oracle re-derives the chain in Python, so composition
    // bugs (wrong drop set, wrong stage order) surface as row mismatches.
    "curate_embeddings" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val verdicts = graft.api.SemanticDedup.semanticDedup(emb,
        nClusters = 16, tau = 0.35, seed = 77L, iters = 5, sampleSize = 500)
      val kept = emb.join(
        verdicts.filter(col("kept")).select("vec_id", "cluster"), "vec_id")
      val bench = graft.api.Sampling.sampleByHash(emb, "vec_id", 0.02, 99L)
      val flagged = graft.api.Contamination.embedOverlap(kept, bench, tau = 0.25)
        .select(col("vec_id")).distinct()
      kept.join(flagged, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),
    "incremental_dedup" -> ((s, dir) => {
      // incremental ingestion at 100 TB: the admitted corpus's band
      // signatures are persisted ONCE as a bucketed table; admitting a new
      // batch hashes and shuffles only the batch — the index side of the
      // band join reads in place with zero exchange. Oracle is the DuckDB
      // brute-force cross ground truth (recall deterministically 1 at these
      // params, same family as minhash_dedup_pairs).
      val docs = load(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
      graft.api.BandedLsh.saveSignatureIndex(corpus, "graft_sig_idx", 8,
        "doc_id", "text", 4, 8, 3, 123L)
      graft.api.BandedLsh.nearDupAgainstIndex("graft_sig_idx", corpus, batch,
          "doc_id", "text", 4, 8, 3, 123L, 0.5)
        .orderBy("batch_id", "corpus_id")
    }),
    "rolling_dedup" -> ((s, dir) => {
      // rolling ingestion end-to-end: index built on docs < 300, batch
      // 300..399 APPENDED (appendToSignatureIndex — the hot/cold routed
      // path), then docs >= 400 probed against the full indexed corpus.
      // hotBucketCap=5 forces a real hot sidecar at this SF and
      // threshold=0.35 keeps pairs whose only band collisions route through
      // hot buckets — including via batch-appended rows, which is exactly
      // the path the round-6 routing bug broke. Oracle: pinned Python
      // re-derivation of the banding-collision + exact-Jaccard set (a
      // brute-force oracle can't work here: banding recall < 1 at 0.35, so
      // the emitted set is LSH-defined, like signature_dedup_pairs).
      val docs = load(s, dir, "documents")
      graft.api.BandedLsh.saveSignatureIndex(docs.filter(col("doc_id") < 300),
        "graft_roll_idx", 8, "doc_id", "text", 4, 8, 3, 123L, hotBucketCap = 5)
      graft.api.BandedLsh.appendToSignatureIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
        "graft_roll_idx", "doc_id", "text", 4, 8, 3, 123L)
      graft.api.BandedLsh.nearDupAgainstIndex("graft_roll_idx",
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "doc_id", "text", 4, 8, 3, 123L, 0.35)
        .orderBy("batch_id", "corpus_id")
    }),
    "index_health" -> ((s, dir) => {
      // maintenance gate for append drift: index built on docs < 300
      // (hotBucketCap=5 — a real sidecar at this SF), docs 300..399
      // appended (appends route hot/cold but deliberately never
      // RE-classify buckets), then signatureIndexHealth must report
      // exactly the cold-main buckets the appends pushed past the cap —
      // the "rebuild due" signal the append contract defers to this scan.
      // Oracle: full Python re-derivation (build-time classification +
      // append routing + main-table counts) — ~34 drifted buckets at
      // sf0.01, so the gate is non-vacuous.
      val docs = load(s, dir, "documents")
      graft.api.BandedLsh.saveSignatureIndex(docs.filter(col("doc_id") < 300),
        "graft_health_idx", 8, "doc_id", "text", 4, 8, 3, 123L, hotBucketCap = 5)
      graft.api.BandedLsh.appendToSignatureIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
        "graft_health_idx", "doc_id", "text", 4, 8, 3, 123L)
      graft.api.BandedLsh.signatureIndexHealth(s, "graft_health_idx", 5L)
        .orderBy("band", "band_hash")
    }),
    "sig_index_compact" -> ((s, dir) => {
      // retention-delete compaction on the signature index — the third
      // leg of the takedown trilogy (gram_index_compact, ann_index_compact).
      // Same build+append as index_health (docs < 300 at hotBucketCap=5 —
      // a real sidecar at this SF — then 300..399 appended under the
      // frozen classification), then every doc_id % 7 == 0 deletes across
      // both generations. Output: per-store per-bucket population of the
      // compacted index, so BOTH exact removal and hot/cold routing are
      // pinned — a hot-store bucket sitting below the cap in this output
      // is the frozen-classification contract made visible. The oracle
      // re-derives build classification + append routing + the deletion
      // with no re-hash of anything (the compaction contract).
      val docs = load(s, dir, "documents")
      graft.api.BandedLsh.saveSignatureIndex(docs.filter(col("doc_id") < 300),
        "graft_sigcmp_idx", 8, "doc_id", "text", 4, 8, 3, 123L, hotBucketCap = 5)
      graft.api.BandedLsh.appendToSignatureIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
        "graft_sigcmp_idx", "doc_id", "text", 4, 8, 3, 123L)
      graft.api.BandedLsh.compactSignatureIndex(s, "graft_sigcmp_idx",
        docs.filter(col("doc_id") < 400 && col("doc_id") % 7 === 0)
          .select("doc_id"))
      s.table("graft_sigcmp_idx").withColumn("store", lit("main"))
        .unionByName(
          s.table("graft_sigcmp_idx_hot").withColumn("store", lit("hot")))
        .groupBy("store", "band", "band_hash")
        .agg(count(lit(1)).as("bucket_rows"))
        .orderBy("store", "band", "band_hash")
    }),
    "signature_dedup_pairs" -> ((s, dir) => {
      // near-dup verification WITHOUT texts: candidates from the same 8x3
      // banding as minhash_dedup_pairs, but sim estimated as the equal
      // fraction of a 24-component min-hash signature — nothing but
      // (id, signature) rows move after the hashing scan. Oracle: full
      // Python re-derivation (banding collisions + signature fractions).
      graft.api.BandedLsh.nearDupPairsBySignature(load(s, dir, "documents"),
          "doc_id", "text", 4, 8, 3, 123L, k = 24, sigSeed = 321L, threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),
    "crossdedup_join" -> ((s, dir) => {
      // the direct A×B near-dup join (no index): banded blocking through
      // the mega-bucket-hardened band join, exact-Jaccard verified — same
      // ground truth as incremental_dedup (the index path must agree with
      // the direct path), different column orientation
      val docs = load(s, dir, "documents")
      graft.api.BandedLsh.nearDupJoin(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "doc_id", "text", "doc_id", "text", 4, 8, 3, 123L, 0.5)
        .orderBy("id_a", "id_b")
    }),
    "dedup_clusters" -> ((s, dir) => {
      // connected-component labels over the minhash near-dup graph
      // (union-find / hash-min; each doc labeled with its cluster min id);
      // value-checked against a DuckDB transitive-closure recomputation.
      // The pair set is the same cached plan minhash_dedup_pairs runs — the
      // second of the two queries reuses the materialized candidates instead
      // of recomputing the banded join.
      graft.api.BandedLsh.dupClusters(nearDupPairsShared(s, dir)).orderBy("id")
    }),
    "dedup_clusters_distributed" -> ((s, dir) => {
      // the SAME clustering against the SAME transitive-closure oracle, but
      // with driverThreshold = 0 so the distributed hash-min + pointer-jump
      // branch runs (the default query's graph is under the 1M-edge driver
      // threshold, so without this the scale path would only ever be
      // spec-tested). Path is provable from the result plan: the distributed
      // branch ends in a localCheckpoint RDD scan, the driver branch in a
      // LocalRelation (pinned by DedupSpec).
      graft.api.BandedLsh.dupClusters(nearDupPairsShared(s, dir),
        driverThreshold = 0L).orderBy("id")
    }),
    "dedup_clusters_chain" -> ((s, dir) => {
      // convergence-boundary gate for the distributed branch: eight
      // deliberate long chains (edges doc_id -> doc_id+8, so component =
      // residue class, diameter = |docs|/8) with driverThreshold = 0 —
      // hash-min + pointer-jump must propagate the min across ~62 hops at
      // sf0.01 (~6 doubling rounds + the convergence-detection round),
      // where the default gated graphs converge almost immediately.
      // maxIters = 16 covers the diameter growing with SF (bench runs
      // sf0.1: diameter ~624 -> ~11 rounds); the non-convergence THROW path
      // is spec-exercised (PipelineOpsSpec brackets the round count).
      // Oracle: contiguous ids make the component min = doc_id % 8.
      val ids = load(s, dir, "documents").select(col("doc_id"))
      val edges = ids.select(col("doc_id").as("id_a"), (col("doc_id") + 8).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      graft.api.BandedLsh.dupClusters(edges, maxIters = 16, driverThreshold = 0L)
        .orderBy("id")
    }),
    "dedup_keep_best" -> ((s, dir) => {
      // the step after clustering: keep ONE representative per duplicate
      // cluster (longest text, doc_id tiebreak), pass singletons through —
      // i.e. the actual deduplicated corpus. Shares the cached pair plan
      // with minhash_dedup_pairs/dedup_clusters.
      val docs = load(s, dir, "documents")
      val clusters = graft.api.BandedLsh.dupClusters(nearDupPairsShared(s, dir))
      graft.api.Dedup.keepBestPerCluster(docs, clusters, "doc_id",
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "cosine_lsh_pairs" -> ((s, dir) => {
      // random-hyperplane (sign) LSH completes the blocking-family triad:
      // 64-bit sketches, 8 bands of 8 bits, exact-cosine verification at
      // 0.3 (4603 candidates of 125k possible pairs -> 121 verified at this
      // fixture). Oracle: full Python re-derivation (StdRng hyperplanes ->
      // sketches -> chunk buckets -> cosine), pinned VALUES.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.cosineLshPairs(emb, nbits = 64, bands = 8, seed = 41L,
          threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),
    "cosine_adjacent" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.cosineNearDupWindow(emb, window = 1, threshold = -2.0)
        .orderBy("id_a")
    }),
    "ann_topk_brute" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),
    "ann_topk_ivf" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
          nlist = 16, nprobe = 4, seed = 99L)
        .orderBy("query_id", "rank")
    }),
    "ann_topk_pq" -> ((s, dir) => {
      // product-quantization ADC: corpus scanned as 8 subspace codes, not
      // vectors; the pinned oracle re-derives codebooks, codes, per-query
      // distance tables and the (adist, id)-ranked top-k in Python
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.pqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          m = 8, ksub = 16, seed = 55L, iters = 4)
        .orderBy("query_id", "rank")
    }),
    "ann_topk_ivfpq" -> ((s, dir) => {
      // the composed IVF-PQ layout: coarse-cell pruning (nprobe of nlist)
      // × PQ-compressed ADC scan — both models trained in the query, both
      // re-derived in the pinned Python oracle
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          nlist = 16, nprobe = 4, m = 8, ksub = 16, seed = 77L, iters = 4)
        .orderBy("query_id", "rank")
    }),
    "ann_topk_ivfpq_fitted" -> ((s, dir) => {
      // the train-once / search-many-SESSIONS path: fit the same IVF-PQ
      // config as ann_topk_ivfpq, persist codebooks + cell-partitioned
      // codes as tables, reload, and search from the persisted form —
      // bit-equal to the in-session path by construction (same oracle).
      // PlanShapeSpec pins that the search scans only the probed cell
      // partitions with zero corpus-side exchange.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb,
        nlist = 16, m = 8, ksub = 16, seed = 77L, iters = 4)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_ivfpq_idx")
      graft.api.Ann.loadIvfPqIndex(s, "graft_ivfpq_idx")
        .search(emb.filter(col("vec_id") < 10), 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    "ann_index_health" -> ((s, dir) => {
      // append-drift maintenance for the persisted IVF-PQ index: fit+save
      // on the corpus, then append 60 frozen-model-encoded copies of each
      // of vectors 0..4 (deterministic drift concentrated in their cells —
      // appends never retrain, mirroring the signature index contract);
      // ivfPqIndexHealth must report exactly the ballooned cells. Oracle:
      // Python re-derivation (same kmeans mirror as ann_topk_ivf* ->
      // cell assignments -> counts -> skew filter); asserted non-vacuous.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb,
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annhealth_idx")
      val drift = emb.filter(col("vec_id") < 5)
        .crossJoin(s.range(1, 61).select(col("id").as("__rep")))
        .select((col("vec_id") + col("__rep") * 100000L).as("vec_id"),
          col("embedding"))
      graft.api.Ann.appendToIvfPqIndex(drift, "graft_annhealth_idx")
      graft.api.Ann.ivfPqIndexHealth(s, "graft_annhealth_idx", maxSkew = 1.5)
        .orderBy("cell")
    }),
    // The REPAIR for that drift signal (Ann.rebalanceIvfPqCells): same
    // build+append shape but the drift is geometrically DIVERSE (base
    // vector + 3.0 + 0.05*rep elementwise — a displaced new data mode, the
    // realistic drift case and one a sub-quantizer can actually separate;
    // identical copies would re-collapse into one cell under any
    // geometry-respecting split). Ballooned cells split against locally
    // refit sample-init sub-quantizers; only their rows are reassigned,
    // codes carried, untouched partitions never rewritten (spec-pinned).
    // Output: the per-cell population of the repaired index — pins the
    // whole pipeline (frozen-model appends, health skews, per-cell
    // k-means, in-place + appended centroids, global reassignment).
    // Oracle: full Python re-derivation via the same kmeans mirrors.
    "ann_index_rebalance" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb,
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annreb_idx")
      val drift = emb.filter(col("vec_id") < 5)
        .crossJoin(s.range(1, 61).select(col("id").as("__rep")))
        .select((col("vec_id") + col("__rep") * 100000L).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(3.0) + col("__rep").cast("double") * lit(0.05)).as("embedding"))
      graft.api.Ann.appendToIvfPqIndex(drift, "graft_annreb_idx")
      val full = emb.unionByName(drift)
      graft.api.Ann.rebalanceIvfPqCells(full, "graft_annreb_idx",
        seed = 77L, maxSkew = 1.5)
      s.table("graft_annreb_idx_codes")
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("cell_rows"))
        .orderBy("cell")
    }),
    // The complementary repair (round 13): MERGE drift — a big append
    // concentrated in one region (vec_id<5, 200 reps, same displacement
    // family as the rebalance gate) leaves the original cells relatively
    // starved; cells below minSkew=0.5 (two populated + the build's
    // std_normal-init empty cells) retire into the Inf-sentinel dead
    // state and ONLY their rows reassign to each row's nearest survivor.
    // Oracle: full Python re-derivation of fit → assign → append → skew →
    // mask → per-row nearest-surviving reassign; output = final per-cell
    // populations of the codes table (dead cells absent).
    "ann_index_merge" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb,
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annmrg_idx")
      val drift = emb.filter(col("vec_id") < 5)
        .crossJoin(s.range(1, 201).select(col("id").as("__rep")))
        .select((col("vec_id") + col("__rep") * 100000L).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(3.0) + col("__rep").cast("double") * lit(0.05)).as("embedding"))
      graft.api.Ann.appendToIvfPqIndex(drift, "graft_annmrg_idx")
      val full = emb.unionByName(drift)
      graft.api.Ann.mergeStarvedIvfPqCells(full, "graft_annmrg_idx",
        minSkew = 0.5)
      s.table("graft_annmrg_idx_codes")
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("cell_rows"))
        .orderBy("cell")
    }),
    "ann_index_compact" -> ((s, dir) => {
      // retention-delete compaction (DMCA/GDPR takedowns): build under the
      // health family's config so the oracle reuses the fitted-quantizer
      // mirror, append a shifted batch under the frozen models, then every
      // id % 9 == 0 deletes across base + appended. Models stay frozen and
      // cell assignment is untouched, so the oracle needs NO quantizer
      // re-run for the compaction itself — it drops the ids and counts.
      // Output: per-cell population of the compacted codes table.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb,
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_anncmp_idx")
      val batch = emb.filter(col("vec_id") < 3)
        .crossJoin(s.range(1, 41).select(col("id").as("__rep")))
        .select((col("vec_id") + col("__rep") * 100000L).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(3.0) + col("__rep").cast("double") * lit(0.05)).as("embedding"))
      graft.api.Ann.appendToIvfPqIndex(batch, "graft_anncmp_idx")
      val deleted = emb.select("vec_id")
        .unionByName(batch.select("vec_id"))
        .filter(col("vec_id") % 9 === 0)
      graft.api.Ann.compactIvfPqIndex(s, "graft_anncmp_idx", deleted)
      s.table("graft_anncmp_idx_codes")
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("cell_rows"))
        .orderBy("cell")
    }),
    "ann_novelty_ingest" -> ((s, dir) => {
      import s.implicits._
      // dedup-at-ingest for the embedding store: index fitted on
      // vec_id < 300 (the stream_ann_append model family) with the raw
      // vectors co-persisted, then a stream of naturals (vec_id >= 300)
      // plus EXACT clones (id+100000) of every vec_id % 5 == 0 arrives
      // over 4 id-ordered chunks. ADC shortlists (k=8, nprobe=4), the
      // EXACT squared-L2 decides (tau=1e-6 — an exact clone lands at 0,
      // a genuine neighbor well above). Clones of base vectors must drop
      // against the initial state; clones of streamed naturals arrive in
      // later chunks and must drop against state EARLIER chunks appended
      // (the cross-batch contract); naturals must admit.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb.filter(col("vec_id") < 300),
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annnov_idx")
      graft.api.BucketedWrite.dropTable(s, "graft_annnov_corpus")
      emb.filter(col("vec_id") < 300).write.format("parquet")
        .mode("overwrite").saveAsTable("graft_annnov_corpus")
      val stream = emb.filter(col("vec_id") >= 300)
        .unionByName(emb.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
      val chunk = math.max(1, (stream.size + 3) / 4)
      stream.grouped(chunk).toSeq.map { c =>
        graft.api.Ann.admitNovelVectors(c.toDF("vec_id", "embedding"),
          "graft_annnov_idx", "graft_annnov_corpus",
          tau = 1e-6, nprobe = 4, kCand = 8)
      }.reduce(_.unionByName(_)).orderBy("vec_id")
    }),
    "ann_index_reindex" -> ((s, dir) => {
      // full model refresh: build under the health family's config, push
      // the cmp-fixture drifted append in (data the seed-11 quantizer
      // doesn't fit), then reindex on the full raw corpus with FRESH
      // models (seed 13). Output: per-cell population of the rebuilt
      // index — the mirror refits on the combined corpus with the same
      // seeded-hash sample order, so a reindex that leaked the old
      // models, dropped rows, or mis-sampled shows up as count drift.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb,
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annrx_idx")
      val drift = emb.filter(col("vec_id") < 3)
        .crossJoin(s.range(1, 41).select(col("id").as("__rep")))
        .select((col("vec_id") + col("__rep") * 100000L).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(3.0) + col("__rep").cast("double") * lit(0.05)).as("embedding"))
      graft.api.Ann.appendToIvfPqIndex(drift, "graft_annrx_idx")
      graft.api.Ann.reindexIvfPq(emb.unionByName(drift), "graft_annrx_idx",
          nlist = 16, m = 8, ksub = 16, seed = 13L, iters = 5)
        .orderBy("cell")
    }),
    "ann_topk_lsh" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.lshBucketedTopK(emb, emb.filter(col("vec_id") < 10), 5,
          bucketWidth = 4.0, bandCount = 8, bandSize = 2, seed = 7L)
        .orderBy("query_id", "rank")
    }),
    "ann_recall" -> ((s, dir) => {
      // the quality-regression gate: recall@10 vs exact brute force for each
      // index family at its gated config, pinned in the oracle (determinism
      // alone can't catch an nprobe/band/codebook drift that stays bit-exact
      // to its own oracle while silently cratering result quality; AnnSpec
      // asserts the >= 0.9 floor). ivfpq runs the production rerank pattern
      // — ADC shortlist (k=50), exact top-10 by containment — because raw
      // ADC ranking at small code sizes is geometry-limited on this
      // iid-random fixture (~0.1-0.6 recall@10 at ANY config: top-10 cosine
      // gaps of ~500 iid gaussians are smaller than any quantizer's error).
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val qs = emb.filter(col("vec_id") < 10)
      val brute = graft.api.Ann.bruteForceTopK(emb, qs, 10)
        .select(col("query_id"), col("neighbor_id"))
      // denominator derived from the brute-force set itself (|queries|*k),
      // so the gate re-scales if the fixture's query count ever changes
      val bruteTotal = brute.agg(count(lit(1)).as("n_total"))
      def recallOf(method: String, approx: DataFrame): DataFrame =
        brute.join(approx.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(bruteTotal)
          .select(lit(method).as("method"), col("n_hits"), col("n_total"),
            (col("n_hits").cast("double") / col("n_total").cast("double"))
              .as("recall"))
      recallOf("ivf", graft.api.Ann.ivfTopK(emb, qs, 10,
          nlist = 16, nprobe = 4, seed = 99L, iters = 5))
        .unionByName(recallOf("ivfpq_rerank", graft.api.Ann.ivfPqTopK(emb, qs, 50,
          nlist = 16, nprobe = 8, m = 32, ksub = 256, seed = 77L, iters = 4)))
        .unionByName(recallOf("lsh", graft.api.Ann.lshBucketedTopK(emb, qs, 10,
          bucketWidth = 4.0, bandCount = 8, bandSize = 2, seed = 7L)))
        .orderBy("method")
    }),
    "quantize_embeddings" -> ((s, dir) => {
      graft.api.Ann.quantizeInt8(load(s, dir, "embeddings"))
        .orderBy("vec_id", "pos")
    }),
    "ann_topk_lsh_bucketed" -> ((s, dir) => {
      // the production repeat-batch layout: the band explosion is persisted
      // as a bucketed+sorted table ONCE, and the batch join reads it with
      // zero corpus-side exchange (PlanShapeSpec pins the plan). Results are
      // identical to ann_topk_lsh by construction — same family, same seed.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.api.Ann.saveBucketedCorpus(emb, "graft_ann_bucketed_idx", 8,
        bucketWidth = 4.0, bandCount = 8, bandSize = 2, seed = 7L)
      graft.api.Ann.lshBucketedTopKFromTable("graft_ann_bucketed_idx",
          emb, emb.filter(col("vec_id") < 10), 5,
          bucketWidth = 4.0, bandCount = 8, bandSize = 2, seed = 7L)
        .orderBy("query_id", "rank")
    }),
    "frame_sample" -> ((s, dir) => {
      // frame sampling over opaque binary payloads: every 4th 16-byte block
      // (stride 4 = 64-byte step) explodes to one frame row. Fixture text is
      // pure ASCII, so the DuckDB oracle's character substring equals the
      // byte slice exactly.
      val media = load(s, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
      graft.api.Multimodal.sampleFrames(media, 4)
        .select(col("media_id"), col("frame_idx"),
          col("frame_bytes").cast("string").as("frame_bytes"))
        .orderBy("media_id", "frame_idx")
    }),
    "multimodal_features" -> ((s, dir) => {
      // documents.text as an opaque binary payload: byte-level features via
      // the partition-batched extractor + a sha256 checksum column
      val media = load(s, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
      graft.api.Multimodal.extractFeatures(media)
        .drop("checksum") // FxHash checksum not oracle-expressible; dropped here
        .join(media.select(col("media_id"), sha2(col("bytes"), 256).as("sha256")), "media_id")
        .orderBy("media_id")
    }),
    "multimodal_resize" -> ((s, dir) => {
      // aspect-preserving resize plan + stub thumbnail in one batched
      // decode pass; the binary thumb is pinned via its sha256 (same
      // convention as multimodal_features' checksum)
      val media = load(s, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
      graft.api.Multimodal.resizeStub(media, 64)
        .select(col("media_id"), col("width"), col("height"),
          col("out_w"), col("out_h"), sha2(col("thumb_bytes"), 256).as("thumb_sha256"))
        .orderBy("media_id")
    }),
    // REAL resize through the decode seam: integer-exact box-filter
    // downscale of the decoded PNG rasters (floor-grid, per-channel
    // floor-mean — graft.core.ImageHash.resizeBox), output pixels pinned
    // by sha256. The oracle recomputes the EXACT thumbnail bytes from
    // the pixel recipe in Python — no image libraries — so a wrong grid
    // boundary, channel order, or rounding mode lands as a hash
    // mismatch. This is the production thumbnail path (rasters are what
    // training pipelines consume; encoding is a sink concern) — the
    // byte-slice resizeStub gate (multimodal_resize) remains as the
    // plan-shape twin over arbitrary binary columns.
    "multimodal_resize_real" -> ((s, dir) => {
      graft.api.Multimodal.syntheticPngs(s, 48)
        .select(col("media_id"),
          graft.functions.image_resize(col("bytes"), 8).as("r"))
        .select(col("media_id"),
          col("r.width").as("width"), col("r.height").as("height"),
          col("r.out_w").as("out_w"), col("r.out_h").as("out_h"),
          sha2(col("r.pixels"), 256).as("pix_sha256"))
        .orderBy("media_id")
    }),
    // The AUDIO modality's real codec: deterministic 16-bit PCM (sample =
    // FxHash chain of (id, k), mono/stereo, varying frame counts)
    // WAV-encoded once on the driver via javax.sound.sampled and DECODED
    // inside the codegen'd DecodeMedia expression by WavDecoder. PCM is
    // lossless, so the pinned oracle re-derives checksum/frames/channels/
    // mean|sample| from the sample recipe alone — Python never touches a
    // WAV container.
    "multimodal_features_wav" -> ((s, dir) => {
      graft.api.Multimodal.extractFeatures(
          graft.api.Multimodal.syntheticWavs(s, 48),
          graft.api.Multimodal.WavDecoder)
        .select(col("media_id"), col("checksum"),
          col("width").as("n_frames"), col("height").as("channels"),
          col("mean_byte").as("mean_abs"))
        .orderBy("media_id")
    }),
    "multimodal_features_real" -> ((s, dir) => {
      // a REAL codec through the decoder seam: deterministic RGB rasters
      // (pixel byte = FxHash chain of (id, x, y, channel), dims varying
      // with id) are PNG-encoded once on the driver via javax.imageio and
      // DECODED inside the codegen'd DecodeMedia expression by
      // ImageIoDecoder on executor threads. The pinned oracle re-derives
      // checksum/dims/mean from the pixel recipe alone — Python never
      // touches a PNG — so any decode deviation (wrong pixel order, color
      // conversion, off-by-one dims) breaks the hash match. `dir` is
      // unused: testdata ships no image fixtures, so the payloads are
      // synthesized; the decode path is the production path.
      graft.api.Multimodal.extractFeatures(
          graft.api.Multimodal.syntheticPngs(s, 64),
          graft.api.Multimodal.ImageIoDecoder)
        .select("media_id", "checksum", "width", "height", "mean_byte")
        .orderBy("media_id")
    }),
    // Perceptual image near-dup: dHash over DECODED pixels (integer
    // gray/floor-mean recipe — graft.core.ImageHash), SimHash-style
    // 4x16-bit pigeonhole banding, exact Hamming verify <= 10. Fixture:
    // the recipe rasters plus 4x4-corner-shifted NEAR twins (their dHash
    // damage is confined to band 0, so banding must find every one) and
    // re-encoded EXACT twins (distance 0 — hash identity is pixel-
    // defined, never byte-defined). The oracle recomputes every hash
    // from the pixel recipe in Python — no image libraries — then mirrors
    // the banding, so a raster-order/gray-weight/grid-boundary deviation
    // lands as a row or hash mismatch.
    "image_phash_dedup" -> ((s, dir) => {
      graft.api.Multimodal.imageNearDupPairs(
          graft.api.Multimodal.syntheticPngTwins(s, 48),
          "media_id", "bytes", bands = 4, maxHamming = 10)
        .orderBy("id_a", "id_b")
    }),
    // Perceptual audio near-dup: the image_phash_dedup discipline on the
    // WAV decode seam — a Haitsma-Kalker-style sign-of-energy-delta
    // fingerprint over decoded PCM (integer-exact recipe —
    // graft.core.AudioFingerprint), the same 4x16-bit pigeonhole banding,
    // exact Hamming verify <= 6. Fixture: the synthetic-PCM originals
    // plus first-segment-perturbed NEAR twins (fingerprint damage
    // confined to bits {0, 32, 33} — bands 1 and 3 untouched, so banding
    // must find every one) and byte-identical EXACT twins (distance 0).
    // The oracle recomputes every fingerprint from the sample recipe in
    // Python — no audio libraries — then mirrors the banding.
    "audio_fp_dedup" -> ((s, dir) => {
      graft.api.Multimodal.audioNearDupPairs(
          graft.api.Multimodal.syntheticWavTwins(s, 48),
          "media_id", "bytes", bands = 4, maxHamming = 6)
        .orderBy("id_a", "id_b")
    }),
    // The multimodal composed recipe — curate_web for (media, caption)
    // rows: caption rules -> global caption first-come dedup ->
    // perceptual near-dup per modality (image dHash banding + audio
    // fingerprint banding) with the greedy keep-earliest drop. Fixture:
    // BOTH twin sets (audio ids offset +1000) with planted caption junk
    // (id%7==2 stub captions), a cross-id duplicate caption class
    // (id%11==5), and unique captions elsewhere so the perceptual stage
    // gets real work. Oracle: full Python chain over the recipe-derived
    // hashes (no codec libraries) — stage order and the survivor set pin
    // the composition.
    "curate_multimodal" -> ((s, dir) => {
      val cap = when(col("media_id") % 7 === 2, lit("thumb img"))
        .when(col("media_id") % 11 === 5,
          lit("a duplicated caption planted for the exact dedup stage"))
        .otherwise(concat(
          lit("a descriptive caption for media item number "),
          col("media_id").cast("string"), lit(" in the corpus")))
      val imgs = graft.api.Multimodal.syntheticPngTwins(s, 48)
        .withColumn("kind", lit("image"))
      val wavs = graft.api.Multimodal.syntheticWavTwins(s, 48)
        .withColumn("media_id", col("media_id") + 1000L)
        .withColumn("kind", lit("audio"))
      graft.api.Multimodal.curateMultimodal(
          imgs.unionByName(wavs).withColumn("caption", cap))
        .select(col("media_id"), col("kind"), col("caption"))
        .orderBy("media_id")
    }),
    "multimodal_features_jpeg" -> ((s, dir) => {
      // the second real codec path through the same decoder seam: the
      // recipe rasters JPEG-encoded (lossy, quality 0.95). Dims are pinned
      // exactly; the decoded mean byte is pinned to within 2.0 of the
      // recipe mean via a boolean the oracle re-derives as TRUE from the
      // recipe alone (codec-legal quantization noise on these fixtures
      // measures < 0.5; a wrong reader/color-space/truncated decode is
      // tens off or hits the -1 sentinel). MultimodalSpec additionally
      // pins decode determinism across runs.
      val media = graft.api.Multimodal.syntheticJpegs(s, 48)
      graft.api.Multimodal.extractFeatures(media,
          graft.api.Multimodal.ImageIoDecoder)
        .join(media.select("media_id", "recipe_mean"), "media_id")
        .select(col("media_id"), col("width"), col("height"),
          (abs(col("mean_byte") - col("recipe_mean")) <= lit(2.0)).as("mean_ok"))
        .orderBy("media_id")
    }),
    // Weighted sampling (A-ES exponential keys over the pinned ln): longer
    // documents proportionally likelier — the reproducible data-mixing
    // primitive. Oracle: full Python re-derivation of u, score and the
    // top-k selection (VALUES), lengths re-attached by DuckDB.
    // Source-mixing recipe: named sources keep 90%/50%, everything else
    // 20% — one narrow filter over one seeded score. Oracle: Python
    // re-derivation of the per-source Bernoulli keeps (VALUES).
    "mix_sources" -> ((s, dir) => {
      graft.api.Sampling.mixSources(load(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.9, "src1" -> 0.9, "src2" -> 0.5), 0.2, seed = 17L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),
    // Temperature-reweighted mixing (Sampling.mixByTemperature): shares
    // ∝ count^0.5, materialized as per-source rates over the same hash
    // filter. Oracle mirrors the exact count→pow→fold→rate derivation in
    // Python (gen_oracles), so the rate arithmetic is pinned end to end.
    "mix_temperature" -> ((s, dir) => {
      val (kept, _) = graft.api.Sampling.mixByTemperature(
        load(s, dir, "documents"), "source", "doc_id",
        alpha = 0.5, targetRows = 300L, seed = 29L)
      kept.select(col("doc_id"), col("source")).orderBy("doc_id")
    }),
    "sample_weighted" -> ((s, dir) => {
      graft.api.Sampling.weightedSampleTopK(
          load(s, dir, "documents"), "doc_id", "n_chars", 50, seed = 31L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // DSIR importance resampling (round 13; Xie et al. 2023): target =
    // the English slice, raw = the full corpus; hashed unigram+bigram
    // ratio table (crc32 buckets, add-one smoothing, ln_pinned logs),
    // per-doc logw = sequential feature fold, A-ES draw in log space.
    // Every step is bit-reproducible (exact counts, crc32, ln_pinned on
    // [1,inf) arguments only), so the oracle pins BOTH the selected set
    // and the logw doubles from a full Python re-derivation.
    "dsir_resample" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      graft.api.Sampling.dsirResample(docs,
          docs.filter(col("lang") === "en"), "doc_id", "text",
          k = 100, buckets = 1024, seed = 7L)
        .select(col("doc_id").cast("long").as("doc_id"), col("logw"))
        .orderBy("doc_id")
    }),
    "quality_nb_score" -> ((s, dir) => {
      // hashed-feature multinomial NB quality classifier — the "linear
      // classifier separating a curated seed from the rest" curation step
      // (Brown et al. 2020 App. A) in its closed-form, bit-deterministic
      // shape. Trains on source ∈ {src0, src1} as the seed; the oracle
      // re-derives the counts, the ln_pinned log-odds table, the prior
      // and the sequential score fold independently in Python.
      val docs = load(s, dir, "documents")
      graft.api.QualityClassifier.trainScore(docs, "text",
          col("source").isin("src0", "src1"), buckets = 1024)
        .select(col("doc_id"), col("nb_score"),
          (col("nb_score") > 0.0).as("nb_keep"))
        // pin before the global sort: the range partitioner's sampling
        // pass re-ran the whole scoring leg (a 1024-double log-odds
        // literal folded per token) — benched +22% (1.94 -> 1.50 s).
        // NEGATIVE RESULT, measured r22: the same pin on the other
        // map-heavy sort-fed tail queries (boilerplate_filter,
        // doc_logprob(_bigram), token_entropy, repetition_stats/filter,
        // quality_zlib_composed) LOST 7-21% each on the bench of record
        // — their sampling re-run is cheaper than the extra
        // materialization at this scale; do not re-add without a bench win
        .transform(graft.api.SparkEnv.pinFrontier)
        .orderBy("doc_id")
    }),
    // Deterministic hash-based sampling/splitting (graft.api.Sampling):
    // sample membership is a pure function of (key, seed) — layout-,
    // partitioning- and run-invariant, which is what makes a 100 TB data
    // recipe reproducible. Oracles re-derive Spark's xxhash64 chain in
    // Python (gen_oracles.spark_xxhash64) and pin the selected sets as
    // VALUES; attribute columns are joined back from the table by DuckDB.
    "sample_hash" -> ((s, dir) => {
      graft.api.Sampling.sampleByHash(load(s, dir, "documents"), "doc_id", 0.2, 7L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // Per-domain curation (graft.api.Domains) — the RefinedWeb/Gopher
    // stage that runs before anything content-based. The documents table
    // has no URL column, so the gates plant one deterministically from
    // (source, doc_id): per-source hosts with a WWW. prefix on %5 ids
    // (normalization must strip it), %40 path collisions (URL dedup must
    // fire), trailing slashes on %3, query strings on %7 (part of the
    // identity) and fragments on %11 (not part of it).
    "domain_quota_sample" -> ((s, dir) => {
      // at most 8 docs per normalized host (20 planted hosts x 25 docs:
      // the quota binds on every host), chosen by seeded hash score
      // via the bounded-heap topk_by aggregate (never a per-host window
      // sort). Oracle: Python re-derivation — same xxhash64 chain, same
      // (score, id) tie order, regexp host extraction — pinned VALUES.
      val urled = withPlantedUrls(load(s, dir, "documents"))
      graft.api.Domains.domainQuotaSample(urled, "url", "doc_id",
          maxPerDomain = 8, seed = 13L)
        .select(col("doc_id"), graft.api.Domains.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    }),
    "domain_blocklist" -> ((s, dir) => {
      // suffix-aware host blocking: src3/src5 drop at BOTH depths (bare
      // host and the cdn. subdomain — the suffix-chain semantics), while
      // blocking cdn.src7 leaves bare src7 docs alone. The blocklist
      // carries one UPPERCASE entry to pin case-insensitivity. Oracle:
      // DuckDB re-derives the drop set with its own LIKE suffix logic.
      import s.implicits._
      val urled = load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(lit("https://"),
            when(col("doc_id") % 2 === 0, lit("cdn.")).otherwise(lit("")),
            col("source"), lit(".example.com/p"),
            col("doc_id").cast("string")).as("url"))
      val blocked = Seq("src3.example.com", "SRC5.example.com",
        "cdn.src7.example.com").toDF("domain")
      graft.api.Domains.filterBlockedHosts(urled, "url", "doc_id", blocked)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "domain_token_quota" -> ((s, dir) => {
      // mass-based quota: keep docs per host while the running n_chars
      // total (seeded-hash order, ties by id) fits 2000. Oracle: Python
      // re-derivation of host extraction + the per-host cumulative walk.
      val urled = withPlantedUrls(load(s, dir, "documents"))
      graft.api.Domains.domainTokenQuota(urled, "url", "doc_id",
          col("n_chars"), budgetPerDomain = 2000L, seed = 13L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // HTML extraction front-end: the documents fixture wrapped in planted
    // raw pages (withPlantedHtml — script with a decoy </p> closer, style,
    // comments, nav chrome, entities, the text split across two <p>
    // blocks), extracted by the codegen'd html_extract expression. The
    // oracle re-derives the extraction with an independent Python scan
    // (tools/gen_oracles.py html_extract_py) over the byte-identical
    // fixture: length + line count pin the whole body, head/tail slices
    // pin the chrome-heavy regions where most rules fire.
    "html_extract" -> ((s, dir) => {
      graft.api.TextAnalysis
        .extractHtml(withPlantedHtml(load(s, dir, "documents")),
          "html", "text")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_html"),
          size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
          substring(col("text"), 1, 60).as("head60"),
          expr("substring(text, greatest(length(text) - 59, 1), 60)")
            .as("tail60"))
        .orderBy("doc_id")
    }),
    // Main-content extraction (the jusText-class tier above html_extract):
    // same scan, but blocks under 25 counted chars or over 333 per-mille
    // anchor-text density drop as chrome. The fixture plants nav, a
    // link-list sidebar, a short heading and a link-dense footer around
    // two prose paragraphs (one with an inline link that must SURVIVE the
    // density rule); n_lines_all vs n_lines_main pins the tier gap row by
    // row. Oracle: independent Python re-derivation of both tiers.
    "html_main_content" -> ((s, dir) => {
      val html = withPlantedMainHtml(load(s, dir, "documents"))
      graft.api.TextAnalysis.extractMainHtml(html, "html", "text")
        .withColumn("text_all", graft.functions.html_extract(col("html")))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_main"),
          size(split(col("text"), "\n", -1)).cast("long").as("n_lines_main"),
          size(split(col("text_all"), "\n", -1)).cast("long").as("n_lines_all"),
          substring(col("text"), 1, 60).as("head60"),
          expr("substring(text, greatest(length(text) - 59, 1), 60)")
            .as("tail60"))
        .orderBy("doc_id")
    }),
    // Compression-ratio quality signal (zlib_len at level 6): planted
    // template spam — unique slot number between every pair of template
    // words, so NO duplicate line and NO repeated 2-gram — must trip the
    // all-integer 3x rule while the word-salad prose docs stay clean.
    // Oracle: Python zlib.compress at the same level (bit-identical
    // DEFLATE under the shared zlib build — the expression scaladoc
    // states the contract), re-deriving the spam fixture from the same
    // arithmetic.
    "zlib_ratio" -> ((s, dir) => {
      graft.api.TextAnalysis.compressionSignals(
          withPlantedSpam(load(s, dir, "documents")), "text")
        .select(col("doc_id"), col("n_bytes"), col("n_zlib"),
          col("zlib_ratio"), col("template_spam"))
        .orderBy("doc_id")
    }),
    // Robots noindex filter — the page-level crawl opt-out a compliant
    // pipeline honors before curation: html_meta_robots parses the FIRST
    // <meta name="robots"> (case-insensitive names, quoted/unquoted
    // values) and filterNoindex drops noindex/none directive lists. The
    // decoy class pins that a 'noindex' string in a DESCRIPTION meta
    // does not drop. Output: survivors with their parsed directive
    // (null = no robots meta). Oracle: Python re-derivation of the scan.
    "html_noindex_filter" -> ((s, dir) => {
      val html = withPlantedRobotsHtml(load(s, dir, "documents"))
      graft.api.TextAnalysis.filterNoindex(html, "html",
          robotsCol = Some("robots"))
        .select(col("doc_id"), col("robots"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // Site-level robots.txt opt-out (REP, RFC 9309) — the other half of
    // the compliant opt-out story next to the page-level meta filter.
    // Planted per-host robots bodies exercise each REP corner against
    // the planted URL census (host src<id%20>, path /p<id%40>, trailing
    // slash on id%3==0, ?q= on id%7==0): src1 pins the octet-level
    // prefix (`/p` shadows every path) with the longer-Allow override
    // (`/p21` survives inside the shadow, with and without trailing
    // slash); src2 pins the `$` end anchor over the FULL path-and-query
    // target (`/*2$` kills bare /p2 and /p22 — and a /p2/?q=2 whose
    // QUERY ends in 2 — but not /p2/ or ?q=1 variants) plus a
    // named-agent group that must NOT apply when crawling as *; src3's
    // robots has ONLY a graftbot group (no * fallback → all kept);
    // src4 pins the allow-all empty Disallow; every other host has no
    // robots.txt at all. Oracle: Python re-states the RobotsTxt kernel
    // (parse + longest-match verdict) over the same planted URLs.
    "robots_txt_filter" -> ((s, dir) => {
      import s.implicits._
      val pages = withPlantedUrls(load(s, dir, "documents"))
      val robots = Seq(
        ("src1.example.com",
          "# site rules\nUser-agent: *\nDisallow: /p\nAllow: /p21\n"),
        ("src2.example.com",
          "User-agent: graftbot\nDisallow: /\n" +
            "User-agent: *\nDisallow: /*2$\n"),
        ("src3.example.com", "User-agent: graftbot\nDisallow: /\n"),
        ("src4.example.com", "User-agent: *\nDisallow:\n")
      ).toDF("host", "body")
      graft.api.Domains.filterRobotsTxt(pages, "url", "doc_id", robots)
        .select(col("doc_id"), col("url"))
        .orderBy("doc_id")
    }),
    // The zlib signal COMPOSED into the Gopher repetition tier — the
    // reason it exists: on the planted-spam corpus, every spam doc PASSES
    // the calibrated n-gram filter (dup-word ≈ 0.48 under the 0.54 cap,
    // zero repeated 2-grams) and only the compression rule kills it,
    // while the prose docs keep their repetition_filter verdicts
    // unchanged. One repetitionStats pass + one map-only signal pass.
    "quality_zlib_composed" -> ((s, dir) => {
      val docs = withPlantedSpam(load(s, dir, "documents"))
      val rep = graft.api.TextAnalysis.repetitionFilter(docs,
          minWords = 40L, maxDupWordFrac = 0.54,
          maxTop2GramFrac = 0.05, maxDup2GramFrac = 0.05)
        .withColumnRenamed("keep", "keep_ngram")
      graft.api.TextAnalysis.compressionSignals(docs, "text")
        .select(col("doc_id"), col("template_spam"))
        .join(rep, "doc_id")
        .select(col("doc_id"), col("keep_ngram"), col("template_spam"),
          (col("keep_ngram") && !col("template_spam")).as("keep"))
        .orderBy("doc_id")
    }),
    // The RefinedWeb-style FRONT-END composed end to end — now starting
    // from RAW HTML, the shape real web curation actually has: html
    // extraction -> host blocklist -> path-pattern filter -> URL-identity
    // dedup -> per-domain token budget (over the EXTRACTED length — the
    // mass a trainer would see) -> train split. Every stage is the
    // already-gated operator; the oracle re-derives the whole chain in
    // Python from each stage's survivor set, so stage-order and
    // id-threading bugs surface as row mismatches. The /p13 prefix rule
    // hits both the bare "/p13" paths and the trailing-slash "/p13/"
    // variants (ids ≡ 13 mod 40 ∧ 0 mod 3), pinning the path-side slash
    // normalization inside the chain.
    "curate_web" -> ((s, dir) => {
      import s.implicits._
      val docs0 = load(s, dir, "documents")
      val extracted = graft.api.TextAnalysis
        .extractHtml(withPlantedHtml(docs0), "html", "text")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_ext"))
      val urled = withPlantedUrls(docs0).join(extracted, "doc_id")
      val blocked = Seq("src3.example.com", "src5.example.com").toDF("domain")
      val s1 = graft.api.Domains.filterBlockedHosts(urled, "url", "doc_id", blocked)
      val s1b = graft.api.Domains.filterUrlPaths(s1, "url", "doc_id",
        Seq("prefix" -> "/p13", "prefix" -> "/p27", "param" -> "q=1")
          .toDF("kind", "pattern"))
      val s2 = graft.api.Domains.dedupByUrl(s1b, "url", "doc_id")
      val s3 = graft.api.Domains.domainTokenQuota(s2, "url", "doc_id",
        col("n_chars_ext"), budgetPerDomain = 2200L, seed = 13L)
      graft.api.Sampling.assignSplits(s3, "doc_id", 5L,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("n_chars_ext"))
        .orderBy("doc_id")
    }),
    "stream_domain_quota" -> ((s, dir) => {
      // streaming twin of the domain quota — the crawl-side first-come
      // rule: docs arrive in id order over 5 micro-batches; a host whose
      // quota fills in batch k must reject its batch-k+1 arrivals from
      // persisted flatMapGroupsWithState state (20 hosts x 25 docs vs
      // quota 8: every host crosses a batch boundary mid-budget). The
      // oracle is the sequential walk — valid for ANY chunking because
      // the counter is cumulative and the order global.
      import s.implicits._
      val docs = withPlantedUrls(load(s, dir, "documents"))
        .select(col("doc_id").cast("long"), col("url"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.domainQuotaReplay(s, docs,
          nBatches = 5, maxPerDomain = 8)
        .orderBy("doc_id")
    }),
    "domain_counts" -> ((s, dir) => {
      // the per-host census (the skew report quota decisions read).
      // Oracle: DuckDB recomputes host extraction + counts with its own
      // regexp engine — genuinely comparable work, not VALUES.
      graft.api.Domains.domainCounts(
          withPlantedUrls(load(s, dir, "documents")), "url")
        .orderBy("host")
    }),
    "stream_url_dedup" -> ((s, dir) => {
      // streaming twin of domain_dedup — the crawl-frontier first-come
      // rule: docs arrive in id order over 5 micro-batches; a URL first
      // seen in batch k must reject its batch-k+1 re-fetches from
      // persisted flatMapGroupsWithState state (the planted URLs repeat
      // identities across the whole id range, so most keys straddle
      // batch boundaries). Oracle: the sequential first-seen walk —
      // valid for ANY chunking because the state is a per-key seen bit
      // and the order global.
      import s.implicits._
      val docs = withPlantedUrls(load(s, dir, "documents"))
        .select(col("doc_id").cast("long"), col("url"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.urlDedupReplay(s, docs, nBatches = 5)
        .orderBy("doc_id")
    }),
    "domain_dedup" -> ((s, dir) => {
      // URL-level exact dedup: keep the min-id doc per normalized URL
      // (scheme/fragment dropped, host lowercased + de-www'd, trailing
      // slashes stripped, query kept). Oracle: DuckDB re-derives the
      // whole normalization with its own regexp engine — two independent
      // URL parsers must agree on the kept set.
      val urled = withPlantedUrls(load(s, dir, "documents"))
      graft.api.Domains.dedupByUrl(urled, "url", "doc_id")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "domain_dedup_canonical" -> ((s, dir) => {
      // URL canonicalization hardening (RFC 3986 normalization): %7e
      // (unreserved, lowercase hex) decodes to ~ so the encoded/decoded
      // twins collapse; %2f (reserved) keeps its encoding but uppercases
      // to %2F — collapsing with its pre-uppercased twin while staying
      // distinct from a literal '/'; sortQuery=true collapses ?b=2&a=1
      // with ?a=1&b=2. Oracle: DuckDB re-derives the WHOLE normalization
      // with its own machinery — strpos hex arithmetic + list lambdas vs
      // Spark's conv/chr + higher-order functions (the two-independent-
      // parsers discipline domain_dedup set).
      val did = col("doc_id")
      val k = (did % 30).cast("string")
      val urled = load(s, dir, "documents").select(did, col("n_chars"),
        concat(lit("https://www.example.com"),
          when(did % 4 === 0, concat(lit("/%7edocs/a"), k))
            .when(did % 4 === 1, concat(lit("/~docs/a"), k))
            .when(did % 4 === 2, concat(lit("/x%2fy/p"), k, lit("?b=2&a=1")))
            .otherwise(concat(lit("/x%2Fy/p"), k, lit("?a=1&b=2")))).as("url"))
      graft.api.Domains.dedupByUrl(urled, "url", "doc_id", sortQuery = true)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "domain_dedup_tracking" -> ((s, dir) => {
      // tracking-parameter canonicalization (the FineWeb-class rule):
      // ?id=N, ?id=N&utm_source=feed&UTM_campaign=x (uppercase pins
      // case-insensitivity) and ?fbclid=<unique-per-doc>&id=N must all
      // collapse to ?id=N — the same page under every referral — while
      // the id param itself survives. Oracle: DuckDB re-derives the key
      // extraction + prefix drop with its own list machinery.
      val did = col("doc_id")
      val urled = load(s, dir, "documents").select(did, col("n_chars"),
        concat(lit("https://ex.example.com/p"), (did % 25).cast("string"),
          when(did % 3 === 0, concat(lit("?id="), (did % 5).cast("string"),
            lit("&utm_source=feed&UTM_campaign=x")))
            .when(did % 3 === 1, concat(lit("?id="), (did % 5).cast("string")))
            .otherwise(concat(lit("?fbclid=c"), did.cast("string"),
              lit("&id="), (did % 5).cast("string")))).as("url"))
      graft.api.Domains.dedupByUrl(urled, "url", "doc_id", sortQuery = true,
          dropParamPrefixes = graft.api.Domains.TrackingParamPrefixes)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "domain_dedup_idn" -> ((s, dir) => {
      // IDN/punycode host folding: the same page under the raw-unicode
      // host, its percent-encoded spelling, and both casings of the
      // xn-- form must collapse to ONE identity per path (keep min id);
      // an ASCII control host keeps its own groups. Oracle: pinned
      // VALUES from the Python mirror — DuckDB has no punycode, so the
      // independent second implementation is CPython's RFC 3492 codec
      // (+ unquote/NFC), vs the hand-derived graft.core.Punycode here.
      val did = col("doc_id")
      val k = (did % 30).cast("string")
      val urled = load(s, dir, "documents").select(did, col("n_chars"),
        concat(lit("https://"),
          when(did % 7 === 0, lit("plain.example.de"))
            .otherwise(
              when(did % 4 === 0, lit("m\u00fcnchen.example.de"))
                .when(did % 4 === 1, lit("M%C3%BCnchen.example.de"))
                .when(did % 4 === 2, lit("xn--mnchen-3ya.example.de"))
                .otherwise(lit("XN--MNCHEN-3YA.example.de"))),
          lit("/a"), k).as("url"))
      graft.api.Domains.dedupByUrl(urled, "url", "doc_id", idnHost = true)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "domain_param_census" -> ((s, dir) => {
      // Census-driven tracking-param discovery: 25 pages each fetched
      // under unique per-fetch sessionid values (same content) plus
      // bare holders -> sessionid discovered safe (the static list
      // misses it); ?page= changes the content -> rejected; constant
      // lang=en honestly reports safe (the documented evidence-bounded
      // epistemics). Oracle: DuckDB re-derives the whole census — key
      // explode, per-key URL stripping, group content cardinality —
      // with its own list machinery (content grouped by STRING, the
      // dedup-oracle convention, vs Spark's xxhash64 identity).
      val did = col("doc_id")
      val g = (did % 25).cast("string")
      val urled = load(s, dir, "documents").select(did,
        when(did % 5 === 0,
          concat(lit("paged "), g, lit(" "), (did % 2).cast("string")))
          .otherwise(concat(lit("census page "), g)).as("ct"),
        concat(lit("https://ex.com/"),
          when(did % 5 === 0,
            concat(lit("q"), g, lit("?page="), (did % 2).cast("string")))
            .when(did % 7 === 0, concat(lit("p"), g, lit("?lang=en")))
            // query-less URLs: the census must not trip ANSI's strict
            // element_at on the missing '?' part (the round-17 review
            // crash class)
            .when(did % 11 === 3, concat(lit("n"), g))
            .otherwise(concat(lit("p"), g, lit("?sessionid=s"),
              did.cast("string"), lit("&lang=en")))).as("url"))
      graft.api.Domains.discoverTrackingParams(urled, "url", "ct")
        .orderBy("param")
    }),
    "domain_allowlist" -> ((s, dir) => {
      // the allowlist dual of domain_blocklist on the same planted
      // hosts: keep ONLY the three listed domains (suffix semantics —
      // cdn.src3 is a subdomain of allowed src3; bare src7 is NOT under
      // allowed cdn.src7). Oracle: the blocklist oracle's LIKE logic
      // un-negated.
      import s.implicits._
      val urled = load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(lit("https://"),
            when(col("doc_id") % 2 === 0, lit("cdn.")).otherwise(lit("")),
            col("source"), lit(".example.com/p"),
            col("doc_id").cast("string")).as("url"))
      val allowed = Seq("src3.example.com", "SRC5.example.com",
        "cdn.src7.example.com").toDF("domain")
      graft.api.Domains.keepAllowedHosts(urled, "url", "doc_id", allowed)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "domain_path_filter" -> ((s, dir) => {
      import s.implicits._
      // path-level URL filtering: /admin (segment-boundary, hit by the
      // planted mixed-case /Admin — matching is lowercased), /static/
      // (trailing slash on the rule ignored), extension .png (hit by the
      // planted uppercase .PNG). /staticfiles survives the /static rule
      // (slash-boundary semantics), blog .html and /articles survive
      // everything — unless a QUERY-PARAM rule hits: ?Action=Edit
      // (mixed case pins case-insensitivity; matched as the exact pair
      // anywhere in the query) and ?uselang=... (bare-key rule) drop,
      // ?action=view (same key, other value) survives the pair rule.
      // Oracle: DuckDB re-derives the drop set with its own LIKE/list
      // machinery against Spark's explode + broadcast equi-joins.
      val did = col("doc_id")
      val urled = load(s, dir, "documents").select(did, col("n_chars"),
        concat(lit("https://h"), (did % 7).cast("string"), lit(".example.com"),
          when(did % 5 === 0,
            concat(lit("/static/img"), did.cast("string"), lit(".PNG")))
            .when(did % 5 === 1,
              concat(lit("/blog/post"), did.cast("string"), lit(".html")))
            .when(did % 5 === 2,
              concat(lit("/Admin/panel"), did.cast("string")))
            .when(did % 5 === 3,
              concat(lit("/staticfiles/f"), did.cast("string")))
            .otherwise(
              concat(lit("/articles/a"), did.cast("string"), lit("/"))),
          when(did % 6 === 1,
            concat(lit("?id="), (did % 9).cast("string"),
              lit("&Action=Edit")))
            .when(did % 6 === 2, lit("?action=view"))
            .when(did % 6 === 3, lit("?uselang=en&x=1"))
            .otherwise(lit("")))
          .as("url"))
      val rules = Seq("prefix" -> "/admin", "prefix" -> "/static/",
        "ext" -> ".png", "param" -> "action=edit", "param" -> "uselang")
        .toDF("kind", "pattern")
      graft.api.Domains.filterUrlPaths(urled, "url", "doc_id", rules)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "sample_stratified" -> ((s, dir) => {
      graft.api.Sampling.stratifiedSampleByHash(
          load(s, dir, "documents"), "lang", "doc_id", k = 5, seed = 11L)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    }),
    "dataset_splits" -> ((s, dir) => {
      graft.api.Sampling.assignSplits(load(s, dir, "documents"), "doc_id", 5L,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),
    // Corpus-wide token histogram (vocabulary building): explode + two-phase
    // agg + TakeOrderedAndProject top-k. Oracle: DuckDB recomputes the same
    // histogram from scratch (genuinely comparable work, not VALUES).
    "vocab_topk" -> ((s, dir) => {
      graft.api.TextAnalysis.vocabTopK(load(s, dir, "documents"), "text", 100)
        .orderBy(col("cnt").desc, col("token").asc)
    }),
    // Approximate distinct order keys per return flag via the mergeable
    // hll_distinct aggregate (graft.core.HyperLogLog: FxHash64 values,
    // raw estimator — bit-deterministic by construction) next to the exact
    // count for calibration. p=10 puts the fixture cardinalities (~11k at
    // sf0.01) in the raw estimator's calibrated regime (n ≫ 2.5·2^p). The
    // sketch is the 100 TB shape: map-side partial folds values into 1 KB
    // register arrays, the shuffle carries one sketch per (flag, partition)
    // — never the key set, unlike exact COUNT(DISTINCT)'s two-phase
    // expand-and-shuffle of every distinct key. Oracle: full Python
    // re-derivation of the registers + estimate (VALUES literal).
    "sketch_distinct" -> ((s, dir) => {
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          graft.functions.hll_distinct(col("l_orderkey").cast("string"), 10)
            .as("hll_estimate"))
        .orderBy("l_returnflag")
    }),
    // Sketch persistence/rollup: stage 1 builds one HLL sketch STATE per
    // (flag, ship-month) — in production these land in a table, one row per
    // partition-day, and the raw data is never re-read; stage 2 re-aggregates
    // the states with sketch_merge and reads the estimate. Merge
    // associativity (register max) makes the rolled estimate bit-equal to a
    // flat pass over the union — the oracle pins exactly that: its VALUES
    // come from Python folding the corpus flat, and n_partials pins that
    // the rollup really consumed one sketch per month.
    "sketch_rollup" -> ((s, dir) => {
      val monthly = load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), month(col("l_shipdate")).as("mo"))
        .agg(graft.functions.hll_sketch(
          col("l_orderkey").cast("string"), 10).as("sk"))
      monthly.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_partials"),
          graft.functions.hll_estimate(
            graft.functions.sketch_merge(col("sk"))).as("rolled_estimate"))
        .orderBy("l_returnflag")
    }),
    // Bloom-filter semi-join pruning: build one 2^17-bit filter over the
    // urgent orders' customer keys (a 16 KB aggregate — the only thing that
    // leaves the orders scan), broadcast it onto the customer table, and
    // emit probe vs truth per customer. might_contain=false is a guaranteed
    // non-member — at 100 TB the filter prunes the probe-side scan down to
    // possible matches BEFORE any join shuffle, for one broadcast variable's
    // worth of traffic. is_member (the exact semi join) pins the no-false-
    // negative contract row by row; oracle: full Python re-derivation of
    // the filter bits + probes (VALUES), is_member recomputed by DuckDB.
    "bloom_semijoin" -> ((s, dir) => {
      val urgentKeys = load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val bloom = urgentKeys.select(col("o_custkey").cast("string").as("k"))
        .agg(graft.functions.bloom_build(col("k"), 17, 5).as("bloom"))
      val members = urgentKeys.distinct().withColumn("is_member", lit(true))
      load(s, dir, "customer")
        .crossJoin(broadcast(bloom))
        .join(broadcast(members), col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          graft.functions.bloom_contains(col("bloom"),
            col("c_custkey").cast("string")).as("might_contain"),
          coalesce(col("is_member"), lit(false)).as("is_member"))
        .orderBy("c_custkey")
    }),
    // Count-Min frequency estimation: one pass folds every token occurrence
    // into a d=4 × 2^12 counter grid (128 KB crosses the shuffle, never the
    // token multiset), then the exact top-20 vocabulary probes it. The
    // estimate-≥-truth contract is visible in the emitted columns; oracle:
    // full Python re-derivation of the counters + probes (VALUES).
    "cms_topk" -> ((s, dir) => {
      // spread: the sketch update loop must not serialize on the fixture's
      // one-row-group scan (CMS counters are additive — order-independent)
      val toks = graft.api.SparkEnv.spread(load(s, dir, "documents"))
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("token"))
        .filter(length(col("token")) > 0)
      val cms = toks.agg(graft.functions.cms_build(col("token"), 4, 12).as("cms"))
      graft.api.TextAnalysis.vocabTopK(load(s, dir, "documents"), "text", 20)
        .withColumnRenamed("cnt", "exact_cnt")
        .crossJoin(broadcast(cms))
        .select(col("token"), col("exact_cnt"),
          graft.functions.cms_estimate(col("cms"), col("token")).as("cms_cnt"))
        .orderBy(col("exact_cnt").desc, col("token").asc)
    }),
    // Deterministic training-order shuffle: position is a pure function of
    // (doc_id, seed). The API op (Sampling.shuffleByHash) is the scalable
    // range-partitioned sort; the verification query pins explicit
    // positions via Packing's two-level prefix sum with tokens=1 — each
    // row occupies one slot, so token_offset IS the exclusive count of
    // predecessors in the same (hashScore, id) order and pos =
    // token_offset + 1. Scale-shaped: bucketed parallel windows, never a
    // single-partition row_number.
    "corpus_shuffle" -> ((s, dir) => {
      graft.api.Packing.packSequences(
          load(s, dir, "documents").select(col("doc_id")),
          "doc_id", lit(1L), seqLen = 1, seed = 21L)
        .select((col("token_offset") + lit(1L)).as("pos"), col("id").as("doc_id"))
        .orderBy("pos")
    }),
    // Benchmark decontamination (graft.api.Contamination): the "benchmark"
    // is a hash-sampled 2% of the corpus (deterministic, so the oracle can
    // re-derive it); flag corpus docs sharing >= 50 distinct 8-gram
    // shingles with any benchmark doc. Broadcast-join shape: the corpus
    // side never shuffles. Oracle recomputes the shingle-set intersections
    // in Python (vk.shingles_from_text, golden-gated).
    "contamination_check" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val bench = graft.api.Sampling.sampleByHash(docs, "doc_id", 0.02, 99L)
      // corpusParallelism: the fixture is one parquet split, which would
      // serialize the corpus-side explode (a local artifact — at real scale
      // the scan's splits provide this and None is correct; see scaladoc)
      graft.api.Contamination.sharedNgrams(docs, bench, "doc_id", "text",
          ngramWidth = 8, minShared = 50L,
          corpusParallelism =
            Some(s.conf.get("spark.sql.shuffle.partitions").toInt))
        .orderBy("doc_id", "bench_id")
    }),
    // The same decontamination behind a broadcast Bloom pre-filter — the
    // big-benchmark shape (sharedNgramsBloomPruned scaladoc: a fixed-size
    // bit array broadcasts where the exact shingle set cannot; the
    // shuffle-exact mode for genuinely oversized benches is spec-gated,
    // the gate runs the default broadcast-exact plan). Bloom fp's are
    // eliminated by the exact join, so this MUST hash-match the same
    // pinned oracle as contamination_check — one oracle, two plans.
    "contamination_bloom" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val bench = graft.api.Sampling.sampleByHash(docs, "doc_id", 0.02, 99L)
      graft.api.Contamination.sharedNgramsBloomPruned(docs, bench, "doc_id",
          "text", ngramWidth = 8, minShared = 50L, log2m = 20, k = 5,
          corpusParallelism =
            Some(s.conf.get("spark.sql.shuffle.partitions").toInt))
        .orderBy("doc_id", "bench_id")
    }),
    // Token-SPAN-level decontamination (Contamination.contaminatedSpans):
    // flag corpus token spans whose 8-gram occurs anywhere in the benchmark
    // set, then CUT them (the production edit — doc-level drop loses the
    // unique remainder). Fixture: benchmark = docs with doc_id%50=0 plus a
    // 10-token passage; corpus = the rest, with the same passage planted
    // into docs with doc_id%7=3 (so ~1/7 of the corpus carries a known
    // benchmark span) — both derivations are plain SQL, so DuckDB
    // re-derives spans from the raw text with the identical tokenizer
    // (grams by STRING vs Spark's xxhash64: collisions would surface).
    "contamination_span_detect" -> ((s, dir) => {
      val (corpus, bench) = contamSpanFixture(s, dir)
      graft.api.Contamination.contaminatedSpans(corpus, bench, "doc_id",
          "text", width = 8)
        .orderBy("doc_id", "span_start")
    }),
    "contamination_span_cut" -> ((s, dir) => {
      val (corpus, bench) = contamSpanFixture(s, dir)
      graft.api.Contamination.cutContaminatedSpans(corpus, bench, "doc_id",
          "text", width = 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // CCNet-style line-frequency boilerplate removal
    // (Dedup.dropBoilerplateLines): lines occurring in >= 100 distinct
    // docs drop from every doc. Fixture: newline-ify the text (replace
    // ' the ' with \n — both engines do the same literal replace) and
    // plant a header line in docs %3==0 and a footer in %4==0; organic
    // line doc-frequency tops out at 5, the planted lines hit 125/167, so
    // minDocs=100 separates cleanly (probed). Oracle: DuckDB re-derives
    // lines by STRING (Spark hashes — collisions would surface).
    "boilerplate_lines_drop" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter\n"))
            .otherwise(lit("")),
          regexp_replace(col("text"), " the ", "\n"),
          when(col("doc_id") % 4 === 0, lit("\nall rights reserved"))
            .otherwise(lit(""))).as("text"))
      graft.api.Dedup.dropBoilerplateLines(docs, "doc_id", "text", minDocs = 100L)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // Split-leakage check (Contamination.splitLeakage): near-dup pairs
    // straddling dataset splits — the post-split hygiene pass (hash splits
    // assign by ID, so duplicate CONTENT crosses splits freely; a test doc
    // near-duplicated in train inflates eval). Deterministic %10 split so
    // the oracle re-derives it in SQL; pair ground truth is the same
    // brute-force exact-Jaccard set as minhash_dedup_pairs (recall
    // deterministically 1 at this banding on this fixture).
    "split_leakage" -> ((s, dir) => {
      val docs = load(s, dir, "documents").withColumn("split",
        when(col("doc_id") % 10 < 8, lit("train"))
          .when(col("doc_id") % 10 === 8, lit("valid"))
          .otherwise(lit("test")))
      graft.api.Contamination.splitLeakage(docs, "doc_id", "text", "split",
          ngramWidth = 4, bandCount = 8, bandSize = 3, seed = 123L,
          threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // The contamination report a pipeline quotes before/after the cut:
    // spanStats composed over contaminatedSpans through the
    // materialized-span seam — "X% of source Y's tokens overlap the
    // benchmark". One mining pass; group-cardinality-bounded rollup.
    "contamination_span_stats" -> ((s, dir) => {
      val (corpus, bench) = contamSpanFixture(s, dir)
      val spans = graft.api.Contamination.contaminatedSpans(corpus, bench,
        "doc_id", "text", width = 8)
      graft.api.Dedup.spanStats(corpus, spans, "doc_id", "text", "source")
        .orderBy("source")
    }),
    // The same pass under BPE token identity — cross-corpus flagging over
    // the faithful tokenizer + the byte-level destructive rebuild, ONE
    // token identity end to end (items the production pipeline composes).
    // Oracle: Python re-derives bench gram tuples, flagged windows,
    // islands and the byte rebuild from the same merge list.
    "contamination_span_cut_bpe" -> ((s, dir) => {
      val (corpus, bench) = contamSpanFixture(s, dir)
      graft.api.Contamination.cutContaminatedSpansBpe(corpus, bench,
          "doc_id", "text", width = 8, merges = BpeMerges)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),
    // Embedding-level decontamination: the semantic complement of
    // contamination_check — flag corpus vectors within cosine 0.25 of any
    // benchmark vector (hash-sampled 2%, same deterministic draw). The
    // bench side broadcasts; the corpus never shuffles. Oracle: the pair
    // SET is pinned (Python re-derives the xxhash64 sample + cosines);
    // the sim VALUES are recomputed by DuckDB's own
    // list_cosine_similarity over the table.
    "contamination_embed" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val bench = graft.api.Sampling.sampleByHash(emb, "vec_id", 0.02, 99L)
      graft.api.Contamination.embedOverlap(emb, bench, tau = 0.25)
        .orderBy("vec_id", "bench_id")
    }),
    // The IVF-shortlisted form of the same pass (embedOverlapAnn): a
    // sample-init quantizer trained on the bench side routes each corpus
    // vector to its 3-of-8 nearest bench cells before any cosine — the
    // |corpus|x|bench| NLJ becomes corpus-scan-bound. Oracle: full Python
    // re-derivation (kmeans_centroids over the bench sample -> NearestCell
    // per bench vector -> nprobe probe list per corpus vector -> exact
    // cosine on the shortlist); sim values recomputed by DuckDB's
    // list_cosine_similarity. Recall vs contamination_embed is spec-pinned
    // >= 0.9 (measured 0.993 at this config).
    "contamination_embed_ann" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val bench = graft.api.Sampling.sampleByHash(emb, "vec_id", 0.02, 99L)
      graft.api.Contamination.embedOverlapAnn(emb, bench, tau = 0.25,
          nlist = 8, nprobe = 3, seed = 101L)
        .orderBy("vec_id", "bench_id")
    }),
    // The big-bench escape hatch of the same pass: broadcastBench = false
    // skips the maxQueryRows guard (proved here by pinning the conf BELOW
    // the bench size) and shuffles the exploded corpus keys against the
    // bench cells instead of broadcasting them. Identical quantizer,
    // identical probe lists, identical exact-verify — the pair set is
    // bit-equal to contamination_embed_ann's, so the oracle is shared;
    // only the physical join changes (spec-pinned non-broadcast).
    "contamination_embed_ann_big" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val bench = graft.api.Sampling.sampleByHash(emb, "vec_id", 0.02, 99L)
      val prev = scala.util.Try(s.conf.get("graft.ann.maxQueryRows")).toOption
      s.conf.set("graft.ann.maxQueryRows", "1")
      try graft.api.Contamination.embedOverlapAnn(emb, bench, tau = 0.25,
          nlist = 8, nprobe = 3, seed = 101L, broadcastBench = false)
        .orderBy("vec_id", "bench_id")
      finally prev match {
        case Some(v) => s.conf.set("graft.ann.maxQueryRows", v)
        case None => s.conf.unset("graft.ann.maxQueryRows")
      }
    }),
    // SemDeDup (Abbas et al. 2023): k-means the embedding space (16 cells,
    // seeded sample-init Lloyd's), then drop any vector with a lower-id
    // cosine->=0.35 neighbor in its own cell. 73 of 500 fixture vectors
    // drop; the pairwise work is sum(|cell|^2) = 16k vs the 125k brute
    // force. Oracle: full Python re-derivation (xxhash64 sample order ->
    // Lloyd's in accumulation order -> per-cell pairs), pinned VALUES.
    "semantic_dedup" -> ((s, dir) => {
      graft.api.SemanticDedup.semanticDedup(load(s, dir, "embeddings"),
          nClusters = 16, tau = 0.35, seed = 77L, iters = 5, sampleSize = 500)
        .orderBy("vec_id")
    }),
    "embed_tfidf" -> ((s, dir) => {
      // hashed TF-IDF text embeddings (the MLlib HashingTF+IDF recipe,
      // bit-deterministic): the text→vector bridge into the ANN/SemDeDup
      // machinery. Both the raw tf·idf and the L2-normalized vector are
      // pinned per (doc, bucket) — the oracle re-derives tokenize, crc32
      // bucketing, df/idf and the norm chain independently in Python.
      val docs = load(s, dir, "documents")
      graft.api.TextAnalysis.tfidfEmbed(docs, "doc_id", "text", 32)
        .select(col("doc_id"),
          posexplode(arrays_zip(col("tfidf"), col("embedding"))).as(Seq("pos", "z")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("z.tfidf").as("tfidf"), col("z.embedding").as("nval"))
        .orderBy("doc_id", "pos")
    }),
    "semantic_dedup_text" -> ((s, dir) => {
      // end-to-end composition: text → hashed TF-IDF vectors → SemDeDup.
      // The whole chain (tokenize, bucket, idf, norm, sample-init k-means,
      // within-cell cosine rule) is re-derived by the Python mirror.
      val docs = load(s, dir, "documents")
      val vecs = graft.api.TextAnalysis.tfidfEmbed(docs, "doc_id", "text", 32)
        .select(col("doc_id").as("vec_id"), col("embedding"))
        // pin the embedding frontier: SemDeDup consumes its input four
        // ways (k-means sample, assignment, both self-join sides) and
        // each consumer re-ran the whole tokenize→df→idf→norm chain.
        // pinFrontier, not a bare localCheckpoint: corpus-sized vectors
        // survive a single executor loss on a cluster (replicated blocks)
        .transform(graft.api.SparkEnv.pinFrontier)
      graft.api.SemanticDedup.semanticDedup(vecs, nClusters = 8, tau = 0.3,
          seed = 7L, iters = 5, sampleSize = 500)
        .orderBy("vec_id")
    }),
    "range_join" -> ((s, dir) => {
      // orders priced into irregular bands: a point-in-interval range join,
      // bucketed (graft.api.RangeJoin) instead of nested-loop
      import s.implicits._
      val bands = Seq(
        (1L, 0.0, 25000.0), (2L, 25000.0, 60000.0), (3L, 60000.0, 110000.0),
        (4L, 110000.0, 180000.0), (5L, 180000.0, 300000.0), (6L, 300000.0, 600000.0))
        .toDF("band_id", "lo", "hi")
      val orders = load(s, dir, "orders").select("o_orderkey", "o_totalprice")
      graft.api.RangeJoin.pointInInterval(orders, bands, "o_totalprice", "lo", "hi", 25000.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("orders"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("band_id")
    }),
    "asof_join" -> ((s, dir) => {
      // each event joined to the customer's most recent order at-or-before
      // the event time; right side deduped deterministically on equal
      // timestamps (keep max orderkey). Union-and-carry shape — no range
      // join, no pair explosion (see graft.api.AsofJoin).
      val events = loadEvents(s, dir).select("event_id", "ts", "user_id")
      val orders = load(s, dir, "orders")
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)))
        .filter(col("__rn") === 1).drop("__rn")
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
          col("o_orderkey"), col("o_totalprice"))
      graft.api.AsofJoin.asof(events, orders, Seq("user_id"), "ts",
          Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "asof_o_orderkey", "asof_o_totalprice")
        .orderBy("event_id")
    }),
    "value_stats" -> ((s, dir) => {
      // exact per-type moments (count/min/max/mean/population variance)
      // over centi-unit integers — the standardization pass two engines can
      // agree on bit-exactly, where avg()/var_pop() over raw doubles drift
      // in the last ulps with accumulation order
      graft.api.TimeSeries.valueStats(loadEvents(s, dir),
          Seq("event_type"), "value")
        .orderBy("event_type")
    }),
    "resample_gapfill" -> ((s, dir) => {
      // daily resample + forward fill per user — "latest state as of every
      // interval" feature engineering; survivor per bucket is the last
      // observation by (ts, event_id), gaps carry the previous value
      // (per-key grids start at the first observed bucket, so every row
      // carries one; observed=false marks the fills)
      graft.api.TimeSeries.resampleGapFill(loadEvents(s, dir),
          "user_id", "ts", "value", 86400L, "event_id")
        .orderBy("user_id", "bucket_s")
    }),
    "rolling_stats" -> ((s, dir) => {
      // trailing-7-day window stats over the daily resampled+filled series
      // (rolling features for training inputs). min/max are selections,
      // the sum is centi-unit longs — exact on any engine regardless of
      // window evaluation strategy (Spark accumulates frames
      // incrementally, DuckDB may use a segment tree; double sums would
      // diverge in the last bits)
      graft.api.TimeSeries.rollingStats(
          graft.api.TimeSeries.resampleGapFill(loadEvents(s, dir),
            "user_id", "ts", "value", 86400L, "event_id"),
          "user_id", "bucket_s", "value", 7)
        .orderBy("user_id", "bucket_s")
    }),
    "sessionize_batch" -> ((s, dir) => {
      val events = loadEvents(s, dir)
      graft.streaming.EventStreams.sessionizeBatch(events, gapMs = 30 * 60 * 1000L)
        .select(col("user_id"), col("session_id"),
          col("start").cast("long").as("start_s"), col("end").cast("long").as("end_s"),
          col("events"))
        .orderBy("user_id", "session_id")
    }),

    // Streaming surface, driver-verified end-to-end: the fixture replayed
    // through a real Structured Streaming query (MemoryStream source over
    // several micro-batches, watermark + event-time-timeout sessionization,
    // memory sink), against the SAME DuckDB oracle as sessionize_batch —
    // streamed sessions must equal the batch twin session-for-session.
    // Whole-second quantization: the oracle compares gaps in floor-seconds
    // while the operator uses ms; on second-truncated timestamps the two gap
    // semantics coincide exactly (see StreamingSpec replay note).
    // session_id is re-derived by start order — sessions are disjoint per
    // user, so row_number over start equals the batch twin's running sum.
    // Second streaming stateful operator under a driver oracle: the fixture
    // documents replayed through the banded near-dup candidate stream
    // (flatMapGroupsWithState bucket state over 3 micro-batches). With the
    // replay harness's unbounded bucket/TTL the emitted set normalized to
    // unordered pairs is exactly the per-band co-bucket pair set — pure
    // MinHash bucket math that tools/gen_oracles.py re-derives independently
    // into a VALUES oracle. Short texts are dropped up front exactly like
    // the batch blocking path (empty shingle set = one catastrophic bucket).
    "stream_neardup_candidates" -> ((s, dir) => {
      import s.implicits._
      // +1 on the synthetic event time: Spark's initial watermark is 0 (the
      // epoch), and the stateful operator's late-data filter drops rows with
      // ts <= watermark — so a doc at timestamp_seconds(0) would silently
      // vanish from the stream (observed: doc 0's 28 pairs missing).
      val docs = load(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) >= 4)
        .select(col("doc_id").cast("long"),
          expr("timestamp_seconds(doc_id + 1)").as("ts"), col("text"))
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.nearDupReplay(s, docs,
          ngramWidth = 4, bandCount = 8, bandSize = 3, lshSeed = 123L, nBatches = 3)
        .select(col("band"),
          least(col("doc_id"), col("peer_id")).as("id_a"),
          greatest(col("doc_id"), col("peer_id")).as("id_b"))
        .distinct()
        .orderBy("band", "id_a", "id_b")
    }),

    // Streaming cosine-LSH blocking (the third streaming blocking family):
    // replay the embeddings as a 3-micro-batch stream through the sign-LSH
    // bucket state; the emitted candidate set must equal pure co-bucket
    // math (Python hyperplane -> sketch -> chunk re-derivation, pinned) —
    // same sketch params as the batch cosine_lsh_pairs, so stream and
    // batch block identically.
    "stream_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val vecs = load(s, dir, "embeddings")
        .select(col("vec_id").cast("long"),
          expr("timestamp_seconds(vec_id + 1)").as("ts"),
          col("embedding").cast("array<double>"))
        .as[(Long, java.sql.Timestamp, Seq[Double])].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.embedNearDupReplay(s, vecs,
          nbits = 64, bands = 8, lshSeed = 41L, nBatches = 3)
        .select(col("band"),
          least(col("doc_id"), col("peer_id")).as("id_a"),
          greatest(col("doc_id"), col("peer_id")).as("id_b"))
        .distinct()
        .orderBy("band", "id_a", "id_b")
    }),

    "stream_attribution_join" -> ((s, dir) => {
      import s.implicits._
      // stream-stream interval join: every purchase attributed to the same
      // user's clicks in the preceding hour, replayed over two
      // MemoryStreams with clicks fed ahead of purchases so cross-batch
      // matches are load-bearing; inner matches emit exactly once, so the
      // replay equals DuckDB's batch self-join
      val events = eventsSeq(s, dir).sortBy(_.ts.getTime)
      graft.streaming.EventStreams.attributionJoinReplay(s,
          events.filter(_.event_type == "click"),
          events.filter(_.event_type == "purchase"), "1 hour", 3)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts").cast("long").as("click_s"),
          col("purchase_ts").cast("long").as("purchase_s"), col("value"))
        .orderBy("click_id", "purchase_id")
    }),
    "stream_resample_last" -> ((s, dir) => {
      import s.implicits._
      // streaming twin of resample_gapfill's bucketing stage: per (1-day
      // window, user) the max-(ts, event_id) observation survives; the
      // unique tie key makes the survivor arrival-order-deterministic, so
      // the replay is bit-equal to the batch bucketing (gap FILLING stays
      // batch-side — it needs closed predecessors)
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedLastValueReplay(s, events, "1 day", 3)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("user_id"), col("last_value"))
        .orderBy("win_start", "user_id")
    }),
    "stream_windowed_counts" -> ((s, dir) => {
      import s.implicits._
      // the streaming twin of q9_events_window, replayed over micro-batches;
      // append-mode windows close as the watermark advances and must equal
      // the batch aggregation exactly
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedCountsReplay(s, events, "1 hour", 3)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("cnt"), col("min_v"), col("max_v"))
        .orderBy("win_start", "event_type")
    }),
    "stream_hist_quantiles" -> ((s, dir) => {
      import s.implicits._
      // streaming per-(hour, type) value percentiles: exact percentiles
      // can't run in a streaming aggregation (they'd buffer every value);
      // the mergeable HDR histogram can, and its order invariance makes the
      // replay bit-equal to a batch fold — pinned by the Python VALUES
      // oracle re-deriving every window's buckets
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedQuantilesReplay(s, events, "1 hour", 3, b = 5)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("p50_x100"), col("p95_x100"))
        .orderBy("win_start", "event_type")
    }),
    "stream_hll_users" -> ((s, dir) => {
      import s.implicits._
      // streaming distinct users per (hour, type): COUNT(DISTINCT) is
      // rejected in streaming aggregations, the mergeable hll_distinct
      // sketch is the answer — and its order invariance makes the replayed
      // estimates bit-equal to a batch run, which the Python VALUES oracle
      // (register-level re-derivation) pins per window
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedDistinctReplay(s, events, "1 hour", 3, p = 10)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("approx_users"))
        .orderBy("win_start", "event_type")
    }),
    // Streaming CRASH RECOVERY (windowedCountsRestartReplay): the windowed
    // aggregation runs as a durable file-source→file-sink query, is STOPPED
    // mid-stream, and a brand-new query resumes from the checkpoint. The
    // single sink must equal the batch twin — open windows carried across
    // the restart (no gaps), closed windows not re-emitted (no dups).
    "stream_restart_windows" -> ((s, dir) => {
      import s.implicits._
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedCountsRestartReplay(s, events)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("cnt"), col("min_v"), col("max_v"))
        .orderBy("win_start", "event_type")
    }),
    "stream_topk_events" -> ((s, dir) => {
      import s.implicits._
      // streaming EXACT top-3 events by value per (hour, type): bounded
      // k-entry heap state per open group (windowedTopKEvents scaladoc).
      // Unlike the sketch gates this one is exact, so the oracle is the
      // plain SQL window twin, not a pinned re-derivation.
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedTopKReplay(s, events, k = 3,
          "1 hour", nBatches = 3)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("rnk"), col("event_id"), col("value"))
        .orderBy("win_start", "event_type", "rnk")
    }),
    "stream_cms_userfreq" -> ((s, dir) => {
      import s.implicits._
      // streaming known-key frequency monitoring per (hour, type): the CMS
      // completes the streaming sketch family (counts/HLL/HDR/CMS). Watched
      // keys 0..4; replayed estimates are bit-equal to a batch fold (sketch
      // order invariance), pinned by the Python counter re-derivation.
      val events = eventsSeq(s, dir)
      graft.streaming.EventStreams.windowedFreqReplay(s, events,
          probeUsers = Seq(0L, 1L, 2L, 3L, 4L), "1 hour", 3, d = 4, log2w = 12)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("user_id"), col("est_cnt"))
        .orderBy("win_start", "event_type", "user_id")
    }),
    "stream_contamination" -> ((s, dir) => {
      import s.implicits._
      // stream-static decontamination: documents arrive over 4
      // micro-batches and probe the static benchmark sample; the flag
      // rule is per-doc-local, so the unioned stream output must equal
      // the batch contamination_check bit-for-bit — the gate shares its
      // oracle (same bench sample, same width/threshold).
      val docs = load(s, dir, "documents")
      val bench = graft.api.Sampling.sampleByHash(docs, "doc_id", 0.02, 99L)
      val seq = docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.contaminationReplay(s, seq, bench,
          nBatches = 4, ngramWidth = 8, minShared = 50L)
        .orderBy("doc_id", "bench_id")
    }),
    "stream_dedup_content" -> ((s, dir) => {
      import s.implicits._
      // the fixture has no exact content dups, so a shifted copy of the
      // corpus (doc_id + 1000, same text) is unioned in: the stream must
      // drop all 500 copies — which arrive in LATER micro-batches than
      // their originals, making this a cross-batch dedup-state check.
      // Fed in doc_id order, the survivor set is min-doc_id-per-text.
      val docs = load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val withCopies = docs ++ docs.map { case (id, t) => (id + 1000L, t) }
      graft.streaming.EventStreams.dedupContentReplay(s, withCopies, nBatches = 4)
        .orderBy("doc_id")
    }),

    "stream_gram_ingest" -> ((s, dir) => {
      import s.implicits._
      // streaming twin for the LAST persisted index family without one:
      // gram index built on docs < 300, docs >= 300 arrive over 4
      // micro-batches through cloned-session appends. Gram appends are
      // order-associative (each append flags BOTH sides of every new
      // cross-batch duplication), so the final spans equal the batch
      // chain over the whole corpus — the oracle IS dup_span_detect's
      // full re-derivation; what the plan adds is the two-table
      // (triples + flags) cloned-session refresh.
      val docs = load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val (corpus, stream) = docs.partition(_._1 < 300)
      graft.streaming.EventStreams.gramIngestReplay(s, "graft_gram_sidx",
          corpus, stream, nBatches = 4, width = 8)
        .orderBy("doc_id", "span_start")
    }),
    "stream_novelty_ingest" -> ((s, dir) => {
      import s.implicits._
      // streaming twin of ann_novelty_ingest: the SAME stream, batch
      // boundaries, models, and stores, but arriving through foreachBatch
      // on a cloned session — admission is defined per batch against the
      // pre-batch state, so the verdicts are bit-equal to the driver
      // loop: one oracle, two plans (the contamination_embed_ann_big
      // precedent). What this plan adds: the three-table (codes, model,
      // raw corpus) cloned-session refresh, which a stale-cache bug
      // would turn into wrong admissions, not a crash.
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb.filter(col("vec_id") < 300),
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annnovs_idx")
      graft.api.BucketedWrite.dropTable(s, "graft_annnovs_corpus")
      emb.filter(col("vec_id") < 300).write.format("parquet")
        .mode("overwrite").saveAsTable("graft_annnovs_corpus")
      val stream = emb.filter(col("vec_id") >= 300)
        .unionByName(emb.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.annNoveltyReplay(s, "graft_annnovs_idx",
          "graft_annnovs_corpus", stream, nBatches = 4,
          tau = 1e-6, nprobe = 4, kCand = 8)
        .orderBy("vec_id")
    }),
    "stream_ann_append" -> ((s, dir) => {
      import s.implicits._
      // streaming ingestion into the IVF-PQ index: models fitted on
      // vec_id < 300 only (the mirror fits on the same subset), then
      // vec_id >= 300 arrives over 4 micro-batches through the cloned-
      // session foreachBatch path. Frozen models make ingestion commute,
      // so the oracle needs no batch boundaries: it assigns EVERY vector
      // its frozen-quantizer cell and counts — which is exactly what a
      // stale-session-cache bug would break (appends encoding against a
      // stale model load, or a batch's insert invisible to the next).
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val idx = graft.api.Ann.fitIvfPq(emb.filter(col("vec_id") < 300),
        nlist = 16, m = 8, ksub = 16, seed = 11L, iters = 5)
      graft.api.Ann.saveIvfPqIndex(idx, "graft_annstr_idx")
      val stream = emb.filter(col("vec_id") >= 300)
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
      graft.streaming.EventStreams.annAppendReplay(s, "graft_annstr_idx",
          stream, nBatches = 4)
        .orderBy("cell")
    }),
    "stream_rolling_dedup" -> ((s, dir) => {
      import s.implicits._
      // streaming twin of rolling_dedup: docs >= 300 arrive over 4
      // micro-batches against an index built on docs < 300 (hotBucketCap=5:
      // live hot sidecar, so appends route both ways). Cross-batch state is
      // load-bearing: e.g. doc 326 (batch 1) is appended and must block its
      // near-dup 457 when it arrives in batch 4. Threshold 0.5 keeps the
      // admission semantics aligned with incremental_dedup; the oracle is a
      // full Python re-derivation of the per-batch greedy admission over
      // banding collisions + exact Jaccard.
      val docs = load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val (corpus, stream) = docs.partition(_._1 < 300)
      graft.streaming.EventStreams.rollingDedupReplay(s, corpus, stream,
          nBatches = 4, ngramWidth = 4, bandCount = 8, bandSize = 3,
          seed = 123L, threshold = 0.5, hotBucketCap = 5L)
        .orderBy("doc_id")
    }),

    "sessionize_stream" -> ((s, dir) => {
      import s.implicits._
      val events = loadEvents(s, dir)
        .withColumn("ts", expr("timestamp_seconds(cast(ts as long))"))
        .select(col("event_id").cast("long").as("event_id"), col("ts"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value").cast("double").as("value"))
        .as[graft.streaming.EventStreams.Event].collect().toSeq
      val sessions = graft.streaming.EventStreams.sessionizeReplay(
        s, events, gapMs = 30 * 60 * 1000L, nBatches = 3)
      val byStart = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("start")
      sessions
        .withColumn("session_id", row_number().over(byStart).cast("long"))
        .select(col("user_id"), col("session_id"),
          col("start").cast("long").as("start_s"), col("end").cast("long").as("end_s"),
          col("events"))
        .orderBy("user_id", "session_id")
    }),
    "stream_late_sessions" -> ((s, dir) => {
      import s.implicits._
      // LATE-data admission gate: unlike every other replay (watermark
      // delay beyond the fixture range — nothing is ever late), this one
      // replays out of order ACROSS a real 1-hour watermark boundary.
      // Batch 1 feeds event_id % 3 != 0 (establishing watermark
      // W = max ts(batch1) − 1 h for the next batch); batch 2 feeds the
      // % 3 == 0 rows, of which Spark admits exactly ts > W and DROPS
      // ts <= W (the pre-function late-row filter). The fixture has no
      // row landing exactly ON W, so two synthetic probe events pin the
      // boundary at any SF: one at ts == W (must vanish — the <=) and one
      // at ts == W + 1 s (must survive as a 1-event session). The oracle
      // models the admit set explicitly in SQL — on-time rows UNION late
      // rows above W UNION the surviving probe — then sessionizes it with
      // the batch recipe: the emitted sessions must equal the batch twin
      // over the admitted subset, nothing more (no dropped row leaks in)
      // and nothing less (admitted late rows still merge into open runs).
      val events = loadEvents(s, dir)
        .withColumn("ts", expr("timestamp_seconds(cast(ts as long))"))
        .select(col("event_id").cast("long").as("event_id"), col("ts"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value").cast("double").as("value"))
        .as[graft.streaming.EventStreams.Event].collect().toSeq
      val (late, onTime) = events.partition(_.event_id % 3 == 0)
      val wMs = onTime.iterator.map(_.ts.getTime).max - 3600_000L
      val probes = Seq(
        graft.streaming.EventStreams.Event(-100L,
          new java.sql.Timestamp(wMs), 1000000000L, "probe", 0.0),
        graft.streaming.EventStreams.Event(-101L,
          new java.sql.Timestamp(wMs + 1000L), 1000000001L, "probe", 0.0))
      val sessions = graft.streaming.EventStreams.sessionizeLateReplay(
        s, Seq(onTime, late ++ probes), gapMs = 30 * 60 * 1000L, watermarkDelay = "1 hour")
      val byStart = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("start")
      sessions
        .withColumn("session_id", row_number().over(byStart).cast("long"))
        .select(col("user_id"), col("session_id"),
          col("start").cast("long").as("start_s"), col("end").cast("long").as("end_s"),
          col("events"))
        .orderBy("user_id", "session_id")
    })
  )

  /** Literal-VALUES oracle generated by tools/gen_oracles.py from the
    * independent Python pipeline over the static sf0.01 fixtures (class doc).
    * Loaded from resources: the row literals run to ~44 KB per query, past
    * the JVM's 64 KB limit on a single string constant. */
  /** dup_span_detect's full cross-engine re-derivation — also the oracle
    * of `rolling_dup_spans` (the incremental index must land on exactly
    * the batch answer over the union, so the two gates share one SQL). */
  private val oracleSqlDupSpanDetect: String = oracleSqlDupSpanDetectOver("documents")

  /** The dup-span CTE chain over an arbitrary document source — shared by
    * dup_span_detect, rolling_dup_spans and (restricted to the surviving
    * docs) gram_index_compact, so the three can never drift. */
  private def oracleSqlDupSpanDetectOver(src: String): String =
    s"""WITH lists AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
      |  FROM $src),
      |grams AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
      |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
      |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
      |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
      |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
      |isl AS (
      |  SELECT doc_id, pos, fin,
      |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
      |  FROM flagged),
      |isl2 AS (SELECT doc_id, pos, fin,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(fin) AS BIGINT) AS span_end,
      |       CAST(max(fin) - min(pos) + 1 AS BIGINT) AS n_tokens
      |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

  private def valuesOracle(name: String): String = {
    val in = getClass.getResourceAsStream(s"/oracles/$name.sql")
    require(in != null, s"missing generated oracle resource: $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** DuckDB re-derivation of [[graft.api.Domains]]' percent-encoding
    * normalization over column `c`, deliberately on DIFFERENT machinery
    * than the Spark side (strpos hex arithmetic + list lambdas vs
    * conv/chr + higher-order functions): decode unreserved-character
    * triplets (codes 65-90, 97-122, 48-57, 45, 46, 95, 126), uppercase
    * the hex of every other triplet, pass malformed `%`s through. */
  private def duckPctNorm(c: String): String = {
    val code = "((strpos('0123456789abcdef', lower(t[1:1])) - 1) * 16 + " +
      "(strpos('0123456789abcdef', lower(t[2:2])) - 1))"
    s"""(str_split($c, '%')[1] || coalesce(array_to_string(
            list_transform(str_split($c, '%')[2:], t ->
              CASE WHEN NOT regexp_matches(t, '^[0-9A-Fa-f]{2}')
                   THEN '%' || t
                   WHEN $code BETWEEN 65 AND 90 OR $code BETWEEN 97 AND 122
                     OR $code BETWEEN 48 AND 57 OR $code IN (45, 46, 95, 126)
                   THEN chr(CAST($code AS INTEGER)) || t[3:]
                   ELSE '%' || upper(t[1:2]) || t[3:] END), ''), ''))"""
  }

  /** DuckDB-equivalent SQL per oracle-checkable query (same column names,
    * same ordering). */
  def oracleSql: Map[String, String] = Map(
    "lsh_min_text" -> valuesOracle("lsh_min_text"),
    "lsh_min32_text" -> valuesOracle("lsh_min32_text"),
    "lsh_min_shingles" -> valuesOracle("lsh_min_shingles"),
    "lsh_min32_shingles" -> valuesOracle("lsh_min32_shingles"),
    "lsh_euclidean_embed" -> valuesOracle("lsh_euclidean_embed"),
    "lsh_euclidean_d384" -> valuesOracle("lsh_euclidean_d384"),
    "lsh_euclidean32_embed" -> valuesOracle("lsh_euclidean32_embed"),
    "doc_signatures" -> valuesOracle("doc_signatures"),
    "simhash_dedup_pairs" -> valuesOracle("simhash_dedup_pairs"),
    // Candidate-set queries: the emitted pair/top-k SET is pinned by a
    // VALUES literal independently re-derived in Python; the VALUE columns
    // are recomputed by DuckDB itself (list_cosine_similarity over the
    // embeddings table for the ANN sims; an exact 2-gram-Jaccard > 0.8
    // recheck every blocking pair must survive).
    "ann_topk_lsh" -> valuesOracle("ann_topk_lsh"),
    "ann_topk_lsh_bucketed" -> valuesOracle("ann_topk_lsh_bucketed"),
    "ann_topk_ivf" -> valuesOracle("ann_topk_ivf"),
    "ann_topk_pq" -> valuesOracle("ann_topk_pq"),
    "ann_topk_ivfpq" -> valuesOracle("ann_topk_ivfpq"),
    // bit-equal to ann_topk_ivfpq by construction: same pinned VALUES
    "ann_topk_ivfpq_fitted" -> valuesOracle("ann_topk_ivfpq"),
    "lsh_blocking_join" -> valuesOracle("lsh_blocking_join"),
    "edit_blocked_pairs" -> valuesOracle("edit_blocked_pairs"),
    "edit_pairs_unicode" -> valuesOracle("edit_pairs_unicode"),
    "stream_neardup_candidates" -> valuesOracle("stream_neardup_candidates"),
    "stream_embed_neardup" -> valuesOracle("stream_embed_neardup"),
    "sample_hash" -> valuesOracle("sample_hash"),
    "domain_quota_sample" -> valuesOracle("domain_quota_sample"),
    "domain_token_quota" -> valuesOracle("domain_token_quota"),
    "curate_web" -> valuesOracle("curate_web"),
    "html_extract" -> valuesOracle("html_extract"),
    "html_main_content" -> valuesOracle("html_main_content"),
    "zlib_ratio" -> valuesOracle("zlib_ratio"),
    "quality_zlib_composed" -> valuesOracle("quality_zlib_composed"),
    "html_noindex_filter" -> valuesOracle("html_noindex_filter"),
    "robots_txt_filter" -> valuesOracle("robots_txt_filter"),
    // DuckDB has no punycode: the independent re-derivation is CPython's
    // RFC 3492 codec (+ unquote/NFC) in tools/gen_oracles.py, pinned
    "domain_dedup_idn" -> valuesOracle("domain_dedup_idn"),
    "stream_domain_quota" -> valuesOracle("stream_domain_quota"),
    "domain_blocklist" -> """
      WITH u AS (
        SELECT doc_id, n_chars,
          CASE WHEN doc_id % 2 = 0 THEN 'cdn.' ELSE '' END
          || source || '.example.com' AS host
        FROM documents)
      SELECT doc_id, n_chars FROM u
      WHERE NOT (host = 'src3.example.com' OR host LIKE '%.src3.example.com'
         OR host = 'src5.example.com' OR host LIKE '%.src5.example.com'
         OR host = 'cdn.src7.example.com'
         OR host LIKE '%.cdn.src7.example.com')
      ORDER BY doc_id""",
    "domain_counts" -> """
      WITH u AS (
        SELECT
          'https://' ||
          CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END ||
          source || '.example.com/p' || CAST(doc_id % 40 AS VARCHAR) ||
          CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 7 = 0
               THEN '?q=' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END ||
          CASE WHEN doc_id % 11 = 0
               THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END AS url
        FROM documents)
      SELECT regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
               ':[0-9]+$', ''), '^www\.', '') AS host,
             count(*) AS docs
      FROM u GROUP BY 1
      ORDER BY host""",
    "stream_url_dedup" -> valuesOracle("stream_url_dedup"),
    // independent URL parser: DuckDB re-derives host/path/query with its
    // own regexp engine (RE2) against Spark's parse_url
    "domain_dedup" -> """
      WITH u AS (
        SELECT doc_id, n_chars,
          'https://' ||
          CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END ||
          source || '.example.com/p' || CAST(doc_id % 40 AS VARCHAR) ||
          CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 7 = 0
               THEN '?q=' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END ||
          CASE WHEN doc_id % 11 = 0
               THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END AS url
        FROM documents),
      k AS (
        SELECT doc_id, n_chars,
          regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
            ':[0-9]+$', ''), '^www\.', '')
          || regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
                            '/+$', '')
          || CASE WHEN regexp_extract(url, '\?([^#]*)', 1) = '' THEN ''
                  ELSE '?' || regexp_extract(url, '\?([^#]*)', 1) END AS ukey
        FROM u),
      keep AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY ukey)
      SELECT k.doc_id, k.n_chars FROM k JOIN keep USING (doc_id)
      ORDER BY doc_id""",
    // canonicalization hardening: DuckDB re-runs the FULL RFC 3986
    // normalization (duckPctNorm: strpos hex arithmetic) + bytewise
    // query-param sort on its own parser's components
    "domain_dedup_canonical" -> ("""
      WITH u AS (
        SELECT doc_id, n_chars,
          'https://www.example.com' ||
          CASE WHEN doc_id % 4 = 0
                 THEN '/%7edocs/a' || CAST(doc_id % 30 AS VARCHAR)
               WHEN doc_id % 4 = 1
                 THEN '/~docs/a' || CAST(doc_id % 30 AS VARCHAR)
               WHEN doc_id % 4 = 2
                 THEN '/x%2fy/p' || CAST(doc_id % 30 AS VARCHAR) || '?b=2&a=1'
               ELSE '/x%2Fy/p' || CAST(doc_id % 30 AS VARCHAR) || '?a=1&b=2'
          END AS url
        FROM documents),
      p AS (
        SELECT doc_id, n_chars,
          regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
            ':[0-9]+$', ''), '^www\.', '') AS host,
          regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
                         '/+$', '') AS rawpath,
          regexp_extract(url, '\?([^#]*)', 1) AS rawq
        FROM u),
      n AS (
        SELECT doc_id, n_chars, host,
          """ + duckPctNorm("rawpath") + """ AS npath,
          """ + duckPctNorm("rawq") + """ AS nq
        FROM p),
      k AS (
        SELECT doc_id, n_chars,
          host || npath || CASE WHEN nq = '' THEN '' ELSE
            '?' || array_to_string(list_sort(str_split(nq, '&')), '&')
          END AS ukey
        FROM n),
      keep AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY ukey)
      SELECT k.doc_id, k.n_chars FROM k JOIN keep USING (doc_id)
      ORDER BY doc_id"""),
    // tracking-param canonicalization: DuckDB re-derives the key
    // extraction + prefix drop + sort with its own list machinery
    "domain_dedup_tracking" -> """
      WITH u AS (
        SELECT doc_id, n_chars,
          '/p' || CAST(doc_id % 25 AS VARCHAR) AS path,
          CASE WHEN doc_id % 3 = 0
                 THEN 'id=' || CAST(doc_id % 5 AS VARCHAR)
                   || '&utm_source=feed&UTM_campaign=x'
               WHEN doc_id % 3 = 1
                 THEN 'id=' || CAST(doc_id % 5 AS VARCHAR)
               ELSE 'fbclid=c' || CAST(doc_id AS VARCHAR)
                 || '&id=' || CAST(doc_id % 5 AS VARCHAR)
          END AS q
        FROM documents),
      f AS (
        SELECT doc_id, n_chars, path,
          array_to_string(list_sort(list_filter(str_split(q, '&'), p ->
            NOT (starts_with(lower(str_split(p, '=')[1]), 'utm_')
              OR lower(str_split(p, '=')[1]) = 'fbclid'
              OR lower(str_split(p, '=')[1]) = 'gclid'
              OR lower(str_split(p, '=')[1]) = 'msclkid'
              OR lower(str_split(p, '=')[1]) = 'mc_cid'
              OR lower(str_split(p, '=')[1]) = 'mc_eid'
              OR lower(str_split(p, '=')[1]) = 'igshid'))),
            '&') AS fq
        FROM u),
      k AS (
        SELECT doc_id, n_chars,
          'ex.example.com' || path ||
          CASE WHEN fq IS NULL OR fq = '' THEN '' ELSE '?' || fq END AS ukey
        FROM f),
      keep AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY ukey)
      SELECT k.doc_id, k.n_chars FROM k JOIN keep USING (doc_id)
      ORDER BY doc_id""",
    // the census: per-key URL stripping + group content cardinality,
    // re-derived with DuckDB's list machinery
    "domain_param_census" -> """
      WITH u AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0
                 THEN 'paged ' || CAST(doc_id % 25 AS VARCHAR) || ' '
                   || CAST(doc_id % 2 AS VARCHAR)
               ELSE 'census page ' || CAST(doc_id % 25 AS VARCHAR)
          END AS content,
          'ex.com/' || CASE WHEN doc_id % 5 = 0
                 THEN 'q' || CAST(doc_id % 25 AS VARCHAR)
               WHEN doc_id % 7 <> 0 AND doc_id % 11 = 3
                 THEN 'n' || CAST(doc_id % 25 AS VARCHAR)
               ELSE 'p' || CAST(doc_id % 25 AS VARCHAR) END AS path,
          CASE WHEN doc_id % 5 = 0
                 THEN ['page=' || CAST(doc_id % 2 AS VARCHAR)]
               WHEN doc_id % 7 = 0 THEN ['lang=en']
               WHEN doc_id % 11 = 3 THEN CAST([] AS VARCHAR[])
               ELSE ['lang=en',
                     'sessionid=s' || CAST(doc_id AS VARCHAR)]
          END AS params
        FROM documents),
      plain AS (
        SELECT doc_id, content,
          path || CASE WHEN len(params) > 0
            THEN '?' || array_to_string(list_sort(params), '&')
            ELSE '' END AS ukey
        FROM u),
      k AS (
        SELECT doc_id, content, path, params,
          unnest(list_distinct(list_transform(params,
            x -> str_split(x, '=')[1]))) AS param
        FROM u),
      b AS (
        SELECT param, doc_id, content,
          path || CASE WHEN len(kept) > 0
            THEN '?' || array_to_string(list_sort(kept), '&')
            ELSE '' END AS base
        FROM (SELECT param, doc_id, content, path,
                list_filter(params, x -> str_split(x, '=')[1] <> param)
                  AS kept
              FROM k)),
      merged AS (
        SELECT param, base, content FROM b
        UNION ALL
        SELECT kb.param, kb.base, pl.content
        FROM (SELECT DISTINCT param, base FROM b) kb
        JOIN plain pl ON pl.ukey = kb.base),
      grp AS (
        SELECT param, base, count(DISTINCT content) AS nh
        FROM merged GROUP BY param, base),
      st AS (SELECT param, count(*) AS n_docs FROM b GROUP BY param),
      gr AS (SELECT param, count(*) AS n_groups, max(nh) AS worst
             FROM grp GROUP BY param)
      SELECT st.param, st.n_docs, gr.n_groups,
        (gr.worst = 1 AND st.n_docs >= 2) AS safe
      FROM st JOIN gr USING (param)
      ORDER BY param""",
    // the allowlist dual: the blocklist oracle's LIKE suffix logic,
    // un-negated
    "domain_allowlist" -> """
      WITH u AS (
        SELECT doc_id, n_chars,
          CASE WHEN doc_id % 2 = 0 THEN 'cdn.' ELSE '' END
          || source || '.example.com' AS host
        FROM documents)
      SELECT doc_id, n_chars FROM u
      WHERE (host = 'src3.example.com' OR host LIKE '%.src3.example.com'
         OR host = 'src5.example.com' OR host LIKE '%.src5.example.com'
         OR host = 'cdn.src7.example.com'
         OR host LIKE '%.cdn.src7.example.com')
      ORDER BY doc_id""",
    // path-pattern filtering: DuckDB re-derives the drop set with its
    // own LIKE machinery against Spark's explode + broadcast equi-joins
    "domain_path_filter" -> """
      WITH u AS (
        SELECT doc_id, n_chars, lower(regexp_replace(
          CASE WHEN doc_id % 5 = 0
                 THEN '/static/img' || CAST(doc_id AS VARCHAR) || '.PNG'
               WHEN doc_id % 5 = 1
                 THEN '/blog/post' || CAST(doc_id AS VARCHAR) || '.html'
               WHEN doc_id % 5 = 2
                 THEN '/Admin/panel' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 5 = 3
                 THEN '/staticfiles/f' || CAST(doc_id AS VARCHAR)
               ELSE '/articles/a' || CAST(doc_id AS VARCHAR) || '/'
          END, '/+$', '')) AS path,
          lower(CASE WHEN doc_id % 6 = 1
                 THEN 'id=' || CAST(doc_id % 9 AS VARCHAR) || '&Action=Edit'
               WHEN doc_id % 6 = 2 THEN 'action=view'
               WHEN doc_id % 6 = 3 THEN 'uselang=en&x=1'
               ELSE '' END) AS q
        FROM documents)
      SELECT doc_id, n_chars FROM u
      WHERE NOT (path = '/admin' OR path LIKE '/admin/%'
              OR path = '/static' OR path LIKE '/static/%'
              OR path LIKE '%.png'
              OR len(list_filter(str_split(q, '&'), p ->
                   p = 'action=edit'
                   OR str_split(p, '=')[1] = 'uselang')) > 0)
      ORDER BY doc_id""",
    "sample_weighted" -> valuesOracle("sample_weighted"),
    "dsir_resample" -> valuesOracle("dsir_resample"),
    "quality_nb_score" -> valuesOracle("quality_nb_score"),
    "mix_sources" -> valuesOracle("mix_sources"),
    "mix_temperature" -> valuesOracle("mix_temperature"),
    "contamination_check" -> valuesOracle("contamination_check"),
    // the streaming twin is per-doc-local and stateless, so its unioned
    // micro-batch output is pinned by the SAME oracle as the batch gate
    "stream_contamination" -> valuesOracle("contamination_check"),
    // bit-identical contract with contamination_check: the Bloom is a
    // pure pre-filter, so both plans answer to the same pinned oracle
    "contamination_bloom" -> valuesOracle("contamination_check"),
    "contamination_embed" -> valuesOracle("contamination_embed"),
    "contamination_embed_ann" -> valuesOracle("contamination_embed_ann"),
    // same pair set as contamination_embed_ann (only the physical join
    // differs) — the oracle resource is shared by construction
    "contamination_embed_ann_big" -> valuesOracle("contamination_embed_ann"),
    // Token-span decontamination: full cross-engine re-derivation — the
    // corpus/bench split and planted passage are plain SQL, grams keyed by
    // STRING (vs Spark's xxhash64), flagged = corpus gram IN bench grams,
    // same gaps-and-islands merge as dup_span_detect.
    "contamination_span_detect" ->
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 3
        |    THEN text || ' zebra quagga okapi tapir gnu eland kudu oryx saiga argali'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 50 <> 0),
        |bench AS (
        |  SELECT doc_id, text || ' zebra quagga okapi tapir gnu eland kudu oryx saiga argali' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |clists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM corpus),
        |blists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM bench),
        |cgrams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM clists)),
        |bgrams AS (
        |  SELECT DISTINCT array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT unnest(generate_series(1, len(l) - 7)) AS i, l FROM blists)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM cgrams g WHERE g.gram IN (SELECT gram FROM bgrams)),
        |isl AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM flagged),
        |isl2 AS (SELECT doc_id, pos, fin,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(fin) AS BIGINT) AS span_end,
        |       CAST(max(fin) - min(pos) + 1 AS BIGINT) AS n_tokens
        |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    "contamination_span_cut" ->
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 3
        |    THEN text || ' zebra quagga okapi tapir gnu eland kudu oryx saiga argali'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 50 <> 0),
        |bench AS (
        |  SELECT doc_id, text || ' zebra quagga okapi tapir gnu eland kudu oryx saiga argali' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |clists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM corpus),
        |blists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM bench),
        |toks AS (
        |  SELECT doc_id, i - 1 AS pos, l[i] AS tok
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM clists)),
        |cgrams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM clists)),
        |bgrams AS (
        |  SELECT DISTINCT array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT unnest(generate_series(1, len(l) - 7)) AS i, l FROM blists)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM cgrams g WHERE g.gram IN (SELECT gram FROM bgrams)),
        |kept AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS text
        |  FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM flagged f
        |                    WHERE f.doc_id = t.doc_id AND t.pos BETWEEN f.pos AND f.fin)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM corpus d LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "semantic_dedup" -> valuesOracle("semantic_dedup"),
    "embed_tfidf" -> valuesOracle("embed_tfidf"),
    "semantic_dedup_text" -> valuesOracle("semantic_dedup_text"),
    // direct DuckDB re-computation: the oracle runs the REAL global
    // window (single-partition — fine at oracle scale), so the
    // distributed two-level decomposition is checked against the exact
    // semantics it replaces
    "assign_row_ids" ->
      """SELECT doc_id,
        |       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1
        |            AS BIGINT) AS row_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         CAST(length(regexp_split_to_array(text, '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, tokens,
        |         SUM(tokens) OVER (ORDER BY n_chars DESC, doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, tokens, CAST(cum - tokens AS BIGINT) AS run
        |FROM r WHERE cum <= 20000 ORDER BY doc_id""".stripMargin,
    "token_shard_assign" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         CAST(length(regexp_split_to_array(text, '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, tokens,
        |         SUM(tokens) OVER (ORDER BY n_chars DESC, doc_id
        |                           ROWS UNBOUNDED PRECEDING) - tokens AS run,
        |         SUM(tokens) OVER () AS total
        |  FROM t
        |)
        |SELECT doc_id, tokens,
        |       CAST(LEAST(15, (run * 16) // total) AS INT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,
    // the export manifest is the same assignment rule aggregated per
    // shard — count, token mass, id-set digest
    "export_shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         CAST(length(regexp_split_to_array(text, '\s+')) AS BIGINT) AS tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, tokens,
        |         SUM(tokens) OVER (ORDER BY n_chars DESC, doc_id
        |                           ROWS UNBOUNDED PRECEDING) - tokens AS run,
        |         SUM(tokens) OVER () AS total
        |  FROM t
        |), a AS (
        |  SELECT doc_id, tokens,
        |         CAST(LEAST(15, (run * 16) // total) AS INT) AS shard
        |  FROM r
        |)
        |SELECT shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(tokens) AS BIGINT) AS n_tokens,
        |       CAST(min(doc_id) AS BIGINT) AS min_id,
        |       CAST(max(doc_id) AS BIGINT) AS max_id,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "corpus_shuffle" -> valuesOracle("corpus_shuffle"),
    "pack_sequences" -> valuesOracle("pack_sequences"),
    "curate_corpus" -> valuesOracle("curate_corpus"),
    "curate_corpus_v2" -> valuesOracle("curate_corpus_v2"),
    // bit-equal to curate_corpus_v2 by construction: the staged run must
    // reproduce the in-session chain exactly (same rows, same oracle)
    "curate_corpus_staged" -> valuesOracle("curate_corpus_staged"),
    "curate_corpus_incremental" -> valuesOracle("curate_corpus_incremental"),
    // bit-equality with the in-session day-2 admission IS the contract,
    // so the xsession leg answers to the same pinned oracle
    "curate_corpus_incremental_xsession" ->
      valuesOracle("curate_corpus_incremental"),
    "inc_state_compact" -> valuesOracle("inc_state_compact"),
    "takedown_incremental" -> valuesOracle("takedown_incremental"),
    "stream_incremental_admit" -> valuesOracle("stream_incremental_admit"),
    "stream_warc_admit" -> valuesOracle("stream_warc_admit"),
    // the crash must be invisible in the output: the replay gate
    // answers to the SAME rows as the uncrashed tape-admit twin
    "stream_admit_replay" -> valuesOracle("stream_admit_replay"),
    "curate_drop_ledger" -> valuesOracle("curate_drop_ledger"),
    // the cross-session leg runs the IDENTICAL chain through the
    // simulated restart, so it must land on the same pinned oracle
    "curate_corpus_staged_xsession" -> valuesOracle("curate_corpus_staged"),
    "curate_embeddings" -> valuesOracle("curate_embeddings"),
    "semantic_prototypes" -> valuesOracle("semantic_prototypes"),
    "sketch_distinct" -> valuesOracle("sketch_distinct"),
    "sketch_rollup" -> valuesOracle("sketch_rollup"),
    "hist_quantiles" -> valuesOracle("hist_quantiles"),
    "stream_hist_quantiles" -> valuesOracle("stream_hist_quantiles"),
    "token_entropy" -> valuesOracle("token_entropy"),
    "doc_logprob" -> valuesOracle("doc_logprob"),
    "doc_logprob_bigram" -> valuesOracle("doc_logprob_bigram"),
    "perplexity_buckets" -> valuesOracle("perplexity_buckets"),
    "perplexity_buckets_sketch" -> valuesOracle("perplexity_buckets_sketch"),
    "signature_dedup_pairs" -> valuesOracle("signature_dedup_pairs"),
    "rolling_dedup" -> valuesOracle("rolling_dedup"),
    "index_health" -> valuesOracle("index_health"),
    "sig_index_compact" -> valuesOracle("sig_index_compact"),
    "ann_index_health" -> valuesOracle("ann_index_health"),
    // drift repair: per-cell population of the rebalanced index, Python
    // re-derivation through the same quantizer mirrors (gen_oracles.py)
    "ann_index_rebalance" -> valuesOracle("ann_index_rebalance"),
    "ann_index_merge" -> valuesOracle("ann_index_merge"),
    "ann_index_compact" -> valuesOracle("ann_index_compact"),
    "stream_ann_append" -> valuesOracle("stream_ann_append"),
    "ann_novelty_ingest" -> valuesOracle("ann_novelty_ingest"),
    "ann_index_reindex" -> valuesOracle("ann_index_reindex"),
    // shares ann_novelty_ingest's oracle: same stream, same batch
    // boundaries, same frozen models — bit-equal verdicts, two plans
    "stream_novelty_ingest" -> valuesOracle("ann_novelty_ingest"),
    "multimodal_features_real" -> valuesOracle("multimodal_features_real"),
    "image_phash_dedup" -> valuesOracle("image_phash_dedup"),
    "audio_fp_dedup" -> valuesOracle("audio_fp_dedup"),
    "curate_multimodal" -> valuesOracle("curate_multimodal"),
    "multimodal_resize_real" -> valuesOracle("multimodal_resize_real"),
    "multimodal_features_jpeg" -> valuesOracle("multimodal_features_jpeg"),
    "multimodal_features_wav" -> valuesOracle("multimodal_features_wav"),
    "token_count_bpe" -> valuesOracle("token_count_bpe"),
    "bpe_train" -> valuesOracle("bpe_train"),
    "token_count_bpe_trained" -> valuesOracle("token_count_bpe_trained"),
    // the persisted-vocab round-trip must reproduce the in-session
    // trained counts exactly — same pinned oracle by construction
    "bpe_vocab_roundtrip" -> valuesOracle("token_count_bpe_trained"),
    "bpe_train_1k" -> valuesOracle("bpe_train_1k"),
    "token_count_bpe_1k" -> valuesOracle("token_count_bpe_1k"),
    "pack_sequences_bpe" -> valuesOracle("pack_sequences_bpe"),
    "pack_bins_nfd" -> valuesOracle("pack_bins_nfd"),
    "ann_recall" -> valuesOracle("ann_recall"),
    "cosine_lsh_pairs" -> valuesOracle("cosine_lsh_pairs"),
    "stream_rolling_dedup" -> valuesOracle("stream_rolling_dedup"),
    // round-trip sources: the oracle is the parquet ground truth itself —
    // any encode/decode loss (quoting, types, partition-column re-derive)
    // breaks the hash match
    "source_csv_roundtrip" ->
      dirtiedDocsOracleSql,
    "source_jsonl_roundtrip" ->
      dirtiedDocsOracleSql,
    "source_jsonl_gz_roundtrip" ->
      dirtiedDocsOracleSql,
    "source_jsonl_bz2_roundtrip" ->
      dirtiedDocsOracleSql,
    "source_jsonl_corrupt" ->
      dirtiedDocsOracleSql,
    "sink_parquet_zstd" ->
      dirtiedDocsOracleSql,
    "source_orc_roundtrip" ->
      dirtiedDocsOracleSql,
    "source_avro_roundtrip" ->
      dirtiedDocsOracleSql,
    "source_warc_extract" -> valuesOracle("source_warc_extract"),
    "source_warc_gzip" -> valuesOracle("source_warc_gzip"),
    "warc_to_shards" -> valuesOracle("warc_to_shards"),
    "source_warc_charset" -> valuesOracle("source_warc_charset"),
    "source_warc_chunked" -> valuesOracle("source_warc_chunked"),
    "http_status_filter" -> valuesOracle("http_status_filter"),
    // the streamed tape accumulates to the same record set (file-level
    // exactly-once), so the batch oracle applies verbatim
    "stream_warc_ingest" -> valuesOracle("source_warc_extract"),
    "sink_partitioned" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    // like sink_partitioned/sink_zorder: a compaction rewrite must be a
    // pure layout change
    "sink_compacted" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the z-order write must be a pure LAYOUT change: box-query readback
    // over the curve-clustered files ≡ the same box query on the source
    "sink_zorder" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300 AND o_totalprice BETWEEN 20000 AND 120000
        |ORDER BY o_orderkey""".stripMargin,
    "sink_zorder3" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300 AND o_totalprice BETWEEN 20000 AND 120000
        |  AND o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin,
    "stream_cms_userfreq" -> valuesOracle("stream_cms_userfreq"),
    "bloom_semijoin" -> valuesOracle("bloom_semijoin"),
    "cms_topk" -> valuesOracle("cms_topk"),
    "stream_hll_users" -> valuesOracle("stream_hll_users"),
    "vocab_topk" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 100""".stripMargin,
    "chunk_documents" ->
      """SELECT doc_id, i AS chunk_id,
        |       substring(text, CAST(i * 80 + 1 AS INT), 100) AS chunk_text,
        |       CAST(length(substring(text, CAST(i * 80 + 1 AS INT), 100)) AS BIGINT) AS chunk_len
        |FROM documents,
        |     unnest(generate_series(0, CAST(floor((length(text) - 1) / 80.0) AS BIGINT))) AS t(i)
        |WHERE length(text) > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "normalize_text" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         '  ' || upper(substring(text, 1, 30)) || '   ' || text AS t
        |  FROM documents),
        |clean AS (
        |  SELECT doc_id,
        |         lower(trim(regexp_replace(regexp_replace(t, '[\x00-\x1F]', ' ', 'g'),
        |                                   '\s+', ' ', 'g'))) AS clean_text
        |  FROM dirty)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS clean_len
        |FROM clean ORDER BY doc_id""".stripMargin,
    "normalize_nfc" ->
      ("SELECT doc_id, nfc_normalize(text || ' cafe\u0301 a\u0300 vu n\u0303o')" +
        " AS text_nfc FROM documents ORDER BY doc_id"),
    "pii_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS t
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(t,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |         '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM tok WHERE len(token) > 0 GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf, df_docs,
        |         CAST(tf * n_docs AS DOUBLE) / df_docs AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, "rank", token, tf, df_docs, score FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS "rank"
        |  FROM scored)
        |WHERE "rank" <= 3 ORDER BY doc_id, "rank"""".stripMargin,
    "boilerplate_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |occ AS (
        |  SELECT doc_id, gram FROM (
        |    SELECT doc_id, CASE WHEN len(ws) < 2 THEN [] ELSE
        |      list_transform(generate_series(1, len(ws) - 1),
        |                     i -> ws[i] || ' ' || ws[i + 1]) END AS grams
        |    FROM w), unnest(grams) AS t(gram)),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |bl AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS nd FROM occ GROUP BY gram)
        |  CROSS JOIN n WHERE CAST(nd AS DOUBLE) >= 0.06 * n_docs),
        |per AS (
        |  SELECT o.doc_id, count(*) AS total_grams, count(b.gram) AS flagged_grams
        |  FROM occ o LEFT JOIN bl b ON o.gram = b.gram GROUP BY o.doc_id)
        |SELECT d.doc_id,
        |       coalesce(p.total_grams, 0) AS total_grams,
        |       coalesce(p.flagged_grams, 0) AS flagged_grams,
        |       coalesce(CAST(p.flagged_grams AS DOUBLE) / p.total_grams, 0.0) AS flagged_frac,
        |       CAST(CASE WHEN coalesce(CAST(p.flagged_grams AS DOUBLE) / p.total_grams, 0.0) > 0.5
        |                 THEN 0 ELSE 1 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "embed_normalize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nrm AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS norm FROM e)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, norm,
        |       CASE WHEN norm = 0.0 THEN 0.0 ELSE v[i] / norm END AS nval
        |FROM nrm, unnest(generate_series(1, len(v))) AS t(i)
        |ORDER BY vec_id, pos""".stripMargin,
    "vocab_per_lang" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t WHERE token <> '' GROUP BY lang, token),
        |r AS (SELECT lang, token, cnt,
        |             CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS BIGINT) AS "rank"
        |      FROM c)
        |SELECT lang, token, cnt, "rank" FROM r WHERE "rank" <= 5
        |ORDER BY lang, "rank"""".stripMargin,
    "length_quantiles" ->
      """SELECT lang,
        |       quantile_cont(n_chars, 0.5) AS p50,
        |       quantile_cont(n_chars, 0.9) AS p90,
        |       quantile_cont(n_chars, 0.99) AS p99,
        |       count(*) AS n
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "sample_stratified" -> valuesOracle("sample_stratified"),
    "dataset_splits" -> valuesOracle("dataset_splits"),
    "lsh_jaccard_docs" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 1),
        |                                      i -> substring(text, CAST(i AS INT), 2))) AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CASE WHEN length(ga.grams) = 0 OR length(gb.grams) = 0 THEN 0.0
        |            ELSE CAST(length(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |                 / (length(ga.grams) + length(gb.grams) - length(list_intersect(ga.grams, gb.grams)))
        |       END AS sim
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |JOIN g ga ON ga.doc_id = a.doc_id JOIN g gb ON gb.doc_id = b.doc_id
        |ORDER BY id_a""".stripMargin,
    "lsh_jaccard_customer" ->
      """WITH g AS (
        |  SELECT c_custkey,
        |         list_distinct(list_transform(generate_series(1, length(c_name) - 1),
        |                                      i -> substring(c_name, CAST(i AS INT), 2))) AS grams
        |  FROM customer)
        |SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        |       CASE WHEN length(ga.grams) = 0 OR length(gb.grams) = 0 THEN 0.0
        |            ELSE CAST(length(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |                 / (length(ga.grams) + length(gb.grams) - length(list_intersect(ga.grams, gb.grams)))
        |       END AS sim
        |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        |JOIN g ga ON ga.c_custkey = a.c_custkey JOIN g gb ON gb.c_custkey = b.c_custkey
        |ORDER BY key_a""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT c.c_mktsegment, count(*) AS line_cnt,
        |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       count(DISTINCT o.o_orderkey) AS order_cnt
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |                JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "or_join_expand" ->
      """SELECT c_nationkey AS nation, count(*) AS pairs,
        |       CAST(sum(CAST(s_nationkey AS BIGINT)) AS BIGINT) AS sum_snation
        |FROM customer c JOIN supplier s
        |  ON c.c_nationkey = s.s_nationkey
        |  OR right(c.c_name, 2) = right(s.s_name, 2)
        |GROUP BY c_nationkey
        |ORDER BY nation""".stripMargin,
    "salted_join_agg" ->
      """SELECT o.o_orderpriority, count(*) AS line_cnt,
        |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the plain join IS the oracle: skew blocking must not change the rows
    "skewsafe_band_join" ->
      """WITH a AS (SELECT CASE WHEN o_custkey < 100 THEN 0 ELSE o_custkey END AS band_hash,
        |                  o_orderkey AS id_a FROM orders),
        |     b AS (SELECT CASE WHEN c_custkey < 100 THEN 0 ELSE c_custkey END AS band_hash,
        |                  c_custkey AS id_b FROM customer)
        |SELECT CAST(a.band_hash AS BIGINT) AS band_hash, count(*) AS pairs,
        |       min(id_a) AS min_a, max(id_b) AS max_b
        |FROM a JOIN b ON a.band_hash = b.band_hash
        |GROUP BY a.band_hash
        |ORDER BY band_hash""".stripMargin,
    "q3_broadcast_dims" ->
      """SELECT r.r_name, count(*) AS customers,
        |       min(c.c_acctbal) AS min_bal, max(c.c_acctbal) AS max_bal
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |              JOIN customer c ON c.c_nationkey = n.n_nationkey
        |GROUP BY r.r_name
        |ORDER BY r_name""".stripMargin,
    "q4_window_topn" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,
    // the window idiom IS the oracle for the heap-aggregate path: both
    // rank by (o_totalprice DESC, o_orderkey ASC), so agreement pins the
    // aggregate's ordering, tiebreak, and k-truncation semantics
    "topk_per_group" ->
      """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
        |       CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,
    "q5_semi_anti" ->
      """SELECT 'with_orders' AS bucket, count(*) AS cnt
        |FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS bucket, count(*) AS cnt
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY bucket""".stripMargin,
    "q6_datetime_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       count(*) AS orders, min(o_totalprice) AS min_price
        |FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
        |ORDER BY month""".stripMargin,
    "q7_json_extract" ->
      """SELECT event_type,
        |       CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q8_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin,
    "q9_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS win_start,
        |       event_type, count(*) AS cnt, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), event_type
        |ORDER BY win_start, event_type""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY text_hash""".stripMargin,
    // Independent re-derivation of dedupParagraphs: the same planted
    // fixture, paragraphs keyed by their literal STRING (vs Spark's
    // xxhash64), keep-first by (doc_id, pos), empty paragraphs always
    // kept, docs rebuilt in position order.
    "paragraph_dedup" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 3 = 0
        |               THEN 'Subscribe to our newsletter.' || chr(10) || chr(10)
        |               ELSE '' END)
        |         || regexp_replace(text, '\. ', '.' || chr(10) || chr(10), 'g')
        |         || (CASE WHEN doc_id % 4 = 0
        |                  THEN chr(10) || chr(10) || 'All rights reserved.'
        |                  ELSE '' END) AS text
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, chr(10) || chr(10))) AS para,
        |         generate_subscripts(string_split(text, chr(10) || chr(10)), 1) - 1 AS pos
        |  FROM src
        |), marked AS (
        |  SELECT doc_id, pos, para,
        |         (length(para) = 0 OR
        |          row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1) AS keepit
        |  FROM paras
        |)
        |SELECT s.doc_id, coalesce(k.text, '') AS text
        |FROM src s LEFT JOIN (
        |  SELECT doc_id,
        |         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM marked WHERE keepit GROUP BY doc_id
        |) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Independent re-derivation of scriptProfile: same planted fixture,
    // DuckDB's RE2 counts the same BMP ranges (\x{hhhh} spelling vs
    // Java's \uhhhh), same greatest + first-match-wins dominant CASE.
    "script_profile" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 17 = 0 THEN 'Привет мир и ещё немного кириллицы здесь'
        |              WHEN doc_id % 19 = 0 THEN '中文文档内容完全是汉字没有别的'
        |              ELSE text
        |                || (CASE WHEN doc_id % 7 = 0 THEN ' Привет мир' ELSE '' END)
        |                || (CASE WHEN doc_id % 11 = 0 THEN ' 中文测试内容' ELSE '' END)
        |                || (CASE WHEN doc_id % 13 = 0 THEN ' مرحبا بالعالم' ELSE '' END)
        |         END AS text
        |  FROM documents
        |), counts AS (
        |  SELECT doc_id,
        |         CAST(length(regexp_extract_all(text, '[A-Za-z\x{00C0}-\x{024F}]')) AS BIGINT) AS latin_chars,
        |         CAST(length(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS cyrillic_chars,
        |         CAST(length(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]')) AS BIGINT) AS cjk_chars,
        |         CAST(length(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS arabic_chars
        |  FROM src
        |)
        |SELECT doc_id, latin_chars, cyrillic_chars, cjk_chars, arabic_chars,
        |       CASE WHEN greatest(latin_chars, cyrillic_chars, cjk_chars, arabic_chars) = 0 THEN 'none'
        |            WHEN latin_chars = greatest(latin_chars, cyrillic_chars, cjk_chars, arabic_chars) THEN 'latin'
        |            WHEN cyrillic_chars = greatest(latin_chars, cyrillic_chars, cjk_chars, arabic_chars) THEN 'cyrillic'
        |            WHEN cjk_chars = greatest(latin_chars, cyrillic_chars, cjk_chars, arabic_chars) THEN 'cjk'
        |            ELSE 'arabic' END AS dominant_script
        |FROM counts ORDER BY doc_id""".stripMargin,
    "corpus_report" ->
      """SELECT source, lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       CAST(sum(length(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS ws_tokens,
        |       CAST(count(DISTINCT text) AS BIGINT) AS distinct_texts,
        |       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS exact_dup_docs
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    // Independent re-derivation of dupSpans: grams keyed by their literal
    // string (vs Spark's xxhash64), same min!=max cross-doc rule, same
    // gaps-and-islands merge. DuckDB list slicing is 1-based inclusive;
    // generate_series(1, n-7) is empty for docs under 8 tokens.
    "dup_span_detect" -> oracleSqlDupSpanDetect,
    // the incremental path must land on the full-corpus batch answer: the
    // oracle IS dup_span_detect's SQL, re-referenced so the two can never
    // drift apart
    "rolling_dup_spans" -> oracleSqlDupSpanDetect,
    // streamed gram ingestion ends at the same index state (appends are
    // order-associative), so the batch oracle applies verbatim
    "stream_gram_ingest" -> oracleSqlDupSpanDetect,
    // post-compaction state == the batch chain recomputed over ONLY the
    // surviving documents (deletion changes the duplication relation)
    "gram_index_compact" -> oracleSqlDupSpanDetectOver(
      "(SELECT * FROM documents WHERE doc_id % 5 <> 0)"),
    "takedown_pipeline" -> valuesOracle("takedown_pipeline"),
    "corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
        |v2 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
        |                   ELSE text END AS text
        |       FROM documents WHERE doc_id >= 50)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.text = n.text THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // same CTE chain as dup_span_detect, rolled up per source; the
    // fraction is a double ratio of two exact integer sums (bit-stable)
    "dup_span_stats" ->
      """WITH lists AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM flagged),
        |isl2 AS (SELECT doc_id, pos, fin,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl),
        |spans AS (SELECT doc_id, max(fin) - min(pos) + 1 AS n_tokens
        |          FROM isl2 GROUP BY doc_id, island),
        |per_doc AS (SELECT doc_id, sum(n_tokens) AS dup_toks FROM spans GROUP BY doc_id),
        |docs AS (SELECT doc_id, source, len(l) AS n_toks FROM lists)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(count(p.dup_toks) AS BIGINT) AS docs_with_dups,
        |       CAST(sum(d.n_toks) AS BIGINT) AS tokens,
        |       CAST(coalesce(sum(p.dup_toks), 0) AS BIGINT) AS dup_tokens,
        |       CAST(coalesce(sum(p.dup_toks), 0) AS DOUBLE) / sum(d.n_toks) AS dup_token_frac
        |FROM docs d LEFT JOIN per_doc p USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // The cut: token positions inside any flagged window are dropped, the
    // remainder re-joined by single spaces. LEFT JOIN keeps fully-cut docs
    // as empty strings, matching Spark's array_join on an empty array.
    "dup_span_cut" ->
      """WITH lists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, i - 1 AS pos, l[i] AS tok
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM lists)),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
        |kept AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS text
        |  FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM flagged f
        |                    WHERE f.doc_id = t.doc_id AND t.pos BETWEEN f.pos AND f.fin)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "dup_span_detect_within" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents),
        |lists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM src),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM flagged),
        |isl2 AS (SELECT doc_id, pos, fin,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(fin) AS BIGINT) AS span_end,
        |       CAST(max(fin) - min(pos) + 1 AS BIGINT) AS n_tokens
        |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    // Tokenizer-seam twins: the same span chains over the multilingual
    // fixture derivative (translate + shared digits/CJK/accents suffix,
    // derived HERE with the same builtins) and the unicodeWords tokenizer —
    // space-pad Han chars, split on non-letter/digit runs. RE2's \p{Han} /
    // \p{L}\p{N} mirror Java's \p{IsHan} / \p{L}\p{N} exactly (verified on
    // the fixture alphabet); grams again keyed by literal string.
    "dup_span_detect_tok" ->
      """WITH src AS (
        |  SELECT doc_id, translate(text, 'ae', '\u00e0\u00e9')
        |         || ' 42 na\u00efve \u6570\u636e\u53bb\u91cd \u3072\u3089\u304c\u306a\u30ab\u30bf \ud55c\uae00 \u0e44\u0e17\u0e22\u0e02\u0e49\u0e2d \u1781\u17d2\u1798\u17c2\u179a \u0ea5\u0eb2\u0ea7 \u1019\u103c\u1014\u103a\u1019\u102c \u0f56\u0f7c\u0f51 123 d\u00e9j\u00e0 vu' AS text
        |  FROM documents),
        |lists AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |           regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}\p{Thai}\p{Khmer}\p{Lao}\p{Myanmar}\p{Tibetan}])', ' \1 ', 'g'),
        |           '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM src),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM flagged),
        |isl2 AS (SELECT doc_id, pos, fin,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(fin) AS BIGINT) AS span_end,
        |       CAST(max(fin) - min(pos) + 1 AS BIGINT) AS n_tokens
        |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    "dup_span_cut_tok" ->
      """WITH src AS (
        |  SELECT doc_id, translate(text, 'ae', '\u00e0\u00e9')
        |         || ' 42 na\u00efve \u6570\u636e\u53bb\u91cd \u3072\u3089\u304c\u306a\u30ab\u30bf \ud55c\uae00 \u0e44\u0e17\u0e22\u0e02\u0e49\u0e2d \u1781\u17d2\u1798\u17c2\u179a \u0ea5\u0eb2\u0ea7 \u1019\u103c\u1014\u103a\u1019\u102c \u0f56\u0f7c\u0f51 123 d\u00e9j\u00e0 vu' AS text
        |  FROM documents),
        |lists AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |           regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}\p{Thai}\p{Khmer}\p{Lao}\p{Myanmar}\p{Tibetan}])', ' \1 ', 'g'),
        |           '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM src),
        |toks AS (
        |  SELECT doc_id, i - 1 AS pos, l[i] AS tok
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM lists)),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
        |kept AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS text
        |  FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM flagged f
        |                    WHERE f.doc_id = t.doc_id AND t.pos BETWEEN f.pos AND f.fin)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM src d LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // BPE-token span mining: tokens+spans re-derived in Python from the
    // same merge list (gen_oracles.py), grams keyed by token-tuple content
    "dup_span_detect_bpe" -> valuesOracle("dup_span_detect_bpe"),
    // byte-level detokenizing cut: Python rebuilds the kept tokens' bytes
    // per word from the same merge list (gen_oracles.py)
    "dup_span_cut_bpe" -> valuesOracle("dup_span_cut_bpe"),
    // layout-preserving char-range cut: full Python re-derivation (ascii
    // spans -> byte-range delete over the ORIGINAL text), pinned VALUES
    "dup_span_cut_exact" -> valuesOracle("dup_span_cut_exact"),
    // BPE-identity decontamination cut: bench gram tuples -> flagged
    // corpus windows -> islands -> byte rebuild, all mirrored in Python
    "contamination_span_cut_bpe" -> valuesOracle("contamination_span_cut_bpe"),
    // contamination report: the span CTE chain rolled up per source (the
    // dup_span_stats shape over benchmark-flagged spans)
    "contamination_span_stats" ->
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 3
        |    THEN text || ' zebra quagga okapi tapir gnu eland kudu oryx saiga argali'
        |    ELSE text END AS text, source
        |  FROM documents WHERE doc_id % 50 <> 0),
        |bench AS (
        |  SELECT doc_id, text || ' zebra quagga okapi tapir gnu eland kudu oryx saiga argali' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |clists AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM corpus),
        |blists AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
        |  FROM bench),
        |cgrams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM clists)),
        |bgrams AS (
        |  SELECT DISTINCT array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT unnest(generate_series(1, len(l) - 7)) AS i, l FROM blists)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM cgrams g WHERE g.gram IN (SELECT gram FROM bgrams)),
        |isl AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM flagged),
        |isl2 AS (SELECT doc_id, pos, fin,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl),
        |spans AS (SELECT doc_id, max(fin) - min(pos) + 1 AS n_tokens
        |          FROM isl2 GROUP BY doc_id, island),
        |per_doc AS (SELECT doc_id, sum(n_tokens) AS dup_toks FROM spans GROUP BY doc_id),
        |docs2 AS (SELECT doc_id, source, len(l) AS n_toks FROM clists)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(count(p.dup_toks) AS BIGINT) AS docs_with_dups,
        |       CAST(sum(d.n_toks) AS BIGINT) AS tokens,
        |       CAST(coalesce(sum(p.dup_toks), 0) AS BIGINT) AS dup_tokens,
        |       CAST(coalesce(sum(p.dup_toks), 0) AS DOUBLE) / sum(d.n_toks) AS dup_token_frac
        |FROM docs2 d LEFT JOIN per_doc p USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // NFC-canonicalizing tokenizer over the mixed-normalization fixture:
    // DuckDB nfc_normalize first, then the identical two-step tokenizer
    "dup_span_detect_nfc" ->
      """WITH src AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id = 0 THEN text || ' cafe\u0301 re\u0301sume\u0301 nai\u0308ve de\u0301ja\u0300 sen\u0303or jalapen\u0303o cre\u0300me bru\u0302le\u0301e fiance\u0301e'
        |    WHEN doc_id = 1 THEN text || ' caf\u00e9 r\u00e9sum\u00e9 na\u00efve d\u00e9j\u00e0 se\u00f1or jalape\u00f1o cr\u00e8me br\u00fbl\u00e9e fianc\u00e9e'
        |    ELSE text END AS text
        |  FROM documents),
        |lists AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |           regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}\p{Thai}])', ' \1 ', 'g'),
        |           '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM src),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(l[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l FROM lists)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |flagged AS (SELECT DISTINCT g.doc_id, g.pos, g.pos + 7 AS fin
        |            FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM flagged),
        |isl2 AS (SELECT doc_id, pos, fin,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(fin) AS BIGINT) AS span_end,
        |       CAST(max(fin) - min(pos) + 1 AS BIGINT) AS n_tokens
        |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    // Ground-truth oracle: brute-force all-pairs exact 4-gram Jaccard. The
    // LSH path must emit exactly this set — at the planted-dup sim floor
    // (0.93 at sf0.01) the 8-band/3-row miss probability is ~2.6e-6 per pair
    // and the seed is fixed, so candidate recall is deterministically 1 on
    // this data (verified: 25/25 pairs, sims bit-exact). length >= 4 filter
    // mirrors bandedRows' empty-shingle drop.
    // ASCII assumption: DuckDB substring() counts CHARACTERS while the Spark
    // side shingles Unicode code points decoded from UTF-8 — the gram sets
    // coincide only because the documents fixture is pure ASCII (verified).
    // Multi-byte text would need a code-point-aware oracle (DuckDB substring
    // is already code-point based, but length(text)-vs-byte-length and any
    // surrogate handling would have to be re-audited before trusting it).
    "minhash_dedup_pairs" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |       / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) AS sim
        |FROM g a JOIN g b ON b.doc_id > a.doc_id
        |WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // line-frequency boilerplate: lines keyed by STRING, distinct-doc
    // counted, flagged >= 100, rebuild joins the kept lines in position
    // order (string_split keeps empties; string_agg needs the coalesce
    // for a doc whose every line was flagged)
    "boilerplate_lines_drop" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' || chr(10) ELSE '' END
        |    || replace(text, ' the ', chr(10))
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, i - 1 AS pos, l[i] AS line
        |  FROM (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l
        |        FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM src))),
        |flagged AS (SELECT line FROM lines GROUP BY line
        |            HAVING count(DISTINCT doc_id) >= 100),
        |kept AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM lines WHERE line NOT IN (SELECT line FROM flagged)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(k.text, '') AS text
        |FROM src s LEFT JOIN kept k USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
    // same brute-force ground truth restricted to CROSS-SPLIT pairs, with
    // the deterministic %10 split re-derived in SQL
    "split_leakage" ->
      """WITH sp AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 < 8 THEN 'train'
        |                      WHEN doc_id % 10 = 8 THEN 'valid'
        |                      ELSE 'test' END AS split
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4)
        |SELECT a.doc_id AS id_a, sa.split AS split_a,
        |       b.doc_id AS id_b, sb.split AS split_b,
        |       CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |       / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) AS sim
        |FROM g a JOIN g b ON b.doc_id > a.doc_id
        |JOIN sp sa ON sa.doc_id = a.doc_id
        |JOIN sp sb ON sb.doc_id = b.doc_id
        |WHERE sa.split <> sb.split
        |  AND CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // same ground truth as minhash_dedup_pairs: the adaptive gate forces the
    // fused route over identical params, and recall is 1 at this banding
    "neardup_adaptive" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |       / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) AS sim
        |FROM g a JOIN g b ON b.doc_id > a.doc_id
        |WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // Cross ground truth for the incremental path: every (batch >= 400,
    // corpus < 400) pair above the exact-Jaccard threshold — if the indexed
    // band join missed one (recall < 1) or invented one, rows mismatch.
    // direct A×B twin of incremental_dedup's ground truth, oriented
    // (corpus-side id_a < 400, batch-side id_b >= 400)
    "crossdedup_join" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |       / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) AS sim
        |FROM g a JOIN g b ON a.doc_id < 400 AND b.doc_id >= 400
        |WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "incremental_dedup" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4)
        |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
        |       CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |       / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) AS sim
        |FROM g a JOIN g b ON b.doc_id >= 400 AND a.doc_id < 400
        |WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5
        |ORDER BY batch_id, corpus_id""".stripMargin,
    // Connected components over the same ground-truth pair graph, via
    // transitive closure (the graph is tiny: only near-dup nodes appear).
    "dedup_clusters" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON b.doc_id > a.doc_id
        |  WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
        |)
        |SELECT u AS id, least(u, min(v)) AS cluster
        |FROM reach GROUP BY u
        |ORDER BY id""".stripMargin,
    // identical ground truth: the distributed branch must produce the exact
    // same labels as the driver union-find
    "dedup_clusters_distributed" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON b.doc_id > a.doc_id
        |  WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
        |)
        |SELECT u AS id, least(u, min(v)) AS cluster
        |FROM reach GROUP BY u
        |ORDER BY id""".stripMargin,
    // chain gate: edges (doc_id, doc_id+8) over contiguous ids make the
    // component = residue class and the min member id = doc_id % 8 — an
    // independently-derivable closed form, no transitive closure needed
    "dedup_clusters_chain" ->
      """SELECT doc_id AS id, CAST(doc_id % 8 AS BIGINT) AS cluster
        |FROM documents
        |ORDER BY id""".stripMargin,
    // survivors: per transitive-closure cluster keep (max n_chars, min
    // doc_id); docs outside the pair graph are singletons and survive
    "dedup_keep_best" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 3),
        |                                      i -> substring(text, CAST(i AS INT), 4))) AS grams
        |  FROM documents WHERE length(text) >= 4),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON b.doc_id > a.doc_id
        |  WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.5),
        |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
        |),
        |labels AS (SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
        |SELECT doc_id, n_chars FROM (
        |  SELECT d.doc_id, d.n_chars,
        |         row_number() OVER (PARTITION BY coalesce(l.cluster, d.doc_id)
        |                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_near_window" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(text) - 2),
        |                                      i -> substring(text, CAST(i AS INT), 3))) AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(length(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |       / (length(ga.grams) + length(gb.grams) - length(list_intersect(ga.grams, gb.grams))) AS sim
        |FROM documents a JOIN documents b
        |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
        |JOIN g ga ON ga.doc_id = a.doc_id JOIN g gb ON gb.doc_id = b.doc_id
        |WHERE CAST(length(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |      / (length(ga.grams) + length(gb.grams) - length(list_intersect(ga.grams, gb.grams))) > 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |       length(text) AS chars,
        |       length(string_split(text, ' ')) AS words,
        |       length(list_distinct(string_split(text, ' '))) AS distinct_words,
        |       CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / length(string_split(text, ' ')) AS lexical_diversity,
        |       length(list_filter(string_split(text, ' '),
        |                          w -> list_contains(['the', 'a', 'of', 'and', 'is'], w))) AS stopwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tokenizer_fertility" ->
      """SELECT lang, count(*) AS docs,
        |       CAST(SUM(length(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS ws_tokens,
        |       CAST(SUM(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))) AS BIGINT) AS bpe_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars,
        |       CAST(SUM(length(regexp_split_to_array(text, '\s+'))) AS BIGINT) * 100.0
        |         / CAST(SUM(n_chars) AS BIGINT) AS ws_per_100c,
        |       CAST(SUM(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))) AS BIGINT) * 100.0
        |         / CAST(SUM(n_chars) AS BIGINT) AS bpe_per_100c
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |       length(regexp_split_to_array(text, '\s+')) AS ws_tokens,
        |       length(regexp_extract_all(text, '[a-zA-Z]+')) AS alpha_tokens,
        |       length(regexp_extract_all(text, '[0-9]+')) AS num_tokens,
        |       length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    length(list_filter(string_split(text,' '), x -> list_contains(['the','a','of','and','is','to','in','that','it','was'], x))) AS h_en,
        |    length(list_filter(string_split(text,' '), x -> list_contains(['le','la','de','et','est','un','une','dans','que','il'], x))) AS h_fr,
        |    length(list_filter(string_split(text,' '), x -> list_contains(['el','la','de','y','es','un','una','en','que','se'], x))) AS h_es,
        |    length(list_filter(string_split(text,' '), x -> list_contains(['der','die','das','und','ist','ein','eine','in','zu','den'], x))) AS h_de
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN h_en = b AND b > 0 THEN 'en'
        |            WHEN h_fr = b AND b > 0 THEN 'fr'
        |            WHEN h_es = b AND b > 0 THEN 'es'
        |            WHEN h_de = b AND b > 0 THEN 'de'
        |            ELSE 'und' END AS lang_pred
        |FROM (SELECT *, greatest(h_en, h_fr, h_es, h_de) AS b FROM h)
        |ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws,
        |    length(list_filter(string_split(text,' '), x -> list_contains(['the','a','of','and','is','to','in','that','it','was'], x))) AS h_en
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(list_distinct(ws)) AS DOUBLE) / length(ws) AS diversity,
        |       CAST(h_en AS DOUBLE) / length(ws) AS stop_ratio,
        |       least(1.0, CAST(length(text) AS DOUBLE) / 200.0) * 0.4
        |         + CAST(length(list_distinct(ws)) AS DOUBLE) / length(ws) * 0.3
        |         + least(1.0, CAST(h_en AS DOUBLE) / length(ws) * 4.0) * 0.3 AS quality
        |FROM w ORDER BY doc_id""".stripMargin,
    "repetition_stats" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |base AS (
        |  SELECT doc_id, len(words) AS word_count,
        |         1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dup_word_frac,
        |         CASE WHEN len(words) < 2 THEN [] ELSE
        |           list_transform(generate_series(1, len(words) - 1),
        |                          i -> words[i] || ' ' || words[i + 1]) END AS grams
        |  FROM w),
        |gc AS (SELECT doc_id, gram, count(*) AS c
        |       FROM base, unnest(grams) AS t(gram) GROUP BY doc_id, gram),
        |agg AS (SELECT doc_id, max(c) AS maxc, sum(c) AS total, count(*) AS ndistinct
        |        FROM gc GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.word_count AS BIGINT) AS word_count, b.dup_word_frac,
        |       coalesce(CAST(a.maxc AS DOUBLE) / a.total, 0.0) AS top_2gram_frac,
        |       coalesce(CAST(a.total - a.ndistinct AS DOUBLE) / a.total, 0.0) AS dup_2gram_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "repetition_filter" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |base AS (
        |  SELECT doc_id, len(words) AS word_count,
        |         1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dup_word_frac,
        |         CASE WHEN len(words) < 2 THEN [] ELSE
        |           list_transform(generate_series(1, len(words) - 1),
        |                          i -> words[i] || ' ' || words[i + 1]) END AS grams
        |  FROM w),
        |gc AS (SELECT doc_id, gram, count(*) AS c
        |       FROM base, unnest(grams) AS t(gram) GROUP BY doc_id, gram),
        |agg AS (SELECT doc_id, max(c) AS maxc, sum(c) AS total, count(*) AS ndistinct
        |        FROM gc GROUP BY doc_id)
        |SELECT b.doc_id,
        |       (b.word_count >= 40 AND b.dup_word_frac <= 0.54
        |        AND coalesce(CAST(a.maxc AS DOUBLE) / a.total, 0.0) <= 0.05
        |        AND coalesce(CAST(a.total - a.ndistinct AS DOUBLE) / a.total, 0.0) <= 0.05)
        |         AS keep
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // full independent re-derivation of the Gopher structural rule set:
    // same planted fixture (chr(10)/chr(8226) so the file stays ASCII),
    // DuckDB list lambdas vs Spark higher-order functions; every ratio
    // is an exact int/int double division, bit-equal across engines
    "gopher_rules" ->
      """WITH f AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- item one' || chr(10)
        |      || '- item two' || chr(10) || '* item three' || chr(10)
        |      || chr(8226) || ' dotted item' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'read more... continued...'
        |      || chr(10) || '### nav ###' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN chr(10)
        |      || '12 345 6789 10 11 12 13 14 15 16' ELSE '' END AS text
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, text,
        |    list_filter(str_split(text, ' '), x -> x <> '') AS ws,
        |    list_filter(str_split(text, chr(10)), x -> x <> '') AS ls
        |  FROM f),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS hashes,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS ellipses,
        |    CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
        |      AS BIGINT) AS wlen,
        |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')
        |      OR starts_with(l, '* ') OR starts_with(l, chr(8226))))
        |      AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS BIGINT)
        |      AS ellipsis_lines,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have',
        |      'with'], sw -> list_contains(ws, sw))) AS BIGINT)
        |      AS stopword_hits
        |  FROM w),
        |r AS (
        |  SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0
        |      THEN CAST(wlen AS DOUBLE) / CAST(n_words AS DOUBLE) END
        |      AS mean_word_len,
        |    CASE WHEN n_words > 0
        |      THEN CAST(hashes + ellipses AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      END AS symbol_word_ratio,
        |    CASE WHEN n_lines > 0
        |      THEN CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END
        |      AS bullet_line_frac,
        |    CASE WHEN n_lines > 0
        |      THEN CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |      END AS ellipsis_line_frac,
        |    CASE WHEN n_words > 0
        |      THEN CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) END
        |      AS alpha_word_frac,
        |    stopword_hits
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
        |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
        |  stopword_hits,
        |  COALESCE(n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_word_ratio <= 0.1
        |    AND bullet_line_frac <= 0.9
        |    AND ellipsis_line_frac <= 0.3
        |    AND alpha_word_frac >= 0.8
        |    AND stopword_hits >= 2, FALSE) AS keep
        |FROM r
        |ORDER BY doc_id""".stripMargin,
    // the per-lang suite: same signal algebra, stopword list dispatched
    // by lang with the en fallback for unmapped languages (zh here)
    "gopher_rules_multilang" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 17 <> 0 THEN
        |      CASE lang WHEN 'en' THEN 'that have of '
        |                WHEN 'es' THEN 'el la de '
        |                WHEN 'de' THEN 'der die und '
        |                WHEN 'fr' THEN 'le la et '
        |                ELSE '' END
        |    ELSE '' END || text AS text
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(str_split(text, ' '), x -> x <> '') AS ws,
        |    list_filter(str_split(text, chr(10)), x -> x <> '') AS ls
        |  FROM f),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS hashes,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS ellipses,
        |    CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
        |      AS BIGINT) AS wlen,
        |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')
        |      OR starts_with(l, '* ') OR starts_with(l, chr(8226))))
        |      AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS BIGINT)
        |      AS ellipsis_lines,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(
        |      CASE lower(lang)
        |        WHEN 'es' THEN ['el','la','de','que','y','en','los','con']
        |        WHEN 'de' THEN ['der','die','und','das','ist','von','mit','zu']
        |        WHEN 'fr' THEN ['le','la','et','les','des','que','dans','une']
        |        ELSE ['the','be','to','of','and','that','have','with'] END,
        |      sw -> list_contains(ws, sw))) AS BIGINT) AS stopword_hits
        |  FROM w),
        |r AS (
        |  SELECT doc_id, lang, n_words,
        |    CASE WHEN n_words > 0
        |      THEN CAST(wlen AS DOUBLE) / CAST(n_words AS DOUBLE) END
        |      AS mean_word_len,
        |    CASE WHEN n_words > 0
        |      THEN CAST(hashes + ellipses AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      END AS symbol_word_ratio,
        |    CASE WHEN n_lines > 0
        |      THEN CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END
        |      AS bullet_line_frac,
        |    CASE WHEN n_lines > 0
        |      THEN CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |      END AS ellipsis_line_frac,
        |    CASE WHEN n_words > 0
        |      THEN CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) END
        |      AS alpha_word_frac,
        |    stopword_hits
        |  FROM m)
        |SELECT doc_id, lang, n_words, mean_word_len, symbol_word_ratio,
        |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
        |  stopword_hits,
        |  COALESCE(n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_word_ratio <= 0.1
        |    AND bullet_line_frac <= 0.9
        |    AND ellipsis_line_frac <= 0.3
        |    AND alpha_word_frac >= 0.8
        |    AND stopword_hits >= 2, FALSE) AS keep
        |FROM r
        |ORDER BY doc_id""".stripMargin,
    "quantize_embeddings" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, scale, v,
        |             CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0)
        |                  ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
        |             END AS qvec
        |      FROM s)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, CAST(qvec[i] AS BIGINT) AS q, scale,
        |       abs(qvec[i] * scale - v[i]) AS abs_err
        |FROM q, unnest(generate_series(1, len(v))) AS t(i)
        |ORDER BY vec_id, pos""".stripMargin,
    "cosine_adjacent" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY id_a""".stripMargin,
    "ann_topk_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, nv) AS sim
        |  FROM q JOIN c ON query_id != neighbor_id)
        |SELECT query_id, "rank", neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS "rank"
        |  FROM scored)
        |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "frame_sample" ->
      """SELECT doc_id AS media_id, i AS frame_idx,
        |       substring(text, CAST(i * 64 + 1 AS INT), 16) AS frame_bytes
        |FROM documents,
        |     unnest(generate_series(0, CAST(floor((length(text) - 1) / 64.0) AS BIGINT))) AS t(i)
        |ORDER BY media_id, frame_idx""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(length(text) AS BIGINT) AS size_bytes,
        |       CASE WHEN length(text) >= 2 THEN ascii(substring(text,1,1))*256 + ascii(substring(text,2,1)) ELSE 0 END AS width,
        |       CASE WHEN length(text) >= 4 THEN ascii(substring(text,3,1))*256 + ascii(substring(text,4,1)) ELSE 0 END AS height,
        |       CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(list_sum(list_transform(generate_series(1, length(text)), i -> ascii(substring(text, CAST(i AS INT), 1)))) AS DOUBLE) / length(text)
        |       END AS mean_byte,
        |       sha256(text) AS sha256
        |FROM documents ORDER BY media_id""".stripMargin,
    // NOTE (multimodal_features / multimodal_resize oracles): the width/
    // height/mean/thumb derivations below use CHARACTER functions
    // (ascii/substring/length) while the Scala side reads raw UTF-8 BYTES;
    // they agree only because the documents fixture is pure ASCII (1 char =
    // 1 byte). The fixture must stay ASCII for these oracles — a multi-byte
    // character would silently diverge the oracle from the implementation.
    "multimodal_resize" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, text,
        |    CASE WHEN length(text) >= 2 THEN ascii(substring(text,1,1))*256 + ascii(substring(text,2,1)) ELSE 0 END AS width,
        |    CASE WHEN length(text) >= 4 THEN ascii(substring(text,3,1))*256 + ascii(substring(text,4,1)) ELSE 0 END AS height
        |  FROM documents),
        |d AS (
        |  SELECT media_id, text, width, height,
        |    CASE WHEN width <= 64 AND height <= 64 THEN width
        |         WHEN width >= height THEN 64
        |         ELSE width * 64 // height END AS out_w,
        |    CASE WHEN width <= 64 AND height <= 64 THEN height
        |         WHEN width >= height THEN height * 64 // width
        |         ELSE 64 END AS out_h
        |  FROM f)
        |SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        |       CAST(out_w AS INT) AS out_w, CAST(out_h AS INT) AS out_h,
        |       sha256(substring(text, 1, CAST(LEAST(out_w, length(text)) AS INT))) AS thumb_sha256
        |FROM d ORDER BY media_id""".stripMargin,
    "range_join" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (CAST(1 AS BIGINT), 0.0, 25000.0), (2, 25000.0, 60000.0), (3, 60000.0, 110000.0),
        |  (4, 110000.0, 180000.0), (5, 180000.0, 300000.0), (6, 300000.0, 600000.0))
        |SELECT b.band_id, count(*) AS orders,
        |       min(o.o_totalprice) AS min_price, max(o.o_totalprice) AS max_price
        |FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        |GROUP BY b.band_id ORDER BY b.band_id""".stripMargin,
    "asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT e.event_id,
        |       o.o_orderkey AS asof_o_orderkey,
        |       o.o_totalprice AS asof_o_totalprice
        |FROM events e ASOF LEFT JOIN (SELECT * FROM o WHERE rn = 1) o
        |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
        |ORDER BY event_id""".stripMargin,
    // daily buckets: survivor per (user, bucket) = last observation by
    // (ts, event_id) — the HUGEINT composite key orders identically to
    // Spark's struct(ts, event_id) because event_id < 1e10; forward fill
    // via IGNORE NULLS last_value over the per-user grid
    "resample_gapfill" ->
      """WITH b AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) * 86400 AS bucket_s,
        |         arg_max(value, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 10000000000 + event_id) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, unnest(generate_series(min(bucket_s), max(bucket_s), 86400)) AS bucket_s
        |  FROM b GROUP BY user_id)
        |SELECT g.user_id AS user_id, g.bucket_s AS bucket_s,
        |       last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.bucket_s
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |       b.v IS NOT NULL AS observed
        |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_s = b.bucket_s
        |ORDER BY 1, 2""".stripMargin,
    // integer-exact moments: HUGEINT sums of centi-units, variance as
    // (n*Sxx - Sx^2)/n^2 with one final exact-integer->double division
    "value_stats" ->
      """WITH c AS (
        |  SELECT event_type, CAST(floor(value * 100) AS HUGEINT) AS x, value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v,
        |       CAST(sum(x) AS DOUBLE) / count(*) AS mean_x100,
        |       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
        |         / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS var_x100
        |FROM c GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // batch self-join ground truth for the stream-stream interval join
    "stream_attribution_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id AS user_id,
        |       CAST(floor(epoch(CAST(c.ts AS TIMESTAMP))) AS BIGINT) AS click_s,
        |       CAST(floor(epoch(CAST(p.ts AS TIMESTAMP))) AS BIGINT) AS purchase_s,
        |       p.value AS value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
    // the streaming bucketing twin: per (day, user) last observation by the
    // same HUGEINT composite tie key as resample_gapfill
    "stream_resample_last" ->
      """SELECT strftime(time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS win_start,
        |       user_id,
        |       arg_max(value, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 10000000000 + event_id) AS last_value
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // same grid as resample_gapfill, then the trailing-7 window; the sum
    // runs over floor(value*100) BIGINTs so both engines add integers
    "rolling_stats" ->
      """WITH b AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) * 86400 AS bucket_s,
        |         arg_max(value, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 10000000000 + event_id) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, unnest(generate_series(min(bucket_s), max(bucket_s), 86400)) AS bucket_s
        |  FROM b GROUP BY user_id),
        |f AS (
        |  SELECT g.user_id AS user_id, g.bucket_s AS bucket_s,
        |         last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.bucket_s
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_s = b.bucket_s)
        |SELECT user_id, bucket_s, value,
        |       min(value) OVER w AS roll_min,
        |       max(value) OVER w AS roll_max,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS roll_sum_x100,
        |       count(value) OVER w AS roll_cnt,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS DOUBLE)
        |         / count(value) OVER w AS roll_avg_x100
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, bucket_s""".stripMargin,
    "sessionize_batch" -> sessionizeOracleSql,
    // the streaming replay must equal the batch twin session-for-session,
    // so it shares the batch oracle verbatim
    "sessionize_stream" -> sessionizeOracleSql,
    // the late-data replay: the oracle models the admission rule itself —
    // on-time rows (event_id % 3 != 0) plus late rows STRICTLY above the
    // watermark max(on-time ts) − 1 h — then sessionizes the admitted set
    // with the batch recipe (whole-second arithmetic like the main oracle)
    "stream_late_sessions" ->
      """WITH raw AS (
        |  SELECT event_id, user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s
        |  FROM events),
        |wm AS (SELECT max(ts_s) - 3600 AS w FROM raw WHERE event_id % 3 <> 0),
        |adm AS (
        |  SELECT user_id, ts_s FROM raw WHERE event_id % 3 <> 0
        |  UNION ALL
        |  SELECT user_id, ts_s FROM raw, wm WHERE event_id % 3 = 0 AND ts_s > w
        |  UNION ALL
        |  -- boundary probes: ts == W is dropped (ts <= watermark — absent
        |  -- here by construction), ts == W + 1 survives
        |  SELECT CAST(1000000001 AS BIGINT) AS user_id, w + 1 AS ts_s FROM wm),
        |x AS (SELECT user_id, ts_s,
        |             lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS prev_ts
        |      FROM adm),
        |y AS (SELECT user_id, ts_s,
        |             CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM x),
        |z AS (SELECT user_id, ts_s,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS BIGINT) AS session_id
        |      FROM y)
        |SELECT user_id, session_id,
        |       min(ts_s) AS start_s, max(ts_s) AS end_s, count(*) AS events
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    // append-mode streaming windows must equal the batch aggregation — the
    // q9 oracle verbatim
    "stream_windowed_counts" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS win_start,
        |       event_type, count(*) AS cnt, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), event_type
        |ORDER BY win_start, event_type""".stripMargin,
    // crash-recovery replay answers to the SAME batch twin as the
    // uninterrupted stream — the restart must be output-invisible
    "stream_restart_windows" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS win_start,
        |       event_type, count(*) AS cnt, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), event_type
        |ORDER BY win_start, event_type""".stripMargin,
    // the streaming top-k is EXACT (bounded heap, total order), so the
    // oracle is the ordinary window twin — same ranking as topk_per_group
    "stream_topk_events" ->
      """SELECT win_start, event_type, CAST(rnk AS BIGINT) AS rnk, event_id,
        |       value FROM (
        |  SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS win_start,
        |         event_type, event_id, value,
        |         row_number() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), event_type
        |                            ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 3
        |ORDER BY win_start, event_type, rnk""".stripMargin,
    // streaming content dedup: fed in doc_id order, the survivor per
    // distinct text is the smallest doc_id — pure SQL over the same
    // corpus-plus-shifted-copies union the query streams
    "stream_dedup_content" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000, text FROM documents),
        |r AS (SELECT doc_id, text,
        |             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |      FROM u)
        |SELECT doc_id, text FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  )

  private val sessionizeOracleSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |x AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
      |y AS (SELECT user_id, ts,
      |             CASE WHEN prev_ts IS NULL
      |                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
      |                  THEN 1 ELSE 0 END AS new_s
      |      FROM x),
      |z AS (SELECT user_id, ts, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id FROM y)
      |SELECT user_id, session_id,
      |       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
      |       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
      |       count(*) AS events
      |FROM z GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin
}
