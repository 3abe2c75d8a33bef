package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.{BloomBuild, BloomContains, BpeCount, HtmlExtract, HtmlMainContent, HtmlMetaRobots, BpeRanks, BpeTokens, CmsBuild, CmsEstimate, ColumnShim, CosineSketch64, HammingDist, HistQuantile, HistSketch, HllDistinct, HllEstimate, HllSketch, LnPinned, LshEuclidean, LshJaccard, LshMin, ShingleHashes, SimHash64, SketchMerge, TopKByScore, ZlibLen}

/** Typed DataFrame-API bindings for the LSH functions (the reference exposes
  * SQL only; this is the idiomatic Spark column surface on top of the same
  * expressions).
  */
object functions {

  private def col2expr(c: Column): Expression = ColumnShim.expression(c)
  private def toCol(e: Expression): Column = ColumnShim.column(e)

  /** Banded MinHash over char-n-gram shingles (lsh_min, minhash.rs:154-192). */
  def lsh_min(col: Column, ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long): Column =
    toCol(LshMin(Seq(col2expr(col), col2expr(lit(ngramWidth.toLong)),
      col2expr(lit(bandCount.toLong)), col2expr(lit(bandSize.toLong)),
      col2expr(lit(seed))), is32 = false))

  /** Banded MinHash over caller-provided shingles (minhash.rs:85-150). */
  def lsh_min(col: Column, bandCount: Int, bandSize: Int, seed: Long): Column =
    toCol(LshMin(Seq(col2expr(col), col2expr(lit(bandCount.toLong)),
      col2expr(lit(bandSize.toLong)), col2expr(lit(seed))), is32 = false))

  def lsh_min32(col: Column, ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long): Column =
    toCol(LshMin(Seq(col2expr(col), col2expr(lit(ngramWidth.toLong)),
      col2expr(lit(bandCount.toLong)), col2expr(lit(bandSize.toLong)),
      col2expr(lit(seed))), is32 = true))

  def lsh_min32(col: Column, bandCount: Int, bandSize: Int, seed: Long): Column =
    toCol(LshMin(Seq(col2expr(col), col2expr(lit(bandCount.toLong)),
      col2expr(lit(bandSize.toLong)), col2expr(lit(seed))), is32 = true))

  /** Banded p-stable LSH over a double vector (euclidean_hash.rs:20-98). */
  def lsh_euclidean(col: Column, bucketWidth: Double, bandCount: Int, bandSize: Int, seed: Long): Column =
    toCol(LshEuclidean(Seq(col2expr(col), col2expr(lit(bucketWidth)),
      col2expr(lit(bandCount.toLong)), col2expr(lit(bandSize.toLong)),
      col2expr(lit(seed))), is32 = false))

  def lsh_euclidean32(col: Column, bucketWidth: Double, bandCount: Int, bandSize: Int, seed: Long): Column =
    toCol(LshEuclidean(Seq(col2expr(col), col2expr(lit(bucketWidth)),
      col2expr(lit(bandCount.toLong)), col2expr(lit(bandSize.toLong)),
      col2expr(lit(seed))), is32 = true))

  /** Exact char-n-gram Jaccard similarity (minhash.rs:236-296). */
  def lsh_jaccard(a: Column, b: Column, ngramWidth: Int): Column =
    toCol(LshJaccard(col2expr(a), col2expr(b), col2expr(lit(ngramWidth.toLong))))

  // ---- pipeline operators beyond the reference surface ----

  /** 64-bit SimHash over whitespace tokens. */
  def simhash64(text: Column): Column = toCol(SimHash64(col2expr(text)))

  /** HTML → text extraction (tag strip with block line breaks,
    * script/style/comment drop, entity decode, whitespace normalization
    * — [[graft.core.HtmlText]]). */
  def html_extract(html: Column): Column = toCol(HtmlExtract(col2expr(html)))

  /** The first robots meta directive of the page (`<meta name="robots"
    * content="...">`, both attributes case-insensitive), NULL when
    * absent — the crawl opt-out a compliant pipeline drops on
    * ([[graft.core.HtmlText.metaRobots]]). */
  def html_meta_robots(html: Column): Column =
    toCol(HtmlMetaRobots(col2expr(html)))

  /** Main-content extraction — the jusText-class tier above
    * [[html_extract]]: same scan, but blocks shorter than `minChars`
    * counted characters or denser than `maxLinkPermille` anchor-text
    * per-mille are dropped as chrome
    * ([[graft.core.HtmlText.extractMain]] states the exact rules). */
  def html_main_content(html: Column, minChars: Int = 25,
                        maxLinkPermille: Int = 333): Column =
    toCol(HtmlMainContent(col2expr(html), minChars, maxLinkPermille))

  /** Byte length of the zlib (RFC 1950) stream of the text's UTF-8 bytes
    * at a fixed level — the compression-ratio repetition signal
    * ([[org.apache.spark.sql.graft.ZlibLen]] states the determinism
    * contract). Level 6 is zlib's (and CPython's) default. */
  def zlib_len(text: Column, level: Int = 6): Column =
    toCol(ZlibLen(col2expr(text), level))

  /** HTTP status code of a WARC response block's envelope (int; NULL
    * when the block carries no envelope) — the admission signal a real
    * pipeline filters on first ([[org.apache.spark.sql.graft
    * .HttpStatus]] states the envelope rules). */
  def http_status(block: Column): Column =
    toCol(org.apache.spark.sql.graft.HttpStatus(col2expr(block)))

  /** First occurrence of HTTP header `name` (case-insensitive) in a
    * WARC response block's envelope, trimmed; NULL when envelope or
    * header is absent ([[org.apache.spark.sql.graft.HttpHeader]]). */
  def http_header(block: Column, name: String): Column =
    toCol(org.apache.spark.sql.graft.HttpHeader(col2expr(block), name))

  /** robots.txt rule list for `agent` (REP, RFC 9309) as a flag-prefixed
    * `array<string>` — [[org.apache.spark.sql.graft.RobotsRules]] states
    * the encoding, [[graft.core.RobotsTxt]] the implemented subset. */
  def robots_rules(body: Column, agent: String = "*"): Column =
    toCol(org.apache.spark.sql.graft.RobotsRules(col2expr(body), agent))

  /** REP verdict for one path-and-query target against a
    * [[robots_rules]] list: longest matching pattern wins, Allow wins
    * ties, no match means allowed. */
  def robots_disallowed(target: Column, rules: Column): Column =
    toCol(org.apache.spark.sql.graft.RobotsDisallowed(
      col2expr(target), col2expr(rules)))

  /** Levenshtein edit distance over Unicode CODE POINTS — the
    * record-linkage verifier unit (Spark's builtin counts UTF-16 chars,
    * DuckDB's counts bytes; both inflate non-ASCII distances). */
  def levenshtein_cp(a: Column, b: Column): Column =
    toCol(org.apache.spark.sql.graft.LevenshteinCp(col2expr(a), col2expr(b)))

  /** Integer-exact box-filter image downscale over the decoded raster
    * ([[graft.core.ImageHash.resizeBox]]): struct(width, height, out_w,
    * out_h, pixels); NULL for undecodable payloads. */
  def image_resize(bytes: Column, maxDim: Int): Column =
    toCol(org.apache.spark.sql.graft.ImageResizeBox(col2expr(bytes), maxDim))

  /** 64-bit perceptual audio fingerprint over the decoded PCM
    * ([[graft.core.AudioFingerprint]]); NULL for undecodable or
    * shorter-than-grid payloads. */
  def audio_fp(bytes: Column): Column =
    toCol(org.apache.spark.sql.graft.AudioFp64(col2expr(bytes)))

  /** Hamming distance between two 64-bit hashes. */
  def hamming_dist(a: Column, b: Column): Column =
    toCol(HammingDist(col2expr(a), col2expr(b)))

  /** Sorted distinct u32 FxHash shingle set of the text's w-code-point
    * windows — the set lsh_min/lsh_jaccard operate on, as a column. */
  def shingle_hashes(text: Column, ngramWidth: Int): Column =
    toCol(ShingleHashes(col2expr(text), col2expr(lit(ngramWidth.toLong))))

  /** Mergeable HyperLogLog distinct-count aggregate (2^p registers,
    * raw estimate — [[graft.core.HyperLogLog]] for the pinned spec). */
  def hll_distinct(value: Column, p: Int): Column =
    toCol(HllDistinct(col2expr(value), col2expr(lit(p.toLong))).toAggregateExpression())

  /** Mergeable Bloom-filter aggregate: 2^log2m bits, k probes
    * ([[graft.core.Sketches]] for the pinned spec and wire format). */
  def bloom_build(value: Column, log2m: Int, k: Int): Column =
    toCol(BloomBuild(col2expr(value), col2expr(lit(log2m.toLong)),
      col2expr(lit(k.toLong))).toAggregateExpression())

  /** Probe a [[bloom_build]] filter: false is a guaranteed non-member. */
  def bloom_contains(bloom: Column, value: Column): Column =
    toCol(BloomContains(col2expr(bloom), col2expr(value)))

  /** Mergeable Count-Min sketch aggregate: d rows × 2^log2w counters. */
  def cms_build(value: Column, d: Int, log2w: Int): Column =
    toCol(CmsBuild(col2expr(value), col2expr(lit(d.toLong)),
      col2expr(lit(log2w.toLong))).toAggregateExpression())

  /** Estimated frequency of `value` in a [[cms_build]] sketch (≥ truth). */
  def cms_estimate(cms: Column, value: Column): Column =
    toCol(CmsEstimate(col2expr(cms), col2expr(value)))

  /** HyperLogLog sketch STATE (binary) — persist per-partition/day sketches,
    * roll them up later with [[sketch_merge]] + [[hll_estimate]]. */
  def hll_sketch(value: Column, p: Int): Column =
    toCol(HllSketch(col2expr(value), col2expr(lit(p.toLong))).toAggregateExpression())

  /** Re-aggregate persisted sketch states (HLL/Bloom/CMS — dispatched from
    * the wire header). */
  def sketch_merge(sketch: Column): Column =
    toCol(SketchMerge(col2expr(sketch)).toAggregateExpression())

  /** Distinct-count estimate from a persisted [[hll_sketch]] state. */
  def hll_estimate(sketch: Column): Column =
    toCol(HllEstimate(col2expr(sketch)))

  /** Mergeable HDR-style quantile histogram over non-negative longs
    * (relative error ≤ 2^-b). */
  def hist_sketch(value: Column, b: Int): Column =
    toCol(HistSketch(col2expr(value), col2expr(lit(b.toLong))).toAggregateExpression())

  /** Nearest-rank quantile from a [[hist_sketch]] state. */
  def hist_quantile(sketch: Column, q: Double): Column =
    toCol(HistQuantile(col2expr(sketch), col2expr(lit(q))))

  /** Engine-pinned natural log on [1, ∞) — deterministic across engines. */
  def ln_pinned(x: Column): Column = toCol(LnPinned(col2expr(x)))

  /** 64-bit random-hyperplane cosine sketch (sign LSH). */
  def cosine_sketch64(vec: Column, nbits: Int, seed: Long): Column =
    toCol(CosineSketch64(col2expr(vec), nbits, seed))

  /** Byte-level BPE token count under a caller-supplied merge list (the
    * public GPT-2-family algorithm; no model file is bundled — learned
    * merges are data). See [[org.apache.spark.sql.graft.BpeCount]]. */
  def bpe_count(text: Column, merges: Seq[(String, String)]): Column =
    toCol(BpeCount(col2expr(text), BpeRanks(merges)))

  /** As above with a pre-compiled rank table — the shape a TRAINED
    * vocabulary arrives in ([[graft.api.BpeTrain.trainedRanks]]; byte
    * tokens must not re-enter the UTF-8 compile path). */
  def bpe_count(text: Column, ranks: BpeRanks): Column =
    toCol(BpeCount(col2expr(text), ranks))

  /** The BPE token sequence itself (array<string>, latin-1-rendered byte
    * tokens; `size(bpe_tokens) == bpe_count` by construction). The token
    * stream behind [[graft.api.Tokenizers.bpe]]. See
    * [[org.apache.spark.sql.graft.BpeTokens]]. */
  def bpe_tokens(text: Column, merges: Seq[(String, String)]): Column =
    toCol(BpeTokens(col2expr(text), BpeRanks(merges)))

  /** Byte-level detokenizing span cut under the same merge list: drop the
    * flagged flat-stream BPE token indices and rebuild the text from the
    * kept tokens' BYTES (within-word concat, single space between
    * surviving words). See [[org.apache.spark.sql.graft.BpeCutSpans]]. */
  def bpe_cut(text: Column, spans: Column, merges: Seq[(String, String)]): Column =
    toCol(org.apache.spark.sql.graft.BpeCutSpans(
      col2expr(text), col2expr(spans), BpeRanks(merges)))

  /** Layout-preserving span cut for `asciiWords`-identity spans: delete
    * each span's character range (first flagged token's first byte through
    * last flagged token's last byte, separators inside the span included);
    * everything outside survives byte-identical — a document with no spans
    * round-trips bit-identical. See
    * [[org.apache.spark.sql.graft.WordCutSpans]]. */
  def word_cut(text: Column, spans: Column): Column =
    toCol(org.apache.spark.sql.graft.WordCutSpans(col2expr(text), col2expr(spans)))

  /** Unicode normalization (NFC default; NFD/NFKC/NFKD) — the
    * canonicalization step before any text-identity operator (hashing,
    * shingling, exact dedup): NFC and NFD spellings of the same text
    * share no bytes. See [[org.apache.spark.sql.graft.UnicodeNorm]]. */
  def unicode_norm(text: Column, form: String = "NFC"): Column =
    toCol(org.apache.spark.sql.graft.UnicodeNorm(col2expr(text), form))

  /** Fold a host to its ASCII (IDN/punycode) identity: percent-decode,
    * lowercase + NFC, `xn--`-encode non-ASCII labels (RFC 3492). See
    * [[org.apache.spark.sql.graft.IdnAsciiHost]]. */
  def idn_ascii_host(host: Column): Column =
    toCol(org.apache.spark.sql.graft.IdnAsciiHost(col2expr(host)))

  /** Per-group top-k selection as a mergeable bounded-heap aggregate —
    * the scale-shape replacement for `row_number() OVER (...) <= k`
    * (see [[org.apache.spark.sql.graft.TopKByScore]]: k entries per
    * (group, task) cross the shuffle instead of every row). Returns
    * `array<struct<score double, id bigint>>` in (score DESC, id ASC)
    * order. */
  def topk_by(score: Column, id: Column, k: Int): Column =
    toCol(TopKByScore(col2expr(score), col2expr(id),
      col2expr(lit(k.toLong))).toAggregateExpression())
}
