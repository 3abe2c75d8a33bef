package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-domain curation — the RefinedWeb/Gopher-style stage a crawl
  * pipeline runs BEFORE anything content-based: URL-host extraction,
  * per-domain quotas (no single host may dominate the corpus), and
  * URL-level exact dedup (the same page fetched twice is the cheapest
  * duplicate to kill — no text ever needs to be compared).
  *
  * Everything here is a thin composition over codegen'd built-ins
  * (`parse_url`, `xxhash64` via [[Sampling.hashScore]], the
  * [[graft.functions.topk_by]] bounded-heap aggregate) — no UDFs, no
  * text shuffles: every shuffle in this file carries hosts, keys and
  * ids only. */
object Domains {

  /** Normalized host of a URL: `try_parse_url(url, 'HOST')` (which
    * excludes any `:port`), lowercased, one leading `www.` stripped —
    * the grouping key crawl pipelines quota and report on.
    * Null/unparseable URLs yield null — `try_parse_url`, not
    * `parse_url`, because under ANSI mode (Spark 4's default) the plain
    * form THROWS on a malformed URL, and a 100 TB crawl is guaranteed
    * to contain some. */
  def urlHost(url: Column): Column =
    regexp_replace(lower(try_parse_url(url, lit("HOST"))), "^www\\.", "")

  /** RFC 3986 §6.2.2.2 percent-encoding normalization, builtins only:
    * percent-triplets of UNRESERVED characters (`A-Z a-z 0-9 - . _ ~`)
    * decode (`%7Efoo` = `~foo`, the classic homepage-URL twin), every
    * other triplet keeps its encoding but uppercases its hex (`%2f` =
    * `%2F` — RFC 3986 §6.2.2.1), and malformed `%`s (not followed by two
    * hex digits) pass through untouched. Decoding only the unreserved
    * set is what makes this SAFE: a reserved byte like `%26` (`&`) or
    * `%2F` (`/`) stays encoded, so no decode can ever create a new
    * path-segment or query-parameter boundary.
    *
    * Shape: one split on `%` + one `transform` over the pieces — all
    * codegen'd builtins, no UDF; each piece after the first lost its
    * leading `%`, so a piece starting with two hex digits IS a triplet
    * (`conv` hex→code, `chr` code→char, unreserved test by char class). */
  private def pctNormalize(s: Column): Column = {
    val parts = split(s, "%", -1)
    val fixed = transform(slice(parts, lit(2), size(parts) - 1), t => {
      val hex = upper(substring(t, 1, 2))
      val rest = substring(t, 3, Int.MaxValue)
      val ch = call_function("chr", conv(hex, 16, 10).cast("long"))
      when(!t.rlike("^[0-9A-Fa-f]{2}"), concat(lit("%"), t))
        .when(ch.rlike("^[A-Za-z0-9._~-]$"), concat(ch, rest))
        .otherwise(concat(lit("%"), hex, rest))
    })
    concat(element_at(parts, 1), array_join(fixed, ""))
  }

  /** The tracking-parameter keys every web-scale dedup recipe strips
    * (RefinedWeb/FineWeb-class canonicalization): analytics and
    * click-id params that vary per referral while the fetched page does
    * not. Matching is case-insensitive; an entry ENDING IN `_` is a key
    * PREFIX (`utm_` catches `utm_source`, `utm_campaign`, …), any other
    * entry matches the key EXACTLY — `gclid` strips `gclid=` but not an
    * unrelated `gclid2=` or `fbclid_src=`, the FineWeb rule. Deliberately
    * conservative — no bare `ref`-style entries, which collide with
    * real application params. */
  val TrackingParamPrefixes: Seq[String] =
    Seq("utm_", "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "igshid")

  /** Canonical URL identity for exact dedup: normalized host + path with
    * trailing slashes stripped + `?query` if present, both path and
    * query [[pctNormalize]]d. Scheme and fragment drop out (neither
    * changes the fetched document); path CASE is preserved (paths are
    * case-sensitive, hosts are not). With `sortQuery = true` the query
    * parameters are additionally sorted bytewise (`?b=2&a=1` =
    * `?a=1&b=2` — the same page twice under most servers). Opt-in
    * because it is HEURISTIC: a rare endpoint can be order-sensitive,
    * and sorting also reorders duplicate keys (`?a=1&a=2`).
    * `dropParamPrefixes` (e.g. [[TrackingParamPrefixes]]) removes every
    * query parameter whose KEY matches a listed entry, case-
    * insensitively, BEFORE the sort — entries ending in `_` match as
    * prefixes, all others as the exact key ([[TrackingParamPrefixes]]'
    * contract) — `?id=3&utm_source=feed` = `?id=3`, the same page under
    * every referral; a query stripped to nothing drops its `?`
    * entirely. `idnHost = true` additionally folds the HOST to its
    * ASCII IDN identity ([[graft.functions.idn_ascii_host]]):
    * `münchen.de`, `M%C3%BCnchen.de` and `xn--mnchen-3ya.de` become one
    * key. Opt-in like `sortQuery` (it rewrites the host string, and
    * ASCII-only corpora shouldn't pay the per-row fold). Unparseable
    * URLs (null host) yield null. */
  def normalizedUrl(url: Column, sortQuery: Boolean = false,
                    dropParamPrefixes: Seq[String] = Nil,
                    idnHost: Boolean = false): Column = {
    val path = pctNormalize(regexp_replace(
      coalesce(try_parse_url(url, lit("PATH")), lit("")), "/+$", ""))
    val q0 = pctNormalize(coalesce(try_parse_url(url, lit("QUERY")), lit("")))
    // one split; filter and sort stay in array form; one join (the
    // default path skips the round-trip entirely)
    val query =
      if (dropParamPrefixes.isEmpty && !sortQuery) q0
      else {
        val parts = split(q0, "&", -1)
        val kept =
          if (dropParamPrefixes.isEmpty) parts
          else filter(parts, p => {
            val key = lower(element_at(split(p, "=", 2), 1))
            // trailing '_' = prefix rule; anything else = exact key —
            // 'gclid' must not strip an unrelated 'gclid2'
            !dropParamPrefixes
              .map(_.toLowerCase)
              .map(e => if (e.endsWith("_")) key.startsWith(lit(e))
                        else key === lit(e))
              .reduce(_ || _)
          })
        array_join(if (sortQuery) array_sort(kept) else kept, "&")
      }
    val host =
      if (idnHost) graft.functions.idn_ascii_host(rawHost(url))
      else urlHost(url)
    concat(host, path,
      when(query === "", lit("")).otherwise(concat(lit("?"), query)))
  }

  /** Tolerant host extraction for the IDN path: `try_parse_url(...,
    * 'HOST')` rides Java's URI parser, which returns NULL for exactly
    * the hosts IDN folding exists for (raw unicode, percent-encoded
    * bytes) — while PATH/QUERY extraction still succeeds. One regexp
    * chain instead: authority after `scheme://`, userinfo and `:port`
    * stripped, lowercased, one leading `www.` stripped; empty → null
    * (the [[urlHost]] null contract). */
  private def rawHost(url: Column): Column = {
    val auth = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val host = regexp_replace(regexp_replace(auth, "^.*@", ""),
      ":[0-9]*$", "")
    nullif(regexp_replace(lower(host), "^www\\.", ""), lit(""))
  }

  /** Docs per normalized host, the pre-flight census a quota decision
    * reads (and the skew report: one host holding 40% of a crawl is the
    * expected shape, not an anomaly). One map-side-combined aggregate. */
  def domainCounts(df: DataFrame, urlCol: String): DataFrame =
    df.groupBy(urlHost(col(urlCol)).as("host"))
      .agg(count(lit(1)).as("docs"))

  /** Keep at most `maxPerDomain` documents per normalized host, selected
    * deterministically by seeded hash score (smallest
    * [[Sampling.hashScore]] wins, ties by id ascending) — reproducible
    * across runs, layouts and engines, like every sampler here.
    *
    * Scale shape: per-domain selection is the
    * [[graft.functions.topk_by]] bounded-heap AGGREGATE, not a
    * `row_number()` window — at most `maxPerDomain` (score, id) entries
    * per (host, task) cross the shuffle, and a mega-host (the 40%-host
    * above) costs its share of heap merges instead of one task sorting
    * its every row. The kept-id set then left-semi-joins the corpus
    * (ids only); document text never shuffles. `idCol` must be
    * integral (the heap carries ids as longs). */
  def domainQuotaSample(df: DataFrame, urlCol: String, idCol: String,
                        maxPerDomain: Int, seed: Long): DataFrame = {
    require(maxPerDomain > 0,
      s"maxPerDomain must be positive, got $maxPerDomain")
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case t => throw new IllegalArgumentException(
        s"domainQuotaSample requires an integral id column; '$idCol' is $t")
    }
    val kept = df
      .groupBy(urlHost(col(urlCol)).as("__host"))
      .agg(graft.functions.topk_by(
        -Sampling.hashScore(col(idCol), seed),
        col(idCol).cast("long"), maxPerDomain).as("__top"))
      .select(explode(col("__top.id")).as(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** Suffix-aware host blocklist — the RefinedWeb/Gopher step that runs
    * before any content is even read: drop every document whose
    * normalized host equals a blocked domain OR is a subdomain of one
    * (blocking `example.com` also blocks `cdn.example.com`; matches are
    * on dot boundaries only, so `notexample.com` survives). A blocklist
    * containing a bare TLD blocks that whole TLD — that is the caller's
    * list meaning, not a bug.
    *
    * Scale shape: each host explodes into its dot-suffix chain
    * (`a.b.c` → `a.b.c`, `b.c`, `c` — ids+suffixes only, ~4 short rows
    * per doc), which equi-joins the broadcast blocklist; matched ids
    * anti-join the corpus. The equi-join form is deliberate: the
    * no-explode alternative is a broadcast NESTED-LOOP `ends_with` join —
    * O(corpus × |blocklist|) comparisons, hopeless at a real blocklist's
    * 10⁵+ entries, while the suffix chain is O(corpus × host depth)
    * hashed probes regardless of list size. `blocked` must have a
    * `domain` column (matched case-insensitively). */
  def filterBlockedHosts(df: DataFrame, urlCol: String, idCol: String,
                         blocked: DataFrame): DataFrame =
    df.join(hostSuffixHits(df, urlCol, idCol, blocked),
      Seq(idCol), "left_anti")

  /** The shared suffix-chain matcher behind [[filterBlockedHosts]] and
    * [[keepAllowedHosts]]: ids whose normalized host equals a listed
    * domain or is a subdomain of one (dot boundaries only). One place
    * owns the chain semantics so the two duals can never diverge. */
  private def hostSuffixHits(df: DataFrame, urlCol: String, idCol: String,
                             domains: DataFrame): DataFrame = {
    val parts = split(urlHost(col(urlCol)), "\\.")
    val suffixes = transform(
      sequence(lit(0), size(parts) - 1),
      i => array_join(slice(parts, i + 1, size(parts) - i), "."))
    df.select(col(idCol), explode(suffixes).as("domain"))
      .join(broadcast(domains.select(lower(col("domain")).as("domain"))),
        Seq("domain"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** The allowlist dual of [[filterBlockedHosts]] — the curated-domain
    * corpus shape (an OpenWebMath-style recipe keeps ONLY listed
    * domains): keep every document whose normalized host equals an
    * allowed domain or is a subdomain of one, same dot-boundary
    * suffix-chain semantics, same broadcast-equi-join scale shape.
    * Null/unparseable hosts DROP — the opposite of the blocklist's
    * null contract, and forced by the semantics: an unlisted host is
    * excluded, and no host is no listing. `allowed` must have a
    * `domain` column (matched case-insensitively). */
  def keepAllowedHosts(df: DataFrame, urlCol: String, idCol: String,
                       allowed: DataFrame): DataFrame =
    df.join(hostSuffixHits(df, urlCol, idCol, allowed),
      Seq(idCol), "left_semi")

  /** Per-domain TOKEN budget (the mass-based sibling of
    * [[domainQuotaSample]] — crawl quotas are usually stated in
    * bytes/tokens, not documents): within each normalized host, walk the
    * docs in seeded-hash order (ties by id) and keep every doc whose
    * INCLUSIVE running `massCol` total still fits `budgetPerDomain` —
    * docs kept or dropped whole, the [[Packing.selectToTokenBudget]]
    * rule applied per host.
    *
    * Scale shape: one running-sum window PARTITIONED BY host — parallel
    * across hosts, running aggregation (no whole-group buffering), and
    * the global single-reducer trap doesn't apply because the partition
    * key is the host. The residual skew is a mega-host sorting on one
    * task; if one host is a large fraction of the corpus, cap it by DOC
    * count first ([[domainQuotaSample]], heap-based, skew-immune) and
    * budget the remainder. Null hosts drop (no place in any quota). */
  def domainTokenQuota(df: DataFrame, urlCol: String, idCol: String,
                       massCol: Column, budgetPerDomain: Long,
                       seed: Long): DataFrame = {
    require(budgetPerDomain >= 0,
      s"budgetPerDomain must be >= 0, got $budgetPerDomain")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__host"))
      .orderBy(col("__score").asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__host", urlHost(col(urlCol)))
      .filter(col("__host").isNotNull)
      .withColumn("__score", Sampling.hashScore(col(idCol), seed))
      .withColumn("__run", sum(massCol.cast("long")).over(w))
      .filter(col("__run") <= budgetPerDomain)
      .drop("__host", "__score", "__run")
  }

  /** URL-level exact dedup: keep the smallest-id document per
    * [[normalizedUrl]] key (keep-earliest, the [[Dedup.exact]]
    * convention). One ids+keys aggregate (map-side-combined `min`) and
    * one semi-join — the document body is never read by the decision,
    * which is the whole point of deduplicating on URL identity first.
    * `sortQuery` passes through to [[normalizedUrl]] (opt-in
    * query-parameter-order collapsing).
    *
    * Null-URL contract: documents whose URL does not parse (null host ⇒
    * null key) are ALL KEPT — they have no URL identity, so no dedup
    * decision applies to them (like [[filterBlockedHosts]], which keeps
    * null hosts; unlike [[domainTokenQuota]], which documents dropping
    * them). Grouping them would silently collapse every unparseable-URL
    * document into one survivor — Spark groups all null keys together.
    * `idCol` must be non-null: the id is the semi-join identity (null
    * never equi-matches null), so null-id rows drop regardless of URL —
    * assign ids first ([[Packing.assignRowIds]]), the convention every
    * id-keyed operator in this library shares. */
  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String,
                 sortQuery: Boolean = false,
                 dropParamPrefixes: Seq[String] = Nil,
                 idnHost: Boolean = false): DataFrame = {
    val keyed = df.select(
      normalizedUrl(col(urlCol), sortQuery, dropParamPrefixes, idnHost)
        .as("__ukey"),
      col(idCol))
    // the null-key ids join the keep SET (ids-only), not the output via
    // a second full-width scan of df — one semi-join probes the corpus
    // exactly once regardless of the null-URL contract
    val keep = keyed
      .filter(col("__ukey").isNotNull)
      .groupBy("__ukey").agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
      .unionByName(keyed.filter(col("__ukey").isNull).select(col(idCol)))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Hosts whose doc count exceeds `hotHostDocs` AND whose count also
    * exceeds the doc-count cap the budget implies — the census behind
    * [[domainTokenQuotaAdaptive]]'s routing. Bounded driver set by
    * construction: each qualifying host holds more than `hotHostDocs`
    * docs, so there are at most `corpus / hotHostDocs` of them. */
  private[graft] def hotHosts(df: DataFrame, urlCol: String,
                              budgetDocsCap: Long,
                              hotHostDocs: Long): Array[String] =
    domainCounts(df, urlCol)
      .filter(col("host").isNotNull && col("docs") > hotHostDocs &&
        col("docs") > budgetDocsCap)
      .select("host").collect().map(_.getString(0))

  /** [[domainTokenQuota]] with the mega-host skew guard applied
    * automatically — the third instance of this codebase's
    * adaptive-default pattern (`Dedup.dupSpansAdaptive`,
    * `BandedLsh.nearDupPairsAdaptive`): run the [[domainCounts]] census,
    * and pre-cap every host above `hotHostDocs` docs to its
    * `budgetPerDomain` first docs in the SAME (seeded-hash score, id)
    * walk order via the bounded-heap [[domainQuotaSample]] path before
    * the running-sum window sees it. The residual skew documented on
    * [[domainTokenQuota]] (one mega-host sorting on one task) becomes a
    * heap-merge, skew-immune by construction.
    *
    * Bit-equal to plain [[domainTokenQuota]] whenever every doc's
    * `massCol` (cast to long) is ≥ 1 — then the inclusive-run budget
    * keeps at most `budgetPerDomain` docs per host, all of which sit in
    * the first `budgetPerDomain` positions of the walk, exactly the
    * pre-capped set. Zero-mass docs void that bound (a 0-token doc
    * past the cap would be kept by the plain walk but cut by the cap);
    * a token/char mass is ≥ 1 for any non-empty doc — filter empties
    * first if the corpus has them. Hosts with no more docs than the
    * budget could keep gain nothing from capping and stay on the plain
    * window path, as does everything when the census finds no hot host
    * (then the returned plan IS the plain [[domainTokenQuota]] plan). */
  /** Above this census size the hot-host set routes through a broadcast
    * join instead of a driver-inlined `isin` literal list — a plan with
    * a 10⁵-entry IN-list is itself a scale bug (analysis/codegen blowup,
    * and the list is serialized into every task). 1000 short host
    * strings is well under both limits. */
  private val MaxInlineHotHosts = 1000

  def domainTokenQuotaAdaptive(df: DataFrame, urlCol: String, idCol: String,
                               massCol: Column, budgetPerDomain: Long,
                               seed: Long,
                               hotHostDocs: Long = 4000000L): DataFrame = {
    require(budgetPerDomain >= 0,
      s"budgetPerDomain must be >= 0, got $budgetPerDomain")
    require(hotHostDocs > 0,
      s"hotHostDocs must be positive, got $hotHostDocs (the census " +
        "driver set is bounded by corpus/hotHostDocs — a non-positive " +
        "bound would collect every host)")
    val hot: Array[String] =
      if (budgetPerDomain >= Int.MaxValue) Array.empty // cap heap un-sizable
      else if (budgetPerDomain == 0) Array.empty // plain path keeps nothing;
      // the heap pre-cap can't express k = 0 (domainQuotaSample requires
      // a positive quota), and there is nothing to save anyway
      else hotHosts(df, urlCol, budgetPerDomain, hotHostDocs)
    if (hot.isEmpty)
      domainTokenQuota(df, urlCol, idCol, massCol, budgetPerDomain, seed)
    else {
      // split the corpus into hot-host / cold-host halves; small census
      // -> literal IN-list (one codegen'd predicate, no join); large
      // census (caller passed a small hotHostDocs) -> broadcast
      // semi/anti joins, so the plan never embeds an unbounded literal
      val (hotPart, coldPart) =
        if (hot.length <= MaxInlineHotHosts) {
          val isHot = coalesce(
            urlHost(col(urlCol)).isin(hot.toIndexedSeq: _*), lit(false))
          (df.filter(isHot), df.filter(!isHot))
        } else {
          import df.sparkSession.implicits._
          val hotDf = broadcast(hot.toIndexedSeq.toDF("__hothost"))
          val cond = urlHost(col(urlCol)) === col("__hothost")
          (df.join(hotDf, cond, "left_semi"),
            df.join(hotDf, cond, "left_anti"))
        }
      val capped = domainQuotaSample(hotPart, urlCol, idCol,
        budgetPerDomain.toInt, seed)
      domainTokenQuota(coldPart, urlCol, idCol, massCol,
          budgetPerDomain, seed)
        .unionByName(domainTokenQuota(capped, urlCol, idCol, massCol,
          budgetPerDomain, seed))
    }
  }

  /** Census-driven tracking-parameter discovery — the adaptive-default
    * companion of the static [[TrackingParamPrefixes]] list: mine the
    * corpus itself for query-parameter keys whose REMOVAL is never
    * observed to change content identity. A `sessionid`-style
    * site-local param no published list carries is exactly what this
    * finds.
    *
    * Rule, per observed key `k`: strip `k` from every URL carrying it
    * (the [[normalizedUrl]] canonical form, query sorted) and group by
    * the stripped URL together with the docs already AT that URL
    * without `k`. `k` is `safe` iff every such group holds exactly ONE
    * distinct content identity (`xxhash64(textCol)`) — URLs differing
    * only in `k` always served the same page. A key like `?page=` that
    * ever distinguishes content splits a group and is rejected.
    *
    * Output report, one row per observed key: `(param, n_docs,
    * n_groups, safe)` with `safe` additionally requiring `n_docs >= 2`
    * (a param seen once passes vacuously — the floor is the confidence
    * bar). Feed `safe` params straight to [[dedupByUrl]]'s
    * `dropParamPrefixes` (exact-name matching). Epistemics, stated
    * plainly: `safe` means NEVER OBSERVED to split content in THIS
    * corpus — a constant-valued real param (every URL carries
    * `lang=en`) is honestly reported safe because stripping it is a
    * no-op here; the census is evidence-bounded, not semantic.
    *
    * Scale shape: one explode to (key, stripped-URL, content-hash)
    * rows — bounded by Σ per-doc distinct keys, linear — plus the
    * no-`k` holders attached by one equi-join of the distinct (key,
    * base) set against the (ukey, hash) projection; two hash
    * aggregations; ids and short strings only, document text never
    * shuffles (the hash is computed at the scan). */
  def discoverTrackingParams(df: DataFrame, urlCol: String, textCol: String): DataFrame = {
    val ukey = normalizedUrl(col(urlCol), sortQuery = true)
    val h = xxhash64(col(textCol))
    val base = df
      .select(ukey.as("__ukey"), h.as("__h"))
      .filter(col("__ukey").isNotNull)
    val pathPart = element_at(split(col("__ukey"), "\\?", 2), 1)
    // try_element_at, not element_at: a query-less canonical URL splits
    // to ONE element and plain element_at(…, 2) THROWS under ANSI mode
    // (Spark 4's default) — the try_parse_url lesson at the array level
    val qPart = try_element_at(split(col("__ukey"), "\\?", 2), lit(2))
    val parts = filter(split(coalesce(qPart, lit("")), "&", -1),
      p => p =!= "")
    val keys = array_distinct(transform(parts,
      p => element_at(split(p, "=", 2), 1)))
    val withK = base
      .select(col("__h"), pathPart.as("__path"), parts.as("__parts"),
        explode(keys).as("param"))
      .withColumn("__kept", filter(col("__parts"),
        p => element_at(split(p, "=", 2), 1) =!= col("param")))
      .select(col("param"), col("__h"),
        concat(col("__path"),
          when(size(col("__kept")) > 0,
            concat(lit("?"), array_join(col("__kept"), "&")))
            .otherwise(lit(""))).as("__base"))
    // docs already sitting AT a stripped URL without the param join the
    // group — stripping merges them, so their content counts too
    val plainHolders = withK.select("param", "__base").distinct()
      .join(base.select(col("__ukey").as("__base"), col("__h")), Seq("__base"))
      .select("param", "__h", "__base")
    val groups = withK.unionByName(plainHolders)
      .groupBy("param", "__base")
      .agg(countDistinct(col("__h")).as("__nh"))
      .groupBy("param")
      .agg(count(lit(1)).as("n_groups"), max(col("__nh")).as("__worst"))
    val counts = withK.groupBy("param").agg(count(lit(1)).as("n_docs"))
    counts.join(groups, Seq("param"))
      .select(col("param"), col("n_docs"), col("n_groups"),
        (col("__worst") === 1L && col("n_docs") >= 2L).as("safe"))
  }

  /** Path-level URL filtering — the companion of [[filterBlockedHosts]]
    * one level down: RefinedWeb-style pipelines filter URL PATTERNS as
    * well as hosts (media/static assets by extension, whole site
    * sections by path prefix, machine pages by query parameter). `rules`
    * has columns `kind` ∈ `{'prefix','ext','param'}` and `pattern`:
    *
    *   - `prefix` rules match at `/` segment boundaries: `/static`
    *     blocks `/static` and `/static/img.png` but NOT `/staticfiles`
    *     (the host-blocklist dot-boundary rule, applied to paths); a
    *     trailing `/` on the rule is ignored;
    *   - `ext` rules match the final `.ext` of the last path segment
    *     (leading dot on the rule optional);
    *   - `param` rules match QUERY parameters (the MediaWiki-class
    *     `?action=edit` filters): a bare `key` matches any parameter
    *     with that key regardless of value; `key=value` matches the
    *     exact pair. A leading `?` on the rule is ignored.
    *
    * Matching is case-insensitive on both sides (paths and params are
    * compared lowercased — crawl filters want `.PNG` = `.png` and
    * `Action=Edit` = `action=edit`; use [[dedupByUrl]] for case-exact
    * identity). Unparseable URLs (null path) are kept, like
    * [[filterBlockedHosts]]; a URL with no query never matches a param
    * rule.
    *
    * Scale shape, same as the host blocklist: each path explodes into
    * its segment-boundary prefix chain (ids + short prefixes only, one
    * row per segment) and equi-joins the broadcast prefix rules;
    * extensions are one `regexp_extract` equi-joined to the broadcast
    * ext rules; each query parameter explodes into its two match forms
    * (`key`, `key=value`) and equi-joins the broadcast param rules.
    * All are hashed probes, O(corpus × path depth + corpus × params)
    * regardless of rule-list size — never the broadcast nested-loop
    * `startsWith`/`LIKE` join a naive form would plan, O(corpus ×
    * |rules|) at a real list's 10⁵ entries. */
  def filterUrlPaths(df: DataFrame, urlCol: String, idCol: String,
                     rules: DataFrame): DataFrame = {
    // a rule that can never match is indistinguishable from a clean
    // corpus — rule lists are tiny and driver-resident, so validate
    // loudly up front: unknown kinds, a prefix that normalizes to ""
    // ("/" is not a prefix rule, it is "drop everything" — say so with
    // a filter), and ext patterns the `\.([a-z0-9]+)$` extraction can
    // never produce ("tar.gz", "c++")
    val ruleRows = rules.select("kind", "pattern").collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(!ruleRows.exists(r => r._1 == null || r._2 == null),
      "filterUrlPaths rules must have non-null kind and pattern")
    val badKinds = ruleRows.map(_._1).distinct
      .filterNot(Set("prefix", "ext", "param"))
    require(badKinds.isEmpty,
      s"filterUrlPaths rules must have kind 'prefix', 'ext' or 'param'; " +
        s"got: ${badKinds.mkString(", ")}")
    // every generated segment prefix starts with '/' (paths are
    // root-anchored), so a rule without the leading slash — or one that
    // normalizes to '' — could never match anything
    val badPrefixes = ruleRows.collect { case ("prefix", p)
      if {
        val n = p.toLowerCase.replaceAll("/+$", "")
        n.isEmpty || !n.startsWith("/")
      } => p }
    require(badPrefixes.isEmpty,
      s"prefix rule(s) ${badPrefixes.mkString(", ")} can never match a " +
        "segment prefix: rules must start with '/' and not normalize to " +
        "'' (a whole-site drop is a host blocklist entry, not a path rule)")
    val badExts = ruleRows.collect { case ("ext", e)
      if !e.toLowerCase.replaceAll("^\\.", "").matches("[a-z0-9]+") => e }
    require(badExts.isEmpty,
      s"ext rule(s) ${badExts.mkString(", ")} cannot match the final " +
        "'.ext' of a path segment ([a-z0-9]+ after one optional dot); " +
        "compound extensions like .tar.gz match on their last segment " +
        "('gz')")
    // a param rule with an '&', or an empty key, can never equal one
    // split query parameter's 'key' or 'key=value' form
    val badParams = ruleRows.collect { case ("param", p)
      if {
        val n = p.toLowerCase.replaceAll("^\\?", "")
        n.isEmpty || n.contains("&") || n.startsWith("=")
      } => p }
    require(badParams.isEmpty,
      s"param rule(s) ${badParams.mkString(", ")} can never match a " +
        "query parameter: rules are one 'key' or 'key=value' (no '&', " +
        "non-empty key; a leading '?' is ignored)")
    val path = lower(regexp_replace(
      coalesce(try_parse_url(col(urlCol), lit("PATH")), lit("")), "/+$", ""))
    // "/a/b/c" -> segs ["", "a", "b", "c"] -> "/a", "/a/b", "/a/b/c"
    val segs = split(path, "/", -1)
    val prefixes = when(size(segs) >= 2,
      transform(sequence(lit(2), size(segs)),
        i => array_join(slice(segs, lit(1), i), "/")))
      .otherwise(array().cast("array<string>"))
    val prefixRules = broadcast(rules.filter(col("kind") === "prefix")
      .select(regexp_replace(lower(col("pattern")), "/+$", "").as("p")))
    val extRules = broadcast(rules.filter(col("kind") === "ext")
      .select(regexp_replace(lower(col("pattern")), "^\\.", "").as("e")))
    val paramRules = broadcast(rules.filter(col("kind") === "param")
      .select(regexp_replace(lower(col("pattern")), "^\\?", "").as("f")))
    val prefixHit = df
      .select(col(idCol), explode(prefixes).as("p"))
      .join(prefixRules, Seq("p"), "left_semi")
    val extHit = df
      .select(col(idCol), regexp_extract(path, "\\.([a-z0-9]+)$", 1).as("e"))
      .filter(col("e") =!= "")
      .join(extRules, Seq("e"), "left_semi")
    // each query parameter contributes its two match forms — the bare
    // key and the full key=value pair — as short (id, form) rows; one
    // hashed equi-join covers both rule shapes
    val query = lower(coalesce(try_parse_url(col(urlCol), lit("QUERY")),
      lit("")))
    val paramForms = flatten(transform(
      filter(split(query, "&", -1), p => p =!= ""),
      p => array(element_at(split(p, "=", 2), 1), p)))
    val paramHit = df
      .select(col(idCol), explode(paramForms).as("f"))
      .join(paramRules, Seq("f"), "left_semi")
    val hit = prefixHit.select(col(idCol))
      .unionByName(extHit.select(col(idCol)))
      .unionByName(paramHit.select(col(idCol))).distinct()
    df.join(hit, Seq(idCol), "left_anti")
  }

  /** Site-level robots.txt opt-out (REP, RFC 9309) — the other half of
    * the compliant opt-out story next to the page-level
    * [[TextAnalysis.filterNoindex]] meta filter: drops pages whose
    * path-and-query the host's robots.txt disallows for the `*` group
    * (a generic pipeline crawls as no named agent).
    * `robots` carries one `(host, body)` row per robots.txt the tape
    * delivered (robots.txt responses are ordinary WARC records — slice
    * them off the same parse that feeds the page stages); hosts must be
    * keyed the same way as [[urlHost]] keys the pages (lowercased,
    * `www.`-stripped). Multiple robots rows for one host merge their
    * selected rule lists — RFC 9309 merges same-agent groups, and the
    * verdict (longest pattern wins, Allow wins ties —
    * [[graft.core.RobotsTxt]] states the full subset) is
    * order-independent, so the merge needs no ordering guarantee.
    *
    * Pages with no robots.txt on their host, unparseable URLs (null
    * host), and empty rule lists all KEEP — absence of an opt-out means
    * indexable, the [[filterBlockedHosts]] convention.
    *
    * Scale shape: bodies parse ONCE per robots row (a codegen'd
    * expression, not per page), collapse to a per-host rule array, and
    * equi-join the pages on host — the natural key; at web scale the
    * rule table is millions of small rows against billions of pages, so
    * AQE broadcasts it when it fits and shuffles on host when it does
    * not. The per-page verdict is one codegen'd pass over the host's
    * (small) rule array; page text never enters the exchange. */
  def filterRobotsTxt(df: DataFrame, urlCol: String, idCol: String,
                      robots: DataFrame): DataFrame = {
    // match Spark's RESOLUTION rule (case-insensitive unless
    // spark.sql.caseSensitive): a ('Host', 'Body') frame that col()
    // resolves fine must not be refused on exact case
    val exact = robots.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def has(c: String) = robots.columns.exists(n =>
      if (exact) n == c else n.equalsIgnoreCase(c))
    require(has("host") && has("body"),
      "robots must carry (host, body) columns — the per-host robots.txt " +
        "bodies as delivered on the tape")
    val scratch = Seq("__rbt_host", "__rbt_rules", "__rbt_target")
    scratch.foreach(c => require(!df.columns.exists(_.equalsIgnoreCase(c)),
      s"filterRobotsTxt: input must not carry a '$c' column"))
    val hostRules = robots
      .select(col("host").as("__rbt_host"),
        graft.functions.robots_rules(col("body"), "*").as("__r"))
      .groupBy("__rbt_host")
      .agg(flatten(collect_list(col("__r"))).as("__rbt_rules"))
    // REP matches path-and-query from the first octet; an empty path
    // normalizes to "/" (a URL with no path is the site root)
    val path0 = coalesce(try_parse_url(col(urlCol), lit("PATH")), lit(""))
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = try_parse_url(col(urlCol), lit("QUERY"))
    val target = concat(path,
      when(q.isNotNull && q =!= "", concat(lit("?"), q)).otherwise(lit("")))
    df.withColumn("__rbt_host", urlHost(col(urlCol)))
      .withColumn("__rbt_target", target)
      .join(hostRules, Seq("__rbt_host"), "left")
      .filter(!coalesce(
        graft.functions.robots_disallowed(col("__rbt_target"),
          col("__rbt_rules")),
        lit(false)))
      .drop(scratch: _*)
  }
}
