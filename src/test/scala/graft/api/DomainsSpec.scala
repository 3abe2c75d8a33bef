package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DomainsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("urlHost normalizes case and strips ONE leading www.") {
    val got = Seq(
      "https://WWW.Example.COM/a",
      "http://example.com/b",
      "https://www.www.example.com/c", // only the first www. strips
      "https://sub.example.com:8080/d" // parse_url HOST excludes the port
    ).toDF("url").select(Domains.urlHost($"url")).as[String].collect()
    assert(got.toSeq == Seq("example.com", "example.com",
      "www.example.com", "sub.example.com"))
  }

  test("normalizedUrl: scheme/fragment drop, trailing slash strips, query stays") {
    val got = Seq(
      "https://www.ex.com/p/1",
      "http://EX.com/p/1/",      // same identity as above
      "https://ex.com/p/1#frag", // fragment is not identity
      "https://ex.com/p/1?q=2",  // query IS identity
      "https://ex.com/p/1/?q=2#x"
    ).toDF("url").select(Domains.normalizedUrl($"url")).as[String].collect()
    assert(got(0) == got(1) && got(1) == got(2))
    assert(got(3) == "ex.com/p/1?q=2" && got(4) == got(3))
  }

  test("dedupByUrl keeps the smallest id per normalized URL") {
    val df = Seq(
      (1L, "https://ex.com/a"),
      (2L, "http://WWW.ex.com/a/"), // same identity as 1
      (3L, "https://ex.com/a?q=1"),
      (4L, "https://ex.com/b"),
      (5L, "https://ex.com/b#s5")   // same identity as 4
    ).toDF("doc_id", "url")
    val kept = Domains.dedupByUrl(df, "url", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("domainQuotaSample: deterministic per-host cut, quota binds, non-integral ids refuse") {
    val df = (0L until 300L).map { i =>
      (i, s"https://host${i % 3}.ex.com/p$i")
    }.toDF("doc_id", "url")
    val a = Domains.domainQuotaSample(df, "url", "doc_id", 10, seed = 5L)
      .select("doc_id").as[Long].collect().sorted
    val b = Domains.domainQuotaSample(df, "url", "doc_id", 10, seed = 5L)
      .select("doc_id").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq, "selection must be deterministic")
    assert(a.length == 30, s"quota 10 x 3 hosts, got ${a.length}")
    // per host exactly 10, and they are the 10 smallest (hashScore, id)
    val byHost = a.groupBy(_ % 3)
    assert(byHost.values.forall(_.length == 10))
    // independent re-derivation of the cut via the hashScore column itself
    val scored = df.select($"doc_id",
        Domains.urlHost($"url").as("h"),
        Sampling.hashScore($"doc_id", 5L).as("s"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(0)))
    val expect = scored.groupBy(_._1).values.flatMap(
      _.sortBy(x => (x._2, x._3)).take(10).map(_._3)).toArray.sorted
    assert(a.toSeq == expect.toSeq)
    // a different seed selects a different set (sanity that the seed lands)
    val c = Domains.domainQuotaSample(df, "url", "doc_id", 10, seed = 6L)
      .select("doc_id").as[Long].collect().sorted
    assert(c.toSeq != a.toSeq)
    val e = intercept[IllegalArgumentException] {
      Domains.domainQuotaSample(
        df.select(concat(lit("u"), $"doc_id").as("doc_id"), $"url"),
        "url", "doc_id", 10, seed = 5L)
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("filterBlockedHosts: dot-boundary suffix semantics, case-insensitive") {
    val df = Seq(
      (1L, "https://example.com/a"),        // exact match -> drop
      (2L, "https://cdn.example.com/b"),    // subdomain -> drop
      (3L, "https://notexample.com/c"),     // NOT a dot-suffix -> keep
      (4L, "https://www.EXAMPLE.com/d"),    // case + www-strip -> drop
      (5L, "https://other.org/e"),          // unrelated -> keep
      (6L, "https://deep.cdn.example.com/f") // any depth -> drop
    ).toDF("doc_id", "url")
    val blocked = Seq("Example.COM").toDF("domain")
    val kept = Domains.filterBlockedHosts(df, "url", "doc_id", blocked)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 5L))
    // a bare-TLD entry blocks the whole TLD (the list's meaning)
    val tld = Domains.filterBlockedHosts(df, "url", "doc_id",
        Seq("com").toDF("domain"))
      .select("doc_id").as[Long].collect().sorted
    assert(tld.toSeq == Seq(5L))
  }

  test("domainTokenQuota: per-host inclusive-run cut, whole docs, zero-mass docs still fit") {
    val df = Seq(
      (1L, "https://a.com/1", 60L),
      (2L, "https://a.com/2", 60L),
      (3L, "https://a.com/3", 60L),
      (4L, "https://a.com/4", 0L),   // zero mass: fits wherever it lands
      (5L, "https://b.com/1", 100L)
    ).toDF("doc_id", "url", "mass")
    val kept = Domains.domainTokenQuota(df, "url", "doc_id", $"mass",
        budgetPerDomain = 120L, seed = 9L)
      .select("doc_id").as[Long].collect().sorted
    // independent re-derivation: per host, hash order, inclusive cumsum
    val rows = df.select($"doc_id",
        Domains.urlHost($"url").as("h"),
        Sampling.hashScore($"doc_id", 9L).as("s"), $"mass")
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(0), r.getLong(3)))
    val expect = rows.groupBy(_._1).values.flatMap { g =>
      var run = 0L
      g.sortBy(x => (x._2, x._3)).flatMap { case (_, _, id, m) =>
        run += m; if (run <= 120L) Some(id) else None
      }
    }.toArray.sorted
    assert(kept.toSeq == expect.toSeq)
    assert(kept.nonEmpty && kept.length < 5,
      s"fixture must make the budget bind somewhere: kept ${kept.toSeq}")
  }

  test("domainCounts censuses normalized hosts") {
    val df = Seq(
      "https://www.a.com/1", "https://A.com/2", "https://b.com/1"
    ).toDF("url")
    val got = Domains.domainCounts(df, "url")
      .as[(String, Long)].collect().toMap
    assert(got == Map("a.com" -> 2L, "b.com" -> 1L))
  }

  test("normalizedUrl percent-normalization: unreserved decodes, reserved uppercases") {
    val got = Seq(
      "https://ex.com/%7edocs", // unreserved, lowercase hex -> decodes
      "https://ex.com/~docs",   // the decoded twin
      "https://ex.com/a%2Fb",   // reserved: stays encoded
      "https://ex.com/a%2fb",   // reserved, lowercase hex -> uppercases
      "https://ex.com/a/b",     // a literal slash is NOT %2F
      "https://ex.com/%41bc"    // %41 = 'A' (alpha unreserved) -> decodes
    ).toDF("url").select(Domains.normalizedUrl($"url")).as[String].collect()
    assert(got(0) == "ex.com/~docs" && got(1) == got(0))
    assert(got(2) == "ex.com/a%2Fb" && got(3) == got(2))
    assert(got(4) == "ex.com/a/b" && got(4) != got(2))
    assert(got(5) == "ex.com/Abc")
  }

  test("normalizedUrl sortQuery collapses parameter order (opt-in only)") {
    val df = Seq(
      "https://ex.com/p?b=2&a=1",
      "https://ex.com/p?a=1&b=2"
    ).toDF("url")
    val off = df.select(Domains.normalizedUrl($"url")).as[String].collect()
    assert(off(0) != off(1), "param order is identity by default")
    val on = df.select(Domains.normalizedUrl($"url", sortQuery = true))
      .as[String].collect()
    assert(on(0) == on(1) && on(0) == "ex.com/p?a=1&b=2")
  }

  test("dedupByUrl keeps ALL unparseable-URL docs (null key = no identity)") {
    val df = Seq(
      (1L, "https://ex.com/a"),
      (2L, "https://ex.com/a"), // true duplicate of 1 -> dropped
      (3L, "not a url"),
      (4L, "not a url"),        // same junk string: BOTH kept
      (5L, "https://ex.com/%zz") // malformed escape -> unparseable -> kept
    ).toDF("doc_id", "url")
    assert(df.select(Domains.normalizedUrl($"url")).as[String].collect()
      .count(_ == null) == 3, "fixture must yield null keys")
    val kept = Domains.dedupByUrl(df, "url", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("domainTokenQuotaAdaptive: mega-host routes via the census, result bit-equal") {
    // host a.com holds 400 of 460 docs (the expected 40%-host shape);
    // masses are uniform 7 so budget 70 keeps exactly 10 docs per host
    val df = ((0L until 400L).map(i => (i, "https://a.com/p" + i, 7L)) ++
      (400L until 460L).map(i => (i, s"https://b${i % 2}.com/p$i", 7L)))
      .toDF("doc_id", "url", "mass")
    val plain = Domains.domainTokenQuota(df, "url", "doc_id", $"mass",
        budgetPerDomain = 70L, seed = 3L)
      .select("doc_id").as[Long].collect().sorted
    assert(Domains.hotHosts(df, "url", 70L, 100L).toSeq == Seq("a.com"),
      "the 40%-host must route through the capped path")
    val adaptive = Domains.domainTokenQuotaAdaptive(df, "url", "doc_id",
        $"mass", budgetPerDomain = 70L, seed = 3L, hotHostDocs = 100L)
      .select("doc_id").as[Long].collect().sorted
    assert(adaptive.toSeq == plain.toSeq,
      "capped mega-host path must be bit-equal to the plain window")
    // census finds nothing hot -> the returned plan IS the plain path
    assert(Domains.hotHosts(df, "url", 70L, 1000L).isEmpty)
    val cold = Domains.domainTokenQuotaAdaptive(df, "url", "doc_id",
        $"mass", budgetPerDomain = 70L, seed = 3L, hotHostDocs = 1000L)
      .select("doc_id").as[Long].collect().sorted
    assert(cold.toSeq == plain.toSeq)
  }

  test("filterUrlPaths: segment-boundary prefixes, extensions, case-insensitive") {
    val df = Seq(
      (1L, "https://ex.com/static/img.png"), // prefix AND ext -> drop
      (2L, "https://ex.com/staticfiles/f"),  // not a segment match -> keep
      (3L, "https://ex.com/Admin/panel"),    // case-insensitive prefix -> drop
      (4L, "https://ex.com/blog/a.html"),    // unmatched -> keep
      (5L, "https://ex.com/pic.PNG"),        // case-insensitive ext -> drop
      (6L, "https://ex.com/static"),         // bare prefix match -> drop
      (7L, "not a url")                      // unparseable -> keep
    ).toDF("doc_id", "url")
    val rules = Seq("prefix" -> "/admin", "prefix" -> "/static/",
      "ext" -> ".png").toDF("kind", "pattern")
    val kept = Domains.filterUrlPaths(df, "url", "doc_id", rules)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 4L, 7L))
    // rules that could never match fail loudly instead of silently
    // filtering nothing: a typo'd kind, a prefix that normalizes to ''
    // ("/" means drop-everything \u2014 that is a host rule, not a path
    // rule), an ext the extraction can never produce
    val e = intercept[IllegalArgumentException] {
      Domains.filterUrlPaths(df, "url", "doc_id",
        Seq("prefx" -> "/admin").toDF("kind", "pattern"))
    }
    assert(e.getMessage.contains("prefx"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Domains.filterUrlPaths(df, "url", "doc_id",
        Seq("prefix" -> "/").toDF("kind", "pattern"))
    }
    assert(e2.getMessage.contains("segment prefix"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Domains.filterUrlPaths(df, "url", "doc_id",
        Seq("ext" -> ".tar.gz").toDF("kind", "pattern"))
    }
    assert(e3.getMessage.contains("tar.gz"), e3.getMessage)
    // a prefix without its leading slash can never match a root-anchored
    // segment prefix; null patterns get the same loud treatment
    val e4 = intercept[IllegalArgumentException] {
      Domains.filterUrlPaths(df, "url", "doc_id",
        Seq("prefix" -> "admin").toDF("kind", "pattern"))
    }
    assert(e4.getMessage.contains("start with '/'"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException] {
      Domains.filterUrlPaths(df, "url", "doc_id",
        Seq(("prefix", null: String)).toDF("kind", "pattern"))
    }
    assert(e5.getMessage.contains("non-null"), e5.getMessage)
  }

  test("filterUrlPaths: param rules match key or key=value, case-insensitive") {
    val df = Seq(
      (1L, "https://ex.com/w?Action=Edit"),      // key=value, mixed case -> drop
      (2L, "https://ex.com/w?action=view"),      // same key, other value -> keep
      (3L, "https://ex.com/w?id=4&action=edit"), // pair anywhere in query -> drop
      (4L, "https://ex.com/w?uselang=de"),       // bare-key rule -> drop
      (5L, "https://ex.com/w?lang=de"),          // different key -> keep
      (6L, "https://ex.com/w"),                  // no query -> keep
      (7L, "https://ex.com/w?actionx=edit")      // key boundary respected -> keep
    ).toDF("doc_id", "url")
    val rules = Seq("param" -> "action=edit", "param" -> "?uselang")
      .toDF("kind", "pattern")
    val kept = Domains.filterUrlPaths(df, "url", "doc_id", rules)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 5L, 6L, 7L))
    val e = intercept[IllegalArgumentException] {
      Domains.filterUrlPaths(df, "url", "doc_id",
        Seq("param" -> "a=1&b=2").toDF("kind", "pattern"))
    }
    assert(e.getMessage.contains("query parameter"), e.getMessage)
  }

  test("normalizedUrl dropParamPrefixes strips tracking keys case-insensitively, keeps real params") {
    val drop = Domains.TrackingParamPrefixes
    val got = Seq(
      "https://ex.com/p?id=3&utm_source=feed&UTM_campaign=x",
      "https://ex.com/p?id=3",
      "https://ex.com/p?fbclid=abc123&id=3",
      "https://ex.com/p?utm_source=feed", // query strips to nothing -> no '?'
      // exact-key rule: gclid2 / fbclid_src merely START with listed
      // exact entries and must SURVIVE (only '_'-terminated entries are
      // prefixes); bare gclid is stripped
      "https://ex.com/p?gclid2=x&fbclid_src=y&gclid=z&id=3"
    ).toDF("url")
      .select(Domains.normalizedUrl($"url", sortQuery = true,
        dropParamPrefixes = drop))
      .as[String].collect()
    assert(got(0) == "ex.com/p?id=3" && got(1) == got(0) && got(2) == got(0))
    assert(got(3) == "ex.com/p")
    assert(got(4) == "ex.com/p?fbclid_src=y&gclid2=x&id=3")
  }

  test("keepAllowedHosts: suffix semantics, null hosts drop (the allowlist dual)") {
    val df = Seq(
      (1L, "https://example.com/a"),         // listed -> keep
      (2L, "https://cdn.example.com/b"),     // subdomain of listed -> keep
      (3L, "https://notexample.com/c"),      // not a dot-suffix -> drop
      (4L, "https://www.EXAMPLE.com/d"),     // case + www-strip -> keep
      (5L, "https://other.org/e"),           // unlisted -> drop
      (6L, "not a url")                      // no host -> no listing -> drop
    ).toDF("doc_id", "url")
    val kept = Domains.keepAllowedHosts(df, "url", "doc_id",
        Seq("Example.COM").toDF("domain"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L))
  }

  test("domainTokenQuotaAdaptive: budget 0 keeps nothing without tripping the heap pre-cap") {
    val df = (0L until 500L).map(i => (i, "https://mega.com/p" + i, 5L))
      .toDF("doc_id", "url", "mass")
    val got = Domains.domainTokenQuotaAdaptive(df, "url", "doc_id", $"mass",
      budgetPerDomain = 0L, seed = 1L, hotHostDocs = 100L)
    assert(got.count() == 0L)
  }

  test("domainTokenQuotaAdaptive: >1000-host census routes via broadcast join, bit-equal to plain") {
    // 1100 hosts x 2 docs, hotHostDocs = 1 -> every host is "hot" and
    // the census exceeds MaxInlineHotHosts, exercising the broadcast
    // semi/anti split instead of the literal IN-list; mass >= 1 so the
    // bit-equality contract with the plain window path holds
    val df = (0L until 2200L).map(i =>
        (i, s"https://h${i % 1100}.example.com/p$i", 3L))
      .toDF("doc_id", "url", "mass")
    val adaptive = Domains.domainTokenQuotaAdaptive(df, "url", "doc_id",
        $"mass", budgetPerDomain = 3L, seed = 11L, hotHostDocs = 1L)
      .select("doc_id").as[Long].collect().sorted
    val plain = Domains.domainTokenQuota(df, "url", "doc_id",
        $"mass", budgetPerDomain = 3L, seed = 11L)
      .select("doc_id").as[Long].collect().sorted
    assert(adaptive.toSeq == plain.toSeq && adaptive.length == 1100)
  }

  test("Punycode.encode matches CPython's independent RFC 3492 codec on golden vectors") {
    val golden = Seq(
      "m\u00fcnchen" -> "mnchen-3ya",
      "b\u00fccher" -> "bcher-kva",
      "espa\u00f1ol" -> "espaol-zwa",
      "\u65e5\u672c\u8a9e" -> "wgv71a119e",
      "caf\u00e9" -> "caf-dma",
      "stra\u00dfe" -> "strae-oqa",
      "\u4f8b\u3048" -> "r8jz45g")
    golden.foreach { case (in, want) =>
      assert(graft.core.Punycode.encode(in) == want, s"encode($in)")
    }
  }

  test("normalizedUrl idnHost folds unicode, percent-encoded and xn-- host twins to one key") {
    val got = Seq(
      "https://m\u00fcnchen.de/p",
      "https://M%C3%BCnchen.de/p",
      "https://xn--mnchen-3ya.de/p",
      "https://XN--MNCHEN-3YA.de/p",
      "https://ascii.example.com/p" // ASCII host passes through unchanged
    ).toDF("url")
      .select(Domains.normalizedUrl($"url", idnHost = true))
      .as[String].collect()
    assert(got(0) == "xn--mnchen-3ya.de/p")
    assert(got.take(4).distinct.length == 1, got.mkString(" | "))
    assert(got(4) == "ascii.example.com/p")
    // dedupByUrl with idnHost: the three twins collapse to the min id
    val df = Seq(
      (1L, "https://m\u00fcnchen.de/p"),
      (2L, "https://M%C3%BCnchen.de/p"),
      (3L, "https://xn--mnchen-3ya.de/p"),
      (4L, "https://other.de/p")
    ).toDF("doc_id", "url")
    val kept = Domains.dedupByUrl(df, "url", "doc_id", idnHost = true)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("discoverTrackingParams: census finds the sessionid the static list misses, feeds dedupByUrl") {
    // 4 pages; each fetched 3x under a unique per-fetch sessionid (same
    // content), once bare; plus a ?page= param that CHANGES content
    val docs =
      (0L until 12L).map { i =>
        val g = i % 4
        (i, s"https://ex.com/p$g?sessionid=s$i&lang=en", s"content $g")
      } ++ (12L until 16L).map { i =>
        val g = i % 4
        (i, s"https://ex.com/p$g?lang=en", s"content $g") // bare holders
      } ++ (16L until 20L).map { i =>
        (i, s"https://ex.com/q?page=${i % 2}", s"paged ${i % 2}")
      } ++ Seq(
        // query-less URL: must not trip ANSI's strict element_at on the
        // missing '?' part, and contributes nothing to any key's census
        (20L, "https://ex.com/noquery", "plain page"))
    val df = docs.toDF("doc_id", "url", "text")
    val report = Domains.discoverTrackingParams(df, "url", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // sessionid: 12 docs, 4 groups, never splits content -> SAFE (and
    // absent from the static TrackingParamPrefixes list)
    assert(report("sessionid") == ((12L, 4L, true)))
    assert(!Domains.TrackingParamPrefixes.contains("sessionid"))
    // page distinguishes content -> rejected
    assert(report("page")._3 == false)
    // lang is constant everywhere: stripping it is a no-op here, so the
    // census honestly reports it safe (the documented epistemics)
    assert(report("lang")._3 == true)
    // feed the discovered list to dedupByUrl: the 12 sessionid variants
    // + 4 bare holders collapse to the 4 smallest ids; paged docs keep
    // their per-value identity (page was not discovered)
    val discovered = report.collect { case (k, (_, _, true)) => k }.toSeq
    val kept = Domains.dedupByUrl(df, "url", "doc_id", sortQuery = true,
        dropParamPrefixes = discovered)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 3L, 16L, 17L, 20L))
  }

  test("domainTokenQuotaAdaptive: non-positive hotHostDocs is rejected loudly") {
    val df = Seq((1L, "https://a.com/x", 2L)).toDF("doc_id", "url", "mass")
    val e = intercept[IllegalArgumentException] {
      Domains.domainTokenQuotaAdaptive(df, "url", "doc_id", $"mass",
        budgetPerDomain = 5L, seed = 1L, hotHostDocs = 0L)
    }
    assert(e.getMessage.contains("hotHostDocs"), e.getMessage)
  }

  test("filterRobotsTxt: per-host REP verdicts; missing robots and null hosts keep") {
    val pages = Seq(
      (1L, "https://a.com/p1"),          // disallowed (/p1)
      (2L, "https://a.com/p13"),         // longer Allow overrides
      (3L, "https://a.com/p10/deep"),    // octet-prefix of /p1 -> drop
      (4L, "https://a.com/other"),       // no matching rule
      (5L, "https://WWW.a.com/p1"),      // www-stripped host still keyed
      (6L, "https://b.com/p4"),          // anchored /*4$ -> drop
      (7L, "https://b.com/p4/"),         // trailing slash defeats $
      (8L, "https://b.com/x?page=4"),    // query rides the REP target
      (9L, "https://c.com/p1"),          // host without robots.txt
      (10L, "not a url at all")          // unparseable -> keep
    ).toDF("doc_id", "url")
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow: /p1\nAllow: /p13\n"),
      ("b.com", "User-agent: graftbot\nDisallow: /\n" +
        "User-agent: *\nDisallow: /*4$\n")
    ).toDF("host", "body")
    val kept = Domains.filterRobotsTxt(pages, "url", "doc_id", robots)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 7L, 9L, 10L), kept.toString)
    // duplicate host rows merge their rule lists (order-independent)
    val dup = Seq(
      ("a.com", "User-agent: *\nDisallow: /p1\n"),
      ("a.com", "User-agent: *\nAllow: /p13\n")
    ).toDF("host", "body")
    val mergedKeep = Domains.filterRobotsTxt(pages.filter($"doc_id" <= 3),
      "url", "doc_id", dup).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mergedKeep == Set(2L), mergedKeep.toString)
    // a scratch-name collision is refused, not silently clobbered
    val e = intercept[IllegalArgumentException] {
      Domains.filterRobotsTxt(
        pages.withColumn("__rbt_host", lit("x")), "url", "doc_id", robots)
    }
    assert(e.getMessage.contains("__rbt_host"), e.getMessage)
  }
}
