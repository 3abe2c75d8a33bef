package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the day-2 exactness theorem: admitting a batch against the
  * persisted day-1 indexes is BIT-EQUAL to the batch slice of running
  * the whole recipe on the union corpus — across TWO consecutive
  * batches (so the day-2 appends are proven to leave the state exactly
  * right for day 3), with every verdict and span source exercised by a
  * planted doc, including the statistic that crosses its threshold
  * ONLY when the new batch's counts merge in (the case a frozen-state
  * implementation gets wrong). */
class IncrementalCurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val P = IncrementalCuration.Params(
    width = 3, minDocs = 3L, nbBuckets = 64,
    bpeMerges = 8, bpeVocabCap = 256, numBuckets = 2)

  private val Passage = "quick brown fox jumps over lazy dog here now"
  // the planted LINES are 2 tokens — BELOW the gram width, so the
  // line-frequency rule (not the dup-gram rule, which flags any
  // cross-doc width-window) is the only thing that can cut them
  private val L1 = "subscribe please"           // day-1 boilerplate (df 5)
  private val L2 = "limited offer"              // crosses minDocs ONLY with B
  private val L3 = "footer note"                // crosses minDocs ONLY with C
  private val Q = "red green blue cyan magenta" // dup grams ONLY with B

  // hash-derived LETTER-ONLY filler words (asciiWords tokenizes [a-z]+
  // runs — a digit would fragment a word into shared single letters),
  // unique across (i, j): no two docs share an accidental 3-gram or
  // enough 4-char shingles to near-dup — the planted relations below
  // are the ONLY relations in the corpus
  private def fw(i: Long, n: Int): IndexedSeq[String] =
    (1 to n).map { j =>
      var x = (i * 1000L + j) * 2862933555777941757L + 3037000493L
      (0 until 8).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        ('a' + java.lang.Long.remainderUnsigned(x >>> 33, 26L).toInt).toChar
      }.mkString
    }
  // positive-class doc: marker unigrams (good/clean/prose) interleaved
  // with unique fillers — strong shared NB signal, zero shared grams
  private def prose(i: Long, n: Int = 12): String = {
    val f = fw(i, n)
    s"good ${f(0)} clean ${f(1)} prose ${f(2)} " + f.drop(3).mkString(" ")
  }
  // negative-class doc: each of 12 spam unigrams twice, interleaved
  private def spam(i: Long): String = {
    val f = fw(i + 7000L, 24)
    (0 until 24).map(k => s"spam${k % 12 + 1} ${f(k)}").mkString(" ")
  }

  // day-1 corpus A: ids 1-15, 24 en "pos", 16-23 xx spam "neg"
  private val dayA: Seq[(Long, String, String)] =
    (1L to 15L).map { i =>
      val t = i match {
        case x if x <= 5 => prose(i) + "\n" + L1
        case 6 | 7       => prose(i) + "\n" + L2
        case 10          => prose(i) + " " + Q
        case _           => prose(i)
      }
      (i, t, "en")
    } ++ (16L to 23L).map(i => (i, spam(i), "xx")) ++
      Seq((24L, prose(24, 24), "en")) // anchor for the B116/B117 component

  // day-2 batch B: ids 101-115
  private val dayB: Seq[(Long, String, String)] = Seq(
    (101L, prose(101) + "\n" + L1, "en"),     // L1 cut (day-1 boilerplate)
    (102L, prose(102) + "\n" + L1, "en"),
    (103L, prose(103) + "\n" + L1, "en"),
    (104L, prose(104) + "\n" + L2, "en"),     // L2 NOW crosses minDocs
    (105L, dayASelf(8L), "en"),               // exact dup of A8 -> drop
    (106L, prose(106), "en"),
    (107L, prose(106), "en"),                 // == B106 -> drop
    (108L, dayASelf(9L) + " tail", "en"),     // near-dup of A9 -> drop
    (109L, prose(109, 20), "en"),
    (110L, prose(109, 20) + " tl", "en"),     // near-dup of B109 -> drop
    (111L, prose(111) + " " + Passage, "en"), // decon cut
    (112L, prose(112) + " " + Q, "en"),       // Q dup-gram cut (A10 + B112)
    (113L, spam(113) + " odd one", "en"),     // NB-negative -> drop
    (114L, prose(114) + "\n" + L3, "en"),     // L3 df 2 at day 2 (< 3)
    (115L, prose(115) + "\n" + L3, "en"),
    // the component-root trap: B116 and B117 near-dup EACH OTHER; only
    // the LARGER id (117) also near-dups an indexed doc (A24). The
    // component {A24,116,117} has min 24, so BOTH batch docs must drop
    // — a component rule that only inspects touched/child nodes admits
    // the root 116 (the round-17 review bug)
    (116L, prose(24, 24) + " " + fw(9116, 7).mkString(" ")
      + " " + fw(9117, 23).mkString(" "), "en"),
    (117L, prose(24, 24) + " " + fw(9116, 7).mkString(" "), "en"))

  // day-3 batch C: ids 201-206 — every drop reason must see B's state
  private val dayC: Seq[(Long, String, String)] = Seq(
    (201L, prose(201), "en"),
    (202L, prose(106), "en"),                 // exact dup of B106 -> drop
    (203L, prose(109, 20) + " t3", "en"),     // near-dup of B109 -> drop
    (204L, prose(204) + "\n" + L3, "en"),     // L3 NOW crosses minDocs
    (205L, prose(205) + " " + Q, "en"),       // Q flagged via B's append
    (206L, prose(206) + "\n" + L2, "en"))     // L2 flagged since day 2

  private def dayASelf(i: Long): String =
    dayA.find(_._1 == i).get._2

  private def df(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "lang")
  private val bench = Seq((1000L, s"benchmark doc with $Passage inside"))
    .toDF("doc_id", "text")

  private def rowsOf(d: org.apache.spark.sql.DataFrame) =
    d.orderBy("doc_id")
      .select("doc_id", "n_chars_inc", "n_tok_inc", "nb_score")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("admitBatch is bit-equal to the union-rerun batch slice, two days deep") {
    val prefix = "graft_inccur_spec"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val ranks = {
      val merges = spark.table(s"${prefix}_vocab").orderBy("rank")
        .select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
      org.apache.spark.sql.graft.BpeRanks.fromByteTokens(merges)
    }

    // cross-threshold distinguisher is real: L2's day-1 df is below cut
    val dfL2inA = dayA.count(_._2.split("\n").contains(L2)).toLong
    assert(dfL2inA == 2L && dfL2inA < P.minDocs)

    val gotB = rowsOf(IncrementalCuration.admitBatch(df(dayB), bench,
      df(dayA), prefix, "doc_id", "text", col("lang") === "en", P))
    val refB = rowsOf(IncrementalCuration.admitReference(
      df(dayA ++ dayB), bench, "doc_id", "text", col("lang") === "en",
      batchMinId = 100L, ranks, P))
    assert(gotB == refB, s"day-2 slice mismatch:\n got $gotB\n ref $refB")

    val bIds = gotB.map(_._1).toSet
    assert(!bIds.contains(105L), "exact dup vs day-1 index survived")
    assert(!bIds.contains(107L), "within-batch exact dup survived")
    assert(!bIds.contains(108L), "near-dup vs day-1 index survived")
    assert(!bIds.contains(110L), "within-batch near-dup survived")
    assert(bIds.contains(106L) && bIds.contains(109L),
      "keep-earliest must keep the smallest id of each dup group")
    assert(!bIds.contains(113L), "NB-negative doc survived")
    // the planted sims must be on the right sides of the threshold for
    // the component-root case to mean anything — fail LOUDLY if the
    // fixture drifts
    val sim = (a: String, b: String) => Seq((a, b)).toDF("ta", "tb")
      .select(graft.functions.lsh_jaccard($"ta", $"tb", 4)).as[Double].head()
    val tA24 = dayA.find(_._1 == 24L).get._2
    val t116 = dayB.find(_._1 == 116L).get._2
    val t117 = dayB.find(_._1 == 117L).get._2
    assert(sim(t117, tA24) > 0.5, s"b2-vs-A sim ${sim(t117, tA24)}")
    assert(sim(t116, t117) > 0.5, s"b1-vs-b2 sim ${sim(t116, t117)}")
    assert(sim(t116, tA24) <= 0.5, s"b1-vs-A sim ${sim(t116, tA24)}")
    assert(!bIds.contains(116L) && !bIds.contains(117L),
      "a component touching the index must drop ALL its batch docs, " +
        "including the min-id root that never directly paired with A")
    // L1 (day-1 boilerplate) and L2 (crosses only with B) both cut
    val chars = gotB.map(r => r._1 -> r._2).toMap
    assert(chars(101L) < dayB.find(_._1 == 101L).get._2.length)
    assert(chars(104L) < dayB.find(_._1 == 104L).get._2.length,
      "merged-count boilerplate (threshold crossed only with B) not cut")
    assert(chars(111L) < dayB.find(_._1 == 111L).get._2.length,
      "benchmark passage not decontaminated")
    assert(chars(112L) < dayB.find(_._1 == 112L).get._2.length,
      "cross-day dup grams not cut")
    // L3 must NOT be cut at day 2 (df 2 < 3)
    assert(chars(114L) == dayB.find(_._1 == 114L).get._2.length.toLong)

    // ---- day 3: the day-2 appends must have left state == A union B ----
    val gotC = rowsOf(IncrementalCuration.admitBatch(df(dayC), bench,
      df(dayA ++ dayB), prefix, "doc_id", "text", col("lang") === "en", P))
    val refC = rowsOf(IncrementalCuration.admitReference(
      df(dayA ++ dayB ++ dayC), bench, "doc_id", "text",
      col("lang") === "en", batchMinId = 200L, ranks, P))
    assert(gotC == refC, s"day-3 slice mismatch:\n got $gotC\n ref $refC")
    val cIds = gotC.map(_._1).toSet
    assert(!cIds.contains(202L), "exact dup vs day-2 batch survived")
    assert(!cIds.contains(203L), "near-dup vs day-2 batch survived")
    // rejection audit: every planted drop carries its first-loss reason,
    // admitted docs appear nowhere, and day-3 rows APPEND to day-2's
    val reasons = spark.table(s"${prefix}_admit_reasons")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons(105L) == "exact_dup" && reasons(107L) == "exact_dup")
    assert(reasons(108L) == "near_dup" && reasons(110L) == "near_dup")
    assert(reasons(116L) == "near_dup" && reasons(117L) == "near_dup")
    assert(reasons(113L) == "nb_quality")
    assert(!reasons.contains(106L) && !reasons.contains(109L))
    assert(reasons(202L) == "exact_dup" && reasons(203L) == "near_dup",
      "day-3 rejections must land in the same audit table")
    val charsC = gotC.map(r => r._1 -> r._2).toMap
    assert(charsC(204L) < dayC.find(_._1 == 204L).get._2.length,
      "L3 crossed minDocs only with C's counts and must now cut")
    assert(charsC(206L) < dayC.find(_._1 == 206L).get._2.length)
  }

  test("buildState evaluates each corpus row once, however its builds overlap") {
    // the builds run concurrently over one persisted corpus: a build that
    // starts before the cache is filled computes the partition again, and
    // the counting UDF in the input plan sees that row twice. The race
    // depends on timing, so the build runs three times.
    val evals = spark.sparkContext.longAccumulator("corpus row evaluations")
    val touch = udf { (t: String) => evals.add(1L); t }.asNondeterministic()
    val n = 400L
    val corpus = spark.range(0L, n, 1L, 8).select(col("id").as("doc_id"),
      touch(concat(lit("doc "), col("id").cast("string"),
        lit(" alpha beta gamma delta epsilon zeta eta theta"))).as("text"),
      when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")).as("lang"))
    val prefix = "graft_inccur_evals_spec"
    (1 to 3).foreach { run =>
      evals.reset()
      IncrementalCuration.reset(spark, prefix)
      IncrementalCuration.buildState(corpus, prefix, "doc_id", "text",
        col("lang") === "en", P)
      assert(evals.sum == n, s"build $run evaluated ${evals.sum} rows for $n")
    }
  }

  test("admitBatch recovers day-1 state across a simulated JVM restart") {
    val prefix = "graft_inccur_xs"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val ranks = IncrementalCuration.loadVocab(spark, prefix)
    // the restart state: every registration dies, every warehouse
    // directory survives (the staged-xsession discipline)
    IncrementalCuration.stateTables(prefix).foreach(t =>
      org.apache.spark.sql.graft.CatalogOps.deregisterKeepingFiles(spark, t))
    val got = rowsOf(IncrementalCuration.admitBatch(df(dayB), bench,
      df(dayA), prefix, "doc_id", "text", col("lang") === "en", P))
    val ref = rowsOf(IncrementalCuration.admitReference(
      df(dayA ++ dayB), bench, "doc_id", "text", col("lang") === "en",
      batchMinId = 100L, ranks, P))
    assert(got == ref,
      s"recovered-state admission diverged:\n got $got\n ref $ref")
  }

  test("admitBatch enforces the id high-water contract loudly") {
    val prefix = "graft_inccur_hwm"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.admitBatch(
        df(Seq((5L, "too small an id", "en"))), bench, df(dayA),
        prefix, "doc_id", "text", col("lang") === "en", P)
    }
    assert(e.getMessage.contains("high-water"), e.getMessage)
    // the tunables are state identity: admitting with a different gram
    // width against width-P indexes must refuse, not silently match
    // nothing
    val e2 = intercept[IllegalArgumentException] {
      IncrementalCuration.admitBatch(
        df(Seq((500L, "fine id wrong params", "en"))), bench, df(dayA),
        prefix, "doc_id", "text", col("lang") === "en",
        P.copy(width = P.width + 1))
    }
    assert(e2.getMessage.contains("Params"), e2.getMessage)
    // an EMPTY batch must refuse with a message, not NullPointerException
    // out of min(ids)-of-zero-rows; duplicate ids must refuse too (keep-
    // earliest and the audit table assume one row per id) — both BEFORE
    // any state mutation
    val e3 = intercept[IllegalArgumentException] {
      IncrementalCuration.admitBatch(
        df(Seq.empty), bench, df(dayA),
        prefix, "doc_id", "text", col("lang") === "en", P)
    }
    assert(e3.getMessage.contains("EMPTY"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      IncrementalCuration.admitBatch(
        df(Seq((500L, "dup id a", "en"), (500L, "dup id b", "en"))),
        bench, df(dayA), prefix, "doc_id", "text", col("lang") === "en", P)
    }
    assert(e4.getMessage.contains("unique"), e4.getMessage)
    // NULL text refuses up front: a null-text doc would land in neither
    // the admitted set nor the reasons audit (nb_score filters are
    // null-blind), so a generation replay would RESURRECT it as admitted
    // — the round-20 advice finding
    val e5 = intercept[IllegalArgumentException] {
      IncrementalCuration.admitBatch(
        df(Seq((500L, null, "en"), (501L, "fine", "en"))),
        bench, df(dayA), prefix, "doc_id", "text", col("lang") === "en", P)
    }
    assert(e5.getMessage.contains("NULL-text"), e5.getMessage)
  }

  test("admitBatch generation markers: replay skips + reproduces, torn state refuses") {
    val prefix = "graft_inccur_gen"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val got1 = rowsOf(IncrementalCuration.admitBatch(df(dayB), bench,
      df(dayA), prefix, "doc_id", "text", col("lang") === "en", P,
      generation = Some("g1")))
    def stateCounts() = (IncrementalCuration.stateTables(prefix) :+
      s"${prefix}_admit_reasons").map { t =>
      spark.catalog.refreshTable(t); t -> spark.table(t).count()
    }.toMap
    val counts1 = stateCounts()
    // replay of a committed generation: bit-equal rows, zero mutation
    val got2 = rowsOf(IncrementalCuration.admitBatch(df(dayB), bench,
      df(dayA), prefix, "doc_id", "text", col("lang") === "en", P,
      generation = Some("g1")))
    assert(got2 == got1, s"replay diverged:\n got $got2\n ref $got1")
    assert(stateCounts() == counts1,
      "a replayed generation must not touch any state or audit table")
    // only the LATEST generation may replay: once g2 admits, a g1
    // replay would span-mine over state that already holds g2's grams
    rowsOf(IncrementalCuration.admitBatch(df(dayC), bench,
      df(dayA ++ dayB), prefix, "doc_id", "text", col("lang") === "en", P,
      generation = Some("g2")))
    val eLate = intercept[IllegalArgumentException] {
      IncrementalCuration.admitBatch(df(dayB), bench, df(dayA), prefix,
        "doc_id", "text", col("lang") === "en", P, generation = Some("g1"))
    }
    assert(eLate.getMessage.contains("LATEST"), eLate.getMessage)
    // torn state: started-but-never-committed refuses loudly instead of
    // silently double-appending — for the SAME tag, for a DIFFERENT
    // tag, for an untagged batch call, and even for a replay of a
    // committed generation (the dangling generation's partial appends
    // poison span mining for everyone)
    Seq(("gen_started_g3", 206L)).toDF("key", "value")
      .write.mode("append").insertInto(s"${prefix}_meta")
    spark.catalog.refreshTable(s"${prefix}_meta")
    def tornAdmit(gen: Option[String]): Unit = {
      val e = intercept[IllegalStateException] {
        IncrementalCuration.admitBatch(
          df(Seq((301L, prose(301), "en"))), bench,
          df(dayA ++ dayB ++ dayC), prefix, "doc_id", "text",
          col("lang") === "en", P, generation = gen)
      }
      assert(e.getMessage.contains("STARTED but never committed"),
        s"gen=$gen: ${e.getMessage}")
    }
    tornAdmit(Some("g3"))
    tornAdmit(Some("g4"))
    tornAdmit(None)
    val eReplay = intercept[IllegalStateException] {
      IncrementalCuration.admitBatch(df(dayC), bench, df(dayA ++ dayB),
        prefix, "doc_id", "text", col("lang") === "en", P,
        generation = Some("g2"))
    }
    assert(eReplay.getMessage.contains("STARTED but never committed"),
      s"committed-gen replay over torn state must refuse: $eReplay")
  }

  test("compactState folds generations without changing any future admit") {
    val prefix = "graft_inccur_cmp"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val ranks = IncrementalCuration.loadVocab(spark, prefix)
    IncrementalCuration.admitBatch(df(dayB), bench, df(dayA),
      prefix, "doc_id", "text", col("lang") === "en", P)
    // compact ACROSS a simulated restart: recovery leaves plain-parquet
    // registrations (bucket metadata lost), and compaction must both
    // work from that state and RESTORE the bucketed layout
    IncrementalCuration.stateTables(prefix).foreach(t =>
      org.apache.spark.sql.graft.CatalogOps.deregisterKeepingFiles(spark, t))
    val stats = IncrementalCuration.compactState(spark, prefix, P)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // generations folded: NB holds 2 generations of (buckets + 1) rows
    // before, exactly one after; line df rows can only shrink
    assert(stats(s"${prefix}_nb") == ((2L * (P.nbBuckets + 1),
      (P.nbBuckets + 1).toLong)), stats(s"${prefix}_nb").toString)
    val (lb, la) = stats(s"${prefix}_lines")
    assert(la < lb, s"line generations not folded: $lb -> $la")
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_grams"))
      .bucketSpec
    assert(spec.exists(_.numBuckets == P.numBuckets),
      s"compaction must restore the bucketed layout, got $spec")
    // the day-3 admit over compacted state must stay bit-equal to the
    // union rerun — compaction is semantics-preserving or it is wrong
    val gotC = rowsOf(IncrementalCuration.admitBatch(df(dayC), bench,
      df(dayA ++ dayB), prefix, "doc_id", "text", col("lang") === "en", P))
    val refC = rowsOf(IncrementalCuration.admitReference(
      df(dayA ++ dayB ++ dayC), bench, "doc_id", "text",
      col("lang") === "en", batchMinId = 200L, ranks, P))
    assert(gotC == refC, s"post-compaction admit diverged:\n got $gotC\n ref $refC")
  }

  test("takedownState: future admits behave as if the deleted docs never existed") {
    val prefix = "graft_inccur_take"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val ranks = IncrementalCuration.loadVocab(spark, prefix)
    // T flips every takedown-sensitive statistic: A6/A7 are L2's only
    // day-1 holders (line df falls below minDocs), A8 is B105's exact
    // twin, A9 is B108's near-dup partner
    val delIdsSet = Set(6L, 7L, 8L, 9L)
    val delDocs = df(dayA.filter(r => delIdsSet(r._1)))
    // validations fire BEFORE any mutation: a never-indexed id refuses
    val e0 = intercept[IllegalArgumentException] {
      IncrementalCuration.takedownState(
        df(Seq((999L, "never indexed", "en"))), prefix,
        "doc_id", "text", col("lang") === "en", P)
    }
    assert(e0.getMessage.contains("never indexed"), e0.getMessage)
    IncrementalCuration.takedownState(delDocs, prefix, "doc_id", "text",
      col("lang") === "en", P)
    val survivors = dayA.filterNot(r => delIdsSet(r._1))
    val got = rowsOf(IncrementalCuration.admitBatch(df(dayB), bench,
      df(survivors), prefix, "doc_id", "text", col("lang") === "en", P))
    val ref = rowsOf(IncrementalCuration.admitReference(
      df(survivors ++ dayB), bench, "doc_id", "text", col("lang") === "en",
      batchMinId = 100L, ranks, P))
    assert(got == ref, s"post-takedown admit diverged:\n got $got\n ref $ref")
    val ids = got.map(_._1).toSet
    assert(ids.contains(105L),
      "a doc cloning TAKEN-DOWN text must now be the first holder")
    assert(ids.contains(108L),
      "a near-dup of a taken-down doc must now be admitted")
    val chars = got.map(r => r._1 -> r._2).toMap
    assert(chars(104L) == dayB.find(_._1 == 104L).get._2.length.toLong,
      "L2's df fell below minDocs with its holders deleted — must not cut")
    // re-running the same takedown must refuse loudly, not double-subtract
    val e1 = intercept[IllegalArgumentException] {
      IncrementalCuration.takedownState(delDocs, prefix, "doc_id", "text",
        col("lang") === "en", P)
    }
    assert(e1.getMessage.contains("double-subtract"), e1.getMessage)
  }

  test("takedownState across a simulated JVM restart: same future admits") {
    val prefix = "graft_inccur_takexs"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val ranks = IncrementalCuration.loadVocab(spark, prefix)
    // recovered registrations carry no bucket spec: every rewrite must
    // stage in the layout the recovered session reads
    IncrementalCuration.stateTables(prefix).foreach(t =>
      org.apache.spark.sql.graft.CatalogOps.deregisterKeepingFiles(spark, t))
    val delIdsSet = Set(6L, 7L, 8L, 9L)
    IncrementalCuration.takedownState(df(dayA.filter(r => delIdsSet(r._1))),
      prefix, "doc_id", "text", col("lang") === "en", P)
    val survivors = dayA.filterNot(r => delIdsSet(r._1))
    val got = rowsOf(IncrementalCuration.admitBatch(df(dayB), bench,
      df(survivors), prefix, "doc_id", "text", col("lang") === "en", P))
    val ref = rowsOf(IncrementalCuration.admitReference(
      df(survivors ++ dayB), bench, "doc_id", "text", col("lang") === "en",
      batchMinId = 100L, ranks, P))
    assert(got == ref,
      s"post-restart takedown admit diverged:\n got $got\n ref $ref")
  }

  test("takedownState refuses a leftover scratch before its first mutation") {
    val prefix = "graft_inccur_takescr"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val hashT = s"${prefix}_hash"
    val hashRows = spark.table(hashT).count()
    // the LAST table the takedown rewrites carries the leftover; the
    // hash index, rewritten first, must still be untouched
    val scratch = BucketedWrite.scratchOf(s"${prefix}_sigs")
    Seq((1L, 0, 0L)).toDF("corpus_id", "band", "band_hash")
      .write.format("parquet").saveAsTable(scratch)
    try {
      val e = intercept[IllegalArgumentException] {
        IncrementalCuration.takedownState(df(dayA.filter(_._1 == 6L)),
          prefix, "doc_id", "text", col("lang") === "en", P)
      }
      assert(e.getMessage.contains("interrupted"), e.getMessage)
      spark.catalog.refreshTable(hashT)
      assert(spark.table(hashT).count() == hashRows,
        "the hash index was rewritten before the refusal")
    } finally BucketedWrite.dropTable(spark, scratch)
  }

  test("incrementalAdmitReplay equals sequential batch admission on the same slices") {
    // the streaming twin must be BIT-EQUAL to driving admitBatch by hand
    // over the same chunks in the same order — pinning the foreachBatch
    // path's cloned-session cache behavior against the direct path
    val prefix = "graft_inccur_twin"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val chunks = dayB.sortBy(_._1)
      .grouped(math.max(1, (dayB.size + 2) / 3)).toSeq
    var lookup = dayA
    val direct = chunks.flatMap { c =>
      val out = rowsOf(IncrementalCuration.admitBatch(df(c), bench,
        df(lookup), prefix, "doc_id", "text", col("lang") === "en", P))
      lookup = lookup ++ c
      out
    }.sortBy(_._1)
    val benchSeq = Seq(1000L -> s"benchmark doc with $Passage inside")
    val got = graft.streaming.EventStreams.incrementalAdmitReplay(spark,
      dayA.sortBy(_._1), dayB.sortBy(_._1), benchSeq, nBatches = 3, P)
    val gotRows = rowsOf(got)
    assert(gotRows == direct,
      s"streaming admission diverged from the sequential twin:\n" +
        s" got $gotRows\n ref $direct")
  }

  test("compactState refuses a leftover scratch loudly") {
    import spark.implicits._
    val prefix = "graft_inccur_cmpscr"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    val scratch = s"${prefix}_lines_compact_tmp"
    Seq((1L, 1L)).toDF("lh", "docs")
      .write.format("parquet").saveAsTable(scratch)
    try {
      val e = intercept[IllegalArgumentException] {
        IncrementalCuration.compactState(spark, prefix, P)
      }
      assert(e.getMessage.contains("compact_tmp"), e.getMessage)
    } finally BucketedWrite.dropTable(spark, scratch)

    // commit point "live dropped, only the scratch survives" on the line
    // table: the refusal names the rename, and running it then re-running
    // the compaction gives exactly the uncrashed result (a twin state)
    val lines = s"${prefix}_lines"
    try {
      BucketedWrite.stage(spark, lines, Some(P.numBuckets -> Seq("lh")))(
        _.groupBy("lh").agg(sum("docs").as("docs")).filter($"docs" =!= 0L)
          .select("lh", "docs"))
      BucketedWrite.dropTable(spark, lines)
      val e2 = intercept[IllegalArgumentException] {
        IncrementalCuration.compactState(spark, prefix, P)
      }
      val rename = s"ALTER TABLE $scratch RENAME TO $lines"
      assert(e2.getMessage.contains(rename), e2.getMessage)
      spark.sql(rename)
    } finally BucketedWrite.dropTable(spark, scratch)
    IncrementalCuration.compactState(spark, prefix, P)
    val twin = "graft_inccur_cmptwin"
    IncrementalCuration.reset(spark, twin)
    IncrementalCuration.buildState(df(dayA), twin, "doc_id", "text",
      col("lang") === "en", P)
    IncrementalCuration.compactState(spark, twin, P)
    def state(p: String) = IncrementalCuration.stateTables(p).map { t =>
      t.stripPrefix(p) -> (spark.table(t).collect().map(_.toString).sorted.toSeq,
        BucketedWrite.bucketSpec(spark, t))
    }.toMap
    assert(state(prefix) == state(twin),
      "the completed commit diverged from the uncrashed compaction")
  }

  test("a corpus lookup missing prior-batch ids fails loudly, never silently under-dedups") {
    val prefix = "graft_inccur_cov"
    IncrementalCuration.reset(spark, prefix)
    IncrementalCuration.buildState(df(dayA), prefix, "doc_id", "text",
      col("lang") === "en", P)
    IncrementalCuration.admitBatch(df(dayB), bench, df(dayA),
      prefix, "doc_id", "text", col("lang") === "en", P)
    // day 3 with a lookup that spans day 1 ONLY: C203 band-collides with
    // B109, whose text the lookup cannot attach — the old inner join
    // silently dropped the pair (admitting the near-dup); the guard must
    // fail the job and NAME the contract
    val e = intercept[Exception] {
      IncrementalCuration.admitBatch(df(dayC), bench, df(dayA),
        prefix, "doc_id", "text", col("lang") === "en", P)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("corpus lookup")),
      s"expected the coverage raise_error, got: ${messages(e)}")
  }
}
