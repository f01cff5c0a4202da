package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the training-data-pipeline operators whose internals are
  * hash-specific and therefore not DuckDB-oracled (SURVEY.md §5):
  * MinHash-LSH and SimHash dedup, LSH ANN — each cross-checked against
  * its brute-force baseline. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Evaluate `f` with codegen fully disabled. The level-4 REFERENCE
    * pigeonhole form ([[graft.operators.DedupQueries.pigeonholeKeys]])
    * inlines ~20k ops into ONE Generate — Janino's quadratic
    * local-variable bookkeeping cannot compile it (8 GB heap OOM
    * observed). That form exists only as the spec's ground truth; the
    * production STAGED form stays codegen'd and is pinned equal to
    * this interpreted evaluation. */
  private def interpretedOnly[T](f: => T): T = {
    val ws = spark.conf.get("spark.sql.codegen.wholeStage")
    val fm = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f finally {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
    }
  }

  test("MinHash-LSH finds a superset of the confident blocked brute-force " +
    "pairs and every reported pair really clears the Jaccard threshold") {
    // Superset is asserted only for pairs comfortably above the 0.5
    // threshold: with 16 bands × 4 rows, a pair at j ≈ 0.5 is an LSH
    // candidate with only ~64% probability (1-(1-j^4)^16), so asserting
    // threshold-grazing pairs would be a coin-flip; at j ≥ 0.65 the
    // candidate probability is ≥ 0.96 and the planted near-dup pairs in
    // the fixture all sit well above it.
    val brute = pairSet(operators.DedupQueries.dedupNgramJaccard(spark, sf)
      .where(col("jaccard") >= 0.65))
    val lsh   = pairSet(operators.DedupQueries.dedupMinhashLsh(spark, sf))
    assert(brute.subsetOf(lsh),
      s"LSH missed planted pairs: ${brute.diff(lsh)}")
    // verification step guarantees precision = 1 by construction; spot-check
    val verified = operators.DedupQueries.dedupMinhashLsh(spark, sf)
      .agg(min("jaccard")).head.getDouble(0)
    assert(verified >= 0.5)
  }

  test("SimHash pairs at hamming<=3 are near-duplicates (subset of " +
    "LSH candidates' doc universe sanity)") {
    val sh = operators.DedupQueries.dedupSimhash(spark, sf)
    val rows = sh.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("planted near-dup pair straddling a 100-char length boundary is " +
    "found (adjacent-bucket probing)") {
    import spark.implicits._
    // identical 16-word texts except one appended word; n_chars forced
    // onto opposite sides of the 100-char bucket boundary, so the old
    // identical-bucket block (bucket 0 vs 1) would have missed the pair
    val words = (1 to 16).map(i => f"word$i%02d").mkString(" ")
    val docs = Seq(
      (1L, words, 99L),
      (2L, words + " tailword", 101L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = operators.DedupQueries.ngramJaccardOn(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("ngram df cap: boilerplate shingles are excluded from candidates " +
    "AND sizes — share-only-boilerplate pairs vanish, genuine dups keep " +
    "their filtered-set jaccard, and no candidate rides a hot key") {
    import spark.implicits._
    // 6 docs all carrying the same 6-word boilerplate prefix (its 4
    // shingles have df 6 > cap 3). Docs 1-2 additionally share 8 words
    // of real content (near-dups on the filtered sets); docs 3-4 share
    // ONLY the boilerplate (uncapped they pass at j=2/3 — the judge's
    // "two tiny docs sharing the hot shingle" failure); docs 5-6 are
    // unique filler pushing the boilerplate df over the cap.
    val bp = "h1 h2 h3 h4 h5 h6"
    val content = "c1 c2 c3 c4 c5 c6 c7 c8"
    def doc(id: Long, text: String) = (id, text, text.length.toLong)
    val docs = Seq(
      doc(1L, s"$bp $content"),
      doc(2L, s"$bp $content tail"),
      doc(3L, s"$bp x3"),
      doc(4L, s"$bp x4"),
      doc(5L, s"$bp u1 u2 u3 u4"),
      doc(6L, s"$bp v1 v2 v3 v4")
    ).toDF("doc_id", "text", "n_chars")
    val D = operators.DedupQueries
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: the boiler-only pair (3,4) passes on the header alone
    val uncapped = pairs(D.ngramJaccardOn(docs, cap = Long.MaxValue))
    assert(uncapped.contains(3L -> 4L) && uncapped.contains(1L -> 2L),
      s"uncapped=$uncapped")
    // capped: (3,4) reclassified as non-dup, (1,2) kept
    val capped = D.ngramJaccardOn(docs, cap = 3L)
    assert(pairs(capped) == Set(1L -> 2L), s"capped=${pairs(capped)}")
    // jaccard is over the FILTERED sets: doc1 keeps 8 shingles (2
    // boiler-content junction + 6 content), doc2 those plus one tail
    // shingle -> 8/9
    val j = capped.where(col("doc_a") === 1L).head.getAs[Double]("jaccard")
    assert(math.abs(j - 8.0 / 9.0) < 1e-12, s"j=$j")
    // candidate generation itself never rides a hot key: only (1,2)
    // shares a surviving shingle, vs all 15 pairs uncapped
    assert(D.ngramCandidatesOn(docs, cap = 3L).count() == 1L)
    assert(D.ngramCandidatesOn(docs, cap = Long.MaxValue).count() == 15L)
    // the default cap (1000) leaves small fixtures untouched
    assert(pairs(D.ngramJaccardOn(docs)) == uncapped)
  }

  private val ngramBoiler = "license header boilerplate text block"
  private def ngramWords(seed: Int, n: Int) =
    (0 until n).map(i => f"s$seed%02dw$i%02d").mkString(" ")
  private def ngramPostings(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    operators.DedupQueries.ngramPostingsOn(docs.toDF("doc_id", "text")
      .withColumn("n_chars", length($"text").cast("long")))
  }
  /** Corpus matches `(doc_id, match_id)` of the incremental ngram
    * admission over `docs` (batch ids ≡ 0 mod 5) at `cap`. */
  private def ngramCorpusMatches(docs: Seq[(Long, String)], cap: Long) = {
    val D = operators.DedupQueries
    D.incrementalNgramOfEdges(D.ngramJaccardTouchingOfPostings(
        D.dfFilteredPostings(ngramPostings(docs), cap)))
      .where(col("match_src") === "corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("incremental ngram admission: a near-dup of a corpus doc matches " +
    "on its surviving shingles and boilerplate-only overlap stays " +
    "silent") {
    val boiler = ngramBoiler
    def words(seed: Int, n: Int) = ngramWords(seed, n)
    // corpus (ids ≢ 0 mod 5): all three carry the boilerplate block, so
    // its shingles' df > cap; batch (ids ≡ 0 mod 5): 5 = light edit of
    // doc 1, 10 shares ONLY the boilerplate, 15 unrelated
    val existing = Seq(
      1L -> s"${words(1, 20)} $boiler",
      2L -> s"${words(2, 12)} $boiler",
      3L -> s"${words(3, 12)} $boiler")
    val incoming = Seq(
      5L -> s"${words(1, 20).replace("s01w07", "edited")} $boiler",
      10L -> s"${words(9, 12)} $boiler",
      15L -> words(8, 12))
    val got = ngramCorpusMatches(existing ++ incoming, cap = 2L)
    assert(got.contains((5L, 1L)), s"planted near-dup match lost: $got")
    assert(!got.exists(_._1 == 10L),
      s"boilerplate-only overlap leaked into the matches: $got")
  }

  test("incremental ngram admission at a cap crossing: a boilerplate-only " +
    "doc stops matching once the grown corpus pushes the boilerplate " +
    "over the cap") {
    val cap = 2L
    val boiler = ngramBoiler
    def words(seed: Int, n: Int) = ngramWords(seed, n)
    // a batch doc that IS the boilerplate: against a corpus where the
    // boilerplate stands alone in doc 2 it is a verbatim copy, and the
    // third corpus doc pushes the block over the cap
    val before = Seq(1L -> s"${words(1, 12)} $boiler", 2L -> boiler)
    val after = before :+ (3L -> s"${words(3, 12)} $boiler")
    def hotOf(docs: Seq[(Long, String)]) =
      operators.DedupQueries.hotShinglesOf(ngramPostings(docs), cap).count()
    assert(hotOf(before) == 0L && hotOf(after) > 0L,
      "fixture must cross the cap exactly at the third doc")
    val boilerOnly = Seq(10L -> boiler)
    assert(ngramCorpusMatches(after ++ boilerOnly, cap).isEmpty,
      "the grown-corpus rule must suppress a boilerplate-only match")
    assert(ngramCorpusMatches(after ++ boilerOnly, Long.MaxValue)
      .contains((10L, 2L)), "uncapped control: the copy of doc 2 is real")
  }

  test("exact dedup keeps one keeper per distinct text") {
    val d = operators.DedupQueries.dedupExact(spark, sf)
    val total = Tables.documents(spark, sf).count()
    assert(d.agg(sum("n_copies")).head.getLong(0) == total)
  }

  test("entity-block record linkage: blocked result equals the blocking-free " +
    "quadratic compare, and the plan has no cartesian/nested-loop join") {
    import org.apache.spark.sql.functions._
    val res = operators.DedupQueries.dedupEntityBlock(spark, sf)
    // blocking-free baseline: ALL ordered pairs, then the same distance
    // rule AND the same block rule (a blocked scheme may only ever DROP
    // cross-block true matches — assert it drops nothing else)
    val c = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    val naive = c.as("a").crossJoin(c.as("b"))
      .where(col("a.c_custkey") < col("b.c_custkey") &&
        expr("substring(a.c_name, 1, length(a.c_name) - 2)") ===
          expr("substring(b.c_name, 1, length(b.c_name) - 2)") &&
        levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.c_custkey"), col("b.c_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = res.select("custkey_a", "custkey_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == naive, s"blocked=${blocked.size} naive=${naive.size}")
    assert(res.collect().forall(_.getInt(2) == 1),
      "unique names: every matched pair must be at distance exactly 1")
    // candidates must come from the equi-join on the block key
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"entity blocking must plan as an equi-join:\n$plan")
  }

  test("entity hot-block cap: over-cap blocks are excluded from the " +
    "pairwise compare in the full AND incremental forms; under-cap " +
    "blocks are untouched") {
    import spark.implicits._
    val D = operators.DedupQueries
    // block "JohnSmith" (4 members, pairwise dist 1) crosses cap = 3
    // → hot, excluded; block "AcmeCorp" (2 members, dist 1) survives
    val cust = Seq(
      1L -> "JohnSmith01", 2L -> "JohnSmith02", 3L -> "JohnSmith03",
      4L -> "JohnSmith04", 6L -> "AcmeCorp01", 7L -> "AcmeCorp02")
      .toDF("c_custkey", "c_name")
    val capped = D.entityBlockOn(cust, cap = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((6L, 7L)), s"hot block leaked pairs: $capped")
    // uncapped control: the hot block's quadratic expansion is real —
    // C(4,2) = 6 pairs from the planted block alone
    assert(D.entityBlockOn(cust, cap = Long.MaxValue).count() == 7L)
    // incremental form: batch keys ≡ 0 mod 5. With cap = 4 the GROWN
    // JohnSmith block (4 corpus + 1 batch = 5 > 4) is hot — batch
    // record 5 reports nothing — while batch record 10 matches both
    // AcmeCorp corpus rows (grown block 3 ≤ 4)
    val grown = cust.union(Seq(5L -> "JohnSmith05", 10L -> "AcmeCorp03")
      .toDF("c_custkey", "c_name"))
    val inc = D.incrementalEntityBlockOn(grown, cap = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((10L, 6L), (10L, 7L)), s"incremental cap: $inc")
    // the hot set itself: exactly the planted block key
    val hot = D.hotEntityBlocksOf(D.entityBlocked(grown), cap = 4L)
      .collect().map(_.getString(0)).toSet
    assert(hot == Set("JohnSmith"), s"hot block keys: $hot")
    // the LOUD half: the hot-blocks report carries (blk, bf) for
    // exactly the excluded clusters, and is empty at the default cap
    val report = D.hotEntityBlockReportOn(grown, cap = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(report == Seq(("JohnSmith", 5L)), s"hot report: $report")
    assert(D.hotEntityBlockReportOn(Tables.customer(spark, sf)).count() == 0,
      "real test-SF data must report no hot blocks at the default cap")
    // the DEFAULT cap (1000) leaves the real sf fixture unchanged —
    // the digit-suffix alphabet bounds genuine blocks at 100 — which
    // is also what the blocked-vs-naive equality test above certifies
    assert(D.entityBlockOn(Tables.customer(spark, sf)).count() ==
      D.entityBlockOn(Tables.customer(spark, sf), cap = Long.MaxValue)
        .count())
  }

  test("incremental entity hot-block cap counts every batch member: two " +
    "batch records in one warm corpus block push it over the cap and " +
    "neither reports; a live block's match is kept") {
    import spark.implicits._
    // cap = 3: the WarmName block has corpus bf 2, and two batch records
    // grow it to 4 > 3, so neither reports (nor their in-batch pair);
    // AcmeCorp (corpus bf 1, grown 2) stays live
    val warm = Seq(1L -> "WarmName001", 2L -> "WarmName002",
      3L -> "AcmeCorp01", 5L -> "WarmName003", 10L -> "WarmName004",
      15L -> "AcmeCorp02").toDF("c_custkey", "c_name")
    val warmInc = operators.DedupQueries
      .incrementalEntityBlockOn(warm, cap = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(warmInc == Set((15L, 3L, 1)), s"grown-frequency rule: $warmInc")
  }

  test("incremental entity admission: a same-block distance-1 record " +
    "matches its corpus partner; a same-block distance-2 record and a " +
    "cross-block near-name stay silent") {
    import spark.implicits._
    // corpus keys ≢ 0 mod 5; batch keys ≡ 0 mod 5. 5 matches 1 (same
    // block, dist 1); 10 is same-block but dist 2; 15 is dist 1 from
    // doc 1 but in a DIFFERENT block (the blocking rule)
    val cust = Seq(1L -> "AcmeCorp01", 2L -> "BetaLtd07",
      5L -> "AcmeCorp02", 10L -> "BetaLtd99", 15L -> "AcmeCorz01")
      .toDF("c_custkey", "c_name")
    val got = operators.DedupQueries.incrementalEntityBlockOn(cust)
      .where($"match_src" === "corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == Set((5L, 1L, 1)), s"planted entity match: $got")
  }

  test("LSH ANN recall@10 vs brute force is high on sf0.001") {
    val brute = operators.SimilarityQueries.simKnnBrute(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.SimilarityQueries.simKnnLsh(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall=$recall") // 4 bits × 16 tables: measured 0.94
  }

  test("connected components: distributed min-label propagation (forced " +
    "cutover 0) equals driver union-find, component for component") {
    import spark.implicits._
    // a 4-chain (diameter 3 → several propagation rounds), plus two
    // smaller components, plus the real sf0.001 pair graph
    val planted = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("doc_a", "doc_b")
    def comps(pairs: org.apache.spark.sql.DataFrame, cutover: Long) =
      operators.DedupQueries.componentsOf(pairs, cutover)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val distributed = comps(planted, 0L)
    val unionFind   = comps(planted, Long.MaxValue)
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(distributed == expected)
    assert(unionFind == expected)
    val realPairs = operators.DedupQueries.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b")
    assert(comps(realPairs, 0L) == comps(realPairs, Long.MaxValue))
    // ids at 2^62: a long sum of their labels overflows under ANSI,
    // and the convergence probe must not
    val big = 1L << 62
    val hugeIds = Seq((big + 1, big + 2), (big + 2, big + 3))
      .toDF("doc_a", "doc_b")
    val hugeExpected = Map(big + 1 -> (big + 1), big + 2 -> (big + 1),
      big + 3 -> (big + 1))
    assert(comps(hugeIds, 0L) == hugeExpected)
    assert(comps(hugeIds, Long.MaxValue) == hugeExpected)
  }

  test("SemDeDup: an exact-duplicate pair keeps exactly its lower-id " +
    "member; a near-dup pair keeps the member FARTHER from the centroid") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (2L, Seq(1.0, 0.0, 0.0, 0.0), 0), // exact dup of 1 (cos = 1)
      (3L, Seq(0.0, 1.0, 0.0, 0.0), 0), // orthogonal — no τ-partner
      (4L, Seq(0.0, 0.0, 1.0, 0.0), 1), // csim_centroid ≈ 0.99862 (core)
      (5L, Seq(0.0, 0.0, 0.9, 0.1), 1), // csim_centroid ≈ 0.99830 (edge)
    ).toDF("vec_id", "embedding", "label")
    val got = operators.SimilarityQueries.semDedupOn(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Int]("cluster"), r.getAs[Int]("is_kept"))).toMap
    assert(got(1L) == (0, 1) && got(2L) == (0, 0),
      s"identical pair must keep the lower id only: $got")
    assert(got(3L) == (0, 1), "orthogonal member untouched")
    // cos(4,5) ≈ 0.994 ≥ τ; 5 sits farther from the (0,0,.95,.05)
    // centroid, so the paper's low-centroid-similarity keeper keeps 5
    assert(got(4L) == (1, 0) && got(5L) == (1, 1),
      s"near-dup pair must keep the cluster-edge member: $got")
  }

  test("SemDeDup under the TRAINED quantizer: the keeper properties " +
    "survive a Lloyd-converged codebook (round-11 trained variant), " +
    "and the trained assignment is the converged partition") {
    import spark.implicits._
    val S = operators.SimilarityQueries
    // same fixture as above; labels are already the ideal partition,
    // so the converged codebook equals the label means and the trained
    // variant must reproduce the oracled query's verdicts exactly
    val docs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (2L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (3L, Seq(0.0, 1.0, 0.0, 0.0), 0),
      (4L, Seq(0.0, 0.0, 1.0, 0.0), 1),
      (5L, Seq(0.0, 0.0, 0.9, 0.1), 1),
    ).toDF("vec_id", "embedding", "label")
    val trained = S.kmeansFitOn(docs, maxIter = 5, tolL1 = 1e-9).codebook
    val got = S.semDedupOfAssigned(S.semDedupAssignedWith(docs, trained))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("cluster"), r.getAs[Int]("is_kept"))).toMap
    val baseline = S.semDedupOn(docs).collect().map(r => r.getLong(0) ->
      (r.getAs[Int]("cluster"), r.getAs[Int]("is_kept"))).toMap
    assert(got == baseline,
      s"trained-quantizer verdicts diverged at the fixed point: " +
        s"$got vs $baseline")
  }

  test("index upsert: the delta batch is assigned with the BASE codebook " +
    "— a planted delta lands in its NEAREST base cluster regardless of " +
    "its own label, and no base posting moves") {
    import spark.implicits._
    // cut = 10·90/100 = 9 → base ids 0..8, delta id {9}. Base clusters:
    // label 0 (ids 0-4) around e1, label 1 (ids 5-8) around e2. The
    // delta vector carries label 1 but sits at e1 — the existing
    // codebook must route it to cluster 0 (labels play no role in
    // assignment; re-deriving centroids WITH the delta would shift
    // cluster 1's centroid instead).
    val docs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (1L, Seq(0.9, 0.1, 0.0, 0.0), 0),
      (2L, Seq(0.9, 0.0, 0.1, 0.0), 0),
      (3L, Seq(1.0, 0.1, 0.0, 0.0), 0),
      (4L, Seq(0.9, 0.0, 0.0, 0.1), 0),
      (5L, Seq(0.0, 0.0, 1.0, 0.0), 1),
      (6L, Seq(0.1, 0.0, 0.9, 0.0), 1),
      (7L, Seq(0.0, 0.1, 1.0, 0.0), 1),
      (8L, Seq(0.0, 0.0, 0.9, 0.1), 1),
      (9L, Seq(0.95, 0.05, 0.0, 0.0), 1), // delta: nearest = cluster 0
    ).toDF("vec_id", "embedding", "label")
    val got = operators.SimilarityQueries.indexUpsertOn(docs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(0) == ((5L, 1L, 6L)),
      s"delta must join cluster 0 with base postings intact: $got")
    assert(got(1) == ((4L, 0L, 4L)),
      s"cluster 1 must be untouched by the upsert: $got")
  }

  test("embedding profiler: a constant dimension is collapsed, a dead " +
    "dimension counts zeros, a hand-computed spread matches, and the " +
    "exact-sum path is partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(0.5, 0.0, 1.0)),
      (2L, Seq(0.5, 0.0, 3.0)),
      (3L, Seq(0.5, 0.5, 2.0)),
      (4L, Seq(0.5, 0.0, 2.0)),
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      operators.SimilarityQueries.embeddingStatsOn(df).collect()
        .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3),
          r.getDouble(6), r.getInt(7))).toMap
    val got = run(docs)
    assert(got(0) == ((0.5, 0.0, 0.0, 1)), s"constant dim: ${got(0)}")
    assert(got(1) == ((0.125, 0.25, 0.75, 0)), s"dead dim: ${got(1)}")
    assert(got(2) == ((2.0, 0.816497, 0.0, 0)), s"spread dim: ${got(2)}")
    assert(run(docs.repartition(7)) == got, "partition-variant statistics")
  }

  test("incremental keeper table: == the full keep_best frame on the " +
    "real corpus; planted batch doc bridges two existing clusters and " +
    "displaces both keepers; untouched clusters and batch singletons " +
    "carry through") {
    import spark.implicits._
    val D = operators.DedupQueries
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    // real corpus: incremental == the full derivation, frame-for-frame
    val docs = Tables.documents(spark, sf)
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val full = rows(D.keepBestOn(
      docs.select(col("doc_id"),
        floor(operators.TextQueries.qualityScoreCol(col("text"), t)
          * lit(1000000.0) + lit(0.5)).cast("long").as("qmicro")),
      D.componentsOf(D.ngramJaccardOn(docs).select(col("doc_a"),
        col("doc_b")), 2000000L)))
    assert(rows(D.keepBestIncrementalOn(docs)) == full,
      "incremental keeper table != full keep_best")
    // planted fixture: shared shingle content so docs 1,2 cluster and
    // docs 3,4 cluster in the EXISTING corpus; batch doc 10 overlaps
    // both (bridging the clusters) with the highest quality; batch doc
    // 20 is an unrelated singleton. Quality ordering is forced by text
    // length (longer => higher score for short texts).
    def words(seed: Int, n: Int) =
      (0 until n).map(i => f"w$seed%02dx$i%03d")
    val a = words(1, 12); val b = words(2, 12)
    val planted = Seq(
      (1L, a.mkString(" ")),                       // cluster A
      (2L, (a :+ "pad1").mkString(" ")),            // cluster A
      (3L, b.mkString(" ")),                        // cluster B
      (4L, (b :+ "pad2").mkString(" ")),            // cluster B
      // batch: first half of A's shingles + first half of B's... to
      // bridge, overlap must reach jaccard >= 0.5 with a member of
      // each — use near-copies instead: doc 10 = a + b interleaved is
      // too diluted; bridge via two batch docs in ONE batch cluster:
      (10L, (a ++ Seq("zz1", "zz2")).mkString(" ")),  // near-dup of A, long
      (15L, (b ++ Seq("zz1", "zz2")).mkString(" ")),  // near-dup of B, long
      (20L, words(9, 6).mkString(" "))                // unrelated singleton
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val inc = rows(D.keepBestIncrementalOn(planted))
      .map(r => r._1 -> ((r._2, r._4))).toMap
    val fullP = rows(D.keepBestOn(
      planted.select(col("doc_id"),
        floor(operators.TextQueries.qualityScoreCol(col("text"),
          graft.functions.TextFunctions.tokens(col("text")))
          * lit(1000000.0) + lit(0.5)).cast("long").as("qmicro")),
      D.componentsOf(D.ngramJaccardOn(planted).select(col("doc_a"),
        col("doc_b")), 2000000L)))
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(inc == fullP, s"planted incremental $inc != full $fullP")
    // the batch docs joined their clusters and, being longest, win
    assert(inc.contains(1L) && inc(1L)._1 == 10L && inc(1L)._2 == 3L,
      s"batch near-dup did not displace cluster A's keeper: $inc")
    assert(inc.contains(3L) && inc(3L)._1 == 15L && inc(3L)._2 == 3L,
      s"batch near-dup did not displace cluster B's keeper: $inc")
    assert(inc.contains(20L) && inc(20L) == ((20L, 1L)),
      s"batch singleton lost: $inc")
  }

  test("incremental corpus-clean funnel: == the full per-doc funnel " +
    "restricted to batch docs on the real corpus (independently " +
    "recomputed); planted fixture pins exact-vs-existing, " +
    "exact-in-batch, and near-dup-of-existing verdicts") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val D = operators.DedupQueries
    val T = operators.TextQueries
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).toSeq
    // real corpus: independent whole-corpus per-doc funnel, restricted
    val docs = Tables.documents(spark, sf)
    val t = tokens(col("text"))
    // deliberate-naive-oracle: whole-corpus per-digest window — the
    // naive frame-equality oracle the incremental funnel is pinned
    // against; window-shape noise here is the oracle side, not the
    // plan under test
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h"))
    def asInt(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
    val labels = D.componentsOf(
      D.ngramJaccardOn(docs).select(col("doc_a"), col("doc_b")), 2000000L)
    val expected = rows(docs.select(col("doc_id"),
        md5(col("text")).as("h"),
        (T.predictedLangCol(t) === col("lang")).as("lang_ok"),
        (T.qualityScoreCol(col("text"), t) >= 0.5).as("qual_ok"))
      .withColumn("exact_b",
        col("doc_id") === min(col("doc_id")).over(w))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("near_b", col("exact_b") &&
        (col("component_id").isNull || col("component_id") === col("doc_id")))
      .where(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), asInt(col("exact_b")).as("exact_keep"),
        asInt(col("near_b")).as("near_keep"),
        asInt(col("lang_ok")).as("lang_ok"),
        asInt(col("qual_ok")).as("qual_ok"),
        asInt(col("near_b") && col("lang_ok") && col("qual_ok"))
          .as("admitted"))
      .orderBy(col("doc_id")))
    assert(rows(D.incrementalCorpusCleanOn(docs)) == expected,
      "incremental funnel != full per-doc funnel restricted to the batch")
    // planted fixture: the dedup verdicts
    def doc(id: Long, text: String) =
      (id, text, "en", text.length.toLong)
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = shared + " lambda" // high-Jaccard neighbor of doc 2
    val planted = Seq(
      doc(1L, "the quick brown fox jumps over the lazy dog again"),
      doc(2L, shared),
      doc(5L, "the quick brown fox jumps over the lazy dog again"), // = doc 1
      doc(10L, near),                       // near-dup of existing 2
      doc(15L, "completely original content words here one"),
      doc(25L, "completely original content words here one"),  // = 15 in-batch
      doc(20L, "unique clean brand new writing nothing shared")
    ).toDF("doc_id", "text", "lang", "n_chars")
    val got = rows(D.incrementalCorpusCleanOn(planted))
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(5L) == ((0, 0)), s"dup-of-existing not blocked: $got")
    assert(got(10L)._1 == 1 && got(10L)._2 == 0,
      s"near-dup-of-existing not blocked at the near stage: $got")
    assert(got(15L) == ((1, 1)), s"in-batch keeper blocked: $got")
    assert(got(25L) == ((0, 0)), s"in-batch later dup admitted: $got")
    assert(got(20L) == ((1, 1)), s"clean doc blocked: $got")
  }

  test("incremental corpus-clean flags on a planted fixture: a corpus " +
    "duplicate is blocked, a fresh doc passes, Spanish text fails the " +
    "en lang gate, and every batch doc gets a verdict row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the and of to in that it was for on", "en"),
      (2L, "shared corpus content here words tokens", "en"),
      (5L, "the and of to in that it was for on", "en"),   // = doc 1
      (10L, "el la de que en los se del las por", "en"),    // es text
      (15L, "fresh original prose with the and of to in many words", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length($"text").cast("long"))
    // (exact_keep, lang_ok) per batch doc
    val got = operators.DedupQueries.incrementalCorpusCleanOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(3)))).toMap
    assert(got.keySet == Set(5L, 10L, 15L), s"verdict rows: $got")
    assert(got(5L)._1 == 0, s"corpus duplicate not flagged: $got")
    assert(got(15L)._1 == 1, s"fresh doc flagged as dup: $got")
    assert(got(10L)._2 == 0, s"Spanish text passed the en lang gate: $got")
  }

  test("incremental embedding admission: cross-batch exact copy flagged " +
    "as 'corpus' at cosine 1.0, in-batch copy pair points the later " +
    "vector at the earlier one, below-threshold vector stays silent; " +
    "incremental == full pairs restricted to batch-touching " +
    "(direction-mapped)") {
    import spark.implicits._
    val S = operators.SimilarityQueries
    // orthogonal-ish deterministic vectors; dups share every table
    // signature by construction, so they are ALWAYS candidates
    def v(seed: Int): Seq[Double] =
      (0 until 8).map(d => math.sin(seed * 31 + d * 7).abs + 0.1)
    val emb = Seq(
      1L -> v(1), 2L -> v(2), 3L -> v(3),   // existing corpus
      5L -> v(1),                            // batch: copy of corpus 1
      10L -> v(4), 20L -> v(4),              // in-batch copy pair
      15L -> v(1).map(-_)                    // batch: cosine −1 to vec 1
    ).toDF("vec_id", "embedding")
    val got = S.incrementalEmbOn(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
    assert(got.contains((5L, 1L, "corpus", 1.0)),
      s"cross-batch exact copy not flagged: $got")
    assert(got.contains((20L, 10L, "batch", 1.0)),
      s"in-batch copy pair lost or misdirected: $got")
    assert(!got.exists(t => t._1 == 15L),
      s"anti-parallel vector admitted: $got")
    assert(got.forall(_._1 % 5 == 0), s"existing vec on the batch side: $got")
    assert(got.forall(_._4 >= 0.3), s"below-threshold match emitted: $got")
    // equivalence with the full pair derivation, direction-mapped
    val full = S.dedupEmbCosineOn(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = full.flatMap { case (a, b, cs) =>
      val (aB, bB) = (a % 5 == 0, b % 5 == 0)
      if (aB && bB) Some((b, a, "batch", cs))
      else if (aB) Some((a, b, "corpus", cs))
      else if (bB) Some((b, a, "corpus", cs))
      else None
    }.toSet
    assert(got.toSet == expected,
      s"incremental diverged from batch-touching full pairs:\n$got\n$expected")
    // SHAPE-GATE parity (round-19): the verify tail has two shapes —
    // the grouped/broadcast form when the batch side broadcasts and
    // the classic two-join form elsewhere. Drive both through the
    // split-form entry point on the same fixture and pin equal rows.
    val embV = emb.select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val bits = S.sigBitsFor(emb.count())
    val sigs = S.embSigsOf(embV, bits, 8)
    def viaSplit(hinted: Boolean) = {
      val inS = sigs.where(expr("pmod(vec_id, 5) = 0"))
      val exS = sigs.where(expr("pmod(vec_id, 5) != 0"))
      S.incrementalEmbOfSigs(exS,
          operators.DedupQueries.BatchSide(inS, broadcast = hinted), embV)
        .collect().map(_.toString).toList
    }
    assert(viaSplit(hinted = true) == viaSplit(hinted = false),
      "gated (grouped) and ungated (classic) verify shapes diverged")
  }

  test("embedding near-dup LSH blocking: a planted exact duplicate is " +
    "always a candidate (identical sigs in every table) and the " +
    "block-key cardinality grows with corpus size") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val dup = base.where($"vec_id" === 0)
      .select(lit(1000000L).as("vec_id"), $"embedding")
    val pairs = operators.SimilarityQueries
      .dedupEmbCosineOn(base.unionByName(dup))
    val hit = pairs.where($"vec_a" === 0 && $"vec_b" === 1000000L)
      .select("cos_sim").collect()
    assert(hit.length == 1 && hit(0).getDouble(0) == 1.0,
      s"planted dup not found: ${hit.mkString(",")}")
    // 2^bits ≈ √n buckets per table: strictly more blocks as n grows
    val bits = operators.SimilarityQueries.sigBitsFor _
    assert(bits(500) == 5 && bits(5000) == 7)
    assert(bits(500) < bits(500000) && bits(500000) < bits(5000000000L))
    assert(bits(10) == 4) // floor
    // exact-arithmetic contract: smallest k in [4,31] with 4^k >= n,
    // verified against a BigInt replay at every power-of-two boundary.
    // The old ceil(log2(n)/2) form drifted here (n=2^50+1 gave 25 not
    // 26; n=2^58 gave 30 not 29) with libm-dependent rounding that
    // could split Spark from the DuckDB oracle.
    assert(bits(1L << 50) == 25 && bits((1L << 50) + 1) == 26)
    assert(bits(1L << 58) == 29 && bits((1L << 58) + 1) == 30)
    for (k <- 2 to 62; d <- Seq(-1L, 0L, 1L)) {
      val n = (1L << k) + d
      if (n > 1) {
        var e = 4
        while (e < 31 && (BigInt(1) << (2 * e)) < BigInt(n)) e += 1
        assert(bits(n) == e, s"sigBitsFor($n) = ${bits(n)}, expected $e")
      }
    }
  }

  test("IVF assignment is a pure projection: exactly two Window nodes " +
    "(the adaptive-probe cumsum over <= NQueries x |clusters| rows, " +
    "and the final top-k) in the executed plan") {
    val plan = operators.SimilarityQueries.simKnnIvf(spark, sf)
      .queryExecution.executedPlan.toString
    val nWindow = "\\bWindow\\b".r.findAllIn(plan).size
    assert(nWindow == 2,
      s"expected 2 Windows (probe cumsum, final rank), got $nWindow:\n$plan")
    // the fixed-probe frontier baseline keeps the single-Window shape
    val fixedPlan = operators.SimilarityQueries
      .simKnnIvfWith(spark, sf, operators.SimilarityQueries.NProbe)
      .queryExecution.executedPlan.toString
    val nFixed = "\\bWindow\\b".r.findAllIn(fixedPlan).size
    assert(nFixed == 1, s"fixed-probe form: expected 1 Window, got $nFixed")
  }

  test("IVF ANN recall@10 vs brute force on sf0.001") {
    val brute = operators.SimilarityQueries.simKnnBrute(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = operators.SimilarityQueries.simKnnIvf(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall=$recall") // 6-probe over 10 clusters: measured 0.78
  }

  test("PQ ANN recall@10 vs brute force on sf0.001 (shortlist + exact " +
    "re-rank); pure-PQ ordering is documented-poor on this fixture") {
    val brute = operators.SimilarityQueries.simKnnBrute(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = operators.SimilarityQueries.simKnnPq(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall=$recall") // k=64, shortlist 50: measured 0.82
  }

  test("PQ encoding is a pure projection: exactly two Window nodes " +
    "(shortlist + final re-rank), no Window/Sort in the encode stage") {
    val plan = operators.SimilarityQueries.simKnnPq(spark, sf)
      .queryExecution.executedPlan.toString
    val nWindow = "\\bWindow\\b".r.findAllIn(plan).size
    assert(nWindow == 2,
      s"expected 2 Windows (shortlist, re-rank), got $nWindow:\n$plan")
  }

  test("approx_count_distinct within 5% of exact at sf0.001") {
    val approx = operators.AggQueries.aggApproxNgroups(spark, sf).head
    val exact = operators.AggQueries.aggNgroups(spark, sf).head.getLong(0)
    val rel = math.abs(approx.getLong(0) - exact).toDouble / exact
    assert(rel < 0.05, s"approx=${approx.getLong(0)} exact=$exact rel=$rel")
  }

  test("HLL sketch merge: every estimate within 5% of exact, and the " +
    "union of per-group sketches equals the direct whole-column sketch") {
    val rows = operators.AggQueries.aggHllMerge(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactPer = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactPer.foreach { case (et, exact) =>
      val est = rows(et)
      assert(math.abs(est - exact).toDouble / exact < 0.05,
        s"$et: est=$est exact=$exact")
    }
    val exactAll = Tables.events(spark, sf)
      .agg(countDistinct(col("user_id"))).head.getLong(0)
    assert(math.abs(rows("__all_merged") - exactAll).toDouble / exactAll < 0.05)
    // merge-vs-direct: the union of group sketches must estimate the
    // same value as one sketch over the whole column (associativity —
    // the property the 1000-executor rollup depends on)
    val direct = Tables.events(spark, sf)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
      .head.getLong(0)
    assert(rows("__all_merged") == direct,
      s"merged=${rows("__all_merged")} direct=$direct")
  }

  test("theta set algebra: exact below the sketch threshold (the test-SF " +
    "regime), 4%-bounded in estimation mode on a planted 75k-id frame") {
    import spark.implicits._
    // (1) exact regime: daily actives sit far below the 4096-entry
    // nominal, so every estimate must EQUAL the exact set operation
    val rows = plans.ThetaSets.aggThetaSetops(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
    val a = ev.where(col("day") === "2024-01-01")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val b = ev.where(col("day") === "2024-01-02")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(rows("a_only") == a.size.toLong, s"a: ${rows("a_only")} vs ${a.size}")
    assert(rows("b_only") == b.size.toLong, s"b: ${rows("b_only")} vs ${b.size}")
    assert(rows("union") == (a ++ b).size.toLong)
    assert(rows("intersect") == a.intersect(b).size.toLong)
    assert(rows("a_not_b") == a.diff(b).size.toLong)

    // (2) estimation regime: 50k vs 50k ids overlapping by 25k — far
    // past the nominal, so the sketches sample; every answer must stay
    // within 4% relative error (k=4096 → rse ≈ 1.6%, 4% ≈ 2.5σ)
    val big = spark.range(0, 50000).select(lit("x").as("k"), col("id"))
      .unionAll(spark.range(25000, 75000).select(lit("y").as("k"), col("id")))
      .as[(String, Long)]
    val est = plans.ThetaSets.setopsOn(big, "x", "y").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Map("a_only" -> 50000L, "b_only" -> 50000L,
      "union" -> 75000L, "intersect" -> 25000L, "a_not_b" -> 25000L)
    exact.foreach { case (op, ex) =>
      val rel = math.abs(est(op) - ex).toDouble / ex
      assert(rel < 0.04, s"$op: est=${est(op)} exact=$ex rel=$rel")
    }
  }

  test("txt_tfidf: the token->df join is planner-chosen (the only " +
    "broadcast hint is the 1-row corpus count)") {
    // The (token, df) dim has one row per distinct token — web-corpus
    // vocabulary is 1e8-1e9 rows, so a forced broadcast would OOM at
    // scale. The analyzed plan must carry exactly one hint: the 1-row n.
    val analyzed = operators.TextQueries.txtTfidf(spark, sf)
      .queryExecution.analyzed.toString
    val nHints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(nHints == 1,
      s"expected exactly 1 broadcast hint (the 1-row n), got $nHints:\n$analyzed")
  }

  test("incremental dedup admits only novel incoming content (planted " +
    "existing-dup, in-batch-dup, and novel docs)") {
    import spark.implicits._
    // ids 1,2 are the existing corpus (id % 5 != 0); 5,10,15,20 the
    // incoming batch. 5 duplicates existing 1 → rejected; 15 duplicates
    // 10 in-batch → min-id 10 admitted once; 20 is novel → admitted.
    val docs = Seq(
      (1L, "alpha"), (2L, "beta"),
      (5L, "alpha"), (10L, "gamma"), (15L, "gamma"), (20L, "delta")
    ).toDF("doc_id", "text")
    val admitted = operators.DedupQueries.incrementalOn(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(10L, 20L), s"got $admitted")
  }

  test("temperature rebalancing: the smallest language keeps everything, " +
    "rates fall with language size, kept counts are consistent") {
    val rows = operators.PipelineOps.smpTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val minTotal = rows.map(_._2).min
    rows.foreach { case (lang, nTotal, rateBp, nKept) =>
      assert(nKept <= nTotal, s"$lang kept more than it has")
      assert(rateBp <= 10000, s"$lang rate above 100%")
      if (nTotal == minTotal)
        assert(rateBp == 10000 && nKept == nTotal,
          s"smallest language $lang must keep everything, got " +
            s"rate=$rateBp kept=$nKept/$nTotal")
    }
    // rates are anti-monotone in corpus size: a bigger language never
    // gets a higher keep rate
    for (pair <- rows.sortBy(_._2).sliding(2) if pair.length == 2) {
      val (a, b) = (pair(0), pair(1))
      if (a._2 != b._2)
        assert(a._3 >= b._3,
          s"rate not anti-monotone: ${a._1}(${a._2})=${a._3} vs " +
            s"${b._1}(${b._2})=${b._3}")
    }
  }

  test("corpus-clean funnel: one documents scan, no stage-count union " +
    "(every per-doc flag computed in a single pass)") {
    // The naive five-branch union re-ran its shared prefix per stage
    // (exact-keep ×4, langid ×2). The restructured funnel must keep:
    // exactly ONE documents FileScan in the returned plan (the pair
    // derivation inside dedupComponents materializes at build time and
    // surfaces as a local relation at test scale) and NO union — the
    // five stage rows explode out of one conditional aggregate.
    val plan = operators.DedupQueries.pipeCorpusClean(spark, sf)
      .queryExecution.executedPlan.toString
    val nScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(nScans == 1,
      s"expected exactly one documents scan, got $nScans:\n$plan")
    assert(!plan.contains("Union"),
      s"stage counts must come from one aggregate, not a union:\n$plan")
  }

  test("un-forced dim joins still resolve to broadcast-hash at test SF " +
    "(guard against a silent sort-merge fallback costing the local bench)") {
    // These queries had their forced broadcast hints dropped because the
    // dim is data-sized at 100 TB (part / customer grow with the
    // corpus). At test SF the planner must still pick broadcast-hash
    // from the measured parquet sizes — if stats estimation ever
    // regresses to a sort-merge join here, this fails loudly instead of
    // silently slowing the bench.
    // Inspect the plan AFTER execution: a derived dim (custRegion) has
    // no static size estimate, so its join legitimately starts as a
    // sort-merge in the initial plan and is converted to broadcast by
    // AQE once the runtime shuffle size is measured — the final
    // adaptive plan is the one that must contain no sort-merge join.
    for ((name, df) <- Seq(
        "salesNested" -> Tables.salesNested(spark, sf),
        "evt_user_enrich(batch)" ->
          streaming.EventStreams.evtUserEnrich(spark, sf),
        "join_multiway_region" ->
          operators.JoinWindowQueries.joinMultiwayRegion(spark, sf))) {
      // materialize THIS frame's own plan (count() would build a new
      // QueryExecution) so AQE finalizes it; the adaptive toString
      // appends the pre-AQE "== Initial Plan ==" section, which
      // legitimately contains the sort-merge start — assert on the
      // final section only
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: expected a broadcast-hash join at test SF:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: sort-merge fallback at test SF:\n$plan")
    }
  }

  test("multimodal typed decode pipeline: schema + determinism") {
    val ds = operators.MultimodalQueries.decodeAll(spark, sf)
    val one = ds.filter(_.doc_id == 0L).head()
    assert(one.width >= 64 && one.height >= 64 && one.n_frames >= 1)
    val again = operators.MultimodalQueries.decodeAll(spark, sf)
      .filter(_.doc_id == 0L).head()
    assert(one == again)
    assert(ds.count() == Tables.documents(spark, sf).count())
  }

  test("two-level pigeonhole keys: every hamming<=3 pair shares a key " +
    "(incl. flips spread across three level-1 chunks)") {
    import spark.implicits._
    val h0 = 0x0ABCDEF1234567L & ((1L << 60) - 1)
    // adversarial flip sets: same-chunk, chunk-boundary-straddling,
    // and the worst case for single-level reasoning — three flips in
    // three DIFFERENT 15-bit chunks (exactly one chunk left exact)
    val flipSets = Seq(
      Seq.empty[Int], Seq(0), Seq(59), Seq(0, 1, 2), Seq(14, 15, 16),
      Seq(0, 16, 31), Seq(5, 20, 35), Seq(44, 58, 59), Seq(7, 22, 37),
      Seq(0, 15, 30), Seq(14, 29, 44))
    val pairs = flipSets.map { fs =>
      (h0, fs.foldLeft(h0)((h, b) => h ^ (1L << b)), fs.mkString("+"))
    }.toDF("ha", "hb", "flips")
    for (levels <- Seq(2, 3, 4)) {
      val overlap = pairs.select(col("flips"),
        arrays_overlap(
          operators.DedupQueries.pigeonholeKeys(col("ha"), levels),
          operators.DedupQueries.pigeonholeKeys(col("hb"), levels)).as("shared"))
        .collect()
      overlap.foreach { r =>
        assert(r.getBoolean(1),
          s"no shared $levels-level key for flips {${r.getString(0)}}")
      }
    }
  }

  test("incremental components: the quotient-graph merge over base labels " +
    "+ batch-touching edges == the full recompute — planted cross-batch " +
    "merge, batch-only pair, first-pairing of an unpaired base doc, " +
    "untouched base component — and on the real corpus") {
    import spark.implicits._
    val D = operators.DedupQueries
    // 40-token texts; near-dups edit one token (jaccard ~ 0.9)
    def toks(seed: Int) = (0 until 40).map(i => f"s$seed%02dw$i%02d")
    def near(seed: Int, at: Int, tag: String) =
      toks(seed).updated(at, tag).mkString(" ")
    val rows = Seq(
      // base component {1, 2}
      1L -> toks(1).mkString(" "), 2L -> near(1, 7, "editA"),
      // base component {3, 4}
      3L -> toks(2).mkString(" "), 4L -> near(2, 9, "editB"),
      // batch doc 5 bridges BOTH base components (near-dup of 2 and 3
      // via a text overlapping each): use a doc that is near 2
      5L -> near(1, 7, "editC"), // pairs with 1 and 2 (same family)
      // batch-batch new pair {15, 20}
      15L -> toks(5).mkString(" "), // 15 % 5 == 0 → batch
      20L -> near(5, 3, "editD"),   // 20 % 5 == 0 → batch
      // batch doc 10 first-pairs base doc 11 (11 unpaired in base)
      10L -> near(7, 1, "editE"), 11L -> toks(7).mkString(" "),
      // untouched base component {21, 22}
      21L -> toks(9).mkString(" "), 22L -> near(9, 5, "editF"),
      // unpaired noise
      33L -> toks(12).mkString(" "))
      .map { case (id, t) => (id, t, t.length.toLong) }
    val docs = rows.toDF("doc_id", "text", "n_chars")
    // edge derivation: batch-touching pairs == full pairs touching batch
    val full = D.ngramJaccardOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val touching = D.ngramJaccardTouchingBatchOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(touching == full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0),
      s"touching-edge derivation diverged: $touching vs $full")
    // label merge: incremental == full recompute
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inc = labels(D.incrementalComponentsOn(docs))
    val recomputed = labels(D.componentsOf(
      D.ngramJaccardOn(docs).select(col("doc_a"), col("doc_b")), 0L))
    assert(inc == recomputed,
      s"incremental labels diverged from full recompute:\n$inc\n$recomputed")
    // the bridge really merged two base components through doc 5
    val byDoc = inc.toMap
    assert(byDoc(5L) == byDoc(1L) && byDoc(2L) == byDoc(1L),
      s"cross-batch bridge failed to merge: $inc")
    assert(byDoc(15L) == byDoc(20L), "batch-batch pair unmerged")
    assert(byDoc(10L) == byDoc(11L), "first-paired base doc missed")
    assert(byDoc(21L) == 21L && byDoc(22L) == 21L, "untouched base moved")
    assert(!byDoc.contains(33L), "unpaired doc must not be labeled")
    // real corpus: incremental == registered full query
    val realInc = labels(D.incrementalComponentsOn(
      Tables.documents(spark, sf)))
    val realFull = labels(D.dedupComponents(spark, sf))
    assert(realInc == realFull, "incremental != full on the corpus")
  }

  test("staged adaptive chunk construction == explode(pigeonholeKeys) at " +
    "BOTH levels (the codegen-sized form cannot drift from the reference " +
    "expression)") {
    import spark.implicits._
    val D = operators.DedupQueries
    // adversarial bit patterns: all-ones, alternating, single bits at
    // chunk boundaries, pseudo-random
    val hs = Seq(0L, (1L << 60) - 1, 0x555555555555555L, 1L << 14,
      1L << 15, 1L << 44, 1L << 59, 0x123456789ABCDEL, 0xFEDCBA987654L)
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val hashes = hs.toDF("doc_id", "h")
    def reference(levels: Int) = hashes
      .select(col("doc_id"), explode(D.pigeonholeKeys(col("h"), levels))
        .as("k"))
      .select(col("doc_id"), col("k.chunk_idx"), col("k.chunk_val"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sorted
    for ((counted, levels) <- Seq(
        spark.range(10).toDF() -> 2, spark.range(20001).toDF() -> 3,
        spark.range(200001).toDF() -> 4)) {
      val got = D.adaptiveChunksOf(hashes, "h", counted)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_val"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted
      val want =
        if (levels == 4) interpretedOnly(reference(levels))
        else reference(levels)
      assert(got == want, s"staged form diverged at $levels levels")
    }
    // the FIXED-level form (store-served / rehearsal path) at every
    // level
    for (levels <- Seq(2, 3, 4)) {
      val got = D.chunksAtLevel(hashes, "h", levels)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_val"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted
      val want =
        if (levels == 4) interpretedOnly(reference(levels))
        else reference(levels)
      assert(got == want,
        s"fixed-level staged form diverged at $levels levels")
    }
  }

  test("fused chunk key: injective at every level (chunk_idx < 256, " +
    "chunk_val < 2^48, so idx<<48|val never overlaps) and the fused-key " +
    "candidate join == the (chunk_idx, chunk_val) pair join row-for-row") {
    import spark.implicits._
    val D = operators.DedupQueries
    // planted population: an exact dup pair, a hamming-2 near pair,
    // adversarial bit patterns, and unrelated hashes
    val hs = Seq(
      1L -> 0x0123456789ABCDEFL, 2L -> 0x0123456789ABCDEFL, // exact dup
      3L -> 0x7777777777777777L,
      4L -> (0x7777777777777777L ^ (1L << 3) ^ (1L << 40)), // hamming 2
      5L -> 0x5555555555555555L, 6L -> ((1L << 60) - 1),
      7L -> 0L, 8L -> 0x123456789ABCDEL)
    val hashes = hs.toDF("doc_id", "h")
    for (level <- Seq(2, 3, 4)) {
      val chunks = D.chunksAtLevel(hashes, "h", level)
      // injectivity bounds: both fields fit their fusion slots
      val bounds = chunks.agg(max(col("chunk_idx")).as("mi"),
        max(col("chunk_val")).as("mv")).head
      assert(bounds.getInt(0) < 256,
        s"chunk_idx ${bounds.getInt(0)} >= 256 at level $level")
      assert(bounds.getLong(1) < (1L << 48),
        s"chunk_val ${bounds.getLong(1)} >= 2^48 at level $level")
      // fused-key production join == the two-column reference join
      val got = chunks.as("a").join(chunks.as("b"),
          D.fusedChunkKey("a") === D.fusedChunkKey("b") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = chunks.as("a").join(chunks.as("b"),
          col("a.chunk_idx") === col("b.chunk_idx") &&
            col("a.chunk_val") === col("b.chunk_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want, s"fused-key join diverged at level $level")
      assert(got.contains((1L, 2L)), "exact dup pair must block together")
      assert(got.contains((3L, 4L)),
        "hamming-2 pair must share a pigeonhole key")
    }
  }

  test("kmeans iteration: a mislabeled vector flips cluster in one Lloyd " +
    "step (both centroids shift); a perfectly-labeled corpus is a fixed " +
    "point (zero shift)") {
    import spark.implicits._
    val S = operators.SimilarityQueries
    // two well-separated directions; vec 4 is LABELED 0 but lies on
    // cluster 1's axis — one assignment pass must move it
    val mislabeled = Seq(
      (1L, Seq(1.0, 0.0, 0.1), 0), (2L, Seq(0.9, 0.1, 0.0), 0),
      (3L, Seq(0.0, 1.0, 0.1), 1), (4L, Seq(0.1, 0.9, 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    val got = S.kmeansIterOn(mislabeled).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(got(0)._1 == 2L && got(1)._1 == 2L,
      s"vector 4 did not flip to cluster 1: $got")
    assert(got(0)._2 > 0 && got(1)._2 > 0,
      s"centroids must shift when membership changes: $got")
    // fixed point: labels already == nearest centroid → shift exactly 0
    val clean = Seq(
      (1L, Seq(1.0, 0.0, 0.1), 0), (2L, Seq(0.9, 0.1, 0.0), 0),
      (3L, Seq(0.0, 1.0, 0.1), 1), (4L, Seq(0.1, 0.9, 0.0), 1))
      .toDF("vec_id", "embedding", "label")
    val fp = S.kmeansIterOn(clean).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(fp == Map(0 -> ((2L, 0.0)), 1 -> ((2L, 0.0))),
      s"clean labeling must be a Lloyd fixed point: $fp")
  }

  test("kmeans training: separable clusters recovered from adversarially " +
    "swapped labels within the budget, terminating at a true fixed point " +
    "(final shift 0); trajectory is partition-invariant") {
    import spark.implicits._
    val S = operators.SimilarityQueries
    // three orthogonal cluster axes, three vectors each; one label per
    // cluster swapped — label-mean init is perturbed but axis-dominated
    def v(axis: Int, j: Int): Seq[Double] =
      Seq.tabulate(3)(d => (if (d == axis) 1.0 else 0.0) + j * 0.01)
    val rows = for {
      axis <- 0 until 3; j <- 0 until 3
    } yield {
      val id = axis * 3 + j + 1L
      val label = if (j == 2) (axis + 1) % 3 else axis // one swap each
      (id, v(axis, j), label)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    def run(in: org.apache.spark.sql.DataFrame) =
      S.kmeansTrainOn(in, maxIter = 5, tolL1 = 1e-9).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getDouble(4))).toList
    val got = run(df)
    assert(got.map(_._2) == List(3L, 3L, 3L),
      s"clusters not recovered at 3 members each: $got")
    assert(got.forall(_._5 == 0.0),
      s"loop must terminate at a fixed point (shift 0): $got")
    assert(got.head._4 <= 5, s"did not converge in budget: $got")
    assert(run(df.repartition(7)) == got,
      "kmeans trajectory is partition-variant")
  }

  test("kmeans training: a vanished cluster is an infinite shift, not " +
    "convergence — the loop runs past the vanish iteration and settles " +
    "at the reduced k (round-11 advice fixture)") {
    import spark.implicits._
    val S = operators.SimilarityQueries
    // both vectors identical; labels split them, so the label-mean
    // centroids are identical too. The tie-broken argmax sends BOTH to
    // cluster 0 in iteration 1: cluster 1 vanishes while the survivor's
    // centroid does not move — the exact case where movement-of-
    // survivors == 0 used to read as "converged" at the vanish.
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0), (2L, Seq(1.0, 0.0, 0.0), 1))
      .toDF("vec_id", "embedding", "label")
    val got = S.kmeansTrainOn(df, maxIter = 5, tolL1 = 1e-9).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
      .toList
    assert(got.map(t => (t._1, t._2)) == List((0, 2L)),
      s"expected the two vectors to settle in cluster 0 alone: $got")
    assert(got.head._3 == 2,
      s"vanish iteration must not terminate the loop (needs a second, " +
        s"genuinely-converged iteration): $got")
    assert(got.head._4 == 0.0,
      s"reduced-k fixed point should report zero final shift: $got")
  }

  test("incremental NEAR-dup ingest: a cross-batch near-dup that digest " +
    "dedup admits is flagged against the corpus band postings; in-batch " +
    "near pair points later->earlier; unrelated incoming doc is clean") {
    import spark.implicits._
    val D = operators.DedupQueries
    // 40 distinct tokens; the near-dup edits ONE mid-text token
    def toks(seed: Int) = (0 until 40).map(i => f"t$seed%02dw$i%02d")
    val base = toks(1).mkString(" ")
    val near = toks(1).updated(20, "edited").mkString(" ")
    val b2 = toks(2).mkString(" ")
    val near2 = toks(2).updated(5, "changed").mkString(" ")
    val docs = Seq(
      1L -> base, // existing
      2L -> toks(3).mkString(" "), // existing, unrelated
      5L -> near, // incoming: near-dup of existing 1 (digest differs)
      10L -> b2, 20L -> near2, // incoming in-batch near pair
      30L -> toks(4).mkString(" ") // incoming, unrelated
    ).toDF("doc_id", "text")
    // digest dedup ADMITS doc 5 — the gap this operator closes
    val admitted = D.incrementalOn(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted.contains(5L), "digest dedup should miss the near-dup")
    val got = D.incrementalNearOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got.contains((5L, 1L, "corpus")),
      s"cross-batch near-dup not flagged: ${got.mkString(", ")}")
    assert(got.contains((20L, 10L, "batch")),
      s"in-batch near pair not flagged: ${got.mkString(", ")}")
    assert(!got.exists(_._1 == 30L), s"unrelated incoming doc flagged: $got")
    // only incoming docs ever appear on the doc_id side
    assert(got.forall(_._1 % 5 == 0), s"existing doc on the batch side: $got")
  }

  test("adaptive pigeonhole levels: 4-level == 3-level == 2-level blocked " +
    "pairs == brute-force hamming<=3 on a mixed hash set (exact recall at " +
    "every width); selector switches on corpus size") {
    import spark.implicits._
    val D = operators.DedupQueries
    assert(D.pigeonholeLevelsFor(D.ThirdLevelMinDocs) == 2)
    assert(D.pigeonholeLevelsFor(D.ThirdLevelMinDocs + 1) == 3)
    assert(D.pigeonholeLevelsFor(D.FourthLevelMinDocs) == 3)
    assert(D.pigeonholeLevelsFor(D.FourthLevelMinDocs + 1) == 4)
    // mixed set: pseudo-random 60-bit hashes + planted near pairs at
    // hamming 1/2/3 (flips spread across level-1 AND level-2 chunks)
    // + one pair at hamming 4 that must NOT be emitted
    val mask = (1L << 60) - 1
    def rnd(seed: Long): Long =
      (seed * 6364136223846793005L + 1442695040888963407L) & mask
    val base = (1 to 40).map(i => (i.toLong, rnd(i * 7919L)))
    val planted = Seq(
      (101L, base(0)._2 ^ (1L << 3)),
      (102L, base(1)._2 ^ (1L << 14) ^ (1L << 15)),
      (103L, base(2)._2 ^ (1L << 0) ^ (1L << 20) ^ (1L << 40)),
      (104L, base(3)._2 ^ (1L << 5) ^ (1L << 6) ^ (1L << 50)),
      (105L, base(4)._2 ^ 0xF0L)) // hamming 4 — outside the radius
    val hs = (base ++ planted).toDF("doc_id", "h")
    def blockedPairs(levels: Int): Set[(Long, Long, Int)] = {
      val keyed = hs.select(col("doc_id"), col("h"),
        explode(D.pigeonholeKeys(col("h"), levels)).as("k"))
      keyed.as("a").join(keyed.as("b"),
          col("a.k.chunk_idx") === col("b.k.chunk_idx") &&
            col("a.k.chunk_val") === col("b.k.chunk_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("d"))
        .where(col("d") <= 3).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val brute = hs.as("a").crossJoin(hs.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("d"))
      .where(col("d") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.size >= 4, s"fixture lost its planted pairs: $brute")
    assert(!brute.exists(p => p._1 == 5L && p._2 == 105L))
    assert(blockedPairs(2) == brute)
    assert(blockedPairs(3) == brute)
    assert(interpretedOnly(blockedPairs(4)) == brute)
  }

  test("incremental simhash admission: cross-batch near-dup flagged as " +
    "'corpus', in-batch pair points the later doc at the earlier one, " +
    "hamming-4 neighbor and unrelated incoming hash stay silent; " +
    "incremental == full pairs restricted to batch-touching (direction-" +
    "mapped)") {
    import spark.implicits._
    val D = operators.DedupQueries
    val mask = (1L << 60) - 1
    def rnd(seed: Long): Long =
      (seed * 6364136223846793005L + 1442695040888963407L) & mask
    val hs = Seq(
      // existing corpus
      1L -> rnd(1), 2L -> rnd(2), 3L -> rnd(3),
      // batch doc 5: near-dup of existing 1 at hamming 2
      5L -> (rnd(1) ^ (1L << 4) ^ (1L << 33)),
      // in-batch near pair {10, 20} at hamming 3 (flips across chunks)
      10L -> rnd(10), 20L -> (rnd(10) ^ (1L << 0) ^ (1L << 16) ^ (1L << 59)),
      // batch doc 15: hamming 4 from existing 2 — outside the radius
      15L -> (rnd(2) ^ 0xF000L),
      // unrelated incoming
      30L -> rnd(30)
    ).toDF("doc_id", "simhash")
    val got = D.incrementalSimhashOfHashes(hs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSeq
    assert(got.contains((5L, 1L, "corpus", 2)),
      s"cross-batch near-dup not flagged: $got")
    assert(got.contains((20L, 10L, "batch", 3)),
      s"in-batch near pair not flagged or misdirected: $got")
    assert(!got.exists(_._1 == 15L), s"hamming-4 neighbor admitted: $got")
    assert(!got.exists(_._1 == 30L), s"unrelated incoming flagged: $got")
    // only incoming docs on the doc_id side
    assert(got.forall(_._1 % 5 == 0), s"existing doc on the batch side: $got")
    // equivalence with the full pair derivation: incremental == every
    // full hamming<=3 pair touching the batch, direction-mapped
    // (batch side first; in-batch pairs later-at-earlier)
    val chunks = D.adaptiveChunksOf(hs, "simhash", hs)
    val full = D.hammingPairsOf(chunks, "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val expected = full.flatMap { case (a, b, ham) =>
      val (aB, bB) = (a % 5 == 0, b % 5 == 0)
      if (aB && bB) Some((b, a, "batch", ham)) // later doc at earlier
      else if (aB) Some((a, b, "corpus", ham))
      else if (bB) Some((b, a, "corpus", ham))
      else None
    }.toSet
    assert(got.toSet == expected,
      s"incremental diverged from batch-touching full pairs:\n$got\n$expected")
  }

  test("incremental simhash admission from text: a verbatim copy of a " +
    "corpus document is a 'corpus' match at hamming 0") {
    import spark.implicits._
    def toks(seed: Int) = (0 until 40).map(i => f"s$seed%02dw$i%02d")
    // corpus (ids ≢ 0 mod 5); batch (ids ≡ 0 mod 5): a verbatim copy
    // of doc 1, a lightly-edited near-dup of doc 2, one unrelated
    val docs = Seq(1L -> toks(1).mkString(" "), 2L -> toks(2).mkString(" "),
      5L -> toks(1).mkString(" "),
      10L -> toks(2).updated(7, "edited").mkString(" "),
      15L -> toks(9).mkString(" ")).toDF("doc_id", "text")
    val got = operators.DedupQueries.incrementalSimhashOn(docs)
      .where($"match_src" === "corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got.contains((5L, 1L, 0)), s"planted verbatim match lost: $got")
  }

  test("substring spans: misaligned verbatim copy is detected (content-" +
    "defined anchors), unrelated doc reports zero duplication") {
    import spark.implicits._
    // deterministic "content": distinct 5-char tokens → no accidental
    // 64-char window repeats within or across unrelated docs
    def blob(seed: Int, n: Int): String =
      (0 until n).map(i => f"w$seed%02d${i}%03d").mkString(" ")
    val base = blob(1, 120)                  // ~840 chars
    val shared = base.substring(100, 500)    // 400-char span inside doc 1
    // doc 2 embeds the span after a 13-char prefix — NOT a multiple of
    // any stride, so fixed-stride sampling would be phase-shifted;
    // content-defined anchors must still fire
    val doc2 = "prefix13char " + shared + " " + blob(2, 40)
    val doc3 = blob(3, 120)
    val docs = Seq((1L, base), (2L, doc2), (3L, doc3))
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val res = operators.DedupQueries.substringSpansOn(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(res.contains(1L) && res.contains(2L) && res.contains(3L))
    val (n1, d1, f1) = res(1L); val (n2, d2, _) = res(2L); val (n3, d3, f3) = res(3L)
    assert(d1 > 0, s"doc 1 shared span produced no dup anchors (n=$n1)")
    assert(d2 > 0, s"doc 2 misaligned copy not detected (n=$n2)")
    assert(d3 == 0 && f3 == 0.0, s"unrelated doc 3 reports dup anchors: $d3")
    assert(d1 <= n1 && d2 <= n2 && d3 <= n3)
    assert(math.abs(f1 - d1.toDouble / n1) == 0.0)
  }

  test("substring spans boilerplate cap: an anchor above the df cap is " +
    "counted as boilerplate, excluded from dup_frac, and its posting " +
    "list never enters the back-join") {
    import spark.implicits._
    val D = operators.DedupQueries
    def blob(seed: Int, n: Int): String =
      (0 until n).map(i => f"x$seed%02d${i}%03d").mkString(" ")
    // the SAME 100-char boilerplate block in ALL four docs (df 4);
    // docs 1+2 additionally share a genuine 200-char span (df 2)
    val boiler = blob(9, 20).substring(0, 100)
    val shared = blob(8, 40).substring(0, 200)
    val docs = Seq(
      (1L, s"$boiler ${shared} ${blob(1, 60)}"),
      (2L, s"${blob(2, 60)} $shared $boiler"),
      (3L, s"$boiler ${blob(3, 60)}"),
      (4L, s"${blob(4, 60)} $boiler"))
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val capped = D.substringSpansOn(docs, cap = 2L).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // boilerplate (df 4 > cap 2) must surface as boiler anchors
    assert(capped.values.map(_._3).sum > 0,
      s"no boilerplate anchors detected: $capped")
    // the df-2 shared span still counts as genuine duplication
    assert(capped(1L)._2 > 0 && capped(2L)._2 > 0,
      s"df-2 shared span lost under the cap: $capped")
    // dup_frac excludes boiler from the numerator, keeps it in n_anchors
    capped.values.foreach { case (n, d, b, f) =>
      assert(f == d.toDouble / n && d + b <= n, s"count algebra: $capped")
    }
    // uncapped run folds the boilerplate back into dup counts
    val uncapped = D.substringSpansOn(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(uncapped.values.forall(_._3 == 0L))
    uncapped.foreach { case (id, (n, d, _)) =>
      assert(n == capped(id)._1, "n_anchors must not depend on the cap")
      assert(d == capped(id)._2 + capped(id)._3,
        "uncapped dup = capped dup + boiler")
    }
  }

  test("incremental spans admission profile: a misaligned copy of a " +
    "corpus doc reports dup anchors, boilerplate past the cap reports " +
    "boiler anchors, fresh content reports no dups") {
    import spark.implicits._
    def blob(seed: Int, n: Int): String =
      (0 until n).map(i => f"w$seed%02d${i}%03d").mkString(" ")
    // corpus docs 1+2 share a 100-char boilerplate block; batch doc 5
    // embeds a misaligned 400-char copy from doc 1 plus the
    // boilerplate (grown df 3 > cap 2); batch doc 10 is fresh content
    val boiler = blob(9, 20).substring(0, 100)
    val base = blob(1, 120)
    val shared = base.substring(100, 500)
    val docs = Seq(
      1L -> s"$base $boiler",
      2L -> s"${blob(2, 80)} $boiler",
      5L -> s"pre13charpref $shared $boiler ${blob(5, 30)}",
      10L -> blob(3, 80)).toDF("doc_id", "text")
      .withColumn("n_chars", length($"text").cast("long"))
    // (n_anchors, n_dup_anchors, n_boiler_anchors) per batch doc
    val got = operators.DedupQueries.incrementalSpansOn(docs, cap = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(5L)._2 > 0, s"planted copy not detected: $got")
    assert(got(5L)._3 > 0, s"planted boilerplate not detected: $got")
    assert(got(10L)._2 == 0, s"fresh doc reports dups: $got")
  }

  test("langid predicts a language for every doc; fingerprint is stable " +
    "under whitespace change") {
    import spark.implicits._
    val l = operators.TextQueries.txtLangid(spark, sf)
    assert(l.where($"predicted_lang".isNull).count() == 0)
    val fp = Seq(("a  b\tc", 1L), ("a b c", 2L)).toDF("text", "doc_id")
      .select(md5(functions.TextFunctions.normalized($"text")).as("f"))
      .distinct().count()
    assert(fp == 1)
  }
}
