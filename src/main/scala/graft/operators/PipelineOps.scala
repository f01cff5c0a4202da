package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions.{shingleHashes, tokens, EN_STOP}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond cleaning/dedup: deterministic
  * sampling, corpus mixture weighting, document chunking, and sequence
  * packing — the steps that turn a cleaned corpus into training shards.
  *
  * All four are FULLY oracled: the sampling decision is a replayable
  * integer hash (same cube-mod-prime family as the LSH hyperplane
  * weights — pure int64 arithmetic both engines compute bit-identically),
  * never `rand()` (which is neither cross-engine nor retry-stable: a
  * speculative task re-rolling a sample would corrupt exactly-once
  * semantics at scale).
  *
  * Scale notes: every operator here is a scan + hash-filter or a
  * bounded-key window — no joins, no data-sized driver state; sampling
  * filters push to the scan, packing's prefix-sum parallelizes over
  * deterministic hash buckets (a GLOBAL cumulative sum would serialize
  * into one partition — the bucket is what makes packing shard-parallel
  * at 100 TB).
  */
object PipelineOps {

  private val P = 1000000007L

  /** Replayable uniform hash of an id into [0, 10000): s = ((x mod P)
    * ·2654435761 + 104729) mod P, then s³ mod P mod 10⁴ (P = 1e9+7;
    * cubing mod a prime scrambles the low bits the multiply leaves
    * structured). The id is reduced mod P FIRST: the max intermediate is
    * (P−1)·2654435761 ≈ 2.7e18 < 2⁶³−1, so the arithmetic is genuinely
    * overflow-free (ANSI-safe) for any long id, not just ids < ~3.5e9.
    * For 0 ≤ x < P the reduction is the identity, so hash values — and
    * every sampling/mixture/packing oracle built on them — are unchanged. */
  private[graft] def hash10k(x: Column): Column = {
    val p = lit(P)
    val s = pmod(pmod(x.cast("long"), p) * lit(2654435761L) + lit(104729L), p)
    pmod(pmod(pmod(s * s, p) * s, p), lit(10000L))
  }

  /** Same hash as a DuckDB SQL fragment (kept adjacent so the two
    * implementations evolve together). DuckDB's % takes the dividend's
    * sign, so the first reduction adds P back to stay non-negative and
    * match Spark's pmod for negative ids too; after that every operand
    * is non-negative and the engines agree bit-for-bit. */
  private[graft] def hash10kSql(x: String): String = {
    val r = s"(((CAST($x AS BIGINT) % $P) + $P) % $P)"
    val s = s"(($r * 2654435761 + 104729) % $P)"
    s"(((($s * $s) % $P) * $s) % $P) % 10000"
  }

  /** Per-language sampling rates in basis points of 10⁴ — the
    * stratified downsampling step of a corpus pipeline (keep half the
    * English, a fifth of es/de/fr, a tenth of zh). */
  private val StratRates: Seq[(String, Int)] =
    Seq("en" -> 5000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 1000)

  /** `smp_stratified`: deterministic stratified sample of `documents`
    * by language — row kept iff hash(doc_id) < its stratum's rate.
    * The filter is a pure scan predicate (pushes below everything);
    * resampling is idempotent and stable under retries at any scale. */
  val smpStratified: Q = (spark, dir) => {
    val rate = StratRates.foldLeft(lit(0)) { case (e, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(e)
    }
    Tables.documents(spark, dir)
      .where(hash10k(col("doc_id")) < rate)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** `pipe_mixture`: weighted corpus mixture — sources src0-src9 are
    * the "web" corpus sampled at 80%, src10+ the "curated" corpus at
    * 30%; reports the achieved composition (docs, tokens, fraction of
    * the mixture). The mixture weights are enforced by the same
    * replayable hash, so shards rebuilt from scratch get the same mix. */
  val pipeMixture: Q = (spark, dir) => {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val corpus = when(srcNum < 10, lit("web")).otherwise(lit("curated"))
    val rate = when(srcNum < 10, lit(8000)).otherwise(lit(3000))
    val sampled = Tables.documents(spark, dir)
      .select(col("doc_id"), corpus.as("corpus"), rate.as("rate"),
        tokens(col("text")).as("w"))
      .where(hash10k(col("doc_id")) < col("rate"))
      .select(col("corpus"), size(col("w")).as("n_tokens"))
    val agg = sampled.groupBy(col("corpus"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
    // bounded-global-window: unpartitioned window ON THE AGGREGATE —
    // its input is |corpus classes| rows (2), trivially bounded.
    // A broadcast cross join of a separate total would re-execute the
    // whole scan+aggregate subtree (no CSE across join branches) —
    // verified by explain: that variant scans documents twice.
    // The identity limit stamps the structural bound INTO THE PLAN
    // (round-19, r17 item 6): `corpus` is a CASE over two literals, so
    // the aggregate has ≤ 2 groups by the expression's value domain —
    // the limit never drops a row; it exists so PlanProbe's
    // unpartitioned-window census can prove the bound.
    agg
      .limit(4)
      .withColumn("pct_docs",
        Tables.round6(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy())))
      .orderBy(col("corpus"))
  }

  /** `smp_temperature`: temperature-weighted language rebalancing — the
    * multilingual-pretraining mix rule q_l ∝ p_l^α at α = 0.5. The
    * per-language keep rate that turns the corpus distribution p into
    * the target q is p^(α−1) = 1/√p, normalized so the SMALLEST
    * language keeps everything: rate_l = ⌊10⁴·√(n_min/n_l)⌋ basis
    * points, decided per row by the same replayable hash as
    * [[smpStratified]]. Reports per language: corpus count, rate, kept
    * count, and the kept share of the rebalanced mixture.
    *
    * α is fixed at 0.5 BECAUSE of the oracle: √ is IEEE
    * correctly-rounded in both engines (one division + one sqrt + one
    * floor → bit-identical rates), where a libm `pow(p, α−1)` may
    * differ by an ulp and flip a floor at a basis-point boundary.
    *
    * Scale: one scan aggregates (lang, count) — bounded by the
    * language catalog, so the rate dim legitimately broadcasts — and
    * one scan joins rates back and counts keeps; the row decision is a
    * pure scan predicate. Nothing data-sized leaves the executors. */
  val smpTemperature: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val minc = counts.agg(min(col("n_total")).as("min_total"))
    val rates = counts.crossJoin(broadcast(minc))
      .withColumn("rate_bp",
        floor(lit(10000.0) *
          sqrt(col("min_total").cast("double") / col("n_total"))).cast("long"))
      .select(col("lang"), col("n_total"), col("rate_bp"))
    docs.join(rates, Seq("lang"))
      .groupBy(col("lang"), col("n_total"), col("rate_bp"))
      .agg(count(when(hash10k(col("doc_id")) < col("rate_bp"), 1)).as("n_kept"))
      // bounded-global-window: normalization over the |languages|-row
      // aggregate, the pipeMixture shape. The identity limit encodes
      // the query's own language-catalog contract (the rate dim above
      // already broadcasts on that bound) as a plan-provable maxRows
      // for the unpartitioned-window census — no real language catalog
      // approaches 2^16 tags, and a corpus violating the contract
      // already breaks the broadcast join this query is built on.
      .limit(65536)
      .withColumn("pct_kept",
        Tables.round6(col("n_kept") / sum(col("n_kept")).over(Window.partitionBy())))
      .orderBy(col("lang"))
  }

  val SampleK = 200

  /** `smp_fixed_k`: exact-size uniform sample — the k documents with
    * the smallest replayable hash (ties broken by doc_id). Compiles to
    * TakeOrderedAndProject: each partition keeps its local top-k and
    * the driver merges k·partitions rows — no global sort, no full
    * shuffle, deterministic under retries. The fixed-size complement
    * of [[smpStratified]]'s fixed-rate sampling (a rebuild at 100 TB
    * yields the same k rows, which rate-based sampling can't promise). */
  val smpFixedK: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        hash10k(col("doc_id")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(SampleK)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  private val ChunkLen = 64
  private val ChunkStride = 48

  /** `txt_chunk_overlap`: split each document's token stream into
    * 64-token chunks on a 48-token stride (16-token overlap) — the
    * long-document chunking step feeding fixed-context training.
    * Chunk starts are 0, 48, 96, … while < n_tokens, so every token
    * lands in ≥1 chunk and the tail chunk may be short. A zero-token
    * document emits NO chunks (the `n > 0` guard — without it Spark's
    * truncating `(n-1) div stride` yields one chunk whose `element_at`
    * on the empty array throws under ANSI, while the oracle's floor
    * division emits zero rows). Emits one row per chunk with its length
    * and first token. Pure per-row explode — no shuffle; tokens
    * materialize in their own projection (the generator-inlining trap,
    * see [[DedupQueries.shingledOn]]). */
  val txtChunkOverlap: Q = (spark, dir) =>
    chunkedOn(Tables.documents(spark, dir))

  /** [[txtChunkOverlap]] over an explicit `doc_id, text` frame (the
    * spec injects an empty-text document the fixture lacks). */
  private[graft] def chunkedOn(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("w"), col("n"),
        posexplode(transform(
          sequence(lit(0L), expr(s"(n - 1) div $ChunkStride")),
          i => i * ChunkStride)).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(ChunkLen), col("n") - col("start")).as("n_chunk_tokens"),
        element_at(col("w"), (col("start") + 1).cast("int")).as("head_token"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val PackBuckets = 16
  private val PackBudget = 2048L

  /** `pipe_pack_sequences`: pack documents into ~2048-token training
    * shards — documents are routed to one of 16 deterministic hash
    * buckets, ordered by doc_id within the bucket, and cut into shards
    * wherever the running token total crosses the budget (a document
    * belongs to the shard its FIRST token falls in). Reports per-shard
    * doc/token totals. The bucket is the scale axis: prefix sums run
    * per bucket in parallel (one global cumsum would serialize the
    * corpus into a single partition); at 100 TB buckets ≈ shard-writer
    * parallelism. */
  val pipePackSequences: Q = (spark, dir) => {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        pmod(hash10k(col("doc_id")), lit(PackBuckets)).as("bucket"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t.withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard", expr(s"(cum - n_tokens) div $PackBudget"))
      .groupBy(col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .orderBy(col("bucket"), col("shard"))
  }

  /** `pipe_decontaminate`: benchmark decontamination — flag every
    * training document that shares a word 3-gram with the held-out
    * eval set (the standard n-gram-overlap rule used to scrub eval
    * leakage from pretraining corpora). The eval set is deterministic
    * here (every 50th doc_id, a 2% "benchmark"); in production it is
    * the actual eval suites. Emits (doc_id, n_hit_ngrams) for every
    * contaminated training doc.
    *
    * Scale: both sides reduce to 8-byte shingle hashes before the
    * equi-join — 100 TB of text never transits the shuffle, only
    * hashes + ids (the [[DedupQueries]] discipline). The eval side is
    * BOUNDED by the benchmark suite (not the corpus), so the planner
    * broadcasts it at any realistic eval size; we leave the join
    * planner-chosen rather than forcing the hint. Shingle sets are
    * distinct per doc and the eval side is de-duplicated, so the
    * per-doc hit count needs no countDistinct — each (doc, hash)
    * pair occurs once. */
  val pipeDecontaminate: Q = (spark, dir) =>
    decontaminateOn(Tables.documents(spark, dir))

  /** [[pipeDecontaminate]] over an explicit (doc_id, text) frame — the
    * spec plants an eval/train pair sharing exactly one 3-gram. */
  private[graft] def decontaminateOn(docs: org.apache.spark.sql.DataFrame) = {
    // tokens materialize in their own projection (the generator-inlining
    // trap, see [[DedupQueries.shingledOn]] — fused, the tokenizer regex
    // re-runs per shingle reference: measured 9.4 s vs 1.9 s at sf0.1).
    val ex = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), shingleHashes(col("w")).as("s"))
      .select(col("doc_id"), explode(col("s")).as("h"))
    val evalGrams = ex.where(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("h")).distinct()
    ex.where(pmod(col("doc_id"), lit(50)) =!= 0)
      .join(evalGrams, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_ngrams"))
      .orderBy(col("doc_id"))
  }

  /** `pipe_quality_filter`: percentile-threshold corpus cut — keep the
    * documents whose quality score (the exact [[TextQueries]] scalar)
    * clears the corpus 25th percentile. This is the adaptive form of
    * quality filtering: the cut tracks the corpus distribution instead
    * of a hand-tuned constant.
    *
    * The threshold is exact `percentile` here because the oracle
    * demands bit-replayability (DuckDB `quantile_cont`, same
    * idx = p·(n−1) interpolation); at 100 TB the drop-in scale path is
    * `approx_percentile` — the sketch family already proven by
    * agg_approx_percentiles. The threshold is a 1-row frame, so the
    * broadcast is bounded by construction (the crossJoin(broadcast(…))
    * pattern every corpus-relative operator here uses). */
  val pipeQualityFilter: Q = (spark, dir) => {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextQueries.qualityScoreCol(col("text"), tokens(col("text")))
          .as("quality_score"))
    val thr = scored.agg(percentile(col("quality_score"), lit(0.25)).as("thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("quality_score") >= col("thr"))
      .select(col("doc_id"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** `smp_quality_weighted`: quality-proportional document sampling —
    * keep probability ∝ quality score (the importance-sampling middle
    * ground between uniform sampling, which wastes budget on junk, and
    * hard threshold filtering, which zeroes the tail a model still
    * learns from). Per doc: rate_bp = ⌊10⁴·q/q_max⌋ basis points (the
    * best document always survives), decided by the same replayable
    * [[hash10k]] as every sampler here — idempotent, retry-stable,
    * engine-independent.
    *
    * Determinism: q is the round6-quantized [[TextQueries]] scalar and
    * q_max an exact max over those quantized values, so the rate floor
    * divides two exactly-agreed doubles — both engines land the same
    * basis point. Scale: scoring is scan-stage, q_max is a 1-row
    * broadcast, the keep decision is a pure predicate. */
  val smpQualityWeighted: Q = (spark, dir) => {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextQueries.qualityScoreCol(col("text"), tokens(col("text")))
          .as("q"))
    val qmax = scored.agg(max(col("q")).as("q_max"))
    scored.crossJoin(broadcast(qmax))
      .withColumn("rate_bp",
        floor(lit(10000.0) * col("q") / col("q_max")).cast("long"))
      .where(hash10k(col("doc_id")) < col("rate_bp"))
      .select(col("doc_id"), col("q").as("quality_score"), col("rate_bp"))
      .orderBy(col("doc_id"))
  }

  /** `smp_split_leakfree`: leakage-free train/val/test assignment —
    * the split is a pure function of the CONTENT digest (md5 → 60-bit
    * integer → decile: 7/2/1), so byte-identical documents can never
    * straddle splits no matter how many times they recur in the
    * corpus. Splitting on doc_id (or `rand()`) puts one copy of a
    * duplicated document in train and another in test — the eval
    * contamination the decontamination pass exists to prevent. Emits
    * per-split doc/group counts plus the (provably zero) count of
    * digest groups spanning more than one split.
    *
    * Determinism: the digest decile replays in DuckDB
    * (`CAST('0x'||substr(md5,1,15) AS BIGINT)` ≙ `conv(…,16,10)`,
    * both truncating the same 15 hex chars — the dedup family's
    * established replay rule).
    *
    * Scale: the assignment is a scan-stage expression (no shuffle,
    * no state — a new document routes without consulting the corpus);
    * only digest-level counts shuffle, and the 1-row leak audit
    * broadcasts. */
  val smpSplitLeakfree: Q = (spark, dir) => {
    val d = splitAssign(Tables.documents(spark, dir))
    val leaks = d.groupBy(col("h"))
      .agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1)
      .agg(count(lit(1)).as("n_leaked_groups"))
    d.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_groups"))
      .crossJoin(broadcast(leaks))
      .orderBy(col("split"))
  }

  /** Per-doc digest-decile split of [[smpSplitLeakfree]] — the spec
    * plants byte-identical texts under different doc_ids and asserts
    * they co-assign. */
  private[graft] def splitAssign(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("bucket",
        conv(substring(col("h"), 1, 15), 16, 10).cast("long") % 10)
      .withColumn("split",
        when(col("bucket") < 7, "train")
          .when(col("bucket") < 9, "val")
          .otherwise("test"))

  /** `pipe_curriculum` (training-order ext.): curriculum assignment —
    * every document gets a training phase by corpus quality tercile
    * (1 = cleanest third, trained first) and a deterministic within-
    * phase interleave key, so the emitted order IS the curriculum: by
    * (phase, content-digest hash). Hash interleave instead of rand()
    * keeps the order replayable (the [[smpSplitLeakfree]] digest
    * rule) and breaks any ingest-order correlation.
    *
    * Determinism: tercile thresholds use the exact `percentile`
    * aggregate (≙ DuckDB quantile_cont, the [[pipeQualityFilter]]
    * precedent); only phase ASSIGNMENT consumes them, never the raw
    * threshold, and the interleave key replays via the md5 prefix
    * rule.
    *
    * Scale: scoring is a scan-stage expression; the 1-row threshold
    * frame broadcasts; the final global order is the leaf ORDER BY a
    * shard-writer would consume (a range exchange, no driver sort). */
  val pipeCurriculum: Q = (spark, dir) =>
    curriculumOn(Tables.documents(spark, dir))

  /** [[pipeCurriculum]] over an explicit (doc_id, text) frame — the
    * spec plants a 9-doc corpus with hand-separable quality thirds and
    * asserts the phase partition and the hash-interleaved order. */
  private[graft] def curriculumOn(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val scored = docs
      .select(col("doc_id"), md5(col("text")).as("h"),
        TextQueries.qualityScoreCol(col("text"), tokens(col("text")))
          .as("quality_score"))
    val thr = scored.agg(
      percentile(col("quality_score"), lit(1.0 / 3.0)).as("t1"),
      percentile(col("quality_score"), lit(2.0 / 3.0)).as("t2"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("quality_score"),
        when(col("quality_score") >= col("t2"), lit(1))
          .when(col("quality_score") >= col("t1"), lit(2))
          .otherwise(lit(3)).as("phase"),
        conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("ord"))
      .orderBy(col("phase"), col("ord"), col("doc_id"))
  }

  /** `pipe_shard_manifest`: the WRITE-PLANNING step of a corpus
    * export — assign every doc to one of [[NumShards]] shards by
    * CONTENT hash (replayable md5 prefix, so the layout is stable
    * across runs and engines, and hot row-count skew can't form the
    * way an id-range split allows) and emit the per-shard manifest:
    * doc count, character volume, id range. A 100 TB export reads
    * this ≤NumShards-row table to size its writers before moving a
    * byte of text.
    *
    * Scale: one scan projecting (16-byte hash prefix, length) — text
    * itself never shuffles — into a NumShards-key hash aggregate. */
  val NumShards = 8
  val pipeShardManifest: Q = (spark, dir) =>
    shardManifestOn(Tables.documents(spark, dir))

  /** [[pipeShardManifest]] over an explicit (doc_id, text) frame —
    * the spec asserts the partition identities (Σn_docs = corpus,
    * shard assignment deterministic). */
  private[graft] def shardManifestOn(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"),
          lit(NumShards.toLong)).as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("shard_id"))

  /** Budget = corpus tokens ÷ this, per language (the "train on a
    * quarter epoch" shape; production passes the target directly). */
  val TokenBudgetDenom = 4L

  /** `pipe_token_budget`: token-budget epoch planning — select, per
    * language, a deterministic subset of documents whose token total
    * fills a budget (¼ of that language's corpus tokens here). Docs are
    * consumed in replayable (hash, doc_id) order and selected while the
    * running token total stays within budget — so a rebuild, a retry,
    * or a different engine selects the IDENTICAL subset.
    *
    * The global per-language cumulative sum that rule seems to require
    * would serialize the corpus into one partition per language — the
    * [[pipePackSequences]] hazard at its worst (5 languages = 5
    * partitions for 100 TB). Instead the selection DECOMPOSES over the
    * 10⁴ hash buckets: (1) per-(lang, bucket) token sums — a bounded
    * ≤ 5×10⁴-row frame; (2) a prefix sum + boundary-bucket search on
    * that bounded frame only; (3) buckets strictly before the boundary
    * are selected WHOLE by a scan predicate (no ordering needed), and
    * only the single boundary bucket (~corpus/10⁴ docs) pays a
    * doc-grain cumulative sum. Exactness: bucket prefixes are monotone
    * (token counts ≥ 0), so cum(doc) = bucketPrefix(h−1) +
    * cumWithin(h), and the three cases partition the order — the
    * DuckDB oracle runs the NAIVE single-window formulation, so the
    * hash-match PROVES the decomposition (the join_range_bucketed
    * doctrine). Reports per language: corpus/budget totals, selected
    * doc/token counts, and the boundary bucket. */
  val pipeTokenBudget: Q = (spark, dir) =>
    tokenBudgetOn(Tables.documents(spark, dir))

  /** [[pipeTokenBudget]] over an explicit (doc_id, lang, text) frame —
    * the spec hand-computes a tiny corpus's selection and asserts the
    * bucket decomposition equals the naive cumulative rule. */
  private[graft] def tokenBudgetOn(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("lang"), size(col("w")).cast("long").as("nt"),
        hash10k(col("doc_id")).as("h"))
    // ALL per-language decisions ride one bounded (lang, bucket) frame
    // via stacked windows — totals, budget, prefix, boundary bucket —
    // then collapse in a single aggregate. Join-free on purpose: each
    // branch of a join tree re-expands its subtree (no CSE), and the
    // first cut of this operator — bucket sums joined against
    // separately-aggregated budgets/boundaries — planned TWELVE corpus
    // scans (PlanProbe); this form plans three (the summary subtree
    // expands under both of its consumers, plus the boundary-bucket
    // filter). A production run persists the 4-column (doc_id, lang,
    // nt, h) stats projection once — the natural build artifact — and
    // every pass is metadata-cheap.
    val wl = Window.partitionBy(col("lang"))
    val pre = t.groupBy(col("lang"), col("h"))
      .agg(sum(col("nt")).as("bt"), count(lit(1)).as("bdocs"))
      .withColumn("corpus_tokens", sum(col("bt")).over(wl))
      .withColumn("n_total_docs", sum(col("bdocs")).over(wl))
      .withColumn("budget_tokens", expr(s"corpus_tokens div $TokenBudgetDenom"))
      .withColumn("bprefix", sum(col("bt")).over(wl.orderBy(col("h"))))
      .withColumn("hstar",
        min(when(col("bprefix") > col("budget_tokens"), col("h"))).over(wl))
    // full buckets = strictly before the boundary; their token sum IS
    // the prefix before the boundary bucket (before_tokens)
    val isFull = col("hstar").isNull || col("h") < col("hstar")
    val summary = pre.groupBy(col("lang"))
      .agg(max(col("n_total_docs")).as("n_total_docs"),
        max(col("corpus_tokens")).as("corpus_tokens"),
        max(col("budget_tokens")).as("budget_tokens"),
        max(col("hstar")).as("hstar"),
        sum(when(isFull, col("bdocs")).otherwise(0L)).as("full_docs"),
        sum(when(isFull, col("bt")).otherwise(0L)).as("full_tokens"))
    // doc-grain refinement of ONLY the boundary bucket (~corpus/10⁴ rows)
    val bound = t
      .join(broadcast(summary.select(col("lang"), col("hstar"),
        col("full_tokens").as("before_tokens"), col("budget_tokens"))),
        Seq("lang"))
      .where(col("h") === col("hstar"))
      .withColumn("cumw", sum(col("nt")).over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
      .where(col("before_tokens") + col("cumw") <= col("budget_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("b_docs"), sum(col("nt")).as("b_tokens"))
    summary
      .join(bound, Seq("lang"), "left")
      .select(col("lang"), col("n_total_docs"), col("corpus_tokens"),
        col("budget_tokens"),
        (col("full_docs") + coalesce(col("b_docs"), lit(0L)))
          .as("n_sel_docs"),
        (col("full_tokens") + coalesce(col("b_tokens"), lit(0L)))
          .as("sel_tokens"),
        col("hstar").as("cut_bucket"))
      .orderBy(col("lang"))
  }

  /** Merge budget for [[pipeBpeTrain]] (production trains 30k-100k;
    * the loop shape is identical at any k). */
  val BpeMerges = 20

  // Per-character symbol split: `split(word, '(?!^)')` would need
  // lookahead (absent in RE2), so both engines INDEX instead —
  // transform(sequence(1, len), i -> substring(word, i, 1)) here,
  // substr(word, i, 1) over range(1, len+1) in the DuckDB companion.

  /** Word-frequency table — the ONLY corpus-scale step of BPE
    * training: one hash aggregate; the merge loop below runs on this
    * vocabulary-bounded frame only. */
  private[graft] def wordFreqOf(docs: org.apache.spark.sql.DataFrame) =
    docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Adjacent symbol pairs of a syms array, exploded with the word
    * frequency — (left_sym, right_sym, freq) rows. */
  private def pairsOf(vocab: org.apache.spark.sql.DataFrame) =
    vocab
      .where(size(col("syms")) >= 2)
      .select(col("freq"), posexplode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
        .as(Seq("pos", "p")))
      .select(col("p.a").as("left_sym"), col("p.b").as("right_sym"),
        col("freq"))

  /** `pipe_bpe_pairs`: the oracled anchor of [[pipeBpeTrain]] — the
    * first iteration's adjacent-character pair statistics (top-20 by
    * weighted count, fully tie-broken), straight off the
    * word-frequency table. DuckDB replays it exactly, pinning the
    * corpus-scale half of BPE training (the word-freq aggregate and
    * the pair counting); only the iterative argmax LOOP is rows-only. */
  val pipeBpePairs: Q = (spark, dir) =>
    pairsOf(wordFreqOf(Tables.documents(spark, dir))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
      .groupBy(col("left_sym"), col("right_sym"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(20)

  /** `pipe_bpe_train`: distributed byte-pair-encoding tokenizer
    * training (Sennrich et al. 2016) — the vocabulary-induction step
    * every LLM data pipeline runs before token counting means
    * anything. Classic BPE on the word-frequency table: start from
    * character symbols, repeatedly merge the highest-weighted adjacent
    * symbol pair (ties broken (count desc, left asc, right asc) so the
    * merge sequence is deterministic and partition-invariant), apply
    * the merge left-to-right non-overlapping, emit the ordered merge
    * table — the tokenizer IS this table.
    *
    * Scale: the corpus contributes ONE hash aggregate (word → freq);
    * every loop iteration is a pair-count aggregate + a fold-rewrite
    * over the vocabulary frame — bounded by |vocab|, not the corpus
    * (the reason BPE training is feasible at 100 TB: a web-scale vocab
    * is ~10⁸ rows, corpus-independent). The per-iteration argmax is a
    * 1-row collect (catalog metadata, the codebook discipline);
    * lineage is truncated per iteration (localCheckpoint — a reliable
    * checkpoint dir in production).
    *
    * Rows-only BY CONTRACT (the iterative argmax loop has no SQL
    * replay — the ML/sketch category); anchored by the fully-oracled
    * [[pipeBpePairs]] companion and a planted-corpus spec deriving the
    * merge sequence by hand. */
  val pipeBpeTrain: Q = (spark, dir) =>
    bpeTrainedState(Tables.documents(spark, dir), BpeMerges,
      bpeStorePath(dir, BpeMerges))._1
      .select(col("merge_rank"), col("left_sym"), col("right_sym"),
        col("pair_count"))
      .orderBy(col("merge_rank"))

  /** [[pipeBpeTrain]] over an explicit (doc_id, text) frame with an
    * injectable merge budget — the spec plants the classic
    * low/lower/newest/widest corpus and asserts the hand-derived merge
    * sequence and partition invariance. */
  private[graft] def bpeTrainOn(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainState(docs, k)._1
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** The full training state: the ordered merge list AND the final
    * vocabulary frame (word, freq, syms) with every merge applied —
    * [[txtBpeTokenize]] reads token counts straight off the latter
    * instead of re-folding merges per corpus occurrence. */
  private def bpeTrainState(docs: org.apache.spark.sql.DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    var vocab = wordFreqOf(docs)
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select(col("word"), col("freq"), col("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val top = pairsOf(vocab)
        .groupBy(col("left_sym"), col("right_sym"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
        .limit(1).collect() // 1 row: the argmax is catalog metadata
      if (top.isEmpty || top.head.getLong(2) < 2) done = true
      else {
        val (a, b, cnt) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((r, a, b, cnt))
        // left-to-right non-overlapping merge: a fold that joins a
        // trailing `a` with a current `b` exactly once per occurrence
        val merged = concat(lit(a), lit(b))
        vocab = vocab.withColumn("syms",
          aggregate(col("syms"),
            array().cast("array<string>"),
            (acc, s) => when(
              size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
              .otherwise(concat(acc, array(s)))))
          .localCheckpoint()
        r += 1
      }
    }
    (merges.toSeq, vocab)
  }

  // ---- BPE vocabulary persistence (the ModelStore pattern) ----------

  /** Store path for the trained BPE state of corpus `dir` at merge
    * budget k. The key embeds a FINGERPRINT of the documents parquet
    * (file sizes + mtimes — filesystem metadata only, no scan), so a
    * regenerated corpus can never be served a stale vocabulary — the
    * round-9 stale-symlink advice applied to model artifacts. */
  private[graft] def bpeStorePath(dir: String, k: Int): String =
    s"target/tmp/bpe_store/${dir.replaceAll("[^a-zA-Z0-9]", "_")}_k${k}_" +
      graft.ArtifactStore.fingerprint(dir, "documents.parquet")

  /** Persist the trained state: the ordered merge table and the final
    * merged vocabulary frame, parquet like [[graft.ml.ModelStore]].
    * The completion marker is written LAST so a crash mid-save can
    * never look like a complete artifact. */
  private[graft] def bpeSaveState(
      merges: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame, path: String): Unit = {
    merges.coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    vocab.select(col("word"), col("freq"), col("syms"))
      .write.mode("overwrite").parquet(s"$path/vocab")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_GRAFT_BPE_OK"), Array.emptyByteArray)
  }

  /** Load a previously saved state, or None when absent/incomplete
    * (or when SPARK_GRAFT_NO_ARTIFACT_CACHE disables artifact loads —
    * the ablation gates exercise the full training loop). */
  private[graft] def bpeLoadState(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] =
    if (graft.ArtifactStore.cacheDisabled || !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/_GRAFT_BPE_OK"))) None
    else Some((Tables.parquet(spark, s"$path/merges"),
      Tables.parquet(spark, s"$path/vocab")))

  /** Train-ONCE state access: load the persisted (merges, vocab) pair
    * when the store has it; otherwise train, save, and serve the
    * RELOADED artifact — both the first and every later run read the
    * same physical parquet, so the save→load round trip is exercised
    * on the very run that trains (the ml_forecast discipline), and
    * bit-identity between a fresh and a loaded vocabulary is not left
    * to chance (BpeStoreSpec pins it anyway). */
  private[graft] def bpeTrainedState(docs: org.apache.spark.sql.DataFrame,
      k: Int, store: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    bpeLoadState(spark, store).getOrElse {
      import spark.implicits._
      val (ms, v) = bpeTrainState(docs, k)
      val mDf = ms.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      if (graft.ArtifactStore.cacheDisabled) (mDf, v)
      else {
        bpeSaveState(mDf, v, store)
        bpeLoadState(spark, store).get
      }
    }
  }

  /** `txt_bpe_tokenize`: the APPLY side of [[pipeBpeTrain]] — token
    * counts of every document under the trained BPE vocabulary, the
    * numbers that size shards, contexts, and training budgets once a
    * real tokenizer exists (whitespace token counts systematically
    * under-state long words and multilingual text). Reports per doc:
    * word count, char count, BPE token count, and chars-per-token (the
    * compression the vocabulary achieves on that doc).
    *
    * Scale: tokenization never re-folds merges per corpus occurrence —
    * the final vocabulary frame already holds each word's merged
    * symbol sequence, so the corpus pass is ONE explode + an equi-join
    * on `word` against the vocab-bounded frame (planner-chosen, the
    * txt_tfidf vocabulary-join doctrine) + a doc-grain aggregate. The
    * vocabulary comes from the PERSISTED store ([[bpeTrainedState]] —
    * round-10: train once, save through the ModelStore pattern, load
    * thereafter; this query no longer re-trains the merge table per
    * run). Rows-only like its trainer (the merge loop has no SQL
    * replay); the spec hand-verifies the counts on the Sennrich
    * corpus, and BpeStoreSpec pins save→load→re-tokenize
    * bit-identity. */
  val txtBpeTokenize: Q = (spark, dir) =>
    bpeTokenizeWith(Tables.documents(spark, dir),
      bpeTrainedState(Tables.documents(spark, dir), BpeMerges,
        bpeStorePath(dir, BpeMerges))._2)

  /** [[txtBpeTokenize]] over an explicit (doc_id, text) frame with an
    * injectable merge budget — trains in-memory (no store); the spec
    * path. */
  private[graft] def bpeTokenizeOn(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    bpeTokenizeWith(docs, bpeTrainState(docs, k)._2)

  /** Tokenize `docs` under an explicit trained vocabulary frame
    * (word, freq, syms) — fresh or loaded from the store. */
  private[graft] def bpeTokenizeWith(docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(vocab.select(col("word"), size(col("syms")).as("n_sym")),
        Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("n_sym")).cast("long").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        Tables.round6(col("n_chars").cast("double") / col("n_bpe_tokens")))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, Q] = Map(
    "pipe_curriculum"     -> pipeCurriculum,
    "pipe_token_budget"   -> pipeTokenBudget,
    "pipe_bpe_pairs"      -> pipeBpePairs,
    "pipe_bpe_train"      -> pipeBpeTrain,
    "txt_bpe_tokenize"    -> txtBpeTokenize,
    "pipe_shard_manifest" -> pipeShardManifest,
    "smp_split_leakfree"  -> smpSplitLeakfree,
    "smp_quality_weighted" -> smpQualityWeighted,
    "smp_stratified"      -> smpStratified,
    "smp_temperature"     -> smpTemperature,
    "smp_fixed_k"         -> smpFixedK,
    "pipe_mixture"        -> pipeMixture,
    "pipe_decontaminate"  -> pipeDecontaminate,
    "pipe_quality_filter" -> pipeQualityFilter,
    "txt_chunk_overlap"   -> txtChunkOverlap,
    "pipe_pack_sequences" -> pipePackSequences,
  )

  private val T = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  def oracles: Map[String, String] = Map(
    "pipe_bpe_pairs" ->
      s"""WITH wf AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest($T) AS word FROM documents) GROUP BY 1),
         |p AS (
         |  SELECT substr(word, CAST(i AS INT), 1) AS left_sym,
         |    substr(word, CAST(i AS INT) + 1, 1) AS right_sym, freq
         |  FROM wf, unnest(range(1, length(word))) t(i)
         |  WHERE length(word) >= 2)
         |SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
         |FROM p GROUP BY 1, 2
         |ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""".stripMargin,
    // The NAIVE one-window formulation — hash-matching it proves the
    // engine's bucket decomposition exact (join_range_bucketed rule).
    "pipe_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($T) AS BIGINT) AS nt,
         |    ${hash10kSql("doc_id")} AS h
         |  FROM documents),
         |b AS (
         |  SELECT lang, count(*) AS n_total_docs,
         |    CAST(SUM(nt) AS BIGINT) AS corpus_tokens,
         |    CAST(SUM(nt) AS BIGINT) // $TokenBudgetDenom AS budget_tokens
         |  FROM t GROUP BY 1),
         |c AS (
         |  SELECT t.*, CAST(SUM(nt) OVER (PARTITION BY lang
         |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t),
         |sel AS (
         |  SELECT c.lang, count(*) AS n_sel_docs,
         |    CAST(SUM(nt) AS BIGINT) AS sel_tokens
         |  FROM c JOIN b USING (lang)
         |  WHERE cum <= budget_tokens GROUP BY 1),
         |bp AS (
         |  SELECT lang, h,
         |    CAST(SUM(SUM(nt)) OVER (PARTITION BY lang ORDER BY h)
         |         AS BIGINT) AS bprefix
         |  FROM t GROUP BY lang, h),
         |hs AS (
         |  SELECT lang, min(h) AS cut_bucket
         |  FROM bp JOIN b USING (lang)
         |  WHERE bprefix > budget_tokens GROUP BY 1)
         |SELECT lang, n_total_docs, corpus_tokens, budget_tokens,
         |  coalesce(n_sel_docs, 0) AS n_sel_docs,
         |  coalesce(sel_tokens, 0) AS sel_tokens, cut_bucket
         |FROM b LEFT JOIN sel USING (lang) LEFT JOIN hs USING (lang)
         |ORDER BY lang""".stripMargin,
    "pipe_shard_manifest" ->
      """WITH s AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 8 AS shard_id
        |  FROM documents)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipe_curriculum" ->
      s"""WITH q AS (
         |  SELECT doc_id, md5(text) AS h,
         |    floor((least(CAST(len($T) AS DOUBLE) / 100.0, 1.0) * 0.4
         |          + CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
         |                 AS DOUBLE) / length(text) * 0.4
         |          + least(CAST(${TextQueries.sw(EN_STOP)} AS DOUBLE)
         |                  / len($T) * 5.0, 1.0) * 0.2)
         |        * 1000000.0 + 0.5) / 1000000.0 AS quality_score
         |  FROM documents),
         |t AS (SELECT quantile_cont(quality_score, 1.0/3.0) AS t1,
         |             quantile_cont(quality_score, 2.0/3.0) AS t2 FROM q)
         |SELECT doc_id, quality_score,
         |  CASE WHEN quality_score >= t2 THEN 1
         |       WHEN quality_score >= t1 THEN 2 ELSE 3 END AS phase,
         |  CAST('0x' || substr(h, 1, 15) AS BIGINT) AS ord
         |FROM q, t ORDER BY phase, ord, doc_id""".stripMargin,
    "smp_split_leakfree" ->
      """WITH s AS (
        |  SELECT doc_id, md5(text) AS h,
        |    CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |              % 10 < 7 THEN 'train'
        |         WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |              % 10 < 9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |l AS (
        |  SELECT count(*) AS n_leaked_groups FROM (
        |    SELECT h FROM s GROUP BY h
        |    HAVING count(DISTINCT split) > 1))
        |SELECT split, count(*) AS n_docs, count(DISTINCT h) AS n_groups,
        |  (SELECT n_leaked_groups FROM l) AS n_leaked_groups
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "smp_quality_weighted" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    floor((least(CAST(len($T) AS DOUBLE) / 100.0, 1.0) * 0.4
         |          + CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
         |                 AS DOUBLE) / length(text) * 0.4
         |          + least(CAST(${TextQueries.sw(EN_STOP)} AS DOUBLE)
         |                  / len($T) * 5.0, 1.0) * 0.2)
         |        * 1000000.0 + 0.5) / 1000000.0 AS q
         |  FROM documents),
         |m AS (SELECT max(q) AS q_max FROM q),
         |r AS (
         |  SELECT doc_id, q AS quality_score,
         |    CAST(floor(10000.0 * q / q_max) AS BIGINT) AS rate_bp
         |  FROM q, m)
         |SELECT doc_id, quality_score, rate_bp FROM r
         |WHERE ${hash10kSql("doc_id")} < rate_bp
         |ORDER BY doc_id""".stripMargin,
    "smp_stratified" -> {
      val rateCase = StratRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", " ELSE 0 END")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${hash10kSql("doc_id")} < $rateCase
         |ORDER BY doc_id""".stripMargin
    },
    "smp_fixed_k" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source FROM documents
         |  ORDER BY ${hash10kSql("doc_id")}, doc_id LIMIT $SampleK) t
         |ORDER BY doc_id""".stripMargin,
    "smp_temperature" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
         |r AS (
         |  SELECT lang, n_total,
         |    CAST(floor(10000.0 * sqrt(
         |      CAST((SELECT min(n_total) FROM c) AS DOUBLE) / n_total))
         |      AS BIGINT) AS rate_bp
         |  FROM c),
         |k AS (
         |  SELECT lang, n_total, rate_bp,
         |    count(CASE WHEN ${hash10kSql("d.doc_id")} < rate_bp
         |          THEN 1 END) AS n_kept
         |  FROM documents d JOIN r USING (lang)
         |  GROUP BY 1, 2, 3)
         |SELECT lang, n_total, rate_bp, n_kept,
         |  floor((CAST(n_kept AS DOUBLE) / SUM(n_kept) OVER ())
         |        * 1000000.0 + 0.5) / 1000000.0 AS pct_kept
         |FROM k ORDER BY lang""".stripMargin,
    "pipe_mixture" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST(substr(source, 4) AS INT) < 10
         |         THEN 'web' ELSE 'curated' END AS corpus,
         |    CASE WHEN CAST(substr(source, 4) AS INT) < 10
         |         THEN 8000 ELSE 3000 END AS rate,
         |    len($T) AS n_tokens
         |  FROM documents),
         |k AS (SELECT corpus, n_tokens FROM s
         |      WHERE ${hash10kSql("doc_id")} < rate),
         |a AS (SELECT corpus, count(*) AS n_docs,
         |        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |      FROM k GROUP BY 1)
         |SELECT corpus, n_docs, n_tokens,
         |  floor((CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER ())
         |        * 1000000.0 + 0.5) / 1000000.0 AS pct_docs
         |FROM a ORDER BY corpus""".stripMargin,
    // Identity-only shingles (string form ≡ xxhash64 form up to 2^-64
    // collisions, the dedup_ngram_jaccard argument): membership and
    // per-doc hit COUNTS are preserved, which is all this oracle reads.
    "pipe_decontaminate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $T AS w FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 3
         |         THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                            FOR i IN range(1, len(w) - 1)])
         |         ELSE [] END AS s
         |  FROM tok),
         |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM e WHERE doc_id % 50 = 0)
         |SELECT e.doc_id, count(*) AS n_hit_ngrams
         |FROM e JOIN ev USING (g)
         |WHERE e.doc_id % 50 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipe_quality_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    floor((least(CAST(len($T) AS DOUBLE) / 100.0, 1.0) * 0.4
         |          + CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
         |                 AS DOUBLE) / length(text) * 0.4
         |          + least(CAST(${TextQueries.sw(EN_STOP)} AS DOUBLE)
         |                  / len($T) * 5.0, 1.0) * 0.2)
         |        * 1000000.0 + 0.5) / 1000000.0 AS quality_score
         |  FROM documents),
         |t AS (SELECT quantile_cont(quality_score, 0.25) AS thr FROM q)
         |SELECT q.doc_id, q.quality_score FROM q, t
         |WHERE q.quality_score >= t.thr
         |ORDER BY q.doc_id""".stripMargin,
    "txt_chunk_overlap" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $T AS w FROM documents),
         |c AS (
         |  SELECT doc_id, w, len(w) AS n,
         |    unnest(range(0, (len(w) - 1) // $ChunkStride + 1)) AS chunk_idx
         |  FROM tok WHERE len(w) > 0)
         |SELECT doc_id, chunk_idx,
         |  least($ChunkLen, n - chunk_idx * $ChunkStride) AS n_chunk_tokens,
         |  w[chunk_idx * $ChunkStride + 1] AS head_token
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "pipe_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, len($T) AS n_tokens,
         |    (${hash10kSql("doc_id")}) % $PackBuckets AS bucket
         |  FROM documents),
         |c AS (
         |  SELECT bucket, doc_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT bucket, (cum - n_tokens) // $PackBudget AS shard,
         |  count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
