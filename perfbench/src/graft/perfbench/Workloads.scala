package graft.perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ArtifactStore, Q, ScaleRehearsal, Tables}
import graft.ml.{Forecast, LinearBacktest, ModelStore, Scoring}
import graft.operators._
import graft.plans._
import graft.sources.SourceQueries
import graft.streaming.EventStreams

/** The timed ops of one pass over a workload's mix. */
final case class Cycle(samples: Seq[Sample]) {
  def wallNs: Long = samples.map(_.wallNs).sum
}

/** A benchmark workload. Only `build` (in set-up) and the ops of `cycle`
  * are timed: input derivation, per-cycle copies, verification dumps,
  * rewinds and clean-up never count towards a metric. */
trait Workload {
  /** Untimed, before set-up: derive the workload's inputs from the
    * generated tables in `data`. Returns the data dir the run uses. */
  def inputs(spark: SparkSession, data: String): String = data
  /** Timed as part of set-up: the program's one-time builds. */
  def build(spark: SparkSession, dir: String): Unit
  /** Untimed: run the mix once with every output dumped under
    * `dumpDir`, and record each op's verified row count. */
  def verify(spark: SparkSession, runner: Runner, dir: String,
      dumpDir: String): Seq[Sample]
  /** Untimed passes between the verification pass and the timed ones,
    * while the JIT compiles the code the mix reaches. */
  def warmCycles: Int = 1
  /** Untimed, before a cycle: the data dir the cycle runs on. */
  def prepare(dir: String): String = dir
  /** One timed pass over the mix. */
  def cycle(spark: SparkSession, runner: Runner, dir: String, k: Int): Cycle
  /** Untimed, after a cycle: remove what `prepare` made and what the
    * cycle derived from it. */
  def cleanup(dir: String): Unit = ()
  /** Bytes of program input one cycle consumes, the base of the store
    * write amplification. */
  def inputBytes(dir: String): Long

  /** `body` on a prepared dir, cleaned up afterwards. */
  def prepared[T](dir: String)(body: String => T): T = {
    val d = prepare(dir)
    try body(d) finally cleanup(d)
  }
}

object Workloads {
  def apply(name: String, work: String, seed: Long): Workload =
    name match {
      case "dashboard" => new Dashboard(seed)
      case "rebuild" => new Rebuild(work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Frame ops for the named queries of each module, in the given order. */
  def ops(dir: String, modules: Seq[(String, Map[String, Q], Seq[String])]): Seq[Op] =
    for ((m, qs, names) <- modules; n <- names)
      yield Op.frame(n, m)(s => qs(n)(s, dir))

  def copyTables(from: String, to: String, tables: Seq[String]): Unit = {
    new File(to).mkdirs()
    for (t <- tables) {
      val (src, dst) = (new File(Tables.path(from, t)), new File(Tables.path(to, t)))
      if (src.isDirectory) FileUtils.copyDirectory(src, dst) else FileUtils.copyFile(src, dst)
    }
  }

  def parquetBytes(dir: String, tables: Seq[String]): Long =
    tables.map(t => FileUtils.sizeOf(new File(s"$dir/$t.parquet"))).sum

  /** Remove a data dir with every store entry, model store and program
    * scratch output keyed by it: store keys and sink paths embed the
    * data-dir path with non-alphanumerics replaced by `_`. */
  def dropKeyed(dir: String): Unit = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    for {
      root <- Seq("target/tmp/artifact_store", "target/tmp/bpe_store",
        "target/tmp", "target/tmp/bucketed", sys.props("java.io.tmpdir"))
      f <- Option(new File(root).listFiles()).toSeq.flatten
      if f.getName.contains(tag)
    } FileUtils.deleteQuietly(f)
    FileUtils.deleteQuietly(new File(dir))
  }

  val AllTables: Seq[String] = Tables.allReaders.map(_._1)

  def verifyWith(runner: Runner, ops: Seq[Op], dumpDir: String): Seq[Sample] =
    ops.map { op =>
      val s = runner.run(op, Some(dumpDir))
      if (s.ok) runner.expected(op.name) = s.rows
      s
    }
}

/** Small read-only queries of the reference's serving surface on warm
  * stores, one from each serving module, so fixed per-query costs
  * (planning, job scheduling, scan open) dominate. The seed sets the
  * query order of every pass. The three costliest serving modules run
  * in the traced run only ([[servingPass]]), which keeps a run within
  * the benchmark's time budget. */
final class Dashboard(seed: Long) extends Workload {
  private def mix(dir: String): Seq[Op] = Workloads.ops(dir, Seq(
    ("CoreQueries", CoreQueries.queries, Seq("flt_eq")),
    ("AggQueries", AggQueries.queries, Seq("agg_kpis")),
    ("NestedQueries", NestedQueries.queries, Seq("agg_collect_list")),
    ("JoinWindowQueries", JoinWindowQueries.queries, Seq("win_rank_kinds")),
    ("ReshapeQueries", ReshapeQueries.queries, Seq("join_semi")),
    ("EventStreams", EventStreams.queries, Seq("evt_tumbling_window")),
    ("PairCount", PairCount.queries, Seq("join_pair_onepass")),
    ("TopK", TopK.queries, Seq("topk_heap_per_group")),
    ("ThetaSets", ThetaSets.queries, Seq("agg_theta_setops_exact")),
    ("SkewJoin", SkewJoin.queries, Seq("join_skew_salted")),
    ("Forecast", Forecast.queries, Seq("ml_forecast"))))

  /** Traced run only: one pass over the serving modules left out of the
    * timed mix. */
  def servingPass(runner: Runner, dir: String): Seq[Sample] =
    Workloads.ops(dir, Seq(
      ("GlobalRank", GlobalRank.queries, Seq("agg_gini")),
      ("Scoring", Scoring.queries, Seq("ml_stream_score")),
      ("LinearBacktest", LinearBacktest.queries, Seq("ml_linear_backtest"))))
      .map(runner.run(_))

  /** Eleven different queries take the JIT longer to settle. */
  override def warmCycles: Int = 2

  /** The model catalog behind `ml_forecast` and `ml_stream_score`. */
  def build(spark: SparkSession, dir: String): Unit =
    Forecast.persistedStore(spark, dir)
  def verify(spark: SparkSession, runner: Runner, dir: String,
      dumpDir: String): Seq[Sample] =
    Workloads.verifyWith(runner, mix(dir), dumpDir)
  def cycle(spark: SparkSession, runner: Runner, dir: String, k: Int): Cycle = {
    val order = new scala.util.Random(seed * 7919 + k).shuffle(mix(dir))
    Cycle(order.map(runner.run(_)))
  }
  def inputBytes(dir: String): Long = Workloads.parquetBytes(dir, Workloads.AllTables)
}

/** A new corpus version arriving. Every cycle copies the seeded corpus
  * to a new directory name; store keys embed the data-dir path, so every
  * artifact is derived and written cold, with no wipe of the shared
  * store. The mix is one corpus product from each rebuild module plus
  * the forecast refit. Each version's directory and store entries
  * are deleted after its cycle, outside the timed window.
  *
  * The corpus is the scale rehearsal's `admit_ingest` layout, made with
  * its own replica functions ([[inputs]]). The traced run also lands
  * that layout's batch on a freshly built admission index
  * ([[ingestPass]]). */
final class Rebuild(work: String, seed: Long) extends Workload {
  import graft.operators.{DedupQueries => D, SimilarityQueries => S}
  private val tag = D.IngestBatchTag
  private var copies = 0
  private var corpus: String = null
  /** The scale rehearsal's standard ingest batch replica. */
  private val BatchReplica = 999

  private def mix(dir: String): Seq[Op] = Workloads.ops(dir, Seq(
    ("SourceQueries", SourceQueries.queries, Seq("src_extjson_load")),
    ("TextQueries", TextQueries.queries, Seq("txt_fingerprint")),
    ("DedupQueries", DedupQueries.queries, Seq("dedup_exact")),
    ("SimilarityQueries", SimilarityQueries.queries, Seq("sim_label_centroids")),
    ("MultimodalQueries", MultimodalQueries.queries, Seq("mm_dedup_phash")),
    ("PipelineOps", PipelineOps.queries, Seq("pipe_quality_filter")))) :+
    Op.action("forecast_refit", "Forecast") { s =>
      ModelStore.save(Forecast.trainPerProductModels(s, dir), s"$dir.models")
      ModelStore.load(s, s"$dir.models").count()
    }

  /** Replicas of the generated documents and embeddings in the corpus:
    * the base itself (replica 0) and four more the seed picks, each with
    * its own substitution alphabet and embedding map. */
  def replicas: Seq[Int] =
    0 +: new scala.util.Random(seed).shuffle((1 until BatchReplica).toList).take(4)

  /** The scale rehearsal's `admit_ingest` corpus: the non-batch rows
    * (ids not a multiple of 5) of [[replicas]], plus the standard ingest
    * batch, replica 999 of the base with ids times 5, so the base is 4x
    * the batch. The retail tables are copied unchanged. */
  override def inputs(spark: SparkSession, data: String): String = {
    import ScaleRehearsal.{docReplica, embReplica}
    corpus = s"$work/corpus"
    Workloads.copyTables(data, corpus,
      Workloads.AllTables.filterNot(Set("documents", "embeddings")))
    def layout(base: DataFrame, id: String, replica: (DataFrame, Int) => DataFrame) =
      replicas.map(r => replica(base, r).where(pmod(col(id), lit(5)) =!= 0))
        .reduce(_ unionByName _)
        .unionByName(replica(base, BatchReplica).withColumn(id, col(id) * 5))
        .coalesce(1)
    layout(Tables.documents(spark, data), "doc_id", docReplica)
      .write.parquet(Tables.path(corpus, "documents"))
    layout(Tables.embeddings(spark, data), "vec_id", embReplica)
      .write.parquet(Tables.path(corpus, "embeddings"))
    corpus
  }

  def build(spark: SparkSession, dir: String): Unit = ()

  /** A new corpus version under a new directory name. */
  override def prepare(dir: String): String = {
    copies += 1
    val v = s"$work/corpus_v$copies"
    Workloads.copyTables(dir, v, Workloads.AllTables)
    v
  }

  override def cleanup(v: String): Unit = {
    Workloads.dropKeyed(v)
    FileUtils.deleteQuietly(new File(s"$v.models"))
  }

  def verify(spark: SparkSession, runner: Runner, dir: String,
      dumpDir: String): Seq[Sample] =
    prepared(dir)(v => Workloads.verifyWith(runner, mix(v), dumpDir))

  def cycle(spark: SparkSession, runner: Runner, dir: String, k: Int): Cycle =
    Cycle(mix(dir).map(runner.run(_)))

  def inputBytes(dir: String): Long = Workloads.parquetBytes(dir, Workloads.AllTables)
  /** The batch is one fifth of the document and embedding rows. */
  def batchInputBytes: Long =
    Workloads.parquetBytes(corpus, Seq("documents", "embeddings")) / 5

  def storeBases(dir: String): Seq[(String, String)] = Seq(
    "digests" -> D.digestStorePath(dir),
    "ngram_postings" -> D.ngramPostingStorePath(dir),
    "ngram_fpostings" -> D.ngramFilteredStorePath(dir),
    "ngram_df" -> D.ngramDfStorePath(dir),
    "shingles" -> D.shingleStorePath(dir),
    "span_anchors" -> D.spanAnchorStorePath(dir),
    "simhash_chunks" -> D.simhashChunkStorePath(dir),
    "emb_sigs" -> S.embSigStorePath(dir))

  /** Restore the base-only admission index (the scale rehearsal's
    * admit_ingest rewind): drop every batch delta, and reset a chain the
    * batch folded into its base back to the base-only form. Returns the
    * chains that had to be reset, i.e. that the batch rebuilt. */
  def rewind(spark: SparkSession, dir: String): Seq[String] = {
    val folded = storeBases(dir).filter { case (_, p) =>
      ArtifactStore.foldedTags(p).contains(tag) }
    folded.foreach { case (name, p) =>
      FileUtils.deleteQuietly(new File(p))
      FileUtils.deleteQuietly(new File(ArtifactStore.childPathFor(p, tag)))
      name match {
        case "ngram_fpostings" =>
          ArtifactStore.save(D.dfFilteredPostings(D.ngramPostingsOn(
            Tables.documents(spark, dir).where(!D.isIngestBatch))), p)
        case other => sys.error(s"rewind: unexpected folded chain $other at $p")
      }
    }
    storeBases(dir).foreach { case (_, p) =>
      FileUtils.deleteQuietly(new File(ArtifactStore.childPathFor(p, tag)))
    }
    folded.map(_._1)
  }

  /** What the ingest pass measured: the index build and landing samples,
    * each store's append and each admission family's probe on its own
    * clock, and the chains each rewind had to rebuild. */
  final case class IngestSplit(admitted: Seq[Sample],
      appends: Seq[(String, Sample)], probes: Seq[(String, Sample)],
      rebuiltChains: Seq[String])

  /** The ingest path on a fresh version: build the admission index with
    * one cold admission call (its verdicts: one row per batch document)
    * and rewind it to base-only; land the batch through the streaming
    * ingest path; rewind; then the scale rehearsal's admit_ingest passes
    * 2 and 3: each store's append on its own clock, then each admission
    * family's verdict query on its own clock. */
  def ingestPass(spark: SparkSession, runner: Runner): IngestSplit = prepared(corpus) { dir =>
    val n = Tables.documents(spark, dir).where(D.isIngestBatch).count()
    def checked(s: Sample): Sample =
      if (s.ok && s.rows != n) s.copy(error = Some(s"rows ${s.rows} != batch size $n"))
      else s
    val index = checked(runner.run(Op.frame("admit_index_build", "DedupQueries")(
      D.pipeAdmitFull(_, dir))))
    val rebuilt = rewind(spark, dir)
    val land = checked(runner.run(Op.action("ingest_land", "EventStreams") { s =>
      EventStreams.ingestAdmissionBatch(s, dir, Tables.documents(s, dir)
        .where(D.isIngestBatch).select("doc_id", "text", "n_chars"))
      ArtifactStore.deltaRowCount(D.digestStorePath(dir), tag).getOrElse(-1L)
    }))
    val rebuiltByLanding = rewind(spark, dir)
    def append(n: String)(f: SparkSession => Any): (String, Sample) =
      n -> runner.run(Op.action(s"append_$n", "DedupQueries") { s => f(s); 0L })
    val appends = Seq(
      append("digests")(D.digestStore(_, dir)),
      append("shingles")(D.shingleStore(_, dir)),
      append("ngram_postings")(D.ngramPostingStore(_, dir)),
      append("ngram_fpostings")(D.ngramFilteredStore(_, dir)),
      append("span_anchors")(D.spanAnchorStore(_, dir)),
      append("simhash_chunks")(D.simhashChunkStore(_, dir)),
      append("emb_sigs")(S.embSigsStored(_, dir)))
    def probe(n: String, m: String, q: Q): (String, Sample) =
      n -> runner.run(Op.frame(s"probe_$n", m)(q(_, dir)))
    val probes = Seq(
      probe("digest", "DedupQueries", D.dedupIncremental),
      probe("core_clean", "DedupQueries", D.pipeCorpusCleanIncremental),
      probe("ngram", "DedupQueries", D.dedupNgramIncremental),
      probe("simhash", "DedupQueries", D.dedupSimhashIncremental),
      probe("containment", "DedupQueries", D.dedupContainmentIncremental),
      probe("spans", "DedupQueries", D.dedupSpansIncremental),
      probe("emb", "SimilarityQueries", S.dedupEmbIncremental))
    IngestSplit(Seq(index, land), appends, probes, rebuilt ++ rebuiltByLanding)
  }
}
