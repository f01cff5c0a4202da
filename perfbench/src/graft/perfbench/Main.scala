package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftConf, Tables}
import graft.functions.{DctPhash, TextFunctions, VectorExpressions}
import graft.ml.{Forecast, ModelStore, Scoring}

/** The benchmark's JVM side. Runs one workload in one session on
  * `local[4]` with one closed-loop client and writes `result.json`
  * (metrics, attempted and failed ops) into the working directory:
  *
  *   Main --workload <dashboard|rebuild> --seed <n> --seconds <s>
  *        --trace <0|1> --data <generated tables dir>
  *
  * Run it with the working directory set to a scratch dir: the program
  * keeps its stores under `target/tmp` relative to it. */
object Main {
  val Cores = 4
  val SetupReps = 2
  val MinCycles = 2

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", new File(m("data")).getAbsolutePath)
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File("tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConf(spark)
  }

  /** Codegen and JIT warm-up common to every workload. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(200000).selectExpr("sum(id)", "count(distinct id % 97)").collect()
    Runner.noop(Tables.lineitem(spark, dir))
    Runner.noop(Tables.documents(spark, dir))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  /** rchar + wchar of this process: bytes passed through read/write. */
  def ioBytes: Long =
    try scala.io.Source.fromFile("/proc/self/io").getLines()
      .filter(l => l.startsWith("rchar:") || l.startsWith("wchar:"))
      .map(_.split(":")(1).trim.toLong).sum
    catch { case _: Throwable => 0L }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A timed pass with the process CPU time and I/O bytes it used. */
  final case class Measured(cycle: Cycle, cpuNs: Long, ioBytes: Long)

  def measure(f: => Cycle): Measured = {
    val (c0, i0) = (cpuNs, ioBytes)
    val c = f
    Measured(c, cpuNs - c0, ioBytes - i0)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(".").getAbsoluteFile.getParent
    val dumpDir = s"$work/verify"
    val wl = Workloads(args.workload, work, args.seed)
    val t00 = System.nanoTime()
    val log = (s: String) =>
      System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.1f s: $s")

    // untimed: the workload's inputs and the program's one-time builds,
    // in a first session that also pays the JVM's class loading
    var spark = session()
    val dir = wl.inputs(spark, args.data)
    warmUp(spark, dir)
    wl.build(spark, dir)
    log("inputs and one-time builds ready")

    val runner = new Runner(spark, None)
    val verified = wl.verify(spark, runner, dir, dumpDir)
    log("verified")
    Files.write(Paths.get(work, "oracle_sql.json"), graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      .getBytes("UTF-8"))
    val attempted = mutable.ArrayBuffer.empty[Sample] ++= verified

    // untimed passes while the JIT compiles what the verification pass
    // reached, then timed passes, untraced, for at least `seconds` and
    // at least MinCycles
    for (k <- 1 to wl.warmCycles)
      attempted ++= wl.prepared(dir)(d => wl.cycle(spark, runner, d, -k)).samples
    val untraced = mutable.ArrayBuffer.empty[Measured]
    val t0 = System.nanoTime()
    while (untraced.size < MinCycles || (System.nanoTime() - t0) / 1e9 < args.seconds)
      untraced += wl.prepared(dir)(d => measure(wl.cycle(spark, runner, d, untraced.size)))
    attempted ++= untraced.flatMap(_.cycle.samples)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      // set-up, timed SetupReps times once the JIT has compiled the code
      // the cycles share with it: a fresh session, warm-up and the
      // program's one-time builds, each on a copy of the inputs under a
      // new name, so that every build is cold
      val setups = (1 to SetupReps).map { i =>
        val d = s"$work/setup_$i"
        Workloads.copyTables(dir, d, Workloads.AllTables)
        spark.stop()
        val t0 = System.nanoTime()
        spark = session()
        warmUp(spark, d)
        wl.build(spark, d)
        val s = (System.nanoTime() - t0) / 1e9
        Workloads.dropKeyed(d)
        s
      }
      log(f"setup s ${setups.map(s => f"$s%.2f").mkString(" ")}")
      metrics("setup_s") = (median(setups), "s")
      metrics("cycle_s") = (median(untraced.map(_.cycle.wallNs / 1e9).toSeq), "s")
      metrics("cycle_cpu_s") = (median(untraced.map(_.cpuNs / 1e9).toSeq), "s")
      metrics("cycle_io_mb") = (median(untraced.map(_.ioBytes / 1048576.0).toSeq), "MB")
      log(s"samples: ${untraced.size} cycles of ${untraced.head.cycle.samples.size} ops, " +
        untraced.map(m => f"${m.cycle.wallNs / 1e9}%.2f s/${m.cpuNs / 1e9}%.1f cpu-s")
          .mkString(" "))
    } else {
      val traced = Traced.run(spark, wl, dir, untraced.size, args, runner.expected)
      attempted ++= traced.samples
      val baseWall = median(untraced.map(_.cycle.wallNs / 1e9).toSeq)
      traced.metrics.foreach { case (k, v) => metrics(k) = v }
      metrics("trace.overhead_share") =
        ((traced.cycleWallS - baseWall) / baseWall, "ratio")
      metrics("jvm.peak_rss_mb") = (peakRssMb, "MB")
    }

    val failed = attempted.filterNot(_.ok)
    failed.foreach(s => log(s"FAILED ${s.op}: ${s.error.get}"))
    val m = metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }.mkString("{", ",", "}")
    val failedNames = failed.map(s => q(s.op)).distinct.mkString("[", ",", "]")
    Files.write(Paths.get(work, "result.json"),
      (s"""{"attempted":${attempted.size},"failed":${failed.size},""" +
        s""""failed_ops":$failedNames,"metrics":$m}""")
        .getBytes("UTF-8"))
    spark.stop()
  }

  /** JSON string literal: backslash, quote and every control char escaped. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}

/** The traced run: the same cycles again under the tracer, with the
  * artifact store diffed around every op, then the direct layer probes.
  * Every per-layer metric is reported on every workload; a layer the
  * workload does not exercise reads 0. */
object Traced {
  final case class Result(samples: Seq[Sample], cycleWallS: Double,
      metrics: Seq[(String, (Double, String))])

  val Modules: Seq[String] = Seq("CoreQueries", "AggQueries", "NestedQueries",
    "JoinWindowQueries", "ReshapeQueries", "TextQueries", "DedupQueries",
    "PipelineOps", "SimilarityQueries", "MultimodalQueries", "SourceQueries",
    "EventStreams", "Forecast", "LinearBacktest", "Scoring", "PairCount",
    "GlobalRank", "TopK", "ThetaSets", "SkewJoin")
  val Stores: Seq[String] = Seq("digests", "shingles", "ngram_postings",
    "ngram_fpostings", "span_anchors", "simhash_chunks", "emb_sigs")
  val Probes: Seq[String] = Seq("digest", "core_clean", "ngram", "simhash",
    "containment", "spans", "emb")
  val StoreRoot = "target/tmp/artifact_store"

  def run(spark: SparkSession, wl: Workload, dir: String, cycles: Int,
      args: Main.Args, expected: collection.Map[String, Long]): Result = {
    val tracer = new Tracer(spark)
    val diffs = mutable.Map.empty[String, StoreFs.Diff]
    // a runner whose every op is bracketed by store views
    val storeRunner = new Runner(spark, Some(tracer)) {
      override def run(op: Op, dumpDir: Option[String]): Sample = {
        val before = StoreFs.view(StoreRoot)
        val s = super.run(op, dumpDir)
        diffs(s.group) = StoreFs.diff(before, StoreFs.view(StoreRoot))
        s
      }
    }
    storeRunner.expected ++= expected
    val measured = (0 until cycles).map(k =>
      wl.prepared(dir)(d => wl.cycle(spark, storeRunner, d, k)))
    val samples = measured.flatMap(_.samples)
    val n = cycles.toDouble
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = out += (k -> (v, u))
    def c(s: Sample): Counters = tracer.byGroup.getOrElse(s.group, new Counters)

    // phase split per op
    val phases = samples.map { s =>
      val build = s.buildNs / 1e6
      val plan = c(s).planMs.toDouble
      val exec = c(s).jobMsFrom(s.writeStartMs).toDouble
      (build, plan, exec, math.max(0.0, s.wallMs - build - plan - exec))
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    put("phase.build_ms", mean(phases.map(_._1)), "ms")
    put("phase.plan_ms", mean(phases.map(_._2)), "ms")
    put("phase.exec_ms", mean(phases.map(_._3)), "ms")
    put("phase.other_ms", mean(phases.map(_._4)), "ms")
    put("phase.other_share", phases.map(_._4).sum / samples.map(_.wallMs).sum, "ratio")

    // Spark execution, per cycle
    val cs = samples.map(c)
    def perCycle(f: Counters => Double) = cs.map(f).sum / n
    val wallS = samples.map(_.wallNs / 1e9).sum
    put("spark.jobs", perCycle(_.jobs.toDouble), "count")
    put("spark.stages", perCycle(_.stages.toDouble), "count")
    put("spark.tasks", perCycle(_.tasks.toDouble), "count")
    put("spark.executor_run_s", perCycle(_.runMs / 1e3), "s")
    put("spark.executor_cpu_s", perCycle(_.cpuNs / 1e9), "s")
    put("spark.gc_s", perCycle(_.gcMs / 1e3), "s")
    put("spark.input_mb", perCycle(_.inputBytes / 1048576.0), "MB")
    put("spark.shuffle_read_mb", perCycle(_.shuffleRead / 1048576.0), "MB")
    put("spark.shuffle_write_mb", perCycle(_.shuffleWrite / 1048576.0), "MB")
    put("spark.spill_mb", perCycle(_.spill / 1048576.0), "MB")
    put("spark.result_rows", samples.map(_.rows.max(0L).toDouble).sum / n, "count")
    put("spark.core_util", cs.map(_.runMs / 1e3).sum / (wallS * Main.Cores), "ratio")

    // artifact store, from the filesystem diffs
    val total = samples.map(s => diffs.getOrElse(s.group, StoreFs.NoDiff))
      .foldLeft(StoreFs.NoDiff)(_ + _)
    val input = wl.inputBytes(dir).toDouble
    put("ArtifactStore.derived", total.derived / n, "count")
    put("ArtifactStore.appended", total.appended / n, "count")
    put("ArtifactStore.rewrites", total.rewrites / n, "count")
    put("ArtifactStore.write_mb", total.writeBytes / n / 1048576.0, "MB")
    put("ArtifactStore.served_share", samples.count(s =>
      !diffs.get(s.group).exists(_.wrote)).toDouble / samples.size, "ratio")
    put("ArtifactStore.write_amp", total.writeBytes / n / input, "ratio")

    // the ingest path (rebuild only): index build, landing, the per-store
    // appends and per-family probes, and what the landing wrote
    val ingest = wl match {
      case r: Rebuild => Some(r.ingestPass(spark, storeRunner))
      case _ => None
    }
    def ingestMs(op: String): Double = ingest.flatMap(_.admitted.find(_.op == op))
      .map(_.wallMs).getOrElse(0.0)
    put("EventStreams.land_ms", ingestMs("ingest_land"), "ms")
    put("ingest.index_build_ms", ingestMs("admit_index_build"), "ms")
    for (st <- Stores) put(s"append.${st}_ms", ingest.flatMap(_.appends.find(_._1 == st))
      .map(_._2.wallMs).getOrElse(0.0), "ms")
    for (p <- Probes) put(s"probe.${p}_ms", ingest.flatMap(_.probes.find(_._1 == p))
      .map(_._2.wallMs).getOrElse(0.0), "ms")
    val landed = ingest.flatMap(_.admitted.find(_.op == "ingest_land"))
      .flatMap(s => diffs.get(s.group)).getOrElse(StoreFs.NoDiff)
    put("ingest.appended", landed.appended, "count")
    put("ingest.write_mb", landed.writeBytes / 1048576.0, "MB")
    put("ingest.write_amp", wl match {
      case r: Rebuild => landed.writeBytes / r.batchInputBytes.toDouble
      case _ => 0.0
    }, "ratio")
    put("ingest.rebuilt_chains", ingest.map(_.rebuiltChains.size.toDouble).getOrElse(0.0), "count")
    ingest.filter(_.rebuiltChains.nonEmpty).foreach(i => System.err.println(
      s"[perfbench] ingest rewinds rebuilt chains: ${i.rebuiltChains.mkString(",")}"))
    val passSamples = ingest.toSeq.flatMap(i =>
      i.admitted ++ i.appends.map(_._2) ++ i.probes.map(_._2)) ++ (wl match {
      case d: Dashboard => d.servingPass(storeRunner, dir)
      case _ => Nil
    })

    // per registering module: per cycle, plus the one traced-only pass
    for (m <- Modules) {
      val ms = samples.filter(_.module == m)
      val is = passSamples.filter(_.module == m)
      put(s"$m.wall_ms", ms.map(_.wallMs).sum / n + is.map(_.wallMs).sum, "ms")
      put(s"$m.cpu_s", (ms.map(c(_).cpuNs).sum / n + is.map(c(_).cpuNs).sum) / 1e9, "s")
    }

    writeSpans(args.workload, samples ++ passSamples, c, diffs)
    tracer.detach()
    // the direct layer probes run in the dashboard's traced run only: the
    // rebuild's traced run already carries the ingest pass, and both
    // must end within the benchmark's per-run time limit
    out ++= (wl match {
      case _: Dashboard => LayerProbes.run(spark, args.data)
      case _ => LayerProbes.Units.map { case (k, u) => k -> (0.0, u) }
    })
    Result(samples ++ passSamples, median(measured.map(_.wallNs / 1e9)), out.toSeq)
  }

  private def median(xs: Seq[Double]) = Main.median(xs)

  /** The run's spans, written once at its end to `trace.json`: one per
    * op under the workload, with its build/plan/exec children as
    * durations and the op's Spark and store counters. */
  private def writeSpans(workload: String, samples: Seq[Sample],
      c: Sample => Counters, diffs: collection.Map[String, StoreFs.Diff]): Unit = {
    import Main.{num, q}
    val spans = samples.map { s =>
      val k = c(s)
      val d = diffs.getOrElse(s.group, StoreFs.NoDiff)
      s"""{"op":${q(s.op)},"module":${q(s.module)},"group":${q(s.group)},""" +
        s""""start_ms":${s.startMs},"wall_ms":${num(s.wallMs)},""" +
        s""""build_ms":${num(s.buildNs / 1e6)},"plan_ms":${k.planMs},""" +
        s""""exec_ms":${k.jobMsFrom(s.writeStartMs)},"rows":${s.rows},""" +
        s""""jobs":${k.jobs},"stages":${k.stages},"tasks":${k.tasks},""" +
        s""""executor_cpu_ns":${k.cpuNs},"shuffle_read_bytes":${k.shuffleRead},""" +
        s""""shuffle_write_bytes":${k.shuffleWrite},"store_derived":${d.derived},""" +
        s""""store_appended":${d.appended},"store_write_bytes":${d.writeBytes}}"""
    }
    Files.write(Paths.get("trace.json"),
      s"""{"workload":${q(workload)},"spans":[${spans.mkString(",\n")}]}"""
        .getBytes("UTF-8"))
  }
}

/** Direct probes of the `ml`, `functions` and `Tables` layers on the
  * generated inputs, each timed around one noop materialisation. */
object LayerProbes {
  val Units: Seq[(String, String)] = Seq("Forecast.train_ms" -> "ms",
    "ModelStore.save_ms" -> "ms", "ModelStore.load_ms" -> "ms",
    "Scoring.score_ms" -> "ms", "functions.tokens_docs_per_s" -> "1/s",
    "functions.cosine_pairs_per_s" -> "1/s", "functions.dct_phash_per_s" -> "1/s",
    "Tables.scan_mb_per_s" -> "MB/s")

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, data: String)
      : Seq[(String, (Double, String))] = {
    import spark.implicits._
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = out += (k -> (v, u))

    // ml: train, save, load and score the per-product catalog
    val path = new File("ml_probe_models").getAbsolutePath
    var models: Array[ModelStore.ProductModel] = Array.empty
    val trainMs = timeMs { models = Forecast.trainPerProductModels(spark, data).collect() }
    val saveMs = timeMs(ModelStore.save(spark.createDataset(models.toSeq), path))
    val loadMs = timeMs(Runner.noop(ModelStore.load(spark, path).toDF()))
    val scoreMs = timeMs(Runner.noop(Scoring.scoreAgainstStore(spark, path,
      Scoring.featureRows(spark, data)).toDF()))
    FileUtils.deleteQuietly(new File(path))
    put("Forecast.train_ms", trainMs, "ms")
    put("ModelStore.save_ms", saveMs, "ms")
    put("ModelStore.load_ms", loadMs, "ms")
    put("Scoring.score_ms", scoreMs, "ms")

    // functions kernels over replicated inputs, each sized to about a
    // second of work
    def replicated(df: DataFrame, reps: Int) = df.crossJoin(spark.range(reps).toDF("rep"))
    def rate(df: DataFrame, nItems: Double): Double = {
      Runner.noop(df) // warm
      nItems / (timeMs(Runner.noop(df)) / 1e3)
    }
    val docs = Tables.documents(spark, data)
    val nDocs = docs.count().toDouble
    put("functions.tokens_docs_per_s", rate(replicated(docs, 10).select(
      TextFunctions.shingleHashesMd5(TextFunctions.tokens(col("text"))).as("h")),
      nDocs * 10), "1/s")
    val emb = Tables.embeddings(spark, data)
    val vecs = replicated(emb, 10).select(col("embedding").cast("array<double>").as("v"))
    put("functions.cosine_pairs_per_s", rate(vecs.as("a").crossJoin(vecs.as("b")).select(
      VectorExpressions.cosine_similarity(col("a.v"), col("b.v")).as("c")),
      math.pow(emb.count() * 10.0, 2)), "1/s")
    put("functions.dct_phash_per_s", rate(replicated(docs, 200).select(
      DctPhash.dct_phash(col("text").cast("binary")).as("p")), nDocs * 200), "1/s")

    // Tables: a full scan of every reader
    val bytes = Tables.allReaders.map { case (t, _) =>
      FileUtils.sizeOf(new File(Tables.path(data, t))) }.sum
    Tables.allReaders.foreach { case (_, r) => Runner.noop(r(spark, data)) }
    val scanMs = timeMs(Tables.allReaders.foreach { case (_, r) => Runner.noop(r(spark, data)) })
    put("Tables.scan_mb_per_s", bytes / 1048576.0 / (scanMs / 1e3), "MB/s")
    out.toSeq
  }
}
