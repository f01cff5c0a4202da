package graft.perfbench

import java.io.File

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark operation: a call into one of the program's modules.
  * A frame op's result is materialised in full by the runner; an action
  * op does its own work and returns the row count it produced. */
final case class Op(name: String, module: String, run: SparkSession => Op.Out)

object Op {
  sealed trait Out
  final case class Frame(df: DataFrame) extends Out
  final case class Done(rows: Long) extends Out

  def frame(name: String, module: String)(f: SparkSession => DataFrame): Op =
    Op(name, module, s => Frame(f(s)))
  def action(name: String, module: String)(f: SparkSession => Long): Op =
    Op(name, module, s => Done(f(s)))
}

/** One op invocation. `buildNs` is the call into the module; the rest of
  * `wallNs` is the materialisation. `group` is the Spark job group the
  * invocation ran under. */
final case class Sample(op: String, module: String, group: String,
    startMs: Long, writeStartMs: Long, buildNs: Long, wallNs: Long,
    rows: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def wallMs: Double = wallNs / 1e6
}

/** Runs ops one at a time (a closed loop with one client). Every frame
  * is written in full to Spark's `noop` sink, or to parquet for the
  * verification pass; its row count comes from an observation on the
  * written frame, never from a separate `count()`. */
class Runner(spark: SparkSession, tracer: Option[Tracer]) {
  private var seq = 0
  /** Verified row count per op name; a timed op must reproduce it. */
  val expected = mutable.Map.empty[String, Long]

  def run(op: Op, dumpDir: Option[String] = None): Sample = {
    seq += 1
    val group = s"${op.name}#$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, op.name)
    tracer.foreach(_.begin(group))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tBuilt = t0
    var writeStartMs = startMs
    def built(): Unit = {
      tBuilt = System.nanoTime(); writeStartMs = System.currentTimeMillis()
    }
    val result: Either[String, Long] =
      try op.run(spark) match {
        case Op.Frame(df) =>
          built()
          Right(dumpDir match {
            case Some(d) => Runner.dump(df, s"$d/${op.name}")
            case None => Runner.noop(df)
          })
        case Op.Done(n) => built(); Right(n)
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)
            .linesIterator.nextOption().getOrElse("")}")
      }
    val wallNs = System.nanoTime() - t0
    sc.clearJobGroup()
    tracer.foreach(_.end())
    val rows = result.getOrElse(-1L)
    System.err.println(f"op ${op.name} ${wallNs / 1e6}%.1f ms rows $rows " +
      result.left.getOrElse(""))
    val error = result.left.toOption.orElse(
      expected.get(op.name).filter(_ != rows)
        .map(v => s"rows $rows != verified $v"))
    Sample(op.name, op.module, group, startMs, writeStartMs,
      tBuilt - t0, wallNs, rows, error)
  }
}

object Runner {
  def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Verification dump: the full output as one parquet file, with the
    * timestamp normalisation the repo's correctness dump applies. */
  def dump(df: DataFrame, path: String): Long = {
    val obs = Observation()
    df.transform(graft.Verify.dumpNtz).observe(obs, count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    obs.get("n").asInstanceOf[Long]
  }
}

/** Per-job-group Spark counters. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
  var planMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds covered by the union of this group's job intervals
    * that started at or after `fromMs`. */
  def jobMsFrom(fromMs: Long): Long = {
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- jobSpans.filter(_._1 >= fromMs).sortBy(_._1)) {
      val lo = math.max(s, reach)
      if (e > lo) covered += e - lo
      reach = math.max(reach, e)
    }
    covered
  }
}

/** The traced run's instrumentation: one SparkListener plus one query
  * execution listener, both keyed by the op's job group. Everything is
  * kept in memory; the bus is drained after each op so every event is
  * attributed before the next op starts. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val byGroup = TrieMap.empty[String, Counters]
  private val jobStart = TrieMap.empty[Int, (String, Long)]
  private val stageGroup = TrieMap.empty[Int, String]
  @volatile private var current: String = null

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("-")

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(group: String): Unit = current = group
  def end(): Unit = { drain(); current = null }
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobStart(e.jobId) = (g, e.time)
    of(g).synchronized(of(g).jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t) =>
      of(g).synchronized(of(g).jobSpans += ((t, e.time)))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    of(g).synchronized(of(g).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageGroup.getOrElse(e.stageId, "-"))
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val g = current
    // the op's last query execution is its materialisation
    if (g != null) of(g).synchronized {
      of(g).planMs = qe.tracker.phases.values.map(_.durationMs).sum
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Filesystem view of the artifact store: per artifact directory, its
  * state file and the sizes of the files under it. Diffing two views
  * tells what an op derived, appended, rewrote and wrote. */
object StoreFs {
  final case class Artifact(state: String, files: Map[String, Long])
  type View = Map[String, Artifact]

  def view(root: String): View =
    Option(new File(root).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map { d =>
        val state = new File(d, "_GRAFT_STATE")
        d.getName -> Artifact(
          if (state.isFile) new String(java.nio.file.Files.readAllBytes(
            state.toPath), "UTF-8") else "",
          files(d).map(f => f.getPath -> f.length).toMap)
      }.toMap

  private def files(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  final case class Diff(derived: Int, appended: Int, rewrites: Int,
      writeBytes: Long) {
    def +(o: Diff): Diff = Diff(derived + o.derived, appended + o.appended,
      rewrites + o.rewrites, writeBytes + o.writeBytes)
    def wrote: Boolean = derived + appended + rewrites > 0
  }
  val NoDiff: Diff = Diff(0, 0, 0, 0L)

  def diff(before: View, after: View): Diff = {
    val fresh = after.keySet -- before.keySet
    val rewrites = (after.keySet & before.keySet).count(k =>
      after(k).state != before(k).state)
    val old = before.values.flatMap(_.files).toMap
    val written = after.values.flatMap(_.files).collect {
      case (p, n) if !old.get(p).contains(n) => n
    }.sum
    Diff(fresh.count(!_.contains("--")), fresh.count(_.contains("--")),
      rewrites, written)
  }
}
