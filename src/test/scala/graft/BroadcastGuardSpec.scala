package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-doctrine guardrail (plans/BroadcastGuard): a forced
  * broadcast hint on an oversized frame must be stripped (planner
  * demotes to a shuffle join), while a genuinely bounded frame's hint
  * survives. Both checked with the planner's own auto-broadcast OFF so
  * the hint is the ONLY path to a broadcast join — making the
  * strip/keep decision directly visible in the physical plan. */
class BroadcastGuardSpec extends AnyFunSuite {
  import TestSpark._

  private def withGuard[A](maxBytes: Long)(body: => A): A = {
    val prevOpts = spark.experimental.extraOptimizations
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations = prevOpts :+ plans.BroadcastGuard
    spark.conf.set(plans.BroadcastGuard.MaxBytesConf, maxBytes.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.experimental.extraOptimizations = prevOpts
      spark.conf.unset(plans.BroadcastGuard.MaxBytesConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("guard strips a forced broadcast of an oversized frame " +
    "(shuffle join instead of a deferred OOM) but keeps bounded hints") {
    withGuard(maxBytes = 16 * 1024) {
      // lineitem (~112 KB of parquet at sf0.001) is over the 16 KB
      // bound: the hint must vanish and, with auto-broadcast off, the
      // join must NOT be a broadcast join
      val big = Tables.orders(spark, sf)
        .join(broadcast(Tables.lineitem(spark, sf)),
          col("o_orderkey") === col("l_orderkey"))
      big.collect()
      val bigPlan = big.queryExecution.executedPlan.toString
      assert(!bigPlan.contains("BroadcastHashJoin"),
        s"oversized forced broadcast survived the guard:\n$bigPlan")
      // nation (~2.7 KB) is bounded: its hint must survive the same
      // guard and produce a broadcast join even with auto-broadcast off
      val small = Tables.customer(spark, sf)
        .join(broadcast(Tables.nation(spark, sf)),
          col("c_nationkey") === col("n_nationkey"))
      small.collect()
      val smallPlan = small.queryExecution.executedPlan.toString
      assert(smallPlan.contains("BroadcastHashJoin"),
        s"bounded broadcast hint was wrongly stripped:\n$smallPlan")
    }
  }

  test("plan-audit BNLJ census: a 1-row scalar-aggregate build side is " +
    "provably bounded; a planted corpus-sized build side is flagged — " +
    "an unbounded BNLJ fails the audit instead of joining the count") {
    // the repo's legitimate shape: crossJoin(broadcast(<global agg>))
    // — the logical Aggregate with no grouping keys proves maxRows = 1
    val scalar = Tables.customer(spark, sf).agg(count(lit(1)).as("n"))
    val bounded = Tables.orders(spark, sf).crossJoin(broadcast(scalar))
    val cb = PlanProbe.census(bounded.queryExecution)
    assert(cb.bnlj >= 1,
      s"fixture lost its nested-loop join: bnlj=${cb.bnlj}")
    assert(cb.violations.isEmpty,
      s"scalar build side wrongly flagged: ${cb.violations}")
    // the hazard the check exists for: a corpus-sized frame forced
    // through a nested-loop broadcast — no provable row bound
    val planted = Tables.orders(spark, sf)
      .crossJoin(broadcast(Tables.customer(spark, sf)))
    val cp = PlanProbe.census(planted.queryExecution)
    assert(cp.bnlj >= 1,
      s"planted fixture lost its nested-loop join: bnlj=${cp.bnlj}")
    assert(cp.violations.nonEmpty,
      "planted unbounded BNLJ build side passed the audit")
    // a bounded LITERAL relation (the codebook/query-set shape) passes
    import spark.implicits._
    val lut = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val lit2 = Tables.orders(spark, sf).crossJoin(broadcast(lut))
    val cl = PlanProbe.census(lit2.queryExecution)
    assert(cl.bnlj >= 1 && cl.violations.isEmpty,
      s"2-row literal build side wrongly flagged: ${cl.violations}")
    // CartesianProduct is counted too (census only — the audit main
    // requires zero): both sides unbounded, no broadcast hint, no
    // equi-keys
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cart = Tables.orders(spark, sf).crossJoin(Tables.customer(spark, sf))
      assert(PlanProbe.census(cart.queryExecution).cartesian >= 1,
        "planted cartesian product not counted")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
  }

  test("storeBatchSide decides the batch broadcast once, as a value: a " +
    "delta under budget broadcasts and plans a BroadcastHashJoin that " +
    "builds the batch side; an over-budget or delta-less side does not, " +
    "nor does the fresh fallback whose plan embeds a 1-row broadcast") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val D = operators.DedupQueries
    val chain = D.digestStore(spark, sf) // base + the batch's delta
    val path = D.digestStorePath(sf)
    val side = D.storeBatchSide(spark, path, chain, D.BatchBroadcastMaxRows)
    assert(side.broadcast, "a delta under the row budget must broadcast")
    assert(side.frame.count() == chain.where(D.isIngestBatch).count(),
      "the delta side must hold exactly the chain's batch rows")
    // with auto-broadcast off the hint is the only path to a broadcast
    // join, so the plan shows the decision directly
    def builds(s: D.BatchSide) = {
      val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try s.hinted(s.frame.as("a"))
        .join(chain.where(!D.isIngestBatch).as("b"),
          col("a.text_hash") === col("b.text_hash"))
        .queryExecution.sparkPlan
        .collect { case j: BroadcastHashJoinExec => j.buildSide }
      finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
    assert(builds(side) == Seq(BuildLeft),
      "the broadcast join must build the batch side")
    assert(builds(side.copy(broadcast = false)).isEmpty,
      "an unbroadcast side must leave the join to the planner")
    // over budget: the recorded row count is the whole test
    val rows = ArtifactStore.deltaRowCount(path, D.IngestBatchTag).get
    assert(D.storeBatchSide(spark, path, chain, rows).broadcast,
      "the budget is inclusive")
    assert(!D.storeBatchSide(spark, path, chain, rows - 1).broadcast,
      "an over-budget delta must not broadcast")
    // no delta behind the path: no metadata, no broadcast
    assert(!D.storeBatchSide(spark, path + "_nodelta", chain,
      D.BatchBroadcastMaxRows).broadcast, "a delta-less side must not broadcast")
    // the fresh fallback: adaptiveChunksOf embeds
    // crossJoin(broadcast(1-row count)) in the frame, and it is still
    // not the batch side's broadcast
    val docs = Tables.documents(spark, sf)
    val fresh = D.adaptiveChunksOf(D.simhashesOn(docs), "simhash", docs)
    assert(fresh.queryExecution.analyzed.exists(_.isInstanceOf[ResolvedHint]),
      "fixture lost its embedded 1-row broadcast")
    val freshSide = D.storeBatchSide(spark,
      D.simhashChunkStorePath(sf) + "_nodelta", fresh, D.BatchBroadcastMaxRows)
    assert(!freshSide.broadcast, "the fresh fallback must not broadcast")
  }

  test("store-served admission plans raise no 'is not supported' hint " +
    "warning: the batch decision is applied only at joins that build " +
    "on the batch side") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val queries = Seq("dedup_incremental", "pipe_corpus_clean_incremental",
      "dedup_ngram_incremental", "dedup_simhash_incremental",
      "dedup_containment_incremental", "dedup_spans_incremental",
      "dedup_embedding_incremental", "pipe_admit_full")
    // warm every store these serve from: building a frame derives and
    // appends its chains, so the planning below sees served stores
    queries.foreach(q => SparkEntry.queries(q)(spark, sf))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-guard", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
      .asInstanceOf[CoreLogger]
    val prevLevel = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try queries.foreach { q =>
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(prevLevel)
      appender.stop()
    }
    val unsupported = seen.asScala.filter(_.contains("is not supported"))
    assert(unsupported.isEmpty,
      s"hints applied where Spark ignores them:\n${unsupported.mkString("\n")}")
  }

  test("plan-audit global-window census (r17 item 6): an unpartitioned " +
    "window over an unbounded input is flagged; the partition-count " +
    "frame shape (identity limit stamps logical maxRows) passes, and " +
    "GlobalRank's production plan audits clean") {
    import org.apache.spark.sql.expressions.Window
    // unbounded: running total over the raw corpus with no partition —
    // the single-task straggler the doctrine forbids
    val w = Window.orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val badDf = Tables.orders(spark, sf)
      .withColumn("rt", sum(col("o_totalprice")).over(w))
    val cBad = PlanProbe.census(badDf.queryExecution)
    assert(cBad.globalWindow >= 1,
      s"planted global window not counted: $cBad")
    assert(cBad.violations.exists(_.contains("unpartitioned Window")),
      s"unbounded global window passed the audit: ${cBad.violations}")
    // bounded: the SAME shape over a frame whose maxRows is stamped by
    // an identity limit (the GlobalRank offsets discipline)
    val okDf = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .limit(spark.sessionState.conf.numShufflePartitions)
      .withColumn("rt", sum(col("n")).over(
        Window.orderBy(col("o_orderstatus"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val cOk = PlanProbe.census(okDf.queryExecution)
    assert(cOk.globalWindow >= 1, s"bounded fixture lost its window: $cOk")
    assert(cOk.violations.isEmpty,
      s"provably bounded global window wrongly flagged: ${cOk.violations}")
    // the production consumer: win_global_rank's two-phase plan must
    // carry only bounded global windows
    val cProd = PlanProbe.census(
      plans.GlobalRank.winGlobalRank(spark, sf).queryExecution)
    assert(cProd.violations.isEmpty,
      s"GlobalRank offsets window not provably bounded: ${cProd.violations}")
  }
}
