package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 registers a query here; the matching
  * DuckDB oracle SQL (same column names, same determinism rules) lives in
  * [[oracleSql]]. Non-SQL-expressible operators (model training, LSH
  * internals, streaming) register a query only → driver runs a rows-only
  * check.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §2.D agg_daily_product) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.CoreQueries.aggDailyProduct(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    operators.CoreQueries.queries ++
      operators.AggQueries.queries ++
      operators.NestedQueries.queries ++
      operators.JoinWindowQueries.queries ++
      sources.SourceQueries.queries ++
      operators.TextQueries.queries ++
      operators.DedupQueries.queries ++
      operators.PipelineOps.queries ++
      operators.ReshapeQueries.queries ++
      operators.SimilarityQueries.queries ++
      operators.MultimodalQueries.queries ++
      streaming.EventStreams.queries ++
      ml.Forecast.queries ++
      ml.LinearBacktest.queries ++
      ml.Scoring.queries ++
      plans.PairCount.queries ++
      plans.GlobalRank.queries ++
      plans.TopK.queries ++
      plans.ThetaSets.queries ++
      plans.SkewJoin.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.CoreQueries.oracles ++
      operators.AggQueries.oracles ++
      operators.NestedQueries.oracles ++
      operators.JoinWindowQueries.oracles ++
      sources.SourceQueries.oracles ++
      operators.TextQueries.oracles ++
      operators.DedupQueries.oracles ++
      operators.PipelineOps.oracles ++
      operators.ReshapeQueries.oracles ++
      operators.SimilarityQueries.oracles ++
      operators.MultimodalQueries.oracles ++
      streaming.EventStreams.oracles ++
      ml.Forecast.oracles ++
      ml.LinearBacktest.oracles ++
      plans.SkewJoin.oracles ++
      plans.ThetaSets.oracles ++
      plans.GlobalRank.oracles ++
      Map("join_pair_onepass" -> operators.JoinWindowQueries.oracles("join_pair_selfjoin"),
        "topk_heap_per_group" -> operators.JoinWindowQueries.oracles("topk_head_per_group"))
}
