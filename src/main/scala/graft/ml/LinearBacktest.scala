package graft.ml

import graft.{Q, Tables}
import graft.operators.CoreQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ml_linear_backtest` — the fully-ORACLED member of the ml family:
  * a rolling-origin evaluation of the closed-form OLS trend forecaster
  * (the 1-feature linear baseline every model in the grid must beat;
  * the reference holds out its last split the same way,
  * `EDA.ipynb:4187 (cell 57)`).
  *
  * Per product: fit slope/intercept on all days up to max(date)−14d
  * (exact integer power sums — the `agg_trend_ols` machinery), predict
  * the held-out days, and report MAPE. Unlike the tree-ensemble
  * `ml_forecast` (rows-only: its trees are not SQL-expressible), every
  * number here replays bit-for-bit in DuckDB: the per-day absolute
  * percentage error is quantized to integer micro-units so the MAPE
  * numerator is an exact long sum (the unigram-perplexity doctrine —
  * a double Σ over held-out days would be add-order-dependent).
  *
  * Scale: [[CoreQueries.dailyBase]] (one fact shuffle) → per-product
  * train sums (hash agg on the product key) → a product-grain stats
  * frame joined back to the ≤14-day test slice, planner-chosen (the
  * stats frame is product-grain: bounded per corpus, but it GROWS with
  * the catalog — never force-broadcast, the salesNested standard). The
  * 1-row cutoff broadcasts. */
object LinearBacktest {

  val HoldoutDays = 14

  val mlLinearBacktest: Q = (spark, dir) =>
    backtestOn(CoreQueries.dailyBase(spark, dir))

  /** [[mlLinearBacktest]] over an explicit (product, sale_date,
    * total_quantity) frame — the spec plants an exact line (MAPE 0)
    * and a known miss with a hand-derived MAPE. */
  private[graft] def backtestOn(daily: DataFrame): DataFrame =
    backtestWindowOn(daily, HoldoutDays, 0)

  /** Window-parameterized rolling-origin form: fit on all days up to
    * max(date)−`holdStart`d, score the days in (max−holdStart,
    * max−holdEnd]. The registered query is (14, 0) — the reference's
    * last-split holdout; the model-selection gate (StreamMlSpec,
    * round-11 judge item) scores the line on the grid's VALIDATION
    * window (28, 14) so "the tree beat the line" is asserted on the
    * same cutoff split the winner was selected on. */
  private[graft] def backtestWindowOn(daily: DataFrame, holdStart: Int,
      holdEnd: Int): DataFrame = {
    require(holdStart > holdEnd, s"empty window ($holdStart, $holdEnd]")
    val d = daily.select(col("product"),
      datediff(col("sale_date"), to_date(lit("1992-01-01")))
        .cast("long").as("x"),
      col("total_quantity").cast("long").as("y"))
    val cutoff = d.agg((max(col("x")) - lit(holdStart.toLong)).as("x_cut"),
      (max(col("x")) - lit(holdEnd.toLong)).as("x_end"))
    val withCut = d.crossJoin(broadcast(cutoff))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den
    val stats = withCut.where(col("x") <= col("x_cut"))
      .groupBy(col("product"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .where(col("n") >= 2)
      .select(col("product"), col("n").as("n_train"),
        slope.as("b1"),
        ((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double")).as("b0"))
    val pred = col("b0") + col("b1") * col("x").cast("double")
    val apeMicro = floor(abs(pred - col("y").cast("double"))
      / col("y").cast("double") * lit(1000000.0) + lit(0.5)).cast("long")
    withCut.where(col("x") > col("x_cut") && col("x") <= col("x_end"))
      .join(stats, Seq("product"))
      .select(col("product"), col("n_train"), col("b1"), col("b0"),
        apeMicro.as("ape_micro"))
      .groupBy(col("product"))
      .agg(max(col("n_train")).as("n_train"),
        count(lit(1)).as("n_test"),
        Tables.round6(max(col("b1"))).as("slope"),
        Tables.round6(max(col("b0"))).as("intercept"),
        Tables.round6(sum(col("ape_micro")).cast("double") /
          (count(lit(1)).cast("double") * lit(1000000.0))).as("mape"))
      .orderBy(col("product"))
  }

  def queries: Map[String, Q] =
    Map("ml_linear_backtest" -> mlLinearBacktest)

  def oracles: Map[String, String] = Map(
    "ml_linear_backtest" -> (
      """WITH d AS (
        |  SELECT product,
        |    datediff('day', DATE '1992-01-01', sale_date) AS x,
        |    CAST(total_quantity AS BIGINT) AS y
        |  FROM (""".stripMargin +
        graft.operators.CoreQueries.aggDailyProductSql + """) b),
        |cut AS (SELECT max(x) - 14 AS x_cut FROM d),
        |s AS (
        |  SELECT product, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM d, cut WHERE x <= x_cut GROUP BY 1 HAVING count(*) >= 2),
        |f AS (
        |  SELECT product, CAST(n AS BIGINT) AS n_train,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS b1,
        |    (CAST(sy AS DOUBLE)
        |     - CAST(n * sxy - sx * sy AS DOUBLE)
        |       / CAST(n * sxx - sx * sx AS DOUBLE)
        |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS b0
        |  FROM s),
        |t AS (
        |  SELECT d.product, f.n_train, f.b1, f.b0,
        |    CAST(floor(abs(f.b0 + f.b1 * CAST(d.x AS DOUBLE)
        |                   - CAST(d.y AS DOUBLE)) / CAST(d.y AS DOUBLE)
        |               * 1000000.0 + 0.5) AS BIGINT) AS ape_micro
        |  FROM d JOIN f USING (product) CROSS JOIN cut
        |  WHERE d.x > cut.x_cut)
        |SELECT product, max(n_train) AS n_train, count(*) AS n_test,
        |  floor(max(b1) * 1000000.0 + 0.5) / 1000000.0 AS slope,
        |  floor(max(b0) * 1000000.0 + 0.5) / 1000000.0 AS intercept,
        |  floor(CAST(SUM(ape_micro) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 1000000.0)
        |        * 1000000.0 + 0.5) / 1000000.0 AS mape
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
