package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture specs for the round-6 analytics additions:
  * decontamination, percentile quality filtering, repetition scoring,
  * funnel, and cohort retention — each checked on a hand-derivable
  * input the sf fixtures can't guarantee (exact ties, out-of-order
  * stages, past-horizon returns). */
class AnalyticsOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("Gopher rule battery: planted bullet/ellipsis/symbol/numeric/empty " +
    "docs trip exactly their rules; a clean 60-word doc passes") {
    val clean = ("the dog and cat of big farm with red hat " * 6).trim
    val docs = Seq(
      (1L, clean),
      (2L, "- one\n- two\n- three"),
      (3L, "first line...\nsecond line...\nthird"),
      (4L, ("word " * 60).trim + " ## ## ## ## ## ## ##"),
      (5L, ("12345 " * 60).trim),
      (6L, ""),
    ).toDF("doc_id", "text")
    val got = operators.TextQueries.gopherRulesOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Int]("passes") == 1, s"clean doc failed: ${got(1L)}")
    assert(got(2L).getAs[Double]("frac_bullet_lines") == 1.0 &&
      got(2L).getAs[Int]("passes") == 0)
    assert(got(3L).getAs[Double]("frac_ellipsis_lines") == 0.666667)
    assert(got(4L).getAs[Double]("symbol_ratio") > 0.1 &&
      got(4L).getAs[Int]("passes") == 0)
    assert(got(5L).getAs[Double]("frac_alpha_words") == 0.0 &&
      got(5L).getAs[Int]("passes") == 0)
    val empty = got(6L)
    assert(empty.getAs[Int]("n_words") == 0 &&
      empty.getAs[Int]("passes") == 0 &&
      empty.isNullAt(empty.fieldIndex("mean_word_len")))
  }

  test("decontamination flags exactly the training docs sharing a " +
    "3-gram with the eval set, counting distinct shared shingles") {
    // doc_id % 50 == 0 → eval; others train.
    val docs = Seq(
      0L  -> "the quick brown fox jumps",
      50L -> "lorem ipsum dolor sit",
      1L  -> "quick brown fox runs away",      // shares {quick brown fox}
      2L  -> "totally clean document here",    // no overlap
      3L  -> "lorem ipsum dolor sit amet",     // shares 2 shingles with 50
    ).toDF("doc_id", "text")
    val got = operators.PipelineOps.decontaminateOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 2L))
  }

  test("quality filter keeps exactly the docs at or above the corpus " +
    "p25 (independently interpolated) and at least 75% of the corpus") {
    val scores = operators.TextQueries.txtQuality(spark, sf)
      .select(col("doc_id"), col("quality_score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sorted = scores.values.toArray.sorted
    val idx = 0.25 * (sorted.length - 1)
    val (lo, hi) = (sorted(idx.toInt), sorted(math.ceil(idx).toInt))
    val thr = lo + (hi - lo) * (idx - idx.toInt)
    val kept = operators.PipelineOps.pipeQualityFilter(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val expected = scores.filter(_._2 >= thr).keySet
    // Docs in the symmetric difference may only sit AT the threshold
    // (lerp association can differ by an ulp between this replication
    // and Spark's percentile) — anything clearly above or below must
    // agree exactly.
    val disputed = (kept.diff(expected) ++ expected.diff(kept))
    assert(disputed.forall(d => math.abs(scores(d) - thr) < 1e-9),
      s"non-boundary disagreement: $disputed (thr=$thr)")
    assert(kept.size >= (0.75 * (scores.size - 1)).toInt)
  }

  test("repetition: looping doc scores 3/5, an exact three-way count " +
    "tie breaks lexicographically, sub-bigram docs emit no row") {
    val docs = Seq(
      1L -> "a b a b a b",      // ab×3, ba×2 of 5 slots
      2L -> "a b c d a b c d",  // ab=bc=cd=2, da=1 of 7 → tie → "a b"
      3L -> "solo",             // 1 token → no bigram slots
    ).toDF("doc_id", "text")
    val got = operators.TextQueries.repetitionOn(docs)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, "a b", 3L, 5L, 0.6),
      (2L, "a b", 2L, 7L, 2.0 / 7.0)))
  }

  test("funnel: stages only count strictly AFTER the previous stage's " +
    "first event (equal timestamps and reversed orders don't)") {
    val events = Seq(
      // u1 completes the funnel in order
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:05:00")),
      (1L, "purchase", ts("2024-01-01 10:10:00")),
      // u2: click BEFORE its first view, purchase without click-after-view
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 09:30:00")),
      (2L, "purchase", ts("2024-01-01 09:45:00")),
      // u3: purchase lands between view and click → reaches click only
      (3L, "view", ts("2024-01-01 08:00:00")),
      (3L, "purchase", ts("2024-01-01 08:10:00")),
      (3L, "click", ts("2024-01-01 08:20:00")),
      // u4 never views
      (4L, "error", ts("2024-01-01 07:00:00")),
      // u5: click at the SAME instant as the view — strict > excludes it
      (5L, "view", ts("2024-01-01 06:00:00")),
      (5L, "click", ts("2024-01-01 06:00:00")),
    ).toDF("user_id", "event_type", "ts")
    val r = streaming.EventStreams.funnelOn(events).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((5L, 4L, 2L, 1L)))
  }

  test("funnel plan: three stage windows ride ONE user_id partitioning " +
    "(no per-stage re-shuffle of the event log)") {
    val df = streaming.EventStreams.evtFunnel(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val nHash = "hashpartitioning".r.findAllIn(plan).size
    assert(nHash == 1,
      s"expected exactly 1 hash exchange (user_id) for all 3 stages, got $nHash:\n$plan")
  }

  test("decontamination plan: the tokenizer regex stays materialized " +
    "(one occurrence per side, never re-inlined per shingle reference)") {
    // Fused, CollapseProject would re-run regexp_extract_all once per
    // element_at inside the shingle transform — measured 9.4 s vs
    // 1.0 s at sf0.1. Two scans (eval + train) → at most 2 occurrences.
    val plan = operators.PipelineOps.pipeDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    val n = "regexp_extract_all".r.findAllIn(plan).size
    assert(n <= 2, s"tokenizer regex inlined $n times — generator trap:\n$plan")
  }

  test("quality filter: the only broadcast hint is the 1-row threshold") {
    val analyzed = operators.PipelineOps.pipeQualityFilter(spark, sf)
      .queryExecution.analyzed.toString
    val nHints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(nHints == 1, s"expected 1 hint (the 1-row p25), got $nHints")
  }

  test("winsorized mean: one extreme day is clamped to the interpolated " +
    "p95 (hand-derived), the raw mean keeps it, and nothing is " +
    "partition-variant") {
    // 19 days at $10 + 1 at $1000: p95 interpolates 1000c + .05·99000c
    // = 5950c, so winsorized = (19·1000 + 5950)/20/100 = 12.475 while
    // the raw mean is dragged to 59.5
    val rows = (Seq.fill(19)(10.0) :+ 1000.0).map(("p", _))
    val df = rows.toDF("product", "total_revenue")
    def run(in: org.apache.spark.sql.DataFrame) =
      operators.AggQueries.winsorizedOn(in).collect()
        .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toList
    val got = run(df)
    assert(got == List((0L, 1L, 59.5, 12.475)), s"winsorized: $got")
    assert(run(df.repartition(7)) == got, "winsorized mean is " +
      "partition-variant")
  }

  test("CUSUM drift: a planted level shift alarms once the adjusted " +
    "excursion clears 5 MAD, a stationary control never alarms, and " +
    "the chart is partition-invariant") {
    // shift: 50 days at 100 then 10 at 400 → mean 150, dev ±3000/15000
    // n-units, MAD 3000 (slack); adjusted drift +12000/day post-shift
    // ⇒ first alarm on shift day 2 (24000 > 5·3000), 9 alarm days,
    // max excursion 120000/n = 2000 qty. control: constant → all zero.
    val d0 = java.time.LocalDate.of(2026, 1, 1)
    def date(i: Int) = java.sql.Date.valueOf(d0.plusDays(i.toLong))
    val rows =
      (0 until 60).map(i =>
        ("shift", date(i), if (i < 50) 100.0 else 400.0)) ++
      (0 until 60).map(i => ("flat", date(i), 100.0))
    val df = rows.toDF("product", "sale_date", "total_quantity")
    def run(in: org.apache.spark.sql.DataFrame) =
      operators.AggQueries.cusumOn(in).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getDouble(4), Option(r.getDate(5)))).toMap
    val got = run(df)
    assert(got("shift") == ((60L, 50.0, 9L, 2000.0, Some(date(51)))),
      s"shift series: ${got("shift")}")
    assert(got("flat") == ((60L, 0.0, 0L, 0.0, None)),
      s"stationary control must never alarm: ${got("flat")}")
    assert(run(df.repartition(7)) == got, "CUSUM is partition-variant")
  }

  test("MAD anomaly rule flags outliers the 3-sigma rule MASKS: five " +
    "heavy values inflate sigma past their own deviation, median/MAD " +
    "still isolates them") {
    // 15 inliers spread 8..12 (median 10, MAD ~1) + 5 masked outliers
    // at 500: mean 132.5, sigma ~218 -> 3-sigma band reaches ~785 and
    // flags NOTHING; MAD threshold ~= 10 + 3·1.0/0.6745 flags the five.
    val inliers = Seq(8.0, 8.5, 9.0, 9.0, 9.5, 10.0, 10.0, 10.0, 10.5,
      10.5, 11.0, 11.0, 11.5, 12.0, 12.0)
    val rows = (inliers ++ Seq.fill(5)(500.0)).map(("pay", _))
    val df = rows.toDF("event_type", "value")
    val mad = streaming.EventStreams.anomalyMadOn(df).collect()
    assert(mad.length == 1)
    assert(mad.head.getAs[Long]("n_anomalies") == 5L,
      s"MAD must flag exactly the five masked outliers: ${mad.head}")
    // 20 values → the interpolated median sits between the 10th (10.5)
    // and 11th (11.0) order statistics
    assert(mad.head.getAs[Double]("median_value") == 10.75)
    // the sigma rule on the identical data flags nothing — the
    // masking failure mode this operator exists to cover
    val n = rows.length.toDouble
    val mean = rows.map(_._2).sum / n
    val sd = math.sqrt(rows.map(v => (v._2 - mean) * (v._2 - mean)).sum / (n - 1))
    assert(rows.forall(v => math.abs(v._2 - mean) <= 3 * sd),
      "fixture broken: 3-sigma should mask every outlier here")
  }

  test("retention: offsets clip at the 7-day horizon, same-day repeats " +
    "collapse, cohorts aggregate across users") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-04 11:00:00")),  // offset 3
      (1L, ts("2024-01-09 12:00:00")),  // offset 8 → beyond horizon
      (2L, ts("2024-01-06 10:00:00")),
      (2L, ts("2024-01-06 23:00:00")),  // same day → one activity
      (2L, ts("2024-01-07 01:00:00")),  // offset 1
      (3L, ts("2024-01-01 09:00:00")),  // joins u1's cohort
      (3L, ts("2024-01-04 09:00:00")),
    ).toDF("user_id", "ts")
    val got = streaming.EventStreams.retentionOn(events)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-01", 0) -> 2L, ("2024-01-01", 3) -> 2L,
      ("2024-01-06", 0) -> 1L, ("2024-01-06", 1) -> 1L))
  }

  test("peak concurrency: intervals are half-open — an interval ending " +
    "exactly when another starts never overlaps; a planted 3-stack peaks " +
    "at 3") {
    val events = Seq(
      // three overlapping 30-min windows → all open at 00:20
      ("A", ts("2024-01-01 00:00:00")),
      ("A", ts("2024-01-01 00:10:00")),
      ("A", ts("2024-01-01 00:20:00")),
      // touching boundary: [00:00, 00:30) then [00:30, 01:00) → never 2
      ("B", ts("2024-01-01 00:00:00")),
      ("B", ts("2024-01-01 00:30:00")),
    ).toDF("event_type", "ts")
    val got = streaming.EventStreams.peakConcurrencyOn(events)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toList
    assert(got == List(("A", 3L, 3L), ("B", 1L, 2L)))
  }

  test("top paths: equal timestamps order by event_id, count ties break " +
    "on the path string") {
    val events = Seq(
      // user 1: first two events share a timestamp — event_id decides
      (1L, 1L, ts("2024-01-01 00:00:00"), "view"),
      (1L, 2L, ts("2024-01-01 00:00:00"), "click"),
      (1L, 3L, ts("2024-01-01 00:01:00"), "purchase"),
      // user 2: a different path with the same count → string tie-break
      (2L, 4L, ts("2024-01-01 00:00:00"), "click"),
      (2L, 5L, ts("2024-01-01 00:01:00"), "view"),
      (2L, 6L, ts("2024-01-01 00:02:00"), "purchase"),
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = streaming.EventStreams.topPathsOn(events)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == List(
      ("click>view>purchase", 1L), ("view>click>purchase", 1L)))
  }

  test("heavy hitters: survivors carry EXACT counts through decrement " +
    "churn (500 singletons vs a 10-slot summary), and the result is " +
    "partition-invariant") {
    import spark.implicits._
    // 200×hot + 100×warm + 500 singletons (n=800). cap=10 → the
    // guarantee covers items above n/11 ≈ 72.7; threshold 10% = 80.
    // Both planted keys clear BOTH bars; every rare is 0.125%.
    val stream = (Seq.fill(200)("hot") ++ Seq.fill(100)("warm") ++
      (1 to 500).map(i => s"rare_$i"))
    def run(nPart: Int) = operators.TextQueries.heavyHittersOn(
      stream.toDF("bigram").repartition(nPart), cap = 10, minFrac = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    val single = run(1)
    assert(single == List(("hot", 200L), ("warm", 100L)),
      s"exact counts must survive the sketch pass: $single")
    assert(run(7) == single, "result must not depend on partitioning")
  }

  test("count-min frequency sketch: never underestimates, overestimates " +
    "by at most eps*N, and split-build-merge equals whole-build exactly") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val toks = Tables.documents(spark, sf)
      .select(explode(tokens(col("text"))).as("token"))
    val n = toks.count()
    val rows = operators.TextQueries.cmsProbeOn(toks).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    val epsN = math.ceil(1e-4 * n).toLong
    rows.foreach { case (tok, exact, est) =>
      assert(est >= exact, s"$tok: CMS underestimated ($est < $exact)")
      assert(est - exact <= epsN,
        s"$tok: overestimate ${est - exact} above eps*N=$epsN")
    }
    // merge algebra: counter arrays add element-wise, so two half-corpus
    // sketches merged must answer every probe IDENTICALLY to one
    // whole-corpus build (same seed -> same hash rows)
    val half1 = toks.where(crc32(col("token")) % 2 === 0)
      .stat.countMinSketch("token", 1e-4, 0.99, 42)
    val half2 = toks.where(crc32(col("token")) % 2 === 1)
      .stat.countMinSketch("token", 1e-4, 0.99, 42)
    val whole = toks.stat.countMinSketch("token", 1e-4, 0.99, 42)
    half1.mergeInPlace(half2)
    rows.foreach { case (tok, _, _) =>
      assert(half1.estimateCount(tok) == whole.estimateCount(tok),
        s"$tok: merged sketch diverges from whole-corpus build")
    }
  }

  test("profiler: all sixteen statistics ride ONE pruned lineitem scan " +
    "(Expand for the multi-column distincts, never per-column rescans)") {
    val df = operators.AggQueries.profNumericSummary(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("Scan parquet").length - 1 == 1, plan)
    assert(plan.contains("Expand"), plan)
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_quantity") && !read.contains("l_orderkey"),
      s"scan not pruned to the profiled columns: $read")
    val rows = df.collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(1)).distinct.length == 1) // same n_rows
    assert(rows.forall(_.getLong(2) == 0L))             // no nulls in sf
  }

  test("categorical profiler: ONE stacked scan, and the modal values " +
    "match an independent per-column recomputation") {
    val df = operators.AggQueries.profCategoricalSummary(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("Scan parquet").length - 1 == 1, plan)
    val got = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    val li = Tables.lineitem(spark, sf)
    for (c <- Seq("l_returnflag", "l_linestatus")) {
      val counts = li.groupBy(col(c)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val mode = counts.minBy { case (v, n) => (-n, v) }
      assert(got(c) == (counts.length.toLong, mode._1, mode._2),
        s"$c: got ${got(c)}, expected ($mode)")
    }
  }

  test("OHLC resample: out-of-order same-hour rows bar correctly, an " +
    "equal-timestamp open resolves by event_id, and the mean is the " +
    "exact cents sum") {
    val events = Seq(
      // hour 00, type A — arrival order deliberately scrambled
      ("A", ts("2024-01-01 00:40:00"), 3L, 9.0),   // close
      ("A", ts("2024-01-01 00:00:00"), 2L, 5.0),   // same-ts as id 1
      ("A", ts("2024-01-01 00:00:00"), 1L, 7.0),   // open (lower id)
      ("A", ts("2024-01-01 00:20:00"), 4L, 1.5),   // low
      // hour 01, type A — single event: open=high=low=close
      ("A", ts("2024-01-01 01:05:00"), 5L, 2.25),
      // hour 00, type B
      ("B", ts("2024-01-01 00:30:00"), 6L, 4.0),
    ).toDF("event_type", "ts", "event_id", "value")
    val got = streaming.EventStreams.ohlcOn(events)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getLong(6), r.getDouble(7))).toList
    assert(got == List(
      ("A", "2024-01-01 00:00:00.0", 7.0, 9.0, 1.5, 9.0, 4L, 5.625),
      ("A", "2024-01-01 01:00:00.0", 2.25, 2.25, 2.25, 2.25, 1L, 2.25),
      ("B", "2024-01-01 00:00:00.0", 4.0, 4.0, 4.0, 4.0, 1L, 4.0)))
  }

  test("OHLC resample plans as a HashAggregate pair — the decimal-packed " +
    "min_by/max_by ordering must not fall back to SortAggregate") {
    val plan = streaming.EventStreams.evtOhlcResample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(!plan.contains("SortAggregate"),
      "struct/string orderings demote min_by to SortAggregate — " +
        "per-partition sorts of the full event stream:\n" + plan.take(800))
  }

  test("higher moments: exact-cents power sums reproduce a hand-derived " +
    "skew/kurtosis, partition-invariantly, on a HashAggregate plan") {
    // type X: {1, 1, 1, 5} dollars → cents {100,100,100,500}:
    // mc=200, m2=30000, m3=(3·(−100)³+300³)/4=6e6, m4=(3·100⁴+300⁴)/4=2.1e9
    // skew = m3/(m2·√m2) = 6e6/(3e4·√3e4) ≈ 1.154701
    // kurt_excess = m4/m2² − 3 = 2.1e9/9e8 − 3 = −2/3
    val events = Seq(("X", 1.0), ("X", 1.0), ("X", 1.0), ("X", 5.0),
      ("Y", 2.0), ("Y", 4.0)).toDF("event_type", "value")
    def run(nPart: Int) = operators.AggQueries.momentsOn(
      events.repartition(nPart))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toList
    val single = run(1)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val skewX = 6.0e6 / (3.0e4 * math.sqrt(3.0e4))
    assert(single == List(
      ("X", 4L, 2.0, r6(math.sqrt(3.0e4) / 100.0), r6(skewX),
        r6(2.1e9 / 9.0e8 - 3.0)),
      // Y: symmetric two-point {200,400}: mc=300, m2=10000 → skew 0,
      // kurt m4/m2²−3 = 1e8/1e8−3 = −2
      ("Y", 2L, 3.0, 1.0, 0.0, -2.0)), single.toString)
    assert(run(5) == single, "exact sums must be partition-invariant")
    val plan = operators.AggQueries.momentsOn(events)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      "Decimal(38,0) buffers must stay hash-aggregable:\n" + plan.take(600))
  }

  test("higher moments: a constant group has zero stddev and NULL " +
    "skew/kurtosis (0/0 guard), non-constant neighbors unaffected") {
    val events = Seq(("K", 3.0), ("K", 3.0), ("K", 3.0),
      ("Y", 2.0), ("Y", 4.0)).toDF("event_type", "value")
    val got = operators.AggQueries.momentsOn(events)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.isNullAt(4), r.isNullAt(5))).toList
    assert(got == List(("K", 3L, 3.0, 0.0, true, true),
      ("Y", 2L, 3.0, 1.0, false, false)), got.toString)
  }

  test("Welch: a group whose BOTH arms are constant is dropped (se=0 " +
    "guard); one constant arm is kept") {
    val obs = Seq(
      // D: both arms constant → se = 0 → 0/0 t-stat → dropped
      ("D", true, 5L), ("D", true, 5L), ("D", false, 9L), ("D", false, 9L),
      // B: one constant arm → defined t from the other arm → kept
      ("B", true, 10L), ("B", true, 10L), ("B", true, 10L), ("B", true, 10L),
      ("B", false, 1L), ("B", false, 2L), ("B", false, 3L),
    ).toDF("product", "early", "y")
    val got = operators.AggQueries.welchOn(obs)
      .collect().map(_.getString(0)).toList
    assert(got == List("B"), got.toString)
  }

  test("global pct_rank: a single-row orders table scores 0.0, not NaN " +
    "(n−1 = 0 guard)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pctrank_n1").toString
    Seq((1L, 123.45)).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = plans.GlobalRank.winGlobalPctRank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .toList
    assert(got == List((1L, 1L, 0.0)), got.toString)
  }

  test("unigram perplexity: quantized micro-nat cross-entropy matches " +
    "an independent replication on a hand-countable corpus, and is " +
    "partition-invariant") {
    // Corpus: 8 tokens total. counts: the=3, cat=2, sat=1, mat=1, dog=1
    val docs = Seq(
      1L -> "the cat sat",
      2L -> "the cat",
      3L -> "the dog mat",
    ).toDF("doc_id", "text")
    def surprisalMicro(cnt: Long) =
      math.floor(math.log(8.0 / cnt) * 1e6 + 0.5).toLong
    val c = Map("the" -> 3L, "cat" -> 2L, "sat" -> 1L, "mat" -> 1L,
      "dog" -> 1L)
    def expect(toks: Seq[String]) = {
      val avg = toks.map(t => surprisalMicro(c(t))).sum.toDouble /
        (toks.length * 1e6)
      val nll = math.floor(avg * 1e6 + 0.5) / 1e6
      (nll, math.floor(math.exp(nll) * 1e6 + 0.5) / 1e6)
    }
    def run(nPart: Int) = operators.TextQueries.unigramPplOn(
      docs.repartition(nPart))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toList
    val single = run(1)
    val exp = Map(
      1L -> expect(Seq("the", "cat", "sat")),
      2L -> expect(Seq("the", "cat")),
      3L -> expect(Seq("the", "dog", "mat")))
    assert(single == List(
      (1L, 3L, exp(1L)._1, exp(1L)._2),
      (2L, 2L, exp(2L)._1, exp(2L)._2),
      (3L, 3L, exp(3L)._1, exp(3L)._2)))
    assert(run(5) == single, "result must not depend on partitioning")
  }

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("OLS trend recovers an exactly planted line and is " +
    "partition-invariant") {
    // product P: y = 2x + 3 on day offsets x ∈ {0,1,2,3} from the
    // 1992-01-01 epoch → slope 2, intercept 3, both exact.
    // product Q: symmetric V {5,1,5} on x ∈ {0,1,2} → slope 0, mean 11/3.
    val daily = Seq(
      ("P", "1992-01-01", 3.0), ("P", "1992-01-02", 5.0),
      ("P", "1992-01-03", 7.0), ("P", "1992-01-04", 9.0),
      ("Q", "1992-01-01", 5.0), ("Q", "1992-01-02", 1.0),
      ("Q", "1992-01-03", 5.0),
      ("R", "1992-01-01", 42.0), // single day → dropped (den = 0)
    ).toDF("product", "sale_date", "total_quantity")
      .withColumn("sale_date", to_date(col("sale_date")))
    def run(nPart: Int) = operators.AggQueries.trendOlsOn(
      daily.repartition(nPart))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toList
    val single = run(1)
    assert(single == List(
      ("P", 4L, 2.0, 3.0),
      ("Q", 3L, 0.0, r6(11.0 / 3.0))), single.toString)
    assert(run(4) == single, "integer power sums must be partition-invariant")
  }

  test("Welch t-test: identical arms give t = 0; a hand-derived shift " +
    "reproduces the closed form; sub-minimum arms are dropped") {
    // product A: arms identical {1,2,3} vs {1,2,3} → t = 0, df = 4
    //   (equal se ⇒ df = 2·se²/(se²/2) ... computed from the closed form)
    // product B: {10,10,10,10} vs {1,2,3} → var1 = 0, so t and df come
    //   only from arm 2: se = v2/3, t = (10−2)/√se, df = 2 (n2−1).
    // product C: one early row only → filtered out.
    val rows =
      Seq(("A", true, 1L), ("A", true, 2L), ("A", true, 3L),
        ("A", false, 1L), ("A", false, 2L), ("A", false, 3L),
        ("B", true, 10L), ("B", true, 10L), ("B", true, 10L),
        ("B", true, 10L),
        ("B", false, 1L), ("B", false, 2L), ("B", false, 3L),
        ("C", true, 7L), ("C", false, 8L), ("C", false, 9L))
    val obs = rows.toDF("product", "early", "y")
    def run(nPart: Int) = operators.AggQueries.welchOn(
      obs.repartition(nPart))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .toList
    val single = run(1)
    // mirror the engine's double tree exactly: v = 1 each arm, n = 3
    val se1A = 1.0 / 3.0
    val seA = se1A + se1A
    val dfA = seA * seA / (se1A * se1A / 2.0 + se1A * se1A / 2.0)
    val seB = 1.0 / 3.0         // v1 = 0; v2 = 1, n2 = 3
    assert(single == List(
      ("A", 3L, 3L, 2.0, 2.0, 0.0, r6(dfA)),
      ("B", 4L, 3L, 10.0, 2.0, r6(8.0 / math.sqrt(seB)),
        r6(seB * seB / ((seB * seB) / 2.0)))), single.toString)
    assert(run(5) == single, "exact arm sums must be partition-invariant")
  }

  test("drift PSI: equal eras sit at the smoothing floor; a planted " +
    "single-bucket shift reproduces the hand formula, one scan") {
    // Bucket width $60k, top-coded at 9. Era sizes 4 vs 4.
    // early: buckets {0,0,1,2}; late: {0,1,1,2} — bucket 0 loses one.
    def v(b: Int) = b * 60000.0 + 1000.0
    val obs = Seq(
      (v(0), true), (v(0), true), (v(1), true), (v(2), true),
      (v(0), false), (v(1), false), (v(1), false), (v(2), false),
    ).toDF("value", "early")
    def share(n: Long) = (n + 1.0) / (4.0 + 10.0)
    def term(ne: Long, nl: Long) =
      r6((share(ne) - share(nl)) * math.log(share(ne) / share(nl)))
    def run(nPart: Int) = operators.AggQueries.driftPsiOn(
      obs.repartition(nPart))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    val single = run(1)
    assert(single == List(
      (0, 2L, 1L, term(2, 1)),
      (1, 1L, 2L, term(1, 2)),
      (2, 1L, 1L, 0.0)), single.toString)
    assert(run(4) == single)
    // ONE scan: the era totals must come from the bucket aggregate's
    // window, not a second read of the input
    val plan = operators.AggQueries.driftPsiOn(obs)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"),
      "totals must ride the bucket window, not a self-join:\n" +
        plan.take(600))
  }

  test("Markov transitions: a hand-countable chain with an equal-" +
    "timestamp tie normalizes to row-stochastic probabilities") {
    // user 1: view→click→view→purchase; user 2: view@t0, click@t0
    // (event_id breaks the tie: 10 < 11 → view→click), click→view.
    val events = Seq(
      (1L, 1L, "2024-01-01 00:00:00", "view"),
      (1L, 2L, "2024-01-01 00:01:00", "click"),
      (1L, 3L, "2024-01-01 00:02:00", "view"),
      (1L, 4L, "2024-01-01 00:03:00", "purchase"),
      (2L, 10L, "2024-01-01 00:00:00", "view"),
      (2L, 11L, "2024-01-01 00:00:00", "click"),
      (2L, 12L, "2024-01-01 00:05:00", "view"),
    ).map { case (u, e, t, ty) => (u, e, ts(t), ty) }
      .toDF("user_id", "event_id", "ts", "event_type")
    def run(nPart: Int) = streaming.EventStreams.markovOn(
      events.repartition(nPart))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toList
    val single = run(1)
    // transitions: view→click ×2, view→purchase ×1, click→view ×2
    assert(single == List(
      ("click", "view", 2L, 1.0),
      ("view", "click", 2L, 2.0 / 3.0),
      ("view", "purchase", 1L, 1.0 / 3.0)), single.toString)
    // row-stochastic: every from-state's probabilities sum to ~1
    single.groupBy(_._1).foreach { case (from, rows) =>
      val s = rows.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-12, s"$from rows sum to $s")
    }
    assert(run(5) == single)
  }

  test("RFM segments: planted corpus reproduces hand-derived value-" +
    "grain quartiles, ties share a score, and no customer-sized " +
    "unpartitioned sort exists") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // max date 2024-01-10. Customers:
    //   A: last 2024-01-10 (rec 0), 3 orders, $300k  (monetary_k 300)
    //   B: last 2024-01-08 (rec 2), 2 orders, $100k  (monetary_k 100)
    //   C: last 2024-01-04 (rec 6), 1 order,  $100k  (tied with B)
    //   D: last 2024-01-01 (rec 9), 1 order,  $50k   (monetary_k 50)
    // recency grain {0,2,6,9} → cdf quarters → scores 1,2,3,4
    // frequency grain {1,2,3}: cnt {2,1,1} → cum {2,3,4} → scores 2,3,4
    //   (C,D share f=1 → score 2)
    // monetary_k grain {50,100,300}: cnt {1,2,1} → cum {1,3,4} →
    //   scores 1,3,4 (B,C share 100 → 3)
    val orders = Seq(
      ("A", d("2024-01-10"), 100000_00L), ("A", d("2024-01-05"), 100000_00L),
      ("A", d("2024-01-02"), 100000_00L),
      ("B", d("2024-01-08"), 50000_00L), ("B", d("2024-01-03"), 50000_00L),
      ("C", d("2024-01-04"), 100000_00L),
      ("D", d("2024-01-01"), 50000_00L),
    ).toDF("custkey", "order_date", "cents")
    def run(nPart: Int) = operators.JoinWindowQueries.rfmOn(
      orders.repartition(nPart))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
        .toList
    val single = run(1)
    assert(single == List(
      ("A", 0L, 3L, 300000_00L, 1, 4, 4, 144),
      ("B", 2L, 2L, 100000_00L, 2, 3, 3, 233),
      ("C", 6L, 1L, 100000_00L, 3, 2, 3, 323),
      ("D", 9L, 1L, 50000_00L, 4, 2, 1, 421)), single.toString)
    assert(run(4) == single)
    // scale honesty: the only unpartitioned windows run on bounded
    // value-grain aggregates, never on the customer frame — assert no
    // window sorts on custkey
    val plan = operators.JoinWindowQueries.rfmOn(orders)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("windowspecdefinition(custkey"),
      "quartile windows must never partition/sort the customer frame:\n")
  }

  test("Zipf slope: an exactly planted power law recovers slope ≈ −1 " +
    "and a flat corpus recovers slope 0") {
    // counts 12, 6, 4, 3 = 12/rank for ranks 1..4 → a perfect
    // Zipf(1) curve: ln n = ln 12 − 1·ln rank, so slope = −1 exactly
    // (up to the micro-nat quantization round6 absorbs).
    val powerDocs = Seq(
      1L -> (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
        Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" "))
      .toDF("doc_id", "text")
    val got = operators.TextQueries.zipfOn(powerDocs)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toList
    assert(got.head._1 == 4L, got.toString)
    assert(math.abs(got.head._2 - (-1.0)) < 1e-4,
      s"slope ${got.head._2} should be ≈ −1")
    assert(math.abs(got.head._3 - math.log(12.0)) < 1e-4,
      s"intercept ${got.head._3} should be ≈ ln 12")
    // flat corpus: every token appears twice → slope 0
    val flat = Seq(1L -> "xx yy zz xx yy zz").toDF("doc_id", "text")
    val g2 = operators.TextQueries.zipfOn(flat)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .head
    assert(g2._1 == 3L && g2._2 == 0.0, g2.toString)
  }

  test("KS test: identical eras give D = 0; a planted shift gives the " +
    "hand-derived max CDF gap, partition-invariantly") {
    def v(b: Int) = b * 6000.0 + 1.0 // $6k buckets
    // early: buckets {0,0,1,2}; late: {0,2,2,2}
    // CDFs: early .5,.75,1 ; late .25,.25,1 → D = .5 at bucket 1
    val obs = Seq(
      (v(0), true), (v(0), true), (v(1), true), (v(2), true),
      (v(0), false), (v(2), false), (v(2), false), (v(2), false),
    ).toDF("value", "early")
    def run(nPart: Int) = operators.AggQueries.ksTestOn(
      obs.repartition(nPart))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .head
    val single = run(1)
    assert(single == (4L, 4L, 0.5), single.toString)
    assert(run(4) == single)
    val same = Seq((v(0), true), (v(0), false), (v(1), true),
      (v(1), false)).toDF("value", "early")
    val g0 = operators.AggQueries.ksTestOn(same)
      .collect().map(r => r.getDouble(2)).head
    assert(g0 == 0.0, s"identical eras must give D = 0, got $g0")
  }

  test("inter-arrival: hand-spaced gaps aggregate exactly, an equal-" +
    "timestamp tie orders by event_id, single events emit no gap") {
    // user 1 / type a: t = 0s, 10s, 40s → gaps 10s, 30s
    // user 2 / type a: t = 5s, 5s (tie → event_id order), 11s → 0s, 6s
    // user 3 / type b: single event → no gap
    val events = Seq(
      (1L, 1L, "2024-01-01 00:00:00", "a"),
      (1L, 2L, "2024-01-01 00:00:10", "a"),
      (1L, 3L, "2024-01-01 00:00:40", "a"),
      (2L, 4L, "2024-01-01 00:00:05", "a"),
      (2L, 5L, "2024-01-01 00:00:05", "a"),
      (2L, 6L, "2024-01-01 00:00:11", "a"),
      (3L, 7L, "2024-01-01 00:00:00", "b"),
    ).map { case (u, e, t, ty) => (u, e, ts(t), ty) }
      .toDF("user_id", "event_id", "ts", "event_type")
    def run(nPart: Int) = streaming.EventStreams.interArrivalOn(
      events.repartition(nPart))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toList
    val single = run(1)
    // gaps for a: {10, 30, 0, 6}s → n 4, mean 11.5, min 0, max 30
    assert(single == List(("a", 4L, 46.0 / 4.0, 0.0, 30.0)),
      single.toString)
    assert(run(5) == single)
  }

  test("curriculum: planted quality thirds phase 1<2<3, the within-" +
    "phase order follows the digest hash, and phases partition the " +
    "corpus") {
    // 3 clearly separated quality tiers × 3 docs (quality score is
    // dominated by the length term below 100 tokens).
    def doc(n: Int, tag: String) =
      (1 to n).map(i => s"the $tag$i of and").mkString(" ")
    val docs = (
      (1 to 3).map(i => (i.toLong, doc(24, s"hi$i"))) ++   // ~96 tokens
      (4 to 6).map(i => (i.toLong, doc(12, s"md$i"))) ++   // ~48 tokens
      (7 to 9).map(i => (i.toLong, doc(4, s"lo$i")))       // ~16 tokens
    ).toDF("doc_id", "text")
    val got = operators.PipelineOps.curriculumOn(docs)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
      .toList
    val byPhase = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byPhase(1) == Set(1L, 2L, 3L), byPhase.toString)
    assert(byPhase(2) == Set(4L, 5L, 6L), byPhase.toString)
    assert(byPhase(3) == Set(7L, 8L, 9L), byPhase.toString)
    // emitted order: phase-major, hash-minor (ord strictly sorted
    // within each phase — doc_id never ties the hash in practice)
    got.groupBy(_._2).values.foreach { rows =>
      val ords = rows.map(_._3)
      assert(ords == ords.sorted, s"within-phase order not by hash: $rows")
    }
  }

  test("business days: weekend-straddling, full-week, in-weekend and " +
    "negative deltas all match hand counts") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // 2024-01-01 is a Monday.
    val pairs = Seq(
      (d("2024-01-01"), d("2024-01-08")), // Mon → next Mon: 5
      (d("2024-01-05"), d("2024-01-08")), // Fri → Mon: 1
      (d("2024-01-06"), d("2024-01-07")), // Sat → Sun: 0
      (d("2024-01-03"), d("2024-01-17")), // Wed → Wed +14d: 10
      (d("2024-01-08"), d("2024-01-05")), // Mon → prev Fri: −1
    ).toDF("order_date", "ship_date")
    def run(nPart: Int) = operators.CoreQueries.businessDaysOn(
      pairs.repartition(nPart))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList
    val single = run(1)
    assert(single == List((-1, 1L), (0, 1L), (1, 1L), (5, 1L), (10, 1L)),
      single.toString)
    assert(run(3) == single)
  }

  test("zip-dot gross value equals the flat per-line recomputation " +
    "on the sf fixture") {
    val nested = operators.NestedQueries.arrZipDot(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
    val li = Tables.lineitem(spark, sf)
    val p = Tables.part(spark, sf)
    val flat = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("int").as("n"),
        sum(col("l_quantity").cast("long") *
          Tables.cents(col("p_retailprice")).cast("long")).as("g"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2))))
      .toMap
    val flatMap = flat
    assert(nested.nonEmpty)
    nested.foreach { case (id, n, g) =>
      assert(flatMap(id) == ((n, g)), s"sale $id: got ($n,$g)")
    }
  }

  test("containment: a doc fully embedded in a larger one is caught " +
    "(Jaccard-invisible), partial overlap stays below threshold, and " +
    "the prefix filter loses nothing") {
    val big = (1 to 20).map(i => f"w$i%02d").mkString(" ")       // 18 shingles
    val sub = (3 to 12).map(i => f"w$i%02d").mkString(" ")       // 8, all ⊂ big
    val half = ((1 to 6).map(i => f"w$i%02d") ++
      (1 to 6).map(i => s"u$i")).mkString(" ")                   // 4 of 10 ⊂ big
    val docs = Seq(1L -> big, 2L -> sub, 3L -> half)
      .toDF("doc_id", "text")
    def run(nPart: Int) = operators.DedupQueries.containmentOn(
      docs.repartition(nPart))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    val single = run(1)
    // only sub→big survives: 8/8 = 1.0; big→sub is 8/18, half→big 4/10
    assert(single == List((2L, 1L, 8L, 1.0)), single.toString)
    assert(run(4) == single, "prefix filtering must be partition-invariant")
  }

  test("containment boundary: an exactly-at-threshold pair (4 of 5 " +
    "shingles shared) survives the prefix filter even when A's minimum " +
    "hash is the unshared shingle") {
    // Constructed so doc A's 5 shingle hashes have their MINIMUM on the
    // one shingle ("echo fox z1") absent from B: the old IEEE prefix
    // length floor(5·(1.0−0.8))+1 = 1 probed only that hash and lost
    // the pair; integer k = 5 − ⌈4·5/5⌉ + 1 = 2 reaches the shared
    // region. B ⊂ A so B→A (containment 1.0) must appear either way.
    val a = "alpha bravo carol delta echo fox z1"   // 5 shingles
    val b = "alpha bravo carol delta echo fox"      // 4, all ⊂ A
    val docs = Seq(10L -> a, 11L -> b).toDF("doc_id", "text")
    val got = operators.DedupQueries.containmentOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(got == List((10L, 11L, 4L, 0.8), (11L, 10L, 4L, 1.0)),
      got.toString)
  }

  test("containment admission: planted batch-subset (sub), batch-superset " +
    "(sup), and in-batch pairs re-key with the right direction; " +
    "sub-threshold overlap stays silent; partition-invariant") {
    // corpus (ids ≢ 0 mod 5): big doc 1, small doc 2
    val big  = (1 to 20).map(i => f"w$i%02d").mkString(" ")  // 18 shingles
    val smal = (1 to 8).map(i => s"m$i").mkString(" ")       // 6 shingles
    // batch (ids ≡ 0 mod 5): 5 ⊂ 1 (sub), 10 ⊃ 2 (sup),
    // in-batch 15 ⊂ 20, and a half-overlap miss inside 25
    val sub   = (3 to 12).map(i => f"w$i%02d").mkString(" ") // 8 ⊂ big
    val sup   = ((1 to 8).map(i => s"m$i") ++
      (1 to 4).map(i => s"x$i")).mkString(" ")               // 10, ⊇ smal
    val big2  = (1 to 20).map(i => s"v$i").mkString(" ")
    val sub2  = (3 to 12).map(i => s"v$i").mkString(" ")
    val half  = ((1 to 6).map(i => f"w$i%02d") ++
      (1 to 6).map(i => s"u$i")).mkString(" ")               // 4 of 10 ⊂ big
    val docs = Seq(1L -> big, 2L -> smal, 5L -> sub, 10L -> sup,
      15L -> sub2, 20L -> big2, 25L -> half).toDF("doc_id", "text")
    def run(nPart: Int) = {
      val D = operators.DedupQueries
      val sh = D.containmentShOn(docs.repartition(nPart))
      D.incrementalContainmentOfSh(sh,
        D.BatchSide(sh.where(D.isIngestBatch), broadcast = true))
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getDouble(4))).toList
    val single = run(1)
    assert(single == List(
      (5L, 1L, "corpus", "sub", 1.0),   // incoming contained in corpus
      (10L, 2L, "corpus", "sup", 1.0),  // incoming contains corpus doc
      (20L, 15L, "batch", "sup", 1.0)), // later batch doc contains earlier
      single.toString)
    assert(run(4) == single,
      "containment admission must be partition-invariant")
  }

  test("containment sup-probe prunes: corpus docs too big to fit in any " +
    "batch doc, AND size-eligible docs sharing no hash with the batch, " +
    "never enter the sup join; the admission output is unchanged") {
    val D = operators.DedupQueries
    // corpus: doc 1 oversized (18 shingles), doc 2 small (6), doc 3
    // small (6) but lexically UNRELATED to the batch; batch: doc 10
    // (10 shingles) ⊇ doc 2 — max_bsz 10, so the size cap
    // sz_a*4 <= max_bsz*5 prunes doc 1 (72 > 50) and keeps docs 2 and
    // 3 (24 <= 50); the batch-membership semi-join then prunes doc 3
    // (no shared hash → provably no sup candidate). Both prunes are
    // rejections the pairwise bound / candidate join would make
    // anyway — output-preserving by construction.
    val big   = (1 to 20).map(i => f"w$i%02d").mkString(" ")
    val smal  = (1 to 8).map(i => s"m$i").mkString(" ")
    val alien = (1 to 8).map(i => s"z$i").mkString(" ")
    val sup   = ((1 to 8).map(i => s"m$i") ++
      (1 to 4).map(i => s"x$i")).mkString(" ")
    val docs = Seq(1L -> big, 2L -> smal, 3L -> alien, 10L -> sup)
      .toDF("doc_id", "text")
    val sh = D.containmentShOn(docs)
    val batch = D.BatchSide(sh.where(D.isIngestBatch), broadcast = true)
    // only the small RELATED corpus doc's prefix postings survive
    val probed = D.containmentSupProbe(sh, batch)
      .select("a").distinct().collect().map(_.getLong(0)).toSet
    assert(probed == Set(2L), s"probed=$probed")
    // both prunes sit in the plan below the sup candidate join: the
    // size cap (broadcast max_bsz filter) and the batch-membership
    // LEFT-SEMI, each filtering the corpus postings before they meet
    // the batch index
    val out = D.incrementalContainmentOfSh(sh, batch)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("max_bsz"),
      "batch-size cap missing from the sup-probe plan")
    assert(plan.contains("LeftSemi"),
      "batch-membership semi-join missing from the sup-probe plan")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(3))).toList
    assert(got == List((10L, 2L, "sup")), got.toString)
  }

  test("containment admission hint gate (r18 advice): with the batch " +
    "gate OFF — the fresh/cache-off default, deltaRowCount None ⇒ " +
    ".exists ⇒ no hint — the only broadcast hint left is the 1-row " +
    "batch-max-size cap; the gated form carries the batch-side hints; " +
    "rows identical either way") {
    val D = operators.DedupQueries
    val big  = (1 to 20).map(i => f"w$i%02d").mkString(" ")
    val smal = (1 to 8).map(i => s"m$i").mkString(" ")
    val sup  = ((1 to 8).map(i => s"m$i") ++
      (1 to 4).map(i => s"x$i")).mkString(" ")
    val docs = Seq(1L -> big, 2L -> smal, 10L -> sup)
      .toDF("doc_id", "text")
    val sh = D.containmentShOn(docs)
    def side(hinted: Boolean) =
      D.BatchSide(sh.where(D.isIngestBatch), broadcast = hinted)
    def hints(hinted: Boolean): Int =
      "strategy=broadcast".r.findAllIn(
        D.incrementalContainmentOfSh(sh, side(hinted))
          .queryExecution.analyzed.toString).size
    // ungated: exactly the 1-row max_bsz scalar — a corpus-fraction
    // batch side must never be force-broadcast on the fresh path
    // (the verify's SHUFFLE_HASH hint is not a broadcast and is
    // excluded by the strategy filter)
    assert(hints(false) == 1,
      s"fresh path must carry only the 1-row size-cap hint, got ${hints(false)}")
    assert(hints(true) > hints(false),
      "gated form lost its batch-side hints")
    def rows(hinted: Boolean) =
      D.incrementalContainmentOfSh(sh, side(hinted))
        .collect().map(_.toString).toList
    assert(rows(true) == rows(false),
      "hint gating changed the admission verdicts")
  }

  test("duplication profile: planted cluster sizes produce the exact " +
    "histogram, its identities hold, and the result is partition-" +
    "invariant") {
    // clusters: "aaa"×3, "bbb"×2, "ccc"×1, "ddd"×1 →
    //   size 1: 2 clusters/2 docs/0 redundant
    //   size 2: 1 cluster /2 docs/1 redundant
    //   size 3: 1 cluster /3 docs/2 redundant
    val docs = Seq(1L -> "aaa", 2L -> "aaa", 3L -> "aaa",
      4L -> "bbb", 5L -> "bbb", 6L -> "ccc", 7L -> "ddd")
      .toDF("doc_id", "text")
    def run(nPart: Int) = operators.DedupQueries.dupStatsOn(
      docs.repartition(nPart))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    val single = run(1)
    assert(single == List((1L, 2L, 2L, 0L), (2L, 1L, 2L, 1L),
      (3L, 1L, 3L, 2L)), single.toString)
    assert(run(4) == single)
    // identities: Σn_docs = corpus size, Σn_redundant = drop count of
    // a keep-one-per-cluster pass
    assert(single.map(_._3).sum == 7L)
    assert(single.map(_._4).sum == 3L)
  }

  test("shard manifest: every doc lands in exactly one shard, the " +
    "manifest identities hold, and assignment is content-deterministic " +
    "across partitionings") {
    val docs = (1L to 40L).map(i => i -> s"document number $i content")
      .toDF("doc_id", "text")
    def run(nPart: Int) = operators.PipelineOps.shardManifestOn(
      docs.repartition(nPart))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    val single = run(1)
    assert(single.map(_._2).sum == 40L, s"docs must partition: $single")
    assert(single.forall(s => s._1 >= 0 && s._1 < 8), single.toString)
    assert(single.forall(s => s._4 >= 1L && s._5 <= 40L), single.toString)
    assert(run(5) == single, "content-hash sharding must not depend on " +
      "input partitioning")
    // identical content → identical shard, regardless of doc_id
    val twin = Seq(900L -> "document number 7 content")
      .toDF("doc_id", "text")
    val shardOf7 = operators.PipelineOps.shardManifestOn(
      docs.where(col("doc_id") === 7L)).collect()(0).getLong(0)
    val shardOfTwin = operators.PipelineOps.shardManifestOn(twin)
      .collect()(0).getLong(0)
    assert(shardOf7 == shardOfTwin)
  }

  test("built-in NaN guards: corr of a constant/single-row group and " +
    "stddev of a single-row group are NULL (DuckDB semantics), not NaN") {
    val li = Seq(("A", 1.0, 10.0), ("A", 2.0, 20.0), ("A", 3.0, 30.0),
      ("B", 5.0, 7.0), ("B", 5.0, 9.0),   // zero variance in x
      ("C", 4.0, 4.0))                     // single row
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val corr = operators.AggQueries.corrGroupOn(li)
      .collect().map(r => (r.getString(0), r.isNullAt(1),
        if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toList
    assert(corr == List(("A", false, 1.0), ("B", true, 0.0),
      ("C", true, 0.0)), corr.toString)
    val daily = Seq(("P", 2L), ("P", 4L), ("Q", 9L))
      .toDF("product", "total_quantity")
    val cv = operators.AggQueries.statsCvOn(daily)
      .collect().map(r => (r.getString(0), r.isNullAt(1), r.isNullAt(3)))
      .toList
    assert(cv == List(("P", false, false), ("Q", true, true)),
      cv.toString)
  }

  test("keep-best dedup: the keeper is the highest-quality cluster " +
    "member (NOT the min id), ties break to the smallest id, " +
    "singletons keep themselves, and the packed argmax stays in " +
    "HashAggregate") {
    val quality = Seq((1L, 900000L), (2L, 910000L), (3L, 950000L),
      (4L, 800000L), (5L, 800000L), (10L, 555555L))
      .toDF("doc_id", "qmicro")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "component_id")
    def run(nPart: Int) = operators.DedupQueries.keepBestOn(
      quality.repartition(nPart), comp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toList
    val single = run(1)
    assert(single == List(
      (1L, 3L, 0.95, 3L),      // best member wins over min id
      (4L, 4L, 0.8, 2L),       // quality tie → smallest doc_id
      (10L, 10L, 0.555555, 1L) // singleton keeps itself
    ), single.toString)
    assert(run(4) == single)
    val plan = operators.DedupQueries.keepBestOn(quality, comp)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      "packed-long argmax must stay hash-aggregable:\n" + plan.take(600))
  }

  test("global rank: the two-phase distributed rank equals a driver-" +
    "side sort at every partitioning, and no data-sized unpartitioned " +
    "window exists in the plan") {
    val rows = (1 to 500).map(i => ((i * 7919) % 1000, i.toLong))
    val df = rows.toDF("v", "id")
    def run(nPart: Int) = plans.GlobalRank.withGlobalRank(
      df.repartition(nPart), "rank", col("v").asc, col("id").asc)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3).toList
    val expected = rows.sortBy { case (v, id) => (v, id) }
      .zipWithIndex.map { case ((v, id), i) => (v, id, i + 1L) }.toList
    assert(run(1) == expected)
    assert(run(7) == expected, "rank must not depend on input partitioning")
    // scale honesty: the only unpartitioned window runs on the P-row
    // offsets frame; the data window is partitioned by __gr_pid
    val plan = plans.GlobalRank.withGlobalRank(
      df, "rank", col("v").asc, col("id").asc)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__gr_pid"), plan.take(500))
  }

  test("Gini: a perfectly equal corpus scores 0, total concentration " +
    "approaches 1, and a hand-computed small case matches") {
    def gini(values: Seq[Long]): Double = {
      val s = values.sorted
      val n = s.length.toLong
      val sy = s.map(BigInt(_)).sum
      val sry = s.zipWithIndex.map { case (y, i) => BigInt(i + 1) * y }.sum
      val num = (BigInt(2) * sry - BigInt(n + 1) * sy).toDouble
      math.floor(num / (BigInt(n) * sy).toDouble * 1e6 + 0.5) / 1e6
    }
    def run(values: Seq[Long]) = {
      val df = values.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("o_orderkey", "y")
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val one = lit(1).cast(dec)
      plans.GlobalRank.withGlobalRank(
        df, "r", col("y").asc, col("o_orderkey").asc)
        .agg(count(lit(1)).as("n"), sum(col("y").cast(dec)).as("sy"),
          sum(col("r").cast(dec) * col("y").cast(dec)).as("sry"))
        .select(graft.Tables.round6(
          (lit(2).cast(dec) * col("sry") - (col("n").cast(dec) + one) *
            col("sy")).cast("double") /
          (col("n").cast(dec) * col("sy")).cast("double")).as("g"))
        .collect().head.getDouble(0)
    }
    assert(run(Seq.fill(10)(100L)) == 0.0)
    val concentrated = Seq.fill(99)(1L) :+ 1000000L
    assert(run(concentrated) > 0.97)
    val hand = Seq(1L, 2L, 3L, 4L)
    assert(run(hand) == gini(hand), s"${run(hand)} vs ${gini(hand)}")
  }

  test("containment plan: the tokenizer regex and md5 shingling stay " +
    "materialized behind the shared exchange (generator-inlining trap)") {
    // Four static subtree copies (probe, full index, two verify
    // sides), each with the tokenizer/md5 exactly ONCE behind the
    // identical explode→collect aggregate exchange that AQE's
    // ReusedExchange executes once. Fused, CollapseProject re-inlines
    // the regex per array reference — measured 28 copies / 21.6 s vs
    // ≤4 copies / ~3 s at sf0.1 local[4].
    val plan = operators.DedupQueries.dedupContainment(spark, sf)
      .queryExecution.executedPlan.toString
    val nRegex = "regexp_extract_all".r.findAllIn(plan).size
    val nMd5 = "md5\\(".r.findAllIn(plan).size
    assert(nRegex <= 4, s"tokenizer regex inlined $nRegex times:\n" +
      plan.take(3000))
    assert(nMd5 <= 4, s"md5 shingling inlined $nMd5 times:\n" +
      plan.take(3000))
  }

  test("entropy: a uniform day hits ln k, a degenerate day hits 0, " +
    "and the micro-nat sum is partition-invariant") {
    import java.sql.Date
    val d1 = Date.valueOf("2024-01-01") // 2 types × 2 events: ln 2
    val d2 = Date.valueOf("2024-01-02") // one type only: 0
    val d3 = Date.valueOf("2024-01-03") // 3 types × 1: ln 3
    val ev = Seq(
      (d1, "a"), (d1, "a"), (d1, "b"), (d1, "b"),
      (d2, "a"), (d2, "a"), (d2, "a"),
      (d3, "a"), (d3, "b"), (d3, "c"),
    ).toDF("event_date", "event_type")
    def micro(p: Double) =
      math.floor(p * math.log(1.0 / p) * 1e6 + 0.5).toLong
    def run(nPart: Int) = operators.AggQueries.entropyOn(
      ev.repartition(nPart))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toList
    val single = run(1)
    assert(single == List(
      (4L, 2L, 2 * micro(0.5) / 1e6),
      (3L, 1L, 0.0),
      (3L, 3L, 3 * micro(1.0 / 3.0) / 1e6)), single.toString)
    assert(run(5) == single)
  }
}
