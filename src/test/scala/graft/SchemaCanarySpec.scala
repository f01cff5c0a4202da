package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Canary specs for the two schema boundaries the driver has moved
  * under us twice (rounds 6-7): the testdata's `events.ts` physical
  * parquet type, and the timestamp logical type the Verify dump
  * writes. If either shifts again, ONE named test fails here instead
  * of 27 queries going red in the round gate. Also pins
  * [[Tables.parquet]]: its footer-declared schema is the one Spark
  * infers, and serving reads launch no inference job. */
class SchemaCanarySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("testdata canary: Tables.events analyzes on every SF dir " +
    "present and ts is session-tz TimestampType") {
    val dirs = new java.io.File("/root/testdata").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted
    assert(dirs.nonEmpty, "no testdata SF dirs found")
    for (dir <- dirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$dir: ts is ${ev.schema("ts").dataType}")
      // force analysis + one batch through the reader
      assert(ev.limit(1).count() == 1L, s"$dir: events read no rows")
    }
  }

  test("testdata canary: EVERY table reader analyzes and returns a row " +
    "on every SF dir present (full-surface drift alarm)") {
    val dirs = new java.io.File("/root/testdata").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted
    assert(dirs.nonEmpty, "no testdata SF dirs found")
    for (dir <- dirs; (name, rd) <- Tables.allReaders)
      assert(rd(spark, dir).limit(1).count() == 1L,
        s"$dir/$name: reader analyzed but returned no rows")
  }

  test("analysis canary: every registered query builds and analyzes " +
    "against the current testdata schemas (the round-7 failure class — " +
    "27 queries erroring on a schema drift — fails here by name first)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          // constructing the DataFrame runs analysis; no execution
          // beyond the bounded build-time collects some queries do
          fn(spark, sf).queryExecution.analyzed
          None
        } catch {
          case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}: " +
            e.getMessage.linesIterator.take(2).mkString(" "))
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail analysis:\n${failures.mkString("\n")}")
  }

  test("dtype snapshot canary: raw parquet dtypes of every testdata " +
    "column match the committed SCHEMAS.json (driver regeneration " +
    "drift fails here with a one-line diff naming the column)") {
    val path = java.nio.file.Paths.get("SCHEMAS.json")
    assert(java.nio.file.Files.exists(path),
      "SCHEMAS.json missing — run `sbt \"runMain graft.SchemaSnapshot\"`" +
        " and commit it")
    val committed = java.nio.file.Files.readString(path)
    val live = SchemaSnapshot.render(spark)
    if (live != committed) {
      val c = committed.linesIterator.toSet
      val l = live.linesIterator.toSet
      fail("testdata dtype drift vs committed SCHEMAS.json:\n" +
        (c -- l).toSeq.sorted.map("  was: " + _.trim).mkString("\n") + "\n" +
        (l -- c).toSeq.sorted.map("  now: " + _.trim).mkString("\n") +
        "\n(if intentional: sbt \"runMain graft.SchemaSnapshot\" + commit)")
    }
  }

  test("precision canary: money columns are exactly 2-decimal and " +
    "l_quantity is integral on every SF (the cents()/Decimal(38,0) " +
    "exactness contract — a finer-precision testdata regeneration " +
    "would silently quantize inputs; fail loudly here instead)") {
    // (table, column, kind): kind "cents" asserts floor(x*100+.5)/100
    // round-trips x exactly (x has <= 2 decimal digits); "int" asserts
    // floor(x) == x. These are the exact preconditions of Tables.cents
    // aggregation and statsCvOn's Decimal(38,0) cast of summed
    // quantities (ADVICE r8).
    val checks: Seq[(String, Seq[(String, String)])] = Seq(
      "lineitem" -> Seq("l_quantity" -> "int", "l_extendedprice" -> "cents",
        "l_discount" -> "cents", "l_tax" -> "cents"),
      "events"   -> Seq("value" -> "cents"),
      "orders"   -> Seq("o_totalprice" -> "cents"),
      "customer" -> Seq("c_acctbal" -> "cents"),
      "supplier" -> Seq("s_acctbal" -> "cents"),
      "part"     -> Seq("p_retailprice" -> "cents"))
    val dirs = new java.io.File("/root/testdata").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted
    val readers = Tables.allReaders.toMap
    for (dir <- dirs; (table, cols) <- checks) {
      // one pass per table: count violations of every column at once
      val aggs = cols.map { case (cn, kind) =>
        val bad = kind match {
          case "int" => floor(col(cn)) =!= col(cn)
          case _     => floor(col(cn) * 100.0 + 0.5) / 100.0 =!= col(cn)
        }
        sum(when(bad, 1L).otherwise(0L)).as(cn)
      }
      val row = readers(table)(spark, dir)
        .agg(aggs.head, aggs.tail: _*).head()
      for (((cn, kind), i) <- cols.zipWithIndex)
        assert(row.getLong(i) == 0L,
          s"$dir/$table.$cn: ${row.getLong(i)} values violate " +
            s"$kind-exactness — testdata precision drifted; the " +
            "cents()/integral aggregation paths would quantize")
    }
  }

  /** The frame [[Tables.parquet]] reads at `path` has exactly the
    * schema Spark's own inference gives it. */
  private def assertInferredSchema(path: String): Unit = {
    val declared = Tables.parquet(spark, path).schema
    val inferred = spark.read.parquet(path).schema
    assert(declared == inferred,
      s"$path: footer schema $declared, inferred $inferred")
  }

  test("Tables.parquet: every table of every SF dir present reads with " +
    "the inferred schema (events.ts nanos and NTZ variants included)") {
    val dirs = new java.io.File(sf).getParentFile.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted
    assert(dirs.nonEmpty, "no testdata SF dirs found")
    for (dir <- dirs; (name, _) <- Tables.allReaders)
      assertInferredSchema(Tables.path(dir, name))
  }

  test("Tables.parquet: an artifact-store base and delta, and a BPE " +
    "vocab dir (array<string>, non-nullable long), read with the " +
    "inferred schema") {
    val root = "target/tmp/test_schema_canary"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val parent = s"$root/bands_src_v1_aaaaaaaaaaaa"
    def rows(ids: Seq[Long]) = ids.toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 2).cast("int").as("band"),
        array(col("doc_id").cast("string")).as("key"))
    ArtifactStore.appendedCached(spark, parent, "b1", autoCompactAt = 0)(
      rows(Seq(1L, 2L, 3L)))(rows(Seq(5L)))
    assertInferredSchema(ArtifactStore.dataPath(parent))
    assertInferredSchema(ArtifactStore.dataPath(
      ArtifactStore.childPathFor(parent, "b1")))

    val bpe = s"$root/bpe"
    val docs = Seq((1L, "low low lower newest newest widest"))
      .toDF("doc_id", "text")
    operators.PipelineOps.bpeTrainedState(docs, 2, bpe)
    assertInferredSchema(s"$bpe/vocab")
    assertInferredSchema(s"$bpe/merges")
  }

  test("Tables.parquet: a missing path and a directory holding only " +
    "_SUCCESS each fail with an error naming the path") {
    val root = new java.io.File("target/tmp/test_schema_canary_err")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val missing = s"$root/missing.parquet"
    val e1 = intercept[java.io.IOException](Tables.parquet(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = s"$root/empty.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$empty/_SUCCESS"),
      Array.emptyByteArray)
    val e2 = intercept[java.io.IOException](Tables.parquet(spark, empty))
    assert(e2.getMessage.contains(empty), e2.getMessage)
  }

  test("serving reads launch no schema-inference job: the dashboard's " +
    "11 serving queries plus pipe_admit_full, planned and run on warm " +
    "stores, start no stage from inside a DataFrameReader") {
    val names = Seq("flt_eq", "agg_kpis", "agg_collect_list",
      "win_rank_kinds", "join_semi", "evt_tumbling_window",
      "join_pair_onepass", "topk_heap_per_group", "agg_theta_setops_exact",
      "join_skew_salted", "ml_forecast", "pipe_admit_full")
    // building a query loads its stores, deriving any still cold
    names.foreach(SparkEntry.queries(_)(spark, sf))
    // A job started while a reader is built is Spark's schema inference:
    // its call site's first frame is the DataFrameReader method (Spark
    // skips its own internal frames, so the inference code itself never
    // shows in the call site).
    val readerStages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = "schemaCanaryMarker"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler
          .SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.details.linesIterator.nextOption()
            .exists(_.contains(".DataFrameReader.")))
          readerStages.add(e.stageInfo.name)
      override def onStageCompleted(e: org.apache.spark.scheduler
          .SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == marker)) drained.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      names.foreach(n => SparkEntry.queries(n)(spark, sf)
        .write.format("noop").mode("overwrite").save())
      // listener events arrive in order: once the marker's stage is
      // seen, every stage of the queries above has been seen
      spark.sparkContext.parallelize(Seq(1), 1).setName(marker).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(readerStages.isEmpty,
      s"schema-inference stages: ${readerStages.toArray.mkString(", ")}")
  }

  test("dump canary: a TimestampType column written through the " +
    "Verify dump path reads back as TIMESTAMP_NTZ, not TIMESTAMPTZ") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dump_canary").toString
    val df = Seq((1L, Timestamp.valueOf("2024-06-01 12:34:56")))
      .toDF("id", "t")
      .withColumn("t", col("t").cast(TimestampType))
    Verify.dumpNtz(df).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/out")
    // With outputTimestampType=TIMESTAMP_MICROS a raw TimestampType
    // column would be stamped isAdjustedToUTC=true and read back as
    // TimestampType (TIMESTAMPTZ to DuckDB) — the round-6/7 schema
    // regression. The dump boundary must neutralize it to NTZ.
    val back = spark.read.parquet(s"$dir/out")
    assert(back.schema("t").dataType == TimestampNTZType,
      s"dump wrote ${back.schema("t").dataType}")
    assert(back.head.getAs[java.time.LocalDateTime]("t") ==
      java.time.LocalDateTime.of(2024, 6, 1, 12, 34, 56))
  }
}
