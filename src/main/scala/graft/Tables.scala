package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Table access layer over the driver's parquet testdata
  * (TESTDATA.md; schemas in FIXTURES.md §B).
  *
  * Mapping to the reference's document model (SURVEY.md §7.0):
  * `orders`+`lineitem`⋈`part` is the un-nested form of the reference's
  * `sales`+`items[]` collection (reference loader: df.ipynb:91 (cell 5)).
  *
  * All readers are plain parquet scans — Catalyst pushes filters and
  * column pruning into the scan, so callers should NOT pre-select or
  * cache here; at 100 TB the scan must see the final pruned schema.
  * Readers carry the footer schema ([[parquet]]), so building a scan
  * launches no schema-inference job. Footers are read on the driver
  * with the session's Hadoop conf; [[footerRowCount]] gives a store
  * write its row count from them, so recording it launches no count
  * job either.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, path(dir, name))

  /** The parquet at `path`, read with its schema declared from
    * [[footerSchema]]. Without a declared schema Spark infers it on
    * every read by running a one-task job that reads one footer. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The Spark schema of the parquet at `path` from ONE footer, read on
    * the driver: the file itself, or for a directory its first data
    * file by name ([[dataFiles]]). Spark's own footer conversion under
    * the session conf does the mapping, so the Spark row-metadata key,
    * `nanosAsLong` and NTZ inference follow the same rules as Spark's
    * schema inference. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val file = dataFiles(conf, path).head
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath,
        footer(file, conf, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Rows in the parquet at `path`: the sum of the row-group row counts
    * in the footers of every data file ([[dataFiles]]), read on the
    * driver. Runs no Spark job. */
  def footerRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).iterator.map { file =>
      footer(file, conf, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.iterator.map(_.getRowCount).sum
    }.sum
  }

  /** One footer, read with options built from `conf`. The one-argument
    * `open` of parquet's file reader builds a default Hadoop
    * `Configuration` instead, which re-parses the Hadoop XML defaults
    * on every call (about 8 ms). */
  private def footer(file: FileStatus, conf: Configuration,
      filter: MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      filter)

  /** The data files of the parquet at `path`, by name: the file itself,
    * or every file of the directory whose name does not start with `_`
    * or `.` (markers and checksums). Fails naming `path` when the
    * directory holds a subdirectory (a partitioned layout, whose files
    * a flat listing would miss) or no data file. */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    if (!status.isDirectory) Seq(status)
    else {
      val data = fs.listStatus(p).toSeq.filter { f =>
        val name = f.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }.sortBy(_.getPath.getName)
      data.find(_.isDirectory).foreach(d => throw new IllegalStateException(
        s"parquet dir $path holds subdirectory ${d.getPath.getName}; " +
          "only a flat dir of data files is read"))
      if (data.isEmpty)
        throw new java.io.FileNotFoundException(s"no parquet data file in $path")
      data
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  /** The driver has shipped `events.ts` under two different parquet
    * physical types across rounds — INT64 TIMESTAMP(NANOS) (rounds ≤6)
    * and naive `timestamp[us]` (round 7+) — so the reader is
    * schema-adaptive rather than assuming either. [[normalizeEventTs]]
    * branches on the type the footer maps to; downstream code
    * always sees `ts` as session-local TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(read(spark, dir, "events"))

  /** Normalize a `ts` column to TimestampType, whatever the source
    * parquet stored:
    *  - `LongType`: INT64 TIMESTAMP(NANOS), which Spark 4 rejects
    *    ([PARQUET_TYPE_ILLEGAL]) unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` ([[GraftConf]] sets
    *    it; harmless for non-nanos files). Convert with exact integral
    *    arithmetic (`div 1000` — a double division would lose precision
    *    past 2^53 ns); truncation-to-micros matches how micro-precision
    *    engines (e.g. DuckDB) read the same file.
    *  - `TimestampNTZType`: naive `timestamp[us]`. The session timezone
    *    is UTC everywhere in this engine (Verify/Bench/specs), so the
    *    NTZ→LTZ cast maps to the same instant and all downstream
    *    date-part extraction is unchanged.
    *  - `TimestampType`: tz-adjusted micros — pass through. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected INT64 nanos, " +
          "timestamp_ntz, or timestamp")
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Every table reader, by name — the ONE list the schema canaries and
    * surface specs iterate, so adding a table here automatically
    * extends their coverage (two hand-maintained copies drifted apart
    * once; never again). */
  val allReaders: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("region" -> region _, "nation" -> nation _,
      "customer" -> customer _, "supplier" -> supplier _,
      "part" -> part _, "orders" -> orders _,
      "lineitem" -> lineitem _, "events" -> events _,
      "documents" -> documents _, "embeddings" -> embeddings _)

  /** Money determinism (the reference's Decimal128-then-float rule,
    * SURVEY.md §1.3, §2.J.5; df.ipynb:91 (cell 5)): a double sum is
    * add-order-dependent, so aggregate money as exact integer cents —
    * `floor(x*100 + 0.5)` is pure IEEE arithmetic (bit-identical across
    * engines, unlike double→decimal casts, which round differently in
    * Spark vs DuckDB), the long sum is exact, and the single final
    * `/100.0` is deterministic. Overflows only past ~9e16 dollars.
    */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(100.0) + lit(0.5))

  /** Per-line-item revenue in exact cents. */
  def lineRevenueCents: org.apache.spark.sql.Column =
    cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))

  /** Exact money sum: Σcents / 100. Use `.as(...)` at the call site. */
  def revenueSum: org.apache.spark.sql.Column =
    sum(lineRevenueCents) / lit(100.0)

  /** Oracle-SQL fragment matching [[revenueSum]] bit-for-bit. */
  val revenueSumSql: String =
    "SUM(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)) / 100.0"

  /** Oracle-SQL fragment matching [[cents]] for an arbitrary expr. */
  def centsSumSql(expr: String): String =
    s"SUM(floor(($expr) * 100.0 + 0.5)) / 100.0"

  /** Cross-engine-stable 6-decimal rounding: pure IEEE ops, identical in
    * Spark and DuckDB. Spark's `round()` goes through the decimal string
    * representation (HALF_UP on Double.toString) and can disagree with a
    * binary-value rounder at repr boundaries — never use it where the
    * oracle must match. */
  def round6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** Scala-value form of [[round6]] — for driver-side catalog math
    * (collected codebooks, loop statistics). */
  def round6Val(x: Double): Double =
    math.floor(x * 1000000.0 + 0.5) / 1000000.0

  /** Oracle-SQL fragment matching [[round6]]. */
  def round6Sql(expr: String): String =
    s"floor(($expr) * 1000000.0 + 0.5) / 1000000.0"

  /** Nested sales view — rebuilds the reference's fundamental
    * `sales{items: array<struct>}` abstraction (SURVEY.md §1.1) from the
    * flat testdata: one row per order with an `items` array of
    * (name, price, quantity, revenue) structs.
    *
    * Join shape is planner-chosen: `part` is smaller than lineitem at
    * every SF but still GROWS with the corpus (TPC-H scales it
    * linearly), so a forced broadcast hint would eventually OOM — AQE
    * broadcasts it while its measured size allows and falls back to a
    * shuffle join on l_partkey beyond that. The groupBy then shuffles
    * once on l_orderkey. At 100 TB, lineitem pre-bucketed by l_orderkey
    * would make the re-nest shuffle-free.
    *
    * NOTE: `collect_list` order is nondeterministic under parallelism —
    * consumers must treat `items` as a multiset (sort or aggregate,
    * never index). This matches Mongo, which also guarantees no array
    * order after `$push` under `$group`.
    */
  def salesNested(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val p  = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .select(
        col("l_orderkey").as("sale_id"),
        struct(
          col("p_name").as("name"),
          col("p_retailprice").as("price"),
          col("l_quantity").as("quantity"),
          lineRevenueCents.cast("long").as("revenue_cents")
        ).as("item"))
      .groupBy(col("sale_id"))
      .agg(collect_list(col("item")).as("items"))
  }

  /** Flat sales header view ≙ the reference's per-sale fields
    * (saleDate, storeLocation analog, purchaseMethod analog…):
    * orders ⋈ customer (broadcast dim at test SF; at 100 TB this is a
    * shuffle join on o_custkey or a bucketed co-located join).
    */
  def salesHeader(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
  }
}
