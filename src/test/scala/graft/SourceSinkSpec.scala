package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink-layout invariants the oracle can't see: the partitioned write
  * must actually prune at read time, and the ORC round trip must be
  * bit-exact (not merely aggregate-equal). */
class SourceSinkSpec extends AnyFunSuite {
  import TestSpark._

  test("partitioned sink: the month predicate resolves as a partition " +
    "filter (directory pruning), not a row filter") {
    val df = sources.SourceQueries.snkPartitionedPrune(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: ["), scan)
    // the month predicate must appear INSIDE PartitionFilters …
    val pf = scan.linesIterator.find(_.contains("PartitionFilters:")).get
    assert(pf.contains("month"), s"month not a partition filter: $pf")
    // … and NOT as a pushed/data filter on the row scan (in the plain
    // plan string PartitionFilters and PushedFilters share a line — cut
    // at the marker and inspect only the bracket group after it)
    val pushed = scan.split("PushedFilters: \\[").drop(1)
      .map(_.takeWhile(_ != ']'))
    assert(pushed.nonEmpty && pushed.forall(!_.contains("month")),
      s"month leaked into row filters: ${pushed.mkString("; ")}")
    assert(df.count() > 0)
  }

  test("sort-clustered sink: files carry disjoint user_id bands in their " +
    "parquet footers, the range probe skips at least one file on stats " +
    "alone, and the user filter is pushed to the scan") {
    val df = sources.SourceQueries.snkSortedPrune(spark, sf)
    df.collect() // runs the write
    val out = s"target/tmp/sorted_events_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    // read the footers the way the scan's row-group pruner does —
    // min/max stats only, no data pages
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4, s"expected 4 range-partitioned files: ${files.length}")
    val bands = files.map { f =>
      val path = new Path(f)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
        HadoopReadOptions.builder(conf, path).build())
      try {
        val stats = reader.getFooter.getBlocks.asScala.map { block =>
          val col = block.getColumns.asScala
            .find(_.getPath.toDotString == "user_id").get
          val s = col.getStatistics
          (s.genericGetMin.asInstanceOf[Long], s.genericGetMax.asInstanceOf[Long])
        }
        (stats.map(_._1).min, stats.map(_._2).max)
      } finally reader.close()
    }
    // range clustering ⇒ pairwise-disjoint per-file key bands
    bands.sorted.toSeq.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file bands overlap: ${bands.mkString(", ")}")
      case _ =>
    }
    // the [10, 19] probe's band must MISS at least one file's band —
    // the footer alone lets the scan skip those files entirely (how
    // many survive depends on where the range boundaries fall at this
    // SF; disjointness above is what caps it)
    val touched = bands.count { case (lo, hi) => hi >= 10 && lo <= 19 }
    assert(touched < bands.length,
      s"probe touched every band — nothing skippable: ${bands.mkString(", ")}")
    // and the filter actually reaches the scan as a pushed filter
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("user_id"),
      s"user_id filter not pushed:\n$scan")
  }

  test("z-order sink: every file's footer carries a band in BOTH " +
    "dimensions and the two-sided probe skips files on each axis — the " +
    "multi-dim pruning a linear sort can't give") {
    val df = sources.SourceQueries.snkZorderPrune(spark, sf)
    df.collect() // runs the write
    val out = s"target/tmp/zorder_events_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1, s"need multiple z-range files: ${files.length}")
    def band(f: String, colName: String): (Long, Long) = {
      val path = new Path(f)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
        HadoopReadOptions.builder(conf, path).build())
      try {
        val stats = reader.getFooter.getBlocks.asScala.map { block =>
          val c = block.getColumns.asScala
            .find(_.getPath.toDotString == colName).get
          val s = c.getStatistics
          (s.genericGetMin.asInstanceOf[Number].longValue,
            s.genericGetMax.asInstanceOf[Number].longValue)
        }
        (stats.map(_._1).min, stats.map(_._2).max)
      } finally reader.close()
    }
    val userBands = files.map(band(_, "user_id"))
    val tsBands = files.map(band(_, "ts")) // micros since epoch (UTC session)
    def micros(iso: String): Long =
      java.time.Instant.parse(iso).toEpochMilli * 1000L
    val (tsLo, tsHi) = (micros("2024-01-08T00:00:00Z"),
      micros("2024-01-15T00:00:00Z"))
    // the z-curve's leading bits split BOTH grid axes, so each axis's
    // probe band must miss at least one file on footer stats alone —
    // under a user_id-only linear sort the time probe touches every file
    val touchedU = userBands.count { case (lo, hi) => hi >= 10 && lo <= 39 }
    val touchedT = tsBands.count { case (lo, hi) => hi >= tsLo && lo < tsHi }
    assert(touchedU < files.length,
      s"user axis never prunes: ${userBands.mkString(", ")}")
    assert(touchedT < files.length,
      s"time axis never prunes: ${tsBands.mkString(", ")}")
    // both filters reach the scan
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("user_id") &&
      scan.contains("ts"), s"probe filters not pushed:\n$scan")
    assert(df.count() > 0)
  }

  test("compaction: 64 ingest slivers rewrite into the size-targeted " +
    "file count, and the data is unchanged") {
    val df = sources.SourceQueries.snkCompact(spark, sf)
    df.collect() // runs both writes
    val suffix = sf.replaceAll("[^a-zA-Z0-9]", "_")
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val frag = parquetFiles(s"target/tmp/frag_events_$suffix")
    val comp = parquetFiles(s"target/tmp/compact_events_$suffix")
    assert(frag.length == 64, s"expected 64 slivers, got ${frag.length}")
    val expected = math.max(1,
      math.ceil(frag.map(_.length).sum / (8.0 * 1024 * 1024)).toInt)
    assert(comp.length == expected,
      s"compacted to ${comp.length} files, size target says $expected")
    assert(comp.length < frag.length)
    // compaction is invisible to the data
    val a = spark.read.parquet(s"target/tmp/frag_events_$suffix")
      .orderBy(col("event_id")).collect()
    val b = spark.read.parquet(s"target/tmp/compact_events_$suffix")
      .orderBy(col("event_id")).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("ORC round trip is row-exact, not just aggregate-equal") {
    val base = operators.CoreQueries.dailyBase(spark, sf)
      .orderBy(col("sale_date"), col("product")).collect()
    val out = s"target/tmp/orc_exact_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    operators.CoreQueries.dailyBase(spark, sf)
      .write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
      .orderBy(col("sale_date"), col("product")).collect()
    assert(back.toSeq == base.toSeq,
      "ORC must round-trip doubles and dates bit-exactly")
  }

  test("merge upsert: matched key takes the update row, unmatched " +
    "update key inserts, untouched base rows pass through unchanged") {
    import spark.implicits._
    val base = Seq(
      (1L, "O", 10.0),
      (2L, "F", 20.0),
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val updates = Seq(
      (2L, "U", 99.0),   // matched → replaces the base row
      (3L, "U", 5.0),    // unmatched → inserts
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val got = sources.SourceQueries.mergeUpsert(base, updates)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got == Set((1L, "O", 10.0), (2L, "U", 99.0), (3L, "U", 5.0)))
  }

  test("incremental aggregate merge: overlapping keys re-aggregate, " +
    "disjoint keys pass through — merge(partials) ≡ one-pass aggregate") {
    import spark.implicits._
    val state = Seq(
      ("1994-01", "O", 2L, 1000L),   // overlaps with delta
      ("1994-02", "F", 1L, 250L),    // state-only
    ).toDF("mo", "st", "n", "cents")
    val delta = Seq(
      ("1994-01", "O", 3L, 500L),    // merges into 1994-01/O
      ("1995-03", "P", 1L, 99L),     // brand-new key
    ).toDF("mo", "st", "n", "cents")
    val got = sources.SourceQueries.mergePartials(state, delta)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(got == List(
      ("1994-01", "O", 5L, 15.0),
      ("1994-02", "F", 1L, 2.5),
      ("1995-03", "P", 1L, 0.99)))
  }

  test("jsonl ingest: corrupt lines quarantine into their own bucket " +
    "with null metrics, and every clean doc survives with its chars") {
    val rows = sources.SourceQueries.srcJsonlLoad(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    val nCorrupt = docs.where(col("doc_id") % 7 === 0).count()
    val corrupt = rows.find(_.getString(0) == "_corrupt").get
    assert(corrupt.getLong(1) == nCorrupt)
    assert(corrupt.isNullAt(2), "quarantined lines must not sum chars")
    assert(corrupt.getLong(3) == nCorrupt,
      "_corrupt_record must be set for exactly the corrupted lines")
    val clean = rows.filter(_.getString(0) != "_corrupt")
    assert(clean.map(_.getLong(1)).sum == docs.count() - nCorrupt)
    assert(clean.forall(_.getLong(3) == 0L),
      "no clean language bucket may contain quarantined lines")
  }
}
