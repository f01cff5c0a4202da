package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming layer over `events` (SURVEY.md §2.I: the reference has no
  * streaming — Structured Streaming here is the Spark-native equivalent
  * of its "recompute per interaction" freshness model, and a required
  * capability for a scale pipeline).
  *
  * Batch and stream share the SAME aggregation logic: the batch
  * queries below are the oracle-checked semantics; [[tumblingStream]]
  * runs the identical plan incrementally with a watermark
  * (StreamMlSpec asserts batch ≡ stream on the same input).
  *
  * Streaming admission has one path: `foreachBatch` over
  * [[ingestAdmissionBatch]], which lands each micro-batch in the
  * artifact stores; the batch admission queries then read them.
  */
object EventStreams {

  /** Tumbling 1-hour windows per event type: count + exact value sum.
    * In batch form (oracled); the streaming form is [[tumblingStream]].
    * At scale the window+type grouping is one shuffle with map-side
    * partial aggregation; the watermark bounds state. */
  val evtTumblingWindow: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding 1-hour windows every 30 minutes per event type — the
    * overlapping-window companion of [[evtTumblingWindow]] (each event
    * lands in exactly windowDuration/slide = 2 windows). Same scale
    * shape: one shuffle on (window, type) with map-side partial
    * aggregation; the oracle replays Spark's epoch-aligned slide rule
    * (starts = floor(epoch/slide)·slide − k·slide, k ∈ {0,1}). */
  val evtSlidingWindow: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sessionization: 30-minute-gap sessions per user — the batch
    * (window-function) formulation of what
    * `mapGroupsWithState` computes incrementally. Deterministic: events
    * are uniquely ordered by (ts, event_id) within a user. */
  val evtSessionize: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("session_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Native `session_window` sessionization — Spark's built-in gap
    * operator, semantically the GROUPED form of [[evtSessionize]]
    * (same 30-minute-gap sessions, keyed by the session interval
    * instead of a running index; one row per (user, session)). Shares
    * a session-boundary oracle with the window-function formulation —
    * the two plans differ (SessionWindow aggregation vs Window +
    * groupBy) but must produce identical session groups; the oracle
    * replays the gap rule in SQL. In streaming form `session_window`
    * is the scale answer for sessionization: state merges adjacent
    * windows per key and the watermark finalizes closed sessions. */
  val evtSessionWindow: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("session_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Stream-static enrichment, batch form: events joined to the
    * customer dimension (user_id ⋈ c_custkey — the fixture keys the
    * event stream by customer), hourly value by market segment. The
    * dim join is planner-chosen: a user/customer dimension is
    * DATA-SIZED at 100 TB (it grows with the user base), so the batch
    * form must be able to shuffle on the key — AQE broadcasts only
    * while the measured dim size allows. Contrast the STREAMING form
    * ([[enrichStreamAppend]]), which keeps an explicit broadcast
    * because a stateless stream-static join is the point there. */
  val evtUserEnrich: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    ev.join(dim, ev("user_id") === dim("c_custkey"))
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .orderBy(col("window_start"), col("c_mktsegment"))
  }

  /** Streaming form of [[evtUserEnrich]]: a stream-static join (the
    * static side re-resolves per micro-batch — dimension updates are
    * picked up without restarts) feeding a watermarked tumbling
    * aggregation in append mode. State stays (open windows × segments);
    * the join itself is stateless. The broadcast here is DELIBERATE
    * (unlike the batch form): a shuffle join against a stream would
    * buffer stream rows as state, and a stateless per-batch dim
    * broadcast is the shape this operator exists to provide. At a
    * 100 TB user dimension the honest alternative is a keyed-state
    * lookup (mapGroupsWithState against a pre-partitioned dim snapshot)
    * — this entry point covers the bounded-dim case. StreamMlSpec
    * asserts stream ≡ batch on planted input. */
  def enrichStreamAppend(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(col("window.start").as("window_start"), col("c_mktsegment"),
        col("n_events"), col("total_value"))

  /** Streaming file sources need a declared schema, and the driver has
    * shipped `events.ts` as both INT64 nanos (LongType under
    * `nanosAsLong`) and naive `timestamp[us]` (TimestampNTZType) across
    * rounds — so declare the schema the batch reader gets from the same
    * file ([[Tables.footerSchema]]), then normalize `ts` with
    * [[Tables.normalizeEventTs]] exactly like the batch reader. The peek
    * reads only footer metadata, not data. */
  private def eventsSchema(spark: SparkSession, dir: String): StructType =
    Tables.footerSchema(spark, Tables.path(dir, "events"))

  /** The streaming form of [[evtTumblingWindow]]: readStream over the
    * same parquet, 1-hour tumbling windows with a 2-hour watermark,
    * complete-mode memory sink. NOTE: complete mode is TEST-ONLY — it
    * retains all window state (the watermark evicts nothing), which is
    * what lets the spec compare the full result against the batch query
    * after a single drain. Production semantics are
    * [[tumblingStreamAppend]]: append mode, where the watermark bounds
    * state and windows emit once finalized.
    * `query.processAllAvailable()` drains the backlog synchronously. */
  /** Staging dir for the streaming file source (it requires a
    * DIRECTORY; the testdata table is a single file) — one symlink,
    * zero copy. The link target is validated on every call: if the
    * testdata dir moved or was regenerated at a different path, a
    * stale link would silently stream old/absent data, so a link whose
    * target differs from the requested source is deleted and re-created
    * rather than trusted. */
  private def stagedEventsDir(dir: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val stageDir = Paths.get(
      s"target/tmp/stream_events_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    Files.createDirectories(stageDir)
    val link = stageDir.resolve("events.parquet")
    val target = Paths.get(s"$dir/events.parquet").toAbsolutePath
    val stale = Files.isSymbolicLink(link) &&
      Files.readSymbolicLink(link) != target
    if (stale || (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)
        && !Files.isSymbolicLink(link)))
      Files.delete(link)
    if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.createSymbolicLink(link, target)
    stageDir
  }

  def tumblingStream(spark: SparkSession, dir: String,
      sinkName: String): StreamingQuery = {
    val stageDir = stagedEventsDir(dir)
    val stream = Tables.normalizeEventTs(spark.readStream
        .schema(eventsSchema(spark, dir))
        .parquet(stageDir.toString))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
    stream.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("complete")
      .start()
  }

  /** Complete-mode test form of [[windowUsersStreamAppend]] over the
    * testdata events (the [[tumblingStream]] NOTE applies: complete
    * mode is test-only; production is the append form). */
  def windowUsersStream(spark: SparkSession, dir: String,
      sinkName: String): StreamingQuery = {
    val stageDir = stagedEventsDir(dir)
    windowUsersStreamAppend(
      Tables.normalizeEventTs(spark.readStream
        .schema(eventsSchema(spark, dir))
        .parquet(stageDir.toString)))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("complete").start()
  }

  /** Production form of the tumbling aggregation: append mode over any
    * events stream with `(ts timestamp, event_type string, value
    * double)` columns. The 2-hour watermark bounds state — a window
    * emits exactly once, after the watermark passes its end, and events
    * arriving later than the watermark are DROPPED (asserted by
    * StreamMlSpec's late-data test, which drives this through a
    * MemoryStream). At 100 TB/day this is the shape that holds: state
    * is (open windows × event types), not the stream. */
  def tumblingStreamAppend(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** `evt_window_users`: EXACT distinct active users per (1-hour
    * tumbling window, event type) — the per-window audience/reach
    * panel next to [[evtTumblingWindow]]'s volume counts. Batch-exact
    * and oracled; the streaming dual is
    * [[windowUsersStreamAppend]], because exact DISTINCT inside an
    * append-mode window is unsupported (its state is the user SET, not
    * a mergeable scalar) — the production streaming form carries an
    * HLL sketch instead, and StreamMlSpec pins the two together:
    * stream ≡ batch for the sketch form (an HLL estimate is
    * set-determined, so identical inputs give identical estimates) and
    * |sketch − exact| within the rsd bound per window.
    *
    * Scale: one hash aggregate keyed by (window, type); the partial
    * state per key is the distinct-set partial — at 100 TB the exact
    * form is the batch-audit path and the sketch form the serving
    * path, same as the agg_approx_ngroups pair. */
  val evtWindowUsers: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_users"), col("n_events"))
      .orderBy(col("window_start"), col("event_type"))

  /** Relative standard deviation of the streaming HLL distinct-user
    * sketch (Spark maps rsd → HLL precision; 2% ⇒ ~6 KB per open
    * (window, type) key — bounded state where the exact set is not). */
  val WindowUsersRsd = 0.02

  /** Streaming dual of [[evtWindowUsers]]: append mode, 2-hour
    * watermark, `approx_count_distinct` per window — the mergeable-
    * sketch aggregate whose per-key state is a fixed-size HLL register
    * array, so state = (open windows × types) × ~6 KB regardless of
    * user cardinality. */
  def windowUsersStreamAppend(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), WindowUsersRsd)
        .as("n_users_est"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_users_est"), col("n_events"))

  /** Streaming form of [[evtSlidingWindow]]: append mode, overlapping
    * 1h/30min windows, 2-hour watermark. State per key is 2× the
    * tumbling equivalent (each event lives in two open windows) but
    * still bounded by (open windows × event types) — the watermark
    * finalizes both covering windows once it passes their ends.
    * StreamMlSpec asserts stream ≡ batch on planted input. */
  def slidingStreamAppend(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming form of [[evtSessionWindow]]: append mode, native
    * session state. The engine MERGES adjacent session windows per
    * user as events arrive (two open sessions that an in-between event
    * bridges collapse into one); the watermark finalizes a session
    * once no event can extend it. StreamMlSpec plants a
    * bridge-then-gap sequence and asserts the merged session emits
    * exactly once. */
  def sessionStreamAppend(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(Tables.cents(col("value"))) / lit(100.0)).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Click→purchase attribution: every purchase matched to each click
    * by the same user in the preceding hour — the batch (oracled) form
    * of a STREAM-STREAM interval join, the one join family the
    * streaming layer did not yet cover. Output is the attribution pair
    * set (user, click, purchase, lag), deterministic by construction
    * (event ids are unique).
    *
    * Scale: an equi-join on user_id with the time window as a residual
    * range predicate — both sides shuffle ONCE on the bounded join key;
    * the pair blow-up is capped by (clicks per user-hour × purchases
    * per user-hour), a rate×window product, not a corpus-sized cross.
    * The streaming form is [[attribStreamAppend]]. */
  val evtStreamStreamJoin: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value"))
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        col("value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Streaming form of [[evtStreamStreamJoin]]: a watermarked
    * stream-stream inner join. This is the join whose state Spark can
    * only bound when BOTH sides carry watermarks AND the join condition
    * carries an event-time range — here `purchase_ts ∈ (click_ts,
    * click_ts + 1h]`, from which the engine derives how long each side
    * must buffer: a click can stop waiting one hour past the purchase
    * watermark, a purchase the moment the click watermark passes it.
    * Without the range predicate the buffers grow with the stream —
    * the unbounded-state shape this entry point exists to avoid.
    * StreamMlSpec asserts stream ≡ batch on planted input.
    *
    * Inputs: `clicks(user_id, click_id, click_ts)` and
    * `purchases(p_user_id, purchase_id, purchase_ts, value)`. */
  def attribStreamAppend(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("click_ts", "30 minutes")
      .join(purchases.withWatermark("purchase_ts", "30 minutes"),
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        col("value"))

  /** Streaming exact dedup by event id — the ingestion-side guard of
    * the dedup family (at-least-once sources re-deliver; the training
    * pipeline must not double-count). State is one id per event inside
    * the watermark horizon; `dropDuplicatesWithinWatermark` evicts ids
    * once the watermark passes, so state is bounded by (watermark ×
    * event rate), not the stream. StreamMlSpec plants cross-batch
    * duplicate ids and asserts exactly-once output. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** The one streaming admission path: the foreachBatch body of the
    * production ingest loop over every store `pipe_admit_full` serves
    * from. There is no stream-static form of any admission family;
    * after this lands a micro-batch, the batch admission queries read
    * the stores, so stream and batch admission give identical
    * verdicts by construction. It lands the micro-batch `batch` (the
    * ingest batch's documents, with doc_id/text/n_chars) as each
    * maintained text store's tagged delta, then lets the DOWNSTREAM
    * stores derive their deltas from
    * the just-landed upstream ones — the same O(batch) upstream-delta
    * reads the batch ingest path takes
    * ([[graft.ArtifactStore.deltaFrame]]), so stream and batch ingest
    * produce byte-equivalent chains:
    *
    *  - row-local signing passes from the micro-batch's own rows:
    *    digests (md5), shingles (tokenize+md5 — THE text scan),
    *    ngram postings, span anchors;
    *  - derived stores via their standard accessors, whose batch
    *    thunks read the upstream delta dirs: the df-filtered posting
    *    chain (including the ngram_df crossing check — a batch that
    *    pushes a shingle over the cap REBUILDS the chain under the
    *    stream writer, exactly as in batch ingest), the simhash
    *    hashes, and the embedding signatures (vectors ride the
    *    corpus's embeddings table, not this document stream).
    *
    * The four row-local stores' BASE artifacts must exist before the
    * stream starts (the initial index build — the store contract's
    * first-ever run); a missing one fails LOUDLY rather than silently
    * re-signing the corpus inside a micro-batch. The derived stores'
    * bases cold-build on first ingest through their accessors' own
    * contract — from the upstream CHAINS (base side filtered), never
    * from this micro-batch. Single-writer safety, crash
    * ordering, and exactly-once tag landing are the store's own
    * guarantees (ArtifactStoreSpec's streaming→store loop test); the
    * full-surface equivalence — stream-ingested chains serving
    * `pipe_admit_full` verdicts identical to the pure batch path,
    * across a planted crossing-rebuild — is StreamIngestSpec's pin. */
  def ingestAdmissionBatch(spark: SparkSession, dir: String,
      batch: DataFrame): Unit = {
    import graft.ArtifactStore
    import graft.operators.{DedupQueries => D, SimilarityQueries => S}
    val tag = D.IngestBatchTag
    // ONE non-empty micro-batch per corpus version is the store
    // contract here (the tag is fixed): once the tag is chained,
    // appendedCached serves the landed delta and never runs a derive
    // thunk, so a second DIFFERENT batch would be SILENTLY DROPPED —
    // fail loudly on that (r17 advice). An EMPTY micro-batch (stream
    // start-up, idle trigger) is a no-op either way: landing it would
    // chain the tag with zero rows and doom the real batch to the
    // silent-drop path.
    //
    // At-least-once REPLAY of the SAME batch must fall through, not
    // error (r18 advice): foreachBatch legitimately re-delivers a
    // micro-batch after a crash/restart before checkpoint commit, and
    // the digest store lands FIRST below — so a crash mid-sequence
    // (digest chained, later stores not) would otherwise make the
    // retry fail permanently with downstream stores missing their
    // delta. The landed digest delta identifies the batch: an exact
    // (count, order-free content hash) match over (doc_id, text_hash)
    // means this is the same batch replayed — proceed, every land()
    // below is idempotent (appendedCached serves already-landed
    // deltas and derives only the missing ones), so a partially
    // landed ingest COMPLETES on retry. A digest tag that is chained
    // but unreadable (folded into the base / cache off) cannot be
    // identity-checked and keeps the loud failure. The content hash is
    // the bit_xor of per-row xxhash64 values: a sum of 64-bit hashes
    // overflows under ANSI on any batch of realistic size, and xor
    // cannot. It is sound because doc_id is unique within a batch, so
    // no two equal rows cancel out.
    if (batch.isEmpty) return
    val digestOf = batch.select(col("doc_id"), md5(col("text")).as("text_hash"))
    if (ArtifactStore.tagChained(spark, D.digestStorePath(dir), tag)) {
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          bit_xor(xxhash64(col("doc_id"), col("text_hash")))).head
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val sameBatch = ArtifactStore
        .deltaFrame(spark, D.digestStorePath(dir), tag)
        .exists(landed => sig(landed) == sig(digestOf))
      if (!sameBatch)
        sys.error(s"stream ingest: batch tag '$tag' already chained for " +
          s"$dir with DIFFERENT content — one non-empty micro-batch per " +
          "corpus version; a second batch under the same tag would be " +
          "silently dropped")
    }
    def land(path: String)(delta: => DataFrame): Unit = {
      ArtifactStore.appendedCached(spark, path, tag)(
        sys.error(s"stream ingest requires a prebuilt base: $path"))(delta)
      ()
    }
    land(D.digestStorePath(dir))(digestOf)
    land(D.shingleStorePath(dir))(D.shingledMd5On(batch))
    land(D.ngramPostingStorePath(dir))(D.ngramPostingsOn(batch))
    land(D.spanAnchorStorePath(dir))(D.spanAnchorsOn(batch))
    D.ngramFilteredStore(spark, dir)
    D.simhashChunkStore(spark, dir)
    S.embSigsStored(spark, dir)
    ()
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      value: Double)
  case class SessionState(sessionIdx: Long, lastTs: Long, n: Long,
      startTs: Long, valueCents: Long)
  case class SessionOut(user_id: Long, session_idx: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      session_value: Double)

  /** Stateful sessionization with `flatMapGroupsWithState` — the
    * incremental form of [[evtSessionize]] (same 30-min gap rule, same
    * output schema). In batch mode Spark feeds each user's full group
    * once; on a stream the state carries across micro-batches. The spec
    * asserts equality with the window-function formulation.
    *
    * Scale: state is O(1) per user (five longs); the shuffle is one
    * hash-partition by user — this is the shape that holds at 100 TB of
    * events where a window-function sort per user would still work but
    * the incremental form also serves the live stream. */
  def sessionizeStateful(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 30L * 60 * 1000000
    // java.sql.Timestamp ⇄ microseconds with full µs fidelity
    // (getTime alone is millis — it silently drops the µs digits)
    def toUs(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def fromUs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def fn(userId: Long, events: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L, 0L))
      // deterministic order within the group: (ts, event_id)
      val sorted = events.toArray.sortBy(e => (toUs(e.ts), e.event_id))
      def emit(): Unit = if (st.n > 0) out += SessionOut(
        userId, st.sessionIdx, st.n,
        fromUs(st.startTs), fromUs(st.lastTs),
        st.valueCents / 100.0)
      sorted.foreach { e =>
        val tsUs = toUs(e.ts)
        val cents = math.floor(e.value * 100.0 + 0.5).toLong
        if (st.n == 0L || tsUs - st.lastTs > gapUs) {
          emit()
          st = SessionState(st.sessionIdx + 1, tsUs, 1L, tsUs, cents)
        } else {
          st = st.copy(lastTs = tsUs, n = st.n + 1,
            valueCents = st.valueCents + cents)
        }
      }
      emit() // batch mode: group is complete, flush the open session
      state.update(st)
      out.iterator
    }
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  case class FunnelEvent(user_id: Long, event_type: String,
      ts: java.sql.Timestamp, event_id: Long)
  case class FunnelState(view: Long, click: Long, purchase: Long)
  case class FunnelUser(user_id: Long, t_view: Option[java.sql.Timestamp],
      t_click: Option[java.sql.Timestamp],
      t_purchase: Option[java.sql.Timestamp])

  /** Incremental per-user funnel — the stateful dual of [[evtFunnel]]'s
    * chained-min windows (same strict-order rule: first view, first
    * click strictly after it, first purchase strictly after that).
    * State is three longs per user; each invocation emits the user's
    * current stage times (monotone: a stage is set at most once and
    * never changes), so a sink can take max-per-user to read the
    * latest funnel position.
    *
    * Exactness: in batch mode the group is complete, events replay in
    * (ts, event_id) order, and the result EQUALS the window-function
    * form (spec-asserted). On a stream it is exact when each user's
    * events arrive in event-time order across micro-batches; a
    * cross-batch late view cannot retroactively re-qualify an
    * already-skipped click (that would need unbounded candidate
    * retention — documented trade, same as every O(1)-state funnel).
    *
    * Scale: one hash shuffle on user_id, O(1) CARRIED state per user —
    * the shape that serves a live stream, where per-invocation memory
    * is one micro-batch's events for one user. NOTE the batch-mode
    * caveat: there each group is the user's ENTIRE history and the
    * in-memory sort below materializes it on one task's heap — for a
    * backfill over a pathological single-user skew (a bot with 10^8
    * events) use the window-function [[evtFunnel]], which sorts
    * spillably; this form's home is the incremental stream.
    *
    * State retention: `GroupStateTimeout.NoTimeout` — per-user state
    * (24 bytes) is retained FOREVER, so on a real stream with
    * unbounded user cardinality the state store grows without bound.
    * That is the deliberate semantic here (a funnel position must
    * survive arbitrarily long view→purchase gaps, and an evicted user
    * would silently restart the funnel on their next event); a
    * production deployment that can bound the funnel horizon should
    * pass `GroupStateTimeout.ProcessingTimeTimeout` + a
    * `state.setTimeoutDuration` / `state.hasTimedOut` removal branch
    * instead — the trade is explicit: bounded store vs exactness for
    * users whose funnel spans longer than the timeout. */
  def funnelStateful(events: DataFrame)
      : org.apache.spark.sql.Dataset[FunnelUser] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val Unset = Long.MaxValue
    def toUs(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def fromUs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def fn(userId: Long, evs: Iterator[FunnelEvent],
        state: GroupState[FunnelState]): Iterator[FunnelUser] = {
      var st = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
      // deterministic replay order within the group: (ts, event_id)
      evs.toArray.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
        val t = toUs(e.ts)
        e.event_type match {
          case "view" if st.view == Unset => st = st.copy(view = t)
          case "click" if st.click == Unset && st.view != Unset &&
              t > st.view => st = st.copy(click = t)
          case "purchase" if st.purchase == Unset && st.click != Unset &&
              t > st.click => st = st.copy(purchase = t)
          case _ =>
        }
      }
      state.update(st)
      def o(us: Long) = if (us == Unset) None else Some(fromUs(us))
      Iterator.single(
        FunnelUser(userId, o(st.view), o(st.click), o(st.purchase)))
    }
    events.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** JSON property extraction from the events `props` column
    * (semi-structured payload parsing — `get_json_object` per row,
    * grouped stats per extracted key bucket).
    *
    * One-parse rule: `get_json_object` parses the JSON once PER CALL,
    * so it is the right tool only while exactly one key is extracted
    * (as here). The moment a second key is needed, switch to a single
    * `from_json` with an explicit schema and project its fields — one
    * parse per row regardless of key count; at 100 TB a per-key
    * re-parse of the payload is a scan-stage multiplier. */
  val evtJsonProps: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
      .orderBy(col("event_type"), col("k_bucket"))

  /** Ordered funnel view → click → purchase: a user reaches a stage
    * only via an event strictly AFTER their entry into the previous
    * stage (first view, then first click after that view, then first
    * purchase after that click). Emits one summary row with the user
    * count surviving each stage.
    *
    * Scale: three chained min-over-user windows on ONE partitioning —
    * a single shuffle on user_id, three Window operators, no
    * self-joins (the naive per-stage join formulation shuffles the
    * event log once per stage). The per-user collapse rides the same
    * partitioning and the final global count is a 4-long reduce. */
  val evtFunnel: Q = (spark, dir) =>
    funnelOn(Tables.events(spark, dir))

  /** [[evtFunnel]] over an explicit (user_id, event_type, ts) frame —
    * the spec plants out-of-order stage sequences. */
  private[graft] def funnelOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    events
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view"),
          col("ts"))).over(byUser))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
          col("ts"))).over(byUser))
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"))
      .distinct()
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
  }

  /** Cohort retention: users grouped by first-active day, counted on
    * each of the next 7 days they return (day_offset 0 = cohort size).
    * The standard activation/retention table every analytics engine
    * ships.
    *
    * Scale: ONE shuffle on user_id builds the per-user distinct-day
    * set (collect_set is bounded by the calendar — days per user can't
    * exceed the product's age, thousands at most, nothing data-sized);
    * cohort day and offsets derive inline from that array, and the
    * final (cohort, offset) count is the only other shuffle. The
    * distinct-then-self-join formulation the oracle uses would shuffle
    * three times. */
  val evtRetention: Q = (spark, dir) =>
    retentionOn(Tables.events(spark, dir))

  /** [[evtRetention]] over an explicit (user_id, ts) frame — the spec
    * plants a user returning past the 7-day horizon. */
  private[graft] def retentionOn(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(collect_set(to_date(col("ts"))).as("days"))
      .select(col("user_id"), array_min(col("days")).as("cohort_day"),
        explode(col("days")).as("day"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .where(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))

  case class RetentionState(cohortDay: Int, mask: Int)
  case class RetentionUser(user_id: Long, cohort_day: java.sql.Date,
      offsets_mask: Int)

  /** Incremental per-user cohort retention — the stateful streaming
    * dual of [[evtRetention]]. State per user is a SUFFICIENT
    * STATISTIC for the ≤7-day retention table: the cohort (earliest)
    * day plus an 8-bit mask of visited offsets. A new active day d
    * either sets bit (d − cohort) when 0 ≤ d − cohort ≤ 7, or — when d
    * precedes the current cohort — RE-BASES: the mask shifts left by
    * (cohort − d) (offsets grow relative to the earlier cohort; bits
    * pushed past 7 leave the horizon, which is exactly the batch
    * semantics), bit 0 is set for the new cohort day, and days beyond
    * the horizon need no memory at all. The update is commutative and
    * idempotent over days, so — unlike the funnel — this form is EXACT
    * under ANY cross-batch arrival order, including late events from
    * before the current cohort (spec-asserted with a planted re-basing
    * fixture). Emits the user's current (cohort, mask) each
    * invocation; for a fixed final cohort the mask is monotone, so a
    * sink reads the final position as (min cohort_day, max mask at
    * that cohort).
    *
    * Scale: one hash shuffle on user_id, 8 bytes of carried state per
    * user, no per-event retention. Same `NoTimeout` forever-retention
    * trade as [[funnelStateful]] (a user may return within horizon
    * after any silence); bound it with ProcessingTimeTimeout when the
    * product allows. */
  def retentionStateful(events: DataFrame)
      : org.apache.spark.sql.Dataset[RetentionUser] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // session tz is UTC: epoch-day from millis matches to_date()
    def dayOf(t: java.sql.Timestamp): Int =
      math.floorDiv(t.getTime, 86400000L).toInt
    def fn(userId: Long, evs: Iterator[(Long, java.sql.Timestamp)],
        state: GroupState[RetentionState]): Iterator[RetentionUser] = {
      var st = state.getOption.getOrElse(RetentionState(Int.MaxValue, 0))
      evs.foreach { case (_, t) =>
        val d = dayOf(t)
        if (st.cohortDay == Int.MaxValue) st = RetentionState(d, 1)
        else if (d >= st.cohortDay) {
          val off = d - st.cohortDay
          if (off <= 7) st = st.copy(mask = st.mask | (1 << off))
        } else {
          val delta = st.cohortDay - d
          val shifted =
            if (delta > 7) 0 else (st.mask << delta) & 0xFF
          st = RetentionState(d, shifted | 1)
        }
      }
      state.update(st)
      Iterator.single(RetentionUser(userId,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(st.cohortDay)),
        st.mask))
    }
    events.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  case class CusumPoint(product: String, sale_date: java.sql.Date,
      x: Long, n: Long, s: Long, mad: Double)
  private case class CusumState(t: Long, cal: Long, minCadj: Double,
      nAlarm: Long, maxExc: Double, firstAlarm: Option[java.sql.Date])
  case class CusumOut(product: String, n_days: Long, mad_qty: Double,
      n_alarm_days: Long, max_excursion_qty: Double,
      first_alarm_date: Option[java.sql.Date])

  /** Stateful CUSUM drift detection — the O(1)-state incremental dual
    * of [[graft.operators.AggQueries.profCusumDrift]]'s closed form
    * (prefix sum + running min windows). The round-9 skip reasoning
    * ("the closed form needs unbounded running-min lookback")
    * dissolves here: the recursion only ever needs the CURRENT prefix
    * sum and its running minimum — (C_t, min-prefix C) per product,
    * two scalars of state — because
    * S_t = C_t − min_{i≤t} C_i is exactly the max(0,·) CUSUM
    * recursion unrolled. The fold replays the IDENTICAL IEEE double
    * ops as the batch windows (cal cast, t·mad product, subtraction,
    * running min, 5·mad threshold), so StreamMlSpec asserts equality
    * row-for-row on the planted level-shift fixture — including
    * OUT-OF-ORDER arrival, handled like the other stateful duals by
    * deterministic (sale_date) replay order within the group.
    *
    * Calibration (n, s, mad) rides each point (the stream-static
    * serve-join shape of ml_stream_score — a monitoring deployment
    * joins the calibration snapshot, then pages on alarm rows). State
    * retention: NoTimeout like the funnel (a drift monitor must not
    * forget its excursion), with the same documented
    * ProcessingTimeTimeout trade for bounded stores. */
  def cusumStateful(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[CusumOut] = {
    val spark = daily.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def round6(v: Double): Double = math.floor(v * 1000000.0 + 0.5) / 1000000.0
    def fn(product: String, pts: Iterator[CusumPoint],
        state: GroupState[CusumState]): Iterator[CusumOut] = {
      var st = state.getOption.getOrElse(
        CusumState(0L, 0L, Double.PositiveInfinity, 0L, 0.0, None))
      var madN: (Double, Long) = (0.0, 0L)
      // deterministic replay order within the group: sale_date (unique
      // per product at daily grain), so out-of-order arrival inside a
      // batch folds identically to the sorted series
      pts.toArray.sortBy(_.sale_date.getTime).foreach { p =>
        madN = (p.mad, p.n)
        val dev = p.n * p.x - p.s
        val t = st.t + 1
        val cal = st.cal + dev
        val cadj = cal.toDouble - t * p.mad
        val minC = math.min(st.minCadj, cadj)
        val exc = cadj - minC
        val alarm = exc > 5.0 * p.mad
        st = CusumState(t, cal, minC,
          st.nAlarm + (if (alarm) 1L else 0L),
          math.max(st.maxExc, exc),
          if (alarm && st.firstAlarm.isEmpty) Some(p.sale_date)
          else st.firstAlarm)
      }
      state.update(st)
      if (st.t == 0L) Iterator.empty
      else Iterator.single(CusumOut(product, madN._2,
        round6(madN._1 / madN._2), st.nAlarm,
        round6(st.maxExc / madN._2), st.firstAlarm))
    }
    graft.operators.AggQueries.cusumCalibratedOn(daily)
      .select(col("product"), col("sale_date"), col("x"), col("n"),
        col("s"), col("mad"))
      .as[CusumPoint]
      .groupByKey(_.product)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** `evt_anomaly`: per-type 3σ outlier counts — the numeric-outlier
    * filter a training pipeline runs before trusting a value column.
    * Determinism across engines AND partitionings: the per-type
    * moments are EXACT integer-cents sums (S = Σc, Q = Σc², both well
    * inside long range at any tested SF), and the 3σ test is algebra
    * on those integers — (n·x − S)²·(n−1) > 9·n·(nQ − S²) — evaluated
    * as doubles from exactly-converted integers with an identical
    * expression tree in both engines (no pow(), no stddev aggregate:
    * Spark's Welford-style stddev_samp and DuckDB's would disagree in
    * ulps, and ordering drift would flip boundary rows). The stats
    * join is 1-row-per-type; the planner broadcasts it. */
  val evtAnomaly: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), Tables.cents(col("value")).cast("long").as("c"))
    val st = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
    ev.join(st, Seq("event_type"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("dev", col("nd") * col("c") - col("s").cast("double"))
      .withColumn("is_anom",
        col("dev") * col("dev") * (col("nd") - lit(1.0)) >
          lit(9.0) * col("nd") *
            (col("nd") * col("q").cast("double") -
              col("s").cast("double") * col("s").cast("double")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy(col("event_type"))
  }

  /** `evt_anomaly_mad`: robust outlier counts per event type — the
    * median/MAD dual of [[evtAnomaly]]'s mean/σ rule. The 3σ rule is
    * itself distorted by the outliers it hunts (one extreme value
    * inflates σ and hides its peers — masking); the median and the
    * median absolute deviation have a 50% breakdown point, so
    * |v − median| > 3·MAD/0.6745 (the Gaussian-consistent MAD scaling)
    * keeps flagging when the mean-based rule saturates. Both panels
    * together are the standard data-quality pairing.
    *
    * Determinism: values quantize to integer cents; the exact
    * `percentile` aggregate ≙ DuckDB `quantile_cont` bit-for-bit (the
    * pipe_quality_filter precedent), deviations and the threshold are
    * identical IEEE trees over exactly-agreed numbers — no rounding
    * needed before the compare (the [[evtAnomaly]] doctrine).
    *
    * Scale: three type-keyed hash aggregates and two joins against
    * |event_type|-row frames (planner-broadcast). At 100 TB swap the
    * exact percentile for `approx_percentile` — the documented
    * agg_approx_percentiles path. */
  val evtAnomalyMad: Q = (spark, dir) =>
    anomalyMadOn(Tables.events(spark, dir))

  /** [[evtAnomalyMad]] over an explicit (event_type, value) frame —
    * the spec plants a masked-outlier distribution (five heavy values
    * inflate σ until the 3σ rule flags nothing) and asserts the MAD
    * rule still flags exactly those five. */
  private[graft] def anomalyMadOn(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), Tables.cents(col("value")).cast("long").as("c"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("c"), lit(0.5)).as("med"))
    val dev = ev.join(med, Seq("event_type"))
      .withColumn("adev", abs(col("c").cast("double") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(mad, Seq("event_type"))
      .withColumn("is_anom",
        col("adev") * lit(0.6745) > lit(3.0) * col("mad"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Tables.round6(max(col("med")) / lit(100.0)).as("median_value"),
        Tables.round6(max(col("mad")) / lit(100.0)).as("mad_value"),
        sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy(col("event_type"))
  }

  /** `evt_peak_concurrency`: peak simultaneous activity per event type
    * — the classic sweep-line over intervals (each event opens a
    * 30-minute activity window; the answer is the max of the running
    * open-interval count). Capacity planning / admission control needs
    * this; no built-in expresses it directly.
    *
    * Determinism across engines: all arithmetic lives in the integer
    * MICROSECOND domain (`unix_micros` ≙ DuckDB `epoch_us`, both
    * truncating), so the nanosecond parquet column can never split a
    * grouping key between engines. Deltas are pre-aggregated per
    * distinct boundary instant, which makes the running sum
    * order-independent (the window ORDER BY key is unique within each
    * type).
    *
    * Scale: 2·n boundary rows, never materialized wider than
    * (type, t, ±1). The boundary aggregation shuffles on (type, t)
    * WITH map-side partial aggregation — raw boundaries collapse to
    * per-instant deltas before the wire; the running-sum window then
    * re-clusters those compact rows on type alone (a second,
    * state-sized exchange — deliberately NOT avoided by
    * pre-partitioning on type, which would both kill the map-side
    * combine and cap the first stage's parallelism at |types|), and
    * the final max rides the window partitioning. The naive
    * formulation (self-join "count intervals covering each start") is
    * O(n²) per type and unshippable at 100 TB. */
  val evtPeakConcurrency: Q = (spark, dir) =>
    peakConcurrencyOn(Tables.events(spark, dir))

  /** [[evtPeakConcurrency]] over an explicit (event_type, ts) frame —
    * the spec plants touching intervals (half-open [t, t+30min):
    * an interval ending exactly when another starts never overlaps). */
  private[graft] def peakConcurrencyOn(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), unix_micros(col("ts")).as("t_us"))
    val deltas = ev
      .select(col("event_type"), col("t_us").as("t"),
        lit(1L).as("d"), lit(1L).as("s"))
      .unionAll(ev.select(col("event_type"),
        (col("t_us") + lit(1800000000L)).as("t"),
        lit(-1L).as("d"), lit(0L).as("s")))
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("d")).as("d"), sum(col("s")).as("s"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("t"))
    deltas
      .withColumn("open", sum(col("d")).over(byType))
      .groupBy(col("event_type"))
      .agg(max(col("open")).as("peak_concurrency"),
        sum(col("s")).as("n_intervals"))
      .orderBy(col("event_type"))
  }

  /** `evt_top_paths`: the most common 3-step behavior sequences — for
    * every user, each consecutive (event, next, next-next) triple in
    * strict time order, counted globally; top 10 with a full
    * deterministic tie-break (count desc, then the path string). The
    * standard journey-mining query behind "what do users do before
    * purchasing".
    *
    * Determinism: within a user, events are uniquely ordered by
    * (microsecond ts, event_id) — the same composite key the
    * sessionizer uses — and the oracle's `lead()` replays the identical
    * ordering via `epoch_us`.
    *
    * Scale: ONE shuffle on user_id feeds both lead() windows (same
    * partitioning, same sort), the trigram count is a hash aggregate
    * with map-side partials on a key space bounded by |event_type|³,
    * and the top-10 is a TakeOrdered — no global sort of the counts. */
  val evtTopPaths: Q = (spark, dir) =>
    topPathsOn(Tables.events(spark, dir))

  /** [[evtTopPaths]] over an explicit (user_id, event_id, ts,
    * event_type) frame — the spec plants equal-timestamp events (the
    * event_id tie-break decides the path) and a count tie (the path
    * string decides the rank). */
  private[graft] def topPathsOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .where(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** `evt_inter_arrival`: per-type inter-arrival statistics of each
    * user's event stream — gap count, mean/min/max gap seconds. The
    * traffic-cadence panel behind rate-limit tuning and session-gap
    * calibration (the sessionizer's 30-min threshold is read off this
    * distribution).
    *
    * Determinism: gaps are differences of exact integer microseconds
    * along the unique (t_us, event_id) per-(user, type) ordering;
    * sums/min/max are exact longs and the mean is two IEEE divisions.
    *
    * Scale: ONE shuffle on (user_id, event_type) for the lag window —
    * partitioning on the user key keeps partitions traffic-
    * proportional (a per-type-only window would funnel a whole type's
    * global stream into one partition) — then a hash aggregate onto
    * the bounded type key. */
  val evtInterArrival: Q = (spark, dir) =>
    interArrivalOn(Tables.events(spark, dir))

  /** [[evtInterArrival]] over an explicit (user_id, event_id, ts,
    * event_type) frame — the spec plants hand-spaced gaps and an
    * equal-timestamp tie. */
  private[graft] def interArrivalOn(events: DataFrame): DataFrame = {
    val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("prev", lag(col("t_us"), 1).over(byUserType))
      .where(col("prev").isNotNull)
      .select(col("event_type"), (col("t_us") - col("prev")).as("gap_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        (sum(col("gap_us")).cast("double") /
          count(lit(1)).cast("double") / lit(1000000.0)).as("mean_gap_sec"),
        (min(col("gap_us")).cast("double") / lit(1000000.0))
          .as("min_gap_sec"),
        (max(col("gap_us")).cast("double") / lit(1000000.0))
          .as("max_gap_sec"))
      .orderBy(col("event_type"))
  }

  /** `evt_markov_transitions`: the first-order behavior model —
    * P(next event type | current type) over user-consecutive event
    * pairs, the transition matrix behind "what usually follows a
    * view". The row-normalized form of [[evtTopPaths]]' raw sequence
    * counts, and the feature a sequence model trains against.
    *
    * Determinism: within a user, events are uniquely ordered by
    * (microsecond ts, event_id) — the [[topPathsOn]] composite key —
    * and the probability is ONE division of two exact longs (pair
    * count / from-state total), so no rounding is needed.
    *
    * Scale: ONE shuffle on user_id for the lead() window, then a hash
    * aggregate onto a key space bounded by |event_type|² and a
    * row-total window over that bounded matrix — never the event
    * stream. */
  val evtMarkovTransitions: Q = (spark, dir) =>
    markovOn(Tables.events(spark, dir))

  /** [[evtMarkovTransitions]] over an explicit (user_id, event_id, ts,
    * event_type) frame — the spec plants a hand-countable chain with
    * an equal-timestamp tie and asserts rows sum to 1 per from-state. */
  private[graft] def markovOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val byFrom = Window.partitionBy(col("from_type"))
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .where(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", col("n").cast("double") /
        sum(col("n")).over(byFrom).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** `evt_ohlc_resample`: time-series downsampling of the event stream
    * to per-(type, hour) OHLC bars — open/high/low/close, event count,
    * and mean value. The standard resample step before feeding a
    * metric stream to a forecaster or charting layer (the reference's
    * dashboard re-bins its daily series the same way,
    * `dashboard.py:54-106`; this is the event-grain analog).
    *
    * Determinism: open/close are `min_by`/`max_by` over the UNIQUE
    * composite key (microsecond ts, event_id) — no ties to break, and
    * the oracle replays the identical ordering via `epoch_us` +
    * row_number. high/low are order-independent min/max on raw
    * doubles; the mean is an exact integer-cents sum divided once
    * (never a double `avg`, whose add order varies by partitioning).
    *
    * Scale: ONE hash aggregate with map-side partial aggregation —
    * min_by/max_by carry (value, key) pairs through the partial/merge
    * algebra, so each map task emits one row per (type, hour) it saw
    * and the shuffle is bar-sized, not event-sized. The (type, hour)
    * key space grows with retention, not traffic — at 100 TB the
    * output is still tiny; no window pass, no second shuffle. */
  val evtOhlcResample: Q = (spark, dir) =>
    ohlcOn(Tables.events(spark, dir))

  /** [[evtOhlcResample]] over an explicit (event_type, ts, event_id,
    * value) frame — the spec plants same-hour out-of-order rows and an
    * equal-timestamp open (the event_id tie-break decides the bar). */
  private[graft] def ohlcOn(events: DataFrame): DataFrame = {
    // The (t_us, event_id) composite order packed into ONE Decimal(38,0):
    // t_us·10^18 + event_id (exact integer arithmetic; identical order
    // while event_id < 10^18). A struct ordering would force min_by's
    // agg buffer to a non-mutable type and the whole aggregate down to
    // SortAggregate — per-partition sorts of the full event stream; the
    // decimal buffer is UnsafeRow-mutable, so the plan stays a single
    // HashAggregate pair (plan-asserted in AnalyticsOpsSpec).
    val ord = unix_micros(col("ts")).cast(DecimalType(38, 0)) *
      lit(BigDecimal("1000000000000000000")) + col("event_id")
    events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value"),
        Tables.cents(col("value")).cast("long").as("c"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_events"),
        (sum(col("c")).cast("double") /
          (count(lit(1)) * lit(100.0))).as("avg_value"))
      .orderBy(col("event_type"), col("hour"))
  }

  def queries: Map[String, Q] = Map(
    "evt_anomaly"         -> evtAnomaly,
    "evt_anomaly_mad"     -> evtAnomalyMad,
    "evt_inter_arrival"   -> evtInterArrival,
    "evt_markov_transitions" -> evtMarkovTransitions,
    "evt_ohlc_resample"   -> evtOhlcResample,
    "evt_peak_concurrency" -> evtPeakConcurrency,
    "evt_top_paths"       -> evtTopPaths,
    "evt_funnel"          -> evtFunnel,
    "evt_retention"       -> evtRetention,
    "evt_stream_stream_join" -> evtStreamStreamJoin,
    "evt_tumbling_window" -> evtTumblingWindow,
    "evt_window_users"    -> evtWindowUsers,
    "evt_sliding_window"  -> evtSlidingWindow,
    "evt_sessionize"      -> evtSessionize,
    "evt_session_window"  -> evtSessionWindow,
    "evt_json_props"      -> evtJsonProps,
    "evt_user_enrich"     -> evtUserEnrich,
  )

  def oracles: Map[String, String] = Map(
    "evt_ohlc_resample" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    epoch_us(ts) AS t_us, event_id, value,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour
        |                       ORDER BY t_us, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, hour
        |                       ORDER BY t_us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT event_type, hour,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n_events,
        |  CAST(SUM(c) AS DOUBLE) / (count(*) * 100.0) AS avg_value
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_peak_concurrency" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) AS t, 1 AS d, 1 AS s FROM events
        |  UNION ALL
        |  SELECT event_type, epoch_us(ts) + 1800000000 AS t, -1 AS d, 0 AS s
        |  FROM events),
        |g AS (
        |  SELECT event_type, t, SUM(d) AS d, SUM(s) AS s
        |  FROM b GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, s,
        |    SUM(d) OVER (PARTITION BY event_type ORDER BY t) AS open
        |  FROM g)
        |SELECT event_type, CAST(max(open) AS BIGINT) AS peak_concurrency,
        |  CAST(SUM(s) AS BIGINT) AS n_intervals
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_inter_arrival" ->
      """WITH o AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(SUM(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000.0 AS mean_gap_sec,
        |  CAST(min(gap_us) AS DOUBLE) / 1000000.0 AS min_gap_sec,
        |  CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_sec
        |FROM o WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_markov_transitions" ->
      """WITH o AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM o
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
        |FROM c ORDER BY 1, 2""".stripMargin,
    "evt_top_paths" ->
      """WITH o AS (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |  count(*) AS n
        |FROM o WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "evt_anomaly" ->
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*) AS n, SUM(c) AS s, SUM(c * c) AS q
        |  FROM c GROUP BY 1),
        |j AS (
        |  SELECT event_type,
        |    CAST(n AS DOUBLE) * c - CAST(s AS DOUBLE) AS dev,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(q AS DOUBLE) AS qd, CAST(s AS DOUBLE) AS sd
        |  FROM c JOIN st USING (event_type))
        |SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CASE WHEN dev * dev * (nd - 1.0) >
        |        9.0 * nd * (nd * qd - sd * sd)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_anomaly_mad" ->
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |med AS (
        |  SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM c GROUP BY 1),
        |dev AS (
        |  SELECT event_type, abs(CAST(c AS DOUBLE) - med) AS adev, med
        |  FROM c JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT event_type, count(*) AS n_events,
        |  floor(max(med) / 100.0 * 1000000.0 + 0.5) / 1000000.0
        |    AS median_value,
        |  floor(max(mad) / 100.0 * 1000000.0 + 0.5) / 1000000.0
        |    AS mad_value,
        |  CAST(SUM(CASE WHEN adev * 0.6745 > 3.0 * mad
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us, p.value
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p USING (user_id)
        |WHERE p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    "evt_funnel" ->
      """WITH v AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
        |        THEN e.ts END) AS t_click
        |  FROM events e JOIN v USING (user_id) GROUP BY 1),
        |p AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
        |        THEN e.ts END) AS t_purchase
        |  FROM events e JOIN c USING (user_id) GROUP BY 1)
        |SELECT count(*) AS n_users, count(t_view) AS n_view,
        |  count(t_click) AS n_click, count(t_purchase) AS n_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""
        .stripMargin,
    "evt_retention" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |co AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT co.cohort_day,
        |  CAST(d.day - co.cohort_day AS INT) AS day_offset,
        |  count(*) AS n_users
        |FROM d JOIN co USING (user_id)
        |WHERE d.day - co.cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_user_enrich" ->
      """SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
        |  count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_sliding_window" ->
      """WITH x AS (
        |  SELECT make_timestamp(
        |           (epoch_us(ts) // 1800000000 - k.k) * 1800000000) AS window_start,
        |         event_type, value
        |  FROM events, (SELECT unnest([0, 1]) AS k) k)
        |SELECT window_start, event_type, count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_json_props" ->
      """SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |  count(*) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |WHERE json_extract(props, '$.k') IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_window_users" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // session_window merges events whose [ts, ts+gap) windows OVERLAP:
    // a gap of exactly 30 min starts a NEW session (>= breaks), unlike
    // the window-function sessionizer's strict > rule — the oracle
    // replays the >= semantics.
    "evt_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g)
        |SELECT user_id,
        |  make_timestamp(epoch_us(min(ts))) AS session_start,
        |  make_timestamp(epoch_us(max(ts))) AS session_end,
        |  count(*) AS n_events,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS session_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "evt_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  make_timestamp(epoch_us(min(ts))) AS session_start,
        |  make_timestamp(epoch_us(max(ts))) AS session_end,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 AS session_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
