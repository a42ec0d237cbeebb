package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Typed event row for the custom-state operator (micros-precision
  * timestamps survive the Instant encoder). */
case class SessionEvent(user_id: Long, ts: Instant, value: Double)

/** Open-session accumulator kept in [[GroupState]] — epoch micros so no
  * precision is lost vs the batch q15 semantics. */
case class OpenSession(startUs: Long, endUs: Long, n: Long, sum: Double)

/** One closed session (same shape as batch q15's per-session row). */
case class SessionRow(user_id: Long, session_start: Instant,
    session_end: Instant, n_events: Long, sum_value: Double)

/** Structured Streaming over the events table (SURVEY §2.10): the batch
  * queries in [[graft.jobs.EventQueries]] re-expressed as unbounded
  * plans. File-source parquet drives local verification; in production
  * the same plan reads Kafka/object-store streams — only `readStream`
  * options change.
  */
object EventsStream {

  /** File-source schema with `ts` still in its scanned form — the second
    * field is swapped per snapshot generation by [[readEvents]]. */
  def eventSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Streaming read of an events parquet DIRECTORY (Spark's file source
    * requires a directory it can watch for new files; schema must be
    * declared). Schema-adaptive like the batch loader
    * ([[graft.Tables]] `loadEvents`): one driver-side footer read
    * (`Tables.footerSchema`, no Spark job) picks the generation, then
    * the declared stream schema and the normalization match it.
    * Downstream contract is unchanged either way: `ts` emerges as
    * TimestampType (watermark column), micros precision, instant = the
    * snapshot's naive micros read as UTC — timezone-invariant in every
    * branch
    * (`timestampdiff` against an NTZ epoch is pure naive arithmetic;
    * `timestamp_micros` of the raw nanos never consults the session
    * TZ). The nanos branch still requires the legacy conf from the
    * session builder ([[graft.GraftSession]]); like the batch loader,
    * this verifies rather than mutates.
    *
    * One-generation-per-directory contract: the peek samples the
    * directory ONCE and declares that schema for the whole stream, so
    * a watched directory must not mix snapshot generations (a legacy
    * nanos file landing in a micros directory would be read with the
    * wrong schema mid-stream). Migrating a live ingest directory means
    * draining it — or rewriting the old files — first, the same rule
    * any declared-schema file stream lives under.
    *
    * `emptyDirEncoding` covers the one case the peek cannot decide: a
    * stream started against an EMPTY directory has no footer to
    * sample, so the producer's encoding must be DECLARED. (Spark's
    * file source itself rejects a not-yet-created path at query start —
    * empty-but-existing is the earliest a stream can start; the peek's
    * missing-path branch only defers to that canonical source error.)
    * The default (TIMESTAMP_NTZ, the current snapshot generation) keeps
    * zero-file starts working unchanged; a producer of UTC-instant
    * (TimestampType) or legacy-nanos (LongType) files whose first file
    * lands after stream start passes its encoding here — otherwise that
    * first file would be read with the wrong declared schema
    * mid-stream. Once at least one file exists the peek decides and the
    * parameter is ignored. */
  def readEvents(spark: SparkSession, eventsDir: String,
      emptyDirEncoding: org.apache.spark.sql.types.DataType =
        TimestampNTZType): DataFrame = {
    val scanned =
      try graft.Tables.footerSchema(spark, eventsDir)("ts").dataType
      catch {
        case e: AnalysisException
            if Set("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")(e.getCondition) =>
          // watched directory is empty — or not created yet (a stream
          // often starts before its producer's first file lands; the
          // pre-adaptive revision declared a static schema and never
          // touched the filesystem, so both cases must keep working):
          // fall back to the caller-declared producer encoding.
          emptyDirEncoding
      }
    val stream = spark.readStream.schema(eventSchema(scanned)).parquet(eventsDir)
    scanned match {
      case TimestampNTZType =>
        stream.withColumn("ts",
          expr("""timestamp_micros(timestampdiff(MICROSECOND,
                  TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"""))
      case LongType =>
        graft.GraftSession.requireNanosConf(spark)
        // same stale-footer-metadata arbitration as the batch loader:
        // LONG-scanned ts whose footer says TIMESTAMP(MICROS) must not
        // be divided again
        graft.Tables.guardLegacyLongTs(spark, eventsDir)
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => stream
      case other => throw new IllegalStateException(
        s"events.ts scanned as $other — see Tables.loadEvents for the " +
          "supported snapshot encodings.")
    }
  }

  /** The column set the Kafka v2 source emits (key/value payload bytes
    * plus broker metadata). Kept here so the decode seam and its test
    * double agree on the wire shape without the connector jar. */
  val kafkaWireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** JSON payload carried in the Kafka record value. Event time rides as
    * epoch MICROS (`ts_us`) — JSON has no timestamp type and micros is
    * the precision the batch loader preserves from the nanos parquet. */
  val kafkaPayloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Producer-side wire encoding: an events frame → the JSON value
    * bytes a Kafka producer would send. Schema-adaptive on `ts` like
    * the loaders (raw-nanos long, naive-micros NTZ, or UTC-instant
    * timestamp — all reduce to the same epoch-micros `ts_us`).
    * Declared next to the decoder so the round-trip contract is one
    * file; the spec feeds these bytes through [[decodeKafkaEvents]]
    * via MemoryStream. */
  def kafkaValueJson(events: DataFrame): DataFrame = {
    val tsUs = events.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType => expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case TimestampType => expr("unix_micros(ts)")
      case other => throw new IllegalStateException(
        s"events.ts is $other — see Tables.loadEvents for the supported " +
          "encodings.")
    }
    events.select(to_json(struct(
      col("event_id"), tsUs.as("ts_us"), col("user_id"),
      col("event_type"), col("value"), col("props"))).as("json"))
  }

  /** Decode a Kafka-wire frame into exactly the schema [[readEvents]]
    * produces: everything downstream (tumbling/sliding/session/custom
    * state) is source-agnostic past this projection. Broker metadata
    * (topic/partition/offset/broker timestamp) is dropped — event time
    * comes from the payload, so watermarks are immune to broker-side
    * reordering.
    *
    * Corrupt-record policy: DROP. A hostile payload — null value bytes,
    * non-UTF8 bytes, truncated/invalid JSON, or a wrong-schema document
    * whose identity/time fields don't parse — is excluded here rather
    * than flowing downstream as an all-null row (an all-null `ts` row
    * would silently vanish in the watermark while an all-null group key
    * pollutes aggregates; neither is a decode contract). Pipelines that
    * must account for every broker offset compose
    * [[decodeKafkaEventsAudited]] and route the `_corrupt_record` rows
    * to a quarantine sink instead. */
  def decodeKafkaEvents(wire: DataFrame): DataFrame =
    decodeKafkaEventsAudited(wire)
      .filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")

  /** The fields a payload must carry to be an event at all: identity,
    * event time, and the two grouping keys every downstream plan uses.
    * `value`/`props` stay nullable — a metric-less event is legal. */
  private val requiredPayloadFields = Seq("event_id", "ts_us", "user_id",
    "event_type")

  /** QUARANTINE-policy decode: same projection as [[decodeKafkaEvents]]
    * plus a `_corrupt_record` column (nomenclature mirrors Spark's JSON
    * source) that is NULL for clean records and carries the base64 of
    * the original value bytes otherwise — base64 because the offending
    * payload may be exactly the thing a UTF-8 string column cannot
    * represent. Corruption classes, each spec-pinned in StreamingSpec:
    *  - null value bytes (tombstone on a non-compacted topic);
    *  - non-UTF8 bytes (`cast(string)` mangles, `from_json` nulls out);
    *  - truncated or syntactically invalid JSON (null struct);
    *  - schema drift where a [[requiredPayloadFields]] member is
    *    missing or fails its type coercion (PERMISSIVE from_json nulls
    *    the field, so `e.ts_us = "noon"` is corrupt, not silently-null
    *    event time).
    * Typed columns are nulled on corrupt rows — the quarantine column
    * is the single source of truth for "bad", so a consumer filter on
    * it can never disagree with a consumer filter on field nullness. */
  def decodeKafkaEventsAudited(wire: DataFrame): DataFrame = {
    val parsed = wire.select(col("value"),
      from_json(col("value").cast("string"), kafkaPayloadSchema).as("e"))
    // isNull is never itself null, so `corrupt` is two-valued
    val corrupt = col("value").isNull || col("e").isNull ||
      requiredPayloadFields.map(f => col(s"e.$f").isNull).reduce(_ || _)
    val clean = !corrupt
    parsed.select(
      when(clean, col("e.event_id")).as("event_id"),
      when(clean, expr("timestamp_micros(e.ts_us)")).as("ts"),
      when(clean, col("e.user_id")).as("user_id"),
      when(clean, col("e.event_type")).as("event_type"),
      when(clean, col("e.value")).as("value"),
      when(clean, col("e.props")).as("props"),
      when(!clean, coalesce(base64(col("value")), lit(""))).as("_corrupt_record"))
  }

  /** FAIL-policy decode: `from_json` in FAILFAST mode, so the first
    * malformed payload kills the micro-batch (and the stream restarts
    * into the same record — a poison-pill loop by design: this policy
    * is for topics where corruption means a producer bug that must
    * page, not data to route around). Null value bytes and
    * missing-required-field documents are NOT json parse failures, so
    * they are guarded with `assert_true` woven INTO the `event_id`
    * projection — a guard in a column that is then dropped would be
    * pruned by the optimizer, side effect and all. */
  def decodeKafkaEventsStrict(wire: DataFrame): DataFrame = {
    val parsed = wire.select(col("value"),
      from_json(col("value").cast("string"), kafkaPayloadSchema,
        Map("mode" -> "FAILFAST")).as("e"))
    val required = requiredPayloadFields.map(f => col(s"e.$f").isNull)
      .reduce(_ || _)
    val guard = assert_true(!(col("value").isNull || required),
      lit("corrupt kafka payload: null value bytes or missing required " +
        "field (event_id/ts_us/user_id/event_type)"))
    // guard.isNull is TRUE whenever the assert passes (assert_true
    // returns null) — the when() keeps the assert load-bearing. It is
    // woven into EVERY projected column, not just event_id: column
    // pruning removes unselected columns together with the side
    // effects nested in them, so a downstream plan selecting only
    // (ts, user_id) must still carry the guard or the fail policy
    // silently degrades to null-passthrough for tombstones and
    // schema-drift records.
    def guarded(c: Column): Column = when(guard.isNull, c)
    parsed.select(
      guarded(col("e.event_id")).as("event_id"),
      guarded(expr("timestamp_micros(e.ts_us)")).as("ts"),
      guarded(col("e.user_id")).as("user_id"),
      guarded(col("e.event_type")).as("event_type"),
      guarded(col("e.value")).as("value"),
      guarded(col("e.props")).as("props"))
  }

  /** Kafka-source twin of [[readEvents]]: identical downstream schema,
    * only the `readStream` options change (brokers, topic, offsets).
    * Needs the spark-sql-kafka connector on the cluster classpath — not
    * bundled here, so the decode half is proven source-agnostic against
    * an in-memory stream in StreamingSpec instead. */
  def readEventsKafka(spark: SparkSession, options: Map[String, String]): DataFrame =
    decodeKafkaEvents(
      spark.readStream.format("kafka").options(options).load())

  /** Stage the single-file `events.parquet` of a testdata sf dir into a
    * temp directory so the file stream source can consume it. */
  def stageEventsDir(sfDir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft_events_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      tmp.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    tmp.toString
  }

  /** Tumbling 1-hour windows with a 2-hour watermark: the streaming twin
    * of q16 (late data beyond the watermark is dropped; state is bounded
    * by watermark horizon × window count — safe at unbounded scale). */
  def tumblingCounts(events: DataFrame): DataFrame =
    tumblingCountsOf(watermarked(events))

  /** Tumbling agg over an ALREADY-watermarked stream — compose after
    * [[watermarked]] / [[dedupEvents]]. */
  def tumblingCountsOf(watermarkedEvents: DataFrame): DataFrame =
    watermarkedEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding windows (length > slide → overlapping): each event lands in
    * length/slide windows, so state is that factor times the tumbling
    * case — still bounded by the watermark horizon. The batch twin is an
    * explode over the covering window starts (spec-locked equal). */
  def slidingCounts(events: DataFrame, length: String, slide: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** The standard 2-hour ingestion watermark. A chain defines its
    * watermark exactly ONCE (Spark rejects redefinition downstream), so
    * multi-stage stateful plans compose as
    * `tumblingCountsOf(dedupEvents(watermarked(events)))` — each stage
    * past this one must not call `withWatermark` again. */
  def watermarked(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events.withWatermark("ts", horizon)

  /** Dedup-on-ingest: drop replayed events by `event_id` within the
    * watermark horizon — the exactly-once guard an at-least-once
    * transport (Kafka replays, file-source redelivery) needs in front
    * of every downstream aggregate. `dropDuplicatesWithinWatermark`
    * keys state on event_id only and EXPIRES each key once the
    * watermark passes its event time, so state is bounded by horizon ×
    * ingest rate — a plain `dropDuplicates` would grow state with every
    * id ever seen and OOM an unbounded stream. A replay later than the
    * horizon is by definition late data the watermark already declared
    * droppable. Input must come through [[watermarked]]. */
  def dedupEvents(watermarkedEvents: DataFrame): DataFrame =
    watermarkedEvents.dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: every micro-batch joins the event
    * stream against a STATIC dimension frame (here `userDim(user_id,
    * segment)`, e.g. the customer table's market segment). The static
    * side is re-executed per micro-batch and broadcast when it fits,
    * and NO join state accrues (unlike stream-stream joins): the
    * static side is always fully available, making this the
    * unbounded-safe way to enrich. Note on dimension refresh: a
    * plain-parquet static frame resolves its FILE LISTING at planning
    * time, so new snapshot files behind the same path are NOT seen by
    * a running query — live refresh needs a re-listing table format
    * (e.g. Delta) as the static side, or `foreachBatch` re-creating
    * the dimension frame per batch. Left join keeps events whose key
    * is missing from the dimension (`segment` null) rather than
    * silently dropping them; the watermark passes through the join
    * untouched, so the downstream windowed aggregate stays bounded. */
  def enrichedCounts(events: DataFrame, userDim: DataFrame): DataFrame =
    watermarked(events)
      .join(broadcast(userDim), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment with PER-MICRO-BATCH dimension refresh —
    * the `foreachBatch` variant the [[enrichedCounts]] doc promises: a
    * plain-parquet static frame resolves its file listing at PLANNING
    * time, so a dimension snapshot overwritten while the query runs is
    * invisible to it; here the dimension is re-resolved by
    * `dimProvider()` inside every micro-batch, so an update lands in
    * the very next batch. The join itself is the same broadcast
    * left-join (stateless — no join state accrues), applied per batch;
    * `sink` receives each enriched micro-batch with its batch id (write
    * it, upsert it, feed a downstream aggregate — foreachBatch IS the
    * sink seam, so the windowed aggregation of [[enrichedCounts]]
    * belongs either upstream of this call or in the sink's consumer).
    *
    * Use [[parquetDimProvider]] for the common snapshot-path case — it
    * refreshes the path's cached file listing before each read, which
    * is what makes an overwritten snapshot actually visible. */
  def enrichedEventsRefreshing(events: DataFrame,
      dimProvider: () => DataFrame, joinKeys: Seq[String] = Seq("user_id"))
      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(batch.join(broadcast(dimProvider()), joinKeys, "left"), id)
    }

  /** Dimension provider over a parquet snapshot path that is
    * OVERWRITTEN between micro-batches: drops the session's cached
    * file listing for the path first, so each micro-batch sees the
    * snapshot as of its own start rather than the query's. */
  def parquetDimProvider(spark: SparkSession, path: String): () => DataFrame =
    () => {
      spark.catalog.refreshByPath(path)
      spark.read.parquet(path)
    }

  /** Stream-STREAM interval join — the join family stream-static
    * enrichment cannot cover: BOTH sides unbounded. Attributes each
    * click to the same user's views in the preceding `windowHours`
    * hours (strict `>` / inclusive `<=` edges — exactly batch q50's
    * stage-2 attribution predicate; the declared oracle-checked batch
    * twin is [[graft.jobs.EventQueries.q58AttributedClicks]]).
    *
    * State boundedness is the whole design: each side carries its own
    * watermark, and the join condition bounds event-time distance in
    * both directions (equi-key AND interval), which is what Spark
    * needs to derive a state-retention horizon per side — a buffered
    * view is dropped once the watermark passes `view_ts + window`, a
    * buffered click once it passes `click_ts`, so join state is
    * rate × (horizon + window), never stream-length. Inner join:
    * matched pairs emit as soon as both sides have arrived (append
    * mode), no watermark wait on the emit path. */
  def attributedClicks(events: DataFrame, horizon: String = "2 hours",
      windowHours: Int = 24): DataFrame =
    attributionJoin(events, horizon, windowHours, "inner")

  /** LEFT-OUTER stream-stream interval join — [[attributedClicks]]
    * plus the unmatched views: a view with NO click in its 24 h window
    * emits exactly once, with null click columns, after the watermark
    * passes the end of its attribution window (only then can Spark
    * prove no matching click can still arrive). The
    * conversion-dashboard shape: matched rows stream out immediately
    * (inner-join path), abandonment rows arrive with watermark delay —
    * an unbounded "which views never converted" without any batch
    * sweep. Same two-sided state bounds as the inner form; outer-side
    * state additionally holds each view until its window closes. The
    * declared oracle-checked batch twin is
    * [[graft.jobs.EventQueries.q59AttributedClicksOuter]]
    * (StreamingSpec pins this stream multiset-equal to it). */
  def attributedClicksOuter(events: DataFrame, horizon: String = "2 hours",
      windowHours: Int = 24): DataFrame =
    attributionJoin(events, horizon, windowHours, "left_outer")

  /** Shared body of the inner/left-outer attribution joins — ONE
    * definition of the predicate, watermark, and column set, so the
    * documented invariant "outer's matched rows == the inner relation"
    * can never drift from a one-sided edit. */
  private def attributionJoin(events: DataFrame, horizon: String,
      windowHours: Int, joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", horizon)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    views.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") > col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $windowHours HOURS"),
      joinType)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Gap-based sessions via session_window — the streaming twin of q15's
    * lag/cumsum formulation (same 30-minute inactivity gap). State per
    * open session only; watermark closes and emits sessions. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessions via `flatMapGroupsWithState` — the custom-state
    * primitive (SURVEY §2.10) for session logic `session_window` can't
    * express (per-session accumulators beyond count/sum, emit-on-close
    * semantics, side outputs). Sessions are emitted the moment a
    * same-user event closes them (arrives ≥ gap later); tail sessions
    * emit when the event-time watermark passes `end + gap` (the
    * `EventTimeTimeout`), so state is bounded by open sessions only —
    * exactly one [[OpenSession]] per active user, keyed and shuffled
    * once on user_id.
    *
    * Within a micro-batch the group's events are sorted by event time;
    * across batches the watermark bounds disorder (an event older than
    * an emitted session is a late arrival the watermark already
    * declared droppable). Same `>=` gap-edge rule as batch q15 /
    * [[sessionCounts]]. */
  def customSessions(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def us(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
    def inst(u: Long): Instant =
      Instant.ofEpochSecond(u / 1000000L, (u % 1000000L) * 1000L)
    def row(user: Long, s: OpenSession): SessionRow =
      SessionRow(user, inst(s.startUs), inst(s.endUs), s.n, s.sum)

    events.select($"user_id", $"ts", $"value").as[SessionEvent]
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed end+gap: nothing can reopen this session
            val out = state.getOption.map(row(user, _)).iterator
            state.remove()
            out
          } else {
            val evs = it.toArray.sortBy(e => (us(e.ts), e.user_id))
            var open = state.getOption
            val closed = List.newBuilder[SessionRow]
            evs.foreach { e =>
              val t = us(e.ts)
              open match {
                case Some(s) if t - s.endUs >= gapUs =>
                  closed += row(user, s)
                  open = Some(OpenSession(t, t, 1, e.value))
                case Some(s) =>
                  open = Some(OpenSession(s.startUs, math.max(s.endUs, t),
                    s.n + 1, s.sum + e.value))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // ms-granularity timeout clock: round up so the timeout
              // never fires a microsecond early
              state.setTimeoutTimestamp((s.endUs + gapUs) / 1000L + 1L)
            }
            closed.result().iterator
          }
      }
  }

  /** Run a streaming frame to completion against the bounded file source
    * and return the materialized result (memory sink, complete/append
    * chosen by the query shape). */
  def runToBatch(streamed: DataFrame, name: String, outputMode: String): DataFrame = {
    val q = streamed.writeStream
      .format("memory").queryName(name).outputMode(outputMode)
      .start()
    q.processAllAvailable()
    val out = streamed.sparkSession.table(name)
    q.stop()
    out
  }
}
