package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.EventQueries
import graft.operators.Dedup
import graft.streaming.{CorpusIngest, EventsStream}
import graft.operators.CoarseQuantizer.{Flat, TwoLevel}
import graft.operators.Similarity.MaintenanceMode.{Fragment, Retained}
import graft.operators.Similarity.PostingsSource

/** One Kafka record as the connector's v2 source would surface it —
  * same columns as [[EventsStream.kafkaWireSchema]]. */
case class KafkaWire(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: java.sql.Timestamp,
    timestampType: Int)

/** One streamed document for the corpus-ingest seam. */
case class DocRow(doc_id: Long, text: String)

/** One streamed embedding for the IVF-ingest seam. */
case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

class StreamingSpec extends AnyFunSuite with SparkSpec {

  private lazy val eventsDir = EventsStream.stageEventsDir(sf0001)

  /** Epoch-micros axis over the normalized (TIMESTAMP_NTZ) `ts` — naive
    * arithmetic, TZ-invariant. The staging harnesses split, bound, and
    * sentinel on this numeric twin whatever the snapshot's encoding. */
  private val tsUs = expr(
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
  private def ntzOfUs(usCol: String) = expr(
    s"timestampadd(MICROSECOND, $usCol, TIMESTAMP_NTZ '1970-01-01 00:00:00')")

  /** Batch-normalized events plus the `us` micros column. */
  private def eventsWithUs = Tables.load(spark, sf0001, "events")
    .withColumn("us", tsUs)

  /** Batch twin of the 24 h view→click attribution interval join over
    * sf0001: (views frame, matched (view_id, click_id) pair relation).
    * ONE definition shared by the inner, left-outer, and restart
    * stream-stream tests, so an edge change can't update only some. */
  private def batchAttribution = {
    import spark.implicits._
    val e = Tables.load(spark, sf0001, "events")
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"),
        $"ts".as("click_ts"))
    val pairs = v.join(c,
      $"user_id" === $"cu" && $"click_ts" > $"view_ts" &&
        $"click_ts" <= $"view_ts" + expr("INTERVAL 24 HOURS"))
      .select($"view_id", $"click_id")
    (v, pairs)
  }

  /** Batch q15 sessions as a comparable (no sess_id) frame. */
  private def batchSessions = {
    import spark.implicits._
    EventQueries.q15Sessionize(spark, sf0001)
      .select($"user_id", $"session_start", $"session_end",
        $"n_events", $"sum_value")
  }

  /** Drive [[EventsStream.customSessions]] over the sf0.001 events split
    * into `chunks` time-ordered files fed as separate micro-batches,
    * then flush tail sessions with two far-future sentinel batches
    * (user_id -1; the second one triggers the post-watermark-advance
    * batch in which event-time timeouts fire). Returns emitted sessions
    * for real users. */
  private def runCustomSessions(chunks: Int) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val raw = eventsWithUs
    val watched = tempDir(s"graft_fmgws_$chunks")

    def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
      val tmp = tempDir("graft_fmgws_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), watched.resolve(f"$seq%03d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    // time-ordered chunks so state carries sessions across batch seams
    val bounds =
      if (chunks <= 1) Array.empty[Double]
      else raw.stat.approxQuantile("us",
        (1 until chunks).map(_.toDouble / chunks).toArray, 0)
    val maxUs = raw.agg(max($"us")).as[Long].head()
    val dayUs = 24L * 3600 * 1000000L
    def sentinel(offset: Long) = Seq(
      (-1L, maxUs + offset * dayUs, -1L, "sentinel", 0.0, null: String))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", ntzOfUs("us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")

    val streamed = EventsStream.customSessions(
      EventsStream.readEvents(spark, watched.toString))
    val q = streamed.toDF().writeStream
      .format("memory").queryName(s"custom_sessions_$chunks")
      .outputMode("append").start()
    try {
      val lo = Long.MinValue +: bounds.map(_.toLong)
      val hi = bounds.map(_.toLong) :+ Long.MaxValue
      lo.zip(hi).zipWithIndex.foreach { case ((a, b), i) =>
        stage(raw.filter($"us" > a && $"us" <= b).drop("us"), i)
        q.processAllAvailable()
      }
      stage(sentinel(10), chunks)
      q.processAllAvailable()
      stage(sentinel(20), chunks + 1)
      q.processAllAvailable()
      spark.table(s"custom_sessions_$chunks")
        .filter($"user_id" >= 0)
        .select($"user_id",
          $"session_start".cast("timestamp_ntz").as("session_start"),
          $"session_end".cast("timestamp_ntz").as("session_end"),
          $"n_events", round($"sum_value", 4).as("sum_value"))
        .cache()
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions equal batch q15 (single batch + timeout flush)") {
    val streamed = runCustomSessions(1)
    val batch = batchSessions
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("flatMapGroupsWithState carries open sessions across micro-batch seams") {
    val streamed = runCustomSessions(3)
    val batch = batchSessions
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("flatMapGroupsWithState state survives a checkpointed stop/restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val raw = eventsWithUs
    val watched = tempDir("graft_fmgws_restart")
    val outDir = tempDir("graft_fmgws_out").toString
    val cpDir = tempDir("graft_fmgws_cp").toString

    def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
      val tmp = tempDir("graft_fmgws_rpart")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), watched.resolve(f"$seq%03d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    // durable (parquet) sink + checkpoint: the exactly-once pair the
    // memory-sink tests can't exercise
    def startQuery() = EventsStream.customSessions(
      EventsStream.readEvents(spark, watched.toString)).toDF()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", cpDir)
      .outputMode("append").start()

    val mid = raw.stat.approxQuantile("us", Array(0.5), 0)(0).toLong
    val maxUs = raw.agg(max($"us")).as[Long].head()
    val dayUs = 24L * 3600 * 1000000L
    def sentinel(offset: Long) = Seq(
      (-1L, maxUs + offset * dayUs, -1L, "sentinel", 0.0, null: String))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", ntzOfUs("us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")

    // first half, then HARD STOP mid-stream
    val q1 = startQuery()
    stage(raw.filter($"us" <= mid).drop("us"), 0)
    q1.processAllAvailable()
    q1.stop()

    // restart from the checkpoint: open sessions must resume from
    // recovered GroupState, not restart from empty
    val q2 = startQuery()
    stage(raw.filter($"us" > mid).drop("us"), 1)
    q2.processAllAvailable()
    stage(sentinel(10), 2)
    q2.processAllAvailable()
    stage(sentinel(20), 3)
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(outDir)
      .filter($"user_id" >= 0)
      .select($"user_id",
        $"session_start".cast("timestamp_ntz").as("session_start"),
        $"session_end".cast("timestamp_ntz").as("session_end"),
        $"n_events", round($"sum_value", 4).as("sum_value"))
    val batch = batchSessions
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0,
      "restart emitted sessions not in the batch truth (dupes or splits)")
    assert(batch.exceptAll(streamed).count() == 0,
      "restart lost sessions (state not recovered)")
  }

  test("streaming tumbling windows equal the batch q16 result") {
    import spark.implicits._
    val streamed = EventsStream.runToBatch(
      EventsStream.tumblingCounts(EventsStream.readEvents(spark, eventsDir)),
      "tumbling_test", "complete")
      .select($"window_start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n_events", $"sum_value")
    val batch = EventQueries.q16TumblingWindow(spark, sf0001)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-static enrichment join equals the batch join (no join state)") {
    import spark.implicits._
    val dim = spark.read.parquet(s"$sf0001/customer.parquet")
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val streamed = EventsStream.runToBatch(
      EventsStream.enrichedCounts(
        EventsStream.readEvents(spark, eventsDir), dim),
      "enriched_test", "complete")
      .select($"window_start".cast("timestamp_ntz").as("window_start"),
        $"segment", $"n_events", $"sum_value")
    val batch = Tables.load(spark, sf0001, "events")
      .join(dim, Seq("user_id"), "left")
      .groupBy(window($"ts", "1 hour"), $"segment")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .select($"window.start".cast("timestamp_ntz").as("window_start"),
        $"segment", $"n_events", $"sum_value")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("file stream ingests appended files incrementally; watermark drops late rows") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    // the seam Kafka can't exercise here: a file LANDING mid-query must
    // emit only the new rows, and a row older than the watermark horizon
    // must vanish instead of corrupting an already-emitted window
    val raw = eventsWithUs
    val watched = tempDir("graft_incr")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft_incr_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), watched.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val maxUs = raw.agg(max($"us")).as[Long].head()
    val hourUs = 3600L * 1000000L
    // late: 4 h before the corpus max — its hour window finalized long
    // before, under the 2-hour watermark. fresh: 1 h after the max —
    // advances the watermark but its own window stays open.
    def sentinelRow(id: Long, us: Long, tpe: String, v: Double) =
      Seq((id, us, -1L, tpe, v, null: String))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select($"event_id", ntzOfUs("us").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
    val late = sentinelRow(-10L, maxUs - 4 * hourUs, "late_type", 100.0)
    val fresh = sentinelRow(-11L, maxUs + hourUs, "fresh_type", 1.0)

    stage(raw.drop("us"), "001.parquet")
    val agg = EventsStream.tumblingCounts(
      EventsStream.readEvents(spark, watched.toString))
    val q = agg.writeStream.format("memory").queryName("incr_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val phase1 = spark.table("incr_test")
        .select($"window_start", $"event_type", $"n_events").collect()
        .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(phase1.nonEmpty, "append sink empty after first file — " +
        "watermark-finalized windows should have emitted")

      stage(late.unionByName(fresh), "002.parquet")
      q.processAllAvailable()
      val phase2 = spark.table("incr_test")
        .select($"window_start", $"event_type", $"n_events").collect()
        .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
      // append-mode invariant: a window emits exactly once — the late
      // arrival must not produce a second row for its (emitted) window
      assert(phase2.map(_._1).distinct.length === phase2.length,
        "duplicate window rows: a late arrival re-emitted a closed window")
      assert(!phase2.exists(_._1._2 == "late_type"),
        "row older than the watermark horizon must be dropped")
      assert(!phase2.exists(_._1._2 == "fresh_type"),
        "an open window must not emit before the watermark passes it")
      // the watermark advance from the fresh row finalizes more windows:
      // strictly new rows only, phase-1 rows untouched
      assert(phase2.length > phase1.size, "no incremental emission")
      phase1.foreach { case (k, n) =>
        assert(phase2.toMap.get(k).contains(n), s"phase-1 row $k changed")
      }
    } finally q.stop()
  }

  test("streaming sliding windows equal the declared batch q43") {
    import spark.implicits._
    // 1-hour windows sliding every 30 minutes: every event belongs to 2
    // windows — the batch side is the oracle-checked q43, so this pins
    // stream == declared query == DuckDB oracle in one chain
    val streamed = EventsStream.runToBatch(
      EventsStream.slidingCounts(
        EventsStream.readEvents(spark, eventsDir), "1 hour", "30 minutes"),
      "sliding_test", "complete")
      .select($"window_start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n_events", $"sum_value")
    val batch = EventQueries.q43SlidingWindow(spark, sf0001)
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("kafka decode seam: MemoryStream wire records drive the same tumbling plan as the file source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/events.parquet")

    // producer side: encode each event as the JSON value bytes of a
    // Kafka record, with broker metadata deliberately junk (wrong
    // broker timestamp, one topic-partition) — event time must come
    // from the payload alone
    val values = EventsStream.kafkaValueJson(raw).as[String].collect()
    val brokerTs = new java.sql.Timestamp(0L)
    val wireRows = values.zipWithIndex.map { case (json, i) =>
      KafkaWire(null, json.getBytes("UTF-8"), "events", 0, i.toLong,
        brokerTs, 0)
    }

    val ms = MemoryStream[KafkaWire](spark)
    assert(ms.toDF().schema.fields.toSeq.map(f => (f.name, f.dataType)) ==
      EventsStream.kafkaWireSchema.fields.toSeq.map(f => (f.name, f.dataType)),
      "test double drifted from the declared Kafka wire schema")
    ms.addData(wireRows.toIndexedSeq)

    val decoded = EventsStream.decodeKafkaEvents(ms.toDF())
    assert(decoded.schema ==
      EventsStream.readEvents(spark, eventsDir).schema,
      "kafka decode must produce the file-source schema (source-agnostic contract)")

    val streamed = EventsStream.runToBatch(
      EventsStream.tumblingCounts(decoded), "kafka_tumbling", "complete")
      .select($"window_start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n_events", $"sum_value")
    val batch = EventQueries.q16TumblingWindow(spark, sf0001)
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("dedup-on-ingest absorbs replayed wire records (at-least-once transport)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val values = EventsStream.kafkaValueJson(raw).as[String].collect()
    val brokerTs = new java.sql.Timestamp(0L)
    def wire(json: String, off: Long) =
      KafkaWire(null, json.getBytes("UTF-8"), "events", 0, off, brokerTs, 0)

    val ms = MemoryStream[KafkaWire](spark)
    val agg = EventsStream.tumblingCountsOf(EventsStream.dedupEvents(
      EventsStream.watermarked(EventsStream.decodeKafkaEvents(ms.toDF()))))
    val q = agg.writeStream.format("memory").queryName("dedup_tumbling")
      .outputMode("complete").start()
    try {
      ms.addData(values.zipWithIndex.map { case (j, i) =>
        wire(j, i.toLong) }.toIndexedSeq)
      q.processAllAvailable()
      // an at-least-once transport redelivers every 5th record in a
      // LATER micro-batch (new offsets, same payloads): the dedup state
      // must absorb them without double-counting any window
      ms.addData(values.zipWithIndex.collect { case (j, i) if i % 5 == 0 =>
        wire(j, 100000L + i) }.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("dedup_tumbling")
        .select($"window_start".cast("timestamp_ntz").as("window_start"),
          $"event_type", $"n_events", $"sum_value")
      val batch = EventQueries.q16TumblingWindow(spark, sf0001)
      assert(streamed.count() == batch.count(),
        s"streamed ${streamed.count()} vs batch ${batch.count()}")
      assert(streamed.exceptAll(batch).count() == 0,
        "replays double-counted into a window")
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch pair relation and q50 stage-2") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val values = EventsStream.kafkaValueJson(raw).as[String].collect()
    val brokerTs = new java.sql.Timestamp(0L)
    val ms = MemoryStream[KafkaWire](spark)
    ms.addData(values.zipWithIndex.map { case (j, i) =>
      KafkaWire(null, j.getBytes("UTF-8"), "events", 0, i.toLong,
        brokerTs, 0) }.toIndexedSeq)

    val streamed = EventsStream.runToBatch(
      EventsStream.attributedClicks(
        EventsStream.decodeKafkaEvents(ms.toDF())),
      "ss_join_test", "append")
      .select($"user_id", $"view_id", $"click_id",
        $"view_ts".cast("timestamp_ntz").as("view_ts"))
      .cache()

    // batch twin: same attribution predicate over the batch loader
    val (v, batchPairs) = batchAttribution
    val streamedPairs = streamed.select($"view_id", $"click_id")
    assert(streamedPairs.count() > 0)
    assert(streamedPairs.exceptAll(batchPairs).count() == 0,
      "stream-stream join emitted pairs the batch join does not have")
    assert(batchPairs.exceptAll(streamedPairs).count() == 0,
      "stream-stream join lost pairs (state dropped too early?)")

    // q50 stage-2 pin: users whose click attributes to their FIRST view
    // = users at funnel depth >= 2 in the declared (oracle-green) q50
    val firstView = v.groupBy($"user_id").agg(min($"view_ts").as("tv"))
    val streamedS2 = streamed.join(firstView, "user_id")
      .filter($"view_ts" === $"tv")
      .select($"user_id").distinct().count()
    val batchS2 = EventQueries.q50Funnel(spark, sf0001)
      .filter($"funnel_stage" >= 2)
      .agg(sum($"n_users")).as[Long].head()
    assert(streamedS2 === batchS2,
      s"stage-2 users: streamed $streamedS2 vs q50 $batchS2")
  }

  test("left-outer stream-stream join emits unmatched views exactly once after watermark close") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val values = EventsStream.kafkaValueJson(raw).as[String].collect()
    val brokerTs = new java.sql.Timestamp(0L)
    def wire(json: String, off: Long) =
      KafkaWire(null, json.getBytes("UTF-8"), "events", 0, off, brokerTs, 0)
    // far-future sentinels (user -1, match no real event) on BOTH event
    // types: the global watermark is the MIN of the two per-side
    // watermarks, so a click alone would leave the view side behind —
    // both must advance for every real view's 24 h window to close and
    // the outer side to release its null rows
    // sentinel frames carry raw-nanos long ts — exercising
    // kafkaValueJson's legacy branch while the corpus frames above took
    // the NTZ branch (both reduce to the same ts_us wire field)
    val maxNs = raw.agg(max(tsUs)).as[Long].head() * 1000L
    val dayNs = 24L * 3600 * 1000000000L
    def sentinelJson(offsetDays: Long): Seq[String] = EventsStream.kafkaValueJson(
      Seq((-1L, maxNs + offsetDays * dayNs, -1L, "click", 0.0, null: String),
        (-2L, maxNs + offsetDays * dayNs, -1L, "view", 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .as[String].collect().toSeq

    val ms = MemoryStream[KafkaWire](spark)
    val joined = EventsStream.attributedClicksOuter(
      EventsStream.decodeKafkaEvents(ms.toDF()))
    val q = joined.writeStream.format("memory").queryName("ss_outer_test")
      .outputMode("append").start()
    try {
      ms.addData(values.zipWithIndex.map { case (j, i) =>
        wire(j, i.toLong) }.toIndexedSeq)
      q.processAllAvailable()
      ms.addData(sentinelJson(30).zipWithIndex.map { case (j, i) =>
        wire(j, 900000L + i) }.toIndexedSeq)
      q.processAllAvailable()
      ms.addData(sentinelJson(40).zipWithIndex.map { case (j, i) =>
        wire(j, 910000L + i) }.toIndexedSeq)
      q.processAllAvailable()

      val out = spark.table("ss_outer_test").filter($"user_id" >= 0).cache()

      // pin against the DECLARED (oracle-green) batch twin: the streamed
      // outer relation must be multiset-equal to q59 on (view, click) —
      // this subsumes matched == inner pairs, every unmatched view
      // emitting its null row exactly once, and no view doing both
      val batchOuter = EventQueries
        .q59AttributedClicksOuter(spark, sf0001)
        .select($"view_id", $"click_id")
      val streamedPairs = out.select($"view_id", $"click_id")
      assert(streamedPairs.exceptAll(batchOuter).count() == 0,
        "streamed outer rows not in the declared q59 relation")
      assert(batchOuter.exceptAll(streamedPairs).count() == 0,
        "declared q59 rows missing from the streamed outer relation")

      // matched rows are also the inner relation (outer ⊇ inner contract)
      val (_, inner) = batchAttribution
      val matched = out.filter($"click_id".isNotNull)
        .select($"view_id", $"click_id")
      assert(matched.exceptAll(inner).count() == 0)
      assert(inner.exceptAll(matched).count() == 0)
    } finally q.stop()
  }

  test("foreachBatch enrichment picks up a dimension overwrite between micro-batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // the seam the enrichedCounts doc promises: a plain-parquet static
    // freezes its file listing at planning time, so only the
    // re-resolving foreachBatch variant can see a snapshot overwrite
    // that lands while the query runs
    val dimPath = tempDir("graft_dim_refresh").toString
    Seq((1L, "segA")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(dimPath)
    val ms = MemoryStream[Long](spark)
    val events = ms.toDF().withColumnRenamed("value", "user_id")
    val got = scala.collection.mutable.ListBuffer.empty[(Long, Long, String)]
    val q = EventsStream.enrichedEventsRefreshing(events,
        EventsStream.parquetDimProvider(spark, dimPath)) { (batch, id) =>
      val rows = batch.select($"user_id", $"segment").collect()
        .map(r => (id, r.getLong(0), r.getString(1)))
      got.synchronized { got ++= rows }
    }.start()
    try {
      ms.addData(1L)
      q.processAllAvailable()
      // dimension snapshot overwritten BETWEEN micro-batches
      Seq((1L, "segB")).toDF("user_id", "segment")
        .write.mode("overwrite").parquet(dimPath)
      ms.addData(1L)
      q.processAllAvailable()
      val byBatch = got.synchronized(got.sortBy(_._1).toVector)
      assert(byBatch.size == 2, s"expected 2 enriched rows, got $byBatch")
      assert(byBatch.head._3 == "segA",
        s"first batch must see the original dimension: $byBatch")
      assert(byBatch.last._3 == "segB",
        s"second batch must see the overwritten dimension: $byBatch")
    } finally q.stop()
  }

  test("stream-stream join edge semantics: window edges, orphans, shared clicks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val hourNs = 3600L * 1000000000L
    val usNs = 1000L
    val t0 = 1700000000L * 1000000000L
    // user 1: one view; clicks 1 µs after (match), exactly +24 h
    // (inclusive edge -> match), +24 h + 1 µs (out), 1 µs BEFORE the
    // view (strict > edge -> out)
    // user 2: two views 1 h apart share one click inside both windows
    //         -> the click pairs with BOTH views
    // user 3: click with no view at all -> never emits
    val rows = Seq(
      (100L, t0, 1L, "view", 0.0, null: String),
      (101L, t0 + usNs, 1L, "click", 0.0, null: String),
      (102L, t0 + 24 * hourNs, 1L, "click", 0.0, null: String),
      (103L, t0 + 24 * hourNs + usNs, 1L, "click", 0.0, null: String),
      (104L, t0 - usNs, 1L, "click", 0.0, null: String),
      (200L, t0, 2L, "view", 0.0, null: String),
      (201L, t0 + hourNs, 2L, "view", 0.0, null: String),
      (202L, t0 + 2 * hourNs, 2L, "click", 0.0, null: String),
      (300L, t0, 3L, "click", 0.0, null: String)
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val brokerTs = new java.sql.Timestamp(0L)
    val wires = EventsStream.kafkaValueJson(rows).as[String].collect()
      .zipWithIndex.map { case (j, i) =>
        KafkaWire(null, j.getBytes("UTF-8"), "events", 0, i.toLong,
          brokerTs, 0) }.toIndexedSeq
    val ms = MemoryStream[KafkaWire](spark)
    ms.addData(wires)
    val got = EventsStream.runToBatch(
      EventsStream.attributedClicks(EventsStream.decodeKafkaEvents(ms.toDF())),
      "ss_edge_test", "append")
      .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(got === Set((100L, 101L), (100L, 102L),
      (200L, 202L), (201L, 202L)))
  }

  test("stream-stream join state survives a checkpointed stop/restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val raw = eventsWithUs
    val watched = tempDir("graft_ssj_restart")
    val outDir = tempDir("graft_ssj_out").toString
    val cpDir = tempDir("graft_ssj_cp").toString
    def stage(df: org.apache.spark.sql.DataFrame, seq: Int): Unit = {
      val tmp = tempDir("graft_ssj_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), watched.resolve(f"$seq%03d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def startQuery() = EventsStream.attributedClicks(
      EventsStream.readEvents(spark, watched.toString))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", cpDir)
      .outputMode("append").start()

    // first half of the corpus, then HARD STOP: views buffered in join
    // state whose clicks arrive in the second half can only pair up if
    // the restarted query recovers that state from the checkpoint
    val mid = raw.stat.approxQuantile("us", Array(0.5), 0)(0).toLong
    val q1 = startQuery()
    stage(raw.filter($"us" <= mid).drop("us"), 0)
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery()
    stage(raw.filter($"us" > mid).drop("us"), 1)
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(outDir)
      .filter($"click_id".isNotNull).select($"view_id", $"click_id")
    val (_, inner) = batchAttribution
    assert(streamed.exceptAll(inner).count() == 0,
      "restart emitted pairs the batch join does not have (dupes)")
    assert(inner.exceptAll(streamed).count() == 0,
      "restart lost pairs (join state not recovered across the seam)")
  }

  test("stream-stream join state is evicted by the watermark (bounded, not stream-length)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // four identical waves of view/click traffic, each 3 days after the
    // last: if join state were never evicted the buffered row count
    // would grow with every wave (4x one wave by the end); watermark
    // eviction must cap it near steady state instead
    val hourNs = 3600L * 1000000000L
    val dayNs = 24L * hourNs
    val base = 1700000000L * 1000000000L
    def wave(waveIdx: Int) = {
      val b = base + waveIdx * 3 * dayNs
      (0 until 50).flatMap { i =>
        val ts = b + i * (hourNs / 50)
        val id = waveIdx * 1000L + 2L * i
        Seq((id, ts, i.toLong % 10, "view", 1.0, null: String),
          (id + 1, ts + 60L * 1000000000L, i.toLong % 10, "click", 1.0,
            null: String))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    val brokerTs = new java.sql.Timestamp(0L)
    def asWire(df: org.apache.spark.sql.DataFrame, offBase: Long) =
      EventsStream.kafkaValueJson(df).as[String].collect().zipWithIndex
        .map { case (j, i) =>
          KafkaWire(null, j.getBytes("UTF-8"), "events", 0, offBase + i,
            brokerTs, 0) }.toIndexedSeq

    val ms = MemoryStream[KafkaWire](spark)
    val q = EventsStream.attributedClicks(
      EventsStream.decodeKafkaEvents(ms.toDF()))
      .writeStream.format("memory").queryName("ss_state_test")
      .outputMode("append").start()
    try {
      val perWave = (0 until 4).map { w =>
        ms.addData(asWire(wave(w), w * 10000L))
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      val fed = 4L * 100L
      // waves 0/1 are older than (watermark - 24 h window) by the time
      // wave 3 lands — their buffered rows must be gone
      assert(perWave.last < fed * 6 / 10,
        s"state after 4 waves = ${perWave.last} of $fed rows fed — " +
          s"watermark eviction is not running (history: $perWave)")
      // and the join still works across the whole run
      assert(spark.table("ss_state_test").count() > 0)
    } finally q.stop()
  }

  test("streaming session counts match the batch q15 sessionization") {
    import spark.implicits._
    val streamed = EventsStream.runToBatch(
      EventsStream.sessionCounts(EventsStream.readEvents(spark, eventsDir)),
      "sessions_test", "complete")
      .select($"session_start".cast("timestamp_ntz").as("session_start"),
        $"user_id", $"n_events", $"sum_value")
    val batch = EventQueries.q15Sessionize(spark, sf0001)
      .select($"session_start", $"user_id", $"n_events", $"sum_value")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming dedup ingest equals sequential batch ingest rounds") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._

    val all = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val seed = all.filter($"doc_id" < 250)
    val b1 = all.filter($"doc_id" >= 250 && $"doc_id" < 375)
      .as[DocRow].collect().toIndexedSeq
    val b2 = all.filter($"doc_id" >= 375).as[DocRow].collect().toIndexedSeq

    val idxPath = tempDir("graft_ingest_idx").toString
    val corpusPath = tempDir("graft_ingest_corpus")
      .resolve("kept").toString
    Dedup.minhashBandIndex(seed, k = 5, numHashes = 32, bands = 8)
      .write.mode("overwrite").parquet(idxPath)

    val ms = MemoryStream[DocRow](spark)
    val q = CorpusIngest.parquetDedupIngest(
      ms.toDF(), idxPath, corpusPath, threshold = 0.6).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      // crash-recovery shape: the same micro-batch re-delivered verbatim
      // must be absorbed (its kept ids are in the index, its dropped
      // docs re-drop against the docs that out-kept them)
      ms.addData(b1); q.processAllAvailable()
    } finally q.stop()

    // batch-side truth: two sequential ingest rounds over the same splits
    val idx0 = Dedup.minhashBandIndex(seed, k = 5, numHashes = 32, bands = 8)
    val (k1, idx1) = Dedup.nearDupIngestRound(
      b1.toDF().select($"doc_id", $"text"), idx0, 0.6)
    val (k2, idx2) = Dedup.nearDupIngestRound(
      b2.toDF().select($"doc_id", $"text"), idx1, 0.6)
    val wantKept = (k1.select($"doc_id").as[Long].collect() ++
      k2.select($"doc_id").as[Long].collect()).sorted.toSeq
    assert(wantKept.nonEmpty && wantKept.size < (b1.size + b2.size),
      "fixture should drop some near-dups and keep some docs")

    val gotCorpus = spark.read.parquet(corpusPath)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(gotCorpus == wantKept,
      "streamed corpus must equal the sequential batch kepts, exactly once")
    val gotIndex = spark.read.parquet(idxPath)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val wantIndex = idx2.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(gotIndex == wantIndex,
      "rolled-forward index must equal the batch-side union index")
  }

  test("releasing a localCheckpoint frees its blocks without the " +
      "truncated-lineage WARN: retained recap and streaming sink") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    import graft.operators.Similarity
    import spark.implicits._

    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 8, seed = 42L,
      trainFraction = 0.5)
    val ivf = tempDir("graft_ckpt_ivf").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(
      emb.filter($"vec_id" % 2 === 0), Flat(model), cellCap = 16), ivf)
    val all = Tables.load(spark, sf0001, "documents").select($"doc_id", $"text")
    val idxPath = tempDir("graft_ckpt_idx").toString
    Dedup.minhashBandIndex(all.filter($"doc_id" < 250), 5, 32, 8)
      .write.mode("overwrite").parquet(idxPath)

    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-ckpt-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rddLog = ctx.getConfiguration
      .getLoggerConfig("org.apache.spark.rdd.MapPartitionsRDD")
    // the RDDs a localCheckpoint persisted, by the call site they carry
    val checkpointed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.flatMap(_.rddInfos).foreach { r =>
          if (r.callSite.startsWith("localCheckpoint at")) checkpointed.add(r.id)
        }
    }
    val sc = spark.sparkContext
    rddLog.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    sc.addSparkListener(listener)
    try {
      Similarity.appendIvfPostings(spark, ivf, Flat(model),
        emb.filter($"vec_id" % 2 === 1), Retained)
      val ms = MemoryStream[DocRow](spark)
      val q = CorpusIngest.parquetDedupIngest(ms.toDF(), idxPath,
        tempDir("graft_ckpt_corpus").resolve("kept").toString,
        threshold = 0.6).start()
      try {
        ms.addData(all.filter($"doc_id" >= 250).as[DocRow].collect().toSeq)
        q.processAllAvailable()
      } finally q.stop()
      jobsDuring(()) // drains the listener bus
    } finally {
      sc.removeSparkListener(listener)
      rddLog.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val truncated = logged.asScala.filter(_.contains("lineage has been truncated"))
    assert(truncated.isEmpty, truncated.mkString("\n"))
    val ids = checkpointed.asScala.toSet
    assert(ids.size >= 2, s"expected the recap's and the sink's checkpoints: $ids")
    assert(ids.forall(id => !sc.getPersistentRDDs.contains(id)),
      s"checkpoint blocks still persisted: ${ids.filter(sc.getPersistentRDDs.contains)}")
  }

  test("streaming exact dedup ingest rolls corpus, bloom, and index forward") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._

    val all = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val seed = all.filter($"doc_id" < 250)
    val seedTexts = seed.orderBy($"doc_id").limit(2)
      .as[DocRow].collect()
    // batch 1: novel docs + a seed re-ingest + a within-batch dup pair
    val novel1 = all.filter($"doc_id" >= 250 && $"doc_id" < 300)
      .as[DocRow].collect()
    val b1 = (novel1 :+ DocRow(9001L, seedTexts(0).text) :+
      DocRow(9002L, "a fresh streamed doc") :+
      DocRow(9003L, "a fresh streamed doc")).toIndexedSeq
    // batch 2: more novel + a copy of a batch-1 keep (must drop against
    // the ROLLED-FORWARD artifacts) + another seed re-ingest
    val novel2 = all.filter($"doc_id" >= 300 && $"doc_id" < 350)
      .as[DocRow].collect()
    val b2 = (novel2 :+ DocRow(9004L, "a fresh streamed doc") :+
      DocRow(9005L, seedTexts(1).text)).toIndexedSeq

    val idxPath = tempDir("graft_ex_ingest_idx").toString
    val bloomPath = tempDir("graft_ex_ingest_bloom").toString
    val corpusPath = tempDir("graft_ex_ingest_corpus")
      .resolve("kept").toString
    val idx0 = Dedup.exactHashIndex(seed)
    idx0.write.mode("overwrite").parquet(idxPath)
    Dedup.exactIndexBloom(idx0, expectedItems = 10000)
      .write.mode("overwrite").parquet(bloomPath)

    val ms = MemoryStream[DocRow](spark)
    val q = CorpusIngest.parquetExactDedupIngest(
      ms.toDF(), idxPath, bloomPath, corpusPath).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      // exact dedup is idempotent by content: a verbatim re-delivery
      // must drop everything against the rolled-forward artifacts
      ms.addData(b1); q.processAllAvailable()
    } finally q.stop()

    // batch-side truth: two sequential screened rounds
    val k1 = Dedup.dedupAgainstIndex(b1.toDF(), idx0)
    val idx1 = idx0.union(Dedup.exactHashIndex(k1)).distinct()
    val k2 = Dedup.dedupAgainstIndex(b2.toDF(), idx1)
    val wantKept = (k1.select($"doc_id").as[Long].collect() ++
      k2.select($"doc_id").as[Long].collect()).sorted.toSeq
    assert(wantKept.contains(9002L) && !wantKept.contains(9001L) &&
      !wantKept.contains(9003L) && !wantKept.contains(9004L) &&
      !wantKept.contains(9005L), s"fixture shape broke: $wantKept")

    val gotCorpus = spark.read.parquet(corpusPath)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(gotCorpus == wantKept,
      "streamed corpus must equal sequential screened rounds, replay absorbed")
    // index holds exactly the distinct content hashes seen so far
    val wantHashes = Dedup.exactHashIndex(seed.unionByName(b1.toDF())
      .unionByName(b2.toDF()))
      .as[String].collect().sorted.toSeq
    assert(spark.read.parquet(idxPath).as[String].collect().sorted.toSeq
      == wantHashes)
    // and the rolled-forward bloom still screens correctly for a fresh
    // batch of one old + one new doc
    val probe = Seq(DocRow(9100L, "a fresh streamed doc"),
      DocRow(9101L, "never seen before text")).toDF()
    val keptProbe = Dedup.dedupAgainstIndexScreened(probe,
      spark.read.parquet(idxPath), spark.read.parquet(bloomPath))
    assert(keptProbe.select($"doc_id").as[Long].collect().toSet ==
      Set(9101L))
  }

  test("exact ingest stream keeps a manifest-carrying index true (no silent staleness)") {
    // the r17 protocol seam, closed: a stream pointed at a
    // saveExactIndex-BUILT artifact (manifest sidecar present) must
    // roll the manifest forward with each micro-batch's delta — the
    // old raw mode("append") staled the sidecar WITHOUT tripping the
    // dirty flag, so a later readExactIndex (manifest-planned, zero
    // listings) silently missed the appended hashes and let duplicates
    // pass the screen.
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.operators.ArtifactManifest

    val all = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val seed = all.filter($"doc_id" < 250)
    val b1 = (all.filter($"doc_id" >= 250 && $"doc_id" < 300)
      .as[DocRow].collect() :+ DocRow(9002L, "a fresh streamed doc"))
      .toIndexedSeq

    val idxPath = tempDir("graft_ex_manifest_idx")
      .resolve("index").toString
    val bloomPath = tempDir("graft_ex_manifest_bloom")
      .toString
    val corpusPath = tempDir("graft_ex_manifest_corpus")
      .resolve("kept").toString
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), idxPath, files = 2)
    Dedup.exactIndexBloom(Dedup.readExactIndex(spark, idxPath),
      expectedItems = 10000).write.mode("overwrite").parquet(bloomPath)
    assert(ArtifactManifest.readClean(spark, idxPath,
      "exact_hash_index").nonEmpty, "precondition: manifest-carrying")

    val ms = MemoryStream[DocRow](spark)
    val q = CorpusIngest.parquetExactDedupIngest(
      ms.toDF(), idxPath, bloomPath, corpusPath).start()
    try { ms.addData(b1); q.processAllAvailable() } finally q.stop()

    // the manifest still equals directory truth (not staled)...
    val st = ArtifactManifest.readClean(spark, idxPath,
      "exact_hash_index")
    assert(st.nonEmpty, "the stream must leave the sidecar clean")
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val truth = fs.listStatus(new org.apache.hadoop.fs.Path(idxPath))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => (f.getPath.getName, f.getLen)).toSet
    assert(st.get.files.map(e => (e.file, e.bytes)).toSet == truth,
      "manifest must equal directory truth after the streamed append")

    // ...so the manifest-planned screen equals the discovering screen:
    // a re-delivery of the batch's kept doc must DROP on both routes
    val probe = Seq(DocRow(9100L, "a fresh streamed doc"),
      DocRow(9101L, "never seen before text")).toDF()
    val viaManifest = Dedup.dedupAgainstIndex(probe,
      Dedup.readExactIndex(spark, idxPath))
      .select($"doc_id").as[Long].collect().toSet
    spark.catalog.refreshByPath(idxPath)
    val viaListing = Dedup.dedupAgainstIndex(probe,
      spark.read.parquet(idxPath))
      .select($"doc_id").as[Long].collect().toSet
    assert(viaManifest == viaListing && viaManifest == Set(9101L),
      s"manifest screen $viaManifest must equal discovering $viaListing")
  }

  test("streaming embedding ingest rolls the IVF postings forward per batch") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    import spark.implicits._

    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 8, seed = 42L,
      trainFraction = 0.5)
    val seed = emb.filter($"vec_id" % 3 === 0)
    def embRows(pred: org.apache.spark.sql.Column) =
      emb.filter(pred).as[EmbRow].collect().toIndexedSeq
    val b1 = embRows($"vec_id" % 3 === 1)
    val b2 = embRows($"vec_id" % 3 === 2)

    val path = tempDir("graft_emb_ingest").toString
    val p0 = Similarity.ivfPostings(seed, Flat(model), cellCap = 16)
    Similarity.saveIvfPostings(p0, path)

    val ms = MemoryStream[EmbRow](spark)
    val q = CorpusIngest.embeddingIngest(ms.toDF(), Flat(model), path,
      Retained).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable() // replay converges
    } finally q.stop()

    val p1 = Similarity.appendToIvfPostings(p0, Flat(model), b1.toDF())
    val want = Similarity.appendToIvfPostings(p1, Flat(model), b2.toDF())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Similarity.readPostings(spark, path)) == rows(want),
      "streamed postings must equal sequential batch appends, replay absorbed")
    // the rolled-forward artifact still serves
    val served = Similarity.ivfTopKFromPostings(
      emb.limit(20), Flat(model),
      PostingsSource.Frame(Similarity.readPostings(spark, path)), probes = 4,
      k = 3)
    assert(served.count() > 0)
  }

  test("streaming embedding ingest at the two-level posture equals batch appends") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    import spark.implicits._

    // grouped (hierarchical-fit) index, shallow groupProbes — the
    // 2¹⁴⁺-cells posture scaled down: per-batch assignment rides the
    // two-level kernel and must land the exact state the batch-API
    // grouped appends land, replay absorbed
    val emb = Tables.load(spark, sf0001, "embeddings")
    val gcs = Similarity.fitIvfHierarchical(emb, numGroups = 4,
      cellsPerGroup = 4, trainFraction = 0.5)
    val gp = 2
    val seed = emb.filter($"vec_id" % 3 === 0)
    def embRows(pred: org.apache.spark.sql.Column) =
      emb.filter(pred).as[EmbRow].collect().toIndexedSeq
    val b1 = embRows($"vec_id" % 3 === 1)
    val b2 = embRows($"vec_id" % 3 === 2)

    val path = tempDir("graft_emb_ingest_2l").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, TwoLevel(gcs, gp), cellCap = 16), path)

    val ms = MemoryStream[EmbRow](spark)
    val q = CorpusIngest.embeddingIngest(ms.toDF(), TwoLevel(gcs, gp), path,
      Retained)
      .start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable() // replay converges
    } finally q.stop()

    val batchPath = tempDir("graft_emb_batch_2l").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, TwoLevel(gcs, gp), cellCap = 16), batchPath)
    Similarity.appendIvfPostings(spark, batchPath, TwoLevel(gcs, gp),
      b1.toDF(), Retained)
    Similarity.appendIvfPostings(spark, batchPath, TwoLevel(gcs, gp),
      b2.toDF(), Retained)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.readPostings(spark, batchPath)),
      "streamed grouped postings must equal sequential batch appends")
    // and the artifact serves through the grouped route
    val served = Similarity.ivfTopKFromPostings(emb.limit(20), TwoLevel(gcs, gp),
      PostingsSource.Frame(Similarity.readPostings(spark, path)), probes = 4,
      k = 3)
    assert(served.count() > 0)
  }

  test("retained streaming ingest serves an open snapshot through each trigger") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    import spark.implicits._

    // the SERVE-WHILE-INGEST seam: per-trigger retained recap — a
    // reader's snapshot survives the trigger that lands after it (one
    // epoch of retention), and the stream converges to the rebuild
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 8, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val seed = emb.filter($"vec_id" % 3 === 0)
    def embRows(pred: org.apache.spark.sql.Column) =
      emb.filter(pred).as[EmbRow].collect().toIndexedSeq
    val b1 = embRows($"vec_id" % 3 === 1)
    val b2 = embRows($"vec_id" % 3 === 2)

    val path = tempDir("graft_emb_ingest_ret").toString
    val p0 = Similarity.ivfPostings(seed, Flat(model), cellCap = 16)
    Similarity.saveIvfPostings(p0, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet

    val snap0 = Similarity.readPostings(spark, path)
    val want0 = rows(spark.read.parquet(path))

    val ms = MemoryStream[EmbRow](spark)
    val q = CorpusIngest.embeddingIngest(ms.toDF(), Flat(cents), path, Retained)
      .start()
    try {
      ms.addData(b1); q.processAllAvailable()
      // the pre-stream snapshot serves THROUGH the trigger that
      // superseded its files
      assert(rows(snap0) == want0,
        "a pre-trigger snapshot must serve through a retained trigger")
      val p1 = Similarity.appendToIvfPostings(p0, Flat(model), b1.toDF())
      assert(rows(Similarity.readPostings(spark, path)) == rows(p1))
      // a snapshot re-resolved once per trigger interval also survives
      // the NEXT trigger (whose vacuum clears only the epoch before it)
      val snap1 = Similarity.readPostings(spark, path)
      val want1 = rows(snap1)
      ms.addData(b2); q.processAllAvailable()
      assert(rows(snap1) == want1,
        "a per-trigger-refreshed snapshot must survive the next trigger")
      ms.addData(b1); q.processAllAvailable() // replay converges
      val want = Similarity.appendToIvfPostings(p1, Flat(model), b2.toDF())
      assert(rows(Similarity.readPostings(spark, path)) == rows(want),
        "retained streamed postings must equal sequential appends, replay absorbed")
    } finally q.stop()

    // closing the windows on the now-quiesced artifact: the retained
    // ops deliberately keep the newest epoch's tombstones (the window
    // law), so quiescence closes via the STANDALONE vacuum — after it,
    // plain discovering reads come back clean
    Similarity.compactIvfPostingsRetained(spark, path)
    Similarity.vacuumPostings(spark, path, retentionEpochs = 0L)
    spark.catalog.refreshByPath(path)
    assert(rows(spark.read.parquet(path)) ==
      rows(Similarity.readPostings(spark, path)))
  }

  test("fragment-mode streaming ingest compacts to the from-scratch build") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    import spark.implicits._

    // the high-frequency posture: per-trigger O(batch) fragment appends,
    // a REPLAYED micro-batch double-appends (unlike the recap seams),
    // and compaction folds the artifact to exactly the from-scratch
    // rows — compact-before-serve is the seam's documented contract
    val emb = Tables.load(spark, sf0001, "embeddings")
    def embRows(pred: org.apache.spark.sql.Column) =
      emb.filter(pred).as[EmbRow].collect().toIndexedSeq
    val seed = emb.filter($"vec_id" % 3 === 0)
    val b1 = embRows($"vec_id" % 3 === 1)
    val b2 = embRows($"vec_id" % 3 === 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet

    // flat artifact through the exact-assignment fragment seam
    val model = Similarity.fitIvfIndex(emb, numCells = 8, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val flatPath = tempDir("graft_emb_frag").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(model), cellCap = 16), flatPath)
    val msF = MemoryStream[EmbRow](spark)
    val qF = CorpusIngest.embeddingIngest(msF.toDF(), Flat(cents),
      flatPath, Fragment).start()
    try {
      msF.addData(b1); qF.processAllAvailable()
      msF.addData(b2); qF.processAllAvailable()
      msF.addData(b1); qF.processAllAvailable() // at-least-once redelivery
    } finally qF.stop()
    val beforeF = spark.read.parquet(flatPath)
    assert(beforeF.count() >
      beforeF.dropDuplicates(Seq("cell", "cand_id")).count(),
      "replayed micro-batch must double-append between compactions")
    // COMPACT WHILE SERVING: a consumer that opened its snapshot while
    // the stream was still fragmenting is NOT interrupted by the
    // maintenance that folds it — compactIvfPostingsRetained tombstones
    // the superseded fragments instead of deleting them, so the
    // pre-compaction snapshot serves through the fold and only a
    // re-opened reader sees the compacted (= from-scratch) state. This
    // upgrades the seam's contract from compact-BEFORE-serve to
    // compact-DURING-serve for manifest-resolved readers.
    val servingSnapshot = Similarity.readPostings(spark, flatPath)
    val fragmentedRows = rows(beforeF)
    assert(Similarity.compactIvfPostingsRetained(spark, flatPath)._1 > 0)
    assert(rows(servingSnapshot) == fragmentedRows,
      "open snapshot must serve through the overlapped compaction")
    assert(rows(Similarity.readPostings(spark, flatPath)) ==
      rows(Similarity.ivfPostings(emb, Flat(model), cellCap = 16)),
      "compacted fragment-mode stream must equal the from-scratch build")
    // a follow-up retained pass PRESERVES the newest window (the
    // uniform age-law) — the snapshot still serves — and quiescence
    // then closes via the standalone vacuum; plain reads come back clean
    assert(Similarity.compactIvfPostingsRetained(spark, flatPath)._1 == 0)
    assert(rows(servingSnapshot) == fragmentedRows,
      "open snapshot must survive the no-op retained pass too")
    val (droppedF, _) = Similarity.vacuumPostings(spark, flatPath,
      retentionEpochs = 0L)
    assert(droppedF > 0)
    spark.catalog.refreshByPath(flatPath)
    assert(rows(spark.read.parquet(flatPath)) ==
      rows(Similarity.ivfPostings(emb, Flat(model), cellCap = 16)))

    // two-level artifact through the grouped fragment seam (assignment
    // rides the artifact's own embedded iv_gp)
    val gcs = Similarity.fitIvfHierarchical(emb, numGroups = 4,
      cellsPerGroup = 4, trainFraction = 0.5)
    val gp = 2
    val path2l = tempDir("graft_emb_frag_2l").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, TwoLevel(gcs, gp), cellCap = 16), path2l)
    val msG = MemoryStream[EmbRow](spark)
    val qG = CorpusIngest.embeddingIngest(msG.toDF(), TwoLevel(gcs, gp),
      path2l, Fragment).start()
    try {
      msG.addData(b1); qG.processAllAvailable()
      msG.addData(b2); qG.processAllAvailable()
      msG.addData(b1); qG.processAllAvailable() // redelivery
    } finally qG.stop()
    assert(Similarity.compactIvfPostings(spark, path2l)._1 > 0)
    assert(rows(spark.read.parquet(path2l)) ==
      rows(Similarity.ivfPostings(emb, TwoLevel(gcs, gp), cellCap = 16)),
      "compacted grouped fragment-mode stream must equal the two-level rebuild")
  }

  /** Row groups in `dir` whose text_hash [min,max] could contain a
    * probe, summed over probes — the footer-statistics census behind
    * the point-lookup claim: under a range-sorted layout a pushed IN
    * predicate prunes to ~1 row group per probe; after many appended
    * delta files (each spanning the full hash range) every group is a
    * candidate for every probe and pushdown prunes nothing. */
  private def hashRowGroupCandidates(dir: String, probes: Seq[String]): Int = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try r.getFooter.getBlocks.asScala.map { block =>
          val st = block.getColumns.asScala
            .find(_.getPath.toDotString == "text_hash").get.getStatistics
          val mn = st.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          val mx = st.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          probes.count(p => p >= mn && p <= mx)
        }.sum
        finally r.close()
      }.sum
  }

  test("fragment-mode streaming ingest of the CODED (PQ) artifact " +
      "compacts to the from-scratch build and serves from the artifact") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    import spark.implicits._

    val emb = Tables.load(spark, sf0001, "embeddings")
    def embRows(pred: org.apache.spark.sql.Column) =
      emb.filter(pred).as[EmbRow].collect().toIndexedSeq
    val seed = emb.filter($"vec_id" % 3 === 0)
    val b1 = embRows($"vec_id" % 3 === 1)
    val b2 = embRows($"vec_id" % 3 === 2)
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id", graft.functions.VectorOps.asDouble($"embedding"))
      .orderBy($"vec_id")
      .as[(Long, Seq[Double])].collect().map(_._2.toArray)
    val codec = graft.operators.PostingsCodec.Pq(Similarity
      .pqCodebooksFromHead(emb, m = 8, k = 16, residual = Some(Flat(cents))))
    val cs = codec.cs
    val path = tempDir("graft_emb_frag_pq").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(cents), cellCap = 16, codec), path,
      codec)
    val ms = MemoryStream[EmbRow](spark)
    val q = CorpusIngest.embeddingIngest(ms.toDF(), Flat(cents), path,
      Fragment).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable() // at-least-once redelivery
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell".cast("int"), $"cand_id", $"codes",
          org.apache.spark.sql.functions.round($"d2", 4))
        .as[(Int, Long, Seq[Int], Double)].collect().toSet
    val before = spark.read.parquet(path)
    assert(before.count() >
      before.dropDuplicates(Seq("cell", "cand_id")).count(),
      "replayed micro-batch must double-append between compactions")
    // replay rows are EXACT duplicates (codes deterministic per
    // (vector, home cell)) — the fold converges to the from-scratch
    // coded build; compact-before-serve is the seam's contract
    assert(Similarity.compactIvfPostings(spark, path)._1 > 0)
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.ivfPostings(emb, Flat(cents), cellCap = 16, codec)),
      "compacted PQ fragment stream must equal the from-scratch build")
    // and the steady-state serve runs off the maintained artifact
    val centTable = emb.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"),
        graft.functions.VectorOps.asDouble($"embedding").as("centroid"))
    val queries = emb.filter($"vec_id" < 10)
    val got = Similarity.rerankExactL2(emb, queries,
      Similarity.ivfTopKFromPostings(queries, Flat(cents),
        PostingsSource.Classic(path), probes = 2, k = 5), k = 3)
      .select($"vec_id", $"neighbor_id", $"d2", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Similarity.ivfPqTopKWithCentroids(
      emb, $"vec_id" < 10, centTable, cs,
      probes = 2, k = 3, fetch = 5, cellCap = 16)
      .select($"vec_id", $"neighbor_id", $"d2", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want,
      "artifact serve after streamed maintenance != transient route")
  }

  test("compactParquet restores point-lookup row-group pruning after many ingest deltas") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._

    val all = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val seed = all.filter($"doc_id" < 100)
    val idxPath = tempDir("graft_compact_idx").toString
    val bloomPath = tempDir("graft_compact_bloom").toString
    val corpusPath = tempDir("graft_compact_corpus")
      .resolve("kept").toString
    val idx0 = Dedup.exactHashIndex(seed)
    // the saveSorted zone-map layout, directly to the watched directory
    idx0.repartitionByRange(2, $"text_hash").sortWithinPartitions("text_hash")
      .write.mode("overwrite").parquet(idxPath)
    Dedup.exactIndexBloom(idx0, expectedItems = 10000)
      .write.mode("overwrite").parquet(bloomPath)

    // six micro-batches of novel docs: each appends a hash delta whose
    // files span the full md5 range — the small-file debt every
    // append-mode sink accrues
    val ms = MemoryStream[DocRow](spark)
    val q = CorpusIngest.parquetExactDedupIngest(
      ms.toDF(), idxPath, bloomPath, corpusPath).start()
    try (0 until 6).foreach { i =>
      ms.addData(all.filter($"doc_id" >= 100 + i * 50 &&
        $"doc_id" < 150 + i * 50).as[DocRow].collect().toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    // eight evenly-spaced index hashes as point probes (deterministic)
    val allHashes = spark.read.parquet(idxPath)
      .orderBy($"text_hash").as[String].collect()
    val probes = (0 until 8).map(i => allHashes(i * allHashes.length / 8))
    assert(probes.distinct.size == 8, "census needs distinct probes")
    val before = hashRowGroupCandidates(idxPath, probes)
    // every delta file spans ~the full range, so each probe is a
    // candidate in (almost) every file — pushdown prunes nothing
    assert(before >= probes.size * 3,
      s"expected the blurred layout to multi-match, census=$before")

    // the maintenance pass under test: fold + restore the sorted layout
    val (nBefore, nAfter, _) = graft.sources.WarehouseWriter.compactParquet(
      spark, idxPath, targetFileBytes = 8L << 10, sortCol = Some("text_hash"))
    assert(nBefore > nAfter && nAfter >= 2,
      s"compaction should fold $nBefore files into fewer ($nAfter)")
    val after = hashRowGroupCandidates(idxPath, probes)
    assert(after == probes.size,
      s"sorted layout must match exactly one row group per probe, got $after")

    // and the stream keeps going against the compacted artifacts: a
    // seventh batch (one replayed text + one novel) screens identically
    val keptTexts = spark.read.parquet(corpusPath).select($"text")
      .as[String].take(1)
    val b7 = IndexedSeq(DocRow(99001L, keptTexts(0)),
      DocRow(99002L, "post-compaction novel doc"))
    val q2 = CorpusIngest.parquetExactDedupIngest(
      ms.toDF(), idxPath, bloomPath, corpusPath).start()
    try { ms.addData(b7); q2.processAllAvailable() } finally q2.stop()
    val late = spark.read.parquet(corpusPath)
      .filter($"doc_id" >= 99000L).select($"doc_id").as[Long].collect().toSet
    assert(late == Set(99002L),
      s"post-compaction screen must drop the dup and keep the novel: $late")
  }

  test("ingest artifact growth is proportional to the batch, not the index") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._

    def dirBytes(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }

    val all = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val idxPath = tempDir("graft_growth_idx").toString
    val corpusPath = tempDir("graft_growth_corpus")
      .resolve("kept").toString
    Dedup.minhashBandIndex(all.filter($"doc_id" < 50), k = 5,
      numHashes = 32, bands = 8).write.mode("overwrite").parquet(idxPath)

    // four equal-size batches: if each round APPENDED its delta, the
    // per-round byte growth stays ~flat while the index grows 5× — a
    // rewrite-per-round sink would instead add bytes ∝ the ever-larger
    // index (round 4 would cost ~4× round 1)
    val ms = MemoryStream[DocRow](spark)
    val q = CorpusIngest.parquetDedupIngest(
      ms.toDF(), idxPath, corpusPath, threshold = 0.6).start()
    val grew = try (0 until 4).map { i =>
      val b0 = dirBytes(idxPath)
      ms.addData(all.filter($"doc_id" >= 50 + i * 100 &&
        $"doc_id" < 150 + i * 100).as[DocRow].collect().toIndexedSeq)
      q.processAllAvailable()
      dirBytes(idxPath) - b0
    } finally q.stop()

    assert(grew.forall(_ > 0), s"every round must append its delta: $grew")
    // flat within parquet-encoding noise: the last (biggest-index)
    // round must not cost multiples of the first — the signature a
    // rewrite-the-index sink cannot fake
    assert(grew.max.toDouble / grew.min < 2.5,
      s"per-round growth must track the batch, not the index: $grew")
    // and the deltas are real: the rolled-forward artifact equals the
    // band index built from scratch over everything kept so far
    val fromScratch = Dedup.minhashBandIndex(
      all.filter($"doc_id" < 50).unionByName(
        spark.read.parquet(corpusPath).select($"doc_id", $"text")),
      k = 5, numHashes = 32, bands = 8)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", explode($"bk").as("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keyset(spark.read.parquet(idxPath)) == keyset(fromScratch))
  }

  test("explicit emptyDirEncoding lets an instants producer start before its first file") {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import spark.implicits._
    // a stream started against an EMPTY directory has no footer to
    // peek, so the producer's encoding must be declared: a UTC-instant
    // (TimestampType) producer whose first file lands after stream
    // start would otherwise be read with the default NTZ schema
    // mid-stream. The fixture encodes the same instants as the legacy
    // nanos twin, so the streamed micros must match the batch load of
    // the same file exactly. (Spark's file source itself rejects a
    // NOT-YET-CREATED path at query start, so empty-but-existing is
    // the earliest a stream can start.)
    val parent = tempDir("graft_declared_enc")
    val watched = parent.resolve("incoming")
    Files.createDirectory(watched) // empty at stream start
    val stream = EventsStream.readEvents(spark, watched.toString,
      emptyDirEncoding = org.apache.spark.sql.types.TimestampType)
    val q = stream.selectExpr("event_id", "unix_micros(ts) AS us")
      .writeStream.format("memory").queryName("declared_enc_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("declared_enc_test").count() == 0)
      // first file lands AFTER start
      val res = getClass.getResourceAsStream("/events_utc_instants.parquet")
      Files.copy(res, watched.resolve("000.parquet")); res.close()
      q.processAllAvailable()
      val streamed = spark.table("declared_enc_test")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch twin over the same file (staged in the <table>.parquet
      // layout Tables.load expects)
      val batchDir = tempDir("graft_declared_enc_batch")
      Files.copy(watched.resolve("000.parquet"),
        batchDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val batch = Tables.load(spark, batchDir.toString, "events")
        .selectExpr("event_id",
          """timestampdiff(MICROSECOND,
             TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS us""")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} rows must equal the batch load")
      Files.delete(batchDir.resolve("events.parquet")); Files.delete(batchDir)
    } finally {
      q.stop()
      if (Files.exists(watched)) {
        Files.list(watched).forEach((p: Path) => Files.delete(p))
        Files.delete(watched)
      }
      Files.delete(parent)
    }
  }

  /** The hostile-payload fixture: two clean records and five corruption
    * classes a real broker can deliver. Shared by the three policy
    * tests so a class can't be pinned under one policy and forgotten
    * under another. */
  private def hostileWire: (Seq[KafkaWire], Seq[KafkaWire]) = {
    val brokerTs = new java.sql.Timestamp(0L)
    def rec(value: Array[Byte], off: Long) =
      KafkaWire(null, value, "events", 0, off, brokerTs, 0)
    val clean = Seq(
      rec(("""{"event_id":1,"ts_us":3600000000,"user_id":7,""" +
        """"event_type":"view","value":1.5,"props":"{}"}""").getBytes("UTF-8"), 0),
      // optional fields absent is LEGAL — a metric-less event
      rec("""{"event_id":2,"ts_us":7200000000,"user_id":8,"event_type":"click"}"""
        .getBytes("UTF-8"), 1))
    val corrupt = Seq(
      // tombstone: null value bytes
      rec(null, 2),
      // non-UTF8 bytes: cast(string) mangles, from_json cannot parse
      rec(Array(0xC3.toByte, 0x28.toByte, 0xFF.toByte, 0xFE.toByte), 3),
      // truncated JSON (producer crash mid-write / max.message length)
      rec("""{"event_id":5,"ts_us":36000""".getBytes("UTF-8"), 4),
      // schema drift: required field fails type coercion
      rec("""{"event_id":6,"ts_us":"noon","user_id":9,"event_type":"view"}"""
        .getBytes("UTF-8"), 5),
      // schema drift: required field missing entirely
      rec("""{"event_id":7,"user_id":10,"event_type":"view","value":2.0}"""
        .getBytes("UTF-8"), 6))
    (clean, corrupt)
  }

  test("hostile kafka payloads: quarantine policy audits every corruption class") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val (clean, corrupt) = hostileWire
    val ms = MemoryStream[KafkaWire](spark)
    ms.addData((clean ++ corrupt).toIndexedSeq)
    val out = EventsStream.runToBatch(
      EventsStream.decodeKafkaEventsAudited(ms.toDF()), "kafka_audited",
      "append")

    // schema contract: file-source schema plus the quarantine column
    assert(out.drop("_corrupt_record").schema ==
      EventsStream.readEvents(spark, eventsDir).schema)

    assert(out.count() == (clean ++ corrupt).size,
      "quarantine accounts for every broker record")
    val good = out.filter($"_corrupt_record".isNull)
    assert(good.select($"event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(good.filter($"event_id" === 1L)
      .select($"value").as[Double].head() == 1.5)
    // optional-absent record decodes with null metric, not quarantined
    assert(good.filter($"event_id" === 2L)
      .select($"value").isEmpty || good.filter($"event_id" === 2L)
      .select($"value").head().isNullAt(0))

    val bad = out.filter($"_corrupt_record".isNotNull)
    assert(bad.count() == corrupt.size,
      s"every corruption class quarantined: got ${bad.count()}")
    // corrupt rows carry NO typed values — the quarantine column is the
    // single source of truth for "bad"
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      .foreach { c =>
        assert(bad.filter(col(c).isNotNull).count() == 0,
          s"corrupt rows must null out $c")
      }
    // the payload survives byte-exact through base64 — the non-UTF8
    // record is exactly what a string column could NOT have carried
    val b64 = bad.select($"_corrupt_record").as[String].collect().toSet
    val nonUtf8 = java.util.Base64.getEncoder.encodeToString(
      Array(0xC3.toByte, 0x28.toByte, 0xFF.toByte, 0xFE.toByte))
    assert(b64.contains(nonUtf8), "non-UTF8 payload must round-trip")
    assert(b64.contains(""), "null value bytes audit as the empty record")
  }

  test("hostile kafka payloads: drop policy forwards only clean records") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val (clean, corrupt) = hostileWire
    val ms = MemoryStream[KafkaWire](spark)
    ms.addData((clean ++ corrupt).toIndexedSeq)
    val out = EventsStream.runToBatch(
      EventsStream.decodeKafkaEvents(ms.toDF()), "kafka_dropped", "append")
    assert(out.schema == EventsStream.readEvents(spark, eventsDir).schema)
    assert(out.select($"event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L),
      "drop policy: clean records pass, no all-null rows leak downstream")
  }

  test("hostile kafka payloads: strict policy fails the batch on the first bad record") {
    import spark.implicits._
    val (clean, corrupt) = hostileWire
    // clean-only wire decodes identically to the drop policy
    val cleanDf = spark.createDataset(clean).toDF()
    val strictClean = EventsStream.decodeKafkaEventsStrict(cleanDf)
    assert(strictClean.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // each corruption class individually kills the job — poison-pill by
    // design: FAILFAST for parse failures, the woven assert for the
    // classes that parse "successfully" to null
    corrupt.foreach { w =>
      val df = spark.createDataset(Seq(w)).toDF()
      val e = intercept[Exception] {
        EventsStream.decodeKafkaEventsStrict(df).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("Malformed") || msgs.contains("corrupt kafka"),
        s"offset ${w.offset}: unexpected failure $msgs")
    }
  }

  test("strict policy survives column pruning: guard fires even when " +
      "event_id is pruned away") {
    import spark.implicits._
    val (clean, corrupt) = hostileWire
    // the guard is woven into EVERY column, so a downstream plan that
    // selects only (ts, user_id) — pruning event_id and its assert —
    // must still fail on each corruption class instead of silently
    // degrading to null-passthrough
    corrupt.foreach { w =>
      val df = spark.createDataset(Seq(w)).toDF()
      val e = intercept[Exception] {
        EventsStream.decodeKafkaEventsStrict(df)
          .select($"ts", $"user_id").collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("Malformed") || msgs.contains("corrupt kafka"),
        s"offset ${w.offset}: pruned projection lost the guard ($msgs)")
    }
    // and a clean wire still decodes under the pruned projection
    val cleanDf = spark.createDataset(clean).toDF()
    assert(EventsStream.decodeKafkaEventsStrict(cleanDf)
      .select($"user_id").as[Long].collect().length == clean.length)
  }
}
