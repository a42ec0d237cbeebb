package graft.streaming

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Dedup, Similarity}

/** Streaming corpus ingest with incremental near-dup dedup — the
  * [[Dedup.nearDupIngestRound]] pipeline lifted onto Structured
  * Streaming. Each micro-batch of documents screens against the
  * persisted MinHash band-key index, keeps the novel rows, and rolls
  * the index forward by its DELTA only — so a corpus that arrives as a
  * stream (crawler output, firehose dumps) dedups continuously at
  * cost ∝ micro-batch, exactly like the batch ingest rounds.
  *
  * The reference ingests on a monthly-dump cadence
  * (docker/aact/Dockerfile:20-22, db2wh-etl.sh:31-60); this is the same
  * station of the pipeline when the cadence shrinks to minutes.
  *
  * Delivery semantics: `foreachBatch` re-delivers a micro-batch after a
  * crash, so every round first drops batch ids the index already holds
  * (the crashed run's ingested rows) — a full replay becomes a no-op
  * instead of tripping the fresh-id check. The seen-id probe uses the
  * same double-broadcast shape as the bloom screen: batch ids broadcast
  * INTO a single-column index scan, survivors broadcast back — the
  * index is never shuffled by the guard.
  */
object CorpusIngest {

  /** The generic seam: screen each micro-batch, hand `(kept rows,
    * index delta, batchId)` to `sink`. The sink decides atomicity —
    * plain parquet gets [[parquetDedupIngest]]'s ordering contract; a
    * transactional table format can commit both frames atomically.
    *
    * `indexProvider` re-resolves the index EVERY micro-batch (the
    * [[EventsStream.parquetDimProvider]] pattern), so the delta the
    * sink appended for batch N is visible to the screen of batch N+1 —
    * that read-your-own-writes loop is what makes the stream equal to
    * sequential batch ingest rounds (StreamingSpec pins it).
    *
    * `kept` arrives MATERIALIZED (localCheckpoint): by the time the
    * sink runs, nothing re-reads the index the sink is about to
    * append to. */
  def dedupIngestStream(docStream: DataFrame, indexProvider: () => DataFrame,
      threshold: Double)(
      sink: (DataFrame, DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch { (batch0: DataFrame, id: Long) =>
      // a foreachBatch frame re-reads its source files on EVERY action;
      // the replay guard + screen + verify + delta consume it several
      // times over (IngestBench measured 6 source scans per trigger
      // unpersisted), so pin the batch once for the round
      val batch = batch0.persist()
      try {
        val index = indexProvider()
        val seen = index.select(col("doc_id"))
          .join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        val fresh = batch.join(broadcast(seen), Seq("doc_id"), "left_anti")
        val (kept0, _) = Dedup.nearDupIngestRound(fresh, index, threshold)
        val kept = kept0.localCheckpoint(true)
        try sink(kept, Dedup.minhashIndexDelta(index, kept), id)
        finally GraftColumnBridge.unpersistLocalCheckpoint(kept)
      } finally batch.unpersist()
    }

  /** Streaming EXACT dedup ingest — [[dedupIngestStream]]'s sibling for
    * the content-hash index family: each micro-batch screens through
    * [[Dedup.dedupAgainstIndexScreened]] (bloom route + point-lookup
    * pushdown), keeps only novel content, and hands the sink the three
    * artifacts to roll forward. No replay guard is needed here — exact
    * dedup is idempotent BY CONTENT: a re-delivered micro-batch's kept
    * rows hash-match the index that already absorbed them and drop on
    * their own.
    *
    * `sink` receives `(kept, indexDelta, bloomNext, batchId)`:
    * `indexDelta` is just the kept rows' hashes (novel by construction,
    * so the index update is a pure append), `bloomNext` the rolled-
    * forward one-row bloom artifact. Write order matters — see
    * [[parquetExactDedupIngest]]. */
  def exactDedupIngestStream(docStream: DataFrame,
      indexProvider: () => DataFrame, bloomProvider: () => DataFrame)(
      sink: (DataFrame, DataFrame, DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch { (batch0: DataFrame, id: Long) =>
      val batch = batch0.persist() // same re-read pin as dedupIngestStream
      try {
        val index = indexProvider()
        val bloom = bloomProvider()
        val kept = Dedup.dedupAgainstIndexScreened(batch, index, bloom)
          .localCheckpoint(true)
        // the screen keeps one row per hash, so the kept rows' hashes
        // are distinct as they stand: no distinct (and no shuffle) here
        try sink(kept, Dedup.textHashes(kept),
          Dedup.appendToExactBloom(bloom, kept), id)
        finally GraftColumnBridge.unpersistLocalCheckpoint(kept)
      } finally batch.unpersist()
    }

  /** Parquet convenience sink for the exact family: kept docs append to
    * `corpusPath`, the bloom artifact overwrites `bloomPath`, the hash
    * delta appends to `indexPath` — IN THAT ORDER, and the order is the
    * correctness argument: the bloom must summarize every index row
    * ([[Dedup.exactIndexBloom]]'s contract), so it is made a SUPERSET
    * first (extra bloom hashes only cost false positives) and the index
    * catches up after. A crash in any window re-delivers the batch;
    * rows whose index write landed drop by content, rows whose write
    * didn't re-keep — so the corpus can repeat a kept row (same
    * content, new id — one [[Dedup.exact]] pass downstream folds them)
    * but never loses one, and a duplicate can never slip past a bloom
    * that lags its index. Bootstrap both artifacts before starting:
    * `exactHashIndex` + `exactIndexBloom` over the seed corpus (or an
    * empty frame).
    *
    * The bloom rewrite itself is the one non-append write, and a plain
    * `mode("overwrite")` deletes-then-writes — a crash inside that
    * window would strand the artifact missing/partial and fail the
    * restart's non-empty check BEFORE the ordering argument above even
    * applies. It therefore rides
    * [[graft.sources.WarehouseWriter.overwriteParquetAtomic]] (durable
    * sibling tmp, then swap), and the bloom provider runs
    * [[graft.sources.WarehouseWriter.recoverSwap]] first so a crash in
    * the swap's own delete→install window self-heals on restart. (The
    * manual fallback, should both copies ever be lost: rebuild with
    * `exactIndexBloom` over the index — the bloom is always derivable
    * from it.) */
  def parquetExactDedupIngest(docStream: DataFrame, indexPath: String,
      bloomPath: String, corpusPath: String): DataStreamWriter[Row] = {
    val spark = docStream.sparkSession
    val readBloom = EventsStream.parquetDimProvider(spark, bloomPath)
    exactDedupIngestStream(docStream,
      EventsStream.parquetDimProvider(spark, indexPath),
      () => {
        graft.sources.WarehouseWriter.recoverSwap(spark, bloomPath)
        readBloom()
      }) {
      (kept, delta, bloomNext, _) =>
        kept.write.mode("append").parquet(corpusPath)
        graft.sources.WarehouseWriter.overwriteParquetAtomic(bloomNext, bloomPath)
        // through the staged manifest protocol, NOT a raw append: a
        // stream pointed at a saveExactIndex-built artifact must keep
        // the sidecar true — a plain mode("append") staled it WITHOUT
        // tripping the dirty flag, so a later readExactIndex silently
        // missed the appended hashes (duplicates passing the screen).
        // Manifest-less bootstrap artifacts take the same call's plain-
        // append branch, unchanged behavior.
        Dedup.appendExactIndexDeltaFrame(spark, indexPath, delta)
    }
  }

  /** Streaming EMBEDDING ingest — the third artifact family on the
    * same seam: each micro-batch of `(vec_id, embedding, label)` rows
    * rolls the cell-partitioned IVF postings directory forward via
    * [[Similarity.appendIvfPostingsInPlace]] (frozen centroids,
    * touched-cell partition overwrite, cost ∝ batch + touched cells).
    * Crash re-deliveries CONVERGE — the recap dedups on
    * (cell, cand_id), so replaying a micro-batch reproduces the same
    * directory state (the property the in-place spec pins). Bootstrap
    * `postingsPath` with [[Similarity.saveIvfPostings]] over the seed
    * corpus (or an empty frame) using the model this stream will run;
    * retrain + rebuild when drift erodes recall (the IvfSweep knee is
    * the signal), exactly as a batch deployment would. */
  def embeddingIngest(embStream: DataFrame, model: KMeansModel,
      postingsPath: String): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist() // same re-read pin as the dedup seams
      try Similarity.appendIvfPostingsInPlace(batch.sparkSession,
        postingsPath, model, batch)
      finally batch.unpersist()
    }

  /** [[embeddingIngest]] at the 2¹⁴⁺-cells posture: the per-batch home
    * assignment rides the two-level kernel (O(groups + probed members)
    * per row instead of O(cells) — the term that dominates a 16 384-cell
    * append), against a [[Similarity.ivfPostingsTwoLevel]]-built
    * artifact whose embedded `groupProbes` this stream must match
    * (checksum + gp validated per batch). Same convergence contract as
    * the exact seam — the recap dedups on (cell, cand_id), so a
    * replayed micro-batch reproduces the same directory state. */
  def embeddingIngestGrouped(embStream: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet, postingsPath: String,
      groupProbes: Int): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist()
      try Similarity.appendIvfPostingsInPlaceGrouped(batch.sparkSession,
        postingsPath, gcs, batch, groupProbes)
      finally batch.unpersist()
    }

  /** [[embeddingIngest]] in FRAGMENT mode — the high-frequency
    * trigger posture: each micro-batch is home-assigned and APPENDED
    * (one file per touched cell, no recap), so per-trigger cost is
    * ∝ batch alone where the recap seam pays ∝ the touched cells' full
    * populations. The LSM debts transfer from the batch route intact
    * and one is SHARPER here: a checkpoint-recovery REPLAY of a
    * micro-batch double-appends (the recap seams absorb it), and the
    * duplicates only fold at the next [[Similarity.compactIvfPostings]]
    * — so under at-least-once delivery this seam's serving contract is
    * compact-before-serve, and the recap seam stays the default for
    * always-serveable artifacts. Run compaction between triggers or on
    * a maintenance cadence (cost ∝ fragmented cells, measured in
    * CompactBench). */
  def embeddingIngestFragment(embStream: DataFrame,
      cents: Array[Array[Double]],
      postingsPath: String): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist()
      try Similarity.appendIvfPostingsFragment(batch.sparkSession,
        postingsPath, cents, batch)
      finally batch.unpersist()
    }

  /** Fragment-mode ingest for the PERSISTED PQ (coded) postings
    * artifact — [[embeddingIngestFragment]]'s economics over
    * [[Similarity.appendIvfPqPostingsFragment]]: each micro-batch is
    * assigned AND residual-encoded under the artifact's own frozen
    * centroids + codebook sidecar (one manifest read + one sidecar
    * read per trigger, no data head), landed as one file per touched
    * cell. The at-least-once posture transfers intact: a
    * checkpoint-recovery replay double-appends EXACT duplicate rows
    * (codes are deterministic per (vector, home cell)), folded by the
    * next [[Similarity.compactIvfPqPostings]] — compact-before-serve,
    * same as the flat fragment seam. */
  def embeddingIngestFragmentPq(embStream: DataFrame,
      cents: Array[Array[Double]],
      postingsPath: String): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist()
      try Similarity.appendIvfPqPostingsFragment(batch.sparkSession,
        postingsPath, cents, batch)
      finally batch.unpersist()
    }

  /** Fragment-mode ingest for TWO-LEVEL-built artifacts — O(batch)
    * writes AND O(groups + probed members) per-row assignment, riding
    * the artifact's own embedded `iv_gp` (one assignment law per
    * artifact life, validated per batch). Same compact-before-serve
    * contract as [[embeddingIngestFragment]]. */
  def embeddingIngestFragmentGrouped(embStream: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet,
      postingsPath: String): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist()
      try Similarity.appendIvfPostingsFragmentGrouped(batch.sparkSession,
        postingsPath, gcs, batch)
      finally batch.unpersist()
    }

  /** SERVE-WHILE-INGEST — [[embeddingIngest]] under the tombstone
    * contract ([[Similarity.appendIvfPostingsRetained]]): each
    * micro-batch's recap lands as new files with the superseded ones
    * retired in the manifest, so a query path holding a
    * [[Similarity.readPostings]] snapshot keeps serving its own
    * consistent state through every trigger — the live-index shape,
    * where the recap seam swaps files under an in-flight reader and
    * the fragment seam serves replay duplicates until compaction.
    * Requires the artifact's manifest clean (per-batch fallback is the
    * classic in-place recap — convergence identical, isolation not
    * claimed); replayed micro-batches converge by the recap's
    * (cell, cand_id) dedup exactly as the in-place seam's do. Retention
    * is one epoch: each trigger vacuums the previous trigger's
    * tombstones, so a reader should re-resolve (re-open) at least once
    * per trigger interval or it may outlive its files — the same
    * contract Delta readers have under VACUUM. */
  def embeddingIngestRetained(embStream: DataFrame,
      cents: Array[Array[Double]],
      postingsPath: String): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist()
      try Similarity.appendIvfPostingsRetained(batch.sparkSession,
        postingsPath, cents, batch)
      finally batch.unpersist()
    }

  /** [[embeddingIngestRetained]] for two-level-built artifacts (the
    * assignment law rides the embedded `iv_gp`). */
  def embeddingIngestRetainedGrouped(embStream: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet,
      postingsPath: String): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist()
      try Similarity.appendIvfPostingsRetainedGrouped(batch.sparkSession,
        postingsPath, gcs, batch)
      finally batch.unpersist()
    }

  /** Parquet-directory convenience sink: kept docs append to
    * `corpusPath`, the index delta appends to `indexPath` (which must
    * hold a non-empty [[Dedup.minhashBandIndex]] before the stream
    * starts — the artifact carries the signature parameters).
    *
    * Both directories accrue one file per micro-batch — the standard
    * streaming-sink debt; fold the corpus periodically with
    * [[graft.sources.WarehouseWriter.compactParquet]] and the index
    * with [[Dedup.compactMinhashIndex]] (which also re-adopts the
    * manifest a [[Dedup.saveMinhashIndex]]-built artifact carries),
    * run between rounds or while the stream is stopped.
    *
    * Ordering contract: corpus BEFORE index. A crash between the two
    * writes re-delivers the micro-batch, the replay guard sees the
    * index without the crashed round's rows, and the round re-runs —
    * so the corpus can hold a kept row twice (same doc_id, trivially
    * dropped by an exact-id pass downstream) but can never LOSE one.
    * The reverse order would absorb the replay and drop the kept rows
    * on the floor. Exactly-once needs a sink that commits both frames
    * in one transaction — use [[dedupIngestStream]] with that store's
    * writer. */
  def parquetDedupIngest(docStream: DataFrame, indexPath: String,
      corpusPath: String, threshold: Double): DataStreamWriter[Row] = {
    val spark = docStream.sparkSession
    dedupIngestStream(docStream,
      EventsStream.parquetDimProvider(spark, indexPath), threshold) {
      (kept, delta, _) =>
        kept.write.mode("append").parquet(corpusPath)
        // staged protocol, not a raw append — same manifest-staleness
        // argument as the exact sink (see parquetExactDedupIngest)
        Dedup.appendMinhashIndexDeltaFrame(spark, indexPath, delta)
    }
  }
}
