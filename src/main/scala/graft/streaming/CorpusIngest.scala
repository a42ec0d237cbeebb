package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{CoarseQuantizer, Dedup, Similarity}

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
        graft.sources.WarehouseWriter.overwriteParquetAtomic(
          bloomNext.sparkSession, bloomPath)(bloomNext.write.parquet(_))
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
    * [[Similarity.appendIvfPostings]] under the FROZEN quantizer `q`
    * (the artifact's own cells and assignment law, validated per
    * batch) and the maintenance `mode`:
    *  - `Retained` (the default posture, SERVE-WHILE-INGEST): the
    *    touched-cell recap lands as new files with the superseded ones
    *    retired in the manifest, cost ∝ batch + touched cells, so a
    *    query path holding a [[Similarity.readPostings]] snapshot keeps
    *    serving its own consistent state through every trigger. Crash
    *    re-deliveries CONVERGE — the recap dedups on (cell, cand_id),
    *    so replaying a micro-batch reproduces the same served state.
    *    Retention is one epoch: each trigger vacuums the previous
    *    trigger's tombstones, so a reader should re-open at least once
    *    per trigger interval — the contract Delta readers have under
    *    VACUUM. A manifest-less or dirty artifact is adopted first.
    *  - `Fragment` (the high-frequency trigger posture): one file per
    *    touched cell, no recap, per-trigger cost ∝ batch alone. A
    *    checkpoint-recovery REPLAY double-appends, folded only at the
    *    next [[Similarity.compactIvfPostingsRetained]] — so under
    *    at-least-once delivery this seam's contract is
    *    compact-before-serve (cost ∝ fragmented cells, SURVEY §6.2's
    *    maintenance modes table).
    *  - `Auto(t)`: the regime law picks per micro-batch.
    * Under `TwoLevel(gcs, gp)` the per-batch assignment is
    * O(groups + probed members) per row — the term that dominates a
    * 16 384-cell append — against a two-level-built artifact whose
    * embedded `iv_gp` must equal `gp`. Bootstrap `postingsPath` with
    * [[Similarity.saveIvfPostings]] over a non-empty seed corpus (an
    * empty build fails, leaving any previous artifact in place) under
    * the quantizer this stream will run; retrain +
    * rebuild when drift erodes recall (the SURVEY §6.2 knee is the
    * signal), exactly as a batch deployment would.
    *
    * A PQ-coded artifact (saved under [[graft.operators.PostingsCodec.Pq]])
    * streams through the same seam under a `Flat` quantizer: each
    * micro-batch is assigned AND encoded under the artifact's own frozen
    * centroids and codebook sidecar. A replayed batch re-appends EXACT
    * duplicate rows (codes are deterministic per (vector, home cell)),
    * so every mode's convergence argument holds unchanged. */
  def embeddingIngest(embStream: DataFrame, q: CoarseQuantizer,
      postingsPath: String,
      mode: Similarity.MaintenanceMode): DataStreamWriter[Row] =
    embStream.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val batch = batch0.persist() // same re-read pin as the dedup seams
      try {
        Similarity.appendIvfPostings(batch.sparkSession, postingsPath, q,
          batch, mode)
        ()
      } finally batch.unpersist()
    }

  /** Parquet-directory convenience sink: kept docs append to
    * `corpusPath`, the index delta appends to `indexPath` (which must
    * hold a non-empty [[Dedup.minhashBandIndex]] before the stream
    * starts — the artifact carries the signature parameters).
    *
    * Both directories accrue the same number of files per micro-batch,
    * one per partition of the kept rows (one, for a small trigger) —
    * the standard streaming-sink debt; fold the corpus periodically with
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
