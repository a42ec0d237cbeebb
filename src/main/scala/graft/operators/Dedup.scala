package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextOps._
import graft.functions.VectorOps._
import graft.sources.WarehouseWriter.rangeSorted

/** Deduplication operators for a training-data pipeline, over a
  * `documents(doc_id, text, ...)` relation.
  *
  * Scale design: every variant avoids the quadratic all-pairs join.
  *  - exact: one hash-aggregate on md5(text).
  *  - n-gram Jaccard: candidate pairs from a document-frequency-capped
  *    inverted shingle index (a stop-phrase shingle shared by 10⁶ docs
  *    would otherwise fan 10¹² candidate rows), verification with the
  *    FULL shingle sets — so the cap bounds join fan without changing
  *    any reported jaccard value.
  *  - MinHash+LSH: per-row signature (array fold), band buckets, and
  *    only bucket-colliding pairs are verified — the classic
  *    shingle→minhash→band→bucket-join pipeline.
  *  - SimHash: per-row fingerprint, wide-band blocking (default 4
  *    bands × 16 bits → 65 536 buckets per band, so bucket population
  *    stays ~N/65k and the per-bucket self-join tracks true near-dup
  *    density instead of going quadratic), Hamming verification via
  *    bit_count(xor). Exact recall for maxHamming ≤ bands-1 by
  *    pigeonhole.
  *
  * Intermediates that feed multiple consumers are persisted
  * MEMORY_AND_DISK via [[CacheScope.persist]]: inside a
  * [[CacheScope.withCachesReleased]] scope the blocks are freed the
  * moment the scope closes; outside one, Spark's ContextCleaner
  * reclaims them once the frames go out of scope (callers running many
  * queries in one session can also `spark.catalog.clearCache()`
  * between them).
  */
object Dedup {

  /** Exact duplicate groups: md5(text) → count + representative id. */
  def exact(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupBy(md5($"text").as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keep_id"))
  }

  /** Content-hash index of a corpus — the persistable artifact for
    * INCREMENTAL dedup: build it once over the standing corpus, save
    * it as parquet, and every future ingest batch dedups against it
    * without touching the corpus itself. One column keeps the index
    * tiny (16 bytes/doc — a 10¹⁰-doc corpus indexes in ~160 GB, vs
    * re-scanning 100 TB of text per ingest). */
  def exactHashIndex(docs: DataFrame): DataFrame =
    textHashes(docs).distinct()

  /** One `text_hash` row per document, duplicates kept — the index's
    * rows before the fold, for writers that dedup on their own layout
    * exchange ([[appendExactIndexDeltaFrame]]). */
  private[graft] def textHashes(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("text_hash"))

  /** Incremental exact dedup of an ingest batch against a standing
    * [[exactHashIndex]]: returns the batch rows whose content is new —
    * both corpus-duplicates (hash already indexed) and within-batch
    * copies (keep the lowest doc_id) are dropped in one pass. The
    * index side joins as a left-anti on the 16-byte hash (broadcast
    * when small, hash-shuffle otherwise — never a corpus scan);
    * [[appendExactIndexDelta]] (persisted artifact, ∝ batch) rolls the
    * index forward with the kept rows for the next ingest. */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val hashed = newDocs.withColumn("text_hash", md5($"text"))
    firstPerHash(hashed.join(index, Seq("text_hash"), "left_anti"))
  }

  /** Keep the lowest-doc_id row per `text_hash` (within-batch copies of
    * one content keep exactly one representative), then restore the
    * caller's column set. The one shuffle in the incremental-exact-dedup
    * path — and it shuffles only the BATCH. */
  private def firstPerHash(hashed: DataFrame): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val batchFirst = org.apache.spark.sql.expressions.Window
      .partitionBy($"text_hash").orderBy($"doc_id".asc)
    hashed
      .withColumn("bf", row_number().over(batchFirst))
      .filter($"bf" === 1)
      .drop("bf", "text_hash")
  }

  /** Bloom membership summary of an [[exactHashIndex]] — the sidecar
    * artifact that lets [[dedupAgainstIndexScreened]] dedup an ingest
    * batch with ZERO index shuffle. One row: the serialized filter
    * (built by Spark's own `BloomFilterAggregate` over
    * `xxhash64(text_hash)` — the same machinery the optimizer uses for
    * injected runtime join filters) plus the sizing parameters, embedded
    * like [[minhashBandIndex]]'s `mh_*` columns so the probe side can
    * never drift from the build side.
    *
    * Sizing: ~1.2 GB per 10⁹ indexed docs at fpp 0.01 — broadcastable
    * where the 16-byte-hash index itself (16 GB per 10⁹) is not. The
    * aggregate silently clamps to the session's runtime-filter conf
    * caps, so this builder raises them to the requested size first —
    * the caller's fpp is honored, never silently degraded.
    *
    * CONTRACT: the filter must summarize EVERY row of the index it
    * screens for ([[appendToExactBloom]] keeps it in sync as the index
    * grows) — a hash in the index but not the bloom would let a
    * duplicate through. The converse staleness is safe: extra hashes no
    * longer in the index only send more rows to the exact-join path.
    * An EMPTY index yields a null filter, which probes as null →
    * every batch row is definitely-new (correct for an empty index).
    *
    * The aggregate runs HERE, eagerly: BloomFilterAggregate silently
    * clamps to the session's runtime-bloom-filter conf floors, which
    * must therefore be raised while the job runs and RESTORED after
    * (a lazy frame would either leak the raised confs session-wide or
    * lose them before execution). Persist the one-row result (parquet,
    * like the index) and screen from the loaded artifact. */
  def exactIndexBloom(index: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val spark = index.sparkSession
    import spark.implicits._
    val numBits = math.max(64L,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp))
    val bytes = withRaisedConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedItems,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits) {
      val agg = GraftColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64($"text_hash")),
          org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
          org.apache.spark.sql.catalyst.expressions.Literal(numBits))
          .toAggregateExpression())
      index.agg(agg.as("bf_bloom")).take(1)(0).getAs[Array[Byte]](0)
    }
    spark.range(1).select(
      GraftColumnBridge.column(org.apache.spark.sql.catalyst.expressions.Literal
        .create(bytes, org.apache.spark.sql.types.BinaryType)).as("bf_bloom"),
      lit(expectedItems).as("bf_items"),
      lit(fpp).as("bf_fpp"), lit(numBits).as("bf_bits"))
  }

  private def raiseConfFloor(spark: org.apache.spark.sql.SparkSession,
      key: String, atLeast: Long): Unit =
    if (spark.conf.getOption(key).map(_.toLong).forall(_ < atLeast))
      spark.conf.set(key, atLeast)

  /** Raise conf floors for the duration of `body` (an EAGER job) and
    * restore the prior values — set or unset — after, so the session's
    * plan behavior outside the guarded job is untouched. Only usable
    * around eager work: a conf consulted by a returned LAZY frame must
    * live in session defaults instead (see GraftSession). */
  private def withRaisedConfs[T](spark: org.apache.spark.sql.SparkSession,
      kvs: (String, Long)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => raiseConfFloor(spark, k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Roll an [[exactIndexBloom]] forward for the rows appended to its
    * index this ingest round — build a filter of the SAME geometry over
    * just the new docs' hashes and OR the bit arrays (a bloom union is
    * exact: the merged filter contains precisely the union of both
    * inputs' insertions). Cost ∝ batch; the standing filter's bytes
    * pass through untouched. Occupancy above `bf_items` degrades fpp
    * only (more rows take the exact-join path) — rebuild from the full
    * index when that drag shows up, correctness never depends on it. */
  def appendToExactBloom(bloom: DataFrame, newDocs: DataFrame): DataFrame = {
    val spark = bloom.sparkSession
    import spark.implicits._
    val head = bloom.select("bf_bloom", "bf_items", "bf_fpp", "bf_bits").take(1)
    require(head.nonEmpty,
      "empty bloom artifact — build it with exactIndexBloom over the index")
    val (bytes, items, fpp, bits) = (head(0).getAs[Array[Byte]](0),
      head(0).getLong(1), head(0).getDouble(2), head(0).getLong(3))
    val batchBytes = withRaisedConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> items,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> bits) {
      val agg = GraftColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(md5($"text"))),
          org.apache.spark.sql.catalyst.expressions.Literal(items),
          org.apache.spark.sql.catalyst.expressions.Literal(bits))
          .toAggregateExpression())
      newDocs.agg(agg.as("b")).take(1)(0).getAs[Array[Byte]](0)
    }
    val merged = (Option(bytes), Option(batchBytes)) match {
      case (Some(a), Some(b)) =>
        val fa = org.apache.spark.util.sketch.BloomFilter.readFrom(a)
        fa.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(b))
        val out = new java.io.ByteArrayOutputStream()
        fa.writeTo(out)
        out.toByteArray
      case (a, b) => a.orElse(b).orNull
    }
    spark.range(1).select(
      GraftColumnBridge.column(org.apache.spark.sql.catalyst.expressions.Literal
        .create(merged, org.apache.spark.sql.types.BinaryType)).as("bf_bloom"),
      lit(items).as("bf_items"),
      lit(fpp).as("bf_fpp"), lit(bits).as("bf_bits"))
  }

  /** [[dedupAgainstIndex]] with a bloom pre-screen — same kept rows,
    * but the index is never SHUFFLED and most batch rows never enter a
    * join at all.
    *
    * THE 100-TB point: the plain left-anti hash-partitions BOTH sides —
    * at 10¹⁰ indexed docs that is a 160 GB index shuffle per ingest
    * batch, however small the batch. Here the broadcast bloom splits the
    * batch map-side into definitely-new rows (no false negatives — they
    * skip membership work entirely) and maybe-duplicates (true dups +
    * fpp·batch). Only the maybe-set's distinct hashes — kilobytes for a
    * typical dump — broadcast to a columnar SCAN of the index, and the
    * confirmed hits broadcast back. Zero exchanges on the index side in
    * any case; the one shuffle left is the within-batch window, ∝ batch.
    * The index scan itself prunes like any columnar read (16 bytes/doc,
    * min/max pushdown under a [[graft.sources.WarehouseWriter.saveSorted]]
    * layout).
    *
    * When the maybe-set is small (≤ `inListLimit` distinct hashes,
    * further capped by the session's parquet IN-pushdown threshold —
    * the overwhelmingly common case: fpp·batch + true dups), it is
    * fetched to the driver and pushed into the index SCAN as an IN
    * predicate, the way any broadcast is driver-mediated. Under a
    * range-sorted index layout
    * ([[graft.sources.WarehouseWriter.saveSorted]] on `text_hash`)
    * parquet row-group statistics then prune the scan to the handful
    * of groups that can contain a candidate — per-ingest index READ
    * ∝ candidates, not index size: point-lookup economics on a plain
    * parquet artifact. A larger maybe-set falls back to the
    * distributed semi-join probe, which scans the index once but
    * never shuffles it.
    *
    * `bloom` must summarize every index row (see [[exactIndexBloom]]'s
    * contract; [[appendToExactBloom]] maintains it) — DedupSpec pins
    * this path row-identical to [[dedupAgainstIndex]] and covers both
    * the pushdown and fallback routes. */
  def dedupAgainstIndexScreened(newDocs: DataFrame, index: DataFrame,
      bloom: DataFrame, inListLimit: Int = 1000): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    // the filter becomes a CLUSTER BROADCAST probed by the native
    // graft_bloom_probe expression: the driver holds the bytes once
    // (inherent to any broadcast), executors torrent them once each,
    // and the task binary carries only a handle. The earlier shapes
    // both failed at scale: a multi-MB literal is re-traversed by
    // every optimizer pass, and a scalar subquery's RESULT rides the
    // serialized plan of every stage that references it ("Broadcasting
    // large task binary" at 1 MB, fatal at the multi-GB filters a
    // 10¹⁰-row index needs).
    val head = bloom.select($"bf_bloom").take(1)
    require(head.nonEmpty,
      "empty bloom artifact — build it with exactIndexBloom over the index")
    val filter = Option(head(0).getAs[Array[Byte]](0))
      .map(org.apache.spark.util.sketch.BloomFilter.readFrom).orNull
    val bc = spark.sparkContext.broadcast(filter)
    val hashed = newDocs
      .withColumn("text_hash", md5($"text"))
      .withColumn("maybe_dup", coalesce(
        GraftColumnBridge.column(graft.expressions.BloomProbe(bc,
          GraftColumnBridge.expression(xxhash64($"text_hash")))),
        lit(false)))
    // distinct maybe-hashes broadcast INTO the index scan; survivors
    // (hashes actually present) broadcast back out. Both joins are
    // broadcast by construction — candidate-proportional, never more
    // than the batch's own distinct-hash count.
    //
    // The maybe-set is MATERIALIZED (localCheckpoint) before it meets
    // the index: with live lineage, constraint inference copies the
    // might_contain predicate onto the index side of the semi join
    // through the equi-join key — a bloom probe per INDEX row, 100%
    // selective by construction (the bloom contains every index hash),
    // measured 1.5× slower than the plain anti-join at 16M index rows.
    // A checkpointed frame carries no constraints to infer from, and
    // the probe job it runs is ∝ batch.
    val maybeHashes = hashed.filter($"maybe_dup")
      .select($"text_hash").distinct().localCheckpoint(true)
    val present = inKeysOrFrame(maybeHashes, inListLimit) match {
      case Left(list) =>
        index.filter($"text_hash".isin(list: _*)).select($"text_hash")
      case Right(ks) =>
        index.join(broadcast(ks), Seq("text_hash"), "left_semi")
    }
    firstPerHash(
      hashed.join(broadcast(present), Seq("text_hash"), "left_anti")
        .drop("maybe_dup"))
  }

  /** The session-pushdown-aware restriction probe every screened route
    * shares: point-lookup economics hold only up to what the SESSION's
    * parquet pushdown threshold will push as a real IN predicate —
    * above it Spark degrades the push to a min/max range, useless over
    * uniform hash keys. The conf is read, never mutated (returned
    * frames are lazy, so a scoped raise would be lost — or leak — by
    * execution time); GraftSession sets the 2048 default and documents
    * why. Left = the driver-collected key values (≤ the effective
    * limit — push as an IN); Right = the keys frame (broadcast
    * semi-join it: the artifact is scanned once, never shuffled). One
    * implementation, so the threshold contract cannot drift between
    * the exact and winnow screens. */
  private def inKeysOrFrame(keys: DataFrame,
      inListLimit: Int): Either[Seq[Any], DataFrame] = {
    val spark = keys.sparkSession
    val pushLimit = spark.conf
      .getOption("spark.sql.parquet.pushdown.inFilterThreshold")
      .map(_.toInt).getOrElse(10)
    val effectiveLimit = math.min(inListLimit, pushLimit)
    val probe = keys.take(effectiveLimit + 1)
    if (probe.length <= effectiveLimit) Left(probe.toSeq.map(_.get(0)))
    else Right(keys)
  }

  // ---------------------------------------------------- exact-index artifact

  /** Open a persisted [[saveExactIndex]] directory for screening — the
    * read every serve-time consumer ([[dedupAgainstIndex]] /
    * [[dedupAgainstIndexScreened]]) should start from
    * ([[FlatIndex.open]]): with a clean manifest, ZERO filesystem
    * listings — at one listing per INGEST BATCH on a monthly-dump
    * cadence (docker/aact/Dockerfile:20-22) over a 10⁵⁺-file object
    * store artifact, discovery was the screen's last
    * artifact-proportional metadata term — and the screened route's
    * pushed-down IN predicate prunes row groups off the manifest's
    * exact byte extents the same way it does off a discovered index
    * (DedupSpec's census pins it). */
  def readExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    FlatIndex.Exact.open(spark, path)._1

  /** Persist an [[exactHashIndex]] as a range-sorted parquet DIRECTORY
    * — the artifact layout [[dedupAgainstIndexScreened]]'s point-lookup
    * route depends on: range partitioning + in-file sort keep every
    * row group's min/max stats tight, so a pushed-down IN predicate
    * reads ∝ candidates, not ∝ index (the
    * [[graft.sources.WarehouseWriter.saveSorted]] physics, applied to
    * a path-addressed artifact), born with its manifest under the
    * writer lease ([[FlatIndex.build]]). */
  def saveExactIndex(index: DataFrame, path: String, files: Int = 8): Unit =
    FlatIndex.Exact.build(index, path)(rangeSorted(_, files, "text_hash"))

  /** Roll a persisted [[saveExactIndex]] directory forward with an
    * ingest round's kept rows — cost ∝ BATCH, nothing ∝ the index:
    * the delta lands as `files` new part-files (sorted within
    * themselves, so their OWN row-group stats stay tight), staged in by
    * rename ([[FlatIndex.append]]). The LSM debt this accrues is
    * bounded and OBSERVABLE, not silent: every appended file spans
    * ~the full hash range, so file-level zone pruning erodes with
    * append count (row-group pruning inside each sorted file survives)
    * and the manifest's file count grows by `files` per ingest —
    * [[compactExactIndex]] restores the global sorted layout, exactly
    * like the postings family's compaction settles its fragments.
    * Dirty-bracketed: a crash mid-append strands the flag, readers
    * degrade to the discovering read (truth — appends are add-only),
    * and the next compaction re-adopts. A manifest-less (legacy)
    * artifact appends the same files without sidecar bookkeeping. An
    * at-least-once caller that replays a batch appends duplicate
    * hashes: harmless to every screen (anti/semi-join and IN are set
    * semantics), folded by [[compactExactIndex]]. */
  def appendExactIndexDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, keptDocs: DataFrame, files: Int = 1): Unit =
    appendExactIndexDeltaFrame(spark, path, textHashes(keptDocs), files)

  /** [[appendExactIndexDelta]] for an ALREADY-COMPUTED hash delta —
    * the streaming sink's entry point ([[graft.streaming.CorpusIngest
    * .parquetExactDedupIngest]] computes the delta inside its batch
    * closure): same staged-rename roll-forward, so a stream pointed at
    * a [[saveExactIndex]]-built artifact keeps the manifest true
    * instead of silently staling it with a raw `mode("append")` (which
    * would make a later [[readExactIndex]] miss the appended hashes —
    * duplicates passing the screen with no dirty flag).
    *
    * The delta is shuffled ONCE: the layout's range exchange on
    * `text_hash` goes first and the distinct runs on it (equal hashes
    * share a range partition), so a delta with repeated hashes lands
    * folded without a hash exchange of its own. */
  def appendExactIndexDeltaFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, files: Int = 1): Unit =
    FlatIndex.Exact.append(spark, path)(_ =>
      rangeSorted(delta, files, "text_hash", distinct = true))

  /** Fold a delta-appended [[saveExactIndex]] directory back to the
    * pristine layout ([[FlatIndex.compact]]): distinct (replayed deltas
    * fold away) + global range-sort, so file-level AND row-group zone
    * pruning both hold again — on ONE range exchange on `text_hash`,
    * which the distinct rides. The output file count is
    * ceil(input bytes / `targetFileBytes`) — an upper-bound shape: the
    * distinct only shrinks files. Returns (files before, files after,
    * input bytes). */
  def compactExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L << 20): (Int, Int, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    FlatIndex.Exact.compact(spark, path) { (stored, _, bytes) =>
      rangeSorted(stored, math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt,
        "text_hash", distinct = true)
    }
  }

  /** Distinct k-token shingles per doc (docs shorter than k dropped). */
  def shingleTable(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.cpuBound(docs) // guide §2.5: tokenize+shingle is the CPU
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= k)
      .select($"doc_id", explode(shingles($"toks", k)).as("shingle"))
      .distinct()
  }

  /** The exact route's candidate pair fan, measured BEFORE paying it:
    * Σ df·(df−1)/2 over shingle hashes with document frequency ≤ maxDF
    * — exactly the pair mass [[ngramJaccard]]'s candidate self-join
    * will materialize. One linear pass (tokenize → shingle → explode →
    * df aggregate), no joins: the probe costs a fraction of EITHER
    * route and is the honest cost driver ([[nearDupAuto]] routes on
    * it), where a doc count would mis-price corpora of long documents
    * whose posting lists fan quadratically. */
  def exactCandidateMass(docs: DataFrame, k: Int, maxDF: Int): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= k)
      .select($"doc_id",
        explode(transform(array_distinct(shingles($"toks", k)),
          s => xxhash64(s))).as("shash"))
      .groupBy($"shash").agg(count(lit(1)).as("df"))
      .filter($"df" <= maxDF)
      // sum df·(df−1) in integer space (`/` would promote to double)
      // and halve driver-side — the product is always even
      .agg(coalesce(sum($"df" * ($"df" - 1)), lit(0L)))
      .as[Long].head() / 2
  }

  /** The routed result: the pair relation plus WHY it took that route
    * (the probed candidate mass) — callers log the decision, specs pin
    * it. */
  final case class NearDupRouted(pairs: DataFrame, route: String,
      candidateMass: Long)

  /** Route near-dup pair discovery between the exact DF-capped route
    * ([[ngramJaccard]]) and the MinHash-LSH route ([[minhashLsh]]) on
    * a measured probe — the API form of SURVEY §6.1.4's route
    * economics. The exact route's wall time rides its candidate pair
    * fan, which grew superlinearly decade over decade (growth exponent
    * 1.73 from sf3→sf10; 1055 s vs the LSH twin's 247 s at sf10 —
    * 4.3×), while LSH stayed near-linear WITH the identical verified
    * pair set at every scale measured. Below the knee the exact route
    * buys certainty (no banding-miss probability) for seconds, so it
    * wins; above it, LSH is the only shape that survives — §2.12's
    * prose rule, now a probe instead of a judgement call.
    *
    * The probe is [[exactCandidateMass]] — the pair fan itself, not a
    * doc count, so long-document corpora price correctly, and it
    * tracks the wall-time curve: measured masses 2.4×10⁵ / 1.5×10⁶ /
    * 1.5×10⁷ at sf1/sf3/sf10 (growth exponent ≈1.86, the wall's 1.73).
    * The default budget of 5×10⁶ pairs sits log-centered between the
    * sf3 mass (the last decade where the exact route's ~44 s/run was
    * affordable) and the sf10 mass (where its ~350 s/run was not).
    * Probe cost is one posting pass (~the LSH route's signature
    * phase: 70 s at sf10 vs 82 s/run for LSH itself) — the router is
    * for unattended pipelines over corpora of unknown regime; a
    * deployment that knows its corpus calls the route directly.
    * Calibration numbers are from the fixture-corpus decades (SURVEY
    * §6.1.4); deployments with different tolerance re-site the knee by
    * passing their own budget.
    *
    * Parameter defaults mirror the declared q20/q21 pair
    * ([[graft.jobs.DocumentQueries]]): 5-gram shingles, DF cap 100,
    * 32 hashes × 8 bands. */
  def nearDupAuto(docs: DataFrame, k: Int = 5, threshold: Double = 0.4,
      maxDF: Int = 100, numHashes: Int = 32, bands: Int = 8,
      exactPairBudget: Long = 5000000L): NearDupRouted = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE tokenize+shingle pass (r19, guide §1.2): the probe and BOTH
    // routes consume the same per-doc distinct-shingle frame, so it is
    // computed once here instead of once for the probe and again
    // inside the chosen route — the router's overhead drops from a
    // full corpus pass to the df aggregate alone. Spread + eager as in
    // ngramJaccard (the probe's head() action doubles as the cache
    // materializer, so the eager persist costs no extra job).
    val withSh = CacheScope.persist(Spread.cpuBound(docs)
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= k)
      .select($"doc_id", array_distinct(shingles($"toks", k)).as("sh")))
    val mass = withSh
      .select(explode(transform($"sh", s => xxhash64(s))).as("shash"))
      .groupBy($"shash").agg(count(lit(1)).as("df"))
      .filter($"df" <= maxDF)
      .agg(coalesce(sum($"df" * ($"df" - 1)), lit(0L)))
      .as[Long].head() / 2
    if (mass <= exactPairBudget)
      NearDupRouted(ngramJaccardFromShingles(withSh, threshold, maxDF),
        "exact", mass)
    else
      NearDupRouted(minhashLshFromShingles(withSh, numHashes, bands,
        threshold), "lsh", mass)
  }

  /** Exact n-gram Jaccard over the inverted shingle index.
    * Output: (doc_a, doc_b, jaccard) for pairs ≥ threshold.
    *
    * Two-phase: candidates come from posting lists restricted to
    * shingles with document frequency ≤ maxDF (the scale guard);
    * `n_common` is then counted over the full shingle sets of the
    * candidate pairs only, so values are exact. A pair is missed only
    * if EVERY shared shingle is more common than maxDF — for any
    * near-dup threshold worth the name that can't happen (two docs at
    * jaccard ≥ 0.4 share ~40% of their shingles; with maxDF in the
    * hundreds at least one is rare). */
  def ngramJaccard(docs: DataFrame, k: Int, threshold: Double,
      maxDF: Int = Int.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // per-row distinct shingle arrays: sizes come free (no groupBy), the
    // inverted index is one explode away; reused by candidates + verify.
    // Spread: the shingle pass is the pipeline's CPU (guide §2.5 — a
    // one-row-group docs file scans single-task); eager: the cache fans
    // out to 4+ independent downstream stages (posting a/b, verify a/b)
    // that AQE materializes concurrently — lazy caching let each race
    // the unpopulated cache and recompute the pass (measured 6×).
    //
    // r20, guide §1.2 per-task work: the shingle sets are HASHED k-gram
    // arrays from the fused [[graft.expressions.ShingleHashes]] kernel
    // (bit-identical to xxhash64(gram) — parity spec-locked), not the
    // gram STRINGS: the old shape paid the interpreted HOF chain
    // (sequence→slice→concat_ws per gram), a string array_distinct,
    // a SECOND per-string xxhash64 at the posting explode, and ~40-byte
    // array elements in cache and the verify shuffle. Candidates are
    // unchanged (same posting hashes, same df cap); verify intersects
    // hashed sets — identical sizes up to 64-bit collisions, which the
    // verifyJaccard contract already admits (a collision can only merge
    // shingles; zero occur on any tested corpus, and the pair-local
    // probability at production scale is ~n²/2⁶⁴).
    ngramJaccardFromShingles(
      CacheScope.persistEager(Spread.cpuBound(docs)
        .withColumn("toks", tokens($"text"))
        .filter(size($"toks") >= k)
        .select($"doc_id",
          array_distinct(shingleHashes($"toks", k)).as("sh"))),
      threshold, maxDF)
  }

  /** [[ngramJaccard]]'s body over an already-persisted per-doc
    * distinct-shingle frame `(doc_id, sh)` — the composition seam
    * [[nearDupAuto]] uses to share ONE shingle pass between its probe
    * and the chosen route. `withSh` must be persisted (it fans out to
    * 4 downstream stages) and already spread. */
  private def ngramJaccardFromShingles(withSh: DataFrame, threshold: Double,
      maxDF: Int): DataFrame = {
    val spark = withSh.sparkSession
    import spark.implicits._
    // the inverted index carries 64-bit shingle HASHES, not strings: the
    // posting shuffle moves 8-byte keys instead of ~40-byte grams, and a
    // hash collision can only ADD a candidate pair (equal strings always
    // hash equal), which exact verification then rejects — values are
    // untouched. A caller whose `sh` is ALREADY hashed (array<bigint>
    // from the ShingleHashes kernel — [[ngramJaccard]]'s form) explodes
    // it directly; the string form (nearDupAuto's LSH-shared frame)
    // keeps the per-element xxhash64, which is bit-identical to the
    // kernel's values (parity spec-locked)
    val shIsHashed = withSh.schema("sh").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    val sh =
      if (shIsHashed) withSh.select($"doc_id", explode($"sh").as("shash"))
      else withSh.select($"doc_id",
        explode(transform($"sh", s => xxhash64(s))).as("shash"))

    // document-frequency cap + pair generation in ONE grouped pass
    // (r20, guide §2.4/§1.2). The earlier shapes both paid the posting
    // relation twice: aggregate + semi-join re-ran the explode+hash
    // pass for the probe feed, and the window form's capped posting
    // self-join planned the window subtree ONCE PER JOIN SIDE (AQE
    // broadcast-joins the capped side at bench scale and never reuses
    // the exchange under the broadcast — measured on q42: two
    // identical 3.36 MB exchanges, cpu 3.5 s + 2.4 s). Grouping the
    // posting list per shingle instead needs ONE exchange and no join
    // at all: collect the (≤ maxDF, by the filter) sorted doc ids per
    // shash and explode the i<j combinations directly. Same candidate
    // set: a pair shares a capped shingle iff both ids land in the
    // same kept group, and sort_array gives doc_a < doc_b exactly as
    // the join's `a.doc_id < b.doc_id` did. Group state is bounded by
    // the cap only AFTER the filter — an uncapped hot shingle would
    // materialize an O(df²) pair array per row, so the
    // maxDF == MaxValue form keeps the join shape.
    val candidates = (
      if (maxDF == Int.MaxValue) {
        sh.as("a").join(sh.as("b"),
            $"a.shash" === $"b.shash" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      } else {
        sh.groupBy($"shash")
          .agg(sort_array(collect_list($"doc_id")).as("ids"))
          .filter(size($"ids").between(2, maxDF))
          .select(explode(flatten(transform($"ids", (x, i) =>
            transform(slice($"ids", i + lit(2), size($"ids")),
              y => struct(x.as("doc_a"), y.as("doc_b"))))))
            .as("p"))
          .select($"p.doc_a", $"p.doc_b")
      }).distinct()

    // verify with the FULL shingle sets, restricted to candidates —
    // array_intersect on the per-row arrays: per-pair work is one hash
    // intersection, and the shuffle carries each candidate doc's array
    // once per side instead of re-exploding every posting row through a
    // join + pair-key aggregation (the old shape's cost was proportional
    // to ALL postings; this one is proportional to candidate pairs)
    val arrA = withSh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val arrB = withSh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    candidates
      .join(arrA, "doc_a").join(arrB, "doc_b")
      .withColumn("n_common", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("jaccard",
        $"n_common".cast("double") /
          (size($"sh_a") + size($"sh_b") - $"n_common"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
  }

  /** Per-doc MinHash signature frame `(doc_id, sh, bk)`: distinct
    * k-token shingles plus the fused band keys — the kernel folds
    * shingles → per-seed minima → per-band keys in one primitive-only
    * codegen'd pass (no signature array, no per-band string render),
    * zero shuffle. Shared body of [[minhashLsh]] (transient, per query)
    * and [[minhashBandIndex]] (persisted artifact). */
  private def minhashSignatures(docs: DataFrame, k: Int, numHashes: Int,
      bands: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    Spread.cpuBound(docs) // guide §2.5: the kernel pass is the CPU
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= k)
      .withColumn("sh", array_distinct(shingles($"toks", k)))
      .select($"doc_id", $"sh",
        minhashBandKeysNative($"sh", numHashes, bands).as("bk"))
  }

  /** Candidate-verified Jaccard over per-doc shingle frames: join the
    * candidate pairs to each side's shingle array and intersect —
    * work ∝ candidate pairs, values exact (shared verify phase of the
    * MinHash/ngram family). Sides may carry array<string> or hashed
    * array<long> shingles — intersection sizes are identical up to
    * 64-bit collisions, which can only merge (never split) shingles. */
  private def verifyJaccard(candidates: DataFrame, arrA: DataFrame,
      arrB: DataFrame, threshold: Double): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates
      .join(arrA, "doc_a").join(arrB, "doc_b")
      .withColumn("n_common", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("jaccard",
        $"n_common".cast("double") /
          (size($"sh_a") + size($"sh_b") - $"n_common"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
  }

  /** MinHash + LSH near-duplicate candidates, verified with exact
    * Jaccard. numHashes must be divisible by bands. */
  def minhashLsh(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
                 threshold: Double): DataFrame =
    minhashLshFromSigs(CacheScope.persistEager(
      minhashSignatures(docs, k, numHashes, bands)), threshold)

  /** [[minhashLsh]] over an already-persisted per-doc distinct-shingle
    * frame `(doc_id, sh)` — [[nearDupAuto]]'s shared-pass seam: the
    * band keys are one kernel projection over the shared arrays (the
    * SAME `sh` definition [[minhashSignatures]] computes), so the LSH
    * route re-tokenizes nothing. */
  private def minhashLshFromShingles(withSh: DataFrame, numHashes: Int,
      bands: Int, threshold: Double): DataFrame = {
    val spark = withSh.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    minhashLshFromSigs(CacheScope.persistEager(
      withSh.select(col("doc_id"), col("sh"),
        minhashBandKeysNative(col("sh"), numHashes, bands).as("bk"))),
      threshold)
  }

  /** Shared candidate+verify body over a persisted `(doc_id, sh, bk)`
    * signature frame (4 concurrent consumers — persist it eagerly). */
  private def minhashLshFromSigs(sigs: DataFrame,
      threshold: Double): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    // band key rows: (band index, key); the index keys the join so
    // cross-band collisions are excluded
    val bandRows = sigs.select($"doc_id",
      posexplode($"bk").as(Seq("band", "band_hash")))

    val candidates = bandRows.as("a")
      .join(bandRows.as("b"),
        $"a.band" === $"b.band" && $"a.band_hash" === $"b.band_hash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()

    // verify candidates with exact jaccard — array_intersect on the
    // per-row shingle arrays (candidate-proportional work, see
    // ngramJaccard's verify phase)
    verifyJaccard(candidates,
      sigs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")),
      sigs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")),
      threshold)
  }

  /** MinHash band-key index of a corpus — [[exactHashIndex]]'s fuzzy
    * counterpart, the persistable artifact for INCREMENTAL near-dup
    * dedup: fingerprint the standing corpus ONCE, save this frame as
    * parquet, and every future ingest batch screens against it via
    * [[nearDupAgainstIndex]] without re-tokenizing a single corpus
    * document. The reference's materialize-once pattern (its derived
    * tables are computed once and queried per dashboard load,
    * init-user-db.sh:38-120) applied to the dedup corpus, at the
    * reference's own monthly-dump ingest cadence
    * (docker/aact/Dockerfile:20-22).
    *
    * Schema: one row per doc — `(doc_id, sh, bk, mh_k, mh_hashes,
    * mh_bands, mh_hashed)`. `bk` (bands × 8-byte keys) drives candidate
    * discovery; `sh` is kept for exact-Jaccard verification. The three
    * `mh_*` literals pin the signature parameters INSIDE the artifact
    * (parquet RLE stores them for free), so a batch can never be
    * screened with mismatched k/hashes/bands — the query path reads
    * them back rather than trusting the caller to remember.
    *
    * `hashedShingles = true` stores `xxhash64(sh)` longs instead of the
    * gram strings — ~5× smaller at 100 TB (8 bytes vs ~40 per gram).
    * A hash collision can only MERGE two shingles, so verified Jaccard
    * is unchanged except in the astronomically rare 64-bit collision,
    * where it biases a pair's jaccard slightly — DedupSpec pins the
    * hashed index to identical pairs on real data. */
  def minhashBandIndex(docs: DataFrame, k: Int, numHashes: Int,
      bands: Int, hashedShingles: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    FlatIndex.Minhash.stamp(minhashSignatures(docs, k, numHashes, bands)
      .withColumn("sh",
        if (hashedShingles) transform($"sh", s => xxhash64(s)) else $"sh"),
      Seq(k, numHashes, bands, hashedShingles))
  }

  /** Append an ingest batch (typically the rows [[nearDupAgainstIndex]]
    * kept) to a standing [[minhashBandIndex]] — the updated artifact to
    * persist for the next ingest round. Signature parameters and the
    * shingle representation come FROM the index, so the appended rows
    * are always computed consistently. */
  def appendToMinhashIndex(index: DataFrame, newDocs: DataFrame): DataFrame =
    index.unionByName(minhashIndexDelta(index, newDocs))

  /** Just the rows [[appendToMinhashIndex]] would ADD — the ingest
    * round's index delta, fingerprinted under the artifact's own
    * embedded parameters. For an index stored as a parquet directory
    * this is the frame to `append` (cost and bytes ∝ batch); the union
    * form exists for in-memory composition and specs. */
  def minhashIndexDelta(index: DataFrame, newDocs: DataFrame): DataFrame =
    minhashDelta(FlatIndex.Minhash.headParams(index), newDocs)

  /** `newDocs` fingerprinted under minhash params `p`. The in-memory
    * routes read `p` from the index's head row — one job, and an EMPTY
    * index fails fast: it has no parameters to screen with. */
  private def minhashDelta(p: Seq[Any], newDocs: DataFrame): DataFrame = {
    val Seq(k: Int, numHashes: Int, bands: Int, hashed: Boolean) = p
    minhashBandIndex(newDocs, k, numHashes, bands, hashed)
  }

  /** Incremental near-dup screening of an ingest batch against a
    * standing [[minhashBandIndex]]: returns every near-dup pair
    * `(doc_a, doc_b, jaccard ≥ threshold)` involving a batch document —
    * batch-vs-corpus pairs through the index's band keys, batch-vs-batch
    * pairs through the batch's own (both canonicalized doc_a < doc_b,
    * same values as [[minhashLsh]] would report on the union). Feed the
    * pairs to [[dedupClusters]] for keep/drop resolution, then
    * [[appendToMinhashIndex]] the kept rows.
    *
    * THE 100-TB point: the standing corpus contributes only an 8-byte
    * band-key equi-join per band — its text is never re-read, never
    * re-tokenized, never re-fingerprinted. Per-ingest cost is
    * (batch fingerprinting) + (band join ∝ colliding keys) + (verify ∝
    * candidate pairs); without the index every ingest re-runs
    * [[minhashLsh]] over corpus + batch, i.e. re-fingerprints 100 TB to
    * screen a 100 GB dump. Batch doc_ids must be fresh (an ingest
    * pipeline assigns new ids — same contract as [[dedupAgainstIndex]]).
    *
    * Exact-Jaccard verification joins candidates to the stored shingle
    * arrays of BOTH sides — index rows supply the corpus side, so
    * verification is also corpus-scan-free and candidate-proportional. */
  def nearDupAgainstIndex(newDocs: DataFrame, index: DataFrame,
      threshold: Double): DataFrame =
    nearDupWithParams(newDocs, index, FlatIndex.Minhash.headParams(index),
      threshold)

  /** [[nearDupAgainstIndex]] under signature params the caller already
    * holds — the artifact route passes the manifest's, so no data-head
    * job reads them again. */
  private def nearDupWithParams(newDocs: DataFrame, index: DataFrame,
      params: Seq[Any], threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val Seq(k: Int, numHashes: Int, bands: Int, hashed: Boolean) = params
    // both the candidate joins and the verify joins consume each side.
    // LAZY persists, on purpose — both alternatives measured worse on
    // the curation cycle's near-dup screen (4-core box): an eager
    // persist turns the ~8 concurrent cache-fill jobs into 2 counts,
    // but its stage went 2.41 → 2.89 s and the cycle's shuffle write
    // 16.1 → 26.5 MB; no persist re-runs each side per consumer
    // (3.5–3.7 s)
    val idx = CacheScope.persist(index.select($"doc_id", $"sh", $"bk"))
    val batch = CacheScope.persist(
      minhashSignatures(newDocs, k, numHashes, bands)
        .withColumn("sh",
          if (hashed) transform($"sh", s => xxhash64(s)) else $"sh"))

    def bandRows(sigs: DataFrame): DataFrame = sigs.select($"doc_id",
      posexplode($"bk").as(Seq("band", "band_hash")))
    val idxBands = bandRows(idx)
    val batchBands = bandRows(batch)

    // batch × corpus candidates: ids interleave, so canonicalize the
    // pair ordering (minhashLsh's doc_a < doc_b convention)
    val cross = batchBands.as("a")
      .join(idxBands.as("b"),
        $"a.band" === $"b.band" && $"a.band_hash" === $"b.band_hash" &&
          $"a.doc_id" =!= $"b.doc_id")
      .select(least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"))
    // batch × batch candidates (the within-dump duplicates)
    val intra = batchBands.as("a")
      .join(batchBands.as("b"),
        $"a.band" === $"b.band" && $"a.band_hash" === $"b.band_hash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
    val candidates = cross.union(intra).distinct()

    // either side of a pair may live in the index or the batch — verify
    // against the union of the stored shingle frames (the join restricts
    // to candidate ids, so this reads candidate-many rows, not corpora)
    val arr = idx.select($"doc_id", $"sh")
      .unionByName(batch.select($"doc_id", $"sh"))
    verifyJaccard(candidates,
      arr.select($"doc_id".as("doc_a"), $"sh".as("sh_a")),
      arr.select($"doc_id".as("doc_b"), $"sh".as("sh_b")),
      threshold)
  }

  // --------------------------------------------- minhash-index artifact

  /** Open a persisted [[saveMinhashIndex]] directory for screening
    * ([[FlatIndex.open]]): with a clean manifest the scan plans with
    * ZERO filesystem listings at any corpus age (the band screen scans
    * the index once per ingest and never shuffles it; discovery was
    * its one artifact-proportional metadata term), after healing a
    * compaction that crashed inside its swap window. */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    FlatIndex.Minhash.open(spark, path)._1

  /** Persist a [[minhashBandIndex]] with its manifest carrying the
    * signature params (`k`/`hashes`/`bands`/`hashed`), so appends
    * never open a data head for them ([[FlatIndex.build]]). No sort:
    * the band screen joins on exploded band keys — there is no
    * point-lookup pushdown to lay out for (unlike the hash/fingerprint
    * families).
    *
    * The params come from the frame's plan literals, so the build runs
    * the write job alone; an empty corpus builds a legal empty artifact
    * (one schema-only file, params in the manifest) that screens find
    * nothing in and appends roll forward. A frame without the literals
    * (a scan of a stored index, a checkpoint) pays one head-row job for
    * them instead, and an EMPTY one has no row to read them from: it
    * fails fast there, before the lease, so the artifact at `path` is
    * left as it was. No layout exchange either: the files are
    * the kernel stage's partitions — the thin docs [[Spread]] spread,
    * or the input's own splits — and a repartition after the kernel
    * would shuffle every `(sh, bk)` signature row once more for
    * nothing but a file count. */
  def saveMinhashIndex(index: DataFrame, path: String): Unit =
    FlatIndex.Minhash.build(index, path)(identity)

  /** Roll a persisted [[saveMinhashIndex]] directory forward with an
    * ingest batch — cost ∝ BATCH: the batch is fingerprinted under the
    * ARTIFACT's params (manifest read, no data head), staged in by
    * rename, manifest rolled forward from the staging listing alone
    * ([[FlatIndex.append]]).
    * REPLAY-TOLERANT: a crash-redelivered batch appends exact duplicate
    * rows, which [[nearDupAgainstArtifact]] folds at the pair level
    * and [[compactMinhashIndex]] folds physically — no fresh-id
    * precondition on the artifact route (the in-memory
    * [[appendToMinhashIndex]] path keeps its checked contract).
    *
    * Like [[saveMinhashIndex]], the delta's files are the kernel
    * stage's partitions: a layout step after the kernel would either
    * shuffle the signature rows (the old `repartition(1)`) or, as a
    * coalesce, run the kernel in one task (the curation cycle's
    * append stage +27 %, ten pairs on a 4-core box). So the file count
    * per append follows the cluster, not the batch: `defaultParallelism`
    * files when [[Spread]] spreads a small batch, the batch's own
    * partition count otherwise. Capping it would cap the kernel's
    * parallelism with it; [[compactMinhashIndex]] folds the files. */
  def appendMinhashIndexDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame): Unit =
    FlatIndex.Minhash.append(spark, path)(p => minhashDelta(p(), newDocs))

  /** [[appendMinhashIndexDelta]] for an ALREADY-FINGERPRINTED delta
    * (rows shaped by [[minhashIndexDelta]] under the artifact's own
    * params) — the streaming sink's entry point: the near-dup ingest
    * stream screens each micro-batch against the index it just read,
    * so the delta is computed before the sink runs. Routing it through
    * the staged protocol keeps a manifest-carrying artifact's sidecar
    * true under streaming appends (a raw `mode("append")` staled it
    * without tripping the dirty flag).
    *
    * The delta lands its own partitions — those of the kept rows it was
    * fingerprinted from, so a trigger adds as many index files as
    * corpus files. A `repartition(1)` would shuffle the signature rows;
    * a `coalesce(1)` would pull the kernel into one task whenever the
    * kept rows span several partitions. */
  def appendMinhashIndexDeltaFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame): Unit =
    FlatIndex.Minhash.append(spark, path)(_ => delta)

  /** Fold a delta-appended [[saveMinhashIndex]] directory
    * ([[FlatIndex.compact]]): whole-row distinct (replayed deltas are
    * exact duplicates, and identical rows share a doc_id). A pre-pass
    * reads the `doc_id` column alone and asks whether any doc_id occurs
    * more than once: a count over a doc_id window, whose one exchange
    * carries the 8-byte keys alone (a groupBy count's partial counts
    * would ride beside them, and a map partition rarely holds a doc_id
    * twice, so partial aggregation folds nothing). Only the answer
    * reaches the driver (`isEmpty`), never the ids.
    *  - None repeats (every month without a replay): the fold is a
    *    narrow `coalesce(files)`, and no exchange moves a signature row.
    *    The compacted files follow no doc_id layout (the band screen
    *    joins on exploded band keys; nothing prunes on doc_id), and
    *    `files` is an upper bound: a narrow coalesce writes no more
    *    files than its input has partitions.
    *  - Some repeat (a replayed delta): the whole index shuffles ONCE —
    *    hash on `doc_id` into `files` partitions, which the distinct
    *    rides — so the compacted files are laid out by doc_id hash.
    *
    * A doc_id reused with different text keeps both rows. Returns
    * (files before, files after). */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Int = 8): (Int, Int) = {
    val (before, after, _) = FlatIndex.Minhash.compact(spark, path) {
      (stored, _, _) =>
        val repeats = stored.select(
            count(lit(1)).over(Window.partitionBy("doc_id")).as("n"))
          .filter(col("n") > 1)
        if (repeats.isEmpty) stored.coalesce(files)
        else stored.repartition(files, col("doc_id")).distinct()
    }
    (before, after)
  }

  /** [[nearDupAgainstIndex]] THROUGH a persisted artifact: the index
    * side resolves via the manifest-planned [[readMinhashIndex]] (zero
    * listings), and the reported pairs are deduped — a crash-replayed
    * delta's identical rows can fan the candidate and verify joins
    * into identical duplicate pair rows (same doc_a/doc_b/jaccard:
    * jaccard is computed per pair row from the stored arrays, so
    * duplicates agree), and the fold is ∝ reported pairs. The
    * signature params come from the same manifest read that plans the
    * scan (a manifest-less artifact reads them from the data head).
    * Everything else is the in-memory screen verbatim. */
  def nearDupAgainstArtifact(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, threshold: Double): DataFrame = {
    val (index, params) = FlatIndex.Minhash.open(spark, path)
    nearDupWithParams(newDocs, index, params(), threshold)
      .dropDuplicates(Seq("doc_a", "doc_b"))
  }

  /** Per-document SimHash fingerprints (`bits` wide, default 64) — the
    * fused native expressions ([[graft.expressions.ShingleHashes]] +
    * [[graft.expressions.SimHashPacked]]); `algo` = "xx64" (production)
    * or "md5_60" (engine-portable). The HOF votes/pack twin stays the
    * semantics reference, parity spec-locked in SimHashExprSpec. */
  def simhashFingerprints(docs: DataFrame, bits: Int = 64,
      algo: String = "xx64"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") > 0)
      .select($"doc_id", simhashPacked($"toks", bits, algo).as("simhash"))
  }

  /** SimHash near-duplicates: fingerprints, candidates from any shared
    * band, verified by Hamming ≤ maxHamming. Banding is `bands` equal
    * slices of the `bits`-wide fingerprint (default 4×16 bits).
    * Pigeonhole guarantee: every pair with Hamming ≤ bands-1 has at
    * least one untouched band, so recall is exact for
    * maxHamming ≤ bands-1 (enforced). Wider bands = exponentially more
    * buckets = smaller per-bucket self-joins at corpus scale.
    *
    * `maxBucket` is the hot-bucket guard (the q20 `maxDF` move for the
    * band index): band-buckets holding more than `maxBucket` docs are
    * excluded from CANDIDATE GENERATION. Without it the per-bucket
    * self-join is quadratic in bucket size — the sf10 sweep measured
    * the candidate mass Σc² growing from 6.6e7 (sf1) to 5.9e8 (sf3)
    * with single buckets reaching 9k docs (≈4e7 pairs landing on ONE
    * shuffle key = one task), because near-identical boilerplate
    * concentrates simhash values; real corpora do the same with
    * templates and empty docs. The trade, exactly like maxDF: a
    * true near-dup pair is missed only if EVERY band it shares is
    * hotter than the cap; emitted pairs' Hamming distances stay exact.
    * The pigeonhole equality with brute force holds wherever the cap
    * does not bind (DedupSpec pins both sides of that boundary). */
  def simhashDup(docs: DataFrame, maxHamming: Int, bands: Int = 4,
      bits: Int = 64, algo: String = "xx64",
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming <= bands - 1,
      s"banding recall is exact only for maxHamming <= ${bands - 1}")
    val width = bits / bands
    val mask = (1L << width) - 1
    // both sides of the band self-join read the fingerprints — persist so
    // the per-bit vote fold runs once per doc (spread + eager were tried
    // here in r19 and REVERTED: full-bench-context medians read 1.6x
    // baseline with them and 1.0x without — the fold is light enough
    // that the added exchange + materialization pass cost more than the
    // single-task fold they parallelized)
    val fp = CacheScope.persist(simhashFingerprints(docs, bits, algo))
    val bandRows = fp.select(
      $"doc_id", $"simhash",
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned($"simhash", b * width).bitwiseAND(lit(mask))
            .as("bh"))): _*))
        .as("bk"))
      .select($"doc_id", $"simhash", $"bk.band".as("band"), $"bk.bh".as("band_hash"))
    // window-form bucket cap (r20, guide §2.4): one exchange on the
    // band key instead of the aggregate + semi-join pair — the
    // candidate self-join then reuses the same partitioning in place.
    // Identical rows out (window count == global groupBy count).
    val candRows =
      if (maxBucket == Int.MaxValue) bandRows
      else bandRows.withColumn("bc", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"band", $"band_hash")))
        .filter($"bc" <= maxBucket)
        .drop("bc")
    candRows.as("a")
      .join(candRows.as("b"),
        $"a.band" === $"b.band" && $"a.band_hash" === $"b.band_hash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** Eager lineage-truncating checkpoint: `reliable = false` (default)
    * uses `localCheckpoint` (block-manager storage — fast, but blocks
    * die with their executor); `reliable = true` writes to the
    * checkpoint dir the caller set via
    * `spark.sparkContext.setCheckpointDir` so a lost executor recomputes
    * from reliable storage — the right mode for multi-hour cluster runs
    * where a single executor loss must not abort the whole CC job. */
  private def ckpt(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)

  /** Eagerly free a superseded checkpoint's block-manager storage.
    * Reliable checkpoints live as files, not blocks — those are left to
    * the ContextCleaner (`spark.cleaner.referenceTracking.cleanCheckpoints`). */
  private def freeCkpt(df: DataFrame, reliable: Boolean): Unit =
    if (!reliable) GraftColumnBridge.unpersistLocalCheckpoint(df)

  /** Near-dup pairs → canonical clusters: connected components over the
    * pair graph, labeled by each component's minimum doc_id, plus the
    * keep/drop flag a dedup pipeline acts on (minimum id keeps).
    *
    * Pregel-style min-label propagation: every node starts as its own
    * label; each round takes the min over neighbors' labels; converges
    * in ≤ component-diameter rounds. Near-dup components are tiny and
    * shallow (pairs share content), so rounds stay in the low single
    * digits — but the caller should NOT have to know their graph's
    * diameter, so after `fallbackAfter` unconverged rounds the operator
    * contracts the graph by the partial labels (every edge (u,v) becomes
    * (label(u), label(v)) — the quotient of a connected graph is
    * connected, and the component minimum is a fixed point of min-label,
    * so components and minima are preserved) and finishes with
    * [[dedupClustersStar]]'s O(log n) large-star/small-star alternation.
    * A 10⁶-node chain thus costs `fallbackAfter` + O(log n) rounds, not
    * 10⁶.
    *
    * Per-round cost is ONE live exchange: the edge list is shuffled onto
    * its join key (`dst`) once up front and cached in that layout, and
    * the label frontier rides checkpoint-preserved hash partitioning on
    * `node` — so the neighbor join co-locates both sides, only the
    * `groupBy(src)` re-shuffles, and the frontier-update join is again
    * co-located (src and node share the hash layout). Each round's
    * frontier is checkpointed — the label frame feeds BOTH sides of the
    * next round's join, so without truncation the logical plan doubles
    * per round and the analyzer goes exponential long before the data
    * does; the superseded round's checkpoint blocks are freed eagerly
    * rather than waiting on the GC-driven ContextCleaner. The
    * convergence count reads the just-materialized checkpoint blocks, so
    * it costs a job launch, not a recompute — and it runs at round 1
    * (keeping the common shallow graph at one round + one count) then
    * only every `checkEvery` rounds, so a deep graph pays the extra job
    * launch half as often on its way to the star fallback.
    *
    * Output: one row per doc appearing in ≥ 1 pair —
    * (doc_id, component, is_keep). */
  def dedupClusters(pairs: DataFrame, fallbackAfter: Int = 8,
      checkEvery: Int = 2, reliable: Boolean = false,
      maxStarRounds: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    require(fallbackAfter >= 1, "fallbackAfter must be >= 1")
    require(checkEvery >= 1, "checkEvery must be >= 1")
    // both union arms and every propagation round read the pair list —
    // materialize it once (the producing plan is often a whole dedup
    // pipeline, far too expensive to re-run per arm); cached already
    // laid out on the join key so rounds reuse the exchange. EAGER:
    // the union's two arms are independent map stages that race a lazy
    // cache and re-run the producing pipeline per arm (measured on
    // q42 — see CacheScope.persistEager)
    val p = CacheScope.persistEager(pairs.select($"doc_a", $"doc_b"))
    val edges = CacheScope.persist(
      p.select($"doc_a".as("src"), $"doc_b".as("dst"))
        .union(p.select($"doc_b".as("src"), $"doc_a".as("dst")))
        .repartition($"dst"))
    // seed = min(node, min(neighbors)): the same shuffle a plain
    // distinct would cost, but it folds the first propagation round into
    // the seed — a clique/star component (the common near-dup shape)
    // then converges in ONE confirming round instead of two
    var frontier = ckpt(edges.groupBy($"src").agg(min($"dst").as("mind"))
      .select($"src".as("node"), least($"src", $"mind").as("label")),
      reliable)
    var labels = frontier
    var converged = false
    var round = 0
    while (!converged && round < fallbackAfter) {
      round += 1
      val neighborMin = edges.join(labels, $"dst" === $"node")
        .groupBy($"src").agg(min($"label").as("nmin"))
      val updated = ckpt(labels.join(neighborMin, $"node" === $"src", "left")
        .select($"node", $"label",
          least($"label", coalesce($"nmin", $"label")).as("next")), reliable)
      // `updated` is materialized: the previous frontier's checkpoint
      // blocks are now unreachable — free them before the next round
      freeCkpt(frontier, reliable)
      frontier = updated
      labels = updated.select($"node", $"next".as("label"))
      if (round == 1 || round % checkEvery == 0 || round == fallbackAfter)
        converged = updated.filter($"next" =!= $"label").count() == 0L
    }
    val out =
      if (converged)
        labels.select($"node".as("doc_id"), $"label".as("component"),
          ($"node" === $"label").as("is_keep"))
      else {
        // adaptive fallback: the graph is deeper than fallbackAfter —
        // contract every pair to its endpoints' current labels (the
        // quotient keeps one node per partial-label class; star then
        // resolves the quotient's components in O(log n) rounds) and map
        // each original node through its label to the star component
        val la = labels.select($"node".as("doc_a"), $"label".as("la"))
        val lb = labels.select($"node".as("doc_b"), $"label".as("lb"))
        val contracted = p.join(la, "doc_a").join(lb, "doc_b")
          .select($"la".as("doc_a"), $"lb".as("doc_b")).distinct()
        val starOut = dedupClustersStar(contracted, maxStarRounds, reliable)
        labels
          .join(starOut.select($"doc_id".as("label"), $"component"), "label")
          .select($"node".as("doc_id"), $"component",
            ($"node" === $"component").as("is_keep"))
      }
    edges.unpersist()
    p.unpersist()
    out
  }

  /** Train/eval split-leakage audit — the hygiene gate a near-dup-aware
    * training pipeline runs AFTER splitting: a near-duplicate cluster
    * whose members straddle split boundaries leaks evaluation signal
    * into training (the eval doc's near-copy is trained on), so the
    * membrane between splits must be the CLUSTER, not the document.
    * `pairs` is any near-dup pair list (q20/q21/q22 shapes), `splits`
    * maps `doc_id → split` (the deterministic hash split, q49 shape).
    * Returns only the offending components: `(component, n_docs,
    * n_splits, splits)` with the straddled split names sorted csv.
    *
    * Scale shape: clusters come from [[dedupClusters]] (cost ∝ pairs,
    * not corpus); the split join is a doc_id equi-join of the cluster
    * membership (pair-proportional, NOT the corpus — singleton docs
    * cannot leak by near-dup and never enter), and the rollup keys on
    * component with map-side partial aggregation. The csv of split
    * names is bounded by the split-scheme arity, not data. */
  def splitLeakage(pairs: DataFrame, splits: DataFrame): DataFrame =
    splitLeakageFromComponents(dedupClusters(pairs), splits)

  /** [[splitLeakage]] over an already-resolved components frame (the
    * [[dedupClusters]] output shape) — the composition seam: a pipeline
    * that also runs [[keepByPriorityFromComponents]] resolves the
    * components ONCE and fans out, instead of paying the propagation
    * loop per consumer (the q75 deployment shape). */
  def splitLeakageFromComponents(components: DataFrame,
      splits: DataFrame): DataFrame = {
    val spark = components.sparkSession
    import spark.implicits._
    components
      .join(splits.select($"doc_id", $"split"), "doc_id")
      .groupBy($"component")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"split").as("n_splits"),
        array_join(array_sort(collect_set($"split")), ",").as("splits"))
      .filter($"n_splits" > 1)
  }

  /** Priority-aware keep resolution over near-dup clusters:
    * [[dedupClusters]] keeps the min-id member (deterministic but
    * arbitrary); this variant keeps the member a scoring pass ranked
    * highest — a corpus builder wants the BEST copy of a duplicated
    * document, not the first-crawled one. `priority` maps `doc_id →
    * priority` (e.g. q19's quality score, PRE-ROUNDED so cross-engine
    * float ulps cannot flip ranks); ties break to the lower doc_id, so
    * the result is total and rebuild-stable. Returns the q42 shape
    * `(doc_id, component, is_keep)`.
    *
    * Scale shape: the component labels cost what [[dedupClusters]]
    * costs (∝ pairs); the priority join is doc_id-equi over cluster
    * MEMBERS only, and the rank is a window partitioned by component —
    * per-cluster work, no global ordering anywhere. */
  def keepByPriority(pairs: DataFrame, priority: DataFrame): DataFrame =
    keepByPriorityFromComponents(dedupClusters(pairs), priority)

  /** [[keepByPriority]] over an already-resolved components frame — see
    * [[splitLeakageFromComponents]] for the composition rationale. */
  def keepByPriorityFromComponents(components: DataFrame,
      priority: DataFrame): DataFrame = {
    val spark = components.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"component").orderBy($"priority".desc, $"doc_id".asc)
    components.select($"doc_id", $"component")
      .join(priority.select($"doc_id", $"priority"), "doc_id")
      .withColumn("_rn", row_number().over(w))
      .select($"doc_id", $"component", ($"_rn" === 1).as("is_keep"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction — the adversarial-graph fallback to [[dedupClusters]].
    *
    * Min-label propagation needs diameter-many rounds: a pathological
    * pair graph (a 10⁶-node chain from overlapping shingle windows, or
    * template-chained boilerplate) would run 10⁶ shuffles. The star
    * operations contract the graph instead: large-star points every
    * neighbor LARGER than the pivot at the pivot's minimum
    * neighborhood label; small-star re-points the smaller-or-equal
    * ones. Alternating the two converges to a star forest centered at
    * each component's minimum in O(log n) rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * published shape for trillion-edge graphs.
    *
    * Per half-round: one groupBy(pivot) for neighborhood minima, one
    * join back, one distinct — edge-proportional shuffles, no fan-out.
    * Same checkpoint discipline as [[dedupClusters]] (truncate lineage
    * each round, free superseded blocks eagerly). `maxRounds` is a
    * safety valve: hitting it raises rather than looping silently.
    *
    * Output contract matches [[dedupClusters]]: one row per doc in ≥ 1
    * pair — (doc_id, component, is_keep), component = the component's
    * minimum doc_id. */
  def dedupClustersStar(pairs: DataFrame, maxRounds: Int = 64,
      reliable: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // canonical undirected pairs; the node universe is fixed BEFORE
    // self-loops are dropped, so a doc appearing only as (a, a) still
    // gets its output row — same contract as dedupClusters
    val canon = pairs
      .select(least($"doc_a", $"doc_b").as("u"),
        greatest($"doc_a", $"doc_b").as("v"))
    // checkpointed (not merely cached): the frame outlives the round-0
    // edge checkpoint it derives from, so it must not keep a recompute
    // path through blocks the loop frees eagerly
    val nodes = ckpt(canon
      .select($"u".as("node")).union(canon.select($"v".as("node")))
      .distinct(), reliable)
    var edges = ckpt(canon
      .filter($"u" =!= $"v").distinct(), reliable)

    def directed(e: DataFrame): DataFrame =
      e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))

    // one star pass: point each pivot's selected neighbors at the
    // pivot's neighborhood minimum m = min(pivot, min(neighbors))
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val dir = directed(e)
      val mins = dir.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u".as("pivot"), least($"u", $"mv").as("m"))
      val joined = dir.join(mins, $"u" === $"pivot")
      val repointed =
        if (large) joined.filter($"v" > $"u").select($"v".as("a"), $"m".as("b"))
        else joined.filter($"v" <= $"u").select($"v".as("a"), $"m".as("b"))
          .union(mins.select($"pivot".as("a"), $"m".as("b")))
      repointed
        .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
        .filter($"u" =!= $"v").distinct()
    }

    var round = 0
    var stable = false
    var edgeCount = edges.count()
    while (!stable) {
      round += 1
      require(round <= maxRounds,
        s"star contraction did not converge in $maxRounds rounds")
      val next = ckpt(star(star(edges, large = true), large = false),
        reliable)
      // fixpoint: the edge set survived a full large+small round intact
      // (sizes first — cheap, and the old side's count is carried from
      // the previous round; exceptAll only at equal counts)
      val nextCount = next.count()
      stable = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      freeCkpt(edges, reliable)
      edges = next
      edgeCount = nextCount
    }

    // star forest: every edge is (component-min, member); centers (and
    // any node whose component collapsed onto itself) carry no edge
    nodes
      .join(edges.select($"v".as("node"), $"u".as("comp")), Seq("node"), "left")
      .select($"node".as("doc_id"), coalesce($"comp", $"node").as("component"))
      .withColumn("is_keep", $"doc_id" === $"component")
  }

  /** Winnowing (rolling-hash) document fingerprints — the MOSS
    * selection: hash every POSITIONAL k-gram (no dedup — position
    * matters), slide a w-wide window over the hash sequence, keep each
    * window's minimum. Guarantee: any common token run of ≥ w+k-1
    * tokens contains a full identical hash window in both documents, so
    * the two share at least one fingerprint — which is what makes the
    * selected subset (≈ 2/(w+1) of all k-grams) sufficient for
    * plagiarism/overlap detection at a fraction of the index size.
    *
    * Pure per-row expression work, one explode, no shuffle — scales
    * linearly like the other fingerprint operators. Both passes are
    * fused native kernels: k-gram hashing via
    * [[graft.expressions.ShingleHashes]], window minima via
    * [[graft.expressions.WinnowMins]] (monotonic deque — O(n) per doc
    * regardless of w, where the HOF `slice`+`array_min` form the parity
    * spec keeps as the semantics twin is O(n·w)). Output: distinct
    * (doc_id, fingerprint). */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int,
      algo: String = "xx64"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.cpuBound(docs) // guide §2.5: the winnow pass is the CPU
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= k)
      .withColumn("hs", shingleHashes($"toks", k, algo))
      .filter(size($"hs") >= w)
      .select($"doc_id", explode(winnowMins($"hs", w)).as("fingerprint"))
  }

  /** One complete incremental near-dup ingest round, composed from the
    * index primitives: screen `newDocs` against the standing index and
    * itself ([[nearDupAgainstIndex]]), resolve the pair graph
    * ([[dedupClusters]]), drop every batch doc that isn't its
    * component's keeper, and return `(kept rows, updated index)` — the
    * two artifacts the next ingest round consumes.
    *
    * Keep policy falls out of min-id-keeps plus the fresh-id contract
    * (batch ids exceed every indexed id, the natural shape when an
    * ingest pipeline assigns monotonically increasing ids): a batch doc
    * near-duplicating ANY indexed doc shares a component with a lower
    * corpus id and is dropped; a batch-only cluster keeps its lowest
    * id. Corpus rows are never touched — drops apply to the batch via
    * a left-anti join only (the cluster pass may mark a corpus doc
    * non-keeper when two corpus docs are bridged by a batch near-dup;
    * that duplication already lives in the standing corpus and is this
    * round's signal, not its edit).
    *
    * The fresh-id contract is a CHECKED precondition here: a batch id
    * already present in the index fails fast (ContractSpec) instead of
    * silently suppressing its cross pair and mis-resolving keeps. */
  def nearDupIngestRound(newDocs: DataFrame, index: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    // CHECKED precondition, not just documented: a batch id colliding
    // with an indexed id would silently suppress its cross pair
    // (doc_a =!= doc_b) and mis-resolve keeps. The check is a left-semi
    // probe on 8-byte keys that short-circuits at the first hit —
    // negligible next to the screen it guards.
    val colliding = newDocs.select($"doc_id")
      .join(index.select($"doc_id"), Seq("doc_id"), "left_semi")
      .take(3)
    require(colliding.isEmpty,
      s"batch doc_ids already exist in the index (e.g. " +
        s"${colliding.map(_.get(0)).mkString(", ")}) — ingest batches " +
        "must carry fresh ids; re-id the batch before screening")
    val pairs = nearDupAgainstIndex(newDocs, index, threshold)
    val drops = dedupClusters(pairs.select($"doc_a", $"doc_b"))
      .filter(!$"is_keep").select($"doc_id")
    val kept = newDocs.join(drops, Seq("doc_id"), "left_anti")
    (kept, appendToMinhashIndex(index, kept))
  }

  /** Winnowing-fingerprint index of a corpus — the contamination-side
    * sibling of [[minhashBandIndex]]: winnow the training corpus ONCE
    * (`(doc_id, fingerprint, df)` + embedded `wf_*` params — `df` is
    * the fingerprint's document frequency, stored so screens apply
    * their DF cap as a plain filter), persist as
    * parquet, and screen every future eval/benchmark candidate set
    * against it via [[contaminationAgainstIndex]] without re-reading a
    * training document. ≈ 2/(w+1) of the corpus' k-grams × 8 bytes —
    * far smaller than the text it indexes. */
  def winnowIndex(docs: DataFrame, k: Int, w: Int,
      algo: String = "xx64"): DataFrame =
    FlatIndex.Winnow.stamp(withDf(winnowFingerprints(docs, k, w, algo)),
      Seq(k, w, algo))

  /** Attach each fingerprint's document frequency as a stored column —
    * ONE shuffle at index-build/append time so that every screen can
    * apply its DF cap as a plain pushed-down filter instead of
    * re-aggregating the whole index per call (r9: measured at sf1, the
    * per-screen DF aggregate was the screen path's largest corpus-
    * proportional term; build-time df moves it to the rare side of the
    * build-once/screen-often asymmetry). */
  private def withDf(fp: DataFrame): DataFrame = {
    val spark = fp.sparkSession
    import spark.implicits._
    fp.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy($"fingerprint")))
  }

  /** `docs` winnowed under winnow params `p` — [[minhashDelta]]'s
    * counterpart (the in-memory routes read `p` from a head row). */
  private def winnowDelta(p: Seq[Any], docs: DataFrame): DataFrame = {
    val Seq(k: Int, w: Int, algo: String) = p
    winnowFingerprints(docs, k, w, algo)
  }

  /** Append newly ingested training docs to a standing [[winnowIndex]]
    * — the roll-forward [[appendToMinhashIndex]] provides on the
    * near-dup side, so a GROWING training corpus (the reference's
    * monthly-dump cadence, docker/aact/Dockerfile:20-22) never rebuilds
    * its contamination index from scratch: each month contributes only
    * its own documents' fingerprints. Winnowing parameters come FROM
    * the artifact, so appended rows are always fingerprinted
    * consistently with the standing corpus.
    *
    * The fresh-doc contract is a CHECKED precondition (mirroring
    * [[nearDupIngestRound]]): re-appending an already-indexed doc — a
    * crash-replayed monthly append — would double-count its
    * fingerprints' `df`, which can push them over
    * [[contaminationAgainstIndex]]'s `maxDF` cap and silently drop
    * real contamination matches. */
  def appendToWinnowIndex(index: DataFrame, newDocs: DataFrame): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val p = FlatIndex.Winnow.headParams(index)
    val colliding = newDocs.select($"doc_id")
      .join(index.select($"doc_id"), Seq("doc_id"), "left_semi")
      .take(3)
    require(colliding.isEmpty,
      s"batch doc_ids already exist in the winnow index (e.g. " +
        s"${colliding.map(_.get(0)).mkString(", ")}) — a replayed append " +
        "would double-count df; re-derive the delta (anti-join on doc_id) " +
        "before appending")
    // df must be recomputed over the UNION (a fingerprint's frequency
    // changes when new docs carry it) — one shuffle per append, paid on
    // the rare side of the build-once/screen-often asymmetry
    FlatIndex.Winnow.stamp(withDf(index.select($"doc_id", $"fingerprint")
      .unionByName(winnowDelta(p, newDocs))), p)
  }

  /** Incremental train/eval contamination screening against a standing
    * [[winnowIndex]]: fingerprints the candidate eval docs (per-row,
    * zero shuffle), joins them to the index's DF-capped fingerprints,
    * and reports `(new_id, corpus_id, n_shared ≥ minShared)` — the
    * pairs where a candidate shares enough winnowed fingerprints with
    * a training doc that verbatim overlap ≥ w+k−1 tokens is certain
    * (the MOSS guarantee). Same decontamination semantics as the
    * declared q47, with the DF cap computed over the INDEX side (the
    * only side an incremental screen can know); DedupSpec pins it
    * equal to q47's split on this corpus. At 100 TB the training
    * corpus contributes an 8-byte fingerprint join — never a re-winnow
    * — and each benchmark-release screen costs fingerprinting the
    * (tiny) candidate set plus a candidate-proportional join. The DF
    * cap reads the `df` column STORED in the artifact (computed at
    * build/append time), so it is a pushed-down parquet range filter
    * here — no per-screen aggregate over the index (r9; IndexBench
    * measures the win). */
  def contaminationAgainstIndex(newDocs: DataFrame, index: DataFrame,
      maxDF: Int = 100, minShared: Int = 2): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val capped = index.filter($"df" <= maxDF)
    winnowDelta(FlatIndex.Winnow.headParams(index), newDocs)
      .select($"fingerprint", $"doc_id".as("new_id"))
      .join(capped.select($"fingerprint", $"doc_id".as("corpus_id")),
        "fingerprint")
      .groupBy($"new_id", $"corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }

  // ---------------------------------------------- winnow-index artifact

  /** Open a persisted [[saveWinnowIndex]] directory for screening
    * ([[FlatIndex.open]]): with a clean manifest the scan plans with
    * ZERO filesystem listings at any corpus age, the screen's
    * pushed-down fingerprint/df predicates pruning row groups off the
    * manifest's exact byte extents exactly as on a discovered read. */
  def readWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    FlatIndex.Winnow.open(spark, path)._1

  /** Persist a [[winnowIndex]] as a range-sorted parquet DIRECTORY —
    * sorted on `fingerprint` so the screen's candidate-fingerprint IN
    * predicate prunes to ∝-candidate row groups (the
    * [[saveExactIndex]] physics on the contamination side), born with
    * a manifest carrying the winnowing params (`wf_k`/`wf_w`/`wf_algo`)
    * under the writer lease ([[FlatIndex.build]]). The params come from
    * the frame's plan literals (no head-row job), so an empty corpus
    * builds a legal empty artifact, and a frame without them reads a
    * head row — failing fast, before the lease, when it is empty — as
    * [[saveMinhashIndex]] does. */
  def saveWinnowIndex(index: DataFrame, path: String, files: Int = 8): Unit =
    FlatIndex.Winnow.build(index, path)(rangeSorted(_, files, "fingerprint"))

  /** Roll a persisted [[saveWinnowIndex]] directory forward with a
    * newly ingested training batch — cost ∝ BATCH, nothing ∝ the
    * index: the batch is winnowed with the ARTIFACT'S params (manifest
    * read, no footer) and lands as new sorted part-files staged in by
    * rename ([[FlatIndex.append]]).
    *
    * The df law that makes this ∝ batch: delta rows store their
    * BATCH-LOCAL document frequency — a LOWER BOUND of the global df,
    * which only grows (the in-memory [[appendToWinnowIndex]] instead
    * recomputes df over the whole union, an O(index) shuffle per
    * append). Consequently a delta-appended artifact's stored `df` is
    * advisory between compactions: [[contaminationAgainstArtifact]]
    * recomputes the exact df over just the candidate-matched rows
    * (∝ candidates) and uses stored df only as the sound hot-row
    * scan screen, and [[compactWinnowIndex]] restores exact stored df
    * globally. This also makes the route REPLAY-TOLERANT — a
    * crash-redelivered batch appends exact duplicate
    * (doc_id, fingerprint) rows, which the screen dedups and the
    * compaction folds — so no fresh-doc precondition is needed (the
    * in-memory route needs one precisely because its df recompute
    * double-counts replays).
    *
    * The df window rides the write's own range exchange (r20, guide
    * §2.4): range partitioning on fingerprint already clusters equal
    * fingerprints, and the in-file sort is the window's required
    * ordering, so the batch-local df costs no exchange of its own. */
  def appendWinnowIndexDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, files: Int = 1): Unit =
    FlatIndex.Winnow.append(spark, path) { p =>
      FlatIndex.Winnow.stamp(withDf(
        rangeSorted(winnowDelta(p(), newDocs), files, "fingerprint")), p())
    }

  /** Fold a delta-appended [[saveWinnowIndex]] directory back to the
    * pristine layout ([[FlatIndex.compact]]): dedup (doc_id,
    * fingerprint) — replayed deltas fold away — RECOMPUTE the exact
    * global df (the one O(index) shuffle, paid here on the rare side of
    * the build-once/screen-often asymmetry instead of per append), and
    * re-sort globally on fingerprint so file-level zone pruning holds
    * again. That one shuffle is the layout's range exchange on
    * fingerprint: the dedup and the df window both run on its
    * partitioning, the [[appendWinnowIndexDelta]] shape. Returns (files
    * before, files after). */
  def compactWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Int = 8): (Int, Int) = {
    val (before, after, _) = FlatIndex.Winnow.compact(spark, path) {
      (stored, p, _) => FlatIndex.Winnow.stamp(withDf(rangeSorted(
        stored.select(col("doc_id"), col("fingerprint")), files,
        "fingerprint", distinct = true)), p)
    }
    (before, after)
  }

  /** Incremental contamination screening against a PERSISTED
    * [[saveWinnowIndex]] artifact — [[contaminationAgainstIndex]]'s
    * semantics (df cap over the index side, `n_shared >= minShared`)
    * made correct AND candidate-proportional over a delta-appended
    * artifact, where stored `df` is only a lower bound between
    * compactions (see [[appendWinnowIndexDelta]]):
    *
    *  1. winnow the candidates with the artifact's params (manifest
    *     read — no footer job), collect their distinct fingerprints
    *     (bounded: ∝ candidate tokens);
    *  2. TWO pushed-down scans of the manifest-planned index, both
    *     predicated `fingerprint IN (candidates)` (driver-pushed IN up
    *     to the session's parquet pushdown threshold, broadcast
    *     semi-join above it): matched rows with `df <= maxDF`, and the
    *     KNOWN-HOT fingerprint set from rows with `df > maxDF`
    *     (projection: one column; the df predicate lets row-group
    *     stats skip hot postings without reading them);
    *  3. exact df = count per fingerprint over the DEDUPED
    *     (doc_id, fingerprint) matches — exact because stored df is a
    *     lower bound: any fingerprint with a row past the cap is in
    *     the known-hot set and excluded wholesale, so every surviving
    *     fingerprint has ALL its rows in the matched scan;
    *  4. cap on the exact df, then the same pair count as the
    *     in-memory screen.
    *
    * Cost ∝ candidates and their matched postings at any corpus age —
    * never a df re-aggregate over the index, never a listing.
    * Spec-pinned equal to [[contaminationAgainstIndex]] over the
    * from-scratch [[winnowIndex]], including stale-df and replayed
    * states. */
  def contaminationAgainstArtifact(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, maxDF: Int = 100,
      minShared: Int = 2, inListLimit: Int = 1000): DataFrame = {
    import spark.implicits._
    // one sidecar read serves both the params and the planned scan
    val (index, params) = FlatIndex.Winnow.open(spark, path)
    val candFp = winnowDelta(params(), newDocs).localCheckpoint(true)
    val candSet = candFp.select($"fingerprint").distinct()
      .localCheckpoint(true)
    // same pushdown economics as dedupAgainstIndexScreened, via the
    // shared probe: a small candidate set rides the scan as a real IN
    // predicate (row-group point-lookups); a large one degrades to a
    // broadcast semi-join. The matched (df <= maxDF) and known-hot
    // (df > maxDF) branches split ONE restricted scan: on the semi-join
    // route the index is a full pass per consumer, so the restricted
    // rows (∝ candidates, bounded) are materialized once and both
    // branches read the checkpoint — the old shape scanned the whole
    // index TWICE (r20, guide §2.4/§1.2; the combined pass reads each
    // candidate row group once instead of splitting the same row groups
    // across two complementary-df scans). The IN route keeps its two
    // stats-skipped point-lookup scans — cheaper there than a
    // materialize-and-read-back.
    val restriction = inKeysOrFrame(candSet, inListLimit)
    val (matchedSrc, hotSrc) = restriction match {
      case Left(list) =>
        (index.filter($"fingerprint".isin(list: _*) && $"df" <= maxDF),
          index.filter($"fingerprint".isin(list: _*) && $"df" > maxDF))
      case Right(ks) =>
        // eager persist, not a checkpoint: both branches read the one
        // cached pass (no race — persistEager pins before consumers
        // plan), and the cache keeps the lineage visible so the plan
        // still carries the ManifestFileIndex-planned scan the
        // zero-listing pin (DedupSpec) asserts on
        val restricted = CacheScope.persistEager(index
          .join(broadcast(ks), Seq("fingerprint"), "left_semi")
          .select($"fingerprint", $"doc_id", $"df"))
        (restricted.filter($"df" <= maxDF), restricted.filter($"df" > maxDF))
    }
    val matched = matchedSrc
      .select($"fingerprint", $"doc_id")
      .dropDuplicates(Seq("fingerprint", "doc_id"))
    val knownHot = hotSrc
      .select($"fingerprint").distinct()
    val exactDf = org.apache.spark.sql.expressions.Window
      .partitionBy($"fingerprint")
    val capped = matched
      .withColumn("df_true", count(lit(1)).over(exactDf))
      .filter($"df_true" <= maxDF)
      .join(knownHot, Seq("fingerprint"), "left_anti")
    candFp.select($"fingerprint", $"doc_id".as("new_id"))
      .join(capped.select($"fingerprint", $"doc_id".as("corpus_id")),
        "fingerprint")
      .groupBy($"new_id", $"corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }

  /** Embedding-cosine near-duplicates over an `emb(vec_id, embedding
    * array<float>)` relation: multi-table sign-bucket LSH candidates,
    * exact cosine verification.
    *
    * Each table projects the vector onto a fixed coordinate set and
    * buckets by the sign pattern (a deterministic, engine-portable
    * random-hyperplane LSH — the hyperplanes are the coordinate axes).
    * A pair is a candidate if it collides in ANY table; candidates only
    * are verified with the exact (rounded) cosine, so reported sims are
    * exact. Recall: a pair at cosine ≈ 1 agrees on every sign with
    * probability → 1, and an exact copy collides in every table by
    * construction; more tables → higher recall for weaker pairs.
    *
    * Scale: per-table buckets hold ~N/2^k vectors, the self-join is
    * per-(table, bucket), and verification touches candidate pairs only
    * — never all-pairs. `bucketCap` bounds the members any one (table,
    * bucket) admits to the candidate join (lowest vec_id wins —
    * deterministic and oracle-expressible), so a hot sign-bucket (e.g. a
    * dominant embedding direction after normalization) fans ≤ C(cap,2)
    * pairs instead of C(|bucket|,2); pairs it drops can still collide in
    * the other tables. */
  def embeddingNearDup(emb: DataFrame, coordTables: Seq[Seq[Int]],
      threshold: Double, bucketCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // vectors + norms feed the bucket explode and both verify sides —
    // three concurrent consumer stages, so the cache is pinned eagerly
    // (the lazy-cache race, CacheScope.persistEager)
    val corpus = CacheScope.persistEager(emb
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", l2Norm($"v")))

    val bucketRows = corpus.select(
      $"vec_id",
      explode(array(coordTables.zipWithIndex.map { case (cs, t) =>
        struct(lit(t).as("t"), signBucket($"v", cs).as("bh"))
      }: _*)).as("bk"))
      .select($"vec_id", $"bk.t".as("t"), $"bk.bh".as("bh"))
    val buckets =
      if (bucketCap == Int.MaxValue) bucketRows
      else {
        val byBucket = org.apache.spark.sql.expressions.Window
          .partitionBy($"t", $"bh").orderBy($"vec_id".asc)
        bucketRows
          .withColumn("br", row_number().over(byBucket))
          .filter($"br" <= bucketCap)
          .drop("br")
      }

    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        $"a.t" === $"b.t" && $"a.bh" === $"b.bh" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"))
      .distinct()

    val va = corpus.select($"vec_id".as("vec_a"), $"v".as("av"), $"nrm".as("an"))
    val vb = corpus.select($"vec_id".as("vec_b"), $"v".as("bv"), $"nrm".as("bn"))
    candidates
      .join(va, "vec_a").join(vb, "vec_b")
      .withColumn("sim", roundedSim(cosine($"av", $"bv", $"an", $"bn")))
      .filter($"sim" >= threshold)
      .select($"vec_a", $"vec_b", $"sim")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then mark as
    * duplicates the vectors whose within-cluster cosine to a
    * higher-priority member (lower vec_id) reaches `eps` — the
    * semantic near-copies (paraphrases, templated rewrites) that
    * token-level dedup cannot see because they share no n-grams.
    *
    * `centroids(cell int, centroid array<double>)` come from the
    * caller: fixed corpus vectors for the oracle-checkable declared
    * query (q55), a seeded sampled k-means fit
    * ([[Similarity.ivfTopK]]'s trainFraction path) in production.
    * Assignment uses the same ‖v−c‖² = ‖v‖²+‖c‖²−2⟨v,c⟩ identity as
    * the IVF index, on the same codegen'd dot-product primitive; the
    * centroid table is rows=cells — always broadcast — and the corpus
    * shuffles once on its cell key.
    *
    * Scale: candidate pairs exist only WITHIN a cell (the paper's
    * core trick — the k-means partition stands in for the all-pairs
    * graph), and `clusterCap` bounds the members any one cell admits
    * (closest-to-centroid win, deterministic), so a hot cell fans
    * ≤ C(cap,2) pairs instead of C(N/k,2). At corpus scale cells
    * number 10⁴–10⁵, keeping per-cell population join-sized; recall
    * degrades gracefully for capped-out members instead of the join
    * going quadratic.
    *
    * Output is the DROP side of the keep-first greedy (keep the
    * lowest vec_id of each duplicating pair): one row per dropped
    * vector with its cell, duplicate-partner count, and best
    * (rounded) similarity. */
  def semanticDedup(emb: DataFrame, centroids: DataFrame, eps: Double,
      clusterCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = emb.select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", l2Norm($"v"))
    val cents = centroids
      .withColumn("cn2", dot($"centroid", $"centroid"))
      .select($"cell", $"centroid", $"cn2")

    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"d2".asc, $"cell".asc)
    val assigned = corpus.join(broadcast(cents))
      .withColumn("d2",
        $"nrm" * $"nrm" + $"cn2" - lit(2.0) * dot($"v", $"centroid"))
      .withColumn("cr", row_number().over(byDist))
      .filter($"cr" === 1)
    val byCell = org.apache.spark.sql.expressions.Window
      .partitionBy($"cell").orderBy($"d2".asc, $"vec_id".asc)
    val members =
      (if (clusterCap == Int.MaxValue) assigned
       else assigned.withColumn("cellRank", row_number().over(byCell))
         .filter($"cellRank" <= clusterCap))
        .select($"cell", $"vec_id", $"v", $"nrm")

    val keepSide = members.select($"cell", $"vec_id".as("keep_cand"),
      $"v".as("av"), $"nrm".as("an"))
    val dropSide = members.select($"cell", $"vec_id",
      $"v".as("bv"), $"nrm".as("bn"))
    keepSide.join(dropSide, Seq("cell"))
      .filter($"keep_cand" < $"vec_id")
      .withColumn("sim", roundedSim(cosine($"av", $"bv", $"an", $"bn")))
      .filter($"sim" >= eps)
      .groupBy($"vec_id", $"cell")
      .agg(count(lit(1)).as("n_dups"), max($"sim").as("best_sim"))
  }
}
