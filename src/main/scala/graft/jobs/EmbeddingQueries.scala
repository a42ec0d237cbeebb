package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._
import graft.expressions.IvfAssignKernel
import graft.operators.{Dedup, PostingsCodec, Similarity, Validate}
import graft.operators.CoarseQuantizer.{Flat, TwoLevel}
import graft.operators.Similarity.MaintenanceMode.{Fragment, Retained}
import graft.operators.Similarity.PostingsSource

/** Similarity-search surface over the `embeddings` table (the
  * LLM-data-pipeline extension, SURVEY §7.2 slice 5).
  *
  * Every blocked path declares its hot-block cap (the constant the
  * oracle SQL mirrors), so no declared query carries an uncapped
  * per-block self-join: q25 caps block membership, q33 caps sign-bucket
  * membership, q34 caps IVF cell membership.
  */
object EmbeddingQueries {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Coordinates for the deterministic sign-bucket LSH (0-based). */
  val lshCoords: Seq[Int] = Seq(0, 16, 32, 48)

  /** Hot-block candidate cap for q25 (members per (label, bucket)
    * admitted to the candidate side; lowest vec_id wins). At corpus
    * scale tune ≳ expected block size so it only clips pathological
    * blocks. */
  val q25BlockCap = 100

  // ---------------------------------------------------------------- q23
  /** Per-vector geometry: dimension + L2 norm (array fold, no shuffle). */
  def q23EmbedNorms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    emb(spark, dir).select(
      $"vec_id",
      size($"embedding").as("dim"),
      round(l2Norm(asDouble($"embedding")), 4).as("l2_norm"),
      $"label")
  }

  // ---------------------------------------------------------------- q24
  /** Brute-force cosine top-5 for queries vec_id < 20 — the exact-ANN
    * baseline: broadcast the query block, stream the corpus once. */
  def q24CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.bruteForceTopK(emb(spark, dir), $"vec_id" < 20, k = 5)
  }

  // ---------------------------------------------------------------- q25
  /** Blocked (label × sign-bucket) nearest neighbor — candidate pairs
    * shrink by the block fan-out before any dot product, and a hot block
    * contributes at most [[q25BlockCap]] candidates. */
  def q25AnnBlocked(spark: SparkSession, dir: String): DataFrame =
    Similarity.blockedNearest(emb(spark, dir), lshCoords, q25BlockCap)

  /** Two coordinate tables for the near-dup multi-table LSH (0-based). */
  val nearDupTables: Seq[Seq[Int]] = Seq(Seq(0, 16, 32, 48), Seq(8, 24, 40, 56))

  /** Hot-bucket cap for q33 (members per (table, bucket) admitted to the
    * candidate join; lowest vec_id wins). */
  val q33BucketCap = 100

  // ---------------------------------------------------------------- q33
  /** Embedding-cosine near-duplicate pairs (multi-table sign-LSH
    * candidates, exact verification) — the embedding member of the
    * dedup family in [[graft.operators.Dedup]]. */
  def q33EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(emb(spark, dir), nearDupTables,
      threshold = 0.4, bucketCap = q33BucketCap)

  /** q34 IVF geometry: cells = the first [[q34Cells]] corpus vectors as
    * fixed centroids (SQL-reproducible, unlike a k-means fit — the
    * trained path is [[Similarity.ivfTopK]], spec-verified for recall),
    * 2-probe, top-3, hot cells capped at [[q34CellCap]]. */
  val q34Cells = 8
  val q34Probes = 2
  val q34K = 3
  val q34CellCap = 200

  // ---------------------------------------------------------------- q34
  /** IVF ANN top-k — the trained-centroid operator's oracle-checkable
    * twin: same core ([[Similarity.ivfTopKWithCentroids]] — nearest-cell
    * index, multi-probe queries, cellCap hot-cell bound), with fixed
    * corpus-vector centroids so cell assignment is plain SQL. */
  def q34AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val centroids = e.filter($"vec_id" < q34Cells)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    Similarity.ivfTopKWithCentroids(e, centroids,
      probes = q34Probes, k = q34K, cellCap = q34CellCap)
  }

  /** q77 two-level IVF geometry: first [[q77Cells]] corpus vectors as
    * fixed cells, contiguous blocks of [[q77GroupSize]] as groups
    * (member-mean group centroids — SQL-reproducible, unlike the
    * trained path's Lloyd's grouping), [[q77GroupProbes]] of the 8
    * groups probed (a REAL prune: 12 of 32 cells scanned per vector),
    * 2-probe, top-3, hot cells capped at [[q77CellCap]]. */
  val q77Cells = 32
  val q77GroupSize = 4
  val q77GroupProbes = 3
  val q77Probes = 2
  val q77K = 3
  val q77CellCap = 200

  // ---------------------------------------------------------------- q77
  /** Two-level-quantized IVF ANN top-k — the oracle-checkable twin of
    * [[Similarity.ivfTopKQuantized]] under a `TwoLevel` quantizer
    * (§6.2's 2¹⁴⁺-cells assignment
    * shape): fixed corpus-vector cells grouped into contiguous blocks
    * so BOTH quantizer levels — group ranking and pruned member-cell
    * ranking — are plain window SQL. The 32-row centroid matrix is a
    * driver-side index artifact (collected once, broadcast to the
    * codegen kernel), the same stance as the trained model path. */
  def q77AnnIvf2l(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val centroids = e.filter($"vec_id" < q77Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    Similarity.ivfTopKQuantized(e, TwoLevel(IvfAssignKernel
      .fixedGroupedCentroidSet(centroids, q77GroupSize), q77GroupProbes),
      probes = q77Probes, k = q77K, cellCap = q77CellCap)
  }

  /** q78 geometry: q34's fixed corpus-vector cells, and a hot-cell cap
    * chosen to BIND at every shipped scale (8 cells over ≥50 vectors →
    * every cell is over-full), so the declared output exercises the
    * eviction side of the roll-forward, not just the happy append. */
  val q78CellCap = 4

  // ---------------------------------------------------------------- q78
  /** Incremental IVF postings roll-forward, oracle-checked: build the
    * cell-partitioned postings over the already-indexed corpus
    * (`vec_id % 10 != 0`), then [[Similarity.appendToIvfPostings]]
    * the newly-arrived batch (`vec_id % 10 == 0`) against the FROZEN
    * fixed centroids — a closer newcomer must EVICT a capped-out old
    * member exactly as a from-scratch build would (the stored d2 breaks
    * ties identically). The oracle is the REBUILD over the union, so
    * the hash match IS the append≡rebuild contract — previously only
    * spec-pinned, here checked against an independent engine. Cost
    * shape at scale: delta assignment ∝ batch + a window over touched
    * cells only (never a full-artifact pass). */
  def q78PostingsRoll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val indexed = e.filter($"vec_id" % 10 =!= 0)
    val batch = e.filter($"vec_id" % 10 === 0)
    Similarity.appendToIvfPostings(
        Similarity.ivfPostings(indexed, Flat(cents), q78CellCap),
        Flat(cents), batch)
      .select($"cell", $"cand_id", round($"d2", 4).as("d2"))
  }

  // ---------------------------------------------------------------- q79
  /** IVF postings FRAGMENT-append + COMPACTION lifecycle, end-to-end
    * against the oracle: seed 80% of the corpus into a cell-partitioned
    * postings DIRECTORY, fragment-append the two remaining 10% batches
    * (O(batch) writes, no recap — the high-frequency ingest mode), and
    * re-append the first batch (an at-least-once redelivery), then
    * [[Similarity.compactIvfPostings]] folds the fragments: dedups the
    * replay, re-applies the hot-cell cap over the accumulated union,
    * restores 1-file-per-cell. The oracle is q78's REBUILD over the
    * whole corpus, so the hash match proves the compacted directory
    * holds exactly the from-scratch build — the contract that makes
    * fragment-mode maintenance safe to serve after compaction. The
    * artifact lives in a per-run temp directory: the declared query is
    * the LIFECYCLE, not a persistent table. */
  def q79PostingsCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = graft.ScratchDir("graft_q79")
      .resolve("postings").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(cents), q78CellCap), path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Fragment) // redelivery
    Similarity.compactIvfPostings(spark, path)
    // read back through the manifest-backed FileIndex (zero listings)
    Similarity.readPostings(spark, path)
      .select($"cell", $"cand_id", round($"d2", 4).as("d2"))
  }

  // ---------------------------------------------------------------- q80
  /** TWO-LEVEL postings fragment-append + compaction lifecycle — q79's
    * grouped twin at the 2¹⁴⁺-cells posture, oracle-checked: seed 80%
    * of the corpus into a postings directory BUILT with two-level home
    * assignment (q77's fixed 32-cell / 4-per-group geometry, a REAL
    * group prune at [[q77GroupProbes]]), fragment-append the two
    * remaining 10% batches via
    * [[Similarity.appendIvfPostings]] in `Fragment` mode under the
    * `TwoLevel` quantizer — O(batch) writes
    * AND O(groups + probed members) per-row assignment, riding the
    * artifact's own embedded `iv_gp` — re-append the first batch (an
    * at-least-once redelivery), then compact. The oracle is the
    * two-level REBUILD over the whole corpus in SQL (both quantizer
    * levels as window SQL, as q77 proved expressible), so the hash
    * match pins compact≡rebuild UNDER THE PRUNED ASSIGNMENT LAW — the
    * contract that lets a 2¹⁴-cell deployment run high-frequency
    * fragment maintenance without ever paying a flat O(cells) scan. */
  def q80PostingsCompact2l(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = e.filter($"vec_id" < q77Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val gcs = IvfAssignKernel
      .fixedGroupedCentroidSet(cents, q77GroupSize)
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = graft.ScratchDir("graft_q80")
      .resolve("postings").toString
    val q = TwoLevel(gcs, q77GroupProbes)
    Similarity.saveIvfPostings(Similarity.ivfPostings(seed, q, q78CellCap),
      path)
    Similarity.appendIvfPostings(spark, path, q, b1, Fragment)
    Similarity.appendIvfPostings(spark, path, q, b2, Fragment)
    Similarity.appendIvfPostings(spark, path, q, b1, Fragment) // redelivery
    Similarity.compactIvfPostings(spark, path)
    // read back through the manifest-backed FileIndex (zero listings)
    Similarity.readPostings(spark, path)
      .select($"cell", $"cand_id", round($"d2", 4).as("d2"))
  }

  // ---------------------------------------------------------------- q82
  /** The SNAPSHOT-SAFE (MVCC) maintenance lifecycle, oracle-checked:
    * every mutation runs under the tombstone-retention contract — a
    * reader that planned before any of them keeps serving its own
    * consistent state (spec-pinned in PostingsManifestSpec; an oracle
    * can only see the final state, which is what this declares). Seed
    * 80%, `Retained`-append ([[Similarity.appendIvfPostings]]) the
    * first 10% batch TWICE (an at-least-once redelivery folded by the recap's
    * (cell, cand_id) dedup — new files each epoch, old ones retired
    * under the one-full-epoch window law), fragment-append the second
    * batch into the
    * open retention window, then
    * [[Similarity.compactIvfPostingsRetained]] folds the fragments the
    * same retained way. The oracle is the from-scratch REBUILD over
    * the whole corpus with the binding cap — so retention, vacuuming,
    * epoch turnover, and mode composition inside one artifact life all
    * land EXACTLY the rebuild, checked against an independent engine. */
  def q82PostingsRetained(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = graft.ScratchDir("graft_q82")
      .resolve("postings").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(cents), q78CellCap), path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Retained) // redelivery
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, Fragment)
    Similarity.compactIvfPostingsRetained(spark, path)
    Similarity.readPostings(spark, path)
      .select($"cell", $"cand_id", round($"d2", 4).as("d2"))
  }

  // ---------------------------------------------------------------- q83
  /** The tombstone RETENTION lifecycle end-to-end, oracle-checked
    * against the from-scratch rebuild — q82's MVCC composition plus
    * the round-16 additions: every maintenance op runs under the
    * writer LEASE (acquired/released inside each call — the lifecycle
    * itself proves single-writer ops interleave cleanly), and the
    * retention windows are closed by STANDALONE
    * [[Similarity.vacuumPostings]] calls instead of waiting for a next
    * retained op — the quiesced-artifact debt bound. The sequence
    * exercises both vacuum regimes: an in-window no-op (retention 1
    * with tombstones retired at the current epoch — drops nothing, a
    * snapshot opened before the retained append must still serve), an
    * aged drop after the next maintenance epoch, and a final
    * `retentionEpochs = 0` sweep. The declared frame is the PLAIN
    * discovering read — the strongest close: after the last vacuum the
    * DIRECTORY physically equals the live state (no tombstones left to
    * double-count), and the hash match against the rebuild oracle pins
    * retire → window → vacuum landing exactly the from-scratch build. */
  def q83PostingsVacuum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = graft.ScratchDir("graft_q83")
      .resolve("postings").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(cents), q78CellCap), path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    // window just opened (tombstones at the current epoch): retention 1
    // keeps them — in-flight snapshots stay serveable
    Similarity.vacuumPostings(spark, path) // no-op by the window law
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, Fragment)
    Similarity.vacuumPostings(spark, path) // drops the aged tombstones
    Similarity.compactIvfPostingsRetained(spark, path) // folds b2's fragments
    Similarity.vacuumPostings(spark, path, retentionEpochs = 0L) // full close
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path)
      .select($"cell", $"cand_id", round($"d2", 4).as("d2"))
  }

  // ---------------------------------------------------------------- q88
  /** The PACKED-LAYOUT deployment cycle, oracle-checked end-to-end:
    * maintain a classic cell-partitioned postings artifact through
    * q79's full lifecycle (seed 80%, two fragment appends, an
    * at-least-once redelivery, compaction), then
    * [[Similarity.repackPostings]] it into the serve-optimized
    * cell-group snapshot (2 packs over the 8 cells here — at 2¹⁴ cells
    * the same call folds ~14.6 k files to ~128, §6.1.9) and SERVE
    * top-3 for the first 20 vectors through
    * [[Similarity.ivfTopKFromPostings]] over a `Packed` source — the
    * doubly-pruned route (pack-IN partition filter off the manifest
    * FileIndex + cell-IN row-group prune inside each pack). The oracle
    * computes the same capped index and 2-probe top-k in SQL, so the
    * hash match certifies the whole maintained-classic → repack →
    * pruned-serve chain against an independent engine — previously the
    * packed layout was spec+bench only. Reference analogue: the
    * monthly-dump rebuild cadence (docker/aact/Dockerfile:20-22) is
    * exactly when re-packing runs. */
  def q88PostingsPacked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cents = e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val base = graft.ScratchDir("graft_q88")
    val classic = base.resolve("classic").toString
    val packed = base.resolve("packed").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(cents), q78CellCap), classic)
    Similarity.appendIvfPostings(spark, classic, Flat(cents), b1, Fragment)
    Similarity.appendIvfPostings(spark, classic, Flat(cents), b2, Fragment)
    Similarity.appendIvfPostings(spark, classic, Flat(cents), b1,
      Fragment) // redelivery
    Similarity.compactIvfPostings(spark, classic)
    Similarity.repackPostings(spark, classic, packed, cellsPerPack = 4)
    Similarity.ivfTopKFromPostings(e.filter($"vec_id" < 20), Flat(cents),
      PostingsSource.Packed(packed), probes = q34Probes, k = q34K)
  }

  /** q89 PQ geometry: 8 subspaces × 8 dims over the 64-dim embeddings,
    * 16 codewords per subspace taken as the dsub-slices of the first 16
    * corpus vectors (vec_id ascending — SQL-reproducible, the q34
    * fixed-centroid stance; the trained path is
    * [[Similarity.fitPqCodebooks]], PqSpec-verified for reconstruction
    * error), queries vec_id < 20, top-3 by ADC distance. */
  val q89M = 8
  val q89Codes = 16
  val q89K = 3

  // ---------------------------------------------------------------- q89
  /** Product-quantization ADC top-k — the MEMORY side of 100 TB ANN
    * (Jégou et al. TPAMI 2011, the FAISS IVF+PQ shape): the corpus is
    * encoded ONCE into m codeword ids per vector
    * ([[Similarity.pqEncodeCorpus]] — one scan, ~16–64× payload
    * compression), each query computes one m×k distance lookup table,
    * and every (query, candidate) pair costs m array lookups
    * ([[graft.expressions.PqAdc]]) instead of a dim-length float scan.
    * Both quantizer steps — encode argmin (d2 asc, code asc) and the
    * ascending-subspace ADC sum — are bit-identical to the oracle's
    * sequential list arithmetic, and ranking uses the 4-dp-rounded
    * distance so near-ties cannot flip cross-engine. */
  def q89AnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cs = Similarity.pqCodebooksFromHead(e, m = q89M, k = q89Codes)
    Similarity.pqTopKAdc(e, $"vec_id" < 20, cs, k = q89K)
  }

  /** q90 geometry: q34's coarse quantizer (first-8 fixed cells, 2-probe,
    * cellCap 200) composed with RESIDUAL PQ (8×8-dim subspaces, 16
    * codewords = the residual slices of the first 16 corpus vectors),
    * ADC preselect [[q90Fetch]] deep, exact re-rank to top-3. */
  val q90Fetch = 10

  // ---------------------------------------------------------------- q90
  /** IVF+PQ two-stage ANN — the full FAISS `IndexIVFPQ` serve, both
    * scale bounds composed and oracle-checked: the coarse quantizer
    * bounds COMPUTE (a query meets only its 2 probed cells' members),
    * PQ bounds MEMORY (the index side carries m codeword ids per
    * vector, no floats — the float vectors reappear only in the
    * `fetch`-deep exact re-rank, touched ∝ queries×fetch). RESIDUAL
    * encoding (r19): codes quantize `v − centroid(home cell)` and each
    * (query, probed cell) pair builds its lookup table against
    * `q − centroid(cell)` — the published IVFADC form (codebook
    * capacity describes within-cell geometry instead of re-describing
    * the coarse layout). Every rank step is 4-dp-rounded with id
    * tie-breaks, so the DuckDB oracle — assignment windows + residual
    * transform + encode argmin + ordered per-cell ADC sum + re-rank,
    * all plain SQL — hash-matches the composed route end to end. */
  def q90AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val centArr = e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val centroids = e.filter($"vec_id" < q34Cells)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    val cs = Similarity.pqCodebooksFromHead(e, m = q89M, k = q89Codes,
      residual = Some(Flat(centArr)))
    Similarity.ivfPqTopKWithCentroids(e, $"vec_id" < 20, centroids, cs,
      probes = q34Probes, k = q89K, fetch = q90Fetch, cellCap = q34CellCap)
  }

  /** q91 geometry: q90's residual IVF+PQ (first-8 fixed cells, 8×8-dim
    * subspaces, 16 residual head codewords, 2-probe) over a PERSISTED
    * artifact with q78's BINDING cap 4 (8 cells over ≥50 vectors —
    * every cell overfull, so appends must evict exactly as a rebuild
    * would), ADC preselect [[q91Fetch]] deep (< the 8 candidates a
    * 2-probe serve meets — the preselect binds), exact re-rank to
    * top-3. */
  val q91Fetch = 5

  // ---------------------------------------------------------------- q91
  /** The PQ index-artifact LIFECYCLE, oracle-checked end-to-end: build
    * the IVF postings artifact under the residual PQ codec over an 80%
    * seed ([[Similarity.saveIvfPostings]] with
    * [[graft.operators.PostingsCodec.Pq]] — coded
    * `(cell, cand_id, d2, codes)` rows, cell-partitioned, born with a
    * [[graft.operators.PostingsManifest]] and the checksummed
    * `_pq_codebooks` sidecar carrying the codebooks + residual law),
    * fragment-append the two remaining 10% batches through
    * [[Similarity.appendIvfPostings]] (O(batch) writes, assignment +
    * residual encode under the artifact's OWN frozen centroids and
    * codebooks, read from the artifact), re-append the first batch (an
    * at-least-once redelivery), compact (dedup replay, re-apply the
    * binding cap over the union on the stored coarse d2), then SERVE:
    * [[Similarity.ivfTopKFromPostings]] over the `Classic` path is the
    * steady-state ADC preselect — queries alone are assigned, the
    * artifact scan is manifest-planned and pruned to probed cells, ADC
    * ranks against the STORED codes to [[q91Fetch]] depth — and
    * [[Similarity.rerankExactL2]] re-ranks it against the float
    * vectors. The oracle is the from-scratch residual IVFADC serve over
    * the whole corpus in plain SQL, so the hash match pins build →
    * append → replay → compact → serve ≡ rebuild — the contract that
    * makes the artifact maintainable. Reference analogue: the
    * monthly-dump rebuild cadence (docker/aact/Dockerfile:20-22). */
  def q91PqPostingsLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = Flat(e.filter($"vec_id" < q34Cells)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray))
    val codec = PostingsCodec.Pq(Similarity.pqCodebooksFromHead(e,
      m = q89M, k = q89Codes, residual = Some(q)))
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = graft.ScratchDir("graft_q91")
      .resolve("pq_postings").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, q, q78CellCap, codec), path, codec)
    Similarity.appendIvfPostings(spark, path, q, b1, Fragment)
    Similarity.appendIvfPostings(spark, path, q, b2, Fragment)
    Similarity.appendIvfPostings(spark, path, q, b1, Fragment) // redelivery
    Similarity.compactIvfPostings(spark, path)
    val queries = e.filter($"vec_id" < 20)
    Similarity.rerankExactL2(e, queries, Similarity.ivfTopKFromPostings(
      queries, q, PostingsSource.Classic(path), probes = q34Probes,
      k = q91Fetch), k = q89K)
  }

  // ---------------------------------------------------------------- q48
  /** Symmetric int8 quantization — the memory-side half of a
    * production ANN index (a 64-dim float vector becomes 64 bytes + one
    * scale): per-vector scale = max|v|/127, element
    * q = clamp(floor(v/scale), −127, 127). Floor (not round) keeps the
    * arithmetic bit-deterministic across engines — every step is an
    * IEEE-754 double op both sides — and the clamp pins the one edge
    * floor can overshoot (v = −max|v| can land a hair below −127 in
    * floating point). The published `scale` column is rounded to 6
    * decimals for stable cross-engine hashing; quantization itself uses
    * the unrounded value (the ≤ 5·10⁻⁷ relative display error is noise
    * next to int8's own 1/254 step). Pure per-row expression work + one
    * explode (the exploded form is the declared, hashable shape; the
    * packed `array<int>` stays one `transform` away). */
  def q48EmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    emb(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("amax", array_max(transform($"v", x => abs(x))))
      .filter($"amax" > 0)
      .select($"vec_id", round($"amax" / 127.0, 6).as("scale"),
        posexplode(transform($"v",
          x => greatest(lit(-127), least(lit(127),
            floor(x / ($"amax" / 127.0)))).cast("int"))))
      .withColumnRenamed("pos", "dim_idx")
      .withColumnRenamed("col", "qval")
  }

  /** q55 SemDeDup geometry: reuse q34's fixed corpus-vector centroids
    * (SQL-reproducible; the trained path shares
    * [[Similarity.ivfTopK]]'s k-means fit), cap hot cells at
    * [[q55ClusterCap]], drop at cosine ≥ [[q55Eps]] (picked to sit
    * inside this corpus's within-cluster similarity tail — real
    * SemDeDup deployments tune ε against a dedup-rate target the same
    * way). */
  val q55Eps = 0.35
  val q55ClusterCap = 200

  // ---------------------------------------------------------------- q55
  /** Semantic dedup (SemDeDup): cluster-then-prune duplicate discovery
    * in embedding space — the drop list of vectors with a
    * higher-priority within-cluster near-copy ([[Dedup.semanticDedup]]). */
  def q55SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val centroids = e.filter($"vec_id" < q34Cells)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    Dedup.semanticDedup(e, centroids, eps = q55Eps,
      clusterCap = q55ClusterCap)
  }

  // ---------------------------------------------------------------- q71
  /** Referential-coverage audit
    * ([[graft.operators.Validate.referentialCoverage]]) between
    * `documents` and `embeddings` — the FK gate every training join of
    * text onto vectors depends on (a missing embedding silently drops
    * the document from training; an orphan vector is wasted index
    * space). The fixture aligns 1:1 by construction, so the embeddings
    * side is degraded deterministically in BOTH engines to make every
    * report field non-trivial: drop `vec_id % 9 = 0` (missing
    * embeddings) and add re-keyed copies of `vec_id % 11 = 0` (orphan
    * vectors, ids offset by 1e6). Per source: facts/covered/missing +
    * coverage ratio; orphans carry no fact-side source, so they ride
    * the null-source row. */
  def q71RefCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
    val e = emb(spark, dir)
    val degraded = e.filter($"vec_id" % 9 =!= 0)
      .unionByName(e.filter($"vec_id" % 11 === 0)
        .withColumn("vec_id", $"vec_id" + 1000000L))
    Validate.referentialCoverage(d, degraded, "doc_id", "vec_id",
      groupCols = Seq("source"))
  }

  // ================================================================ maps
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_embed_norms" -> (q23EmbedNorms _),
    "q24_cosine_topk" -> (q24CosineTopk _),
    "q25_ann_blocked" -> (q25AnnBlocked _),
    "q33_embed_neardup" -> (q33EmbedNearDup _),
    "q34_ann_ivf" -> (q34AnnIvf _),
    "q48_embed_quantize" -> (q48EmbedQuantize _),
    "q55_semantic_dedup" -> (q55SemanticDedup _),
    "q71_ref_coverage" -> (q71RefCoverage _),
    "q77_ann_ivf_2l" -> (q77AnnIvf2l _),
    "q78_postings_roll" -> (q78PostingsRoll _),
    "q79_postings_compact" -> (q79PostingsCompact _),
    "q80_postings_compact_2l" -> (q80PostingsCompact2l _),
    "q82_postings_retained" -> (q82PostingsRetained _),
    "q83_postings_vacuum" -> (q83PostingsVacuum _),
    "q88_postings_packed" -> (q88PostingsPacked _),
    "q89_ann_pq" -> (q89AnnPq _),
    "q90_ann_ivfpq" -> (q90AnnIvfPq _),
    "q91_pq_postings" -> (q91PqPostingsLifecycle _))

  /** The from-scratch postings REBUILD over the full corpus (fixed
    * first-8 centroids, cap 4) — the shared oracle of every postings
    * maintenance lifecycle: q78 reaches the same state through
    * build(90%) + recap-append(10%), q79 through build(80%) + two
    * fragment appends + a replayed one + compaction. Hash equality
    * against THIS query is the append≡rebuild / compact≡rebuild
    * contract, checked by an independent engine. */
  private val postingsRebuildSql =
    """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 8),
         d AS (
           SELECT n.vec_id, c.cell,
             n.nrm * n.nrm + c.cn2
               - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n CROSS JOIN c),
         assigned AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         home AS (
           SELECT cell, vec_id AS cand_id, d2,
             row_number() OVER (PARTITION BY cell
                                ORDER BY d2 ASC, vec_id ASC) AS cell_rank
           FROM assigned WHERE cr = 1)
         SELECT cell, cand_id, round(d2, 4) + 0.0 AS d2
         FROM home WHERE cell_rank <= 4"""

  /** The from-scratch TWO-LEVEL postings rebuild over the full corpus
    * (q77's fixed geometry: 32 cells, 4-per-group member-mean group
    * centroids with adds nested in ascending cell order — bit-identical
    * to the kernel's accumulate — 3 of 8 groups probed, cap 4): q80's
    * lifecycle (two-level build(80%) + grouped fragment appends + a
    * replayed one + compaction) must land exactly these rows. Both
    * quantizer levels are plain window SQL, same as the q77 oracle. */
  private val postingsRebuild2lSql =
    """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 32),
         g AS (
           SELECT c0.cell // 4 AS grp,
             list_transform(c0.centroid, (x, i) ->
               (((x + c1.centroid[i]) + c2.centroid[i]) + c3.centroid[i])
                 / 4.0) AS gcent
           FROM c c0
           JOIN c c1 ON c1.cell = c0.cell + 1
           JOIN c c2 ON c2.cell = c0.cell + 2
           JOIN c c3 ON c3.cell = c0.cell + 3
           WHERE c0.cell % 4 = 0),
         g2 AS (
           SELECT grp, gcent, list_dot_product(gcent, gcent) AS gn2 FROM g),
         gd AS (
           SELECT n.vec_id, g2.grp,
             n.nrm * n.nrm + g2.gn2
               - 2.0 * list_dot_product(n.v, g2.gcent) AS gd2
           FROM n CROSS JOIN g2),
         gsel AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY gd2 ASC, grp ASC) AS gr
           FROM gd),
         probed AS (SELECT vec_id, grp FROM gsel WHERE gr <= 3),
         d AS (
           SELECT n.vec_id, c.cell,
             n.nrm * n.nrm + c.cn2
               - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n
           JOIN probed p ON p.vec_id = n.vec_id
           JOIN c ON c.cell // 4 = p.grp),
         assigned AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         home AS (
           SELECT cell, vec_id AS cand_id, d2,
             row_number() OVER (PARTITION BY cell
                                ORDER BY d2 ASC, vec_id ASC) AS cell_rank
           FROM assigned WHERE cr = 1)
         SELECT cell, cand_id, round(d2, 4) + 0.0 AS d2
         FROM home WHERE cell_rank <= 4"""

  /** q88's oracle: the capped from-scratch index (postingsRebuildSql's
    * home CTE keeping candidate vectors/norms) served with q34's
    * 2-probe top-k shape, queries restricted to vec_id < 20 and the
    * index capped at q78CellCap = 4 — the whole
    * maintain→compact→repack→packed-pruned-serve chain must land
    * exactly these rows. */
  private val packedServeSql =
    """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 8),
         d AS (
           SELECT n.vec_id, n.v, n.nrm, c.cell,
             n.nrm * n.nrm + c.cn2
               - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n CROSS JOIN c),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         indexed AS (
           SELECT cell, vec_id AS cand_id, v AS cv, nrm AS cn,
             row_number() OVER (PARTITION BY cell
                                ORDER BY d2 ASC, vec_id ASC) AS cell_rank
           FROM ranked WHERE cr = 1),
         q AS (SELECT cell, vec_id, v, nrm FROM ranked
               WHERE cr <= 2 AND vec_id < 20),
         pairs AS (
           SELECT DISTINCT q.vec_id, i.cand_id,
             round(list_dot_product(q.v, i.cv) / (q.nrm * i.cn), 4) + 0.0 AS sim
           FROM q JOIN indexed i ON q.cell = i.cell
           WHERE i.cell_rank <= 4 AND q.vec_id <> i.cand_id),
         topk AS (
           SELECT vec_id, cand_id AS neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cand_id ASC) AS rn
           FROM pairs)
         SELECT vec_id, neighbor_id, sim, rn FROM topk WHERE rn <= 3"""

  /** q89's oracle: both PQ steps in plain SQL — the codebook table is
    * the dsub-slices of the first 16 vectors, encode is a
    * row_number argmin per (vector, subspace), the per-query lookup
    * table is the same slice arithmetic, and the ADC sum is a
    * subspace-ORDERED list_sum (ascending s — the kernel's exact
    * accumulation order, so pre-round values are bit-identical). */
  private val annPqSql =
    """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         s AS (SELECT unnest(generate_series(0, 7)) AS s),
         cb AS (
           SELECT s.s, CAST(e.vec_id AS INT) AS code,
                  e.v[(s.s*8+1):(s.s*8+8)] AS cw
           FROM e CROSS JOIN s WHERE e.vec_id < 16),
         enc0 AS (
           SELECT e.vec_id, cb.s, cb.code,
             list_sum(list_transform(e.v[(cb.s*8+1):(cb.s*8+8)],
               (x, i) -> (x - cb.cw[i]) * (x - cb.cw[i]))) AS d2
           FROM e CROSS JOIN cb),
         enc AS (
           SELECT vec_id, s, code,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY d2 ASC, code ASC) AS rr
           FROM enc0),
         codes AS (SELECT vec_id, s, code FROM enc WHERE rr = 1),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
         lut AS (
           SELECT q.vec_id AS qid, cb.s, cb.code,
             list_sum(list_transform(q.v[(cb.s*8+1):(cb.s*8+8)],
               (x, i) -> (x - cb.cw[i]) * (x - cb.cw[i]))) AS d2
           FROM q CROSS JOIN cb),
         pairs AS (
           SELECT l.qid AS vec_id, c.vec_id AS cand_id,
             round(list_sum(list(l.d2 ORDER BY l.s)), 4) + 0.0 AS ad2
           FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
           WHERE l.qid <> c.vec_id
           GROUP BY l.qid, c.vec_id),
         topk AS (
           SELECT vec_id, cand_id AS neighbor_id, ad2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY ad2 ASC, cand_id ASC) AS rn
           FROM pairs)
         SELECT vec_id, neighbor_id, ad2, rn FROM topk WHERE rn <= 3"""

  /** q90's oracle: the whole RESIDUAL IVF+PQ serve in plain SQL —
    * q34's assignment windows (home cells, cell cap, probed cells),
    * the residual transform `v − centroid(home cell)` as an indexed
    * list_transform, codebooks = residual slices of the first 16
    * vectors, encode argmin over residual slices, a PER-(query, cell)
    * lookup table over `q − centroid(cell)`, the ADC preselect as a
    * subspace-ORDERED list_sum ranked (ad2 asc, cand asc) to fetch
    * depth, and the exact re-rank over the preselected pairs only.
    * Parameterized on the hot-cell cap and fetch depth: q90 declares
    * the transient serve (cap 200 non-binding, fetch 10); q91 declares
    * the PERSISTED-artifact lifecycle (binding cap 4, fetch 5) whose
    * maintained state must land exactly this from-scratch serve. */
  private def annIvfPqSqlWith(cellCap: Int, fetch: Int): String =
    s"""WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 8),
         d AS (
           SELECT n.vec_id, n.v, c.cell,
             n.nrm * n.nrm + c.cn2
               - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n CROSS JOIN c),
         assigned AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         home AS (
           SELECT a.vec_id, a.cell, a.d2,
             list_transform(a.v, (x, i) -> x - c.centroid[i]) AS r
           FROM assigned a JOIN c ON c.cell = a.cell
           WHERE a.cr = 1),
         idx AS (
           SELECT cell, vec_id AS cand_id, r FROM (
             SELECT cell, vec_id, r,
               row_number() OVER (PARTITION BY cell
                                  ORDER BY d2 ASC, vec_id ASC) AS cell_rank
             FROM home)
           WHERE cell_rank <= $cellCap),
         s AS (SELECT unnest(generate_series(0, 7)) AS s),
         cb AS (
           SELECT s.s, CAST(h.vec_id AS INT) AS code,
                  h.r[(s.s*8+1):(s.s*8+8)] AS cw
           FROM home h CROSS JOIN s WHERE h.vec_id < 16),
         enc0 AS (
           SELECT i.cand_id, cb.s, cb.code,
             list_sum(list_transform(i.r[(cb.s*8+1):(cb.s*8+8)],
               (x, j) -> (x - cb.cw[j]) * (x - cb.cw[j]))) AS d2
           FROM idx i CROSS JOIN cb),
         enc AS (
           SELECT cand_id, s, code,
             row_number() OVER (PARTITION BY cand_id, s
                                ORDER BY d2 ASC, code ASC) AS rr
           FROM enc0),
         codes AS (SELECT cand_id, s, code FROM enc WHERE rr = 1),
         qp AS (
           SELECT vec_id, cell, v FROM assigned
           WHERE cr <= 2 AND vec_id < 20),
         qr AS (
           SELECT qp.vec_id, qp.cell,
             list_transform(qp.v, (x, i) -> x - c.centroid[i]) AS qres
           FROM qp JOIN c ON c.cell = qp.cell),
         lut AS (
           SELECT q.vec_id AS qid, q.cell, cb.s, cb.code,
             list_sum(list_transform(q.qres[(cb.s*8+1):(cb.s*8+8)],
               (x, j) -> (x - cb.cw[j]) * (x - cb.cw[j]))) AS d2
           FROM qr q CROSS JOIN cb),
         pairs0 AS (
           SELECT l.qid AS vec_id, i.cand_id,
             round(list_sum(list(l.d2 ORDER BY l.s)), 4) + 0.0 AS ad2
           FROM idx i
           JOIN codes cd ON cd.cand_id = i.cand_id
           JOIN lut l ON l.cell = i.cell AND l.s = cd.s
                     AND l.code = cd.code
           WHERE l.qid <> i.cand_id
           GROUP BY l.qid, i.cand_id),
         pre AS (
           SELECT vec_id, cand_id FROM (
             SELECT vec_id, cand_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ad2 ASC, cand_id ASC) AS pr
             FROM pairs0)
           WHERE pr <= $fetch),
         rr AS (
           SELECT pre.vec_id, pre.cand_id AS neighbor_id,
             round(qn.nrm * qn.nrm + cn.nrm * cn.nrm
               - 2.0 * list_dot_product(qn.v, cn.v), 4) + 0.0 AS d2
           FROM pre JOIN n qn ON qn.vec_id = pre.vec_id
                    JOIN n cn ON cn.vec_id = pre.cand_id),
         topk AS (
           SELECT vec_id, neighbor_id, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, neighbor_id ASC) AS rn
           FROM rr)
         SELECT vec_id, neighbor_id, d2, rn FROM topk WHERE rn <= 3"""

  private val annIvfPqSql = annIvfPqSqlWith(q34CellCap, q90Fetch)

  /** q91's oracle: the identical residual IVFADC serve with the
    * artifact's BINDING cap — the maintained, compacted, persisted
    * index must serve exactly the from-scratch build's rows. */
  private val pqPostingsLifecycleSql = annIvfPqSqlWith(q78CellCap, q91Fetch)

  val oracle: Map[String, String] = Map(
    "q91_pq_postings" -> pqPostingsLifecycleSql,
    "q90_ann_ivfpq" -> annIvfPqSql,
    "q89_ann_pq" -> annPqSql,
    "q88_postings_packed" -> packedServeSql,
    "q79_postings_compact" -> postingsRebuildSql,
    "q80_postings_compact_2l" -> postingsRebuild2lSql,
    "q82_postings_retained" -> postingsRebuildSql,
    "q83_postings_vacuum" -> postingsRebuildSql,
    "q78_postings_roll" -> postingsRebuildSql,
    // same deterministic degradation of the embeddings side, same
    // distinct-ref + full-outer-join + per-source rollup semantics
    "q71_ref_coverage" ->
      """WITH e2 AS (
           SELECT vec_id FROM embeddings WHERE vec_id % 9 <> 0
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id
           FROM embeddings WHERE vec_id % 11 = 0),
         r AS (SELECT DISTINCT vec_id FROM e2),
         j AS (
           SELECT d.doc_id AS fid, d.source AS source, r.vec_id AS rid
           FROM documents d FULL OUTER JOIN r ON d.doc_id = r.vec_id)
         SELECT source,
           CAST(sum(CASE WHEN fid IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_facts,
           CAST(sum(CASE WHEN fid IS NOT NULL AND rid IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN fid IS NOT NULL AND rid IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
           CAST(sum(CASE WHEN fid IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_orphans,
           CASE WHEN sum(CASE WHEN fid IS NOT NULL THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CASE WHEN fid IS NOT NULL AND rid IS NOT NULL
                    THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(sum(CASE WHEN fid IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE)
           END AS coverage
         FROM j GROUP BY source""",
    "q23_embed_norms" ->
      """SELECT vec_id, len(embedding) AS dim,
         round(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
         label
         FROM embeddings""",
    "q24_cosine_topk" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM e),
         sims AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) + 0.0 AS sim
           FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rn
           FROM sims)
         SELECT query_id, neighbor_id, sim, rn
         FROM ranked WHERE rn <= 5""",
    "q25_ann_blocked" ->
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             (CASE WHEN v[1] > 0 THEN 8 ELSE 0 END +
              CASE WHEN v[17] > 0 THEN 4 ELSE 0 END +
              CASE WHEN v[33] > 0 THEN 2 ELSE 0 END +
              CASE WHEN v[49] > 0 THEN 1 ELSE 0 END) AS bucket
           FROM e),
         capped AS (
           SELECT *, row_number() OVER (PARTITION BY label, bucket
                                        ORDER BY vec_id ASC) AS br
           FROM n),
         sims AS (
           SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) + 0.0 AS sim
           FROM n a JOIN capped b
             ON a.label = b.label AND a.bucket = b.bucket
            AND a.vec_id <> b.vec_id
           WHERE b.br <= 100),
         ranked AS (
           SELECT vec_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rn
           FROM sims)
         SELECT vec_id, neighbor_id, sim
         FROM ranked WHERE rn = 1""",
    "q33_embed_neardup" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             (CASE WHEN v[1] > 0 THEN 8 ELSE 0 END +
              CASE WHEN v[17] > 0 THEN 4 ELSE 0 END +
              CASE WHEN v[33] > 0 THEN 2 ELSE 0 END +
              CASE WHEN v[49] > 0 THEN 1 ELSE 0 END) AS b1,
             (CASE WHEN v[9] > 0 THEN 8 ELSE 0 END +
              CASE WHEN v[25] > 0 THEN 4 ELSE 0 END +
              CASE WHEN v[41] > 0 THEN 2 ELSE 0 END +
              CASE WHEN v[57] > 0 THEN 1 ELSE 0 END) AS b2
           FROM e),
         bands AS (
           SELECT vec_id, 0 AS t, b1 AS bh FROM n
           UNION ALL
           SELECT vec_id, 1 AS t, b2 AS bh FROM n),
         capped AS (
           SELECT vec_id, t, bh,
             row_number() OVER (PARTITION BY t, bh ORDER BY vec_id ASC) AS br
           FROM bands),
         cand AS (
           SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           FROM capped a JOIN capped b
             ON a.t = b.t AND a.bh = b.bh AND a.vec_id < b.vec_id
           WHERE a.br <= 100 AND b.br <= 100)
         SELECT c.vec_a, c.vec_b,
           round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) + 0.0 AS sim
         FROM cand c
           JOIN n x ON x.vec_id = c.vec_a
           JOIN n y ON y.vec_id = c.vec_b
         WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) + 0.0 >= 0.4""",
    "q48_embed_quantize" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         a AS (
           SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
           FROM e),
         x AS (
           SELECT vec_id, v, amax,
             unnest(generate_series(1, len(v))) AS i
           FROM a WHERE amax > 0)
         SELECT vec_id, round(amax/127.0, 6) AS scale,
           CAST(i - 1 AS INT) AS dim_idx,
           CAST(greatest(-127, least(127, floor(v[i] / (amax/127.0)))) AS INT)
             AS qval
         FROM x""",
    "q34_ann_ivf" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 8),
         d AS (
           SELECT n.vec_id, n.v, n.nrm, c.cell,
             n.nrm * n.nrm + c.cn2 - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n CROSS JOIN c),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         indexed AS (
           SELECT cell, vec_id AS cand_id, v AS cv, nrm AS cn,
             row_number() OVER (PARTITION BY cell
                                ORDER BY d2 ASC, vec_id ASC) AS cell_rank
           FROM ranked WHERE cr = 1),
         q AS (SELECT cell, vec_id, v, nrm FROM ranked WHERE cr <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id, i.cand_id,
             round(list_dot_product(q.v, i.cv) / (q.nrm * i.cn), 4) + 0.0 AS sim
           FROM q JOIN indexed i ON q.cell = i.cell
           WHERE i.cell_rank <= 200 AND q.vec_id <> i.cand_id),
         topk AS (
           SELECT vec_id, cand_id AS neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cand_id ASC) AS rn
           FROM pairs)
         SELECT vec_id, neighbor_id, sim, rn FROM topk WHERE rn <= 3""",
    // two-level quantizer, both levels in SQL: group centroids are the
    // 4-member block means with the adds nested in ascending cell order
    // (bit-identical to the kernel's ascending accumulate), level 1
    // ranks groups by (gd2, grp), level 2 ranks ONLY the probed groups'
    // member cells by (d2, cell) — then the q34 candidate-join shape
    "q77_ann_ivf_2l" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 32),
         g AS (
           SELECT c0.cell // 4 AS grp,
             list_transform(c0.centroid, (x, i) ->
               (((x + c1.centroid[i]) + c2.centroid[i]) + c3.centroid[i])
                 / 4.0) AS gcent
           FROM c c0
           JOIN c c1 ON c1.cell = c0.cell + 1
           JOIN c c2 ON c2.cell = c0.cell + 2
           JOIN c c3 ON c3.cell = c0.cell + 3
           WHERE c0.cell % 4 = 0),
         g2 AS (
           SELECT grp, gcent, list_dot_product(gcent, gcent) AS gn2 FROM g),
         gd AS (
           SELECT n.vec_id, g2.grp,
             n.nrm * n.nrm + g2.gn2
               - 2.0 * list_dot_product(n.v, g2.gcent) AS gd2
           FROM n CROSS JOIN g2),
         gsel AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY gd2 ASC, grp ASC) AS gr
           FROM gd),
         probed AS (SELECT vec_id, grp FROM gsel WHERE gr <= 3),
         d AS (
           SELECT n.vec_id, n.v, n.nrm, c.cell,
             n.nrm * n.nrm + c.cn2
               - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n
           JOIN probed p ON p.vec_id = n.vec_id
           JOIN c ON c.cell // 4 = p.grp),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         indexed AS (
           SELECT cell, vec_id AS cand_id, v AS cv, nrm AS cn,
             row_number() OVER (PARTITION BY cell
                                ORDER BY d2 ASC, vec_id ASC) AS cell_rank
           FROM ranked WHERE cr = 1),
         q AS (SELECT cell, vec_id, v, nrm FROM ranked WHERE cr <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id, i.cand_id,
             round(list_dot_product(q.v, i.cv) / (q.nrm * i.cn), 4) + 0.0 AS sim
           FROM q JOIN indexed i ON q.cell = i.cell
           WHERE i.cell_rank <= 200 AND q.vec_id <> i.cand_id),
         topk AS (
           SELECT vec_id, cand_id AS neighbor_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cand_id ASC) AS rn
           FROM pairs)
         SELECT vec_id, neighbor_id, sim, rn FROM topk WHERE rn <= 3""",
    "q55_semantic_dedup" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         c AS (
           SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
                  list_dot_product(v, v) AS cn2
           FROM e WHERE vec_id < 8),
         d AS (
           SELECT n.vec_id, n.v, n.nrm, c.cell,
             n.nrm * n.nrm + c.cn2 - 2.0 * list_dot_product(n.v, c.centroid) AS d2
           FROM n CROSS JOIN c),
         assigned AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS cr
           FROM d),
         members AS (
           SELECT cell, vec_id, v, nrm,
             row_number() OVER (PARTITION BY cell
                                ORDER BY d2 ASC, vec_id ASC) AS cell_rank
           FROM assigned WHERE cr = 1),
         capped AS (SELECT * FROM members WHERE cell_rank <= 200),
         pairs AS (
           SELECT a.cell, b.vec_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) + 0.0 AS sim
           FROM capped a JOIN capped b
             ON a.cell = b.cell AND a.vec_id < b.vec_id)
         SELECT vec_id, cell, count(*) AS n_dups, max(sim) AS best_sim
         FROM pairs WHERE sim >= 0.35
         GROUP BY vec_id, cell""")
}
