package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorOps._
import graft.operators.MaintenanceProtocol.timed

/** Similarity search over an `embeddings(vec_id, embedding array<float>,
  * label)` relation.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * and streams the corpus once — no corpus shuffle, no N×N blow-up. The
  * bucketed paths are the 100-TB shape: candidates are restricted to an
  * LSH block / IVF cell, shrinking pair count by the bucket fan-out
  * before any expensive dot product runs, and every blocked path caps
  * hot-block membership so no single block can go quadratic.
  */
object Similarity {

  /** Corpus with double vectors + precomputed norms. */
  def prepared(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select($"vec_id", $"label", asDouble($"embedding").as("v"))
      .withColumn("nrm", l2Norm($"v"))
  }

  /** Rounded -0.0-normalized sim (see [[VectorOps.roundedSim]]); ranking
    * and output both use this value so cross-engine float
    * summation-order differences can't flip near-tie neighbors. */
  private def simR(c: Column): Column = roundedSim(c)

  /** Per-query top-k over a candidate relation `(qCol, cCol, sim)` —
    * the rank step every similarity route ends in, as the
    * [[graft.expressions.TopKByScore]] bounded-heap AGGREGATE instead
    * of `row_number` over a window. Same rows out — (sim desc, cCol
    * asc) order, rn = 1..k — radically different physics at scale: the
    * window shape shuffles EVERY candidate row and sorts whole
    * partitions (brute-force truth at sf30 = 1.2 × 10⁹ rows through
    * one exchange, and the sort straggler ran 30+ min), while the
    * aggregate keeps a k-element heap per query with MAP-SIDE
    * PARTIALS, so each map task emits ≤ queries×k pairs, the exchange
    * carries ~queries×k×maps rows, and nothing is ever globally sorted
    * — candidates-bounded work becomes answers-bounded work.
    * SimilaritySpec pins route equality row-for-row against the window
    * form. Null AND NaN sims (non-comparable candidates — a zero-norm
    * embedding makes cosine 0/0 = NaN, which is NOT null) are dropped
    * rather than padded, the same stance every assignment route takes
    * for non-assignable vectors; the aggregate itself also rejects NaN
    * at heap entry, so either guard alone suffices. */
  private def topKPerQuery(cands: DataFrame, qCol: String, cCol: String,
      k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val agg = GraftColumnBridge.column(graft.expressions.TopKByScore(
      GraftColumnBridge.expression($"sim"),
      GraftColumnBridge.expression(col(cCol)), k).toAggregateExpression())
    cands.filter($"sim".isNotNull && !isnan($"sim"))
      .groupBy(col(qCol))
      .agg(agg.as("tk"))
      .select(col(qCol), posexplode($"tk"))
      .select(col(qCol), $"col.id".as("neighbor_id"),
        $"col.sim".as("sim"), ($"pos" + 1).cast("int").as("rn"))
  }

  /** Brute-force cosine top-k: each query (vec_id ∈ querySet) against the
    * whole corpus. Exact baseline for the ANN variants. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // The broadcast join FANS OUT: every corpus partition becomes
    // |queries| times itself, so the partial-aggregation parallelism —
    // and with it the whole truth computation's wall — is the CORPUS
    // scan's split count. A single-file LARGE corpus scans as 1–2
    // splits and serializes the fan-out onto 2 cores (the sf30 truth
    // ran 25× under-parallel); pre-split it to the cluster's
    // parallelism first — one exchange of the corpus itself, trivial
    // next to the fan-out it parallelizes. Skipped when the corpus is
    // small enough that the exchange would COST more than the
    // parallelism buys (fixture-scale rows × |queries| fit one core's
    // second) or the scan already splits wide.
    val par = spark.sparkContext.defaultParallelism
    val base = prepared(emb)
    val corpus =
      if (base.rdd.getNumPartitions >= par / 2) base
      else {
        // sized from the optimizer's free byte estimate (no probe job):
        // a corpus under ~32 MB fans out to what one core clears in
        // seconds even at thousands of queries
        val bytes = org.apache.spark.sql.GraftColumnBridge.planSizeBytes(emb)
        if (bytes < (32L << 20)) base else base.repartition(par)
      }
    val queries = prepared(emb).filter(queryPred)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    topKPerQuery(
      corpus
        .join(broadcast(queries), $"vec_id" =!= $"query_id")
        .withColumn("sim", simR(cosine($"qv", $"v", $"qn", $"nrm")))
        .select($"query_id", $"vec_id", $"sim"),
      "query_id", "vec_id", k)
  }

  /** Blocked (IVF/LSH-style) nearest neighbor: candidates share the
    * (label, sign-bucket) block; within each block the top-1 neighbor per
    * vector. The deterministic coordinate sign-bucket keeps the operator
    * engine-portable; swap in trained centroids for a production IVF.
    *
    * `blockCap` bounds the candidates any one block can contribute
    * (lowest vec_id wins — deterministic and oracle-expressible), so a
    * hot block degrades recall gracefully instead of going quadratic:
    * join fan per block is ≤ |block| × blockCap, never |block|². Every
    * vector stays a query even when capped out of the candidate side. */
  def blockedNearest(emb: DataFrame, coords: Seq[Int],
      blockCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = prepared(emb)
      .withColumn("bucket", signBucket($"v", coords))
    val left = corpus.select($"vec_id", $"label", $"bucket", $"v", $"nrm")
    val capped =
      if (blockCap == Int.MaxValue) corpus
      else {
        val byBlock =
          Window.partitionBy($"label", $"bucket").orderBy($"vec_id".asc)
        corpus.withColumn("br", row_number().over(byBlock))
          .filter($"br" <= blockCap)
      }
    val right = capped
      .select($"vec_id".as("cand_id"), $"label".as("cl"),
        $"bucket".as("cb"), $"v".as("cv"), $"nrm".as("cn"))
    topKPerQuery(
      left
        .join(right,
          $"label" === $"cl" && $"bucket" === $"cb" && $"vec_id" =!= $"cand_id")
        .withColumn("sim", simR(cosine($"v", $"cv", $"nrm", $"cn")))
        .select($"vec_id", $"cand_id", $"sim"),
      "vec_id", "cand_id", k = 1)
      .select($"vec_id", $"neighbor_id", $"sim")
  }

  /** IVF top-k over caller-supplied centroids `(cell int, centroid
    * array<double>)` — the oracle-expressible core shared by the trained
    * path ([[ivfTopK]]) and the fixed-centroid declared query: every
    * vector is indexed under its nearest centroid, queries probe their
    * `probes` nearest cells, and `cellCap` bounds the candidates any one
    * cell contributes (members closest to the centroid win), so a hot
    * cell cannot go quadratic — recall degrades gracefully instead.
    *
    * Squared distance uses the algebraic identity ‖v−c‖² = ‖v‖² + ‖c‖²
    * − 2⟨v,c⟩, so assignment runs on the same codegen'd dot-product
    * primitive as the similarity itself (one fused pass per pair, and
    * the exact formulation a SQL oracle reproduces term for term). The
    * centroid table is rows=cells — always broadcast; the corpus is
    * shuffled once on cell_id. */
  def ivfTopKWithCentroids(emb: DataFrame, centroids: DataFrame, probes: Int,
      k: Int, cellCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = prepared(emb)
    val cents = centroids
      .withColumn("cn2", dot($"centroid", $"centroid"))
      .select($"cell", $"centroid", $"cn2")

    // distance of every vector to every centroid (cells multiplier on a
    // broadcast side only), ranked per vector. Null d2 (mis-dimensioned
    // or null-element vector) is dropped BEFORE ranking: the window's
    // NULLS-FIRST order would otherwise crown the malformed vector
    // cr=1 at an arbitrary cell, where the kernel routes return null
    // and drop it — both routes must drop non-assignable vectors
    // identically (SimilaritySpec pins the equality).
    val byDist = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cell".asc)
    val ranked = corpus
      .join(broadcast(cents))
      .withColumn("d2",
        $"nrm" * $"nrm" + $"cn2" - lit(2.0) * dot($"v", $"centroid"))
      .filter($"d2".isNotNull)
      .withColumn("cr", row_number().over(byDist))

    // index side: home cell only, hot cells capped at cellCap members
    // (closest to centroid win — deterministic)
    val byCell = Window.partitionBy($"cell").orderBy($"d2".asc, $"vec_id".asc)
    val indexed = ranked.filter($"cr" === 1)
      .withColumn("cellRank", row_number().over(byCell))
      .filter($"cellRank" <= cellCap)
      .select($"cell", $"vec_id".as("cand_id"), $"v".as("cv"), $"nrm".as("cn"))
    // query side: probe the `probes` nearest cells
    val queries = ranked.filter($"cr" <= probes)
      .select($"cell", $"vec_id", $"v", $"nrm")

    topKPerQuery(
      queries
        .join(indexed, Seq("cell"))
        .filter($"vec_id" =!= $"cand_id")
        .withColumn("sim", simR(cosine($"v", $"cv", $"nrm", $"cn")))
        // no dedup needed: each candidate is indexed under exactly ONE
        // home cell (cr = 1), and a query probes distinct cells, so a
        // (query, candidate) pair meets at most once
        .select($"vec_id", $"cand_id", $"sim"),
      "vec_id", "cand_id", k)
  }

  /** IVF top-k — the trained-centroid scale path (vs [[blockedNearest]]'s
    * fixed sign-buckets): seeded k-means cells partition the corpus; cell
    * count is a tuning knob (2¹⁰–2¹⁴ at corpus scale), so cell population
    * is ~N/cells instead of N/2^coords. Candidate probing and the
    * `cellCap` hot-cell bound live in [[ivfTopKWithCentroids]]. KMeans
    * training itself is Spark ML (seeded → deterministic);
    * `trainFraction < 1` fits on a corpus sample — centroid quality
    * converges long before the full corpus is seen, so at 100 TB the
    * k-means iterations run on a few million sampled vectors while
    * index + probe still cover every vector. Convenience form of
    * [[fitIvfIndex]] + [[ivfTopKWithModel]]; production persists the
    * fit via [[saveIvfIndex]]/[[loadIvfIndex]] instead of refitting. */
  def ivfTopK(emb: DataFrame, numCells: Int, probes: Int, k: Int,
      cellCap: Int = Int.MaxValue, seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame =
    ivfTopKWithModel(emb, fitIvfIndex(emb, numCells, seed, trainFraction),
      probes, k, cellCap)

  /** Fit the IVF coarse quantizer (seeded k-means, optionally on a
    * corpus sample). The returned model IS the index artifact: fit
    * once per corpus build, [[saveIvfIndex]] it, and serve every
    * subsequent query load from [[loadIvfIndex]] — at 100 TB the fit
    * runs on a few million sampled vectors and is then amortized
    * across the index's whole serving life, never per query. */
  def fitIvfIndex(emb: DataFrame, numCells: Int, seed: Long = 42L,
      trainFraction: Double = 1.0): KMeansModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sampled =
      if (trainFraction >= 1.0) prepared(emb)
      else prepared(emb).sample(withReplacement = false, trainFraction, seed)
    new KMeans().setK(numCells).setSeed(seed).setFeaturesCol("fv")
      .fit(sampled.withColumn("fv", array_to_vector($"v")))
  }

  /** Persist / restore the fitted index. Spark ML's native writer
    * (parquet metadata + centroid data under `path`) — cluster-FS
    * friendly and versioned by Spark itself. */
  def saveIvfIndex(model: KMeansModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadIvfIndex(path: String): KMeansModel = KMeansModel.load(path)

  /** The model's centroids as the `(cell, centroid)` relation
    * [[ivfTopKWithCentroids]] consumes — numCells rows, driver-side by
    * construction, broadcast to executors. */
  def centroidTable(spark: SparkSession, model: KMeansModel): DataFrame =
    centroidTableOf(spark, model.clusterCenters.map(_.toArray))

  /** [[centroidTable]] over a raw centroid matrix (cell id = row
    * index) — the form fixed or artifact-restored centroids use. */
  def centroidTableOf(spark: SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
  }

  /** Serve top-k from a fitted (possibly [[loadIvfIndex]]-restored)
    * index — the steady-state query path once the artifact exists. */
  def ivfTopKWithModel(emb: DataFrame, model: KMeansModel, probes: Int,
      k: Int, cellCap: Int = Int.MaxValue): DataFrame =
    ivfTopKWithCentroids(emb,
      centroidTable(emb.sparkSession, model), probes, k, cellCap)

  /** IVF top-k for LARGE cell counts — identical results to
    * [[ivfTopKWithModel]] (SimilaritySpec pins the equality), different
    * physical shape. The window-ranked assignment inside
    * [[ivfTopKWithCentroids]] materializes N×cells rows — each carrying
    * the full vector — through the `row_number` exchange: transparent
    * to the oracle and fine at the ≤64-cell grid it serves, but at the
    * 2¹⁰–2¹⁴ cells production runs (SURVEY §6.2) that is 10⁸⁺
    * vector-bearing rows through one shuffle for what is per-row
    * arithmetic. Here assignment is one codegen'd
    * [[graft.expressions.IvfNearestCells]] scan per vector against the
    * cluster-broadcast centroid matrix: O(cells × dim) per row, no row
    * expansion, and — when `cellCap` is unbounded — NO shuffle on the
    * index side at all (the only exchanges left are the candidate join
    * and the final top-k window, both ∝ candidates, not ∝ N×cells).
    *
    * The probed-cell list is computed ONCE per vector and serves both
    * sides: element 0 is the home cell (index side), the full list is
    * the probe set (query side). */
  def ivfTopKLarge(emb: DataFrame, model: KMeansModel, probes: Int,
      k: Int, cellCap: Int = Int.MaxValue): DataFrame =
    ivfTopKLargeWithCentroids(emb, model.clusterCenters.map(_.toArray),
      probes, k, cellCap)

  /** [[ivfTopKLarge]] over a raw centroid matrix (cell id = row index,
    * the [[centroidTable]] contract) — the form callers with
    * deterministic fixed centroids (or a matrix restored from an
    * artifact) use directly. */
  def ivfTopKLargeWithCentroids(emb: DataFrame,
      centroids: Array[Array[Double]], probes: Int,
      k: Int, cellCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val cs = graft.expressions.IvfAssignKernel.centroidSet(centroids)
    require(probes <= cs.numCells,
      s"probes=$probes exceeds the model's ${cs.numCells} cells")
    val bc = spark.sparkContext.broadcast(cs)
    val assigned = prepared(emb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes)))
    serveFromAssigned(assigned, k, cellCap)
  }

  /** Two-level-quantized [[ivfTopKLarge]] — the 2¹⁴⁺-cells shape:
    * cells are grouped driver-side
    * ([[graft.expressions.IvfAssignKernel.groupedCentroidSet]], a
    * deterministic Lloyd's over the CELL CENTROIDS — milliseconds,
    * no Spark job), and per-vector assignment scans the `numGroups`
    * group centroids plus only the `groupProbes` nearest groups'
    * member cells. At 2¹⁴ cells with 2⁷ groups and a few probes this
    * is ~50× less assignment arithmetic per row than the flat kernel —
    * the term §6.2 measured as serve-dominating at 4096 cells. The
    * recall trade: a candidate cell is lost only when its entire GROUP
    * outranks the probed set; `groupProbes >= numGroups` degenerates
    * to exactly the flat scan (spec-pinned bit-equal). */
  def ivfTopKTwoLevel(emb: DataFrame, model: KMeansModel, probes: Int,
      k: Int, numGroups: Int, groupProbes: Int,
      cellCap: Int = Int.MaxValue): DataFrame =
    ivfTopKTwoLevelGrouped(emb,
      graft.expressions.IvfAssignKernel.groupedCentroidSet(
        model.clusterCenters.map(_.toArray), numGroups),
      probes, k, groupProbes, cellCap)

  /** [[ivfTopKTwoLevel]] with the SQL-expressible FIXED grouping
    * (contiguous `groupSize`-cell blocks, member-mean group centroids —
    * [[graft.expressions.IvfAssignKernel.fixedGroupedCentroidSet]]) over
    * a raw centroid matrix. The form the declared q77 serves: every
    * step — block mean, level-1 group ranking, level-2 member-cell
    * ranking — is plain window SQL, so the group-pruned route itself is
    * DuckDB-oracle-checkable, not just its degenerate all-groups case. */
  def ivfTopKTwoLevelFixed(emb: DataFrame, centroids: Array[Array[Double]],
      groupSize: Int, probes: Int, k: Int, groupProbes: Int,
      cellCap: Int = Int.MaxValue): DataFrame =
    ivfTopKTwoLevelGrouped(emb,
      graft.expressions.IvfAssignKernel.fixedGroupedCentroidSet(
        centroids, groupSize),
      probes, k, groupProbes, cellCap)

  /** HIERARCHICAL two-level fit — the index-BUILD counterpart of
    * [[ivfTopKTwoLevel]]'s serving shape. A flat k-means at 2¹⁴ cells
    * pays O(sample × cells × dim) per iteration (§6.2 measured ~600 s
    * at 16 384 cells where 4 096 took ~72 s); here the same cell count
    * is fitted as `numGroups` coarse centers (one SMALL seeded Spark ML
    * fit — k = groups, not cells) followed by per-group sub-fits of
    * `cellsPerGroup` cells each, run as DISTRIBUTED tasks: the sample
    * is kernel-assigned to its nearest group, and each group's sample
    * slice — ~sample/groups points, bounded by construction because the
    * fit always runs on a sample, never the corpus — is fitted locally
    * inside one `mapGroups` task with the same deterministic
    * [[graft.expressions.IvfAssignKernel.lloyd]] the cell-grouping
    * uses (points sorted by vec_id first, so the sub-fit is invariant
    * to shuffle arrival order). Total arithmetic is
    * O(sample × groups × dim) + Σ O(sample_g × cellsPerGroup × dim) —
    * linear in √cells per level instead of linear in cells, and the
    * sub-fits parallelize across the cluster where flat k-means
    * iterations are lockstep.
    *
    * The result is an [[graft.expressions.IvfGroupedCentroidSet]]
    * whose grouping is the TRAINED hierarchy itself (group j's member
    * cells are exactly the cells fitted inside group j), so the
    * group-prune at serve time follows the same partition of space the
    * fit created — no post-hoc re-clustering of finished centroids.
    * Groups whose sample slice is empty keep their coarse center and
    * contribute zero cells; a slice smaller than `cellsPerGroup` yields
    * that many cells (lloyd clamps k ≤ points). Cell ids are assigned
    * contiguously in group order. Serve via [[ivfTopKWithGrouped]]. */
  def fitIvfHierarchical(emb: DataFrame, numGroups: Int, cellsPerGroup: Int,
      seed: Long = 42L, trainFraction: Double = 1.0,
      subIters: Int = 10): graft.expressions.IvfGroupedCentroidSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    require(numGroups >= 1, s"numGroups=$numGroups")
    require(cellsPerGroup >= 1, s"cellsPerGroup=$cellsPerGroup")
    val sampled =
      (if (trainFraction >= 1.0) prepared(emb)
       else prepared(emb).sample(withReplacement = false, trainFraction, seed))
        .select($"vec_id", $"v", $"nrm")
    // level 1: ONE small Spark ML fit (k = groups)
    val coarse = new KMeans().setK(numGroups).setSeed(seed)
      .setFeaturesCol("fv")
      .fit(sampled.withColumn("fv", array_to_vector($"v")))
    val gCents = coarse.clusterCenters.map(_.toArray)
    // level 2: kernel-assign the sample to its nearest group, then fit
    // cellsPerGroup cells per group inside one task each
    val bc = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(gCents))
    val assigned = sampled.withColumn("g",
      element_at(GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), 1)), 1).getField("cell"))
      .select($"g", $"vec_id", $"v")
      .as[(Int, Long, Seq[Double])]
    val perGroup: Map[Int, Array[Array[Double]]] = assigned
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val pts = it.toArray.sortBy(_._2).map(_._3.toArray)
        val (centers, _) =
          graft.expressions.IvfAssignKernel.lloyd(pts, cellsPerGroup, subIters)
        (g, centers.map(_.toSeq).toSeq)
      }
      .collect()
      .map { case (g, cs) => g -> cs.map(_.toArray).toArray }
      .toMap
    require(perGroup.nonEmpty, "hierarchical fit saw an empty sample — " +
      "raise trainFraction or check the corpus")
    val members = new Array[Array[Int]](numGroups)
    val cells = Array.newBuilder[Array[Double]]
    var next = 0
    var j = 0
    while (j < numGroups) {
      val cs = perGroup.getOrElse(j, Array.empty[Array[Double]])
      members(j) = Array.range(next, next + cs.length)
      cells ++= cs
      next += cs.length
      j += 1
    }
    val flat = graft.expressions.IvfAssignKernel.centroidSet(cells.result())
    val gn2 = gCents.map { a =>
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    graft.expressions.IvfGroupedCentroidSet(flat, gCents, gn2, members)
  }

  /** Distributed Lloyd POLISH over the FULL cell set — the
    * recall-recovery knob for [[fitIvfHierarchical]] (§6.2 measured the
    * hierarchy's recall price at −0.09..−0.13 vs an equal-cell flat
    * fit: a group's cells refine only its own sample slice, so
    * group-boundary vectors land in coarser cells). Each iteration
    * costs ONE kernel-assign pass over the training sample
    * (O(sample × cells × dim) — what a SINGLE flat k-means iteration
    * pays, i.e. ~1/20th of the full flat fit) plus one per-cell mean,
    * computed DETERMINISTICALLY (vec_id-ordered summation inside
    * `mapGroups`, the same stance as the hierarchical sub-fits), so a
    * polished index is run-deterministic like everything else in the
    * family. Cells that attract no sample keep their position. The
    * grouping is re-derived driver-side over the polished centroids
    * ([[graft.expressions.IvfAssignKernel.groupedCentroidSet]] — the
    * polished cells may cross their old group boundaries, and serving
    * recall depends on the grouping matching the cells it prunes). */
  def polishIvfGrouped(emb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet, iters: Int,
      seed: Long = 42L,
      trainFraction: Double = 1.0): graft.expressions.IvfGroupedCentroidSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    require(iters >= 1, s"iters=$iters")
    val sample =
      (if (trainFraction >= 1.0) prepared(emb)
       else prepared(emb).sample(withReplacement = false, trainFraction, seed))
        .select($"vec_id", $"v", $"nrm")
        .localCheckpoint(true) // iterated over: assign once per pass
    try {
      var cents = gcs.flat.cents
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(
          graft.expressions.IvfAssignKernel.centroidSet(cents))
        val perCell = sample.withColumn("cell",
          element_at(GraftColumnBridge.column(
            graft.expressions.IvfNearestCells(bc,
              GraftColumnBridge.expression($"v"),
              GraftColumnBridge.expression($"nrm"), 1)), 1).getField("cell"))
          .select($"cell", $"vec_id", $"v")
          .as[(Int, Long, Seq[Double])]
          .groupByKey(_._1)
          .mapGroups { (c, itr) =>
            val pts = itr.toArray.sortBy(_._2)
            val dim = pts(0)._3.length
            val s = new Array[Double](dim)
            pts.foreach { p =>
              var i = 0; val v = p._3
              while (i < dim) { s(i) += v(i); i += 1 }
            }
            var i = 0
            while (i < dim) { s(i) /= pts.length; i += 1 }
            (c, s.toSeq)
          }
          .collect().map { case (c, s) => c -> s.toArray }.toMap
        // this iteration's centroid broadcast (megabytes at 2^14 cells)
        // is fully consumed by the collect above — release it now
        // instead of accruing one per iteration until ContextCleaner GC
        bc.destroy()
        cents = cents.zipWithIndex.map { case (old, i) =>
          perCell.getOrElse(i, old)
        }
        it += 1
      }
      graft.expressions.IvfAssignKernel.groupedCentroidSet(cents,
        gcs.numGroups)
    } finally org.apache.spark.sql.GraftColumnBridge
      .unpersistLocalCheckpoint(sample)
  }

  /** Mean squared assignment distance of the training sample to its
    * nearest cell — the quantization error a Lloyd pass monotonically
    * improves on that sample; the index-quality number [[polishIvfGrouped]]
    * is judged by (recall is the downstream symptom; this is the cause). */
  def quantizationError(emb: DataFrame,
      cents: Array[Array[Double]], seed: Long = 42L,
      trainFraction: Double = 1.0): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val bc = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(cents))
    val sample =
      if (trainFraction >= 1.0) prepared(emb)
      else prepared(emb).sample(withReplacement = false, trainFraction, seed)
    sample.select(element_at(GraftColumnBridge.column(
        graft.expressions.IvfNearestCells(bc,
          GraftColumnBridge.expression($"v"),
          GraftColumnBridge.expression($"nrm"), 1)), 1)
        .getField("d2").as("d2"))
      .agg(avg($"d2")).as[Double].head()
  }

  /** Serve top-k through an explicit grouped centroid set — the
    * steady-state path for a [[fitIvfHierarchical]] (or
    * [[loadIvfGrouped]]-restored) index. */
  def ivfTopKWithGrouped(emb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet, probes: Int, k: Int,
      groupProbes: Int, cellCap: Int = Int.MaxValue): DataFrame =
    ivfTopKTwoLevelGrouped(emb, gcs, probes, k, groupProbes, cellCap)

  /** Persist / restore a grouped (two-level) index as a plain parquet
    * artifact: one row per group (`kind='group'`, its centroid and
    * member-cell list) and one per cell (`kind='cell'`, its centroid).
    * Doubles round-trip parquet exactly, and the self-dots are
    * recomputed on load with the same index-order summation
    * [[graft.expressions.IvfAssignKernel.centroidSet]] always uses, so
    * a restored index serves bit-identically to the fitted one
    * (spec-pinned). */
  def saveIvfGrouped(spark: SparkSession,
      gcs: graft.expressions.IvfGroupedCentroidSet, path: String): Unit = {
    import spark.implicits._
    val groups = gcs.gCents.zipWithIndex.map { case (c, j) =>
      ("group", j, c.toSeq, gcs.members(j).toSeq)
    }.toSeq
    val cells = gcs.flat.cents.zipWithIndex.map { case (c, i) =>
      ("cell", i, c.toSeq, Seq.empty[Int])
    }.toSeq
    (groups ++ cells).toDF("kind", "id", "centroid", "members")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadIvfGrouped(spark: SparkSession,
      path: String): graft.expressions.IvfGroupedCentroidSet = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select($"kind", $"id", $"centroid", $"members")
      .as[(String, Int, Seq[Double], Seq[Int])]
      .collect()
    val cells = rows.filter(_._1 == "cell").sortBy(_._2)
      .map(_._3.toArray)
    val gRows = rows.filter(_._1 == "group").sortBy(_._2)
    val gCents = gRows.map(_._3.toArray)
    val members = gRows.map(_._4.toArray)
    val gn2 = gCents.map { a =>
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    graft.expressions.IvfGroupedCentroidSet(
      graft.expressions.IvfAssignKernel.centroidSet(cells), gCents, gn2,
      members)
  }

  private def ivfTopKTwoLevelGrouped(emb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet, probes: Int, k: Int,
      groupProbes: Int, cellCap: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    require(probes <= gcs.flat.numCells,
      s"probes=$probes exceeds the model's ${gcs.flat.numCells} cells")
    val bc = spark.sparkContext.broadcast(gcs)
    val assigned = prepared(emb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCellsTwoLevel(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes, groupProbes)))
    serveFromAssigned(assigned, k, cellCap)
  }

  /** Candidate join + top-k window shared by the kernel-assigned
    * routes: element 0 of `nc` is the home cell (index side), the full
    * list the probe set (query side). No index-side exchange when the
    * hot-cell cap is unbounded. */
  private def serveFromAssigned(assigned: DataFrame, k: Int,
      cellCap: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val home = assigned.select(
      element_at($"nc", 1).getField("cell").as("cell"),
      element_at($"nc", 1).getField("d2").as("d2"),
      $"vec_id".as("cand_id"), $"v".as("cv"), $"nrm".as("cn"))
    val indexed =
      if (cellCap == Int.MaxValue) home.drop("d2")
      else {
        val byCell =
          Window.partitionBy($"cell").orderBy($"d2".asc, $"cand_id".asc)
        home.withColumn("cellRank", row_number().over(byCell))
          .filter($"cellRank" <= cellCap).drop("cellRank", "d2")
      }
    val queries = assigned
      .select($"vec_id", $"v", $"nrm", explode($"nc.cell").as("cell"))
    topKPerQuery(
      queries
        .join(indexed, Seq("cell"))
        .filter($"vec_id" =!= $"cand_id")
        .withColumn("sim", simR(cosine($"v", $"cv", $"nrm", $"cn")))
        .select($"vec_id", $"cand_id", $"sim"),
      "vec_id", "cand_id", k)
  }

  /** Order-insensitive checksum of a model's centroids — embedded in
    * the postings artifact so an append or serve with the WRONG model
    * fails fast instead of silently assigning against different cells
    * (the one corruption the cells-count check cannot see). */
  def centroidChecksum(model: KMeansModel): Long =
    centroidChecksumOf(model.clusterCenters.map(_.toArray))

  /** [[centroidChecksum]] over a raw centroid matrix — the identity a
    * grouped (two-level / [[fitIvfHierarchical]]) index's flat cells
    * carry, so a postings artifact validates against WHICHEVER fit
    * route produced the cells. */
  def centroidChecksumOf(cents: Array[Array[Double]]): Long =
    cents.map(c => java.util.Arrays.hashCode(c).toLong).sum

  /** Persistable IVF POSTINGS — the corpus side of the index as an
    * artifact: every vector under its home cell (hot cells capped at
    * `cellCap`, closest-to-centroid win), with the assignment distance
    * stored so the cap can be re-applied EXACTLY on later appends, and
    * the model's cell count + cap + centroid checksum embedded
    * ([[graft.operators.Dedup.minhashBandIndex]]'s params-in-artifact
    * stance). Save as parquet next to [[saveIvfIndex]]'s model dir;
    * [[ivfTopKFromPostings]] then serves queries WITHOUT re-assigning
    * the corpus — the missing piece that makes IVF serving cost
    * ∝ queries instead of ∝ corpus per call. */
  def ivfPostings(emb: DataFrame, model: KMeansModel,
      cellCap: Int = Int.MaxValue): DataFrame =
    ivfPostingsWithCentroids(emb, model.clusterCenters.map(_.toArray),
      cellCap)

  /** [[ivfPostings]] over a raw centroid matrix — the form fixed
    * (SQL-reproducible, q78) or artifact-restored centroids use; the
    * embedded checksum is the same [[centroidChecksumOf]] identity, so
    * the artifact serves and appends through either centroid source. */
  def ivfPostingsWithCentroids(emb: DataFrame,
      cents: Array[Array[Double]], cellCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    assignedHome(prepared(emb), cents, cellCap)
      .withColumn("iv_cells", lit(cents.length))
      .withColumn("iv_cap", lit(cellCap))
      .withColumn("iv_ck", lit(centroidChecksumOf(cents)))
  }

  /** [[ivfPostings]] for LARGE cell counts — the SAME artifact
    * (spec-pinned row-equal including the stored d2: the kernel sums
    * ⟨v,c⟩ in index order, so values and cap tie-breaks match the
    * window-ranked build exactly), built without the corpus×cells row
    * expansion: home assignment is one codegen
    * [[graft.expressions.IvfNearestCells]] scan per vector, and when
    * `cellCap` is unbounded there is NO index-side exchange at all —
    * the build is a single scan-project. At 2¹⁴ cells the expanded
    * build pushes N×16384 vector-bearing rows through the home-cell
    * window; this one pushes N. */
  def ivfPostingsLarge(emb: DataFrame, model: KMeansModel,
      cellCap: Int = Int.MaxValue): DataFrame =
    ivfPostingsKernelBuilt(emb, model.clusterCenters.map(_.toArray), cellCap)

  /** Postings for a grouped / hierarchical index
    * ([[fitIvfHierarchical]] or a [[loadIvfGrouped]] restore): built
    * against its FLAT cells with the exact kernel scan — the build is
    * one-time and must assign every vector to its TRUE home cell, so
    * only serving ([[ivfTopKFromPostingsGrouped]]) two-level-prunes.
    * The embedded checksum is over the flat cells, matching what the
    * grouped serving route verifies. */
  def ivfPostingsFromGrouped(emb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet,
      cellCap: Int = Int.MaxValue): DataFrame =
    ivfPostingsKernelBuilt(emb, gcs.flat.cents, cellCap)

  private def ivfPostingsKernelBuilt(emb: DataFrame,
      cents: Array[Array[Double]], cellCap: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val cs = graft.expressions.IvfAssignKernel.centroidSet(cents)
    val bc = spark.sparkContext.broadcast(cs)
    val home = prepared(emb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), 1)))
      .select(element_at($"nc", 1).getField("cell").as("cell"),
        $"vec_id".as("cand_id"), $"v".as("cv"), $"nrm".as("cn"),
        element_at($"nc", 1).getField("d2").as("d2"))
      // kernel assignment yields null for non-assignable vectors (dim
      // mismatch / null element); drop them here so the ARTIFACT never
      // carries a null-cell posting row (the window-ranked build drops
      // them at ranking time — the two builds must stay row-equal)
      .filter($"cell".isNotNull)
    cappedByCell(home, cs.numCells, cellCap)
      .withColumn("iv_cells", lit(cs.numCells))
      .withColumn("iv_cap", lit(cellCap))
      .withColumn("iv_ck", lit(centroidChecksumOf(cents)))
  }

  /** Home-cell assignment + deterministic hot-cell cap, shared by the
    * build and append paths (equality between them depends on this
    * being ONE definition).
    *
    * r19: assignment is the codegen KERNEL scan
    * ([[graft.expressions.IvfNearestCells]]) — one pass over the
    * corpus, no corpus×cells row expansion and no per-vector window
    * (the old window-ranked form shuffled numCells vector-bearing rows
    * per vector through a `row_number` exchange; guide §2.3/§2.4).
    * Row-equal INCLUDING the stored d2 — the kernel sums ⟨v,c⟩ in
    * index order, so values and cap tie-breaks match the window form
    * bit-for-bit (SimilaritySpec pins kernel ≡ window-ranked against
    * an inline reference, capped and not; the lifecycle oracles pin it
    * against DuckDB end-to-end). Null law unchanged: non-assignable
    * vectors (dim mismatch / null element) drop. */
  /** One broadcast per (live context, centroid-set identity):
    * [[assignedHome]] runs on every build, append and recap, and a
    * fresh `broadcast()` per call accumulates driver/executor blocks
    * until the GC-driven ContextCleaner happens to reclaim them (r19
    * ADVICE). Keyed by the same order-insensitive checksum the
    * postings artifact embeds as its model identity, plus cells×dim as
    * a collision guard; weak context keys let a stopped session's
    * entries vanish with it. */
  private val centroidBcCache =
    new java.util.WeakHashMap[org.apache.spark.SparkContext,
      scala.collection.mutable.Map[(Long, Int, Int),
        org.apache.spark.broadcast.Broadcast[
          graft.expressions.IvfCentroidSet]]]()

  private def broadcastCentroids(spark: SparkSession,
      cents: Array[Array[Double]]): org.apache.spark.broadcast.Broadcast[
        graft.expressions.IvfCentroidSet] = {
    val sc = spark.sparkContext
    val key = (centroidChecksumOf(cents), cents.length,
      if (cents.isEmpty) 0 else cents(0).length)
    centroidBcCache.synchronized {
      val perCtx = {
        val m = centroidBcCache.get(sc)
        if (m != null) m
        else {
          val m2 = scala.collection.mutable.Map.empty[(Long, Int, Int),
            org.apache.spark.broadcast.Broadcast[
              graft.expressions.IvfCentroidSet]]
          centroidBcCache.put(sc, m2)
          m2
        }
      }
      perCtx.getOrElseUpdate(key,
        sc.broadcast(graft.expressions.IvfAssignKernel.centroidSet(cents)))
    }
  }

  private def assignedHome(corpus: DataFrame, cents: Array[Array[Double]],
      cellCap: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val bc = broadcastCentroids(spark, cents)
    val home = corpus.withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), 1)))
      .select(element_at($"nc", 1).getField("cell").as("cell"),
        $"vec_id".as("cand_id"), $"v".as("cv"), $"nrm".as("cn"),
        element_at($"nc", 1).getField("d2").as("d2"))
      .filter($"cell".isNotNull)
    cappedByCell(home, cents.length, cellCap)
  }

  /** Hot-cell cap window over a home-assigned frame, with its exchange
    * PINNED to the cell count (r20): the window's own AQE-eligible
    * exchange coalesces a small build's post-shuffle bytes to ONE task
    * and the whole cap (sort + rank over vector-bearing rows) runs
    * serially — the [[byCellPinned]] file-count argument applied to the
    * cap stage (parallelism must follow cells, not shuffle bytes). The
    * window reuses the pinned exchange in place (hash(cell, N)
    * satisfies its required distribution), so the exchange COUNT is
    * unchanged, and values are partitioning-independent (row_number
    * within cell under a total order). At a production 2¹⁴-cell
    * geometry the bound never binds — the session's shuffle partitions
    * win exactly as before. */
  private def cappedByCell(home: DataFrame, cells: Int,
      cellCap: Int): DataFrame = {
    val spark = home.sparkSession
    import spark.implicits._
    if (cellCap == Int.MaxValue) home
    else {
      val byCell =
        Window.partitionBy($"cell").orderBy($"d2".asc, $"cand_id".asc)
      byCellPinned(home, cells)
        .withColumn("cellRank", row_number().over(byCell))
        .filter($"cellRank" <= cellCap)
        .drop("cellRank")
    }
  }

  /** The parameters embedded in a postings artifact (fail-fast seam). */
  private def postingsParams(postings: DataFrame): (Int, Int, Long) = {
    val head = postings.select("iv_cells", "iv_cap", "iv_ck").take(1)
    require(head.nonEmpty,
      "empty IVF postings — build them with ivfPostings over the corpus")
    (head(0).getInt(0), head(0).getInt(1), head(0).getLong(2))
  }

  /** The embedded parameters of a postings DIRECTORY, read from ONE
    * part-file: `spark.read.parquet(dir)` on a partitioned artifact
    * lists EVERY file before the first row can be taken, so a fragment
    * append — whose only read is these four constants — was paying an
    * O(total-files) metadata scan in front of its O(batch) write. At
    * 16 384 cells the A/B measured exactly that: after 8 fragment
    * appends (42 k files) the listing dominated the append, flipping
    * the mode's economics (first/last appends 2–3× the steady ones,
    * and a cache-eviction storm in SharedInMemoryCache). The constants
    * are identical in every row of every file by construction, so one
    * FS-level root listing (∝ cells), one cell-directory listing, one
    * footer read replace the full enumeration. Returns
    * (cells, cap, checksum, embedded groupProbes if two-level-built).
    *
    * With a clean [[PostingsManifest]] even those listings vanish: the
    * params ride the manifest (one small-file read, zero artifact
    * listings) — [[postingsParamsAtPath]] prefers it and falls back
    * here. */
  private def paramsOf(st: PostingsManifest.State)
      : (Int, Int, Long, Option[Int]) =
    (st.params.cells, st.params.cap, st.params.ck, st.params.gp)

  private def postingsParamsAtPath(spark: SparkSession, path: String)
      : (Int, Int, Long, Option[Int]) =
    PostingsManifest.readClean(spark, path) match {
      case Some(st) => paramsOf(st)
      case None => paramsFromFooter(spark, path)
    }

  private def paramsFromFooter(spark: SparkSession, path: String)
      : (Int, Int, Long, Option[Int]) = timed("params_at_path") {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDir = fs.listStatus(hPath)
      .find(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
    require(cellDir.nonEmpty,
      "empty IVF postings — build them with saveIvfPostings over the corpus")
    val part = fs.listStatus(cellDir.get.getPath)
      .find(f => f.isFile && f.getPath.getName.startsWith("part-"))
    require(part.nonEmpty,
      s"postings cell directory holds no part-files: ${cellDir.get.getPath}")
    val p = PostingsManifest.paramsOfFile(spark, part.get.getPath)
    (p.cells, p.cap, p.ck, p.gp)
  }

  /** Roll a postings artifact forward for newly arrived vectors —
    * assignment against the FROZEN centroids (the model must be the
    * artifact's own: checksum-verified), then the hot-cell cap
    * re-applied over old ∪ new WITHIN TOUCHED CELLS ONLY, so a closer
    * newcomer evicts exactly as a from-scratch build would. Cost:
    * delta assignment (∝ batch, centroids broadcast) + a window over
    * the touched cells' populations — never a full-postings pass; at
    * most `numCells` cells exist, and a batch touches at most
    * batch-many. Spec-pinned EXACTLY equal to rebuilding postings over
    * the union (d2 is stored, so cap ties resolve identically). */
  def appendToIvfPostings(postings: DataFrame, model: KMeansModel,
      newEmb: DataFrame): DataFrame =
    appendToIvfPostingsWithCentroids(postings,
      model.clusterCenters.map(_.toArray), newEmb)

  /** [[appendToIvfPostings]] over a raw centroid matrix — same
    * checksum-verified frozen-centroid contract, for artifacts built
    * from fixed or restored centroids (q78 declares this path). */
  def appendToIvfPostingsWithCentroids(postings: DataFrame,
      cents: Array[Array[Double]], newEmb: DataFrame): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val (recapped, touched) = recapTouched(postings, cents, newEmb)
    postings
      .join(broadcast(touched), Seq("cell"), "left_anti")
      .unionByName(recapped)
  }

  /** The touched-cell recap shared by [[appendToIvfPostings]] and the
    * in-place directory form: (recapped rows of every touched cell,
    * the touched-cell list). Re-appending an already-indexed vector is
    * ABSORBED (dedup on (cell, cand_id) — identical rows by
    * determinism of d2), which is what makes a crash-replayed in-place
    * append converge instead of double-counting candidates. */
  private def recapTouched(postings: DataFrame,
      cents: Array[Array[Double]],
      newEmb: DataFrame): (DataFrame, DataFrame) = {
    val spark = postings.sparkSession
    val (cells, cap, ck) = postingsParams(postings)
    require(cents.length == cells,
      s"model has ${cents.length} cells, artifact $cells")
    require(centroidChecksumOf(cents) == ck,
      "model centroids differ from the artifact's — append with the " +
        "index's own saved model (loadIvfIndex), or rebuild ivfPostings")
    val delta = assignedHome(prepared(newEmb), cents, cap)
      .withColumn("iv_cells", lit(cells))
      .withColumn("iv_cap", lit(cap))
      .withColumn("iv_ck", lit(ck))
    recapFromDelta(postings, delta, cap)
  }

  /** The recap core shared by the exact and two-level append routes:
    * `delta` is the batch already home-assigned (and carrying the
    * artifact's iv_ columns); every touched cell's old ∪ new rows are
    * deduped on (cell, cand_id) and re-capped, so a closer newcomer
    * evicts exactly as a from-scratch build would and a crash-replayed
    * batch converges. */
  private def recapFromDelta(postings: DataFrame, delta: DataFrame,
      cap: Int): (DataFrame, DataFrame) = {
    val spark = postings.sparkSession
    import spark.implicits._
    val touched = delta.select($"cell").distinct()
    val recapped = capFold(postings
      .join(broadcast(touched), Seq("cell"), "left_semi")
      .unionByName(delta.select(postings.columns.map(col): _*)), cap)
    (recapped, touched)
  }

  /** Persist postings PARTITIONED BY CELL — the directory layout that
    * makes in-place maintenance and cell-pruned serving possible
    * (a probe of 12 cells reads 12 directories). The frame is
    * repartitioned BY CELL first so each cell directory holds ONE file
    * instead of one per upstream task — with 32 upstream partitions
    * each spraying most of 2¹⁴ cells, the naive write lands ~upstream×
    * cells files, and §6.2 measured the resulting ~500 k-file artifact
    * dominating BOTH the build wall and every later full-artifact
    * read. The exchange this adds is ∝ artifact, once, at build time. */
  /** Hash-distribute by cell across a PINNED number of partitions:
    * each cell's rows land in exactly one task (1-file-per-cell holds
    * for any N), but the explicit N keeps AQE from coalescing the
    * write to one task — a bare `repartition(col)` is an AQE-eligible
    * shuffle, and a small maintenance delta coalesces to a SINGLE
    * task that then creates every touched cell's parquet file
    * serially (~12 ms each: measured 21 s for a 3.1 k-row fragment
    * delta touching 1.7 k cells, vs sub-second arithmetic). File
    * creation, not data volume, is these writes' unit of work — so
    * parallelism must follow file count, not shuffle bytes. */
  /** `cells` bounds the pinned partition count by the number of files
    * the write can actually create (touched cells — one file per cell):
    * parallelism follows file count, so an 8-cell artifact's delta
    * writes 8 tasks, not the session's 32 (24 of them empty, each still
    * paying task launch + commit — measured ~0.13 s per staged write at
    * the fixture geometry). At a production 2¹⁴-cell geometry the bound
    * never binds and the session's shuffle partitions win as before. */
  private def byCellPinned(df: DataFrame,
      cells: Int = Int.MaxValue): DataFrame =
    df.repartition(
      math.min(df.sparkSession.sessionState.conf.numShufflePartitions,
        math.max(1, cells)), col("cell"))

  /** The postings fold every recap, compaction and dirty read applies:
    * dedup (cell, cand_id) — a replayed batch, a tombstone beside its
    * live copy and a half-staged recap beside the rows it supersedes
    * are all the same row twice (d2 is deterministic) — then keep each
    * cell's `cap` nearest by (d2, cand_id), the order a from-scratch
    * build caps by. The rows shuffle ONCE: [[byCellPinned]] goes first
    * and the dedup and the rank window both run on its cell
    * partitioning, which is also the one-file-per-cell layout the
    * cell-partitioned writes need, so [[stageIntoCells]] and
    * [[overwriteTouchedCells]] write the fold as it stands. An uncapped
    * artifact skips the window. */
  private def capFold(df: DataFrame, cap: Int,
      cells: Int = Int.MaxValue): DataFrame = {
    val deduped = byCellPinned(df, cells)
      .dropDuplicates(Seq("cell", "cand_id"))
    if (cap == Int.MaxValue) deduped
    else deduped
      .withColumn("cellRank", row_number().over(Window
        .partitionBy(col("cell")).orderBy(col("d2").asc, col("cand_id").asc)))
      .filter(col("cellRank") <= cap)
      .drop("cellRank")
  }

  /** The postings data files' schema (partition column excluded) — what
    * [[ivfPostingsKernelBuilt]]/[[ivfPostingsTwoLevel]] write; the
    * two-level builds add `iv_gp`. Manifest-served reads derive it from
    * the manifest params instead of opening a footer. */
  private def postingsDataSchema(hasGp: Boolean):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val base = StructType(Seq(
      StructField("cand_id", LongType),
      StructField("cv", ArrayType(DoubleType)),
      StructField("cn", DoubleType),
      StructField("d2", DoubleType),
      StructField("iv_cells", IntegerType),
      StructField("iv_cap", IntegerType),
      StructField("iv_ck", LongType)))
    if (hasGp) base.add(StructField("iv_gp", IntegerType)) else base
  }

  /** Open a postings DIRECTORY for serving — the read every
    * postings-served route should start from. With a clean
    * [[PostingsManifest]] the scan is planned from a
    * [[graft.plans.PostingsFileIndex]] snapshot: ZERO filesystem
    * listings (a `spark.read.parquet(dir)` on a partitioned artifact
    * lists every file before the first task — the §6.2-measured
    * serving term at 10⁴⁺ cells), exact byte sizes for the optimizer,
    * and partition pruning against the manifest's cell values — so
    * [[ivfTopKFromPostingsPruned]] over this frame touches only probed
    * cells' FILES, no directory ever opened. Falls back to the
    * discovering read for manifest-less or dirty artifacts.
    *
    * The frame is a SNAPSHOT: maintenance committed after this call is
    * invisible until the caller re-opens. Whether the snapshot SURVIVES
    * overlapped maintenance depends on the maintenance mode: the
    * overwrite-style ops ([[appendIvfPostingsInPlace]],
    * [[compactIvfPostings]]) DELETE the files they replace at commit,
    * so they keep the between-serving-epochs contract;
    * [[compactIvfPostingsRetained]] retires superseded files instead of
    * deleting them, which is the compact-WHILE-serve mode — a snapshot
    * opened before it keeps serving correctly through it
    * (StreamingSpec-pinned). */
  def readPostings(spark: SparkSession, path: String): DataFrame =
    PostingsManifest.readClean(spark, path) match {
      case Some(st) =>
        org.apache.spark.sql.GraftColumnBridge.parquetOverFileIndex(spark,
          new graft.plans.PostingsFileIndex(path, st),
          postingsDataSchema(st.params.gp.nonEmpty))
      case None =>
        spark.catalog.refreshByPath(path)
        val raw = spark.read.parquet(path)
        // A DIRTY artifact's directory is not serving truth by itself:
        // with retained maintenance the directory legitimately holds
        // tombstoned files (and, after a crash mid-op, possibly
        // half-staged recap files next to the rows they supersede), so
        // a raw read double-counts (cell, cand_id) and over-fills
        // capped cells. Converge with the SAME idempotent law the
        // compaction fold applies — dedup (cell, cand_id), re-rank,
        // re-cap — which maps tombstone+live and half-staged+old states
        // alike onto the canonical artifact (cap-over-union is
        // idempotent; spec-pinned equal to the clean manifest read).
        // A manifest-ABSENT artifact skips this: it never ran a
        // retained op (those require a manifest), so its listing is
        // truth and the extra shuffle would be pure cost.
        if (!MaintenanceProtocol.isDirty(spark, path)) raw
        else {
          val head = raw.select(col("iv_cap")).take(1)
          if (head.isEmpty) raw else capFold(raw, head(0).getInt(0))
        }
    }

  // ------------------------------------------------- packed postings

  /** The PACKED postings layout's family tag in its
    * [[ArtifactManifest]] sidecar. */
  private val PackedPostingsFamily = "ivf_postings_packed"

  /** Packed data files carry `cell` as a DATA column (sorted, so
    * row-group stats prune on it); `pack` is the partition column. */
  private def packedDataSchema(hasGp: Boolean):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(StructField("cell", IntegerType) +:
      postingsDataSchema(hasGp).fields)
  }

  /** Persist postings in the CELL-GROUP ("packed") layout: one
    * partition directory per PACK of `cellsPerPack` contiguous cells,
    * ONE file per pack, rows sorted by (cell, d2) inside — versus the
    * classic [[saveIvfPostings]] one-directory-one-file PER CELL. At
    * 2¹⁴ cells that is ~128 files instead of ~14.6 k: the build's
    * dominating term at that posture was the partitioned write's
    * per-file cost (task commit, footer, FS metadata — §6.1 r16
    * measured the sf30 build at 86.7 s raw with the write dominating),
    * and file-count-proportional costs keep being paid at every serve
    * plan and store listing for the artifact's life.
    *
    * What the trade buys and costs: pack-level partition pruning
    * (probed cells → their packs, pushed through the manifest
    * FileIndex exactly like the classic cell prune) plus ROW-GROUP
    * pruning on the sorted in-file `cell` column recovers most of the
    * per-cell prune; worst-case read amplification per probed cell is
    * its pack (bounded by `cellsPerPack`). It is the SERVE-OPTIMIZED
    * SNAPSHOT layout: build it from a full postings frame (monthly
    * rebuild cadence, or re-pack a maintained classic artifact via
    * [[readPostings]]); incremental maintenance stays on the classic
    * layout — the append/compact/retain machinery is deliberately not
    * duplicated here.
    *
    * Same lease + born-with-a-manifest discipline as the classic
    * build; the sidecar is an [[ArtifactManifest]] (family
    * `ivf_postings_packed`) carrying cells/cap/ck/gp/cellsPerPack, so
    * packed serving never opens a footer for params and never lists a
    * directory. */
  def saveIvfPostingsPacked(postings: DataFrame, path: String,
      cellsPerPack: Int = 128): Unit = {
    val spark = postings.sparkSession
    require(cellsPerPack > 0, s"cellsPerPack=$cellsPerPack")
    val (cells, cap, ck) = postingsParams(postings)
    val gp =
      if (postings.columns.contains("iv_gp"))
        Some(postings.select(col("iv_gp")).take(1)(0).getInt(0))
      else None
    val packs = (cells + cellsPerPack - 1) / cellsPerPack
    MaintenanceProtocol.withLease(spark, path, "build_packed") {
      postings
        .withColumn("pack", (col("cell") / cellsPerPack).cast("int"))
        .repartition(packs, col("pack"))
        .sortWithinPartitions("pack", "cell", "d2", "cand_id")
        .write.mode("overwrite").partitionBy("pack").parquet(path)
      // one listing + one footer read at build time (the one moment an
      // O(artifact) pass is already paid — and the artifact is only
      // ~packs files here)
      val params = Map(
        "cells" -> cells.toString, "cap" -> cap.toString,
        "ck" -> ck.toString, "cpp" -> cellsPerPack.toString) ++
        gp.map(g => "gp" -> g.toString)
      ArtifactManifest.write(spark, path, ArtifactManifest.rebuild(spark,
        path, PackedPostingsFamily, params))
    }
  }

  /** Re-pack a MAINTAINED classic artifact into the packed snapshot —
    * the deployment cycle's one call: [[readPostings]] resolves the
    * classic artifact's LIVE state (manifest-planned: tombstones
    * excluded, fragments included as served), and the packed build
    * lands it as the serve-optimized layout. Run on the rebuild
    * cadence (the reference's monthly dump,
    * docker/aact/Dockerfile:20-22): maintenance keeps operating on the
    * classic artifact; serving flips to the new packed snapshot when
    * this returns. */
  def repackPostings(spark: SparkSession, classicPath: String,
      packedPath: String, cellsPerPack: Int = 128): Unit =
    saveIvfPostingsPacked(readPostings(spark, classicPath), packedPath,
      cellsPerPack)

  /** The packed artifact's embedded params, as its manifest carries
    * them — serving never opens a data page for them. */
  private case class PackedParams(cells: Int, cap: Int, ck: Long,
      cpp: Int, gp: Option[Int])

  /** Open a packed artifact: with a clean manifest the scan plans from
    * a [[graft.plans.ManifestFileIndex]] keyed by `pack` — zero
    * listings, pack-level partition pruning — with `cell` served from
    * the sorted data pages, and the params handed back from the
    * manifest (no footer/head job rides the serve path). The
    * discovering fallback still answers exactly (pack is a discovered
    * partition column); it plans from a listing and its caller derives
    * params from the data. */
  private def readPackedPostingsWithCpp(spark: SparkSession,
      path: String): (DataFrame, Option[PackedParams]) =
    ArtifactManifest.readClean(spark, path, PackedPostingsFamily) match {
      case Some(st) =>
        val root = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
        val groups = st.files
          .groupBy(e => e.file.takeWhile(_ != '/'))
          .toSeq
          .map { case (dir, es) =>
            (dir.stripPrefix("pack=").toInt, es)
          }
          .sortBy(_._1)
          .map { case (pk, es) =>
            (org.apache.spark.sql.catalyst.InternalRow(pk),
              es.map(e => (new org.apache.hadoop.fs.Path(root, e.file),
                e.bytes)))
          }
        val idx = new graft.plans.ManifestFileIndex(root,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pack",
              org.apache.spark.sql.types.IntegerType))),
          groups)
        (org.apache.spark.sql.GraftColumnBridge.parquetOverFileIndex(
          spark, idx, packedDataSchema(st.params.contains("gp"))),
          Some(PackedParams(st.params("cells").toInt,
            st.params("cap").toInt, st.params("ck").toLong,
            st.params("cpp").toInt, st.params.get("gp").map(_.toInt))))
      case None =>
        ArtifactManifest.requireFamilyOrUnknown(spark, path,
          PackedPostingsFamily)
        spark.catalog.refreshByPath(path)
        (spark.read.parquet(path), None)
    }

  def readPackedPostings(spark: SparkSession, path: String): DataFrame =
    readPackedPostingsWithCpp(spark, path)._1

  /** [[ivfTopKFromPostingsPruned]] over a PACKED artifact: identical
    * results (spec-pinned — pruning can never change what joins a
    * probe), with the probed-cell set pushed twice — as a pack-IN
    * partition filter (manifest FileIndex prune, reads only probed
    * packs' FILES) and as the cell-IN data filter (sorted row-group
    * prune inside each pack). Serving I/O is ∝ probed packs — the
    * packed trade: ≤ `cellsPerPack` read amplification per probed
    * cell against a ~cells/cellsPerPack smaller file count
    * everywhere else. Same deterministic-query contract as the
    * classic pruned route. */
  def ivfTopKFromPostingsPackedPruned(queryEmb: DataFrame,
      cents: Array[Array[Double]], path: String, probes: Int,
      k: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val (postings0, paramsOpt) = readPackedPostingsWithCpp(spark, path)
    // manifest-clean: params ride the sidecar, zero data-page jobs on
    // the serve path; fallback derives them from the data head
    val (cells, ck) = paramsOpt match {
      case Some(p) => (p.cells, p.ck)
      case None =>
        val (c, _, k) = postingsParams(postings0)
        (c, k)
    }
    require(cents.length == cells && centroidChecksumOf(cents) == ck,
      "model centroids differ from the packed artifact's")
    val bc = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(cents))
    val queries = prepared(queryEmb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes)))
      .select($"vec_id", $"v", $"nrm", explode($"nc.cell").as("cell"))
    val probed = queries.select($"cell").distinct().as[Int].collect().toSeq
    val pruned = paramsOpt match {
      case Some(p) =>
        val packs = probed.map(_ / p.cpp).distinct
        postings0.filter($"pack".isin(packs: _*) &&
          $"cell".isin(probed: _*))
      case None => postings0.filter($"cell".isin(probed: _*))
    }
    serveQueriesOverPostings(queries,
      pruned.select($"cell", $"cand_id", $"cv", $"cn"), k)
  }

  /** The `iv_cells` literal embedded in a postings frame's plan (every
    * builder stamps `withColumn("iv_cells", lit(n))`) — lets the
    * build-time write bound its task count by the file count WITHOUT a
    * data job. None for frames that carry it some other way (the
    * pinned default applies then). */
  private def ivCellsFromPlan(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    df.queryExecution.analyzed
      .collect { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case a: Alias if a.name == "iv_cells" => a.child
      })
      .collectFirst { case Literal(v: Int, _) => v }
  }

  def saveIvfPostings(postings: DataFrame, path: String): Unit =
    // The lease is a SIBLING file, so it survives the full overwrite
    // below — a rebuild of a live artifact fails fast against a
    // concurrent maintainer instead of wiping the files under it.
    MaintenanceProtocol.withLease(postings.sparkSession, path, "build") {
      byCellPinned(postings,
        ivCellsFromPlan(postings).getOrElse(Int.MaxValue))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      // Born with a manifest: one listing + one footer-bounded count job
      // at build time (the overwrite just wiped any prior sidecar along
      // with the data) buys every later append/compact/serve its
      // zero-listing path. Build is the one moment an O(artifact)
      // metadata pass is already being paid — the write itself created
      // exactly these files.
      timed("save_manifest")(
        PostingsManifest.rebuildAndWrite(postings.sparkSession, path))
    }

  /** Roll a cell-partitioned postings DIRECTORY forward in place:
    * dynamic partition overwrite rewrites ONLY the touched cells'
    * directories — at 10⁴ cells and a batch touching dozens, the
    * artifact rewrite is ~touched/total of the naive full overwrite —
    * and the read side is pruned the same way (params from one
    * part-file, old rows from the touched cells' directories only), so
    * the whole trigger is ∝ touched cells end to end.
    * The recapped frame is materialized before the write (a plain-
    * parquet overwrite may not read its own input), and the
    * (cell, cand_id) dedup in the recap makes a crash-replayed batch
    * converge to the same directory state. Concurrent readers see
    * per-partition swaps, not one atomic commit — run between serving
    * epochs, or move the artifact to a transactional format for live
    * multi-reader maintenance (same stance as
    * [[graft.sources.WarehouseWriter.compactParquet]]). */
  def appendIvfPostingsInPlace(spark: SparkSession, path: String,
      model: KMeansModel, newEmb: DataFrame): Unit = {
    val cents = model.clusterCenters.map(_.toArray)
    val (cells, cap, ck, gpOpt) = postingsParamsAtPath(spark, path)
    require(gpOpt.isEmpty,
      "artifact is two-level-built (iv_gp): the exact recap would mix " +
        "assignment laws — use appendIvfPostingsInPlaceGrouped")
    require(cents.length == cells,
      s"model has ${cents.length} cells, artifact $cells")
    require(centroidChecksumOf(cents) == ck,
      "model centroids differ from the artifact's — append with the " +
        "index's own saved model (loadIvfIndex), or rebuild ivfPostings")
    val delta = assignedHome(prepared(newEmb), cents, cap)
      .withColumn("iv_cells", lit(cells))
      .withColumn("iv_cap", lit(cap))
      .withColumn("iv_ck", lit(ck))
    recapTouchedDirsAndOverwrite(spark, path, delta, cap)
  }

  /** The touched-cells-only recap for the DIRECTORY routes: the delta
    * (already home-assigned, batch-sized) is materialized once, its
    * touched-cell set collected (bounded by numCells), and the old rows
    * come from reading ONLY those cells' directories — so a trigger's
    * read AND listing are ∝ touched cells, never ∝ the artifact. The
    * previous shape (read the whole directory, left-semi to touched)
    * listed and opened every cell's file per append: fine at 10³ cells
    * on local disk, the dominant term at 10⁴⁺ cells on an object store
    * — the same O(artifact-metadata) class the fragment route's param
    * read was measured paying. Union–dedup–recap semantics are byte-
    * identical to [[recapFromDelta]] (spec-pinned: in-place ≡ the
    * DataFrame append route ≡ a from-scratch rebuild). */
  private def recapTouchedDirsAndOverwrite(spark: SparkSession,
      path: String, delta0: DataFrame, cap: Int): Unit =
    MaintenanceProtocol.withLease(spark, path, "recap") {
    import spark.implicits._
    val state0 = PostingsManifest.readClean(spark, path)
    val delta = timed("recap_delta_ckpt")(delta0.localCheckpoint(true))
    try {
      val touched = timed("recap_touched")(
        delta.select($"cell").distinct().as[Int].collect())
      // which touched cells already exist: from the manifest when clean
      // (zero listings), else one root listing
      val existing = state0 match {
        case Some(st) => st.perCellFiles.keySet
        case None =>
          val hPath = new org.apache.hadoop.fs.Path(path)
          val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.listStatus(hPath)
            .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
            .map(_.getPath.getName.stripPrefix("cell=").toInt).toSet
      }
      val dirs = touched.filter(existing).map(c => s"$path/cell=$c")
      // a batch can touch only never-seen cells — then the old side is
      // empty and the recap is the capped delta alone
      val old =
        if (dirs.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[
            org.apache.spark.sql.Row], delta.schema)
        else spark.read.option("basePath", path).parquet(dirs.toSeq: _*)
      val recapped = capFold(
        old.select(delta.columns.map(col): _*).unionByName(delta),
        cap, touched.length)
      if (state0.nonEmpty) MaintenanceProtocol.markDirty(spark, path)
      val counts = timed("recap_overwrite")(
        overwriteTouchedCells(spark, path, recapped,
          wantCounts = state0.nonEmpty))
      state0.foreach { st =>
        timed("recap_manifest_roll") {
          val entries = PostingsManifest.entriesFromDirs(
            spark, path, counts.keySet, counts)
          PostingsManifest.commit(spark, path, st,
            st.replacingCells(counts.keySet, entries))
          MaintenanceProtocol.clearDirty(spark, path)
        }
      }
    } finally org.apache.spark.sql.GraftColumnBridge
      .unpersistLocalCheckpoint(delta)
  }

  /** Dynamic-partition-overwrite of the touched cells' directories —
    * the write half shared by the in-place append routes. The frame is
    * a [[capFold]], already partitioned BY CELL, and is materialized
    * first (a plain-parquet overwrite may not read its own input); the
    * checkpoint keeps the fold's partitions, so each rewritten cell
    * directory holds ONE file with no second exchange — the in-place
    * routes PRESERVE the
    * [[saveIvfPostings]] 1-file-per-cell layout, append after append
    * (spec-pinned; [[compactIvfPostings]] exists for the fragment
    * route, not for these). */
  private def overwriteTouchedCells(spark: SparkSession, path: String,
      recapped: DataFrame, wantCounts: Boolean = false): Map[Int, Long] = {
    import spark.implicits._
    val materialized = recapped.localCheckpoint(true)
    try {
      // per-cell row counts for the manifest roll-forward — one small
      // aggregation over the already-materialized (touched-cells-sized)
      // frame; skipped entirely for manifest-less artifacts
      val counts =
        if (!wantCounts) Map.empty[Int, Long]
        else materialized.groupBy(col("cell").cast("int").as("cell"))
          .count().as[(Int, Long)].collect().toMap
      val saved = spark.conf.getOption(
        "spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try materialized
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      finally saved match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset(
          "spark.sql.sources.partitionOverwriteMode")
      }
      counts
    } finally org.apache.spark.sql.GraftColumnBridge
      .unpersistLocalCheckpoint(materialized)
  }

  /** Home-cell frame (cell, cand_id, cv, cn, d2) via the TWO-LEVEL
    * kernel — O(groups + probed members) assignment arithmetic per row
    * instead of O(cells): the per-batch cost VERDICT r13 measured as
    * the append bottleneck at 2¹⁴ cells. `groupProbes >= numGroups`
    * degenerates to exactly the flat scan (spec-pinned bit-equal home
    * cells); shallower probes may assign a group-boundary vector to a
    * nearby-but-not-nearest cell — the same recall law the serving
    * routes trade under, applied at index time. */
  private def homeTwoLevel(emb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet,
      groupProbes: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val bc = spark.sparkContext.broadcast(gcs)
    prepared(emb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCellsTwoLevel(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), 1, groupProbes)))
      .select(element_at($"nc", 1).getField("cell").as("cell"),
        $"vec_id".as("cand_id"), $"v".as("cv"), $"nrm".as("cn"),
        element_at($"nc", 1).getField("d2").as("d2"))
      .filter($"cell".isNotNull) // non-assignable vectors drop, as everywhere
  }

  /** Postings BUILT with two-level home assignment — the 2¹⁴⁺-cells
    * index-build/maintenance posture: at that scale even the one-time
    * build's flat O(cells) per-row scan is the dominant term, and a
    * deployment choosing it for the build wants the SAME assignment
    * law for every later append ([[appendIvfPostingsInPlaceGrouped]]),
    * or append≡rebuild breaks. The chosen `groupProbes` is therefore
    * embedded in the artifact (`iv_gp`) alongside the cap and
    * checksum, and the grouped append validates it — two parameters
    * ([[centroidChecksumOf]] identity + gp) pin the full assignment
    * law. With `groupProbes >= numGroups` this is row-equal to
    * [[ivfPostingsFromGrouped]] (modulo the extra iv_gp column). */
  def ivfPostingsTwoLevel(emb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet, groupProbes: Int,
      cellCap: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val home = homeTwoLevel(emb, gcs, groupProbes)
    cappedByCell(home, gcs.flat.numCells, cellCap)
      .withColumn("iv_cells", lit(gcs.flat.numCells))
      .withColumn("iv_cap", lit(cellCap))
      .withColumn("iv_ck", lit(centroidChecksumOf(gcs.flat.cents)))
      .withColumn("iv_gp", lit(groupProbes))
  }

  /** In-place roll-forward with TWO-LEVEL delta assignment — the
    * grouped twin of [[appendIvfPostingsInPlace]] for
    * [[ivfPostingsTwoLevel]]-built artifacts: per-batch assignment
    * arithmetic is O(groups + probed members) per row, the recap and
    * touched-cell overwrite are byte-shared with the exact route, and
    * append ≡ rebuild holds AT THE ARTIFACT'S OWN groupProbes
    * (validated against the embedded `iv_gp`; spec-pinned equal to
    * [[ivfPostingsTwoLevel]] over the union). An artifact without
    * `iv_gp` (exact-built) accepts the grouped append only in its
    * degenerate `groupProbes >= numGroups` form, where the two-level
    * kernel is bit-equal to the flat scan. */
  def appendIvfPostingsInPlaceGrouped(spark: SparkSession, path: String,
      gcs: graft.expressions.IvfGroupedCentroidSet, newEmb: DataFrame,
      groupProbes: Int): Unit = {
    val (cells, cap, ck, gpOpt) = postingsParamsAtPath(spark, path)
    require(gcs.flat.numCells == cells &&
      centroidChecksumOf(gcs.flat.cents) == ck,
      "grouped index cells differ from the postings artifact's")
    gpOpt match {
      case Some(gp) => require(gp == groupProbes,
        s"artifact was built with groupProbes=$gp, append asked " +
          s"$groupProbes — one assignment law per artifact life")
      case None => require(groupProbes >= gcs.numGroups,
        s"exact-built artifact: grouped append needs groupProbes >= " +
          s"numGroups (${gcs.numGroups}) to preserve append≡rebuild")
    }
    val delta0 = homeTwoLevel(newEmb, gcs, groupProbes)
      .withColumn("iv_cells", lit(cells))
      .withColumn("iv_cap", lit(cap))
      .withColumn("iv_ck", lit(ck))
    val delta =
      if (gpOpt.nonEmpty) delta0.withColumn("iv_gp", lit(groupProbes))
      else delta0
    recapTouchedDirsAndOverwrite(spark, path, delta, cap)
  }

  /** RETAINED recap append — [[appendIvfPostingsInPlace]]'s semantics
    * under [[compactIvfPostingsRetained]]'s serving contract: the
    * touched cells' recapped state lands as NEW uniquely-named files
    * and the superseded ones are RETIRED in the manifest instead of
    * overwritten, so a [[readPostings]] snapshot opened before the
    * append keeps serving its own consistent state THROUGH it (the
    * in-place route's dynamic partition overwrite deletes files under
    * such a reader). With this, EVERY maintenance mode is
    * snapshot-safe for manifest-resolved readers: fragment appends are
    * append-only, compaction has its retained variant, and the recap —
    * the always-serveable default — gets one here. Same costs and
    * protocol as retained compaction: tombstones survive at least one
    * FULL maintenance epoch (the next retained op vacuums only those
    * older than the current epoch — the same window law as
    * [[vacuumPostings]]'s default; a quiesced artifact's last window
    * closes via that standalone vacuum), old+new bytes in the touched
    * directories meanwhile, plain discovering reads double-count
    * during the window, clean manifest REQUIRED (falls back to the
    * classic in-place overwrite otherwise — correct, just not
    * snapshot-isolated), dirty-flag bracket with directory-truth
    * recovery (a rebuild resurrects tombstones as live rows; the next
    * compaction's cap-over-union fold converges them back —
    * spec-pinned for the compaction twin, same law here). */
  def appendIvfPostingsRetained(spark: SparkSession, path: String,
      cents: Array[Array[Double]], newEmb: DataFrame): Unit = {
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, gpOpt) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(cents.length == cells && centroidChecksumOf(cents) == ck,
      "model centroids differ from the postings artifact's")
    require(gpOpt.isEmpty,
      "artifact is two-level-built (iv_gp): the exact recap would mix " +
        "assignment laws — use appendIvfPostingsRetainedGrouped")
    val delta = assignedHome(prepared(newEmb), cents, cap)
      .withColumn("iv_cells", lit(cells))
      .withColumn("iv_cap", lit(cap))
      .withColumn("iv_ck", lit(ck))
    state0 match {
      case Some(_) => recapRetained(spark, path, delta, cap)
      case None => recapTouchedDirsAndOverwrite(spark, path, delta, cap)
    }
  }

  /** [[appendIvfPostingsRetained]] for two-level-built artifacts; the
    * assignment law rides the artifact's own embedded `iv_gp`
    * (one law per artifact life, as everywhere). */
  def appendIvfPostingsRetainedGrouped(spark: SparkSession, path: String,
      gcs: graft.expressions.IvfGroupedCentroidSet,
      newEmb: DataFrame): Unit = {
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, gpOpt) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(gcs.flat.numCells == cells &&
      centroidChecksumOf(gcs.flat.cents) == ck,
      "grouped index cells differ from the postings artifact's")
    require(gpOpt.nonEmpty,
      "artifact is exact-built (no iv_gp): use appendIvfPostingsRetained")
    val gp = gpOpt.get
    val delta = homeTwoLevel(newEmb, gcs, gp)
      .withColumn("iv_cells", lit(cells))
      .withColumn("iv_cap", lit(cap))
      .withColumn("iv_ck", lit(ck))
      .withColumn("iv_gp", lit(gp))
    state0 match {
      case Some(_) => recapRetained(spark, path, delta, cap)
      case None => recapTouchedDirsAndOverwrite(spark, path, delta, cap)
    }
  }

  /** The retained recap's write half: vacuum tombstones at least one
    * full maintenance epoch old (the SAME window law as
    * [[vacuumPostings]] at its default — the previous op's own
    * tombstones, age 0, stay on disk so a snapshot opened before that
    * op serves through THIS one too), fold old∪delta per touched cell
    * (byte-identical union–dedup–cap to the in-place route), stage the
    * result as new files, and swap the manifest with the touched
    * cells' old live entries RETIRED. Reads the old side through the
    * manifest-planned [[graft.plans.PostingsFileIndex]] restricted to
    * the touched cells' LIVE files — zero listings, and retired files
    * are never re-read (a directory read would double-count them).
    *
    * The manifest is re-read INSIDE the lease: the caller's pre-lease
    * read only chose the route, and rolling forward from that snapshot
    * would silently drop the commit of any writer that ran between the
    * probe and the lease — the stale-roll-forward seam the lease
    * exists to close. */
  private def recapRetained(spark: SparkSession, path: String,
      delta0: DataFrame, cap: Int): Unit =
    MaintenanceProtocol.withLease(spark, path, "recap_retained") {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestLog.sweepStaleDeltas(spark, path)
    val st0 = PostingsManifest.readClean(spark, path).getOrElse(
      throw new IllegalStateException(
        s"manifest at $path became untrusted between the route probe " +
          "and the lease (a concurrent writer crashed mid-op?) — " +
          "run compactIvfPostings to recover, then retry"))
    MaintenanceProtocol.markDirty(spark, path)
    val aged = st0.files.filter(f => f.retired && f.retiredAt < st0.epoch)
    MaintenanceProtocol.bulkDeleteFiles(fs, hPath, aged.map(e =>
      new org.apache.hadoop.fs.Path(
        path.stripSuffix("/") + s"/cell=${e.cell}/${e.file}")))
    val st = st0.copy(files = st0.files.filterNot(aged.toSet))
    val delta = timed("recapr_delta_ckpt")(delta0.localCheckpoint(true))
    try {
      val touched = timed("recapr_touched")(
        delta.select($"cell").distinct().as[Int].collect()).toSet
      val touchedExisting = touched.intersect(st.perCellFiles.keySet)
      val old =
        if (touchedExisting.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[
            org.apache.spark.sql.Row], delta.schema)
        else org.apache.spark.sql.GraftColumnBridge
          .parquetOverFileIndex(spark,
            new graft.plans.PostingsFileIndex(path,
              st.copy(files = st.files.filter(f => touchedExisting(f.cell)))),
            postingsDataSchema(st.params.gp.nonEmpty))
      // single-pass fold (guide §1.2): consumed once by the staged
      // write; per-cell rows ride the landed footers (stageIntoCells),
      // so the old localCheckpoint + count pair of jobs is gone
      val recapped = capFold(
        old.select(delta.columns.map(col): _*).unionByName(delta),
        cap, touched.size)
      val entries = timed("recapr_fold")(
        stageIntoCells(spark, path, recapped))
      timed("recapr_manifest_roll") {
        // prev = st0, the state as READ (aged entries included), so
        // the delta's dels carry the entry-vacuumed files too
        val next = st.retiringCells(touched, entries)
        PostingsManifest.commit(spark, path, st0, next)
        MaintenanceProtocol.clearDirty(spark, path)
        logRetiredDebt(path, next)
      }
    } finally org.apache.spark.sql.GraftColumnBridge
      .unpersistLocalCheckpoint(delta)
  }

  /** FRAGMENT append — the O(batch)-per-trigger maintenance mode: the
    * batch is home-assigned (exact kernel scan, no row expansion) and
    * APPENDED into the touched cells' directories, with no recap and
    * no rewrite of existing rows. Per-call cost is ∝ batch alone —
    * where [[appendIvfPostingsInPlace]] pays ∝ the touched cells' full
    * populations per call — at the price of deferred maintenance,
    * settled by [[compactIvfPostings]]:
    *  - each call adds one file to every touched cell (the LSM trade:
    *    serving reads degrade with fragment count until compaction);
    *  - a cellCap artifact serves a SUPERSET between compactions (the
    *    cap is re-applied over old ∪ new at compaction, not here) —
    *    recall never drops, hot-cell candidate fan temporarily exceeds
    *    the cap;
    *  - a crash-REPLAYED batch double-appends; the duplicate
    *    (cell, cand_id) rows consume top-k ranks until compaction
    *    dedups them — under at-least-once delivery, compact before
    *    serving, or use the recap route (streaming's default).
    * High-frequency ingest wants this + periodic compaction; the recap
    * route is the always-serveable shape. */
  def appendIvfPostingsFragment(spark: SparkSession, path: String,
      cents: Array[Array[Double]], newEmb: DataFrame): Unit = {
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, gp) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(cents.length == cells && centroidChecksumOf(cents) == ck,
      "model centroids differ from the postings artifact's")
    require(gp.isEmpty,
      "artifact is two-level-built (iv_gp): fragment appends assign " +
        "exactly and would mix assignment laws — use " +
        "appendIvfPostingsFragmentGrouped")
    appendFragmentFiles(spark, path,
      ivfPostingsKernelBuilt(newEmb, cents, Int.MaxValue)
        .withColumn("iv_cap", lit(cap))) // artifact's cap, not the delta's
  }

  private lazy val maintLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Make the open retired-file DEBT visible after every retained
    * roll-forward: tombstones are billable storage invisible to
    * manifest-resolved readers, and a quiesced artifact parks its last
    * epoch's forever unless [[vacuumPostings]] runs — an operator
    * should see the open balance, not discover it from a storage
    * bill. */
  private def logRetiredDebt(path: String,
      st: PostingsManifest.State): Unit = {
    val retired = st.files.filter(_.retired)
    if (retired.nonEmpty) maintLog.info(
      s"postings artifact $path holds ${retired.size} retired file(s), " +
        s"${retired.map(_.bytes).sum} bytes, awaiting their retention " +
        "window — swept by the next retained op of a later epoch, or " +
        "explicitly by vacuumPostings")
  }

  /** Land `df`'s one-file-per-touched-cell layout INSIDE the artifact
    * without listing it — `df` comes partitioned by cell ([[capFold]],
    * or [[byCellPinned]] for a raw delta), so the write adds no
    * exchange: a partitioned write into a fresh staging dir,
    * then [[ManifestLog.stageAndRename]]'s per-file renames into the
    * cell directories. Returns the landed entries with rows from the
    * landed footers — which lets every caller feed the manifest
    * WITHOUT a pre-write groupBy(cell).count() pass, so the staged
    * frame is consumed exactly ONCE and the callers' localCheckpoint
    * materializations (one extra job + block storage per maintenance
    * op, ∝ the delta) are gone too. Guide §1.2: fewer passes first. */
  private def stageIntoCells(spark: SparkSession, path: String,
      df: DataFrame): Seq[PostingsManifest.FileEntry] =
    ManifestLog.stageAndRename(spark, path)(tmp =>
      df.write.mode("overwrite").partitionBy("cell").parquet(tmp))
      .map(f => PostingsManifest.FileEntry(f.dir.stripPrefix("cell=").toInt,
        f.name, f.bytes, f.rows))

  /** The fragment WRITE: land the delta's one-file-per-touched-cell
    * layout in the artifact without `mode("append")` — a partitioned
    * path append RESOLVES THE EXISTING RELATION first, i.e. lists the
    * accumulated artifact inside the write (measured: 3 k-row fragment
    * appends at 21.5 s mean and CLIMBING as files accrued 14.6 k→68 k,
    * vs 10.3 s for the recap route that rewrites 40× the rows). The
    * delta is instead written partitioned into a FRESH temp directory
    * (nothing to list) and its per-cell files are FS-renamed into the
    * artifact's cell directories — metadata operations ∝ touched
    * cells, nothing ∝ the artifact. Part-file names carry the write
    * job's UUID, so renames cannot collide with prior fragments. A
    * crash mid-rename leaves a PARTIAL fragment append — the same
    * at-least-once posture the mode already documents: the batch
    * replays, and compaction dedups on (cell, cand_id). */
  private def appendFragmentFiles(spark: SparkSession, path: String,
      delta0: DataFrame): Unit =
    MaintenanceProtocol.withLease(spark, path, "fragment_append") {
    import spark.implicits._
    // The manifest is re-read INSIDE the lease (the callers' pre-lease
    // read only derived params and routing): rolling forward from a
    // pre-lease snapshot would silently drop the commit of a writer
    // that ran between probe and lease — the stale-roll-forward seam
    // the lease exists to close.
    val state0 = PostingsManifest.readClean(spark, path)
    // Single-pass shape (guide §1.2): the delta is consumed exactly once
    // by the staged write — per-cell rows for the manifest come from the
    // landed files' footers (stageIntoCells), so the old
    // localCheckpoint + groupBy(cell).count() pair of jobs is gone.
    // write-ahead intent: from the first rename on, the manifest no
    // longer matches the directory until rolled forward below
    if (state0.nonEmpty) MaintenanceProtocol.markDirty(spark, path)
    val entries = stageIntoCells(spark, path, byCellPinned(delta0,
      state0.map(_.params.cells).getOrElse(Int.MaxValue)))
    state0.foreach { st =>
      timed("frag_manifest_roll") {
        PostingsManifest.commit(spark, path, st, st.adding(entries))
        MaintenanceProtocol.clearDirty(spark, path)
      }
    }
  }

  /** FRAGMENT append for TWO-LEVEL-built artifacts — the O(batch)
    * maintenance mode at the 2¹⁴⁺-cells posture, where per-row
    * assignment must be O(groups + probed members) too (a flat-scan
    * fragment append would make assignment, not the write, the
    * per-trigger bottleneck). Assignment rides the artifact's OWN
    * embedded `iv_gp` — one assignment law per artifact life, same
    * contract as [[appendIvfPostingsInPlaceGrouped]], which is what
    * keeps fragment-appends + [[compactIvfPostings]] landing exactly
    * the [[ivfPostingsTwoLevel]] from-scratch rows (spec-pinned). All
    * the flat fragment route's debts apply unchanged: one file per
    * touched cell per call, superset serving between compactions,
    * replay dups deduped at compaction. */
  def appendIvfPostingsFragmentGrouped(spark: SparkSession, path: String,
      gcs: graft.expressions.IvfGroupedCentroidSet,
      newEmb: DataFrame): Unit = {
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, gpOpt) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(gcs.flat.numCells == cells &&
      centroidChecksumOf(gcs.flat.cents) == ck,
      "grouped index cells differ from the postings artifact's")
    require(gpOpt.nonEmpty,
      "artifact is exact-built (no iv_gp): fragment appends to it " +
        "assign with the flat scan — use appendIvfPostingsFragment")
    val gp = gpOpt.get
    appendFragmentFiles(spark, path,
      homeTwoLevel(newEmb, gcs, gp)
        .withColumn("iv_cells", lit(cells))
        .withColumn("iv_cap", lit(cap)) // artifact's cap, not the delta's
        .withColumn("iv_ck", lit(ck))
        .withColumn("iv_gp", lit(gp)))
  }

  /** Cell-partition-aware compaction of a [[saveIvfPostings]]
    * directory: folds every FRAGMENTED cell (more than one file, or
    * over-cap after fragment appends) back to the 1-file-per-cell
    * contract, deduping replayed rows on (cell, cand_id) and
    * re-applying the hot-cell cap over the accumulated union — so
    * fragment-appends + compact lands the exact from-scratch-rebuild
    * rows (spec-pinned). Clean cells are NOT rewritten (their files
    * stay byte-identical — at 10⁴ cells and dozens touched, the
    * maintenance write is ∝ fragmented cells, like the append itself),
    * which is also why this never replaces [[WarehouseWriter
    * .compactParquet]]: that one folds FLAT directories and would
    * flatten the partition layout serving prunes on. Same concurrency
    * stance as the in-place append: per-partition swaps, run between
    * serving epochs. Returns (fragmented cells rewritten, files
    * before, files after).
    *
    * With a clean [[PostingsManifest]] the whole detection phase is one
    * small read — no artifact listing, no per-cell listStatus, no
    * footer-count job (the O(files) terms that made the r14
    * trickle-posture compaction 183 s over 68 k files) — and only the
    * fragmented cells' directories are ever opened. Without one (legacy
    * artifact, or a stranded dirty flag after a crash) it falls back to
    * directory truth and then writes a fresh manifest, so one slow
    * compaction ADOPTS the artifact into the fast path. */
  /** What [[appendIvfPostingsAuto]] decided and why — returned for
    * observability (the flip is an economics call an operator will
    * want in logs). */
  case class AppendRoute(route: String, batchRows: Long,
      touchedRows: Long, ratio: Double)

  /** The recap↔fragment REGIME LAW as API (the q76 auto-router pattern
    * applied to maintenance): route each append by the measured
    * economics instead of making every caller learn them. The r14 A/B
    * (SURVEY §6.1) pinned the law — recap cost is ∝ the TOUCHED CELLS'
    * FULL POPULATIONS (it re-ranks and rewrites them), fragment cost is
    * ∝ the BATCH alone — so the observable that decides is their ratio:
    *
    *   ratio = Σ touched cells' current rows / batch rows
    *
    * Measured: ratio ≈ 3 → recap wins (fixture/sf1 postures, 0.85×);
    * ratio ≈ 7–8 → fragment wins 1.35–1.87× (sf10 postures); at a
    * mature index (10⁹-row artifact, 10⁵-row batches, ratio 10³⁺) the
    * recap term is the whole bill. `fragmentThreshold` defaults into
    * the measured gap (4). Costs of the probe itself: ONE extra
    * O(batch) assignment pass (a groupBy-count of the delta's home
    * cells) plus the manifest read the routes already do — the
    * manifest's per-cell rows make touched populations free, which is
    * what makes this router practical.
    *
    * Both routes land the same logical artifact (spec-pinned: either
    * path + compaction ≡ rebuild); they differ in WHEN maintenance is
    * paid — recap now (always-serveable), fragment at the next
    * compaction (O(batch) trigger, superset serving until then). A
    * manifest-less or dirty artifact routes to RECAP: without per-cell
    * rows the ratio is unobservable, and recap is the conservative
    * always-serveable default.
    *
    * `retained` (DEFAULT) makes the chosen route SNAPSHOT-SAFE for
    * manifest-resolved readers: the recap leg runs as
    * [[appendIvfPostingsRetained]]'s tombstone roll-forward
    * (route reported as `recap_retained`), and the fragment leg is
    * append-only — snapshot-safe by construction — so a live-serving
    * deployment gets routing AND isolation from the one call. The
    * default is retained because the r15 A/B measured the retained
    * recap 1.9× FASTER than the classic overwrite recap (SURVEY §6.1:
    * manifest-planned reads + staging renames beat per-dir listings +
    * overwrite commit machinery) — the safety feature is also the
    * fast path, so `manifest present ⟹ retained` is the explicit
    * routing condition. `retained = false` is the escape hatch for
    * deployments whose readers bypass [[readPostings]] and
    * `spark.read.parquet` the directory raw: a retention window
    * double-counts for such readers, the classic overwrite never
    * does. Manifest-less artifacts ignore the flag either way (no
    * manifest, no snapshot contract to keep — always the classic
    * recap). */
  def appendIvfPostingsAuto(spark: SparkSession, path: String,
      cents: Array[Array[Double]], newEmb: DataFrame,
      fragmentThreshold: Double = 4.0,
      retained: Boolean = true): AppendRoute = {
    import spark.implicits._
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, gp) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(cents.length == cells && centroidChecksumOf(cents) == ck,
      "model centroids differ from the postings artifact's")
    require(gp.isEmpty,
      "artifact is two-level-built (iv_gp): use appendIvfPostingsAutoGrouped")
    val delta = ivfPostingsKernelBuilt(newEmb, cents, Int.MaxValue)
      .withColumn("iv_cap", lit(cap)) // artifact's cap, not the delta's
    routeAppend(spark, path, delta, cap, state0, fragmentThreshold,
      retained)
  }

  /** [[appendIvfPostingsAuto]] for TWO-LEVEL-built artifacts:
    * assignment rides the artifact's own embedded `iv_gp` (one law per
    * artifact life), the routing economics are identical. */
  def appendIvfPostingsAutoGrouped(spark: SparkSession, path: String,
      gcs: graft.expressions.IvfGroupedCentroidSet, newEmb: DataFrame,
      fragmentThreshold: Double = 4.0,
      retained: Boolean = true): AppendRoute = {
    import spark.implicits._
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, gpOpt) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(gcs.flat.numCells == cells &&
      centroidChecksumOf(gcs.flat.cents) == ck,
      "grouped index cells differ from the postings artifact's")
    require(gpOpt.nonEmpty,
      "artifact is exact-built (no iv_gp): use appendIvfPostingsAuto")
    val gp = gpOpt.get
    val delta = homeTwoLevel(newEmb, gcs, gp)
      .withColumn("iv_cells", lit(cells))
      .withColumn("iv_cap", lit(cap)) // artifact's cap, not the delta's
      .withColumn("iv_ck", lit(ck))
      .withColumn("iv_gp", lit(gp))
    routeAppend(spark, path, delta, cap, state0, fragmentThreshold,
      retained)
  }

  /** The shared probe-and-dispatch: one O(batch) pass over the
    * home-assigned delta yields (touched cells, batch rows); touched
    * populations come free from the manifest. The chosen route re-runs
    * the delta's assignment plan — deterministic, O(batch) arithmetic,
    * the same cost class the routes pay anyway. */
  private def routeAppend(spark: SparkSession, path: String,
      delta: DataFrame, cap: Int, state0: Option[PostingsManifest.State],
      fragmentThreshold: Double, retained: Boolean = false): AppendRoute = {
    import spark.implicits._
    val perCellBatch = timed("route_probe")(
      delta.groupBy(col("cell").cast("int").as("cell")).count()
        .as[(Int, Long)].collect())
    val batchRows = perCellBatch.map(_._2).sum
    val touchedRows = state0 match {
      case Some(st) =>
        val pop = st.perCellRows
        perCellBatch.map { case (c, _) => pop.getOrElse(c, 0L) }.sum
      case None => 0L
    }
    val ratio =
      if (batchRows == 0) 0.0 else touchedRows.toDouble / batchRows
    if (state0.nonEmpty && ratio >= fragmentThreshold) {
      // append-only: snapshot-safe by construction, retained or not
      appendFragmentFiles(spark, path, delta)
      AppendRoute("fragment", batchRows, touchedRows, ratio)
    } else if (retained && state0.nonEmpty) {
      recapRetained(spark, path, delta, cap)
      AppendRoute("recap_retained", batchRows, touchedRows, ratio)
    } else {
      recapTouchedDirsAndOverwrite(spark, path, delta, cap)
      AppendRoute("recap", batchRows, touchedRows, ratio)
    }
  }

  def compactIvfPostings(spark: SparkSession, path: String): (Int, Int, Int) =
    MaintenanceProtocol.withLease(spark, path, "compact")(
      compactIvfPostingsLocked(spark, path))

  /** [[compactIvfPostings]]'s body with the writer lease ALREADY HELD —
    * shared with [[compactIvfPostingsRetained]]'s manifest-less
    * fallback, which runs under its own lease and must not
    * re-acquire (the lease is deliberately non-reentrant: a second
    * acquire is exactly the corruption signal it exists to raise). */
  private def compactIvfPostingsLocked(spark: SparkSession,
      path: String,
      dataSchema: PostingsManifest.State =>
        org.apache.spark.sql.types.StructType = st =>
        postingsDataSchema(st.params.gp.nonEmpty)): (Int, Int, Int) = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestLog.sweepStaleDeltas(spark, path)
    PostingsManifest.readClean(spark, path) match {
      // ---- manifest route: fragmented-set detection from ONE small
      // read — no artifact listing, no per-cell listStatus, no
      // footer-count job; the only artifact I/O left is reading the
      // fragmented cells themselves. This is what turned the r14
      // trickle-posture compaction from O(files) to O(fragmented).
      case Some(st) =>
        val cap = st.params.cap
        val pcFiles = st.perCellFiles
        val filesBefore = st.totalFiles
        val multiFile = pcFiles.filter(_._2 > 1).keySet
        // a single fragment can overfill an EMPTY cell past the cap —
        // file count alone can't see it; the manifest's physical row
        // counts (replay dups included) can
        val overCap =
          if (cap == Int.MaxValue) Set.empty[Int]
          else st.perCellRows.filter(_._2 > cap).keySet
        val fragmented = multiFile ++ overCap
        if (fragmented.isEmpty) return (0, filesBefore, filesBefore)
        // the fold's input scan is planned from the manifest snapshot
        // restricted to the fragmented cells — zero listings even here
        // (safe against the overwrite below: overwriteTouchedCells
        // materializes the fold before any file is replaced)
        val frag = org.apache.spark.sql.GraftColumnBridge
          .parquetOverFileIndex(spark,
            new graft.plans.PostingsFileIndex(path,
              st.copy(files = st.files.filter(f => fragmented(f.cell)))),
            dataSchema(st))
        val folded = capFold(frag, cap, fragmented.size)
        MaintenanceProtocol.markDirty(spark, path)
        val counts = overwriteTouchedCells(spark, path, folded,
          wantCounts = true)
        val entries = PostingsManifest.entriesFromDirs(
          spark, path, fragmented, counts)
        PostingsManifest.write(spark, path,
          st.replacingCells(fragmented, entries))
        MaintenanceProtocol.clearDirty(spark, path)
        (fragmented.size, filesBefore,
          filesBefore - fragmented.toSeq.map(pcFiles).sum + fragmented.size)

      // ---- listing route: no manifest, or a stranded dirty flag says
      // it can't be trusted — fall back to directory truth (the old
      // O(files) shape), then ADOPT: rebuild a clean manifest from the
      // just-compacted directory so every later op gets the fast path.
      case None =>
        spark.catalog.refreshByPath(path)
        val postings = spark.read.parquet(path)
        val (_, cap, _) = postingsParams(postings)
        val perCellFiles = fs.listStatus(hPath)
          .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
          .map(d => d.getPath.getName.stripPrefix("cell=").toInt ->
            fs.listStatus(d.getPath)
              .count(f => f.isFile && f.getPath.getName.startsWith("part-")))
          .toMap
        val filesBefore = perCellFiles.values.sum
        val multiFile = perCellFiles.filter(_._2 > 1).keySet
        // over-cap detection: row-group-metadata count, not a data scan
        val overCap =
          if (cap == Int.MaxValue) Set.empty[Int]
          else postings.groupBy($"cell").count()
            .filter($"count" > cap).select($"cell".cast("int"))
            .as[Int].collect().toSet
        val fragmented = multiFile ++ overCap
        val result =
          if (fragmented.isEmpty) (0, filesBefore, filesBefore)
          else {
            overwriteTouchedCells(spark, path, capFold(
              postings.filter($"cell".isin(fragmented.toSeq: _*)),
              cap, fragmented.size))
            (fragmented.size, filesBefore,
              filesBefore - perCellFiles.view.filterKeys(fragmented)
                .values.sum + fragmented.size)
          }
        PostingsManifest.rebuildAndWrite(spark, path)
        result
    }
  }

  /** COMPACT-WHILE-SERVE: the retained variant of [[compactIvfPostings]]
    * for manifest-backed artifacts — a reader that opened
    * [[readPostings]] BEFORE this compaction keeps serving correctly
    * THROUGH it, because nothing that snapshot references is deleted:
    *
    *  1. vacuum files a retained op from an EARLIER maintenance epoch
    *     marked retired (their window — at least one full epoch, the
    *     same law as [[vacuumPostings]]'s default — ends here; the
    *     newest epoch's tombstones stay for its in-flight snapshots);
    *  2. fold the fragmented cells exactly as [[compactIvfPostings]]
    *     does, but land the compacted files as NEW uniquely-named files
    *     next to the fragments they replace ([[stageIntoCells]], no
    *     dynamic-partition-overwrite delete);
    *  3. swap the manifest: compacted entries live, superseded
    *     fragments RETIRED (on disk, invisible to new
    *     [[readPostings]] snapshots — the Delta tombstone move).
    *
    * New snapshots opened after the swap see exactly the compacted
    * artifact; old snapshots keep their files for at least one full
    * maintenance epoch (vacuumed by the first retained op of a LATER
    * epoch, or by [[vacuumPostings]]). The costs, stated: the directory temporarily
    * holds old+new files (bytes, not correctness), and a PLAIN
    * `spark.read.parquet(dir)` during the retention window double-reads
    * the superseded fragments — retained compaction is for deployments
    * whose readers resolve through the manifest ([[readPostings]]),
    * which is also why it REQUIRES a clean manifest (falls back to the
    * classic overwrite compaction otherwise, which has no retention to
    * offer). The dirty flag brackets the whole operation: a crash
    * anywhere leaves dirty → readers fall back to directory truth and
    * the next compaction rebuilds; resurrection of retired rows by that
    * rebuild is ABSORBED — they are exact (cell, cand_id) duplicates or
    * capped-out rows of the live state, so the very next fold converges
    * back (cap-over-union is idempotent; spec-pinned).
    * Returns (fragmented cells folded, live files before, live after). */
  def compactIvfPostingsRetained(spark: SparkSession,
      path: String): (Int, Int, Int) = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    MaintenanceProtocol.withLease(spark, path, "compact_retained") {
      ManifestLog.sweepStaleDeltas(spark, path)
      PostingsManifest.readClean(spark, path) match {
        case None => compactIvfPostingsLocked(spark, path)
        case Some(st0) =>
          MaintenanceProtocol.markDirty(spark, path)
          // vacuum tombstones at least one maintenance epoch old — the
          // same window law as vacuumPostings(1): the latest op's own
          // tombstones (age 0) survive this op too, so a snapshot
          // opened before that op serves THROUGH this one. A quiesced
          // artifact's final window closes via vacuumPostings.
          val aged = st0.files.filter(f =>
            f.retired && f.retiredAt < st0.epoch)
          MaintenanceProtocol.bulkDeleteFiles(fs, hPath, aged.map(e =>
            new org.apache.hadoop.fs.Path(
              path.stripSuffix("/") + s"/cell=${e.cell}/${e.file}")))
          val st = st0.copy(files = st0.files.filterNot(aged.toSet))
          val cap = st.params.cap
          val pcFiles = st.perCellFiles
          val filesBefore = st.totalFiles
          val fragmented = pcFiles.filter(_._2 > 1).keySet ++
            (if (cap == Int.MaxValue) Set.empty[Int]
             else st.perCellRows.filter(_._2 > cap).keySet)
          if (fragmented.isEmpty) {
            PostingsManifest.write(spark, path, st)
            MaintenanceProtocol.clearDirty(spark, path)
            (0, filesBefore, filesBefore)
          } else {
            val frag = org.apache.spark.sql.GraftColumnBridge
              .parquetOverFileIndex(spark,
                new graft.plans.PostingsFileIndex(path,
                  st.copy(files = st.files.filter(f => fragmented(f.cell)))),
                postingsDataSchema(st.params.gp.nonEmpty))
            // single-pass fold: consumed once by the staged write;
            // per-cell rows ride the landed footers (stageIntoCells)
            val entries = stageIntoCells(spark, path,
              capFold(frag, cap, fragmented.size))
            val next = st.retiringCells(fragmented, entries)
            PostingsManifest.write(spark, path, next)
            MaintenanceProtocol.clearDirty(spark, path)
            logRetiredDebt(path, next)
            (fragmented.size, filesBefore,
              filesBefore - fragmented.toSeq.map(pcFiles).sum +
                fragmented.size)
          }
      }
    }
  }

  /** STANDALONE tombstone vacuum — bounded retention debt for an
    * artifact whose ingest went quiet. The retained ops vacuum the
    * prior epochs' tombstones only as a side-effect of the NEXT
    * retained op; an artifact that stops ingesting would otherwise
    * carry its last epoch's retired files forever (measured at the
    * §6.1 r15 posture: 1 689–3 400 tombstone files, ~19% of artifact
    * bytes, parked indefinitely). This completes the MVCC story:
    * retire (retained op) → retention window (`retentionEpochs`
    * maintenance epochs, declared by the DEPLOYMENT's snapshot-lifetime
    * policy, same contract as Delta's `VACUUM ... RETAIN`) → vacuum.
    *
    * Semantics: drops exactly the retired entries whose retirement is
    * at least `retentionEpochs` maintenance epochs old
    * (`manifest epoch − retiredAt ≥ retentionEpochs`); live files and
    * the epoch itself are untouched, so a vacuum never changes what any
    * NEW snapshot serves. `retentionEpochs = 1` (default) keeps the
    * current epoch's tombstones — snapshots opened before the latest
    * retained op keep serving; `0` sweeps everything (only safe when no
    * snapshot is in flight — the same judgement call Delta documents
    * for `RETAIN 0 HOURS`). The retained ops' own entry-vacuum applies
    * the IDENTICAL age-≥-1-epoch rule, so the window law is uniform
    * across every path that deletes tombstones.
    *
    * REFUSES a dirty or manifest-less artifact (the retired set IS
    * manifest state: a dirty flag means it cannot be trusted, and
    * directory truth cannot distinguish a tombstone from a live file —
    * recover via compaction first). Crash-safe by the same WAL bracket
    * as every maintenance op: dirty → delete files → manifest
    * roll-forward → clear; a crash mid-vacuum strands the dirty flag
    * and the next compaction rebuilds from directory truth. Cost:
    * one manifest read + the dropped files' deletes issued through
    * [[MaintenanceProtocol.bulkDeleteFiles]] (paged multi-object
    * deletes on stores that support them — S3's 10⁵-tombstone sweep is
    * a few hundred round-trips, not 10⁵; per-file calls on local/HDFS)
    * — no Spark job, no listing, nothing ∝ artifact size.
    * Returns (files dropped, bytes freed). */
  def vacuumPostings(spark: SparkSession, path: String,
      retentionEpochs: Long = 1L): (Int, Long) = {
    require(retentionEpochs >= 0, s"retentionEpochs=$retentionEpochs")
    MaintenanceProtocol.withLease(spark, path, "vacuum") {
      val st = PostingsManifest.readClean(spark, path).getOrElse {
        val why =
          if (MaintenanceProtocol.isDirty(spark, path)) "is dirty"
          else "has no manifest"
        throw new IllegalStateException(
          s"vacuum refused: $path $why — the retired set is manifest " +
            "state; run compactIvfPostings to recover/adopt first")
      }
      val (kept, drop) = st.vacuumed(retentionEpochs)
      if (drop.isEmpty) (0, 0L)
      else {
        val fs = MaintenanceProtocol.fsOf(spark, path)
        MaintenanceProtocol.markDirty(spark, path)
        MaintenanceProtocol.bulkDeleteFiles(fs,
          new org.apache.hadoop.fs.Path(path.stripSuffix("/")),
          drop.map(e => new org.apache.hadoop.fs.Path(
            path.stripSuffix("/") + s"/cell=${e.cell}/${e.file}")))
        PostingsManifest.commit(spark, path, st, kept)
        MaintenanceProtocol.clearDirty(spark, path)
        (drop.size, drop.map(_.bytes).sum)
      }
    }
  }

  /** Fragmentation OBSERVABILITY for a postings directory — the report
    * that tells an operator WHEN to compact, instead of compacting on
    * cadence: files vs cells (the LSM debt), fragmented and over-cap
    * cell counts, and optionally the exact replay-duplicate row count.
    * One row, columns:
    * `(cells, files, excess_files, fragmented_cells, max_files_per_cell,
    * overcap_cells, rows, bytes, manifest, dup_rows)`.
    *
    * Cost: with a clean manifest this is ONE small read — no artifact
    * listing at all (the whole point of the sidecar); a manifest-less
    * or dirty artifact pays one directory-truth pass (listing + a
    * footer-bounded count job), reported as `manifest = absent|dirty`
    * so the operator also learns the sidecar needs adopting
    * ([[compactIvfPostings]] does that). `withDupScan = true` adds one
    * data scan of the MULTI-FILE cells only (duplicates cannot exist
    * inside a single fragment — each batch assigns a vector one home —
    * so single-file cells are skipped): exact dup count, cost ∝
    * fragmented cells, zero listings (manifest-planned scan). */
  def postingsFragmentationReport(spark: SparkSession, path: String,
      withDupScan: Boolean = false): DataFrame = {
    import spark.implicits._
    val stateOpt = PostingsManifest.readClean(spark, path)
    val status =
      if (stateOpt.nonEmpty) "clean"
      else if (MaintenanceProtocol.isDirty(spark, path)) "dirty"
      else "absent"
    val st = stateOpt.getOrElse(PostingsManifest.rebuild(spark, path))
    val pcFiles = st.perCellFiles
    val pcRows = st.perCellRows
    val cap = st.params.cap
    val fragmented = pcFiles.filter(_._2 > 1).keySet
    val overcap =
      if (cap == Int.MaxValue) Set.empty[Int]
      else pcRows.filter(_._2 > cap).keySet
    val dupRows: Option[Long] =
      if (!withDupScan) None
      else if (fragmented.isEmpty) Some(0L)
      else {
        val frag = org.apache.spark.sql.GraftColumnBridge
          .parquetOverFileIndex(spark,
            new graft.plans.PostingsFileIndex(path,
              st.copy(files = st.files.filter(f => fragmented(f.cell)))),
            postingsDataSchema(st.params.gp.nonEmpty))
        Some(frag.count() -
          frag.dropDuplicates(Seq("cell", "cand_id")).count())
      }
    Seq((pcFiles.size.toLong, st.totalFiles.toLong,
      (st.totalFiles - pcFiles.size).toLong, fragmented.size.toLong,
      pcFiles.values.foldLeft(0)(math.max).toLong, overcap.size.toLong,
      pcRows.values.sum, st.live.map(_.bytes).sum, status,
      st.files.count(_.retired).toLong,
      st.files.filter(_.retired).map(_.bytes).sum, dupRows))
      .toDF("cells", "files", "excess_files", "fragmented_cells",
        "max_files_per_cell", "overcap_cells", "rows", "bytes",
        "manifest", "retired_files", "retired_bytes", "dup_rows")
  }

  /** Serve top-k for a QUERY set from the persisted postings: queries
    * assign to their `probes` nearest cells (broadcast centroids —
    * query-side work only), candidates come from the artifact. The
    * corpus is never re-assigned, never re-normed: steady-state serving
    * cost is ∝ queries × probed-cell populations. Queries matching a
    * posting's cand_id are self-excluded (same contract as the other
    * top-k paths). */
  def ivfTopKFromPostings(queryEmb: DataFrame, model: KMeansModel,
      postings: DataFrame, probes: Int, k: Int): DataFrame =
    ivfTopKFromPostingsWithCentroids(queryEmb,
      model.clusterCenters.map(_.toArray), postings, probes, k)

  /** [[ivfTopKFromPostings]] over a raw centroid matrix — the
    * expanded (queries×cells window) route for fixed or restored
    * centroids; at large cell counts prefer the kernel routes. */
  def ivfTopKFromPostingsWithCentroids(queryEmb: DataFrame,
      cents: Array[Array[Double]], postings: DataFrame, probes: Int,
      k: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    val (cells, _, ck) = postingsParams(postings)
    require(cents.length == cells &&
      centroidChecksumOf(cents) == ck,
      "model centroids differ from the postings artifact's")
    val c2 = centroidTableOf(spark, cents)
      .withColumn("cn2", dot($"centroid", $"centroid"))
    val byDist = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cell".asc)
    val queries = prepared(queryEmb)
      .join(broadcast(c2))
      .withColumn("d2",
        $"nrm" * $"nrm" + $"cn2" - lit(2.0) * dot($"v", $"centroid"))
      // non-assignable queries are dropped, same as the kernel routes
      .filter($"d2".isNotNull)
      .withColumn("cr", row_number().over(byDist))
      .filter($"cr" <= probes)
      .select($"cell", $"vec_id", $"v", $"nrm")
    serveQueriesOverPostings(queries, postings, k)
  }

  /** The candidate join + top-k window every postings-served route
    * shares: `queries` is (cell, vec_id, v, nrm) — one row per probed
    * cell per query — candidates come from the artifact. */
  private def serveQueriesOverPostings(queries: DataFrame,
      postings: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    topKPerQuery(
      queries
        .join(postings.select($"cell", $"cand_id", $"cv", $"cn"), Seq("cell"))
        .filter($"vec_id" =!= $"cand_id")
        .withColumn("sim", simR(cosine($"v", $"cv", $"nrm", $"cn")))
        .select($"vec_id", $"cand_id", $"sim"),
      "vec_id", "cand_id", k)
  }

  /** [[ivfTopKFromPostings]] for LARGE cell counts — same results
    * (spec-pinned: the kernel's d2 is bit-identical to the DataFrame
    * formula, so probe sets and tie-breaks agree exactly), different
    * query-side shape: assignment is one codegen
    * [[graft.expressions.IvfNearestCells]] scan per query against the
    * broadcast centroid matrix instead of the queries×cells join +
    * `row_number` expansion — at 2¹²⁺ cells the expanded form pushes
    * 10⁴ rows per query through one exchange for what is per-row
    * arithmetic. Candidate join and top-k window are byte-shared with
    * the expanded route. */
  def ivfTopKFromPostingsLarge(queryEmb: DataFrame, model: KMeansModel,
      postings: DataFrame, probes: Int, k: Int): DataFrame =
    ivfTopKFromPostingsLargeWithCentroids(queryEmb,
      model.clusterCenters.map(_.toArray), postings, probes, k)

  /** [[ivfTopKFromPostingsLarge]] over a raw centroid matrix. */
  def ivfTopKFromPostingsLargeWithCentroids(queryEmb: DataFrame,
      cents: Array[Array[Double]], postings: DataFrame, probes: Int,
      k: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val (cells, _, ck) = postingsParams(postings)
    require(cents.length == cells &&
      centroidChecksumOf(cents) == ck,
      "model centroids differ from the postings artifact's")
    val bc = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(cents))
    val queries = prepared(queryEmb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes)))
      .select($"vec_id", $"v", $"nrm", explode($"nc.cell").as("cell"))
    serveQueriesOverPostings(queries, postings, k)
  }

  /** Two-level query assignment against the postings artifact — the
    * 2¹⁴⁺-cells STEADY STATE: the corpus side is the persisted
    * artifact (never re-assigned), and each query's assignment costs
    * O(groups + probed members) arithmetic via
    * [[graft.expressions.IvfNearestCellsTwoLevel]] instead of O(cells).
    * With `groupProbes >= numGroups` the probe set degenerates to the
    * exact flat scan (spec-pinned identical to serving the same
    * artifact through the corpus-side routes); shallow `groupProbes`
    * trades recall by the same group-prune law §6.2 measured. The
    * grouped set must be the artifact's own cells —
    * checksum-verified against the FLAT level, so a
    * [[fitIvfHierarchical]] index and a [[groupedCentroidSet]]-wrapped
    * flat fit both validate. */
  /** Bounded-query serving with PARTITION-PRUNED artifact reads — the
    * low-latency path. The kernel routes above still SCAN the whole
    * artifact: with a bounded query set most cells host no probe, and
    * §6.2's serving sweep measured that full scan dominating the wall
    * (the route spread was ~10 s of assignment arithmetic on top of a
    * ~35–50 s artifact read at 4096–16 384 cells). Here the probed-cell
    * set is computed driver-side (one collect of ≤ queries×probes ints
    * — this path is for query sets that fit a driver round-trip) and
    * pushed as an IN filter on the artifact's partition column, so a
    * [[saveIvfPostings]] directory reads ONLY probed cells' directories
    * — serving I/O finally ∝ queries, not ∝ corpus. Output is exactly
    * the unpruned route's (spec-pinned): unprobed cells can never join
    * a query row. Pass `postings` as the PARTITIONED read
    * (`spark.read.parquet(dir)` of a [[saveIvfPostings]] dir); a
    * non-partitioned frame still answers correctly but prunes nothing.
    *
    * `queryEmb` must be DETERMINISTIC under re-evaluation: its plan
    * runs twice (probe-set collect, then the lazy serve plan), and a
    * sampled/`rand`/unordered-`limit`-derived query frame can assign
    * to cells OUTSIDE the collected probe set on the second pass and
    * silently lose results. Callers with a nondeterministic query set
    * must materialize it first (`localCheckpoint` with their own
    * unpersist seam — this route deliberately does not pin executor
    * storage for the life of a lazy plan it returns). */
  def ivfTopKFromPostingsPruned(queryEmb: DataFrame,
      cents: Array[Array[Double]], postings: DataFrame, probes: Int,
      k: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val (cells, _, ck) = postingsParams(postings)
    require(cents.length == cells &&
      centroidChecksumOf(cents) == ck,
      "model centroids differ from the postings artifact's")
    val bc = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(cents))
    val queries = prepared(queryEmb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes)))
      .select($"vec_id", $"v", $"nrm", explode($"nc.cell").as("cell"))
    // Assignment arithmetic runs twice (probe-set collect here, then
    // lazily when the caller consumes the serve plan) — both passes
    // agree ONLY for deterministic query frames (contract in the
    // scaladoc above), and the cost is ∝ queries × cells: pennies next
    // to the artifact read this route exists to prune. The alternative — a
    // localCheckpoint shared by both passes — pins executor storage for
    // the life of the returned (lazy) plan with no safe unpersist
    // point, which accumulates across calls in a serving session.
    val probed = queries.select($"cell").distinct()
      .as[Int].collect().toSeq
    serveQueriesOverPostings(queries,
      postings.filter($"cell".isin(probed: _*)), k)
  }

  def ivfTopKFromPostingsGrouped(queryEmb: DataFrame,
      gcs: graft.expressions.IvfGroupedCentroidSet, postings: DataFrame,
      probes: Int, k: Int, groupProbes: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val (cells, _, ck) = postingsParams(postings)
    require(gcs.flat.numCells == cells &&
      centroidChecksumOf(gcs.flat.cents) == ck,
      "grouped index cells differ from the postings artifact's")
    val bc = spark.sparkContext.broadcast(gcs)
    val queries = prepared(queryEmb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCellsTwoLevel(bc,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes, groupProbes)))
      .select($"vec_id", $"v", $"nrm", explode($"nc.cell").as("cell"))
    serveQueriesOverPostings(queries, postings, k)
  }

  /** Measured recall@k of the trained-IVF path against brute-force
    * truth — the index-quality number a recall-sensitive deployment
    * tracks per index build (emitted into the bench metrics block;
    * SimilaritySpec pins a floor). Computed distributively: the exact
    * and approximate top-k tables are joined on (query, neighbor) and
    * hits are counted — mean per-query recall equals total hits /
    * (n·k) since every query contributes exactly k truth rows. */
  def ivfRecallAtK(emb: DataFrame, numCells: Int, probes: Int, k: Int,
      seed: Long = 42L, trainFraction: Double = 1.0): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    val truth = bruteForceTopK(emb, lit(true), k)
      .select($"query_id", $"neighbor_id")
    val approx = ivfTopK(emb, numCells, probes, k, seed = seed,
      trainFraction = trainFraction)
      .select($"vec_id".as("query_id"), $"neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id")).count()
    hits.toDouble / (emb.count() * k)
  }

  // ============================================================== PQ
  // Product quantization (Jégou/Douze/Schmid TPAMI 2011 — the FAISS
  // IVF+PQ shape): the MEMORY side of 100 TB ANN. The postings families
  // above bound the COMPUTE of a serve (cell pruning); their payload is
  // still the full float vector (512 B at 64-dim float64). PQ encodes a
  // vector as m codeword ids (m ints — 32 B here, 8 B packed), a ~16–64×
  // payload compression, and serves with ASYMMETRIC distance (ADC): the
  // query stays un-quantized, one m×k lookup table is computed per query,
  // and every (query, candidate) pair costs m array lookups instead of a
  // dim-length float scan. Codebooks are driver-side index metadata
  // (m×k×dsub doubles) broadcast to the codegen kernels — the
  // [[graft.expressions.IvfCentroidSet]] stance.

  /** Oracle-twin PQ codebooks: subspace `s`'s codeword `c` = the s-th
    * dsub-slice of the c-th corpus vector (vec_id ascending) — plain
    * SQL both sides, exactly the q34 fixed-centroid stance (the trained
    * path is [[fitPqCodebooks]], spec-verified for reconstruction
    * error). Driver-side collect of k vectors — bounded index
    * metadata. */
  def pqCodebooksFromHead(emb: DataFrame, m: Int, k: Int):
      graft.expressions.PqCodebookSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    val head = prepared(emb).orderBy($"vec_id").limit(k)
      .select($"v").as[Seq[Double]].collect().map(_.toArray)
    require(head.length == k, s"corpus has only ${head.length} < k=$k rows")
    val dim = head(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val codes = Array.tabulate(m * k) { r =>
      val s = r / k
      val c = r % k
      java.util.Arrays.copyOfRange(head(c), s * dsub, (s + 1) * dsub)
    }
    graft.expressions.PqCodebookSet(m, dsub, k, codes)
  }

  /** Trained PQ codebooks: per-subspace Lloyd's
    * ([[graft.expressions.IvfAssignKernel.lloyd]] — deterministic
    * spread init + ascending-order scans) over a vec_id-ordered,
    * size-capped training sample. The sample is collected driver-side
    * (`sampleCap` × dim doubles — 32 MB at the 65 536 × 64 default; the
    * documented model-on-driver boundary every fit in this family
    * shares), the m sub-fits are each k×dsub-sized driver arithmetic.
    * Deterministic across reruns and partitionings: the sample is a
    * CONTENT-hash predicate on `vec_id` (xxhash64 threshold — a row's
    * membership depends only on its key, never on the partition it
    * sits in; `DataFrame.sample` is seeded per partition index and
    * would reshuffle the selection with the input layout), then
    * GLOBALLY ordered before collect. */
  def fitPqCodebooks(emb: DataFrame, m: Int, k: Int, iters: Int = 10,
      seed: Long = 42L, trainFraction: Double = 1.0,
      sampleCap: Int = 65536): graft.expressions.PqCodebookSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(iters >= 1, s"iters=$iters")
    val sampled =
      (if (trainFraction >= 1.0) prepared(emb)
       else prepared(emb).filter(
         pmod(xxhash64($"vec_id", lit(seed)), lit(1000000L))
           < lit((trainFraction * 1000000L).toLong)))
        .orderBy($"vec_id").limit(sampleCap)
        .select($"v").as[Seq[Double]].collect().map(_.toArray)
    fitCodebooksFromSample(sampled, m, k, iters)
  }

  /** The per-subspace Lloyd tail shared by the raw and residual fits:
    * m independent k-means fits over the sample's dsub-slices. */
  private def fitCodebooksFromSample(sampled: Array[Array[Double]],
      m: Int, k: Int, iters: Int): graft.expressions.PqCodebookSet = {
    require(sampled.nonEmpty, "PQ fit saw an empty sample — raise " +
      "trainFraction or check the corpus")
    val dim = sampled(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val codes = new Array[Array[Double]](m * k)
    var s = 0
    while (s < m) {
      val pts = sampled.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val (centers, _) = graft.expressions.IvfAssignKernel.lloyd(pts, k, iters)
      // lloyd clamps k ≤ points; a tiny sample pads by cycling the
      // fitted centers so the codebook keeps its declared geometry
      var c = 0
      while (c < k) {
        codes(s * k + c) = centers(c % centers.length).clone()
        c += 1
      }
      s += 1
    }
    graft.expressions.PqCodebookSet(m, dsub, k, codes)
  }

  /** Elementwise `v − centroid` — THE residual the IVFADC composition
    * quantizes (Jégou et al. TPAMI 2011 §IV; FAISS `IndexIVFPQ`
    * likewise encodes residuals): within one coarse cell every member
    * shares the centroid offset, so codebook capacity describes the
    * small within-cell geometry instead of re-describing the coarse
    * layout the quantizer already captured — at high cell counts
    * raw-vector codes waste most codewords on between-cell variance
    * and the recall knee sags (the r18 16k-cell 0.649 flat). A
    * codegen'd `zip_with`: one double subtract per dim, ascending —
    * bit-identical to the oracle's `list_transform((x,i) → x − c[i])`. */
  private def residualOf(v: Column, centroid: Column): Column =
    zip_with(v, centroid, (a, b) => a - b)

  /** The per-row home-cell frame `(…, cell, centroid, d2)` used by the
    * residual fits/codebooks: assignment by the same window formula as
    * [[assignedHome]] (d2 bit-identical to the kernel and the SQL
    * oracle), centroid KEPT so the residual can be computed. */
  private def homeWithCentroid(emb: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val c2 = centroidTableOf(spark, cents)
      .withColumn("cn2", dot($"centroid", $"centroid"))
    val byDist = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cell".asc)
    prepared(emb)
      .join(broadcast(c2))
      .withColumn("d2",
        $"nrm" * $"nrm" + $"cn2" - lit(2.0) * dot($"v", $"centroid"))
      .filter($"d2".isNotNull)
      .withColumn("cr", row_number().over(byDist))
      .filter($"cr" === 1)
  }

  /** Oracle-twin RESIDUAL codebooks for the IVF+PQ composition:
    * subspace `s`'s codeword `c` = the s-th dsub-slice of the c-th
    * corpus vector's RESIDUAL `v − centroid(home cell)` (vec_id
    * ascending) — the [[pqCodebooksFromHead]] stance applied to the
    * residual space the composed serve actually quantizes. Home
    * assignment runs IN the engine (same window formula as every
    * assignment route — bit-identical d2, same tie-breaks), so the
    * collected codewords match the plain-SQL oracle's to the bit. */
  def pqCodebooksFromHeadResidual(emb: DataFrame,
      cents: Array[Array[Double]], m: Int, k: Int):
      graft.expressions.PqCodebookSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    val resid = homeWithCentroid(emb.orderBy($"vec_id").limit(k), cents)
      .select($"vec_id", residualOf($"v", $"centroid").as("r"))
      .orderBy($"vec_id")
      .select($"r").as[Seq[Double]].collect().map(_.toArray)
    require(resid.length == k, s"corpus has only ${resid.length} < k=$k " +
      "assignable rows")
    val dim = resid(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val codes = Array.tabulate(m * k) { r =>
      val s = r / k
      val c = r % k
      java.util.Arrays.copyOfRange(resid(c), s * dsub, (s + 1) * dsub)
    }
    graft.expressions.PqCodebookSet(m, dsub, k, codes)
  }

  /** Trained RESIDUAL codebooks: [[fitPqCodebooks]]'s per-subspace
    * Lloyd's over residuals `v − centroid(home cell)` instead of raw
    * vectors — what a production IVF+PQ build fits (FAISS
    * `IndexIVFPQ.train`). Assignment runs in the engine (one bounded
    * sample job); the m sub-fits are driver arithmetic over the same
    * capped, content-hash-selected, globally-ordered sample law as the
    * raw fit — deterministic across reruns and partitionings. */
  def fitPqCodebooksResidual(emb: DataFrame, cents: Array[Array[Double]],
      m: Int, k: Int, iters: Int = 10, seed: Long = 42L,
      trainFraction: Double = 1.0, sampleCap: Int = 65536):
      graft.expressions.PqCodebookSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(iters >= 1, s"iters=$iters")
    val base =
      if (trainFraction >= 1.0) emb
      else emb.filter(
        pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000L))
          < lit((trainFraction * 1000000L).toLong))
    val sampled = homeWithCentroid(base, cents)
      .select($"vec_id", residualOf($"v", $"centroid").as("r"))
      .orderBy($"vec_id").limit(sampleCap)
      .select($"r").as[Seq[Double]].collect().map(_.toArray)
    fitCodebooksFromSample(sampled, m, k, iters)
  }

  /** One-scan corpus encode: `(vec_id, label, codes array<int>, pq_ck)`
    * — per-row kernel work inside whole-stage codegen, no shuffle. The
    * constant `pq_ck` column carries the codebook checksum (RLE's to
    * nothing in parquet) so a persisted code relation can refuse a
    * foreign codebook set at serve time ([[pqTopKFromCodes]]) — codes
    * assigned under different codebooks are meaningless. */
  def pqEncodeCorpus(emb: DataFrame,
      cs: graft.expressions.PqCodebookSet): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val bc = spark.sparkContext.broadcast(cs)
    prepared(emb).select($"vec_id", $"label",
      GraftColumnBridge.column(graft.expressions.PqEncode(bc,
        GraftColumnBridge.expression($"v"))).as("codes"),
      lit(cs.checksum).as("pq_ck"))
  }

  /** ADC top-k from an already-encoded code relation (the serve path a
    * deployment runs per query batch — the corpus is encoded ONCE, this
    * never touches a corpus vector): queries compute their m×k lookup
    * table in one scan, the broadcast query block fans across the code
    * relation, and each pair costs m lookups
    * ([[graft.expressions.PqAdc]]). Ranking and output both use the
    * 4-dp-rounded ADC distance (ascending, cand_id tie-break) so
    * cross-engine float differences cannot flip near-tie neighbors —
    * the [[graft.functions.VectorOps.roundedSim]] stance. Fails fast on
    * a code relation carrying a foreign codebook checksum. */
  def pqTopKFromCodes(codes: DataFrame, queries: DataFrame,
      cs: graft.expressions.PqCodebookSet, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    // distinct, not first-row: a UNION of code relations encoded under
    // different codebooks must fail here too (mixed codes are each
    // individually meaningless against the wrong lut). The checksum
    // column is constant per encode, so the distinct collapses
    // map-side to ≤1 value per input file.
    val foreign = codes.select($"pq_ck").distinct()
      .as[Long].collect().filterNot(_ == cs.checksum)
    require(foreign.isEmpty,
      s"code relation carries codebook checksum(s) ${foreign.mkString(",")}, " +
        s"serve asked for ${cs.checksum} — re-encode or load the " +
        "matching codebooks")
    val bc = spark.sparkContext.broadcast(cs)
    val q = queries.select($"vec_id".as("query_id"),
      GraftColumnBridge.column(graft.expressions.PqLut(bc,
        GraftColumnBridge.expression(asDouble($"embedding")))).as("lut"))
    // the broadcast join fans out |queries|× — pre-split a narrow or
    // single-file code scan to the cluster's parallelism first (the
    // bruteForceTopK stance; code rows are ~m ints so the exchange is
    // cheap next to the fan-out it parallelizes)
    val par = spark.sparkContext.defaultParallelism
    val corpus =
      if (codes.rdd.getNumPartitions >= par / 2) codes
      else {
        val bytes = GraftColumnBridge.planSizeBytes(codes)
        if (bytes < (32L << 20)) codes else codes.repartition(par)
      }
    val pairs = corpus
      .join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("ad2r", round(GraftColumnBridge.column(
        graft.expressions.PqAdc(GraftColumnBridge.expression($"lut"),
          GraftColumnBridge.expression($"codes"), cs.k)), 4) + lit(0.0))
      // rank ASCENDING via the bounded-heap top-k aggregate (negated
      // score — all-zero distances negate to a uniform -0.0, so the
      // heap never compares mixed zero signs)
      .select($"query_id", $"vec_id", (-$"ad2r").as("sim"))
    topKPerQuery(pairs, "query_id", "vec_id", k)
      .select($"query_id".as("vec_id"), $"neighbor_id",
        ((-$"sim") + lit(0.0)).as("ad2"), $"rn")
  }

  /** PQ ADC top-k end-to-end: encode the corpus (one scan) and serve
    * the `queryPred` block against the codes. The declared-query shape;
    * a deployment persists [[pqEncodeCorpus]]'s output and calls
    * [[pqTopKFromCodes]] per batch instead. */
  def pqTopKAdc(emb: DataFrame, queryPred: Column,
      cs: graft.expressions.PqCodebookSet, k: Int): DataFrame =
    pqTopKFromCodes(pqEncodeCorpus(emb, cs), emb.filter(queryPred), cs, k)

  /** PQ serve with exact RE-RANK — the production two-stage shape
    * (FAISS's `IndexPQ + refine`): ADC preselects `fetch ≥ k`
    * candidates from the compressed codes (cheap, memory-bound), then
    * ONLY those ~queries×fetch rows join back to the full-vector
    * corpus for an exact L2 re-rank. The quantizer bounds which rows
    * are ever looked at; the float vectors are touched ∝ fetch, never
    * ∝ corpus — at 100 TB the re-rank join is a broadcast of the
    * (query, cand) preselect list against the id-sorted corpus, a
    * pushed-down point-lookup scan. Within-cell ADC ties (all members
    * of one quantization region score identically) stop mattering:
    * the re-rank restores exact order, so recall is governed by
    * `fetch`, not by tie-break luck. */
  def pqTopKRerank(emb: DataFrame, queryPred: Column,
      cs: graft.expressions.PqCodebookSet, k: Int, fetch: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    val pre = pqTopKAdc(emb, queryPred, cs, fetch)
      .select($"vec_id".as("query_id"), $"neighbor_id")
    rerankExactL2(emb, queryPred, pre, k)
  }

  /** Exact-L2 re-rank of a preselected `(query_id, neighbor_id)` pair
    * list: only those rows join back to the full-vector corpus, ranked
    * on the 4-dp-rounded squared distance ascending (cand_id
    * tie-break). Output `(vec_id, neighbor_id, d2, rn)`. The float
    * vectors are touched ∝ |pre|, never ∝ corpus — at scale the pair
    * list broadcasts and the corpus side is a pushed-down point-lookup
    * scan. Shared tail of every two-stage serve
    * ([[pqTopKRerank]], [[ivfPqTopKWithCentroids]]). */
  private def rerankExactL2(emb: DataFrame, queryPred: Column,
      pre: DataFrame, k: Int): DataFrame =
    rerankExactL2Frames(emb, prepared(emb).filter(queryPred), pre, k)

  /** [[rerankExactL2]] with the query set as its own PREPARED frame
    * (`vec_id, v, nrm`) — the form the artifact-served routes use,
    * where queries arrive as a separate relation rather than a
    * predicate over the corpus. */
  private def rerankExactL2Frames(emb: DataFrame, preparedQueries: DataFrame,
      pre: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = prepared(emb)
      .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
    val queries = preparedQueries
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val pairs = pre
      .join(broadcast(queries), Seq("query_id"))
      .join(corpus, Seq("neighbor_id"))
      .withColumn("d2r",
        round($"qn" * $"qn" + $"cn" * $"cn" - lit(2.0) * dot($"qv", $"cv"), 4)
          + lit(0.0))
      .select($"query_id", $"neighbor_id".as("cand"), (-$"d2r").as("sim"))
    topKPerQuery(pairs, "query_id", "cand", k)
      .select($"query_id".as("vec_id"), $"neighbor_id",
        ((-$"sim") + lit(0.0)).as("d2"), $"rn")
  }

  /** IVF+PQ serve — the full FAISS `IndexIVFPQ` composition, both
    * bounds at once: the coarse quantizer prunes WHICH candidates are
    * scored (a query meets only its `probes` nearest cells' members,
    * hot cells capped — the compute bound), PQ compresses WHAT the
    * index side carries (`(cell, cand_id, codes)` — m ints per vector,
    * no floats — the memory bound), ADC ranks the pruned candidates
    * with m lookups per pair, and the `fetch`-deep preselect re-ranks
    * exactly against the full vectors ([[rerankExactL2]] — touched
    * ∝ queries×fetch, never ∝ corpus). Fixed `centroids` make the
    * whole route SQL-expressible (the q34/q89 oracle stance; trained
    * paths compose [[fitIvfIndex]]/[[fitPqCodebooksResidual]] into the
    * same serve). At 100 TB: the index side is one scan assigning +
    * encoding (both codegen kernels over broadcast artifacts),
    * candidates fan through the cell join ∝ probed-cell populations,
    * and nothing vector-sized ever shuffles — codes rows are ~4×m
    * bytes.
    *
    * `residual = true` (default) is the published IVFADC form: the
    * index side PQ-encodes `v − centroid(cell)` and each (query,
    * probed cell) pair builds its lookup table against
    * `q − centroid(cell)` — per-CELL LUTs, probes per query instead of
    * one, the price of codebooks that describe within-cell geometry
    * instead of re-describing the coarse layout (pass codebooks fitted
    * on residuals: [[fitPqCodebooksResidual]] /
    * [[pqCodebooksFromHeadResidual]]). `residual = false` keeps the
    * raw-vector form (one LUT per query) for A/B and the q90-era
    * sweep baselines. */
  def ivfPqTopKWithCentroids(emb: DataFrame, queryPred: Column,
      centroids: DataFrame, cs: graft.expressions.PqCodebookSet,
      probes: Int, k: Int, fetch: Int,
      cellCap: Int = Int.MaxValue, residual: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    val bc = spark.sparkContext.broadcast(cs)
    val corpus = prepared(emb)
    val cents = centroids
      .withColumn("cn2", dot($"centroid", $"centroid"))
      .select($"cell", $"centroid", $"cn2")
    // coarse assignment — the ivfTopKWithCentroids shape: null d2
    // (mis-dimensioned vector) dropped BEFORE ranking on both sides
    val byDist = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cell".asc)
    val ranked = corpus
      .join(broadcast(cents))
      .withColumn("d2",
        $"nrm" * $"nrm" + $"cn2" - lit(2.0) * dot($"v", $"centroid"))
      .filter($"d2".isNotNull)
      .withColumn("cr", row_number().over(byDist))
    def encodeInput(v: Column): Column =
      if (residual) residualOf(v, $"centroid") else v
    // index side: home cell, capped, ENCODED — the float vector is
    // dropped here and never carried again until the re-rank
    val byCell = Window.partitionBy($"cell").orderBy($"d2".asc, $"vec_id".asc)
    val indexed = ranked.filter($"cr" === 1)
      .withColumn("cellRank", row_number().over(byCell))
      .filter($"cellRank" <= cellCap)
      .select($"cell", $"vec_id".as("cand_id"),
        GraftColumnBridge.column(graft.expressions.PqEncode(bc,
          GraftColumnBridge.expression(encodeInput($"v")))).as("codes"))
    // query side: probed cells + an ADC lookup table per query (per
    // probed CELL under residual encoding — the LUT depends on the
    // cell's centroid there)
    val queries = ranked.filter($"cr" <= probes && queryPred)
      .select($"cell", $"vec_id",
        GraftColumnBridge.column(graft.expressions.PqLut(bc,
          GraftColumnBridge.expression(encodeInput($"v")))).as("lut"))
    // each candidate lives under exactly ONE home cell and a query
    // probes distinct cells, so a (query, candidate) pair meets once
    val pairs = queries
      .join(indexed, Seq("cell"))
      .filter($"vec_id" =!= $"cand_id")
      .withColumn("ad2r", round(GraftColumnBridge.column(
        graft.expressions.PqAdc(GraftColumnBridge.expression($"lut"),
          GraftColumnBridge.expression($"codes"), cs.k)), 4) + lit(0.0))
      .select($"vec_id", $"cand_id", (-$"ad2r").as("sim"))
    val pre = topKPerQuery(pairs, "vec_id", "cand_id", fetch)
      .select($"vec_id".as("query_id"), $"neighbor_id")
    rerankExactL2(emb, queryPred, pre, k)
  }

  /** Mean squared reconstruction error of the codebooks over the corpus
    * — the fit-quality number a PQ deployment tracks per codebook build
    * (lower = tighter codes = better ADC ranking). One scan: encode +
    * per-row ADC of the vector against its OWN codes (ADC of v to
    * itself through the codebooks IS the reconstruction error:
    * Σ_s ‖v_s − c_{s,code_s}‖²). */
  def pqReconstructionError(emb: DataFrame,
      cs: graft.expressions.PqCodebookSet): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val bc = spark.sparkContext.broadcast(cs)
    prepared(emb).select(
      GraftColumnBridge.column(graft.expressions.PqAdc(
        GraftColumnBridge.expression(GraftColumnBridge.column(
          graft.expressions.PqLut(bc, GraftColumnBridge.expression($"v")))),
        GraftColumnBridge.expression(GraftColumnBridge.column(
          graft.expressions.PqEncode(bc, GraftColumnBridge.expression($"v")))),
        cs.k)).as("e"))
      .agg(avg($"e")).as[Double].collect()(0)
  }

  /** Exact L2 top-k (brute force) — the truth relation for the PQ
    * family, which quantizes SQUARED L2 distance (cosine truth would
    * grade the quantizer against a metric it never approximated).
    * Same broadcast-queries/stream-corpus shape as [[bruteForceTopK]],
    * ranked on the 4-dp-rounded distance ascending, cand_id
    * tie-break. */
  def bruteForceTopKL2(emb: DataFrame, queryPred: Column,
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = prepared(emb)
    val queries = prepared(emb).filter(queryPred)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val pairs = corpus
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .withColumn("d2r",
        round($"qn" * $"qn" + $"nrm" * $"nrm" - lit(2.0) * dot($"qv", $"v"), 4)
          + lit(0.0))
      .select($"query_id", $"vec_id", (-$"d2r").as("sim"))
    topKPerQuery(pairs, "query_id", "vec_id", k)
      .select($"query_id", $"neighbor_id",
        ((-$"sim") + lit(0.0)).as("d2"), $"rn")
  }

  /** Measured recall@k of the PQ route against exact L2 truth — the
    * quality number next to [[pqReconstructionError]] (rides the bench
    * metrics block; PqSpec pins a floor on a clustered fixture).
    * `fetch > k` grades the two-stage serve ([[pqTopKRerank]] — the
    * number that actually matters in production, since plain ADC@k is
    * bounded by within-region tie-break luck); `fetch = k` (default)
    * grades raw ADC ranking. */
  def pqRecallAtK(emb: DataFrame, cs: graft.expressions.PqCodebookSet,
      k: Int, fetch: Int = -1): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    val f = if (fetch < k) k else fetch
    val truth = bruteForceTopKL2(emb, lit(true), k)
      .select($"query_id", $"neighbor_id")
    val approx =
      (if (f == k) pqTopKAdc(emb, lit(true), cs, k)
       else pqTopKRerank(emb, lit(true), cs, k, f))
        .select($"vec_id".as("query_id"), $"neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id")).count()
    hits.toDouble / (emb.count() * k)
  }

  /** Measured recall@k of the COMPOSED IVF+PQ route against exact L2
    * truth over a query sample (`queryPred`) — the number that sites
    * residual-vs-raw encoding and the `fetch` depth at a given coarse
    * geometry (rides the PqSweep grid; PqSpec pins residual ≥ raw on
    * the clustered fixture). */
  def ivfPqRecallAtK(emb: DataFrame, queryPred: Column,
      centroids: DataFrame, cs: graft.expressions.PqCodebookSet,
      probes: Int, k: Int, fetch: Int, cellCap: Int = Int.MaxValue,
      residual: Boolean = true): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    val truth = bruteForceTopKL2(emb, queryPred, k)
      .select($"query_id", $"neighbor_id")
    val nQueries = prepared(emb).filter(queryPred).count()
    val approx = ivfPqTopKWithCentroids(emb, queryPred, centroids, cs,
      probes, k, fetch, cellCap, residual)
      .select($"vec_id".as("query_id"), $"neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id")).count()
    hits.toDouble / (nQueries * k)
  }

  // ------------------------------------------------ PQ index artifact
  // The PERSISTED IVF+PQ index — what makes the PQ family deployable
  // (the r18 gap): codebooks live in a checksummed driver-written
  // sidecar ([[PqCodebookStore]]), coded postings `(cell, cand_id, d2,
  // codes)` live in the classic cell-partitioned layout under the SAME
  // [[PostingsManifest]] machinery as the float postings family
  // (incremental `_manifest_log`, fragment appends ∝ batch, fold-style
  // compaction, zero-listing manifest-planned serve scans) — and the
  // serve re-assigns QUERIES only, never the corpus, closing the r18
  // "re-assigns the corpus per call" seam. FAISS lineage: this is
  // `IndexIVFPQ` written as a lake artifact. Payload per posting is
  // ~4·m bytes + the stored coarse d2 (which is what lets a later
  // append re-apply the hot-cell cap EXACTLY as a from-scratch build
  // would — the q78 contract, unchanged).

  /** The coded postings data files' schema (partition column `cell`
    * excluded) — what [[ivfPqPostings]] writes. */
  private def pqPostingsDataSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("cand_id", LongType),
      StructField("d2", DoubleType),
      StructField("codes", ArrayType(IntegerType, containsNull = false)),
      StructField("iv_cells", IntegerType),
      StructField("iv_cap", IntegerType),
      StructField("iv_ck", LongType),
      StructField("pq_ck", LongType)))
  }

  /** Buildable CODED postings: every vector under its home cell (hot
    * cells capped, closest-to-centroid win — d2 stored so later
    * appends re-cap exactly), carrying its PQ codes instead of the
    * float vector. One kernel scan assigns
    * ([[graft.expressions.IvfNearestCells]] — no corpus×cells
    * expansion), the residual subtract + encode ride the same
    * projection inside whole-stage codegen (the centroid join is a
    * broadcast of the numCells-row table), and the float vector is
    * DROPPED here — nothing vector-sized is ever written or shuffled.
    * Embedded params: the coarse ones every postings artifact carries
    * (`iv_cells`/`iv_cap`/`iv_ck`) plus the codebook checksum `pq_ck`
    * (constant per encode — RLEs to nothing in parquet; the q89
    * fail-fast stance). */
  def ivfPqPostings(emb: DataFrame, cents: Array[Array[Double]],
      cs: graft.expressions.PqCodebookSet, cellCap: Int = Int.MaxValue,
      residual: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val bcCells = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(cents))
    val bcCs = spark.sparkContext.broadcast(cs)
    val home = prepared(emb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bcCells,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), 1)))
      .select(element_at($"nc", 1).getField("cell").as("cell"),
        $"vec_id".as("cand_id"), $"v",
        element_at($"nc", 1).getField("d2").as("d2"))
      // non-assignable vectors (dim mismatch / null element) drop here,
      // same as every build route
      .filter($"cell".isNotNull)
    val encoded =
      (if (residual)
        home.join(broadcast(centroidTableOf(spark, cents)), Seq("cell"))
          .withColumn("codes", GraftColumnBridge.column(
            graft.expressions.PqEncode(bcCs, GraftColumnBridge.expression(
              residualOf($"v", $"centroid")))))
      else
        home.withColumn("codes", GraftColumnBridge.column(
          graft.expressions.PqEncode(bcCs,
            GraftColumnBridge.expression($"v")))))
        .select($"cell", $"cand_id", $"d2", $"codes")
    val byCell = Window.partitionBy($"cell").orderBy($"d2".asc, $"cand_id".asc)
    val capped =
      if (cellCap == Int.MaxValue) encoded
      else encoded.withColumn("cellRank", row_number().over(byCell))
        .filter($"cellRank" <= cellCap).drop("cellRank")
    capped
      .withColumn("iv_cells", lit(cents.length))
      .withColumn("iv_cap", lit(cellCap))
      .withColumn("iv_ck", lit(centroidChecksumOf(cents)))
      .withColumn("pq_ck", lit(cs.checksum))
  }

  /** Persist a coded postings frame as a self-contained PQ index
    * artifact: cell-partitioned data (1 file per cell), the
    * [[PqCodebookStore]] sidecar (codebooks + encoding law — the
    * artifact must be serveable from the path alone), and a born-with
    * [[PostingsManifest]] — same lease + manifest discipline as
    * [[saveIvfPostings]]. Fails fast on a frame encoded under a
    * different codebook set than the one being persisted. */
  def saveIvfPqPostings(postings: DataFrame, path: String,
      cs: graft.expressions.PqCodebookSet,
      residual: Boolean = true): Unit = {
    val spark = postings.sparkSession
    import spark.implicits._
    MaintenanceProtocol.withLease(spark, path, "build_pq") {
      val foreign = postings.select($"pq_ck").distinct()
        .as[Long].collect().filterNot(_ == cs.checksum)
      require(foreign.isEmpty,
        s"postings frame carries codebook checksum(s) " +
          s"${foreign.mkString(",")}, save asked for ${cs.checksum} — " +
          "pass the codebook set the frame was encoded under")
      byCellPinned(postings,
        ivCellsFromPlan(postings).getOrElse(Int.MaxValue))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      PqCodebookStore.save(spark, path, cs, residual)
      timed("save_manifest")(
        PostingsManifest.rebuildAndWrite(spark, path))
    }
  }

  /** Persist codebooks ALONE (no postings) — the plain-PQ deployment
    * unit for [[pqEncodeCorpus]]/[[pqTopKFromCodes]] pipelines that
    * keep their code relation elsewhere: `path` becomes a directory
    * holding just the checksummed sidecar. `residual = false` is the
    * plain-PQ law (no coarse quantizer, nothing to subtract). */
  def savePqCodebooks(spark: SparkSession, path: String,
      cs: graft.expressions.PqCodebookSet,
      residual: Boolean = false): Unit = {
    MaintenanceProtocol.fsOf(spark, path)
      .mkdirs(new org.apache.hadoop.fs.Path(path.stripSuffix("/")))
    PqCodebookStore.save(spark, path, cs, residual)
  }

  /** Load (+ checksum-verify) a persisted codebook set; returns the
    * set and the encoding law it was saved under. Refuses a corrupted
    * sidecar — see [[PqCodebookStore.load]]. */
  def loadPqCodebooks(spark: SparkSession,
      path: String): (graft.expressions.PqCodebookSet, Boolean) =
    PqCodebookStore.load(spark, path)

  /** Open a PQ postings DIRECTORY for serving — the coded twin of
    * [[readPostings]]: manifest-planned zero-listing scan when clean,
    * discovering read otherwise, with the same dirty-state convergence
    * law (dedup (cell, cand_id), re-cap on the stored d2) — codes ride
    * the surviving rows unchanged since they are a pure function of
    * (vector, home cell). */
  def readPqPostings(spark: SparkSession, path: String): DataFrame =
    PostingsManifest.readClean(spark, path) match {
      case Some(st) =>
        org.apache.spark.sql.GraftColumnBridge.parquetOverFileIndex(spark,
          new graft.plans.PostingsFileIndex(path, st),
          pqPostingsDataSchema)
      case None =>
        spark.catalog.refreshByPath(path)
        val raw = spark.read.parquet(path)
        if (!MaintenanceProtocol.isDirty(spark, path)) raw
        else {
          val head = raw.select(col("iv_cap")).take(1)
          if (head.isEmpty) raw else capFold(raw, head(0).getInt(0))
        }
    }

  /** FRAGMENT append for the PQ artifact — O(batch) maintenance, the
    * [[appendIvfPostingsFragment]] economics verbatim: the batch is
    * assigned + encoded under the ARTIFACT's own centroids, codebooks,
    * and encoding law (all read from the artifact — one manifest read
    * + one sidecar read, no data head), staged in by rename, manifest
    * rolled forward incrementally. Same at-least-once posture: a
    * replayed batch appends duplicate rows; [[compactIvfPqPostings]]
    * dedups them and re-applies the cap over the accumulated union —
    * codes are deterministic per (vector, home cell), so replay rows
    * are EXACT duplicates and the fold converges to the from-scratch
    * build. */
  def appendIvfPqPostingsFragment(spark: SparkSession, path: String,
      cents: Array[Array[Double]], newEmb: DataFrame): Unit = {
    val state0 = PostingsManifest.readClean(spark, path)
    val (cells, cap, ck, _) =
      state0.map(paramsOf).getOrElse(paramsFromFooter(spark, path))
    require(cents.length == cells && centroidChecksumOf(cents) == ck,
      "model centroids differ from the PQ postings artifact's")
    val (cs, residual) = PqCodebookStore.load(spark, path)
    appendFragmentFiles(spark, path,
      ivfPqPostings(newEmb, cents, cs, Int.MaxValue, residual)
        .withColumn("iv_cap", lit(cap))) // artifact's cap, not the delta's
  }

  /** Fold a fragment-appended PQ artifact back to 1-file-per-cell —
    * [[compactIvfPostings]]'s body over the coded schema: dedup
    * replayed (cell, cand_id) rows, re-apply the hot-cell cap over the
    * accumulated union on the stored coarse d2 (codes ride the
    * surviving rows), restore the layout, fold the manifest log. */
  def compactIvfPqPostings(spark: SparkSession,
      path: String): (Int, Int, Int) =
    MaintenanceProtocol.withLease(spark, path, "compact_pq")(
      compactIvfPostingsLocked(spark, path, _ => pqPostingsDataSchema))

  /** STEADY-STATE IVF+PQ serve from the persisted artifact — the
    * ∝-queries route the r18 VERDICT named as the family's missing
    * piece: the corpus is never re-assigned or re-encoded (its codes
    * live in the artifact), queries alone pay assignment (one codegen
    * kernel scan) + one ADC lookup table per probed cell, the
    * artifact scan is manifest-planned AND partition-pruned to the
    * probed cells (the [[ivfTopKFromPostingsPruned]] stance — serving
    * I/O ∝ queries, not ∝ corpus), ADC ranks candidates to `fetch`
    * depth, and only those ~queries×fetch pairs touch float vectors in
    * the exact re-rank. Codebooks, encoding law, and coarse params all
    * come from the artifact; the passed centroids are checksum-
    * verified against it, and a foreign `pq_ck` in the data fails fast
    * (the [[pqTopKFromCodes]] stance).
    *
    * `queryEmb` must be deterministic under re-evaluation (its plan
    * runs for the probe-set collect and again in the lazy serve) —
    * the documented contract of every pruned route. */
  def ivfPqTopKFromPostings(queryEmb: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]], path: String, probes: Int, k: Int,
      fetch: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    val (cells, _, ck, _) = postingsParamsAtPath(spark, path)
    require(cents.length == cells && centroidChecksumOf(cents) == ck,
      "model centroids differ from the PQ postings artifact's")
    val (cs, residual) = PqCodebookStore.load(spark, path)
    val codes = readPqPostings(spark, path)
    val bcCells = spark.sparkContext.broadcast(
      graft.expressions.IvfAssignKernel.centroidSet(cents))
    val bcCs = spark.sparkContext.broadcast(cs)
    val probedQ = prepared(queryEmb).withColumn("nc",
      GraftColumnBridge.column(graft.expressions.IvfNearestCells(bcCells,
        GraftColumnBridge.expression($"v"),
        GraftColumnBridge.expression($"nrm"), probes)))
      .select($"vec_id", $"v", explode($"nc.cell").as("cell"))
    val queries =
      if (residual)
        probedQ.join(broadcast(centroidTableOf(spark, cents)), Seq("cell"))
          .select($"cell", $"vec_id",
            GraftColumnBridge.column(graft.expressions.PqLut(bcCs,
              GraftColumnBridge.expression(
                residualOf($"v", $"centroid")))).as("lut"))
      else
        probedQ.select($"cell", $"vec_id",
          GraftColumnBridge.column(graft.expressions.PqLut(bcCs,
            GraftColumnBridge.expression($"v"))).as("lut"))
    // probed-cell partition prune: driver-side collect of
    // ≤ queries×probes ints pushed as an IN filter on the partition
    // column — the artifact scan reads only probed cells' files
    val probed = queries.select($"cell").distinct()
      .as[Int].collect().toSeq
    val scan = codes.filter($"cell".isin(probed: _*))
      .select($"cell", $"cand_id", $"codes", $"pq_ck")
    // fail fast on codes from a foreign codebook set — distinct over a
    // per-file-constant column, collapsed map-side
    val foreign = scan.select($"pq_ck").distinct()
      .as[Long].collect().filterNot(_ == cs.checksum)
    require(foreign.isEmpty,
      s"PQ postings carry codebook checksum(s) ${foreign.mkString(",")}, " +
        s"sidecar says ${cs.checksum} — rebuild the artifact")
    val pairs = queries
      .join(scan.drop("pq_ck"), Seq("cell"))
      .filter($"vec_id" =!= $"cand_id")
      .withColumn("ad2r", round(GraftColumnBridge.column(
        graft.expressions.PqAdc(GraftColumnBridge.expression($"lut"),
          GraftColumnBridge.expression($"codes"), cs.k)), 4) + lit(0.0))
      .select($"vec_id", $"cand_id", (-$"ad2r").as("sim"))
    val pre = topKPerQuery(pairs, "vec_id", "cand_id", fetch)
      .select($"vec_id".as("query_id"), $"neighbor_id")
    rerankExactL2Frames(corpus, prepared(queryEmb), pre, k)
  }
}
