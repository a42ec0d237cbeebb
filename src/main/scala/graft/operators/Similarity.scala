package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorOps._
import graft.operators.MaintenanceProtocol.timed
import graft.sources.WarehouseWriter

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
    * [[fitIvfIndex]] + [[ivfTopKWithCentroids]]; production persists the
    * fit as the postings artifact ([[saveIvfPostings]]) instead of
    * refitting. */
  def ivfTopK(emb: DataFrame, numCells: Int, probes: Int, k: Int,
      cellCap: Int = Int.MaxValue, seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame =
    ivfTopKWithCentroids(emb, centroidTable(emb.sparkSession,
      fitIvfIndex(emb, numCells, seed, trainFraction)), probes, k, cellCap)

  /** Fit the IVF coarse quantizer (seeded k-means, optionally on a
    * corpus sample): fit once per corpus build and serve every
    * subsequent query load from the postings it assigns — at 100 TB the
    * fit runs on a few million sampled vectors and is then amortized
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

  /** IVF top-k through a [[CoarseQuantizer]] — the kernel-assigned
    * route for any cell count. Under `Flat` it returns exactly what
    * [[ivfTopKWithCentroids]] returns (SimilaritySpec pins the
    * equality, capped and not), in a different physical shape: the
    * window-ranked assignment there materializes N×cells rows — each
    * carrying the full vector — through the `row_number` exchange:
    * transparent to the oracle and fine at the ≤64-cell grid it serves,
    * but at the 2¹⁰–2¹⁴ cells production runs (SURVEY §6.2) that is
    * 10⁸⁺ vector-bearing rows through one shuffle for what is per-row
    * arithmetic. Here assignment is one codegen kernel scan per vector
    * against the cluster-broadcast centroids: O(cells × dim) per row
    * (O(groups + probed members) under `TwoLevel`), no row expansion,
    * and — when `cellCap` is unbounded — NO shuffle on the index side
    * at all (the only exchanges left are the candidate join and the
    * final top-k, both ∝ candidates, not ∝ N×cells).
    *
    * The probed-cell list is computed ONCE per vector and serves both
    * sides: element 0 is the home cell (index side), the full list is
    * the probe set (query side). The two-level recall trade: a
    * candidate cell is lost only when its entire GROUP outranks the
    * probed set; `groupProbes >= numGroups` degenerates to exactly the
    * flat scan (spec-pinned bit-equal). q77 serves the SQL-expressible
    * fixed grouping
    * ([[graft.expressions.IvfAssignKernel.fixedGroupedCentroidSet]]),
    * so the group-pruned route itself is DuckDB-oracle-checkable. */
  def ivfTopKQuantized(emb: DataFrame, q: CoarseQuantizer, probes: Int,
      k: Int, cellCap: Int = Int.MaxValue): DataFrame = {
    require(probes <= q.numCells,
      s"probes=$probes exceeds the model's ${q.numCells} cells")
    serveFromAssigned(prepared(emb).withColumn("nc",
      q.nearest(emb.sparkSession, col("v"), col("nrm"), probes)), k, cellCap)
  }

  /** HIERARCHICAL two-level fit — the index-BUILD counterpart of
    * the `TwoLevel` quantizer's serving shape. A flat k-means at 2¹⁴ cells
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
    * contiguously in group order. Serve it as `TwoLevel(gcs, groupProbes)`. */
  def fitIvfHierarchical(emb: DataFrame, numGroups: Int, cellsPerGroup: Int,
      seed: Long = 42L, trainFraction: Double = 1.0,
      subIters: Int = 10): graft.expressions.IvfGroupedCentroidSet = {
    val spark = emb.sparkSession
    import spark.implicits._
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
    val assigned = sampled.withColumn("g", element_at(
        CoarseQuantizer.Flat(gCents).nearest(spark, $"v", $"nrm", 1), 1)
        .getField("cell"))
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
    val sample =
      if (trainFraction >= 1.0) prepared(emb)
      else prepared(emb).sample(withReplacement = false, trainFraction, seed)
    sample.select(element_at(
        CoarseQuantizer.Flat(cents).nearest(spark, $"v", $"nrm", 1), 1)
        .getField("d2").as("d2"))
      .agg(avg($"d2")).as[Double].head()
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

  /** Persistable IVF POSTINGS — the corpus side of the index as an
    * artifact: every vector under its home cell (hot cells capped at
    * `cellCap`, closest-to-centroid win), with the assignment distance
    * stored so the cap can be re-applied EXACTLY on later appends, and
    * the quantizer's params embedded ([[CoarseQuantizer.params]]: cell
    * count, cap, centroid checksum, and a two-level build's `iv_gp` —
    * [[graft.operators.Dedup.minhashBandIndex]]'s params-in-artifact
    * stance). Save as parquet with [[saveIvfPostings]];
    * [[ivfTopKFromPostings]] then serves queries WITHOUT re-assigning
    * the corpus — the missing piece that makes IVF serving cost
    * ∝ queries instead of ∝ corpus per call.
    *
    * Home assignment is the quantizer's codegen KERNEL scan — one pass
    * over the corpus, no corpus×cells row expansion and no per-vector
    * window (the old window-ranked form shuffled numCells
    * vector-bearing rows per vector through a `row_number` exchange;
    * guide §2.3/§2.4). Row-equal INCLUDING the stored d2 — the kernel
    * sums ⟨v,c⟩ in index order, so values and cap tie-breaks match the
    * window form bit-for-bit (SimilaritySpec pins kernel ≡
    * window-ranked against an inline reference, capped and not; the
    * lifecycle oracles pin it against DuckDB end-to-end). When
    * `cellCap` is unbounded the build is a single scan-project.
    * Non-assignable vectors (dim mismatch / null element) drop.
    *
    * A `TwoLevel` build is the 2¹⁴⁺-cells posture, where even the
    * one-time build's flat O(cells) per-row scan dominates: its
    * `groupProbes` is embedded as `iv_gp`, and every later append must
    * use the SAME law ([[CoarseQuantizer.requireAppendLaw]]), or
    * append≡rebuild breaks. With `groupProbes >= numGroups` it is
    * row-equal to the flat build (modulo the iv_gp column).
    *
    * `codec` picks the payload ([[PostingsCodec]]): the float vector,
    * or under `Pq(cs, residual)` the PQ codes of the (residual) vector
    * plus the codebook checksum `pq_ck` — the residual subtract and the
    * encode ride the assignment projection, and the float vector is
    * dropped before the cap, so nothing vector-sized is written or
    * shuffled. Save a PQ frame with the SAME codec ([[saveIvfPostings]]
    * writes its codebook sidecar). */
  def ivfPostings(emb: DataFrame, q: CoarseQuantizer,
      cellCap: Int = Int.MaxValue,
      codec: PostingsCodec = PostingsCodec.Float): DataFrame =
    codec.stamp(CoarseQuantizer.stamp(
      cappedByCell(codec.payload(q.home(prepared(emb)), q), q.numCells,
        cellCap),
      q.params(cellCap)))

  /** [[ivfPostings]] under `Flat(cents)`, for callers holding a raw
    * centroid matrix. */
  def ivfPostingsWithCentroids(emb: DataFrame,
      cents: Array[Array[Double]], cellCap: Int = Int.MaxValue): DataFrame =
    ivfPostings(emb, CoarseQuantizer.Flat(cents), cellCap)

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

  /** The parameters a postings frame's PLAN stamps
    * ([[CoarseQuantizer.stamp]]'s literals, through [[PlanLiterals]]) —
    * None for a frame read from storage, or a union whose branches
    * disagree. No job, so also none of [[postingsParams]]' empty-frame
    * fail-fast. */
  private def planParams(postings: DataFrame): Option[CoarseQuantizer.Params] =
    PlanLiterals(postings, (Seq("iv_cells", "iv_cap", "iv_ck") ++
        (if (postings.columns.contains("iv_gp")) Seq("iv_gp") else Nil)): _*)
      .collect {
        case Seq(cells: Int, cap: Int, ck: Long) =>
          CoarseQuantizer.Params(cells, cap, ck, None)
        case Seq(cells: Int, cap: Int, ck: Long, gp: Int) =>
          CoarseQuantizer.Params(cells, cap, ck, Some(gp))
      }

  /** The parameters embedded in a postings FRAME (fail-fast seam): one
    * head row, with `iv_gp` when the frame carries it. */
  private def postingsParams(postings: DataFrame): CoarseQuantizer.Params = {
    val hasGp = postings.columns.contains("iv_gp")
    val head = postings.select((Seq("iv_cells", "iv_cap", "iv_ck") ++
      (if (hasGp) Seq("iv_gp") else Nil)).map(col): _*).take(1)
    require(head.nonEmpty,
      "empty IVF postings — build them with ivfPostings over the corpus")
    val r = head(0)
    CoarseQuantizer.Params(r.getInt(0), r.getInt(1), r.getLong(2),
      if (hasGp) Some(r.getInt(3)) else None)
  }

  /** The embedded parameters of a postings DIRECTORY. With a clean
    * [[PostingsManifest]] they ride the manifest (one small-file read,
    * zero artifact listings); otherwise [[paramsFromFooter]]. */
  private def postingsParamsAtPath(spark: SparkSession, path: String,
      codec: PostingsCodec): CoarseQuantizer.Params =
    PostingsManifest.readClean(spark, path).map(_.params)
      .getOrElse(paramsFromFooter(spark, path, codec))

  /** The embedded parameters of a manifest-less postings directory,
    * read from ONE part-file: `spark.read.parquet(dir)` on a
    * partitioned artifact lists EVERY file before the first row can be
    * taken, so a fragment append — whose only read is these constants —
    * was paying an O(total-files) metadata scan in front of its
    * O(batch) write. At 16 384 cells the A/B measured exactly that:
    * after 8 fragment appends (42 k files) the listing dominated the
    * append, flipping the mode's economics (first/last appends 2–3× the
    * steady ones, and a cache-eviction storm in SharedInMemoryCache).
    * The constants are identical in every row of every file by
    * construction, so one FS-level root listing (∝ cells), one
    * cell-directory listing, one footer read replace the full
    * enumeration. The footer's schema must carry `codec`'s payload
    * ([[PostingsCodec.requireCarriedBy]]). */
  private def paramsFromFooter(spark: SparkSession, path: String,
      codec: PostingsCodec): CoarseQuantizer.Params = timed("params_at_path") {
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
    PostingsManifest.paramsOfFile(spark, part.get.getPath,
      codec.requireCarriedBy(_, path))
  }

  /** Roll a postings FRAME forward for newly arrived vectors —
    * assignment against the FROZEN centroids (the quantizer must be the
    * artifact's own: [[CoarseQuantizer.requireAppendLaw]]), then the
    * hot-cell cap re-applied over old ∪ new WITHIN TOUCHED CELLS ONLY,
    * so a closer newcomer evicts exactly as a from-scratch build would.
    * Cost: delta assignment (∝ batch, centroids broadcast) + a fold
    * over the touched cells' populations — never a full-postings pass;
    * at most `numCells` cells exist, and a batch touches at most
    * batch-many. Spec-pinned EXACTLY equal to rebuilding postings over
    * the union (d2 is stored, so cap ties resolve identically), and
    * oracle-checked by q78. Re-appending an already-indexed vector is
    * ABSORBED ([[capFold]]'s (cell, cand_id) dedup — identical rows by
    * determinism of d2). */
  def appendToIvfPostings(postings: DataFrame, q: CoarseQuantizer,
      newEmb: DataFrame): DataFrame = {
    PostingsCodec.requireFloatFrame(postings, "appendToIvfPostings")
    val p = postingsParams(postings)
    q.requireAppendLaw(p)
    val delta = CoarseQuantizer.stamp(q.home(prepared(newEmb)), p)
    val touched = broadcast(delta.select(col("cell")).distinct())
    val recapped = capFold(postings
      .join(touched, Seq("cell"), "left_semi")
      .unionByName(delta.select(postings.columns.map(col): _*)), p.cap)
    postings
      .join(touched, Seq("cell"), "left_anti")
      .unionByName(recapped)
  }

  /** Persist postings PARTITIONED BY CELL — the directory layout that
    * makes per-cell maintenance and cell-pruned serving possible
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
    * cell-partitioned writes need, so [[stageIntoCells]] writes the
    * fold as it stands. An uncapped artifact skips the window. */
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

  /** Open a postings DIRECTORY for serving — the read every
    * postings-served route should start from. With a clean
    * [[PostingsManifest]] the scan is planned from a
    * [[graft.plans.PostingsFileIndex]] snapshot: ZERO filesystem
    * listings (a `spark.read.parquet(dir)` on a partitioned artifact
    * lists every file before the first task — the §6.2-measured
    * serving term at 10⁴⁺ cells), exact byte sizes for the optimizer,
    * and partition pruning against the manifest's cell values — so
    * [[ivfTopKFromPostings]] over a `Classic` source touches only
    * probed cells' FILES, no directory ever opened. Falls back to the
    * discovering read for manifest-less or dirty artifacts. Heals a
    * build that crashed inside its swap's delete→install window first.
    *
    * The frame is a SNAPSHOT: maintenance committed after this call is
    * invisible until the caller re-opens. Whether the snapshot SURVIVES
    * overlapped maintenance depends on the op: the `Retained` and
    * `Auto` appends and [[compactIvfPostingsRetained]] retire superseded
    * files instead of deleting them, which is the compact-WHILE-serve
    * mode — a snapshot opened before them keeps serving correctly
    * through them (StreamingSpec-pinned); [[compactIvfPostings]] and
    * [[vacuumPostings]] delete what they retire, and a rebuild replaces
    * the whole directory, so those keep the between-serving-epochs
    * contract. A PQ artifact opens under its coded schema: the codec
    * comes from the artifact ([[PostingsCodec.at]]). */
  def readPostings(spark: SparkSession, path: String): DataFrame =
    openPostings(spark, path, healedCodec(spark, path))

  /** The codec of the artifact at `path`, after healing a build that
    * crashed inside its swap ([[WarehouseWriter.recoverSwap]]: the
    * sidecar lives inside the directory the swap deleted). */
  private def healedCodec(spark: SparkSession, path: String): PostingsCodec = {
    WarehouseWriter.recoverSwap(spark, path)
    PostingsCodec.at(spark, path)
  }

  /** The one postings reader, over the artifact's codec (its data
    * schema; the discovering read checks the files carry its payload).
    * A DIRTY artifact's directory is not serving truth by
    * itself: with retained maintenance the directory legitimately holds
    * tombstoned files (and, after a crash mid-op, possibly half-staged
    * recap files next to the rows they supersede), so a raw read
    * double-counts (cell, cand_id) and over-fills capped cells. It
    * converges with the SAME idempotent law the compaction fold
    * applies ([[capFold]]), which maps tombstone+live and
    * half-staged+old states alike onto the canonical artifact
    * (cap-over-union is idempotent; spec-pinned equal to the clean
    * manifest read) — codes ride the surviving rows unchanged, being a
    * pure function of (vector, home cell). A manifest-ABSENT artifact
    * skips the fold: it never ran a retained op (those require a
    * manifest), so its listing is truth and the extra shuffle would be
    * pure cost. */
  private def openPostings(spark: SparkSession, path: String,
      codec: PostingsCodec): DataFrame =
    PostingsManifest.readClean(spark, path) match {
      case Some(st) =>
        org.apache.spark.sql.GraftColumnBridge.parquetOverFileIndex(spark,
          new graft.plans.PostingsFileIndex(path, st),
          codec.dataSchema(st.params.gp.nonEmpty))
      case None =>
        spark.catalog.refreshByPath(path)
        val raw = spark.read.parquet(path)
        codec.requireCarriedBy(raw.schema, path)
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
      PostingsCodec.Float.dataSchema(hasGp).fields)
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
    * Same lease, born-with-a-manifest and staged-install discipline as
    * the classic build; the sidecar is an [[ArtifactManifest]] (family
    * `ivf_postings_packed`) carrying cells/cap/ck/gp/cellsPerPack, so
    * packed serving never opens a footer for params and never lists a
    * directory. */
  def saveIvfPostingsPacked(postings: DataFrame, path: String,
      cellsPerPack: Int = 128): Unit = {
    val spark = postings.sparkSession
    require(cellsPerPack > 0, s"cellsPerPack=$cellsPerPack")
    PostingsCodec.requireFloatFrame(postings, "the packed layout")
    val CoarseQuantizer.Params(cells, cap, ck, gp) = postingsParams(postings)
    val packs = (cells + cellsPerPack - 1) / cellsPerPack
    MaintenanceProtocol.withLease(spark, path, "build_packed") {
      WarehouseWriter.overwriteParquetAtomic(spark, path) { tmp =>
        postings
          .withColumn("pack", (col("cell") / cellsPerPack).cast("int"))
          .repartition(packs, col("pack"))
          .sortWithinPartitions("pack", "cell", "d2", "cand_id")
          .write.partitionBy("pack").parquet(tmp)
        // one listing + one footer read at build time (the one moment an
        // O(artifact) pass is already paid — and the artifact is only
        // ~packs files here)
        val params = Map(
          "cells" -> cells.toString, "cap" -> cap.toString,
          "ck" -> ck.toString, "cpp" -> cellsPerPack.toString) ++
          gp.map(g => "gp" -> g.toString)
        ArtifactManifest.write(spark, tmp, ArtifactManifest.rebuild(spark,
          tmp, PackedPostingsFamily, params))
      }
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

  /** Open a packed artifact: with a clean manifest the scan plans from
    * a [[graft.plans.ManifestFileIndex]] keyed by `pack` — zero
    * listings, pack-level partition pruning — with `cell` served from
    * the sorted data pages, and the params handed back from the
    * manifest (no footer/head job rides the serve path). The
    * discovering fallback still answers exactly (pack is a discovered
    * partition column); it plans from a listing and its caller derives
    * params from the data. The params come back with the cells-per-pack
    * count, as the manifest carries them. Heals a build that crashed
    * inside its swap first, as [[readPostings]] does. */
  private def readPackedPostingsWithCpp(spark: SparkSession,
      path: String): (DataFrame, Option[(CoarseQuantizer.Params, Int)]) = {
    WarehouseWriter.recoverSwap(spark, path)
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
          Some((CoarseQuantizer.Params(st.params("cells").toInt,
            st.params("cap").toInt, st.params("ck").toLong,
            st.params.get("gp").map(_.toInt)), st.params("cpp").toInt)))
      case None =>
        ArtifactManifest.requireFamilyOrUnknown(spark, path,
          PackedPostingsFamily)
        spark.catalog.refreshByPath(path)
        (spark.read.parquet(path), None)
    }
  }

  def readPackedPostings(spark: SparkSession, path: String): DataFrame =
    readPackedPostingsWithCpp(spark, path)._1

  /** Persist an [[ivfPostings]] frame as a self-contained artifact,
    * under the codec it was built with: a `Pq` frame must carry these
    * codebooks' checksum (fail-fast), and its codebooks + encoding law
    * land in the `_pq_codebooks` sidecar, so the artifact serves and
    * appends from its path alone. Data, sidecar and manifest land in the
    * swap stage and install together
    * ([[WarehouseWriter.overwriteParquetAtomic]]): a build that fails —
    * an empty frame fails at its manifest, which needs files — or
    * crashes leaves the previous artifact serving. */
  def saveIvfPostings(postings: DataFrame, path: String,
      codec: PostingsCodec = PostingsCodec.Float): Unit = {
    val spark = postings.sparkSession
    // The lease is a SIBLING file, so it survives the install — a
    // rebuild of a live artifact fails fast against a concurrent
    // maintainer instead of replacing the files under it.
    MaintenanceProtocol.withLease(spark, path, "build") {
      codec.requireCarriedBy(postings.schema, "the postings frame")
      val pq = Some(codec).collect { case c: PostingsCodec.Pq => c }
      pq.foreach(_.requireOwnCodes(postings, "the postings frame"))
      // the params the writer stamped: they bound the write's task
      // count by the file count, and the manifest records them
      // without reading a part-file back
      val params = planParams(postings)
      WarehouseWriter.overwriteParquetAtomic(spark, path) { tmp =>
        byCellPinned(postings, params.fold(Int.MaxValue)(_.cells))
          .write.partitionBy("cell").parquet(tmp)
        pq.foreach(PostingsCodec.save(spark, tmp, _))
        // Born with a manifest: one listing + driver-side footer row
        // counts at build time buys every later append/compact/serve
        // its zero-listing path. Build is the one moment an O(artifact)
        // metadata pass is already being paid — the write itself
        // created exactly these files.
        timed("save_manifest")(
          PostingsManifest.rebuildAndWrite(spark, tmp, params))
      }
    }
  }

  /** The recap: vacuum tombstones at least one full maintenance epoch
    * old (the SAME window law as [[vacuumPostings]] at its default —
    * the previous op's own tombstones, age 0, stay on disk so a
    * snapshot opened before that op serves through THIS one too), fold
    * old∪delta per touched cell (the union–dedup–cap of
    * [[appendToIvfPostings]]), stage the result as new files, and swap
    * the manifest with the touched cells' old live entries RETIRED. The
    * old side and the delta are both ∝ touched cells, never ∝ the
    * artifact: the old side is read through the manifest-planned
    * [[graft.plans.PostingsFileIndex]] restricted to the touched cells'
    * LIVE files — zero listings, and retired files are never re-read (a
    * directory read would double-count them).
    *
    * The manifest is re-read INSIDE the lease: the caller's pre-lease
    * read only chose the route, and rolling forward from that snapshot
    * would silently drop the commit of any writer that ran between the
    * probe and the lease — the stale-roll-forward seam the lease
    * exists to close. */
  private def recapRetained(spark: SparkSession, path: String,
      delta0: DataFrame, cap: Int, codec: PostingsCodec): Unit =
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
            codec.dataSchema(st.params.gp.nonEmpty))
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

  /** What [[appendIvfPostings]] did and why — returned for
    * observability (Auto's flip is an economics call an operator will
    * want in logs). Only `Auto` probes the batch; the fixed modes
    * report their route with `batchRows`/`touchedRows` at -1 and
    * `ratio` NaN. */
  case class AppendRoute(route: String, batchRows: Long,
      touchedRows: Long, ratio: Double)

  /** How [[appendIvfPostings]] rolls a postings directory forward. */
  sealed trait MaintenanceMode

  object MaintenanceMode {
    /** Recap the touched cells — the hot-cell cap re-applied over
      * old ∪ new — landed as NEW uniquely-named files with the
      * superseded ones RETIRED in the manifest, so a [[readPostings]]
      * snapshot opened before the append keeps serving its own state
      * THROUGH it, and each cell keeps ONE live file append after
      * append. Tombstones survive at least one full maintenance epoch
      * (the next retained op vacuums only older ones — the
      * [[vacuumPostings]] window law); plain discovering reads
      * double-count during the window. A manifest-less or dirty
      * artifact is adopted first ([[compactIvfPostingsRetained]]). */
    case object Retained extends MaintenanceMode

    /** APPEND the batch into the touched cells' directories, no recap
      * and no rewrite of existing rows: per-call cost ∝ batch alone, at
      * the price of deferred maintenance settled by
      * [[compactIvfPostingsRetained]] — one more file per touched cell
      * per call, a SUPERSET served between compactions (the cap is
      * re-applied over old ∪ new at compaction; recall never drops), and
      * a crash-REPLAYED batch double-appends until compaction dedups it,
      * so under at-least-once delivery compact before serving. */
    case object Fragment extends MaintenanceMode

    /** The recap↔fragment REGIME LAW as API (the q76 auto-router pattern
      * applied to maintenance). The r14 A/B (SURVEY §6.1) pinned it:
      * recap cost is ∝ the TOUCHED CELLS' FULL POPULATIONS, fragment
      * cost ∝ the BATCH, so the observable that decides is
      *
      *   ratio = Σ touched cells' current rows / batch rows
      *
      * Measured: ratio ≈ 3 → recap wins (fixture/sf1 postures, 0.85×);
      * ratio ≈ 7–8 → fragment wins 1.35–1.87× (sf10 postures).
      * `fragmentThreshold` defaults into the measured gap (4). The
      * probe costs ONE extra O(batch) pass (a groupBy-count of the
      * delta's home cells); the manifest's per-cell rows make the
      * touched populations free. The recap leg is `Retained` — the r15
      * A/B measured the retained recap 1.9× FASTER than the overwrite
      * recap (SURVEY §6.1) — and a manifest-less or dirty artifact is
      * adopted first, as for `Retained`. Both legs land the same logical
      * artifact (spec-pinned: either path + compaction ≡ rebuild). */
    final case class Auto(fragmentThreshold: Double = 4.0)
        extends MaintenanceMode
  }

  /** Roll a cell-partitioned postings DIRECTORY ([[saveIvfPostings]])
    * forward for newly arrived vectors: the batch is home-assigned
    * against the FROZEN centroids — the quantizer must be the
    * artifact's own, cells and assignment law
    * ([[CoarseQuantizer.requireAppendLaw]]) — stamped with the
    * artifact's params (its cap, not the batch's), and landed by
    * `mode`. Every recap re-applies the hot-cell cap over old ∪ new
    * WITHIN TOUCHED CELLS ONLY, so a closer newcomer evicts exactly as
    * a from-scratch build would, and dedups on (cell, cand_id), so a
    * crash-replayed batch converges. Read side and write side are both
    * ∝ touched cells (params from the manifest or one part-file, old
    * rows from the touched cells only). The batch is encoded under the
    * artifact's own codec ([[PostingsCodec.at]]: a PQ artifact's
    * codebooks and encoding law come from its sidecar). Spec-pinned:
    * every mode (+ compaction for `Fragment`) ≡ the [[ivfPostings]]
    * rebuild over the union, under either quantizer and either codec. */
  def appendIvfPostings(spark: SparkSession, path: String,
      q: CoarseQuantizer, newEmb: DataFrame,
      mode: MaintenanceMode): AppendRoute = {
    val state0 =
      if (mode == MaintenanceMode.Fragment)
        PostingsManifest.readClean(spark, path)
      else Some(adoptedState(spark, path))
    val codec = PostingsCodec.at(spark, path)
    val p = state0.map(_.params)
      .getOrElse(paramsFromFooter(spark, path, codec))
    q.requireAppendLaw(p)
    val delta = codec.stamp(CoarseQuantizer.stamp(
      codec.payload(q.home(prepared(newEmb)), q), p))
    def fixed(route: String) = AppendRoute(route, -1L, -1L, Double.NaN)
    mode match {
      case MaintenanceMode.Fragment =>
        appendFragmentFiles(spark, path, delta)
        fixed("fragment")
      case MaintenanceMode.Retained =>
        recapRetained(spark, path, delta, p.cap, codec)
        fixed("recap_retained")
      case MaintenanceMode.Auto(threshold) =>
        routeAppend(spark, path, delta, p.cap, state0.get, threshold, codec)
    }
  }

  /** The clean manifest a recap rolls forward from. A manifest-less or
    * dirty artifact is ADOPTED first: [[compactIvfPostingsRetained]]
    * rebuilds its manifest from directory truth and folds every cell
    * that truth holds more than once, so no resurrected tombstone or
    * half-staged file is ever committed as live. */
  private def adoptedState(spark: SparkSession,
      path: String): PostingsManifest.State =
    PostingsManifest.readClean(spark, path).getOrElse {
      compactIvfPostingsRetained(spark, path)
      PostingsManifest.readClean(spark, path).getOrElse(
        throw new IllegalStateException(s"manifest at $path is untrusted " +
          "right after its adoption (a concurrent writer crashed mid-op?)"))
    }

  /** [[appendIvfPostings]] under `Flat(cents)` in `Auto` mode, for
    * callers holding a raw centroid matrix. */
  def appendIvfPostingsAuto(spark: SparkSession, path: String,
      cents: Array[Array[Double]], newEmb: DataFrame,
      fragmentThreshold: Double = 4.0): AppendRoute =
    appendIvfPostings(spark, path, CoarseQuantizer.Flat(cents), newEmb,
      MaintenanceMode.Auto(fragmentThreshold))

  /** `Auto`'s probe-and-dispatch: one O(batch) pass over the
    * home-assigned delta yields (touched cells, batch rows); touched
    * populations come free from the manifest. The chosen route re-runs
    * the delta's assignment plan — deterministic, O(batch) arithmetic,
    * the same cost class the routes pay anyway. */
  private def routeAppend(spark: SparkSession, path: String,
      delta: DataFrame, cap: Int, st: PostingsManifest.State,
      fragmentThreshold: Double, codec: PostingsCodec): AppendRoute = {
    import spark.implicits._
    val perCellBatch = timed("route_probe")(
      delta.groupBy(col("cell").cast("int").as("cell")).count()
        .as[(Int, Long)].collect())
    val batchRows = perCellBatch.map(_._2).sum
    val pop = st.perCellRows
    val touchedRows = perCellBatch.map { case (c, _) => pop.getOrElse(c, 0L) }.sum
    val ratio =
      if (batchRows == 0) 0.0 else touchedRows.toDouble / batchRows
    if (ratio >= fragmentThreshold) {
      appendFragmentFiles(spark, path, delta)
      AppendRoute("fragment", batchRows, touchedRows, ratio)
    } else {
      recapRetained(spark, path, delta, cap, codec)
      AppendRoute("recap_retained", batchRows, touchedRows, ratio)
    }
  }

  /** Cell-partition-aware compaction of a [[saveIvfPostings]]
    * directory between serving epochs: [[compactIvfPostingsRetained]],
    * then a [[vacuumPostings]] of every tombstone, so the directory
    * itself is back to one file per cell. Fragment-appends + compact
    * land the exact from-scratch-rebuild rows (spec-pinned), and clean
    * cells are not rewritten. A snapshot opened before it may lose
    * files it planned; [[compactIvfPostingsRetained]] alone is the
    * compact-WHILE-serve form. Returns (fragmented cells folded, files
    * before, files after). */
  def compactIvfPostings(spark: SparkSession, path: String): (Int, Int, Int) = {
    val folded = compactIvfPostingsRetained(spark, path)
    vacuumPostings(spark, path, 0L)
    folded
  }

  /** COMPACT-WHILE-SERVE, the one postings fold — a reader that opened
    * [[readPostings]] BEFORE this compaction keeps serving correctly
    * THROUGH it, because nothing that snapshot references is deleted:
    *
    *  1. vacuum files a retained op from an EARLIER maintenance epoch
    *     marked retired (their window — at least one full epoch, the
    *     same law as [[vacuumPostings]]'s default — ends here; the
    *     newest epoch's tombstones stay for its in-flight snapshots);
    *  2. fold every FRAGMENTED cell (more than one live file, or over
    *     cap after fragment appends) back to one file: dedup replayed
    *     rows on (cell, cand_id) and re-apply the hot-cell cap over the
    *     accumulated union, landing the compacted files as NEW
    *     uniquely-named files next to the ones they replace
    *     ([[stageIntoCells]]); clean cells are NOT rewritten — at 10⁴
    *     cells and dozens touched, the write is ∝ fragmented cells;
    *  3. swap the manifest: compacted entries live, superseded
    *     fragments RETIRED (on disk, invisible to new
    *     [[readPostings]] snapshots — the Delta tombstone move).
    *
    * With a clean [[PostingsManifest]] the whole detection phase is one
    * small read — no artifact listing, no per-cell listStatus, no
    * footer-count job (the O(files) terms that made the r14
    * trickle-posture compaction 183 s over 68 k files) — and only the
    * fragmented cells' files are ever opened. A manifest-less or dirty
    * artifact is ADOPTED: its manifest is rebuilt in memory from
    * directory truth, where tombstones and half-staged files are live
    * entries that leave their cells multi-file, so step 2 folds them
    * too; the dirty flag stays set until the folded manifest commits.
    * Resurrected retired rows are ABSORBED — they are exact
    * (cell, cand_id) duplicates or capped-out rows of the live state
    * (cap-over-union is idempotent; spec-pinned).
    *
    * New snapshots opened after the swap see exactly the compacted
    * artifact; old snapshots keep their files for at least one full
    * maintenance epoch (vacuumed by the first retained op of a LATER
    * epoch, or by [[vacuumPostings]]). The costs, stated: the directory
    * temporarily holds old+new files (bytes, not correctness), and a
    * PLAIN `spark.read.parquet(dir)` during the retention window
    * double-reads the superseded fragments — read through
    * [[readPostings]]. Heals a build that crashed inside its swap
    * first. This is also not [[WarehouseWriter.compactParquet]]: that
    * one folds FLAT directories and would flatten the partition layout
    * serving prunes on. Returns (fragmented cells folded, live files
    * before, live after). */
  def compactIvfPostingsRetained(spark: SparkSession,
      path: String): (Int, Int, Int) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    MaintenanceProtocol.withLease(spark, path, "compact_retained") {
      WarehouseWriter.recoverSwap(spark, path)
      ManifestLog.sweepStaleDeltas(spark, path)
      val st0 = PostingsManifest.readClean(spark, path)
        .getOrElse(PostingsManifest.rebuild(spark, path))
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
      // a single fragment can overfill an EMPTY cell past the cap —
      // file count alone can't see it; the manifest's physical row
      // counts (replay dups included) can
      val fragmented = pcFiles.filter(_._2 > 1).keySet ++
        (if (cap == Int.MaxValue) Set.empty[Int]
         else st.perCellRows.filter(_._2 > cap).keySet)
      val next =
        if (fragmented.isEmpty) st
        else {
          val frag = org.apache.spark.sql.GraftColumnBridge
            .parquetOverFileIndex(spark,
              new graft.plans.PostingsFileIndex(path,
                st.copy(files = st.files.filter(f => fragmented(f.cell)))),
              PostingsCodec.at(spark, path)
                .dataSchema(st.params.gp.nonEmpty))
          // single-pass fold: consumed once by the staged write;
          // per-cell rows ride the landed footers (stageIntoCells)
          st.retiringCells(fragmented, stageIntoCells(spark, path,
            capFold(frag, cap, fragmented.size)))
        }
      PostingsManifest.write(spark, path, next)
      MaintenanceProtocol.clearDirty(spark, path)
      logRetiredDebt(path, next)
      (fragmented.size, filesBefore,
        filesBefore - fragmented.toSeq.map(pcFiles).sum + fragmented.size)
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
            PostingsCodec.at(spark, path).dataSchema(st.params.gp.nonEmpty))
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

  /** Where [[ivfTopKFromPostings]] reads its candidates from — and so
    * whether it prunes the artifact scan to the probed cells. */
  sealed trait PostingsSource

  object PostingsSource {
    /** A postings frame (built in memory, or any read of an artifact),
      * scanned whole; params come from its head row. */
    final case class Frame(postings: DataFrame) extends PostingsSource

    /** A [[saveIvfPostings]] directory: opened through [[readPostings]]
      * (manifest-planned when clean) and pruned to the probed cells. */
    final case class Classic(path: String) extends PostingsSource

    /** A [[saveIvfPostingsPacked]] directory: pruned twice — as a
      * pack-IN partition filter (manifest FileIndex prune, reads only
      * probed packs' FILES) and as the cell-IN data filter (sorted
      * row-group prune inside each pack). The packed trade: ≤
      * `cellsPerPack` read amplification per probed cell against a
      * ~cells/cellsPerPack smaller file count everywhere else. */
    final case class Packed(path: String) extends PostingsSource
  }

  /** Serve top-k for a QUERY set from persisted postings: queries
    * assign to their `probes` nearest cells through the quantizer's
    * kernel (broadcast centroids — query-side work only: one codegen
    * scan per query, no queries×cells expansion), candidates come from
    * the artifact. The corpus is never re-assigned, never re-normed:
    * steady-state serving cost is ∝ queries × probed-cell populations.
    * Queries matching a posting's cand_id are self-excluded (same
    * contract as the other top-k paths). The quantizer must carry the
    * artifact's own cells ([[CoarseQuantizer.requireServes]]); a
    * `TwoLevel` probe of an artifact built by either law is a
    * query-time recall knob — with `groupProbes >= numGroups` it is
    * identical to the `Flat` probe (spec-pinned).
    *
    * A path source ([[PostingsSource.Classic]]/[[PostingsSource.Packed]])
    * is the bounded-query, low-latency path: the probed-cell set is
    * computed driver-side (one collect of ≤ queries×probes ints) and
    * pushed as an IN filter on the artifact's partition column, so the
    * scan reads ONLY probed cells' files — serving I/O ∝ queries, not
    * ∝ corpus (§6.2's serving sweep measured the full scan dominating
    * the wall at 4096–16 384 cells). Output is exactly the unpruned
    * route's (spec-pinned): unprobed cells can never join a query row.
    * `queryEmb` must then be DETERMINISTIC under re-evaluation: its
    * plan runs twice (probe-set collect, then the lazy serve plan), and
    * a sampled/`rand`/unordered-`limit`-derived query frame can assign
    * to cells OUTSIDE the collected probe set on the second pass and
    * silently lose results — materialize such a frame first. (A shared
    * localCheckpoint would pin executor storage for the life of the
    * returned lazy plan with no safe unpersist point.)
    *
    * A PQ artifact ([[PostingsCodec.Pq]], served from `Classic(path)`
    * only) ranks its candidates by asymmetric distance against the
    * STORED codes — one lookup table per (query, probed cell) under the
    * residual law, codebooks and law from the artifact's sidecar, a
    * foreign `pq_ck` in the probed files fails fast — and returns
    * `(vec_id, neighbor_id, ad2, rn)`: the `k`-deep ADC preselect that
    * [[rerankExactL2]] re-ranks against the float corpus (the IVFADC
    * two-stage serve; q91 composes it). */
  def ivfTopKFromPostings(queryEmb: DataFrame, q: CoarseQuantizer,
      source: PostingsSource, probes: Int, k: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    import spark.implicits._
    val (postings, params, packCpp, codec) = source match {
      case PostingsSource.Frame(df) =>
        PostingsCodec.requireFloatFrame(df, "a PostingsSource.Frame serve")
        (df, postingsParams(df), None, PostingsCodec.Float)
      case PostingsSource.Classic(path) =>
        val codec = healedCodec(spark, path)
        (openPostings(spark, path, codec),
          postingsParamsAtPath(spark, path, codec), None, codec)
      case PostingsSource.Packed(path) =>
        // manifest-clean: params ride the sidecar, zero data-page jobs
        // on the serve path; the fallback derives them from the data
        readPackedPostingsWithCpp(spark, path) match {
          case (df, Some((p, cpp))) => (df, p, Some(cpp), PostingsCodec.Float)
          case (df, None) => (df, postingsParams(df), None, PostingsCodec.Float)
        }
    }
    q.requireServes(params)
    val queries = q.probe(prepared(queryEmb), probes)
    val candidates = source match {
      case PostingsSource.Frame(_) => postings
      case _ =>
        val probed = queries.select($"cell").distinct().as[Int].collect().toSeq
        val byCell = postings.filter($"cell".isin(probed: _*))
        packCpp.fold(byCell)(cpp =>
          byCell.filter($"pack".isin(probed.map(_ / cpp).distinct: _*)))
    }
    codec match {
      case PostingsCodec.Float => serveQueriesOverPostings(queries, candidates, k)
      case pq: PostingsCodec.Pq =>
        pq.requireOwnCodes(candidates, "the PQ postings")
        // each candidate lives under ONE home cell and a query probes
        // distinct cells, so a (query, candidate) pair meets once
        adcTopK(pq.probeLuts(queries, q)
          .join(candidates.select($"cell", $"cand_id", $"codes"), Seq("cell"))
          .filter($"vec_id" =!= $"cand_id"), pq, "vec_id", "cand_id", k)
    }
  }

  /** [[ivfTopKFromPostings]] under `Flat(cents)` over a postings frame,
    * for callers holding a raw centroid matrix. */
  def ivfTopKFromPostingsWithCentroids(queryEmb: DataFrame,
      cents: Array[Array[Double]], postings: DataFrame, probes: Int,
      k: Int): DataFrame =
    ivfTopKFromPostings(queryEmb, CoarseQuantizer.Flat(cents),
      PostingsSource.Frame(postings), probes, k)

  /** The candidate join + top-k every postings-served route shares:
    * `queries` is (cell, vec_id, v, nrm) — one row per probed cell per
    * query — candidates come from the artifact. */
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
  // (m×k×dsub doubles) broadcast to the codegen kernels once per codebook
  // identity ([[PostingsCodec.Pq.broadcast]]). The persisted IVF+PQ index
  // is the postings artifact under [[PostingsCodec.Pq]]: [[ivfPostings]]
  // / [[saveIvfPostings]] build it, [[appendIvfPostings]] and the
  // compactions maintain it, [[ivfTopKFromPostings]] + [[rerankExactL2]]
  // serve it.

  /** The vectors a codebook fit quantizes, `(vec_id, v)` over a
    * [[prepared]] frame: the raw vectors, or under `residual = Some(q)`
    * the residuals `v − centroid(home cell)` — home assignment through
    * the quantizer's kernel (d2 and tie-breaks bit-equal to the
    * window-ranked form and the SQL oracle; PqSpec-pinned), the subtract
    * the same ascending `zip_with` the codec encodes with. */
  private def trainingVectors(corpus: DataFrame,
      residual: Option[CoarseQuantizer]): DataFrame =
    residual.fold(corpus.select(col("vec_id"), col("v")))(q =>
      PostingsCodec.withCentroid(q.home(corpus), q)
        .select(col("cand_id").as("vec_id"),
          PostingsCodec.residualOf(col("cv"), col("centroid")).as("v")))

  /** Oracle-twin PQ codebooks: subspace `s`'s codeword `c` = the s-th
    * dsub-slice of the c-th corpus vector (vec_id ascending) — plain
    * SQL both sides, exactly the q34 fixed-centroid stance (the trained
    * path is [[fitPqCodebooks]], spec-verified for reconstruction
    * error). Under `residual = Some(q)` the slices are of the first k
    * vectors' RESIDUALS against their home cells under `q` — the space
    * the IVFADC composition quantizes. Driver-side collect of k
    * vectors — bounded index metadata. */
  def pqCodebooksFromHead(emb: DataFrame, m: Int, k: Int,
      residual: Option[CoarseQuantizer] = None):
      graft.expressions.PqCodebookSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    val head = trainingVectors(prepared(emb).orderBy($"vec_id").limit(k),
      residual).orderBy($"vec_id")
      .select($"v").as[Seq[Double]].collect().map(_.toArray)
    require(head.length == k,
      s"corpus has only ${head.length} < k=$k assignable rows")
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
    * GLOBALLY ordered before collect. `residual = Some(q)` fits the
    * residuals `v − centroid(home cell)` instead — what a production
    * IVF+PQ build fits (FAISS `IndexIVFPQ.train`). */
  def fitPqCodebooks(emb: DataFrame, m: Int, k: Int, iters: Int = 10,
      seed: Long = 42L, trainFraction: Double = 1.0,
      sampleCap: Int = 65536, residual: Option[CoarseQuantizer] = None):
      graft.expressions.PqCodebookSet = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(iters >= 1, s"iters=$iters")
    val base =
      if (trainFraction >= 1.0) prepared(emb)
      else prepared(emb).filter(
        pmod(xxhash64($"vec_id", lit(seed)), lit(1000000L))
          < lit((trainFraction * 1000000L).toLong))
    val sampled = trainingVectors(base, residual)
      .orderBy($"vec_id").limit(sampleCap)
      .select($"v").as[Seq[Double]].collect().map(_.toArray)
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
    val pq = PostingsCodec.Pq(cs, residual = false)
    prepared(emb).select($"vec_id", $"label",
      pq.encode(spark, $"v").as("codes"), lit(cs.checksum).as("pq_ck"))
  }

  /** The ADC-scored candidate tail every PQ serve ends in: `pairs`
    * carry a lookup table `lut` and a code array `codes` per (qCol,
    * cCol) pair. Ranking and output both use the 4-dp-rounded ADC
    * distance (ascending, candidate-id tie-break) so cross-engine float
    * differences cannot flip near-tie neighbors — the
    * [[graft.functions.VectorOps.roundedSim]] stance. The heap ranks
    * the NEGATED distance: all-zero distances negate to a uniform -0.0,
    * so it never compares mixed zero signs. Output
    * `(vec_id, neighbor_id, ad2, rn)`. */
  private def adcTopK(pairs: DataFrame, pq: PostingsCodec.Pq, qCol: String,
      cCol: String, k: Int): DataFrame =
    topKPerQuery(pairs.select(col(qCol), col(cCol),
        (-(round(pq.adc(col("lut"), col("codes")), 4) + lit(0.0))).as("sim")),
        qCol, cCol, k)
      .select(col(qCol).as("vec_id"), col("neighbor_id"),
        ((-col("sim")) + lit(0.0)).as("ad2"), col("rn"))

  /** ADC top-k from an already-encoded code relation (the serve path a
    * deployment runs per query batch — the corpus is encoded ONCE, this
    * never touches a corpus vector): queries compute their m×k lookup
    * table in one scan, the broadcast query block fans across the code
    * relation, and each pair costs m lookups ([[adcTopK]]). Fails fast
    * on a code relation carrying a foreign codebook checksum. */
  def pqTopKFromCodes(codes: DataFrame, queries: DataFrame,
      cs: graft.expressions.PqCodebookSet, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val pq = PostingsCodec.Pq(cs, residual = false)
    pq.requireOwnCodes(codes, "the code relation")
    val q = queries.select($"vec_id".as("query_id"),
      pq.lut(spark, asDouble($"embedding")).as("lut"))
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
    adcTopK(corpus.join(broadcast(q), $"vec_id" =!= $"query_id"), pq,
      "query_id", "vec_id", k)
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
    * [[rerankExactL2]] ranks ONLY those against the full vectors.
    * Within-cell ADC ties (all members of one quantization region
    * score identically) stop mattering: the re-rank restores exact
    * order, so recall is governed by `fetch`, not by tie-break luck. */
  def pqTopKRerank(emb: DataFrame, queryPred: Column,
      cs: graft.expressions.PqCodebookSet, k: Int, fetch: Int): DataFrame = {
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    rerankExactL2(emb, emb.filter(queryPred),
      pqTopKAdc(emb, queryPred, cs, fetch), k)
  }

  /** Exact-L2 re-rank of a preselected pair list — the second stage of
    * every two-stage PQ serve ([[pqTopKRerank]],
    * [[ivfPqTopKWithCentroids]], and [[ivfTopKFromPostings]] over a PQ
    * artifact). `pre` is any top-k output `(vec_id, neighbor_id, …)`
    * for the queries in `queryEmb`; only those pairs join back to the
    * full-vector `corpus`, ranked on the 4-dp-rounded squared distance
    * ascending (neighbor-id tie-break). Output
    * `(vec_id, neighbor_id, d2, rn)`. The float vectors are touched
    * ∝ |pre|, never ∝ corpus — at scale the query block broadcasts and
    * the corpus side is a pushed-down point-lookup scan. */
  def rerankExactL2(corpus: DataFrame, queryEmb: DataFrame, pre: DataFrame,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vectors = prepared(corpus)
      .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
    val queries = prepared(queryEmb)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val pairs = pre.select($"vec_id".as("query_id"), $"neighbor_id")
      .join(broadcast(queries), Seq("query_id"))
      .join(vectors, Seq("neighbor_id"))
      .withColumn("d2r",
        round($"qn" * $"qn" + $"cn" * $"cn" - lit(2.0) * dot($"qv", $"cv"), 4)
          + lit(0.0))
      .select($"query_id", $"neighbor_id".as("cand"), (-$"d2r").as("sim"))
    topKPerQuery(pairs, "query_id", "cand", k)
      .select($"query_id".as("vec_id"), $"neighbor_id",
        ((-$"sim") + lit(0.0)).as("d2"), $"rn")
  }

  /** IVF+PQ serve in the WINDOW-RANKED form — the oracle-expressible
    * reference of the IVFADC composition (the q34/q90 stance, as
    * [[ivfTopKWithCentroids]] is for the float postings): the coarse
    * quantizer prunes WHICH candidates are scored (a query meets only
    * its `probes` nearest cells' members, hot cells capped), PQ
    * compresses WHAT the index side carries (`(cell, cand_id, codes)`),
    * ADC ranks the pruned candidates to `fetch` depth ([[adcTopK]]),
    * and [[rerankExactL2]] re-ranks exactly against the full vectors.
    * Fixed `centroids` make the whole route SQL-expressible; the
    * deployable form is the persisted artifact under
    * [[PostingsCodec.Pq]] (spec-pinned equal to this at the same
    * geometry).
    *
    * `residual = true` (default) is the published IVFADC form: the
    * index side PQ-encodes `v − centroid(cell)` and each (query,
    * probed cell) pair builds its lookup table against
    * `q − centroid(cell)` — pass codebooks fitted on residuals
    * ([[fitPqCodebooks]] / [[pqCodebooksFromHead]] with `residual`).
    * `residual = false` keeps the raw-vector form (one LUT per query)
    * for A/B. */
  def ivfPqTopKWithCentroids(emb: DataFrame, queryPred: Column,
      centroids: DataFrame, cs: graft.expressions.PqCodebookSet,
      probes: Int, k: Int, fetch: Int,
      cellCap: Int = Int.MaxValue, residual: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    val pq = PostingsCodec.Pq(cs, residual)
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
    // index side: home cell, capped, ENCODED — the float vector is
    // dropped here and never carried again until the re-rank
    val byCell = Window.partitionBy($"cell").orderBy($"d2".asc, $"vec_id".asc)
    val indexed = ranked.filter($"cr" === 1)
      .withColumn("cellRank", row_number().over(byCell))
      .filter($"cellRank" <= cellCap)
      .select($"cell", $"vec_id".as("cand_id"),
        pq.encode(spark, pq.input($"v", $"centroid")).as("codes"))
    // query side: probed cells + an ADC lookup table per query (per
    // probed CELL under residual encoding)
    val queries = ranked.filter($"cr" <= probes && queryPred)
      .select($"cell", $"vec_id",
        pq.lut(spark, pq.input($"v", $"centroid")).as("lut"))
    val pre = adcTopK(queries.join(indexed, Seq("cell"))
      .filter($"vec_id" =!= $"cand_id"), pq, "vec_id", "cand_id", fetch)
    rerankExactL2(emb, emb.filter(queryPred), pre, k)
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
    val pq = PostingsCodec.Pq(cs, residual = false)
    prepared(emb)
      .select(pq.adc(pq.lut(spark, $"v"), pq.encode(spark, $"v")).as("e"))
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
    * geometry (the SURVEY §6.2 codebook grid; PqSpec pins residual ≥
    * raw on the clustered fixture). */
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
}
