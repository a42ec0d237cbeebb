package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.{IvfAssignKernel, IvfGroupedCentroidSet,
  IvfNearestCells, IvfNearestCellsTwoLevel}

/** The IVF coarse quantizer as one value — what every build, append and
  * serve of the IVF families varies over. It owns four things, once:
  *
  *  - the HOME assignment (element 0 of the kernel scan: the cell a
  *    vector is indexed under, with its stored d2);
  *  - the PROBE assignment (the `probes` nearest cells a query scans);
  *  - the artifact IDENTITY it stamps and is checked against —
  *    `iv_cells`, the order-insensitive centroid checksum `iv_ck`, and
  *    for a two-level build the `iv_gp` that pins its assignment law;
  *  - the one VALIDATION against an artifact's embedded params
  *    ([[requireServes]] for a serve, [[requireAppendLaw]] for an
  *    append).
  *
  * Both cases assign through a codegen kernel over a cluster broadcast
  * of their centroid payload, and the broadcast is made once per (live
  * context, payload identity) — see [[broadcast]].
  *
  * `Flat` scans every cell ([[graft.expressions.IvfNearestCells]]);
  * `TwoLevel` scans the `groupProbes` nearest groups' member cells only
  * ([[graft.expressions.IvfNearestCellsTwoLevel]] — O(groups + probed
  * members) per row, the 2¹⁴⁺-cells posture). With
  * `groupProbes >= numGroups` the two-level scan is bit-equal to the
  * flat one (SimilaritySpec-pinned), which is what the append law below
  * relies on. */
sealed trait CoarseQuantizer {
  import CoarseQuantizer.Params

  /** The flat cell centroids (cell id = row index). */
  def cents: Array[Array[Double]]

  def numCells: Int = cents.length

  /** The checksum a postings artifact embeds as its model identity. */
  lazy val checksum: Long = CoarseQuantizer.checksumOf(cents)

  /** The `iv_gp` a build under this quantizer embeds (its assignment
    * law), None for the exact flat scan. */
  def buildGp: Option[Int]

  /** The kernel column: the `m` nearest cells of `(v, nrm)` as
    * `array<struct<cell, d2>>`, (d2, cell) ordered; null for a
    * non-assignable vector (dim mismatch / null element). */
  def nearest(spark: SparkSession, v: Column, nrm: Column, m: Int): Column

  /** The centroid payload's cluster broadcast — one per (live context,
    * payload identity), so every build, append, micro-batch and serve
    * over the same centroids shares it. */
  def broadcast(spark: SparkSession): Broadcast[_]

  /** Home assignment of a [[Similarity.prepared]] frame:
    * `(cell, cand_id, cv, cn, d2)`, non-assignable vectors dropped (the
    * artifact never carries a null-cell row). */
  def home(corpus: DataFrame): DataFrame = {
    val nc = nearest(corpus.sparkSession, col("v"), col("nrm"), 1)
    corpus.withColumn("nc", nc)
      .select(element_at(col("nc"), 1).getField("cell").as("cell"),
        col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cn"),
        element_at(col("nc"), 1).getField("d2").as("d2"))
      .filter(col("cell").isNotNull)
  }

  /** Probe assignment of [[Similarity.prepared]] queries:
    * `(vec_id, v, nrm, cell)`, one row per probed cell; non-assignable
    * queries yield no row. */
  def probe(queries: DataFrame, probes: Int): DataFrame =
    queries.withColumn("nc", nearest(queries.sparkSession, col("v"),
        col("nrm"), probes))
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(col("nc.cell")).as("cell"))

  /** The params a build under this quantizer with `cellCap` embeds. */
  def params(cellCap: Int): Params = Params(numCells, cellCap, checksum, buildGp)

  /** Serving needs the artifact's own cells: count and checksum. */
  def requireServes(p: Params): Unit =
    require(numCells == p.cells && checksum == p.ck,
      s"model centroids differ from the postings artifact's ($numCells " +
        s"cells vs ${p.cells}, checksum $checksum vs ${p.ck}) — use the " +
        "index's own saved centroids, or rebuild the postings")

  /** Appending needs the artifact's cells AND its assignment law, or
    * append ≡ rebuild breaks:
    *  - a two-level-built artifact (`iv_gp` = g) takes only
    *    `TwoLevel(_, g)`;
    *  - an exact-built artifact takes `Flat`, or a `TwoLevel` that
    *    probes every group (bit-equal to the flat scan). */
  def requireAppendLaw(p: Params): Unit
}

object CoarseQuantizer {

  /** The params embedded in a postings artifact. */
  type Params = PostingsManifest.Params
  val Params = PostingsManifest.Params

  /** Every cell scanned — the exact assignment law. */
  final case class Flat(cents: Array[Array[Double]]) extends CoarseQuantizer {
    def buildGp: Option[Int] = None

    private lazy val bcKey =
      ("flat", checksum, orderedHash(cents), numCells, dimOf(cents))

    def broadcast(spark: SparkSession): Broadcast[graft.expressions.IvfCentroidSet] =
      cachedBroadcast(spark.sparkContext, bcKey,
        IvfAssignKernel.centroidSet(cents))

    def nearest(spark: SparkSession, v: Column, nrm: Column, m: Int): Column =
      GraftColumnBridge.column(IvfNearestCells(broadcast(spark),
        GraftColumnBridge.expression(v), GraftColumnBridge.expression(nrm), m))

    def requireAppendLaw(p: Params): Unit = {
      requireServes(p)
      require(p.gp.isEmpty,
        s"artifact is two-level-built (iv_gp=${p.gp.mkString}): a flat " +
          "append would mix assignment laws — append with its TwoLevel")
    }
  }

  object Flat {
    def apply(model: KMeansModel): Flat = Flat(model.clusterCenters.map(_.toArray))
  }

  /** Cells grouped under group centroids; a vector scans only its
    * `groupProbes` nearest groups' member cells. */
  final case class TwoLevel(gcs: IvfGroupedCentroidSet, groupProbes: Int)
      extends CoarseQuantizer {
    def cents: Array[Array[Double]] = gcs.flat.cents
    def buildGp: Option[Int] = Some(groupProbes)

    /** Keyed by the whole payload: the flat cells AND the grouping (two
      * groupings of the same cells are different payloads). */
    private lazy val bcKey =
      ("two_level", checksum, orderedHash(cents), numCells, dimOf(cents),
        orderedHash(gcs.gCents),
        java.util.Arrays.deepHashCode(gcs.members.asInstanceOf[Array[AnyRef]]))

    def broadcast(spark: SparkSession): Broadcast[IvfGroupedCentroidSet] =
      cachedBroadcast(spark.sparkContext, bcKey, gcs)

    def nearest(spark: SparkSession, v: Column, nrm: Column, m: Int): Column =
      GraftColumnBridge.column(IvfNearestCellsTwoLevel(broadcast(spark),
        GraftColumnBridge.expression(v), GraftColumnBridge.expression(nrm), m,
        groupProbes))

    def requireAppendLaw(p: Params): Unit = {
      requireServes(p)
      p.gp match {
        case Some(gp) => require(gp == groupProbes,
          s"artifact was built with groupProbes=$gp, append asked " +
            s"$groupProbes — one assignment law per artifact life")
        case None => require(groupProbes >= gcs.numGroups,
          s"exact-built artifact (no iv_gp): a two-level append needs " +
            s"groupProbes >= numGroups (${gcs.numGroups}) to preserve " +
            "append≡rebuild")
      }
    }
  }

  /** Order-insensitive checksum of a centroid matrix — embedded in every
    * postings artifact so an append or serve with the WRONG centroids
    * fails fast instead of silently assigning against different cells
    * (the one corruption the cells-count check cannot see). */
  def checksumOf(cents: Array[Array[Double]]): Long =
    cents.map(c => java.util.Arrays.hashCode(c).toLong).sum

  /** Stamp the artifact params as the `iv_*` columns every postings
    * row carries (`iv_gp` only for a two-level law). */
  def stamp(df: DataFrame, p: Params): DataFrame = {
    val base = df
      .withColumn("iv_cells", lit(p.cells))
      .withColumn("iv_cap", lit(p.cap))
      .withColumn("iv_ck", lit(p.ck))
    p.gp.fold(base)(gp => base.withColumn("iv_gp", lit(gp)))
  }

  private def dimOf(cents: Array[Array[Double]]): Int =
    if (cents.isEmpty) 0 else cents(0).length

  /** Order-SENSITIVE companion of [[checksumOf]] for the broadcast key:
    * a permuted centroid matrix has the same checksum but different
    * cell ids, and must not share a broadcast. */
  private def orderedHash(m: Array[Array[Double]]): Int =
    java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])

  /** One broadcast per (live context, payload key): a fresh
    * `broadcast()` per call accumulates driver/executor blocks until
    * the GC-driven ContextCleaner happens to reclaim them. Weak context
    * keys let a stopped session's entries vanish with it. The PQ
    * codebooks ([[PostingsCodec.Pq.broadcast]]) share this cache. */
  private val bcCache =
    new java.util.WeakHashMap[SparkContext,
      scala.collection.mutable.Map[Any, Broadcast[_]]]()

  private[operators] def cachedBroadcast[T: scala.reflect.ClassTag](
      sc: SparkContext, key: Any, payload: => T): Broadcast[T] =
    bcCache.synchronized {
      val perCtx = Option(bcCache.get(sc)).getOrElse {
        val m = scala.collection.mutable.Map.empty[Any, Broadcast[_]]
        bcCache.put(sc, m)
        m
      }
      perCtx.getOrElseUpdate(key, sc.broadcast(payload))
        .asInstanceOf[Broadcast[T]]
    }
}
