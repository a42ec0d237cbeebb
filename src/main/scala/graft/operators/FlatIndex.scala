package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.sources.WarehouseWriter

/** A persisted FLAT index family — the exact-hash, minhash-band and
  * winnow indexes [[Dedup]] screens against — and the one lifecycle
  * they share: open, build, staged append and compaction. The value
  * holds what is declarative about a family: its [[ArtifactManifest]]
  * tag, its data columns, and its param columns with their manifest
  * keys. What is the family's own — the layout a build writes, the
  * delta a batch derives, the fold a compaction runs — comes from the
  * caller as a function.
  *
  * Params travel as a `Seq[Any]` in param-column order, typed as their
  * columns are (Int, Boolean, String) whichever source they came from:
  * the build frame's plan literals, a data head row, or the manifest's
  * strings. */
final class FlatIndex(family: String, params: Seq[FlatIndex.Param],
    dataFields: Seq[Any] => Seq[StructField], emptyMessage: String = "") {

  /** The data schema under params `p`: the family's columns, then the
    * param columns. */
  private def schema(p: Seq[Any]): StructType = StructType(dataFields(p) ++
    params.map(q => StructField(q.column, q.dataType)))

  /** `df` with the params stamped as literal columns — the form
    * [[paramsOf]] reads back from the plan. */
  def stamp(df: DataFrame, p: Seq[Any]): DataFrame =
    params.zip(p).foldLeft(df) { case (d, (q, v)) =>
      d.withColumn(q.column, lit(v)) }

  /** The params a build frame's PLAN holds as literals ([[PlanLiterals]],
    * no job), else its head row ([[headParams]]). */
  private def paramsOf(df: DataFrame): Seq[Any] =
    PlanLiterals(df, params.map(_.column): _*).getOrElse(headParams(df))

  /** The params from `df`'s head row: one `take(1)` job, none for a
    * family without params. An empty frame has no row to read them
    * from and fails fast with the family's message. */
  def headParams(df: => DataFrame): Seq[Any] =
    if (params.isEmpty) Nil
    else {
      val head = df.select(params.map(q => col(q.column)): _*).take(1)
      require(head.nonEmpty, emptyMessage)
      head(0).toSeq
    }

  private def fromState(st: ArtifactManifest.State): Seq[Any] =
    params.map(q => q.decode(st.params(q.key)))

  private def manifestParams(p: Seq[Any]): Map[String, String] =
    params.map(_.key).zip(p.map(_.toString)).toMap

  /** Open the artifact at `path` for serving: the scan, and its params
    * from the SAME manifest read (no second read, no TOCTOU between
    * them). Heals a compaction that crashed inside its swap's
    * delete→install window first ([[WarehouseWriter.recoverSwap]]): the
    * dirty flag lived inside the deleted directory, so nothing else
    * would signal recovery. With a clean manifest the scan is planned
    * from a [[graft.plans.ManifestFileIndex]] snapshot — zero listings,
    * exact byte sizes for the optimizer, pushed-down filters reaching
    * the row groups as on a discovered read. A manifest-less or dirty
    * artifact falls back to the DISCOVERING read (flat families have no
    * tombstones, so the listing is truth) — schema-less deliberately,
    * so a genuinely foreign directory fails at column resolution; a
    * PRESENT manifest of another family throws before any scan. The
    * params are LAZY there (a head-row job): read-only callers keep the
    * plain scan, and an empty manifest-less index still opens. */
  def open(spark: SparkSession, path: String): (DataFrame, () => Seq[Any]) = {
    WarehouseWriter.recoverSwap(spark, path)
    ArtifactManifest.readClean(spark, path, family) match {
      case Some(st) =>
        val p = fromState(st)
        (ArtifactManifest.readFlatFromState(spark, path, st, schema(p)),
          () => p)
      case None =>
        ArtifactManifest.requireFamilyOrUnknown(spark, path, family)
        spark.catalog.refreshByPath(path)
        val df = spark.read.parquet(path)
        lazy val p = headParams(df)
        (df, () => p)
    }
  }

  /** Persist `index` as the artifact, under the writer lease (a rebuild
    * of a live artifact fails fast against a concurrent maintainer),
    * through the family's `layout`, born with a manifest carrying the
    * params (one listing + footer pass, at the one moment an
    * O(artifact) metadata pass is already being paid). Data and
    * manifest land in the swap stage and install together
    * ([[WarehouseWriter.overwriteParquetAtomic]]): a build that fails
    * or crashes leaves the previous artifact serving. The params are
    * read BEFORE the lease: a frame without plan literals that is empty
    * fails there. */
  def build(index: DataFrame, path: String)(
      layout: DataFrame => DataFrame): Unit = {
    val spark = index.sparkSession
    val p = paramsOf(index)
    MaintenanceProtocol.withLease(spark, path, "build") {
      WarehouseWriter.overwriteParquetAtomic(spark, path) { tmp =>
        layout(index).write.parquet(tmp)
        ArtifactManifest.rebuildAndWrite(spark, tmp, family, manifestParams(p))
      }
    }
  }

  /** Roll the artifact forward with the `delta` a batch derives under
    * the artifact's params ([[ArtifactManifest.appendStaged]]: staged by
    * rename, the manifest rolled forward from the staging listing
    * alone). The params come from the in-lease manifest, or — for a
    * manifest-less artifact, and only if `delta` asks — its head row. */
  def append(spark: SparkSession, path: String)(
      delta: (() => Seq[Any]) => DataFrame): Unit =
    ArtifactManifest.appendStaged(spark, path, family) { state0 =>
      lazy val p = state0.map(fromState).getOrElse(headParams {
        spark.catalog.refreshByPath(path)
        graft.Tables.read(spark, path)
      })
      val d = delta(() => p)
      dest => d.write.mode(if (dest == path) "append" else "overwrite")
        .parquet(dest)
    }

  /** Fold the artifact back to its pristine layout: under the lease,
    * heal a crashed swap BEFORE reading (the directory may be entirely
    * absent), sweep stale staging dirs, read the directory ONCE (schema
    * from one footer, no inference job; the catalog refresh first — the
    * rename-staged appends bypass Spark's FileStatusCache, and folding
    * a stale listing would silently DROP appended rows and certify the
    * truncated artifact clean), then install the family's
    * `fold(stored, params, input bytes)` with a manifest rebuilt over
    * it, as a build does (compaction is the flat families' manifest
    * ADOPTION point). A missing directory fails at the read, before
    * anything is written. Returns (files before, files after, input
    * bytes). */
  def compact(spark: SparkSession, path: String)(
      fold: (DataFrame, Seq[Any], Long) => DataFrame): (Int, Int, Long) =
    MaintenanceProtocol.withLease(spark, path, "compact") {
      WarehouseWriter.recoverSwap(spark, path)
      ManifestLog.sweepStaleDeltas(spark, path)
      val state = ArtifactManifest.readClean(spark, path, family)
      if (state.isEmpty)
        ArtifactManifest.requireFamilyOrUnknown(spark, path, family)
      spark.catalog.refreshByPath(path)
      val stored = graft.Tables.read(spark, path)
      val p = state.map(fromState).getOrElse(headParams(stored))
      val listed = stored.queryExecution.analyzed.collectFirst {
        case r: LogicalRelation => r.relation
      }.collect { case fs: HadoopFsRelation => fs.location }.get
      val bytes = listed.sizeInBytes
      val st = WarehouseWriter.overwriteParquetAtomic(spark, path) { tmp =>
        fold(stored, p, bytes).write.parquet(tmp)
        ArtifactManifest.rebuildAndWrite(spark, tmp, family, manifestParams(p))
      }
      (listed.inputFiles.length, st.totalFiles, bytes)
    }
}

object FlatIndex {

  /** A param column and its manifest key; `dataType` types the column
    * and decodes the manifest's string. */
  final case class Param(column: String, key: String, dataType: DataType) {
    def decode(s: String): Any = dataType match {
      case IntegerType => s.toInt
      case BooleanType => s.toBoolean
      case _ => s
    }
  }

  /** [[Dedup.exactHashIndex]]: one 16-byte hash column, no params. */
  val Exact = new FlatIndex("exact_hash_index", Nil,
    _ => Seq(StructField("text_hash", StringType)))

  /** [[Dedup.minhashBandIndex]]: the shingle column's element type
    * follows the `hashed` representation. */
  val Minhash = new FlatIndex("minhash_band_index",
    Seq(Param("mh_k", "k", IntegerType),
      Param("mh_hashes", "hashes", IntegerType),
      Param("mh_bands", "bands", IntegerType),
      Param("mh_hashed", "hashed", BooleanType)),
    p => Seq(StructField("doc_id", LongType),
      StructField("sh", ArrayType(if (p(3) == true) LongType else StringType)),
      StructField("bk", ArrayType(LongType))),
    "empty minhash index — build it with minhashBandIndex over the " +
      "initial corpus")

  /** [[Dedup.winnowIndex]]: `df` is the fingerprint's stored document
    * frequency. */
  val Winnow = new FlatIndex("winnow_index",
    Seq(Param("wf_k", "wf_k", IntegerType), Param("wf_w", "wf_w", IntegerType),
      Param("wf_algo", "wf_algo", StringType)),
    _ => Seq("doc_id", "fingerprint", "df").map(StructField(_, LongType)),
    "empty winnow index — build it with winnowIndex over the training " +
      "corpus")
}
