package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge into Spark's `private[sql]` Expression ⇄ Column converters so the
  * graft library can ship native Catalyst expressions (see
  * `graft.expressions`) while exposing them as ordinary `Column`s.
  *
  * This is the standard extension-library pattern: custom expressions are
  * a sanctioned extension point (`SparkSessionExtensions.injectFunction`),
  * but building a `Column` from an `Expression` directly — needed for the
  * DataFrame-side API — requires this one-file bridge in the
  * `org.apache.spark.sql` package.
  */
object GraftColumnBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)


  /** Spark's standard NON_FOLDABLE_ARGUMENT AnalysisException, for SQL
    * builders whose shape parameters (signature width, band count) must
    * be literals. */
  def nonFoldableArgument(funcName: String, param: String,
      dt: org.apache.spark.sql.types.DataType): Throwable =
    errors.QueryCompilationErrors.nonFoldableArgumentError(funcName, param, dt)

  /** Spark's standard WRONG_NUM_ARGS AnalysisException, for SQL builders
    * invoked with an argument count outside [min, max]. */
  def wrongNumArgs(funcName: String, expected: Seq[Int],
      actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(
      funcName, expected.map(_.toString), actual)

  /** A parquet DataFrame planned over a caller-supplied
    * [[execution.datasources.FileIndex]] — the relation-construction
    * seam that lets graft serve its postings artifact from a manifest
    * snapshot (`graft.plans.PostingsFileIndex`) with zero filesystem
    * listings, the way Delta's log-backed index plugs into the same
    * `HadoopFsRelation`. `dataSchema` is the files' schema WITHOUT the
    * partition columns (those come from `index.partitionSchema`). */
  def parquetOverFileIndex(
      spark: SparkSession,
      index: execution.datasources.FileIndex,
      dataSchema: types.StructType): Dataset[Row] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val relation = execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(cs)
    cs.baseRelationToDataFrame(relation)
  }

  /** The optimizer's size estimate for a frame (bytes) — the same
    * statistic the broadcast-join threshold consults; free (no job),
    * upper-bounded by the scan's file sizes. For parallelism
    * heuristics, not exact accounting. */
  def planSizeBytes(df: Dataset[Row]): BigInt =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution
      .optimizedPlan.stats.sizeInBytes

  /** The canonicalized analyzed plan — the identity the CacheManager
    * dedupes persists on (`sameResult` compares canonicalized plans), so
    * it is the right key for any bookkeeping that must agree with that
    * dedupe (CacheScope's cross-scope refcount). */
  def canonicalizedPlan(df: Dataset[Row]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.canonicalized

  /** Whether the CacheManager already holds this frame's plan — i.e. a
    * fresh `persist` would dedupe onto an entry someone else created
    * (the "Asked to cache already cached data" path). */
  def isCached(df: Dataset[Row]): Boolean = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).isDefined
  }

  /** Free the block-manager storage behind a `localCheckpoint`ed frame.
    * `Dataset.unpersist` only talks to the CacheManager, so checkpoint
    * blocks otherwise live until the GC-driven ContextCleaner notices
    * the RDD is unreachable. Only call this once nothing can re-read
    * the frame — a localCheckpoint has no lineage to recompute from.
    * The blocks go through `SparkContext.unpersistRDD` (private[spark]):
    * `RDD.unpersist` would do the same and also log, on every call, a
    * WARN that the locally checkpointed lineage is truncated — which the
    * caller asked for. */
  def unpersistLocalCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ => ()
    }

  /** Per-file parquet ROW COUNTS from footers alone, as one
    * parallelized job over the file list: each task opens footers with
    * `ParquetFileReader` and sums block row counts — no column readers,
    * no `FileSourceScanExec` per-file setup, no rows materialized. A
    * DataFrame `groupBy(input_file_name).count()` over a 15 k-file
    * artifact pays ~10 ms of reader initialization per file
    * (measured: 23.6 s of a 74 s postings build, SURVEY §6.1 r15);
    * this job does the same accounting at footer-metadata cost. Lives
    * on the bridge for `SerializableConfiguration` (private[spark]) —
    * executors need the driver's Hadoop conf to open the files. */
  def parquetFooterRowCounts(spark: SparkSession,
      files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val sc = spark.sparkContext
    def footer(conf: org.apache.hadoop.conf.Configuration)(
        p: String): (String, Long) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (p, reader.getRecordCount) finally reader.close()
    }
    // a maintenance delta lands a handful of files: read their footers
    // on the DRIVER (a footer is a few KB of metadata) instead of
    // paying a broadcast + job + collect per op — and read them on a
    // short-lived thread pool, not serially: each open pays ~5-8 ms of
    // stream setup + thrift parse, so a 32-file delta costs ~0.25 s
    // serial vs ~0.04 s at fan-out 16 (measured: stage_footer_rows
    // 0.22-0.28 s per fragment append at the q80 32-cell geometry).
    // Hadoop Configuration reads and the FileSystem cache are
    // thread-safe. The parallel job stays for rebuild-scale file sets,
    // where executor fan-out matters.
    if (files.size == 1) files.map(footer(sc.hadoopConfiguration)).toMap
    else if (files.size <= 32) {
      val conf = sc.hadoopConfiguration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(files.size, 16))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(files.map { p =>
          new java.util.concurrent.Callable[(String, Long)] {
            def call(): (String, Long) = footer(conf)(p)
          }
        }.asJava).asScala.map(_.get()).toMap
      } finally pool.shutdown()
    }
    else {
      val bc = sc.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          sc.hadoopConfiguration))
      val parts = math.max(1, math.min(sc.defaultParallelism * 2, files.size))
      sc.parallelize(files, parts).map(p => footer(bc.value.value)(p))
        .collect().toMap
    }
  }

  /** The stripe WHERE clauses `spark.read.jdbc(url, table, partCol,
    * lower, upper, n, ...)` hands each of its n cursors — rendered by
    * Spark's own `JDBCRelation.columnPartition` (private[sql], hence
    * the bridge) from the SAME options the real read would carry, so a
    * spec can pin the per-stripe predicate SQL a given dialect/url
    * produces without a live server. `schema` must contain the
    * partition column (the renderer resolves and type-checks it
    * there). */
  def jdbcStripePredicates(schema: types.StructType, timeZoneId: String,
      options: Map[String, String]): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCPartition, JDBCRelation}
    JDBCRelation.columnPartition(schema,
      org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution,
      timeZoneId, new JDBCOptions(options))
      .map(_.asInstanceOf[JDBCPartition].whereClause).toSeq
  }

  /** Register a function builder on an already-running session (the
    * programmatic twin of `spark.sql.extensions=graft.GraftExtensions`,
    * for sessions the library does not construct itself). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info,
        (children: Seq[Expression]) => builder(children))
}
