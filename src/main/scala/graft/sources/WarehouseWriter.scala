package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The engine's sink layer — the reference's materialization surface
  * re-expressed (SURVEY §2.1 S3/S4/S5/S6/S7/S9).
  *
  *  - pipe-delimited dashboard extract: psql `-A --field-separator="|"`
  *    dump + sed cleanup (reference db2wh-etl.sh:73-107,158-159)
  *  - warehouse table: DB2 `CREATE TABLE` + bulk `db2 load`
  *    (db2wh-etl.sh:124-163) → `saveAsTable` on the session catalog
  *  - header CSV of the feature frame: pandas `to_csv`
  *    (reference ct_data.py:148)
  *
  * All writers are distributed `df.write` paths — no driver-side
  * collect; output parallelism = partition count of the frame.
  */
object WarehouseWriter {

  /** S4 sed semantics applied to every string column pre-write:
    * `"` → `'` and ` | ` → ` - ` (protects the delimiter and quote
    * char of the downstream loader). Kept as explicit regexp_replace
    * columns — same relation the reference loads, mechanism columnar. */
  def sedCleanup(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == StringType).foldLeft(df) {
      (acc, f) =>
        acc.withColumn(f.name,
          regexp_replace(regexp_replace(col(f.name), "\"", "'"), " \\| ", " - "))
    }

  /** S3: pipe-delimited, header-less flat-file export (the dashboard
    * extract's on-disk shape). Applies the S4 cleanup so the delimiter
    * can never appear inside a field. */
  def pipeDelimited(df: DataFrame, path: String): Unit =
    sedCleanup(df).write
      .mode(SaveMode.Overwrite)
      .option("sep", "|")
      .option("header", "false")
      .option("emptyValue", "")
      .csv(path)

  /** S9: header CSV export (feature-frame shape). */
  def headerCsv(df: DataFrame, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(path)

  /** S5+S6+S7: typed warehouse table — create-or-replace semantics of
    * the reference's DROP TABLE / CREATE TABLE / bulk-load sequence,
    * collapsed into one atomic overwrite of a catalog parquet table.
    * At cluster scale this is the seam where a JDBC/Delta target
    * would plug in. */
  def saveTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)

  /** S7 standalone: idempotent drop (rerun hygiene). */
  def dropIfExists(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  /** S10: bucketed, per-bucket-sorted layout on the join key — the Spark
    * mapping of the reference's join-key indexes (reference
    * init-user-db.sh:119-120,178-179,234-235,271-274: btree indexes on
    * `nct_id`/name keys exist precisely so the planner can join without
    * re-sorting). Facts written through this path with the same bucket
    * count co-locate on the key: every subsequent equi-join between them
    * plans with NO shuffle exchange on either side — at 100 TB that is
    * the difference between re-shuffling both facts per run and
    * shuffling them once at load time. */
  def saveBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** S10 companion: hive-style partitioned layout on a low-cardinality
    * scan key (date/region buckets). Queries filtering on the partition
    * column plan PartitionFilters and never open the other directories
    * — at 100 TB of time-series facts, date partitioning is what turns
    * "scan a decade" into "scan a week". Use [[saveBucketed]] for join
    * keys (high cardinality), this for scan predicates. */
  def savePartitioned(df: DataFrame, table: String,
      partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy(partitionCol).saveAsTable(table)

  /** S10 companion: range-sorted layout on a high-cardinality SCAN key
    * (timestamps, numeric measures) — the zone-map side of the layout
    * story, complementing [[saveBucketed]] (join keys) and
    * [[savePartitioned]] (low-cardinality scan keys, where a directory
    * per value works). `repartitionByRange` gives each output file a
    * disjoint key range and the within-partition sort makes every
    * parquet ROW GROUP's min/max stats tight, so a pushed-down range
    * or point predicate skips whole row groups at the reader — the
    * same I/O physics as the reference's btree range scans. On a
    * shuffled layout every row group spans the full key range and the
    * identical pushed filter skips nothing. At 100 TB this is the
    * difference between reading ~1/selectivity of the table and
    * reading all of it; sorting costs one range shuffle at load time,
    * amortized over every subsequent scan. */
  def saveSorted(df: DataFrame, table: String, sortCol: String,
      files: Int = 8): Unit =
    rangeSorted(df, files, sortCol)
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)

  /** [[saveSorted]]'s layout as a frame: range-partitioned into `files`
    * on `key`, sorted within each. `distinct` folds whole-row
    * duplicates on that one exchange — equal rows share their key, so
    * every copy of a row lands in one range partition and the distinct
    * needs no exchange of its own. */
  private[graft] def rangeSorted(df: DataFrame, files: Int, key: String,
      distinct: Boolean = false): DataFrame = {
    val ranged = df.repartitionByRange(files, col(key))
    (if (distinct) ranged.distinct() else ranged).sortWithinPartitions(key)
  }

  /** Compact a parquet DIRECTORY that has accumulated many small files
    * into ~`targetFileBytes`-sized ones — the maintenance pass every
    * append-mode parquet sink eventually owes. Our own
    * [[graft.streaming.CorpusIngest.parquetDedupIngest]] is the house
    * example: one corpus file and one index-delta file per micro-batch,
    * and a 100 TB table read at 10 000 files/s of open-file overhead
    * turns small files into the dominant scan cost.
    *
    * `sortCol` additionally restores the [[saveSorted]] zone-map
    * layout (range-partitioned, sorted within files) — what the
    * bloom-screen's point-lookup pushdown
    * ([[graft.operators.Dedup.dedupAgainstIndexScreened]]) wants a
    * directory to look like after many deltas blurred it.
    *
    * Output file count = ceil(input bytes / targetFileBytes), computed
    * from the actual file listing — compression can make real output
    * files smaller, the target is an upper-bound shape, not a promise.
    * The swap is [[overwriteParquetAtomic]]'s, healed first
    * ([[recoverSwap]]) when an earlier compaction died inside its
    * delete→install window: a crash at any point leaves the original,
    * the rewrite, or a committed tmp the next call installs. NOT atomic
    * for concurrent readers (a reader planning in the swap window sees
    * a missing path). Run it between ingest rounds — for
    * [[graft.streaming.CorpusIngest]], while the stream is stopped or
    * between micro-batches; under a live multi-reader catalog this job
    * belongs to a transactional table format instead. The schema comes
    * from one footer read on the driver: no inference job. Returns
    * (files before, files after, input bytes). */
  def compactParquet(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      sortCol: Option[String] = None): (Int, Int, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    recoverSwap(spark, path)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hPath)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    if (files.isEmpty) return (0, 0, 0L) // nothing to fold — no-op, not a failed read
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = graft.Tables.read(spark, path)
    overwriteParquetAtomic(spark, path)((sortCol match {
      case Some(c) => rangeSorted(df, nOut, c)
      case None => df.repartition(nOut)
    }).write.parquet(_))
    (files.length, nOut, bytes)
  }

  /** Crash-safe directory install — the one way a write replaces a
    * live artifact: every index build and compaction, [[compactParquet]]
    * and the streaming bloom sidecar. `mode("overwrite")` DELETES the
    * target before writing, so a crash or a failed job mid-write
    * strands the artifact missing or partial. Here `write` fills a
    * fresh sibling stage with EVERYTHING the artifact is born with
    * (data, sidecars, manifest); only when it returns is the stage
    * renamed to the swap tmp, so a tmp exists only complete. Then the
    * target is deleted and the tmp installed, and [[recoverSwap]]
    * covers that delete→install window: a crash or a failure at any
    * point leaves the old artifact, the new one, or a complete tmp,
    * never a partial directory. Returns what `write` returns. */
  def overwriteParquetAtomic[A](spark: SparkSession, path: String)(
      write: String => A): A = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = swapTmp(hPath)
    val stage = new org.apache.hadoop.fs.Path(hPath.getParent,
      s".${hPath.getName}.swap-stage")
    fs.delete(stage, true)
    val written =
      try {
        val a = write(stage.toString)
        fs.delete(tmp, true)
        require(fs.rename(stage, tmp), s"atomic overwrite failed staging $tmp")
        a
      } finally fs.delete(stage, true)
    fs.delete(hPath, true)
    require(fs.rename(tmp, hPath), s"atomic overwrite failed installing $tmp")
    written
  }

  /** Heal a crash inside [[overwriteParquetAtomic]]'s delete→install
    * window: if the target is missing but a fully-committed tmp (has
    * `_SUCCESS`) is present, install it. Call before READING an
    * artifact maintained by the atomic overwrite (the streaming
    * provider, [[compactParquet]], every index family's open and
    * compaction do); a no-op in every healthy state. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = swapTmp(hPath)
    if (!fs.exists(hPath) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      require(fs.rename(tmp, hPath), s"swap recovery failed installing $tmp")
  }

  private def swapTmp(hPath: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(hPath.getParent,
      s".${hPath.getName}.swap-tmp")

  /** JSONL corpus sink — one JSON object per line, the interchange
    * format LLM training corpora actually move in (WebText/Pile/Dolma
    * lineage). Distributed write, one file per partition; `compression`
    * takes any Spark text codec the cluster's Hadoop build provides
    * (`gzip`/`lz4`/`snappy`/`bzip2`/`none` here — zstd needs native
    * Hadoop support). At 100 TB
    * prefer many moderate files over few huge ones: compressed text is
    * not splittable, so the FILE is the parallelism unit on re-read. */
  def saveJsonl(df: DataFrame, path: String,
      compression: String = "none"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", compression).json(path)

  /** JSONL corpus source. The schema is REQUIRED by design: inference
    * is a full extra pass over the corpus before the real one — never
    * acceptable at scale — and a declared schema also pins column
    * types against drifting inputs. Lines that don't parse land in
    * `_corrupt_record` when the caller includes that column
    * (PERMISSIVE default) instead of failing the job a billion lines
    * in. */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S5 literal: JDBC bulk load — the reference's `db2 load ... insert
    * into CTGOV` (db2wh-etl.sh:151-163) is a row-batched push into an
    * external warehouse over a client connection; Spark's jdbc writer is
    * the same contract, one batched INSERT stream per partition (write
    * parallelism = partition count, `batchsize` rows per round trip).
    * [[saveTable]] stays the default catalog path; this is the seam for
    * a real external DB target. */
  def saveJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)
}
