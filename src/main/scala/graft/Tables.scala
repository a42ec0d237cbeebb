package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated star-schema snapshot (TESTDATA.md).
  *
  * One parquet file per table. At cluster scale these would be partitioned
  * catalog tables; the loader is the single seam where that swap happens
  * (mirrors the snapshot-reader role of the reference's psycopg2 extract,
  * see reference src/main/py/ct_data.py:69-97).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema from [[footerSchema]]:
    * the same frame, with no schema-inference job. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * with no Spark job. Spark's non-merging inference reads ONE footer —
    * `_common_metadata`, else `_metadata`, else the first data file of
    * the sorted leaf listing — but inside a parallelized job even for
    * one file, so every table read paid a whole job. This reads that
    * footer here and converts it with Spark's own code, so the Spark
    * row-metadata key still wins over the logical types (the precedence
    * [[guardLegacyLongTs]] arbitrates) and the nanosAsLong/NTZ rules
    * are the session's. An empty directory or a missing path fails with
    * inference's error condition (UNABLE_TO_INFER_SCHEMA,
    * PATH_NOT_FOUND); a TIMESTAMP(NANOS) footer without the legacy conf
    * fails with the [[GraftSession.requireNanosConf]] remedy, not
    * PARQUET_TYPE_ILLEGAL. `spark.sql.parquet.mergeSchema` is not
    * mirrored: no graft session turns it on. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): StructType = {
    val leaves = parquetLeaves(spark, path).getOrElse(
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> path)))
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val file = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !isSummary(f)))
      .getOrElse(throw new AnalysisException(
        "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    catch {
      case e: AnalysisException
          if Option(e.getMessage).exists(_.contains("NANOS")) =>
        GraftSession.requireNanosConf(spark) // throws the canonical remedy
        throw e // conf on yet NANOS still rejected — surface the original
    }
  }

  /** Leaf files under `path` as Spark's file index lists them, sorted
    * by path: directories walked, hidden names (`_x`, `.x`,
    * `x._COPYING_`) skipped except the parquet summary files; a file
    * path is its own leaf. None when the path does not exist. */
  private def parquetLeaves(spark: SparkSession,
      path: String): Option[Seq[FileStatus]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(n: String) =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !n.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
        !n.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    try Some(walk(fs.getFileStatus(root)).sortBy(_.getPath.toString))
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      n == ParquetFileWriter.PARQUET_METADATA_FILE
  }

  /** Per-table scanned-schema expectations: column → the catalog type
    * strings the loaders and declared queries are known to handle.
    * Multi-entry sets mark columns whose encoding has drifted across
    * snapshot generations (events.ts: nanos-as-long, UTC instants, or
    * naive micros — all normalized by [[loadEvents]]). */
  private val expectedColumns: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      // NTZ only: unlike events.ts, these tables have no loader
      // normalization branch, and a UTC-instant (TimestampType) column
      // would silently shift every date_trunc boundary with the session
      // TZ — fail the gate rather than accept semantics drift
      "o_orderdate" -> Set("timestamp_ntz"),
      "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("timestamp_ntz")), // NTZ only — see o_orderdate
    "events" -> Seq("event_id" -> Set("bigint"),
      "ts" -> Set("timestamp_ntz", "bigint", "timestamp"),
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** Fail-fast schema gate over a snapshot directory: every table's
    * SCANNED schema is diffed column-by-column against
    * [[expectedColumns]], and all drift is reported in ONE exception —
    * per-column, with scanned vs accepted types — before any query can
    * error at analysis with a symptom far from the cause. `tables`
    * scopes the gate to the tables a harness reads (IndexBench and
    * IngestBench read documents/embeddings only) or to an input dir that
    * deliberately holds a subset (a synthesized events-only corpus, as
    * in SURVEY §6.1.1's skew stress) — the default gates the full
    * snapshot. The `SnapshotIngest.headerDrift` philosophy applied to
    * the fixture seam: a snapshot writer changing an encoding (as the events table's
    * ts has, twice) surfaces here as a named diff naming the table, the
    * column, and both types. Footer-only reads: one file listing and
    * one footer per table, read on the driver by [[footerSchema]] — no
    * DataFrame, no Spark job, no data scan. Extra columns are tolerated
    * (queries select by name; a snapshot growing a column breaks
    * nothing). */
  def validate(spark: SparkSession, dir: String,
      tables: Seq[String] = all): Unit = {
    val diffs = tables.flatMap { t =>
      try {
        val scanned = footerSchema(spark, s"$dir/$t.parquet")
        // events.ts scanning as LONG is a legal legacy encoding ONLY
        // when the footer agrees it is nanos — run the stale-metadata
        // arbitration here too, or the gate would bless a snapshot
        // whose every events query then fails (the exact r10 symptom
        // this gate exists to pre-empt)
        if (t == "events" &&
            scanned.fields.exists(f => f.name == "ts" && f.dataType == LongType))
          guardLegacyLongTs(spark, s"$dir/$t.parquet")
        expectedColumns(t).flatMap { case (col, accepted) =>
          scanned.fields.find(_.name == col) match {
            case None =>
              Some(s"$t.$col: MISSING (expected ${accepted.mkString("|")})")
            case Some(f) if !accepted.contains(f.dataType.catalogString) =>
              Some(s"$t.$col: scanned ${f.dataType.catalogString}, " +
                s"expected ${accepted.mkString("|")}")
            case _ => None
          }
        }
      } catch {
        // loader remedies (stale metadata, nanos without the conf) pass
        // through with their named fix
        case e: IllegalStateException => throw e
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          Seq(s"$t: unreadable ($msg)")
      }
    }
    if (diffs.nonEmpty) throw new IllegalStateException(
      s"snapshot schema drift in $dir — regenerate the snapshot or extend " +
        s"the loaders:\n  ${diffs.mkString("\n  ")}")
  }

  /** Schema-adaptive events load, normalizing `ts` to TIMESTAMP_NTZ
    * microseconds whatever the snapshot writer produced. Fixture
    * generations have carried `ts` as parquet TIMESTAMP(NANOS) — which
    * Spark scans as raw-nanos LONG under the legacy conf — and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which scans as
    * TIMESTAMP_NTZ directly. The loader declares the TARGET type and
    * branches on the SCANNED type, the same parse-don't-assume stance as
    * the reference extract's declared `parse_dates`
    * (reference src/main/py/ct_data.py:96): a snapshot format drift
    * surfaces here as a named remedy, not as an analysis error eleven
    * queries downstream.
    *
    * Every branch is timezone-invariant (ScaleOpsSpec pins q51 equal
    * across UTC and a DST zone):
    *  - TIMESTAMP_NTZ: already naive micros — pass through untouched.
    *  - LONG (legacy nanos): integer `div 1000` (exact above 2^53 ns
    *    where double division would round) then `timestampadd` against
    *    an NTZ epoch, which keeps the micros naive — a
    *    timestamp_micros→ntz cast would shift them by the session TZ.
    *    This is the one branch that needs the nanosAsLong conf, and the
    *    conf is consulted again when the (lazy) scan executes, so the
    *    loader VERIFIES it comes from the session builder
    *    ([[GraftSession.defaults]]) rather than mutating shared session
    *    state (ContractSpec pins both).
    *  - TIMESTAMP (UTC-adjusted instants): `unix_micros` reads the
    *    instant's epoch micros independent of session TZ, then the same
    *    NTZ-epoch `timestampadd` — i.e. the naive rendering of the
    *    instant in UTC, matching what a DuckDB oracle reads natively. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // a nanos snapshot without the legacy conf fails the footer-schema
    // conversion before the type branch below can run — footerSchema
    // names the remedy then, not a PARQUET_TYPE_ILLEGAL wall of text
    val raw = read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case TimestampNTZType => raw
      case LongType =>
        GraftSession.requireNanosConf(spark)
        guardLegacyLongTs(spark, s"$dir/events.parquet")
        raw.withColumn("ts",
          expr("""timestampadd(MICROSECOND, ts div 1000,
                  TIMESTAMP_NTZ '1970-01-01 00:00:00')"""))
      case TimestampType =>
        raw.withColumn("ts",
          expr("""timestampadd(MICROSECOND, unix_micros(ts),
                  TIMESTAMP_NTZ '1970-01-01 00:00:00')"""))
      case other => throw new IllegalStateException(
        s"events.ts scanned as $other — expected TIMESTAMP_NTZ (micros " +
          "snapshot), LONG (nanos snapshot under " +
          s"${GraftSession.NanosKey}=true), or TIMESTAMP (UTC-adjusted " +
          "micros). Regenerate the snapshot or extend Tables.loadEvents " +
          "with the new encoding's normalization.")
    }
  }

  /** The stale-footer-metadata trap, caught at plan time. Spark's
    * parquet reader trusts its own `…sql.parquet.row.metadata` footer
    * key over the file's parquet logical types — so a tool that reads
    * Spark-written longs, casts them to timestamps, and writes with a
    * library that PRESERVES source metadata (pyarrow does) produces a
    * file whose logical type says TIMESTAMP(MICROS) while Spark scans
    * the column as the stale JSON's `long`. The nanos branch would then
    * divide actual-micros by 1000 — every timestamp lands in 1970 and
    * nothing errors (the r11 sf1 oracle sweep caught exactly this in
    * `tools/repack_scaledata.py`). One driver-side footer read of one
    * file arbitrates: a column scanned as LONG whose footer annotation
    * is a non-NANOS timestamp is a contradiction, and the remedy is
    * named here instead of surfacing as silently-wrong results.
    * Footer-only — no data scan — but EVERY data file of a directory is
    * arbitrated, not just the first: mixed repack generations (one file
    * rewritten with stale metadata landing next to clean ones) would
    * pass a first-file sample and silently mis-divide only the stale
    * files. One footer read per file is bounded driver-side cost even
    * at the 32-file snapshot layouts the scale sweeps produce. A
    * missing path arbitrates nothing (a stream may start before its
    * producer's first file lands). */
  private[graft] def guardLegacyLongTs(spark: SparkSession, path: String,
      column: String = "ts"): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    val files = parquetLeaves(spark, path).getOrElse(Seq.empty)
      .filterNot(isSummary).map(_.getPath)
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val ann =
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          if (schema.containsField(column))
            Option(schema.getType(Seq(column): _*)).filter(_.isPrimitive)
              .flatMap(t => Option(t.asPrimitiveType().getLogicalTypeAnnotation))
          else None
        } finally reader.close()
      ann.foreach {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit != LogicalTypeAnnotation.TimeUnit.NANOS =>
          throw new IllegalStateException(
            s"$f: `$column` scanned as LONG but the parquet footer " +
              s"declares TIMESTAMP(${t.getUnit}) — the file carries stale " +
              "Spark row metadata (org.apache.spark.sql.parquet.row." +
              "metadata) from before a retype, and Spark trusts that key " +
              "over the logical type. Re-write the file without the " +
              "carried-over metadata (pyarrow: replace_schema_metadata" +
              "(None)) so the micros annotation wins. Refusing to apply " +
              "the nanos→micros conversion to what the footer says are " +
              "already micros.")
        case _ => ()
      }
    }
  }
}
