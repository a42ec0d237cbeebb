package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The FLAT-artifact manifest sidecar — the [[ManifestLog]] codec for
  * directory artifacts that are not cell-partitioned (the exact-hash,
  * minhash-band and winnow indexes and the packed postings snapshot):
  * a driver-written base + delta log (`<artifact>/_manifest`, invisible
  * to readers — Spark skips `_`-prefixed paths) recording the
  * artifact's family tag, its embedded parameters as key→value
  * strings, and every data file with exact bytes + footer row counts.
  *
  * What it buys, same as the postings family: serve-time planning with
  * ZERO filesystem listings ([[readFlat]] plans the scan from a
  * [[graft.plans.ManifestFileIndex]] snapshot — a
  * `spark.read.parquet(dir)` lists every file before the first task,
  * the measured serving term as file counts grow), params without a
  * footer read, and file-count/row observability (`State.files`) that
  * makes LSM append debt visible instead of silent. Appends stage into
  * a sibling temp dir and RENAME in (never a listing of the standing
  * artifact), so every maintenance op stays ∝ its own batch.
  *
  * Protocol is [[MaintenanceProtocol]]'s verbatim: the `_manifest_dirty`
  * write-ahead flag (absent ⟹ manifest ≡ directory truth; stranded ⟹
  * consumers degrade to their listing fallbacks and the next compaction
  * rebuilds), and the sibling writer lease (single-writer maintenance,
  * fail-fast on a second writer). Flat artifacts carry no retention/
  * tombstone machinery — their compactions are overwrite-style swaps
  * ([[graft.sources.WarehouseWriter.compactParquet]]'s durable-swap
  * discipline), so there is nothing to retire.
  *
  * Reference analogue: the warehouse's reliance on DB catalogs instead
  * of directory walks (init-user-db.sh:119-120), the same move Delta
  * Lake/Iceberg make with their transaction logs.
  */
object ArtifactManifest extends ManifestLog {

  /** One data file, `file` relative to the artifact root: exact
    * physical `bytes` (the parquet reader seeks its footer at
    * length − 8) and footer `rows`. */
  case class FileEntry(file: String, bytes: Long, rows: Long)

  case class State(family: String, params: Map[String, String],
      files: Seq[FileEntry], logSeq: Long = 0L, logDeltas: Int = 0)
      extends ManifestLog.Logged[FileEntry] {
    def totalFiles: Int = files.size
    def totalRows: Long = files.map(_.rows).sum
    def totalBytes: Long = files.map(_.bytes).sum
    def adding(entries: Seq[FileEntry]): State =
      copy(files = files ++ entries)
  }

  type Entry = FileEntry

  protected val baseHeader = "graft-artifact-manifest\t1"
  protected val deltaHeader = "graft-artifact-delta\t1"
  protected val entryArity = 3
  protected val keyArity = 1

  protected def encode(e: FileEntry): Seq[Any] = Seq(e.file, e.bytes, e.rows)

  protected def decode(f: Array[String]): FileEntry =
    FileEntry(f(1), f(2).toLong, f(3).toLong)

  protected def headLines(s: State): Seq[String] =
    ManifestLog.line("family", Seq(s.family)) +:
      s.params.toSeq.sortBy(_._1).map { case (k, v) =>
        ManifestLog.line("param", Seq(k, v)) }

  protected def withLog(s: State, files: Seq[FileEntry], logSeq: Long,
      logDeltas: Int): State =
    s.copy(files = files, logSeq = logSeq, logDeltas = logDeltas)

  /** The delta format carries file actions only: flat params are fixed
    * at build, and only compaction — a full write anyway — restores
    * them, so a params change always folds. */
  override protected def mustFold(prev: State, next: State): Boolean =
    prev.params != next.params

  /** The manifest iff trustworthy ([[ManifestLog.readWith]]). A foreign
    * header (a postings manifest, a future format) or zero file lines
    * degrade to None, and so does an artifact whose family tag differs
    * from `family`: a consumer must never plan one family's scan from
    * another's sidecar (a copied/moved directory). A garbled line
    * throws. */
  def readClean(spark: SparkSession, path: String,
      family: String): Option[State] =
    readWith(spark, path) { (lines, at) =>
      if (lines.head != baseHeader) None
      else {
        val fam = lines(1).split('\t')
        require(fam.length == 2 && fam(0) == "family",
          s"malformed manifest family line at $at: '${lines(1)}'")
        val (paramLines, fileLines) =
          lines.drop(2).partition(_.startsWith("param\t"))
        if (fam(1) != family || fileLines.isEmpty) None
        else Some(State(family, paramLines.map { l =>
          val p = l.split('\t')
          require(p.length == 3,
            s"malformed manifest param line at $at: '$l'")
          p(1) -> p(2)
        }.toMap, entries(fileLines, at)))
      }
    }

  /** Directory truth for a FLAT artifact — one root listing plus the
    * data files' footer row counts (no data pages); `family`/`params`
    * come from the caller (the rebuild must not trust the manifest it
    * replaces). */
  def rebuild(spark: SparkSession, path: String, family: String,
      params: Map[String, String]): State = {
    val parts =
      ManifestLog.listTruth(MaintenanceProtocol.fsOf(spark, path), path)
    require(parts.nonEmpty,
      s"no data files under $path — build the artifact first")
    val rows = ManifestLog.footerRows(spark, parts.map(_._2.getPath))
    State(family, params, parts.zip(rows).map { case ((dir, f), n) =>
      FileEntry(ManifestLog.relPath(dir, f.getPath.getName), f.getLen, n)
    })
  }

  /** Reserved param recording the file count at the last full rebuild
    * (build or compaction) — what [[flatFragmentationReport]] subtracts
    * to expose append debt. Underscore-prefixed: never a family param,
    * filtered from family param reads by being read nowhere else. */
  val BaseFilesParam = "_base_files"

  /** [[rebuild]] stamped with [[BaseFilesParam]], persisted, dirty flag
    * cleared ([[ManifestLog.writeRebuilt]]). */
  def rebuildAndWrite(spark: SparkSession, path: String, family: String,
      params: Map[String, String]): State = {
    val s = rebuild(spark, path, family, params)
    writeRebuilt(spark, path,
      s.copy(params = s.params + (BaseFilesParam -> s.totalFiles.toString)))
  }

  /** Best-effort family tag of whatever manifest sits at `path` —
    * read even when DIRTY: the dirty flag marks the FILE LIST stale,
    * but an artifact's family never changes over its life and
    * tmp+rename means the file is never half-written, so the tag is
    * authoritative whenever it parses. None = no parseable flat
    * manifest (absent, legacy layout, foreign format). */
  def familyOf(spark: SparkSession, path: String): Option[String] = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    val dest = manifestPath(path)
    try {
      if (!fs.exists(dest) || fs.getFileStatus(dest).isDirectory) None
      else {
        val in = fs.open(dest)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().take(2).toVector
          finally in.close()
        if (lines.length == 2 && lines(0) == baseHeader &&
            lines(1).startsWith("family\t"))
          Some(lines(1).split('\t')(1))
        else None
      }
    } catch { case _: Throwable => None }
  }

  /** Fail fast when the artifact's manifest names a DIFFERENT family
    * than the caller expects — a copied/mispointed directory must
    * error loudly, never be scanned under a foreign schema (which
    * would serve all-null key columns and, e.g., declare every
    * screened doc novel). Unknown/absent manifests pass: the caller's
    * discovering fallback resolves real columns by name and fails
    * loudly on a genuine mismatch. */
  def requireFamilyOrUnknown(spark: SparkSession, path: String,
      family: String): Unit =
    familyOf(spark, path).foreach { f =>
      if (f != family) throw new IllegalStateException(
        s"artifact at $path is family '$f', not '$family' — refusing " +
          "to read it as the wrong artifact kind")
    }

  /** Open a flat artifact for serving: with a clean manifest the scan
    * is planned from a [[graft.plans.ManifestFileIndex]] snapshot —
    * zero listings, exact byte sizes for the optimizer, pushed-down
    * data filters reaching the parquet row groups exactly as on a
    * discovered read. Falls back to the DISCOVERING
    * `spark.read.parquet` for manifest-less or dirty artifacts (flat
    * families have no tombstones, so the listing IS truth there) —
    * schema-less deliberately, so a genuinely foreign directory fails
    * at column resolution instead of serving typed nulls; a PRESENT
    * manifest of another family throws before any scan. */
  def readFlat(spark: SparkSession, path: String, family: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    readClean(spark, path, family) match {
      case Some(st) => readFlatFromState(spark, path, st, schema)
      case None =>
        requireFamilyOrUnknown(spark, path, family)
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path)
    }

  /** [[readFlat]]'s manifest-planned scan over a State the caller
    * ALREADY read — for consumers that need params AND the scan from
    * one sidecar read (re-running readClean cost a second read plus a
    * small TOCTOU between the two on every serve-time open). */
  def readFlatFromState(spark: SparkSession, path: String, st: State,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val root = new Path(path.stripSuffix("/"))
    org.apache.spark.sql.GraftColumnBridge.parquetOverFileIndex(spark,
      new graft.plans.ManifestFileIndex(root,
        new org.apache.spark.sql.types.StructType(),
        Seq((org.apache.spark.sql.catalyst.InternalRow.empty,
          st.files.map(f => (new Path(root, f.file), f.bytes))))),
      schema)
  }

  /** The staged-append PROTOCOL, shared by every flat family (one
    * place to fix — the exact/minhash/winnow appends previously each
    * hand-rolled it): under the writer lease, read the in-lease state,
    * build the delta writer from it (`mkWrite` receives the state so
    * params cost no second manifest read), then either plain-append
    * for a legacy manifest-less artifact or run the dirty-bracketed
    * [[ManifestLog.stageAndRename]] roll-forward. Ends with a catalog
    * refresh: the staging's raw FS renames bypass Spark's
    * FileStatusCache invalidation (the old `mode("append")` writes
    * invalidated it), and a DISCOVERING reader — or a later
    * compaction's `spark.read.parquet` — planning from a stale cached
    * listing would silently miss the appended files. */
  def appendStaged(spark: SparkSession, path: String, family: String)(
      mkWrite: Option[State] => String => Unit): Unit =
    MaintenanceProtocol.withLease(spark, path, "delta_append") {
      import MaintenanceProtocol.timed
      val state0 = timed("  flat_read_state")(readClean(spark, path, family))
      if (state0.isEmpty) requireFamilyOrUnknown(spark, path, family)
      val writeDelta = mkWrite(state0)
      state0 match {
        case None => writeDelta(path)
        case Some(st) =>
          MaintenanceProtocol.markDirty(spark, path)
          val entries = timed("  flat_stage_write")(
            ManifestLog.stageAndRename(spark, path)(writeDelta))
            .map(s => FileEntry(s.file, s.bytes, s.rows))
          // incremental roll-forward: one _manifest_log delta ∝ the
          // batch's own files (auto-folds at the threshold) — the base
          // _manifest is NOT rewritten per append
          timed("  flat_commit")(commit(spark, path, st, st.adding(entries)))
          MaintenanceProtocol.clearDirty(spark, path)
      }
      spark.catalog.refreshByPath(path)
    }

  /** Maintenance observability for a FLAT artifact from ONE manifest
    * read — [[graft.operators.Similarity.postingsFragmentationReport]]'s
    * shape for the exact/minhash/winnow families, so operators compact
    * on EVIDENCE instead of cadence: `appended_files` (files since the
    * last build/compaction, from the [[BaseFilesParam]] the rebuild
    * stamps; -1 when the artifact predates the marker), total
    * files/rows/bytes, the outstanding `_manifest_log` depth, and the
    * manifest status (`clean`/`dirty`/`absent` — a dirty or absent
    * sidecar is itself the compaction signal, and the report then
    * falls back to one directory rebuild for its numbers). */
  def flatFragmentationReport(spark: SparkSession, path: String,
      family: String): DataFrame = {
    import spark.implicits._
    val stateOpt = readClean(spark, path, family)
    val status =
      if (stateOpt.nonEmpty) "clean"
      else if (MaintenanceProtocol.isDirty(spark, path)) "dirty"
      else "absent"
    val st = stateOpt.getOrElse(rebuild(spark, path, family, Map.empty))
    val baseFiles = st.params.get(BaseFilesParam).map(_.toLong)
    Seq((st.totalFiles.toLong,
      baseFiles.map(b => st.totalFiles - b).getOrElse(-1L),
      baseFiles.getOrElse(-1L), st.totalRows, st.totalBytes,
      st.logDeltas.toLong, status))
      .toDF("files", "appended_files", "base_files", "rows", "bytes",
        "log_deltas", "manifest")
  }
}
