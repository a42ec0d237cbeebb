package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The postings artifact's MANIFEST SIDECAR — a tiny driver-written
  * text file inside the artifact (`<artifact>/_manifest`, invisible to
  * readers: Spark's partition discovery skips `_`-prefixed paths)
  * recording every data file: `(cell, file, bytes, rows)` plus the
  * embedded artifact parameters. Storage is [[ManifestLog]]'s
  * tab-separated base + delta log (this object is its postings codec),
  * written and parsed DRIVER-SIDE through the Hadoop FS API — the
  * Delta-log shape (text actions, no Spark job): a manifest
  * roll-forward must not cost a cluster job, because it rides EVERY
  * maintenance op and its payload is file-level metadata the driver
  * already holds. (The first cut stored it as a one-task parquet
  * write; that Spark job was pure fixed overhead per append —
  * measured at fixture scale as the dominant term of q79's wall.) It exists to kill the engine's last
  * artifact-metadata-proportional costs: before it, every compaction
  * LISTED the whole artifact (183 s over 67 918 files at the r14
  * trickle posture — §6.1), every full-scan serve re-listed every cell
  * directory, and the param read still listed the root. With a clean
  * manifest, params are one small read, compaction folds only the cells
  * the manifest marks fragmented, and serving plans its scan from the
  * manifest alone ([[graft.plans.PostingsFileIndex]]) — ZERO directory
  * listings, the same move Delta Lake/Iceberg make with their
  * transaction logs (reference analogue: the warehouse's reliance on DB
  * catalogs, init-user-db.sh:119-120).
  *
  * Consistency protocol — `_manifest_dirty`, a write-ahead intent flag:
  * every maintenance op marks dirty BEFORE its first artifact mutation
  * and clears it only after the manifest is rolled forward to match.
  * Invariant: **flag absent ⟹ manifest ≡ directory truth** (spec-pinned
  * through build / fragment append / replay / recap append / compact).
  * A crash mid-maintenance strands the flag; readers then fall back to
  * directory listings ([[readClean]] returns None) and the next
  * compaction rebuilds the manifest from truth and clears the flag.
  * Same single-writer stance as the maintenance ops themselves.
  *
  * Scale: manifest size is ∝ data FILES (cells + uncompacted
  * fragments), never rows — 10⁵ entries of ~5 numbers is a
  * driver-trivial single-digit-MB read, which is exactly why file-level
  * state can live driver-side while row-level state never does.
  */
object PostingsManifest extends ManifestLog {

  /** One data file of the artifact: `file` is the part-file name inside
    * `cell=<cell>/`; `rows` its physical row count (replay duplicates
    * included — the manifest records truth, not post-dedup logic).
    * `retiredAt >= 0` marks a file a RETAINED op superseded but left on
    * disk for in-flight snapshot readers (the Delta tombstone move):
    * still physically present (the truth invariant covers it), no
    * longer part of the live artifact, deleted once at least one full
    * maintenance epoch old — by the next retained op of a LATER epoch
    * or a standalone [[graft.operators.Similarity.vacuumPostings]]. The value is the
    * manifest EPOCH of the op that retired it — what lets a vacuum
    * honor a declared retention window instead of the all-or-nothing
    * sweep. `-1` = live. */
  case class FileEntry(cell: Int, file: String, bytes: Long, rows: Long,
      retiredAt: Long = -1L) {
    def retired: Boolean = retiredAt >= 0L
  }

  /** The artifact's embedded constants (same values every data row
    * carries as iv_ columns). */
  case class Params(cells: Int, cap: Int, ck: Long, gp: Option[Int])

  /** `epoch` counts manifest roll-forwards that CHANGED the live file
    * set (every append/compact bumps it; a vacuum, which only sheds
    * tombstones, does not) — the clock retirement windows are declared
    * against. A directory-truth rebuild resets it to 0: the rebuild
    * also resurrects any tombstones as live rows (documented,
    * converged by the next fold), so no retirement arithmetic survives
    * it anyway.
    *
    * `logSeq`/`logDeltas` are READ-SIDE bookkeeping of the incremental
    * log (the highest delta sequence replayed and how many were) — they
    * are never persisted: [[commit]] uses them to name the next delta
    * file and to decide when to auto-fold. */
  case class State(params: Params, files: Seq[FileEntry],
      epoch: Long = 0L, logSeq: Long = 0L, logDeltas: Int = 0)
      extends ManifestLog.Logged[FileEntry] {
    /** The serving artifact: every consumer (reads, population stats,
      * fragmented detection) reasons over LIVE entries; retired files
      * exist only for snapshot readers that planned before the
      * compaction that retired them. */
    def live: Seq[FileEntry] = files.filterNot(_.retired)
    def perCellFiles: Map[Int, Int] =
      live.groupBy(_.cell).view.mapValues(_.size).toMap
    def perCellRows: Map[Int, Long] =
      live.groupBy(_.cell).view.mapValues(_.map(_.rows).sum).toMap
    def totalFiles: Int = live.size
    /** Replace every entry of `cells` with `entries` (the post-rewrite
      * truth for those cells) — the roll-forward all overwrite-style
      * maintenance shares. Retired entries of those cells drop too: the
      * dynamic partition overwrite that triggers this replaced the
      * whole cell DIRECTORY, retired files included (an overwrite-style
      * op ends any retention window for the cells it touches). */
    def replacingCells(cells: Set[Int], entries: Seq[FileEntry]): State =
      copy(files = files.filterNot(f => cells(f.cell)) ++ entries,
        epoch = epoch + 1)
    /** Add fragment entries (one new file per touched cell). */
    def adding(entries: Seq[FileEntry]): State =
      copy(files = files ++ entries, epoch = epoch + 1)
    /** The retained roll-forward: `folded` cells' live entries become
      * retired AT THE NEW EPOCH (files stay on disk for in-flight
      * snapshots), `entries` are their replacements. */
    def retiringCells(folded: Set[Int], entries: Seq[FileEntry]): State = {
      val e = epoch + 1
      copy(files = files.map(f =>
        if (!f.retired && folded(f.cell)) f.copy(retiredAt = e) else f)
        ++ entries, epoch = e)
    }
    /** Shed retired entries older than `retentionEpochs` (their FILES
      * are the caller's to delete first — see
      * [[graft.operators.Similarity.vacuumPostings]]); the live set and
      * the epoch are untouched. */
    def vacuumed(retentionEpochs: Long): (State, Seq[FileEntry]) = {
      val (drop, keep) = files.partition(f =>
        f.retired && epoch - f.retiredAt >= retentionEpochs)
      (copy(files = keep), drop)
    }
  }

  type Entry = FileEntry

  protected val baseHeader = "graft-postings-manifest\t3"
  protected val deltaHeader = "graft-postings-delta\t1"
  protected val entryArity = 5
  protected val keyArity = 2

  protected def encode(e: FileEntry): Seq[Any] =
    Seq(e.cell, e.file, e.bytes, e.rows, if (e.retired) e.retiredAt else "-")

  protected def decode(f: Array[String]): FileEntry =
    FileEntry(f(1).toInt, f(2), f(3).toLong, f(4).toLong,
      if (f(5) == "-") -1L else f(5).toLong)

  protected def headLines(s: State): Seq[String] =
    Seq(ManifestLog.line("params", Seq(s.params.cells, s.params.cap,
      s.params.ck, s.params.gp.getOrElse("-"), s.epoch)))

  protected def withLog(s: State, files: Seq[FileEntry], logSeq: Long,
      logDeltas: Int): State =
    s.copy(files = files, logSeq = logSeq, logDeltas = logDeltas)

  /** Every delta carries the op's epoch as an absolute value, applied
    * through max() so replay stays idempotent. */
  override protected def deltaHeadLines(s: State): Seq[String] =
    Seq(s"epoch\t${s.epoch}")

  override protected def replayLine(s: State,
      f: Array[String]): Option[State] =
    if (f(0) != "epoch") None
    else {
      require(f.length == 2,
        s"malformed delta epoch line: '${f.mkString("\t")}'")
      Some(s.copy(epoch = math.max(s.epoch, f(1).toLong)))
    }

  def manifestDir(path: String): Path = manifestPath(path)

  /** The manifest iff it is trustworthy ([[ManifestLog.readWith]]). A
    * v1 (parquet-directory) manifest from an older build returns None —
    * its artifact re-adopts through the same rebuild path a
    * manifest-less one does. A base with fewer than header + params + 1
    * file line returns None too: a postings artifact always has files,
    * so an empty list means the writer never finished. An unrecognized
    * header or a garbled line throws. */
  def readClean(spark: SparkSession, path: String): Option[State] =
    readWith(spark, path) { (lines, at) =>
      if (lines.head != baseHeader) throw new IllegalArgumentException(
        s"unrecognized manifest header at $at: '${lines.head}'")
      val p = lines(1).split('\t')
      require(p.length == 6 && p(0) == "params",
        s"malformed manifest params line at $at: '${lines(1)}'")
      val gp = if (p(4) == "-") None else Some(p(4).toInt)
      Some(State(Params(p(1).toInt, p(2).toInt, p(3).toLong, gp),
        entries(lines.drop(2), at), p(5).toLong))
    }

  /** Directory truth, the O(files) fallback the manifest exists to make
    * rare: one recursive listing for names/bytes plus the part-files'
    * footers for per-file row counts (no data pages, no per-file reader
    * initialization — a DataFrame groupBy(input_file_name).count() paid
    * ~10 ms of full reader initialization per file, 23.6 s of a 74 s
    * build over 15.5 k files, §6.1 r15). Params come from one part-file
    * footer, NOT from the manifest (this is what REBUILDS the manifest,
    * so it must not trust it). */
  def rebuild(spark: SparkSession, path: String): State = {
    import MaintenanceProtocol.timed
    val listed = timed("  rebuild_list")(
      ManifestLog.listTruth(MaintenanceProtocol.fsOf(spark, path), path))
    require(listed.nonEmpty,
      s"no postings data under $path — build with saveIvfPostings first")
    val rows = timed("  rebuild_counts")(
      ManifestLog.footerRows(spark, listed.map(_._2.getPath)))
    State(
      timed("  rebuild_params")(paramsOfFile(spark, listed.head._2.getPath)),
      listed.zip(rows).map { case ((dir, f), n) =>
        FileEntry(dir.stripPrefix("cell=").toInt, f.getPath.getName,
          f.getLen, n)
      })
  }

  /** The params one postings part-file's rows carry as iv_ columns —
    * identical in every row of every file by construction, so one head
    * row of one file is the artifact's. */
  def paramsOfFile(spark: SparkSession, file: Path): Params = {
    val head = spark.read.parquet(file.toString)
    val hr = head.select(col("iv_cells"), col("iv_cap"), col("iv_ck")).take(1)
    require(hr.nonEmpty,
      s"empty IVF postings file $file — build with saveIvfPostings")
    val gp =
      if (head.columns.contains("iv_gp"))
        Some(head.select(col("iv_gp")).take(1)(0).getInt(0))
      else None
    Params(hr(0).getInt(0), hr(0).getInt(1), hr(0).getLong(2), gp)
  }

  /** Rebuild from truth, persist, clear any stranded dirty flag
    * ([[ManifestLog.writeRebuilt]]). */
  def rebuildAndWrite(spark: SparkSession, path: String): State =
    writeRebuilt(spark, path, rebuild(spark, path))

  /** List `cells`' directories (∝ touched, never ∝ artifact) into
    * per-file entries with the given per-cell row counts — the
    * post-overwrite bookkeeping for maintenance that just rewrote those
    * cells to one file each. A cell directory with files but no count
    * is a bug and fails fast instead of recording 0 rows. */
  def entriesFromDirs(spark: SparkSession, path: String, cells: Set[Int],
      rowsPerCell: Map[Int, Long]): Seq[FileEntry] = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    cells.toSeq.flatMap { c =>
      val d = new Path(path.stripSuffix("/"), s"cell=$c")
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map(f => FileEntry(c, f.getPath.getName, f.getLen,
          rowsPerCell.getOrElse(c, sys.error(
            s"no row count for rewritten cell $c of $path"))))
    }
  }
}
