package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The driver-written manifest log every sidecar artifact family runs
  * on: a base file `<artifact>/_manifest` plus incremental
  * `<artifact>/_manifest_log/delta.<seq>` files, all tab-separated text
  * written and parsed through the Hadoop FS API with no Spark job (the
  * Delta-log shape; reference analogue: the warehouse keeps this state
  * in its DB catalog, init-user-db.sh:119-120). Spark's partition
  * discovery skips `_`-prefixed paths, so plain readers never see it.
  *
  * Held here once, for every family:
  *  - the trusted read ([[readWith]]): present, not dirty, parsed, the
  *    log replayed, the dirty flag re-checked; a base or delta that
  *    vanishes mid-read (a concurrent fold) gets one retry, then
  *    degrades to the caller's listing fallback;
  *  - the replay: an idempotent keyed upsert in first-seen order, so an
  *    already-folded delta re-applies harmlessly;
  *  - [[commit]]: the `prev` → `next` diff as one delta, I/O ∝ the op's
  *    touched set, folding into a full [[write]] at [[FoldThreshold]];
  *  - [[write]]: swap the base first, then clear the log;
  *  - the directory-truth rewrite ordering ([[writeRebuilt]]) and the
  *    `_manifest.tmp-` sweep ([[listTruth]]);
  *  - [[swapText]], the one tmp+rename text swap, and [[stageAndRename]],
  *    the one staged landing of new data files.
  *
  * A family supplies its codec: the two headers, the lines between the
  * base header and the file lines, and one entry's fields — the same
  * fields after a base `file` tag and a delta `set` tag, the first
  * [[keyArity]] of them forming the key a delta `del` carries. The
  * dirty flag and the writer lease are [[MaintenanceProtocol]]'s.
  */
abstract class ManifestLog {

  type Entry
  type State <: ManifestLog.Logged[Entry]

  protected val baseHeader: String
  protected val deltaHeader: String
  /** Fields of an entry line after its tag. */
  protected val entryArity: Int
  /** Leading entry fields that identify the entry (a `del` payload). */
  protected val keyArity: Int
  protected def encode(e: Entry): Seq[Any]
  /** Decode an entry line split on tabs; field 0 is the tag. */
  protected def decode(f: Array[String]): Entry
  /** The base lines between the header and the file lines. */
  protected def headLines(s: State): Seq[String]
  protected def withLog(s: State, files: Seq[Entry], logSeq: Long,
      logDeltas: Int): State
  /** Delta lines written before the entry actions. */
  protected def deltaHeadLines(s: State): Seq[String] = Nil
  /** Apply a delta line that is neither `set` nor `del`; None rejects it. */
  protected def replayLine(s: State, f: Array[String]): Option[State] = None
  /** A commit that must rewrite the base instead of logging a delta. */
  protected def mustFold(prev: State, next: State): Boolean = false

  import ManifestLog._

  def manifestPath(path: String): Path =
    new Path(path.stripSuffix("/"), "_manifest")

  /** The incremental log, one delta file per maintenance op. Listing it
    * costs ∝ outstanding deltas (bounded by [[FoldThreshold]]), never ∝
    * data files; what it buys is a manifest write ∝ the op's own
    * touched set — the single-file rewrite was O(artifact files) per
    * append, a multi-second driver write at 10⁶ files. */
  def logDir(path: String): Path =
    new Path(path.stripSuffix("/"), "_manifest_log")

  /** Read cost is bounded by base + this many delta files; compaction
    * folds regardless. 32 ops of slack keeps a trickle-append
    * artifact's read cheap without an O(total-files) base rewrite on
    * every append. */
  val FoldThreshold = 32

  private def key(e: Entry): String = encode(e).take(keyArity).mkString("\t")

  /** Entries of base `file` lines; a garbled line throws (tmp+rename
    * makes partial writes impossible, so it means a bug, not a crash). */
  protected def entries(fileLines: Seq[String], at: Path): Seq[Entry] =
    fileLines.map { l =>
      val f = l.split('\t')
      require(f.length == 1 + entryArity && f(0) == "file",
        s"malformed manifest file line at $at: '$l'")
      decode(f)
    }

  /** The manifest iff it is trustworthy: present AND not dirty. A
    * stranded dirty flag degrades every consumer to its listing
    * fallback instead of serving a manifest that may omit files a
    * half-finished op already renamed in. `parse` turns the base lines
    * (at least header, head and one more) into the base state, or None
    * for a shape the consumer can sanely degrade from; a base with
    * fewer lines degrades here (planning zero files would serve EMPTY
    * results where the listing fallback serves truth). */
  protected def readWith(spark: SparkSession, path: String)(
      parse: (Vector[String], Path) => Option[State]): Option[State] =
    readAttempt(spark, path, parse) match {
      case Right(res) => res
      case Left(()) =>
        // a file vanished mid-read — a concurrent fold's write() just
        // swapped the base and cleared the log. The folded base embeds
        // the deltas, so ONE fresh attempt sees a consistent state; a
        // second miss means active churn — degrade rather than spin.
        readAttempt(spark, path, parse).fold(_ => None, identity)
    }

  /** Right(state-or-degrade) on a consistent read, Left(()) when the
    * base or a delta vanished underneath it. After a successful parse
    * the dirty flag is RE-CHECKED: a writer that marked dirty between
    * the leading check and the reads may already have swapped the base
    * or emptied the log, and trusting that torn state could plan files
    * a concurrent vacuum just deleted. */
  private def readAttempt(spark: SparkSession, path: String,
      parse: (Vector[String], Path) => Option[State])
      : Either[Unit, Option[State]] = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    val dest = manifestPath(path)
    if (MaintenanceProtocol.isDirty(spark, path) || !fs.exists(dest) ||
        fs.getFileStatus(dest).isDirectory) Right(None)
    else readLines(fs, dest) match {
      case None => Left(())
      case Some(lines) if lines.length < 3 => Right(None)
      case Some(lines) => parse(lines, dest) match {
        case None => Right(None)
        case Some(base) => replay(fs, path, base) match {
          case None => Left(())
          case Some(st) =>
            Right(if (MaintenanceProtocol.isDirty(spark, path)) None
              else Some(st))
        }
      }
    }
  }

  /** Fold the log over a freshly parsed base: one listing of the log
    * dir, then each delta's actions keyed by entry key. IDEMPOTENT —
    * `set` is an absolute upsert and `del` of an absent key a no-op —
    * so a fold that crashed between swapping the base and clearing the
    * log re-applies its deltas harmlessly. Only `delta.*` files replay;
    * a stranded swap tmp never matches. None = a listed delta vanished
    * before it could be read (a concurrent fold): the caller retries,
    * since throwing would turn that benign race into a serve failure. */
  private def replay(fs: FileSystem, path: String,
      base: State): Option[State] = {
    val ld = logDir(path)
    val deltas =
      if (!fs.exists(ld)) Array.empty[FileStatus]
      else fs.listStatus(ld)
        .filter(s => s.isFile && s.getPath.getName.startsWith("delta."))
        .sortBy(_.getPath.getName)
    if (deltas.isEmpty) return Some(base)
    // first-seen order (base order, then delta arrival order) keeps
    // plans deterministic across read paths
    val order = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    base.files.foreach(e => order(key(e)) = e)
    var st = base
    deltas.foreach { d =>
      val lines = readLines(fs, d.getPath).getOrElse(return None)
      require(lines.nonEmpty && lines.head == deltaHeader,
        s"unrecognized manifest delta at ${d.getPath}: " +
          s"'${lines.headOption.getOrElse("<empty>")}'")
      lines.drop(1).foreach { l =>
        val f = l.split('\t')
        f(0) match {
          case "del" =>
            require(f.length == 1 + keyArity, s"malformed delta del line: '$l'")
            order.remove(f.drop(1).mkString("\t"))
          case "set" =>
            require(f.length == 1 + entryArity,
              s"malformed delta set line: '$l'")
            val e = decode(f)
            order(key(e)) = e
          case other =>
            st = replayLine(st, f).getOrElse(throw new IllegalArgumentException(
              s"unrecognized delta action '$other' at ${d.getPath}"))
        }
      }
    }
    Some(withLog(st, order.values.toVector,
      deltas.last.getPath.getName.stripPrefix("delta.").toLong, deltas.length))
  }

  /** Roll the manifest forward INCREMENTALLY: persist only the diff
    * `prev` → `next` as one delta file. Folds (full [[write]] + log
    * clear) instead when the outstanding log reaches [[FoldThreshold]]
    * or the family's [[mustFold]] says so. `prev` MUST be the trusted
    * state the op rolled forward from (read inside its lease); the
    * caller owns the dirty-flag bracket. Returns the state as a
    * subsequent reader would see it. */
  def commit(spark: SparkSession, path: String, prev: State,
      next: State): State = {
    if (prev.logDeltas + 1 >= FoldThreshold || mustFold(prev, next)) {
      write(spark, path, next)
      return withLog(next, next.files, 0L, 0)
    }
    val prevByKey = prev.files.map(e => key(e) -> e).toMap
    val nextKeys = next.files.map(key).toSet
    val dels = prev.files.filterNot(e => nextKeys(key(e)))
    val sets = next.files.filterNot(e => prevByKey.get(key(e)).contains(e))
    val seq = prev.logSeq + 1
    swapText(MaintenanceProtocol.fsOf(spark, path),
      new Path(logDir(path), f"delta.$seq%012d"),
      Iterator(deltaHeader) ++ deltaHeadLines(next) ++
        dels.iterator.map(e => line("del", encode(e).take(keyArity))) ++
        sets.iterator.map(e => line("set", encode(e))))
    withLog(next, next.files, seq, prev.logDeltas + 1)
  }

  /** Persist `state` as the base. A full write IS a fold: the base now
    * embeds every outstanding delta (or, for a directory-truth rewrite,
    * supersedes them), so the log clears — base first, so a crash
    * between the two leaves already-folded deltas whose replay is
    * idempotent. Does NOT touch the dirty flag: the caller owns the
    * protocol ordering. */
  def write(spark: SparkSession, path: String, state: State): Unit = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    swapText(fs, manifestPath(path),
      Iterator(baseHeader) ++ headLines(state) ++
        state.files.iterator.map(e => line("file", encode(e))))
    fs.delete(logDir(path), true)
  }

  /** Persist a directory-truth state and clear the dirty flag — the
    * recovery step, and the adoption step for a manifest-less artifact.
    * The log is deleted FIRST: the rebuilt base supersedes it, and
    * clearing before the swap closes the one window where a crash
    * could leave a fresh base next to stale deltas it does not embed
    * (every caller is in recovery or adoption — there is no clean
    * committed log to lose). */
  protected def writeRebuilt(spark: SparkSession, path: String,
      s: State): State = {
    MaintenanceProtocol.fsOf(spark, path).delete(logDir(path), true)
    write(spark, path, s)
    MaintenanceProtocol.clearDirty(spark, path)
    s
  }
}

object ManifestLog {

  /** What the log needs of a family's state: its entries and the
    * READ-SIDE bookkeeping of the log (the highest delta sequence
    * replayed and how many were) — never persisted: [[ManifestLog.commit]]
    * uses them to name the next delta and to decide when to fold. */
  trait Logged[E] {
    def files: Seq[E]
    def logSeq: Long
    def logDeltas: Int
  }

  /** One tab-separated line; a token holding a tab or newline would
    * corrupt the format, so it fails instead. */
  def line(tag: String, fields: Seq[Any]): String = {
    val ts = fields.map(_.toString)
    require(!ts.exists(t => t.contains('\t') || t.contains('\n')),
      s"unencodable manifest token in a '$tag' line: ${ts.mkString(" | ")}")
    (tag +: ts).mkString("\t")
  }

  /** The file's lines, or None when it vanished before it was read. */
  private def readLines(fs: FileSystem, p: Path): Option[Vector[String]] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .toVector)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** [[swapText]]'s tmp file for `dest`: `_<name>.tmp-<uuid>` in the
    * same directory — `_`-prefixed, so Spark's listing skips it, and
    * matching neither the replay's `delta.*` nor the data readers'
    * `part-*`, so a stranded one is never read as data or replayed. */
  def tmpFor(dest: Path): Path = new Path(dest.getParent,
    s"_${dest.getName.stripPrefix("_")}.tmp-${java.util.UUID.randomUUID()}")

  /** Replace `dest` with `lines` through a tmp file ([[tmpFor]]) +
    * rename: a reader sees the old file, no file (the brief window
    * between delete and rename degrades it to its listing fallback), or
    * the new one — never a partial write. A failed write deletes its
    * own tmp; one stranded by a process crash is swept by the next
    * directory-truth rebuild ([[listTruth]]) or deleted with the log. */
  def swapText(fs: FileSystem, dest: Path, lines: Iterator[String]): Unit = {
    val tmp = tmpFor(dest)
    try {
      val out = fs.create(tmp, true)
      try {
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(out, "UTF-8"))
        lines.foreach { l => w.write(l); w.newLine() }
        w.flush()
      } finally out.close()
      fs.delete(dest, true)
      require(fs.rename(tmp, dest), s"manifest swap failed: $tmp -> $dest")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** `part-` files at the root of `listing`'s directory or one `k=v`
    * level down, each with its directory name ("" at the root). */
  private def partFiles(fs: FileSystem,
      listing: Array[FileStatus]): Seq[(String, FileStatus)] = {
    def parts(ls: Array[FileStatus]) =
      ls.filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    parts(listing).toSeq.map(("", _)) ++ listing
      .filter(d => d.isDirectory && d.getPath.getName.contains('='))
      .toSeq.flatMap(d =>
        parts(fs.listStatus(d.getPath)).map((d.getPath.getName, _)))
  }

  /** Directory truth for a rebuild: the artifact's data files, listed
    * once. Also sweeps `_manifest.tmp-*` files a crash stranded mid-swap
    * — here, not on the fast paths: the rebuild pays this listing
    * anyway. */
  def listTruth(fs: FileSystem, path: String): Seq[(String, FileStatus)] = {
    val listing = fs.listStatus(new Path(path.stripSuffix("/")))
    listing
      .filter(s => s.isFile && s.getPath.getName.startsWith("_manifest.tmp-"))
      .foreach(s => fs.delete(s.getPath, false))
    partFiles(fs, listing)
  }

  /** Per-file row counts from the files' parquet footers (no data
    * pages, no per-file reader initialization), in `files` order. A
    * file without a footer count fails fast: a silent 0 would corrupt
    * the manifest's row accounting. */
  def footerRows(spark: SparkSession, files: Seq[Path]): Seq[Long] = {
    val byPath = org.apache.spark.sql.GraftColumnBridge
      .parquetFooterRowCounts(spark, files.map(_.toString))
    files.map(p => byPath.getOrElse(p.toString,
      sys.error(s"no parquet footer row count for $p")))
  }

  /** A data file landed by [[stageAndRename]]: `dir` is its `k=v`
    * directory inside the artifact ("" at the root). */
  case class Staged(dir: String, name: String, bytes: Long, rows: Long) {
    def file: String = relPath(dir, name)
  }

  /** A data file's path relative to the artifact root. */
  def relPath(dir: String, name: String): String =
    if (dir.isEmpty) name else s"$dir/$name"

  /** Land new data files INSIDE the artifact without listing it:
    * `writeTmp` writes them into the supplied fresh sibling staging dir
    * `<artifact>__delta_<uuid>` (nothing to list there), then each
    * `part-` file — at the staging root or one `k=v` level down — is
    * renamed to the same place in the artifact. FS metadata ops ∝ the
    * batch's own files, nothing ∝ the artifact; part-file names carry
    * the write job's UUID, so renames cannot collide. Rows come from
    * the landed files' footers, so callers need no count pass over the
    * staged frame. A crash mid-rename leaves a partial landing (the
    * at-least-once posture the appends document) and a stale staging
    * dir for [[sweepStaleDeltas]]. */
  def stageAndRename(spark: SparkSession, path: String)(
      writeTmp: String => Unit): Seq[Staged] = {
    import MaintenanceProtocol.timed
    val root = new Path(path.stripSuffix("/"))
    val tmp = new Path(s"${root}__delta_${java.util.UUID.randomUUID()}")
    val fs = MaintenanceProtocol.fsOf(spark, path)
    val landed =
      try {
        timed("stage_write_tmp")(writeTmp(tmp.toString))
        timed("stage_rename") {
          partFiles(fs, fs.listStatus(tmp)).map { case (dir, f) =>
            val destDir = if (dir.isEmpty) root else new Path(root, dir)
            if (dir.nonEmpty) fs.mkdirs(destDir)
            val dest = new Path(destDir, f.getPath.getName)
            require(fs.rename(f.getPath, dest),
              s"staging rename failed: ${f.getPath} -> $destDir")
            (dir, dest, f.getLen)
          }
        }
      } finally timed("stage_cleanup")(fs.delete(tmp, true))
    val rows = timed("stage_footer_rows")(
      footerRows(spark, landed.map(_._2)))
    landed.zip(rows).map { case ((dir, dest, bytes), n) =>
      Staged(dir, dest.getName, bytes, n)
    }
  }

  /** Delete orphaned staging siblings (`<artifact>__delta_*`):
    * [[stageAndRename]] removes its staging dir in a finally, so one
    * survives only a DRIVER crash mid-landing — but those accumulate
    * next to the artifact forever, invisible to readers yet billable
    * storage. Compaction is the artifact's exclusive-maintenance
    * window, so every staging dir it finds is stale and is swept
    * unconditionally; the crashed batch itself replays, and the same
    * compaction dedups the rows that did land. */
  def sweepStaleDeltas(spark: SparkSession, path: String): Int = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    val artifactRoot = new Path(path.stripSuffix("/"))
    val parent = artifactRoot.getParent
    if (parent == null) 0
    else {
      val prefix = artifactRoot.getName + "__delta_"
      val stale = fs.listStatus(parent)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith(prefix))
      stale.foreach(d => fs.delete(d.getPath, true))
      stale.length
    }
  }
}
