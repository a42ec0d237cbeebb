package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The format-agnostic half of the maintenance protocol — the
  * write-side twin of [[graft.plans.ManifestFileIndex]]. Every artifact
  * family that keeps a manifest sidecar (postings, packed and PQ
  * postings through [[PostingsManifest]]; the exact-hash, minhash-band
  * and winnow indexes through [[ArtifactManifest]]) brackets its
  * maintenance ops with the same two primitives:
  *
  *  - the WRITER LEASE (`<artifact>__maint_lease`, an exclusive-create
  *    sibling file): single-writer maintenance enforced as a fail-fast
  *    [[ConcurrentMaintenanceException]] instead of silent sidecar
  *    corruption;
  *  - the DIRTY FLAG (`<artifact>/_manifest_dirty`, a write-ahead
  *    intent marker): consumers trust a sidecar only when the flag is
  *    absent, so a crashed half-finished op degrades readers to their
  *    listing fallbacks, never to a stale manifest.
  *
  * Neither primitive knows the sidecar's FORMAT — that is
  * [[ManifestLog]]'s (the base + delta log, replay, commit and swap)
  * plus each family's codec. [[timed]] is the maintenance stage timer.
  */
object MaintenanceProtocol {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A second maintenance writer was detected — the fail-fast that
    * turns concurrent-maintenance sidecar corruption into an error.
    * Carries the holder's own description of itself. */
  final class ConcurrentMaintenanceException(msg: String)
    extends IllegalStateException(msg)

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------- dirty flag

  private def dirtyFlag(path: String): Path =
    new Path(path.stripSuffix("/"), "_manifest_dirty")

  def isDirty(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(dirtyFlag(path))

  /** Write-ahead intent: call BEFORE the first artifact mutation of a
    * maintenance op. One create on the artifact's filesystem. */
  def markDirty(spark: SparkSession, path: String): Unit =
    fsOf(spark, path).create(dirtyFlag(path), true).close()

  def clearDirty(spark: SparkSession, path: String): Unit =
    fsOf(spark, path).delete(dirtyFlag(path), false)

  // ------------------------------------------------------------ lease

  /** The writer lease lives as a SIBLING of the artifact
    * (`<artifact>__maint_lease`, like the `__delta_*` staging dirs) so
    * it survives even a full-overwrite rebuild of the directory — a
    * lease inside the artifact would be deleted by the very
    * `mode("overwrite")` build it is guarding. */
  def leasePath(path: String): Path =
    new Path(path.stripSuffix("/") + "__maint_lease")

  /** Enforce the single-writer contract with the filesystem's
    * exclusive-create primitive — the same move Delta Lake's log
    * commit makes. Exactly one concurrent caller wins the create;
    * every other gets a [[ConcurrentMaintenanceException]] naming the
    * holder, BEFORE its first artifact mutation. The atomicity
    * boundary per store: POSIX O_EXCL locally, server-side on
    * HDFS/ABFS/GCS, NOT a CAS on plain S3A (the lease is advisory
    * there). A writer that died holding the lease is recovered with
    * [[breakLease]] + a directory-truth rebuild; reference analogue:
    * the DB catalog serializing DDL, init-user-db.sh:119-120.
    *
    * Returns the OWNERSHIP TOKEN written into the lease file; pass it
    * to [[releaseLease]] so the release deletes only a lease this
    * caller still holds (a breakLease + re-acquire by another writer
    * must not be un-leased by the first writer's `finally`). */
  def acquireLease(spark: SparkSession, path: String, op: String): String = {
    val fs = fsOf(spark, path)
    val lp = leasePath(path)
    // plain S3 object stores make create(overwrite=false) an
    // exists-check-then-put, not a server-side CAS — the lease is
    // ADVISORY there (same boundary Delta-on-S3 documents). Say so at
    // runtime, not only in scaladoc: an operator pointing maintenance
    // at s3a:// should see the single-writer hole named once per JVM.
    val scheme = Option(lp.toUri.getScheme).getOrElse("")
    if (Set("s3", "s3a", "s3n")(scheme.toLowerCase) &&
        s3aWarned.compareAndSet(false, true))
      log.warn(s"maintenance lease on $scheme:// is ADVISORY: this " +
        "store's create(overwrite=false) is not an atomic " +
        "compare-and-swap, so two concurrent maintainers can both " +
        "acquire — serialize maintenance externally or use a store " +
        "with atomic create (HDFS/ABFS/GCS/local)")
    val token = s"$op\t${java.time.Instant.now()}\t${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName}\t${
      java.util.UUID.randomUUID()}"
    val won = fs match {
      // Hadoop's LOCAL create(overwrite=false) is exists-check-then-
      // create — a TOCTOU window two same-box writers can both slip
      // through. POSIX O_CREAT|O_EXCL (java.io createNewFile) is the
      // real atomic primitive there. Remote filesystems take the
      // Hadoop call — HDFS/ABFS/GCS make it a true server-side CAS,
      // plain S3A does not (warned above).
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val f = new java.io.File(lp.toUri.getPath)
        Option(f.getParentFile).foreach(_.mkdirs())
        if (!f.createNewFile()) false
        else {
          // won the create; a FAILED token write must not strand an
          // unreadable lease that blocks every writer until a manual
          // breakLease — release what we just took, then rethrow
          try {
            val out = new java.io.FileOutputStream(f)
            try out.write(token.getBytes("UTF-8")) finally out.close()
          } catch {
            case e: Throwable =>
              try f.delete() catch { case _: Throwable => () }
              throw e
          }
          true
        }
      case _ =>
        try {
          val out = fs.create(lp, false)
          try {
            try out.write(token.getBytes("UTF-8")) finally out.close()
          } catch {
            case e: Throwable => // as above: release the won lease
              try fs.delete(lp, false) catch { case _: Throwable => () }
              throw e
          }
          true
        } catch {
          // the Hadoop FS contract's exists signal (a create failing
          // for OTHER reasons — network, quota — propagates: it is an
          // error, not a lost race)
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }
    if (!won) {
      val holder =
        try {
          val in = fs.open(lp)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch { case _: Throwable => "<unreadable>" }
      throw new ConcurrentMaintenanceException(
        s"another maintenance writer holds the lease on $path " +
          s"[$holder] — artifact maintenance is single-writer; if " +
          "that writer is dead, breakLease and rebuild/compact to recover")
    }
    token
  }

  private val s3aWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Release a lease UNCONDITIONALLY — the legacy/operator form.
    * Prefer the token-checked overload from acquire/release pairs;
    * this one is semantically [[breakLease]] without the return. */
  def releaseLease(spark: SparkSession, path: String): Unit =
    fsOf(spark, path).delete(leasePath(path), false)

  /** Release the lease ONLY if the on-disk token still matches `token`
    * (the value [[acquireLease]] returned): after a breakLease +
    * re-acquire by a second writer, the first writer's `finally` must
    * not delete the NEW holder's lease and reopen the single-writer
    * hole for a third. A mismatch (or an unreadable lease file) skips
    * the delete and logs — the current holder's own release will clean
    * it up.
    *
    * RESIDUAL window, stated honestly: the check is read-then-delete
    * (no filesystem offers an atomic compare-and-delete), so a writer
    * that stalls BETWEEN its token read and its delete while an
    * operator breaks the lease and a new writer acquires can still
    * delete the new holder's file. The token check shrinks the exposed
    * window from the whole op body to two adjacent FS calls; closing
    * it entirely needs a lock service. Operational rule unchanged:
    * breakLease only writers confirmed dead, never slow ones. */
  def releaseLease(spark: SparkSession, path: String, token: String): Unit = {
    val fs = fsOf(spark, path)
    val lp = leasePath(path)
    val onDisk =
      try {
        val in = fs.open(lp)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      } catch { case _: Throwable => None }
    onDisk match {
      case Some(t) if t == token.trim => fs.delete(lp, false)
      case Some(other) =>
        log.warn(s"not releasing lease on $path: on-disk token " +
          s"[$other] is no longer this writer's — it was broken and " +
          "re-acquired while this op ran; the current holder owns cleanup")
      case None =>
        log.warn(s"not releasing lease on $path: lease file absent or " +
          "unreadable (already broken/released by an operator)")
    }
  }

  /** Operator-explicit recovery from a writer that died holding the
    * lease. Returns whether a lease file existed. */
  def breakLease(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).delete(leasePath(path), false)

  /** Acquire the writer lease, run one maintenance op, release. The
    * release sits in `finally`: an op that THROWS has already recorded
    * its incompleteness in the dirty flag (readers degrade to listing
    * truth), so holding the lease past it would only block recovery.
    * The op-total timing shows how much of an op is driver-side
    * planning/commit BETWEEN its stages. */
  def withLease[A](spark: SparkSession, path: String, op: String)(
      body: => A): A =
    timed(s"OP $op") {
      val token = acquireLease(spark, path, op)
      try body finally releaseLease(spark, path, token)
    }

  /** Env-gated stage timing for the maintenance routes: with
    * GRAFT_MAINT_TIMING set, one `[maint] <label> <seconds> s` line on
    * stderr per stage (nesting shown by the label's indent) — the
    * observability that attributed the fragment-append wall to its
    * stages instead of guessing. */
  def timed[A](label: String)(body: => A): A =
    if (!sys.env.contains("GRAFT_MAINT_TIMING")) body
    else {
      val t0 = System.nanoTime()
      try body finally System.err.println(
        f"[maint] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  // ----------------------------------------------------- bulk delete

  /** Delete many FILES under `base` through Hadoop's bulk-delete API
    * (3.4+, HADOOP-18679): pages of up to `pageSize()` paths per store
    * round-trip — S3's multi-object delete turns 10⁵ tombstone deletes
    * from 10⁵ HTTP calls into a few hundred; local/HDFS report page
    * size 1 and degrade to exactly the per-file calls the callers made
    * before, so this is free insurance, not a behavior change.
    * Deleting an already-missing path is success per the API contract
    * (idempotent replays); any real failure throws with the first
    * failing path named. */
  def bulkDeleteFiles(fs: FileSystem, base: Path, paths: Seq[Path]): Unit = {
    if (paths.isEmpty) return
    import scala.jdk.CollectionConverters._
    val bd = fs.createBulkDelete(base)
    try {
      val page = math.max(1, bd.pageSize())
      paths.grouped(page).foreach { batch =>
        val failures = bd.bulkDelete(batch.asJava)
        if (!failures.isEmpty) {
          val first = failures.get(0)
          throw new java.io.IOException(
            s"bulk delete failed for ${failures.size()} of ${batch.size} " +
              s"paths under $base — first: ${first.getKey} " +
              s"(${first.getValue})")
        }
      }
    } finally bd.close()
  }
}
