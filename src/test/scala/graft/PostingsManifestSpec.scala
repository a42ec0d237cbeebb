package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MaintenanceProtocol, PostingsManifest, Similarity}
import graft.operators.CoarseQuantizer.{Flat, TwoLevel}
import graft.operators.Similarity.MaintenanceMode.{Auto, Fragment, Retained}
import graft.operators.Similarity.PostingsSource

/** The postings manifest sidecar's one invariant, pinned through every
  * lifecycle op: **dirty-flag absent ⟹ manifest ≡ directory truth**
  * (per-cell file names, byte sizes, and physical row counts — replay
  * duplicates included). Plus the protocol edges: a stranded dirty flag
  * demotes every consumer to its listing fallback, compaction recovers
  * (rebuild + clear), and the sidecar is invisible to plain artifact
  * readers.
  */
class PostingsManifestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def fs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Directory truth, gathered independently of PostingsManifest's own
    * rebuild code: FS listing for names/bytes + a full-read count for
    * per-file rows. */
  private def truth(path: String): Set[(Int, String, Long, Long)] = {
    val f = fs(path)
    spark.catalog.refreshByPath(path)
    // keyed by (cell, name): one writer TASK reuses its part-file name
    // across every cell directory it writes, so names alone collide
    val rowsPerFile = spark.read.parquet(path)
      .groupBy(col("cell").cast("int").as("cell"),
        input_file_name().as("fn")).count()
      .as[(Int, String, Long)].collect()
      .map { case (c, fn, n) =>
        (c, fn.substring(fn.lastIndexOf('/') + 1)) -> n }
      .toMap
    f.listStatus(new Path(path))
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
      .flatMap { d =>
        val cell = d.getPath.getName.stripPrefix("cell=").toInt
        f.listStatus(d.getPath)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map(s => (cell, s.getPath.getName, s.getLen,
            rowsPerFile((cell, s.getPath.getName))))
      }.toSet
  }

  private def manifestSet(path: String): Set[(Int, String, Long, Long)] = {
    val st = PostingsManifest.readClean(spark, path)
    assert(st.nonEmpty, "manifest must be present and clean")
    st.get.files.map(e => (e.cell, e.file, e.bytes, e.rows)).toSet
  }

  private def assertManifestIsTruth(path: String, where: String): Unit = {
    assert(!MaintenanceProtocol.isDirty(spark, path),
      s"$where: dirty flag must be cleared")
    assert(manifestSet(path) == truth(path),
      s"$where: manifest diverged from directory truth")
  }

  private def freshArtifact(cap: Int = 16): (String,
      org.apache.spark.ml.clustering.KMeansModel, Array[Array[Double]]) = {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val path = tempDir("graft_manifest").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(emb.filter($"vec_id" % 4 === 0), Flat(model), cap),
      path)
    (path, model, model.clusterCenters.map(_.toArray))
  }

  test("build writes a manifest equal to directory truth, invisible to readers") {
    val (path, model, _) = freshArtifact()
    assertManifestIsTruth(path, "after build")
    val st = PostingsManifest.readClean(spark, path).get
    assert(st.params.cells == 16 && st.params.cap == 16 &&
      st.params.ck == Flat(model).checksum &&
      st.params.gp.isEmpty)
    // the sidecar must not leak into the artifact's data read: schema
    // is the postings schema, row count is the manifest's own total
    val df = spark.read.parquet(path)
    assert(df.columns.toSet ==
      Set("cell", "cand_id", "cv", "cn", "d2", "iv_cells", "iv_cap", "iv_ck"))
    assert(df.count() == st.perCellRows.values.sum)
  }

  test("fragment appends + replay roll the manifest forward exactly") {
    val (path, _, cents) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val b2 = emb.filter($"vec_id" % 4 === 2)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    assertManifestIsTruth(path, "after fragment append 1")
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Fragment) // replay
    // truth counts PHYSICAL rows — the replay's duplicates included
    assertManifestIsTruth(path, "after replayed fragment append")
    // and compaction folds it all back to 1-file-per-cell truth
    val (nFrag, before, after) = Similarity.compactIvfPostings(spark, path)
    assert(nFrag > 0 && after < before)
    assertManifestIsTruth(path, "after compaction")
    assert(PostingsManifest.readClean(spark, path).get
      .perCellFiles.values.forall(_ == 1))
  }

  test("recap retained appends roll the manifest forward exactly") {
    val (path, model, _) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    (1 to 3).foreach { i =>
      Similarity.appendIvfPostings(spark, path, Flat(model),
        emb.filter($"vec_id" % 4 === i), Retained)
      assertManifestIsTruth(path, s"after recap append $i")
    }
  }

  test("a stranded dirty flag demotes consumers and compaction recovers") {
    val (path, _, cents) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      emb.filter($"vec_id" % 4 === 1), Fragment)
    // simulate a crash mid-append: a fragment landed that the manifest
    // never heard about, and the write-ahead flag is still up
    val f = fs(path)
    val aCell = f.listStatus(new Path(path))
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
      .head.getPath
    val aFile = f.listStatus(aCell)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")).head
    org.apache.hadoop.fs.FileUtil.copy(f, aFile.getPath, f,
      new Path(aCell, "part-crashed-" + aFile.getPath.getName.drop(5)),
      false, spark.sparkContext.hadoopConfiguration)
    MaintenanceProtocol.markDirty(spark, path)
    // consumers must refuse the (now stale) manifest
    assert(PostingsManifest.readClean(spark, path).isEmpty)
    // compaction falls back to directory truth: it must SEE the crashed
    // duplicate file (the stale manifest didn't), fold it, and leave a
    // clean rebuilt manifest behind
    val (nFrag, _, _) = Similarity.compactIvfPostings(spark, path)
    assert(nFrag > 0, "fallback compaction must fold the crashed file")
    assertManifestIsTruth(path, "after recovery compaction")
  }

  test("manifest-less artifacts work end to end and compaction adopts them") {
    val (path, model, cents) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    // legacy artifact: no sidecar at all
    fs(path).delete(PostingsManifest.manifestDir(path), true)
    assert(PostingsManifest.readClean(spark, path).isEmpty)
    // footer-path params still drive the fragment append
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      emb.filter($"vec_id" % 4 === 1), Fragment)
    assert(PostingsManifest.readClean(spark, path).isEmpty,
      "a fragment append must not invent a manifest for a legacy artifact")
    // a recap append adopts first: the compaction's directory-truth fold
    // (the fragments included) + a fresh manifest, then the retained recap
    Similarity.appendIvfPostings(spark, path, Flat(model),
      emb.filter($"vec_id" % 4 === 2), Retained)
    assertManifestIsTruth(path, "after the adopting recap append")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.ivfPostings(emb.filter($"vec_id" % 4 =!= 3),
        Flat(model), 16)),
      "adoption + recap must land the from-scratch build")
    Similarity.compactIvfPostings(spark, path)
    assertManifestIsTruth(path, "after compaction")
    // from here on, appends maintain it
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      emb.filter($"vec_id" % 4 === 3), Fragment)
    assertManifestIsTruth(path, "after post-adoption append")
  }

  test("readPostings serves from the manifest FileIndex: equal rows, pruned files") {
    val (path, model, cents) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      emb.filter($"vec_id" % 4 === 1), Fragment)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.refreshByPath(path)
    val viaIndex = Similarity.readPostings(spark, path)
    // planned from the manifest, not a discovered listing
    assert(viaIndex.queryExecution.executedPlan.toString
      .contains("PostingsFileIndex"),
      "manifest-backed read must plan over PostingsFileIndex")
    assert(rows(viaIndex) == rows(spark.read.parquet(path)),
      "manifest-served read must equal the discovering read")
    // partition pruning against the manifest's cell values: a cell
    // filter reads only those cells' files
    val cellsAll = viaIndex.select($"cell").distinct().as[Int]
      .collect().sorted
    val probe = cellsAll.take(2).toSeq
    val readFiles = viaIndex.filter($"cell".isin(probe: _*))
      .select(input_file_name()).distinct().as[String].collect()
    assert(readFiles.nonEmpty &&
      readFiles.forall(f => probe.exists(c => f.contains(s"cell=$c/"))),
      s"pruned read touched foreign files: ${readFiles.toSeq}")
    // serving through the index equals serving through the plain read
    val k = 3
    val queries = emb.filter($"vec_id" < 10)
    def serve(src: Similarity.PostingsSource) =
      Similarity.ivfTopKFromPostings(queries, Flat(cents), src,
        probes = 2, k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(serve(PostingsSource.Classic(path)) ==
      serve(PostingsSource.Frame(spark.read.parquet(path))))
    // the two-level artifact carries iv_gp — schema derivation branch
    val gcs = Similarity.fitIvfHierarchical(emb, numGroups = 4,
      cellsPerGroup = 4, trainFraction = 0.5)
    val path2 = tempDir("graft_manifest_2l").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(emb, TwoLevel(gcs, 2)), path2)
    val via2 = Similarity.readPostings(spark, path2)
    assert(via2.columns.contains("iv_gp"))
    assert(rows(via2) == rows(spark.read.parquet(path2)))
    // fallback: no manifest → discovering read, same rows
    fs(path).delete(PostingsManifest.manifestDir(path), true)
    val fallback = Similarity.readPostings(spark, path)
    assert(!fallback.queryExecution.executedPlan.toString
      .contains("PostingsFileIndex"))
    assert(rows(fallback) == rows(viaIndex))
  }

  test("auto append routes by the regime law; both routes land the rebuild") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet

    // posture 1: batch ≈ touched populations (seed and batch are the
    // same size) → ratio ≈ 1–3 → RECAP — and the DEFAULT recap is the
    // RETAINED one (manifest present ⟹ retained: measured faster AND
    // snapshot-safe), immediately rebuild-equal through readPostings
    val p1 = tempDir("graft_auto_r").toString
    val seed1 = emb.filter($"vec_id" % 2 === 0)
    val b1 = emb.filter($"vec_id" % 2 === 1)
    Similarity.saveIvfPostings(Similarity.ivfPostings(seed1, Flat(model)), p1)
    val r1 = Similarity.appendIvfPostingsAuto(spark, p1, cents, b1)
    assert(r1.route == "recap_retained" && r1.ratio < 4.0,
      s"equal-size batch must recap (retained by default), got $r1")
    assertManifestIsTruth(p1, "after auto recap")
    assert(rows(Similarity.readPostings(spark, p1)) ==
      rows(Similarity.ivfPostings(emb, Flat(model))))

    // posture 2: populations ≫ batch (a trickle into a mature index)
    // → FRAGMENT; compaction lands the rebuild
    val p2 = tempDir("graft_auto_f").toString
    val seed2 = emb.filter($"vec_id" >= 20)
    val b2 = emb.filter($"vec_id" < 20)
    Similarity.saveIvfPostings(Similarity.ivfPostings(seed2, Flat(model)), p2)
    val r2 = Similarity.appendIvfPostingsAuto(spark, p2, cents, b2)
    assert(r2.route == "fragment" && r2.ratio >= 4.0,
      s"trickle into a mature index must fragment, got $r2")
    assertManifestIsTruth(p2, "after auto fragment")
    Similarity.compactIvfPostings(spark, p2)
    spark.catalog.refreshByPath(p2)
    assert(rows(spark.read.parquet(p2)) ==
      rows(Similarity.ivfPostings(emb, Flat(model))))

    // no manifest → adopted first (a directory-truth manifest), so the
    // ratio is observable and the same trickle fragments
    val p3 = tempDir("graft_auto_n").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(seed2, Flat(model)), p3)
    fs(p3).delete(PostingsManifest.manifestDir(p3), true)
    val r3 = Similarity.appendIvfPostingsAuto(spark, p3, cents, b2)
    assert(r3.route == "fragment" && r3.touchedRows == r2.touchedRows,
      s"an adopted artifact routes by its populations, got $r3")
    assertManifestIsTruth(p3, "after the adopting auto append")
    assert(rows(Similarity.readPostings(spark, p3)) ==
      rows(Similarity.ivfPostings(emb, Flat(model))))

    // grouped twin on a two-level artifact: same law, artifact's own gp
    val gcs = Similarity.fitIvfHierarchical(emb, numGroups = 4,
      cellsPerGroup = 4, trainFraction = 0.5)
    val p4 = tempDir("graft_auto_g").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed2, TwoLevel(gcs, 2)), p4)
    val r4 = Similarity.appendIvfPostings(spark, p4, TwoLevel(gcs, 2), b2,
      Auto())
    assert(r4.route == "fragment", s"got $r4")
    Similarity.compactIvfPostings(spark, p4)
    spark.catalog.refreshByPath(p4)
    assert(rows(spark.read.parquet(p4).drop("iv_gp")) ==
      rows(Similarity.ivfPostings(emb, TwoLevel(gcs, 2))))
    // law guards: wrong variant for the artifact kind
    intercept[IllegalArgumentException](
      Similarity.appendIvfPostings(spark, p2, TwoLevel(gcs, 2), b2, Auto()))
    intercept[IllegalArgumentException](
      Similarity.appendIvfPostingsAuto(spark, p4, gcs.flat.cents, b2))

    // retained routing: with a manifest present the recap regime runs
    // the tombstone roll-forward — an open snapshot serves through it
    val p5 = tempDir("graft_auto_rr").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(seed1, Flat(model)), p5)
    val snap = Similarity.readPostings(spark, p5)
    val want0 = rows(spark.read.parquet(p5))
    val r5 = Similarity.appendIvfPostingsAuto(spark, p5, cents, b1)
    assert(r5.route == "recap_retained", s"got $r5")
    assert(rows(snap) == want0,
      "a snapshot must serve through a retained auto append")
    assert(rows(Similarity.readPostings(spark, p5)) ==
      rows(Similarity.ivfPostings(emb, Flat(model))))
    assertManifestIsTruth(p5, "after retained auto recap")
  }

  test("fragmentation report reads the artifact's health from the manifest") {
    val (path, _, cents) = freshArtifact(cap = 8)
    val emb = Tables.load(spark, sf0001, "embeddings")
    def report(dupScan: Boolean = false) =
      Similarity.postingsFragmentationReport(spark, path, dupScan).head()
    val r0 = report()
    assert(r0.getAs[Long]("excess_files") == 0L &&
      r0.getAs[Long]("fragmented_cells") == 0L &&
      r0.getAs[String]("manifest") == "clean" &&
      r0.getAs[Long]("files") == r0.getAs[Long]("cells"))
    val b1 = emb.filter($"vec_id" % 4 === 1)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Fragment) // replay
    val r1 = report(dupScan = true)
    assert(r1.getAs[Long]("fragmented_cells") > 0L &&
      r1.getAs[Long]("excess_files") ==
        r1.getAs[Long]("files") - r1.getAs[Long]("cells"))
    // every replayed row is a duplicate — the dup scan must count it
    val b1Assigned = Similarity.ivfPostings(b1,
      Flat(Similarity.fitIvfIndex(emb, 16, 42L, trainFraction = 0.5))).count()
    assert(r1.getAs[Long]("dup_rows") == b1Assigned,
      s"dup_rows ${r1.getAs[Long]("dup_rows")} != replay size $b1Assigned")
    Similarity.compactIvfPostings(spark, path)
    val r2 = report(dupScan = true)
    assert(r2.getAs[Long]("fragmented_cells") == 0L &&
      r2.getAs[Long]("dup_rows") == 0L &&
      r2.getAs[Long]("overcap_cells") == 0L)
    // manifest-less: the report still answers (directory truth) and
    // says so
    fs(path).delete(PostingsManifest.manifestDir(path), true)
    assert(report().getAs[String]("manifest") == "absent")
  }

  test("retained compaction serves an open snapshot THROUGH the fold") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val cap = 16
    val old = emb.filter($"vec_id" % 4 === 0)
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val path = tempDir("graft_retained").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(old, Flat(model), cap),
      path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Fragment) // replay
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet

    // a reader opens a snapshot of the FRAGMENTED state and does NOT
    // re-open; the compaction runs; the snapshot must still execute
    // correctly afterwards (nothing it references was deleted)
    val snapshot = Similarity.readPostings(spark, path)
    val expectFragmented = rows(spark.read.parquet(path))

    val (nFrag, before, after) =
      Similarity.compactIvfPostingsRetained(spark, path)
    assert(nFrag > 0 && after < before)
    assert(rows(snapshot) == expectFragmented,
      "a pre-compaction snapshot must serve THROUGH a retained compaction")

    // a NEW snapshot sees exactly the compacted artifact (= rebuild),
    // while the directory still holds the retired fragments
    val rebuilt = rows(Similarity.ivfPostings(old.union(b1), Flat(model), cap))
    assert(rows(Similarity.readPostings(spark, path)) == rebuilt)
    assertManifestIsTruth(path, "during the retention window")
    val rep = Similarity.postingsFragmentationReport(spark, path).head()
    assert(rep.getAs[Long]("retired_files") > 0L &&
      rep.getAs[Long]("fragmented_cells") == 0L)
    // ...and a plain discovering read DOES double-count during the
    // window — the documented cost that makes this mode manifest-only
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).count() >
      Similarity.readPostings(spark, path).count())

    // the artifact stays maintainable DURING the retention window:
    // fragment appends roll the manifest with tombstones present
    val b3 = emb.filter($"vec_id" % 4 === 2)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b3, Fragment)
    assertManifestIsTruth(path, "fragment append inside a retention window")
    val rebuilt3 = rows(Similarity.ivfPostings(
      old.union(b1).union(b3), Flat(model), cap))

    // a snapshot opened BEFORE the second retained compaction...
    val snapshot2 = Similarity.readPostings(spark, path)
    val expect2 = rows(snapshot2)

    // ...which vacuums only tombstones OLDER than the current epoch
    // (the compact-1 fragments, aged by b3's append) and folds the new
    // fragments, tombstoning those in turn
    val (n2, _, _) = Similarity.compactIvfPostingsRetained(spark, path)
    assert(n2 > 0)
    assertManifestIsTruth(path, "after the second retained epoch")
    assert(rows(Similarity.readPostings(spark, path)) == rebuilt3)
    assert(rows(snapshot2) == expect2,
      "a pre-compaction snapshot must serve THROUGH the second fold")

    // a no-op retained pass PRESERVES the newest window (age-0
    // tombstones stay — the uniform retention law): the snapshot still
    // serves, and the retired debt is still visible in the report
    val (n3, b3f, a3f) = Similarity.compactIvfPostingsRetained(spark, path)
    assert(n3 == 0 && b3f == a3f)
    assertManifestIsTruth(path, "after the no-op retained pass")
    assert(rows(snapshot2) == expect2,
      "the snapshot must survive a no-op retained pass too")
    assert(Similarity.postingsFragmentationReport(spark, path).head()
      .getAs[Long]("retired_files") > 0L)

    // quiescence closes via the STANDALONE vacuum: directory back to
    // 1 file/cell, nothing retired, plain reads clean again
    val (dropped, _) = Similarity.vacuumPostings(spark, path,
      retentionEpochs = 0L)
    assert(dropped > 0)
    assertManifestIsTruth(path, "after the closing vacuum")
    assert(Similarity.postingsFragmentationReport(spark, path).head()
      .getAs[Long]("retired_files") == 0L)
    spark.catalog.refreshByPath(path)
    assert(rows(spark.read.parquet(path)) == rebuilt3)
    assert(PostingsManifest.readClean(spark, path).get
      .perCellFiles.values.forall(_ == 1))

    // crash-resurrection convergence: a dirty-flag rebuild DURING a
    // retention window resurrects retired rows as live; the next fold
    // converges back to the rebuild (cap-over-union is idempotent)
    val b4 = emb.filter($"vec_id" % 4 === 3)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b4, Fragment)
    Similarity.compactIvfPostingsRetained(spark, path) // opens a window
    MaintenanceProtocol.markDirty(spark, path) // simulate a crash
    PostingsManifest.rebuildAndWrite(spark, path) // resurrects tombstones
    Similarity.compactIvfPostings(spark, path)
    spark.catalog.refreshByPath(path)
    assert(rows(spark.read.parquet(path)) ==
      rows(Similarity.ivfPostings(emb, Flat(model), cap)),
      "resurrected tombstones must fold back to the rebuild")
  }

  test("retained recap append serves an open snapshot THROUGH the roll-forward") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val cap = 16
    val old = emb.filter($"vec_id" % 4 === 0)
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val b2 = emb.filter($"vec_id" % 4 === 2)
    val path = tempDir("graft_retained_recap").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(old, Flat(model), cap),
      path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet

    // a reader opens the PRE-append state and does not re-open
    val snapshot = Similarity.readPostings(spark, path)
    val expect0 = rows(spark.read.parquet(path))

    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    assert(rows(snapshot) == expect0,
      "a pre-append snapshot must serve THROUGH a retained recap")
    // a new reader sees exactly the rebuild state
    val rebuilt1 = rows(Similarity.ivfPostings(old.union(b1), Flat(model), cap))
    assert(rows(Similarity.readPostings(spark, path)) == rebuilt1)
    assertManifestIsTruth(path, "retained recap retention window")
    assert(Similarity.postingsFragmentationReport(spark, path).head()
      .getAs[Long]("retired_files") > 0L)
    // the discovering read double-counts during the window — the
    // documented cost that makes retention manifest-reader-only
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).count() >
      Similarity.readPostings(spark, path).count())

    // an at-least-once REDELIVERY through the retained route converges
    // (the fold dedups on (cell, cand_id)) — and the ORIGINAL snapshot
    // STILL serves: the redelivery keeps the first append's age-0
    // tombstones (the uniform window law — a snapshot survives at
    // least one full maintenance epoch, not just one op)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    assert(rows(Similarity.readPostings(spark, path)) == rebuilt1)
    assert(rows(snapshot) == expect0,
      "the pre-append snapshot must survive the redelivery too")
    assertManifestIsTruth(path, "after replayed retained recap")

    // composes with the other modes inside one artifact life: a
    // fragment append lands in the window (aging the earlier
    // tombstones out), the retained compaction folds it, and the
    // standalone vacuum closes the final window
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, Fragment)
    Similarity.compactIvfPostingsRetained(spark, path)
    Similarity.vacuumPostings(spark, path, retentionEpochs = 0L)
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.ivfPostings(old.union(b1).union(b2), Flat(model), cap)))
    assertManifestIsTruth(path, "after the closing vacuum")
    spark.catalog.refreshByPath(path)
    assert(rows(spark.read.parquet(path)) ==
      rows(Similarity.readPostings(spark, path)),
      "plain reads must be clean once every window is vacuumed")

    // a manifest-less artifact is adopted first (a directory-truth
    // manifest), then takes the same retained recap
    fs(path).delete(PostingsManifest.manifestDir(path), true)
    val b3 = emb.filter($"vec_id" % 4 === 3)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b3, Retained)
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.ivfPostings(emb, Flat(model), cap)),
      "manifest-less retained append must land the rebuild")
    assertManifestIsTruth(path, "after the adopting retained append")
  }

  test("retained recap append, two-level law: snapshot-safe and ≡ rebuild") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    // q77's fixed geometry: 32 cells in groups of 4, a real group prune
    val cents = emb.filter($"vec_id" < 32)
      .select($"vec_id",
        graft.functions.VectorOps.asDouble($"embedding").as("v"))
      .orderBy($"vec_id").collect().map(_.getSeq[Double](1).toArray)
    val gcs = graft.expressions.IvfAssignKernel
      .fixedGroupedCentroidSet(cents, 4)
    val gp = 3
    val cap = 16
    val old = emb.filter($"vec_id" % 4 === 0)
    val b1 = emb.filter($"vec_id" % 4 =!= 0)
    val path = tempDir("graft_retained_recap_2l").toString
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(old, TwoLevel(gcs, gp), cap), path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val snapshot = Similarity.readPostings(spark, path)
    val expect0 = rows(spark.read.parquet(path))
    Similarity.appendIvfPostings(spark, path, TwoLevel(gcs, gp), b1, Retained)
    assert(rows(snapshot) == expect0)
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.ivfPostings(old.union(b1), TwoLevel(gcs, gp), cap)),
      "grouped retained recap must equal the two-level rebuild")
    assertManifestIsTruth(path, "grouped retained recap window")
    // law guards: the exact retained route refuses an iv_gp artifact
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    }
    assert(ex.getMessage.contains("two-level"))
  }

  test("writer lease: second writer fails fast, crash recovery is explicit") {
    val (path, model, cents) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    val b1 = emb.filter($"vec_id" % 4 === 1)
    // a writer (us, here) holds the lease — EVERY maintenance family
    // must fail fast BEFORE mutating anything, naming the holder
    MaintenanceProtocol.acquireLease(spark, path, "spec-writer")
    val truthBefore = truth(path)
    val exs = Seq(
      intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
        Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)),
      intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
        Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)),
      intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
        Similarity.compactIvfPostings(spark, path)),
      intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
        Similarity.compactIvfPostingsRetained(spark, path)),
      intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
        Similarity.vacuumPostings(spark, path)),
      intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
        Similarity.saveIvfPostings(
          Similarity.ivfPostings(b1, Flat(model)), path)))
    assert(exs.forall(_.getMessage.contains("spec-writer")),
      "the refusal must name the live holder")
    assert(truth(path) == truthBefore,
      "a refused op must not have touched the artifact")
    assert(!MaintenanceProtocol.isDirty(spark, path),
      "a refused op must not have marked dirty")
    // the holder's own op path stays open: release → ops proceed
    MaintenanceProtocol.releaseLease(spark, path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    assertManifestIsTruth(path, "after the lease was released")
    // crash recovery: a lease stranded by a dead writer blocks until
    // the OPERATOR breaks it (no TTL guessing), then compaction's
    // directory-truth path absorbs whatever the dead writer left
    MaintenanceProtocol.acquireLease(spark, path, "dead-writer")
    MaintenanceProtocol.markDirty(spark, path) // died mid-op
    intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
      Similarity.compactIvfPostings(spark, path))
    assert(MaintenanceProtocol.breakLease(spark, path))
    Similarity.compactIvfPostings(spark, path)
    assertManifestIsTruth(path, "after break-lease recovery")
    // ...and an op that merely FAILS releases its lease itself: the
    // next writer is not blocked (the dirty flag, not the lease, is
    // what records the incomplete mutation)
    val boom = intercept[RuntimeException](
      MaintenanceProtocol.withLease(spark, path, "failing-op") {
        throw new RuntimeException("op body failed")
      })
    assert(boom.getMessage == "op body failed")
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    assertManifestIsTruth(path, "after a failed op released its lease")
  }

  test("lease acquisition is a true CAS: one winner under a 16-way race") {
    // the sequential interleave above pins the protocol; this pins the
    // PRIMITIVE — on the local filesystem Hadoop's create(overwrite =
    // false) is exists-check-then-create, so acquireLease routes
    // through POSIX O_CREAT|O_EXCL there. 16 threads race the same
    // artifact; exactly one must win, every loser must see the
    // fail-fast (not a corrupted/second lease).
    val path = tempDir("graft_lease_race").resolve("artifact").toString
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val n = 16
    val ready = new CountDownLatch(n)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val outcomes = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      (0 until n).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            ready.countDown(); go.await(10, TimeUnit.SECONDS)
            try {
              MaintenanceProtocol.acquireLease(spark, path, s"racer-$i")
              wins.incrementAndGet(); outcomes.add(s"win-$i")
            } catch {
              case _: MaintenanceProtocol.ConcurrentMaintenanceException =>
                outcomes.add(s"lose-$i")
              case e: Throwable => outcomes.add(s"error-$i-${e.getClass}")
            }
          }
        })
      }
      ready.await(10, TimeUnit.SECONDS); go.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(wins.get() == 1,
      s"exactly one racer must win the lease, got ${wins.get()}: $outcomes")
    assert(!outcomes.toString.contains("error"),
      s"losers must fail fast with the typed exception: $outcomes")
    // the winner's lease is intact and names it
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(MaintenanceProtocol.leasePath(path))
    val holder =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(holder.startsWith("racer-"), s"lease token corrupted: '$holder'")
    MaintenanceProtocol.breakLease(spark, path)
  }

  test("standalone vacuum honors the retention window exactly") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val cap = 16
    val old = emb.filter($"vec_id" % 4 === 0)
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val path = tempDir("graft_vacuum").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(old, Flat(model), cap),
      path)
    // vacuum refuses a manifest-less artifact...
    fs(path).delete(PostingsManifest.manifestDir(path), true)
    val ex0 = intercept[IllegalStateException](
      Similarity.vacuumPostings(spark, path))
    assert(ex0.getMessage.contains("no manifest"))
    Similarity.compactIvfPostings(spark, path) // re-adopt
    // ...and a dirty one
    MaintenanceProtocol.markDirty(spark, path)
    val ex1 = intercept[IllegalStateException](
      Similarity.vacuumPostings(spark, path))
    assert(ex1.getMessage.contains("dirty"))
    MaintenanceProtocol.clearDirty(spark, path)

    // open a retention window: fragment + retained compact retires the
    // fragments at the CURRENT epoch
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    val snapshot = Similarity.readPostings(spark, path)
    val expectFragmented = snapshot.count()
    Similarity.compactIvfPostingsRetained(spark, path)
    val stW = PostingsManifest.readClean(spark, path).get
    val retiredNow = stW.files.filter(_.retired)
    assert(retiredNow.nonEmpty &&
      retiredNow.forall(_.retiredAt == stW.epoch),
      "retained compaction must stamp tombstones with the new epoch")

    // retention 1: the current epoch's tombstones are INSIDE the
    // window — nothing dropped, the pre-compaction snapshot still serves
    assert(Similarity.vacuumPostings(spark, path) == ((0, 0L)))
    assert(snapshot.count() == expectFragmented,
      "a snapshot inside the retention window must keep serving")
    assertManifestIsTruth(path, "after a no-op vacuum")

    // one more maintenance epoch ages them out: now retention 1 drops
    // EXACTLY the retired set, live files untouched
    val b2 = emb.filter($"vec_id" % 4 === 2)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, Fragment)
    val st2 = PostingsManifest.readClean(spark, path).get
    val aged = st2.files.filter(_.retired)
    val liveSet = st2.live.map(e => (e.cell, e.file)).toSet
    val (dropped, bytes) = Similarity.vacuumPostings(spark, path)
    assert(dropped == aged.size && bytes == aged.map(_.bytes).sum,
      s"vacuum must drop exactly the aged retired set ($aged)")
    val st3 = PostingsManifest.readClean(spark, path).get
    assert(st3.files.map(e => (e.cell, e.file)).toSet == liveSet,
      "vacuum must keep exactly the live set")
    assert(st3.epoch == st2.epoch,
      "a vacuum is not a maintenance epoch — new snapshots are unchanged")
    assertManifestIsTruth(path, "after the aging vacuum")
    assert(Similarity.postingsFragmentationReport(spark, path).head()
      .getAs[Long]("retired_files") == 0L, "retired debt must read 0")

    // retention 0 = sweep everything immediately (the RETAIN-0 mode):
    // a fresh window closes in one standalone call
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    assert(PostingsManifest.readClean(spark, path).get
      .files.exists(_.retired), "precondition: a window is open")
    val (d2, _) = Similarity.vacuumPostings(spark, path,
      retentionEpochs = 0L)
    assert(d2 > 0)
    assertManifestIsTruth(path, "after the retain-0 vacuum")
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).count() ==
      Similarity.readPostings(spark, path).count(),
      "plain reads must be clean once the window is vacuumed")
  }

  test("manifest-route compaction rows equal the from-scratch rebuild") {
    // the same append≡rebuild law SimilaritySpec pins, but explicitly
    // through the manifest detection path (fresh artifacts all carry
    // manifests, so this is the route the lifecycle queries take)
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val cap = 16
    val old = emb.filter($"vec_id" % 4 === 0)
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val path = tempDir("graft_manifest_cmp").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(old, Flat(model), cap),
      path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Fragment) // replay
    assert(PostingsManifest.readClean(spark, path).nonEmpty,
      "precondition: compaction below must take the manifest route")
    Similarity.compactIvfPostings(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.refreshByPath(path)
    assert(rows(spark.read.parquet(path)) ==
      rows(Similarity.ivfPostings(old.union(b1), Flat(model), cap)),
      "manifest-route compaction must equal the from-scratch build")
  }

  test("incremental log: per-op manifest write ∝ touched set, folds at compaction") {
    val (path, _, cents) = freshArtifact()
    val emb = Tables.load(spark, sf0001, "embeddings")
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val f = fs(path)
    val mp = PostingsManifest.manifestDir(path)
    val ld = PostingsManifest.logDir(path)
    val baseLen = f.getFileStatus(mp).getLen
    val baseMod = f.getFileStatus(mp).getModificationTime
    def deltaFiles = if (!f.exists(ld)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else f.listStatus(ld).filter(_.getPath.getName.startsWith("delta."))
    def deltaLines(s: org.apache.hadoop.fs.FileStatus): Vector[String] = {
      val in = f.open(s.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }

    // a fragment append writes ONE delta file whose payload is exactly
    // its touched cells' new entries — the base manifest is untouched
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Fragment)
    assertManifestIsTruth(path, "after logged fragment append")
    assert(f.getFileStatus(mp).getLen == baseLen &&
      f.getFileStatus(mp).getModificationTime == baseMod,
      "an append must not rewrite the base manifest")
    val st1 = PostingsManifest.readClean(spark, path).get
    val d1 = deltaFiles
    assert(d1.length == 1, s"one op, one delta file: ${d1.length}")
    val lines1 = deltaLines(d1.head)
    val touched1 = lines1.count(_.startsWith("set\t"))
    assert(touched1 > 0 && touched1 < st1.totalFiles,
      s"delta payload ($touched1 sets) must be the touched set, not the " +
        s"artifact (${st1.totalFiles} files)")
    assert(lines1.count(_.startsWith("del\t")) == 0)

    // a retained recap's delta carries retire-sets + adds for ITS
    // touched cells only; the base file still never rewritten
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      emb.filter($"vec_id" % 4 === 2), Retained)
    assertManifestIsTruth(path, "after logged retained recap")
    assert(f.getFileStatus(mp).getModificationTime == baseMod)
    assert(deltaFiles.length == 2)

    // a vacuum's delta carries only the dropped tombstones' dels
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Retained) // age them
    val retiredBefore = PostingsManifest.readClean(spark, path).get
      .files.count(_.retired)
    val (dropped, _) = Similarity.vacuumPostings(spark, path)
    assert(dropped > 0)
    val dv = deltaFiles.sortBy(_.getPath.getName).last
    val linesV = deltaLines(dv)
    assert(linesV.count(_.startsWith("del\t")) == dropped &&
      linesV.count(_.startsWith("set\t")) == 0,
      s"a vacuum delta is dels only: $linesV (retired before: $retiredBefore)")
    assertManifestIsTruth(path, "after logged vacuum")

    // crash-idempotency: a fold that died between swapping the base and
    // clearing the log re-applies the stale delta harmlessly
    val stPre = PostingsManifest.readClean(spark, path).get
    val staleText = deltaLines(dv).mkString("", "\n", "\n")
    val staleName = dv.getPath.getName
    PostingsManifest.write(spark, path, stPre) // fold (clears the log)
    assert(deltaFiles.isEmpty, "a full write must clear the log")
    f.mkdirs(ld) // resurrect the already-folded delta = the crash window
    val out = f.create(new org.apache.hadoop.fs.Path(ld, staleName), true)
    try out.write(staleText.getBytes("UTF-8")) finally out.close()
    val stReplayed = PostingsManifest.readClean(spark, path).get
    assert(stReplayed.files == stPre.files && stReplayed.epoch == stPre.epoch,
      "replaying an already-folded delta must be a no-op")
    assertManifestIsTruth(path, "after the crash-window replay")

    // compaction FOLDS: base rewritten, log cleared (the retained fold;
    // compactIvfPostings' closing vacuum logs its dels as a new delta)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1,
      Fragment) // fragment it
    assert(deltaFiles.nonEmpty)
    Similarity.compactIvfPostingsRetained(spark, path)
    assert(deltaFiles.isEmpty, "compaction must fold the log away")
    assert(f.getFileStatus(mp).getModificationTime > baseMod)
    assertManifestIsTruth(path, "after the folding compaction")

    // auto-fold: the commit API itself folds at FoldThreshold (driven
    // synthetically — entries need not exist on disk for the log
    // mechanics; the artifact is rebuilt to truth afterwards)
    var st = PostingsManifest.readClean(spark, path).get
    (1 until PostingsManifest.FoldThreshold).foreach { i =>
      st = PostingsManifest.commit(spark, path, st,
        st.adding(Seq(PostingsManifest.FileEntry(0, s"part-synth-$i", 1L, 1L))))
    }
    assert(deltaFiles.length == PostingsManifest.FoldThreshold - 1)
    st = PostingsManifest.commit(spark, path, st,
      st.adding(Seq(PostingsManifest.FileEntry(0, "part-synth-fold", 1L, 1L))))
    assert(deltaFiles.isEmpty,
      "the threshold commit must fold instead of appending a delta")
    assert(st.logDeltas == 0 &&
      PostingsManifest.readClean(spark, path).get.files == st.files)
    PostingsManifest.rebuildAndWrite(spark, path) // restore truth
    assertManifestIsTruth(path, "after restoring from the synthetic log run")
  }

  test("dirty fallback read of a TOMBSTONED artifact converges to canon") {
    // the degrade-to-listing-truth claim, closed for retained
    // artifacts: a stranded dirty flag during a retention window must
    // not make readPostings silently serve duplicate (cell, cand_id)
    // rows — the fallback dedups and re-applies the cap (the same
    // idempotent fold compaction uses)
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val cap = 16
    val old = emb.filter($"vec_id" % 4 === 0)
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val path = tempDir("graft_dirty_fallback").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(old, Flat(model), cap),
      path)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, Retained)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val clean = rows(Similarity.readPostings(spark, path))
    // precondition: the window is open — a raw directory read
    // double-counts, which is exactly what the fallback must not serve
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).count() > clean.size)
    MaintenanceProtocol.markDirty(spark, path) // simulate a crashed writer
    assert(rows(Similarity.readPostings(spark, path)) == clean,
      "the dirty fallback must serve the canonical (deduped, capped) rows")
    MaintenanceProtocol.clearDirty(spark, path)
    // a manifest-ABSENT artifact (never retained) skips the fold — the
    // raw listing is truth there; count equality pins no behavior drift
    Similarity.vacuumPostings(spark, path, retentionEpochs = 0L)
    fs(path).delete(PostingsManifest.manifestDir(path), true)
    assert(rows(Similarity.readPostings(spark, path)) == clean,
      "a manifest-less artifact's listing read stays truth")
  }

  test("a build that crashed inside its swap heals on the next open, " +
      "manifest included: postings, packed and exact") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 8, seed = 42L,
      trainFraction = 0.5)
    val postings = Similarity.ivfPostings(emb, Flat(model))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    // what a crash between the install's delete and its rename leaves:
    // the target gone, the complete new artifact at the sibling swap tmp
    def crashInSwap(path: String): Unit = {
      val p = new Path(path)
      assert(fs(path).rename(p, new Path(p.getParent, s".${p.getName}.swap-tmp")))
      assert(!fs(path).exists(p))
    }
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString

    val classic = tempDir("graft_swap_c").resolve("p").toString
    Similarity.saveIvfPostings(postings, classic)
    val want = rows(Similarity.readPostings(spark, classic))
    crashInSwap(classic)
    val healed = Similarity.readPostings(spark, classic)
    assert(plan(healed).contains("PostingsFileIndex"),
      "the healed postings must serve from the manifest they were built with")
    assert(rows(healed) == want)

    val packed = tempDir("graft_swap_p").resolve("p").toString
    Similarity.saveIvfPostingsPacked(postings, packed, cellsPerPack = 4)
    crashInSwap(packed)
    val healedPacked = Similarity.readPackedPostings(spark, packed)
    assert(plan(healedPacked).contains("ManifestFileIndex"))
    assert(rows(healedPacked) == want)

    val exact = tempDir("graft_swap_x").resolve("p").toString
    graft.operators.Dedup.saveExactIndex(
      graft.operators.Dedup.exactHashIndex(Tables.load(spark, sf0001,
        "documents")), exact, files = 2)
    val exWant = graft.operators.Dedup.readExactIndex(spark, exact)
      .as[String].collect().toSet
    crashInSwap(exact)
    val healedExact = graft.operators.Dedup.readExactIndex(spark, exact)
    assert(plan(healedExact).contains("ManifestFileIndex"))
    assert(healedExact.as[String].collect().toSet == exWant)
  }

  test("packed postings layout: rows ≡ classic, pack-pruned serve, ~packs files") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val cap = 16
    val postings = Similarity.ivfPostings(emb, Flat(model), cap)
    val classic = tempDir("graft_packed_c").resolve("p").toString
    val packed = tempDir("graft_packed_p").resolve("p").toString
    Similarity.saveIvfPostings(postings, classic)
    Similarity.saveIvfPostingsPacked(postings, packed, cellsPerPack = 4)

    // the packed artifact holds ~cells/cellsPerPack files, not ~cells
    def partFiles(dir: String): Seq[String] = {
      val f = fs(dir)
      f.listStatus(new Path(dir))
        .filter(d => d.isDirectory && !d.getPath.getName.startsWith("_"))
        .flatMap(d => f.listStatus(d.getPath)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map(_.getPath.toString)).toSeq
    }
    val nClassic = partFiles(classic).size
    val nPacked = partFiles(packed).size
    assert(nPacked <= 4 && nClassic >= 12,
      s"packed must collapse the file count: classic=$nClassic packed=$nPacked")

    // identical rows, both read paths
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPacked = Similarity.readPackedPostings(spark, packed)
    assert(viaPacked.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"),
      "packed reads must plan from the manifest")
    assert(rows(viaPacked) == rows(Similarity.readPostings(spark, classic)))

    // packed pruned serve ≡ classic pruned serve ≡ plain full serve
    val queries = emb.filter($"vec_id" < 10)
    def served(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = served(Similarity.ivfTopKFromPostingsWithCentroids(
      queries, cents, Similarity.readPostings(spark, classic),
      probes = 2, k = 3))
    assert(served(Similarity.ivfTopKFromPostings(
      queries, Flat(cents), PostingsSource.Packed(packed), probes = 2,
      k = 3)) == expect,
      "packed pruned serving must equal the classic exact route")

    // the pack prune bites: a bounded probe set reads a strict subset
    // of the packs (cells 0..15 at cellsPerPack=4 → cells 0-1 hit only
    // pack=0's file)
    val probeFiles = viaPacked
      .filter($"pack" === 0 && $"cell".isin(0, 1))
      .select(input_file_name()).distinct().as[String].collect()
    assert(probeFiles.nonEmpty &&
      probeFiles.forall(_.contains("pack=0/")),
      s"pack-pruned read touched foreign packs: ${probeFiles.toSeq}")

    // dirty manifest → discovering fallback, identical rows
    graft.operators.MaintenanceProtocol.markDirty(spark, packed)
    val fb = Similarity.readPackedPostings(spark, packed)
    assert(!fb.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"))
    assert(rows(fb) == rows(viaPacked))
    assert(served(Similarity.ivfTopKFromPostings(
      queries, Flat(cents), PostingsSource.Packed(packed), probes = 2,
      k = 3)) == expect,
      "the fallback serve (cell filter only) must answer exactly")
    graft.operators.MaintenanceProtocol.clearDirty(spark, packed)

    // the deployment cycle: maintain the CLASSIC artifact (retained
    // append opens a retention window — tombstones on disk), then
    // repack; the packed snapshot must hold exactly the LIVE state
    Similarity.appendIvfPostings(spark, classic, Flat(cents),
      emb.filter($"vec_id" % 4 === 1), Retained)
    assert(graft.operators.PostingsManifest.readClean(spark, classic).get
      .files.exists(_.retired), "precondition: a window is open")
    val repacked = tempDir("graft_packed_r").resolve("p").toString
    Similarity.repackPostings(spark, classic, repacked, cellsPerPack = 4)
    assert(rows(Similarity.readPackedPostings(spark, repacked)) ==
      rows(Similarity.readPostings(spark, classic)),
      "repack must land exactly the classic artifact's live rows")
  }

  test("bulkDeleteFiles pages through the store API, tolerates missing paths") {
    import graft.operators.MaintenanceProtocol
    val dir = tempDir("graft_bulkdel").toString
    val base = new Path(dir)
    val f = fs(dir)
    val paths = (0 until 7).map { i =>
      val p = new Path(base, s"sub/file-$i")
      val out = f.create(p, true)
      try out.write(i) finally out.close()
      p
    }
    // a mixed batch: real files + an already-missing path (idempotent
    // replay of a half-finished vacuum) — all succeed in one call
    MaintenanceProtocol.bulkDeleteFiles(f, base,
      paths :+ new Path(base, "sub/never-existed"))
    assert(paths.forall(!f.exists(_)), "every file must be gone")
    MaintenanceProtocol.bulkDeleteFiles(f, base, paths) // full replay: no-op
    MaintenanceProtocol.bulkDeleteFiles(f, base, Nil)   // empty: no-op
  }

  test("release is token-checked: a broken-and-reacquired lease survives") {
    val path = tempDir("graft_lease_token").resolve("artifact").toString
    val t1 = MaintenanceProtocol.acquireLease(spark, path, "slow-writer")
    // an operator decides slow-writer is dead and breaks the lease; a
    // second writer acquires
    assert(MaintenanceProtocol.breakLease(spark, path))
    MaintenanceProtocol.acquireLease(spark, path, "writer-2")
    // slow-writer's finally fires — it must NOT delete writer-2's lease
    MaintenanceProtocol.releaseLease(spark, path, t1)
    val f = fs(path)
    assert(f.exists(MaintenanceProtocol.leasePath(path)),
      "a token-mismatched release must not delete the new holder's lease")
    val in = f.open(MaintenanceProtocol.leasePath(path))
    val holder =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(holder.startsWith("writer-2"))
    // ...and a third writer still fails fast against writer-2
    intercept[MaintenanceProtocol.ConcurrentMaintenanceException](
      MaintenanceProtocol.acquireLease(spark, path, "writer-3"))
    MaintenanceProtocol.breakLease(spark, path)
  }

  test("parquetFooterRowCounts matches actual per-file counts on both " +
      "the driver-pool and executor-job paths") {
    import spark.implicits._
    val dir = tempDir("graft_footer_counts").toString
    // 40 files with distinct, known row counts: file k holds k+1 rows
    (0 until 40).foreach { k =>
      (0 to k).map(i => (k, i)).toDF("k", "i")
        .coalesce(1).write.parquet(s"$dir/f$k")
    }
    val files = new java.io.File(dir).listFiles.flatMap(d =>
      d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath)).toSeq
    assert(files.size == 40)
    def expected(paths: Seq[String]): Map[String, Long] =
      paths.map { p =>
        val k = new java.io.File(p).getParentFile.getName.drop(1).toInt
        (p, (k + 1).toLong)
      }.toMap
    // <=32 files: the driver thread-pool path (no Spark job)
    val small = files.take(20)
    val gotSmall = org.apache.spark.sql.GraftColumnBridge
      .parquetFooterRowCounts(spark, small)
    assert(gotSmall == expected(small))
    // >32 files: the parallelized executor job path
    val gotAll = org.apache.spark.sql.GraftColumnBridge
      .parquetFooterRowCounts(spark, files)
    assert(gotAll == expected(files))
    // single file: the serial fast path
    val one = files.take(1)
    assert(org.apache.spark.sql.GraftColumnBridge
      .parquetFooterRowCounts(spark, one) == expected(one))
  }
}
