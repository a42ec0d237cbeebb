package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ArtifactManifest, ManifestLog, MaintenanceProtocol,
  PostingsManifest}

/** The shared swap's crash leftovers: a tmp file stranded next to any
  * file the log writes is never read as data, never replayed, and is
  * swept by the next directory-truth rebuild; a write that fails midway
  * leaves the old file and no tmp behind.
  */
class ManifestLogSpec extends AnyFunSuite with SparkSpec {

  private def fs(path: String) = MaintenanceProtocol.fsOf(spark, path)

  private def put(p: Path, text: String): Unit = {
    val out = fs(p.toString).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def text(p: Path): String = {
    val in = fs(p.toString).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private val flat = ArtifactManifest.State("fam_a", Map("k" -> "v"),
    Seq(ArtifactManifest.FileEntry("part-a", 10L, 5L)))

  test("tmp names match no reader's listing filter") {
    val root = new Path(tempDir("graft_mlog").toString)
    val dests = Seq(new Path(root, "_manifest"),
      new Path(root, "_manifest_log/delta.000000000007"),
      new Path(root, "_pq_codebooks"))
    dests.foreach { d =>
      val n = ManifestLog.tmpFor(d).getName
      assert(n.startsWith("_") && !n.startsWith("delta.") &&
        !n.startsWith("part-"), s"tmp '$n' for $d")
      assert(ManifestLog.tmpFor(d).getParent == d.getParent)
    }
  }

  test("a stranded delta tmp is never replayed") {
    val path = tempDir("graft_mlog").toString
    ArtifactManifest.write(spark, path, flat)
    val st = ArtifactManifest.readClean(spark, path, "fam_a").get
    ArtifactManifest.commit(spark, path, st,
      st.adding(Seq(ArtifactManifest.FileEntry("part-b", 20L, 7L))))
    val next = new Path(ArtifactManifest.logDir(path), "delta.000000000002")
    // a complete delta that never got renamed in (crash after the write)
    put(ManifestLog.tmpFor(next),
      "graft-artifact-delta\t1\nset\tpart-ghost\t1\t1\n")
    val got = ArtifactManifest.readClean(spark, path, "fam_a").get
    assert(got.files.map(_.file) == Seq("part-a", "part-b"))
    assert(got.logDeltas == 1 && got.logSeq == 1L)
  }

  test("a stranded base tmp is swept by the rebuild, never read as data") {
    val path = tempDir("graft_mlog").toString
    spark.range(3).toDF("text_hash").selectExpr("cast(text_hash as string)")
      .write.mode("overwrite").parquet(path)
    val stray = ManifestLog.tmpFor(ArtifactManifest.manifestPath(path))
    put(stray, "graft-artifact-manifest\t1\n")
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).count() == 3L)
    val st = ArtifactManifest.rebuildAndWrite(spark, path, "fam_a", Map.empty)
    assert(!fs(path).exists(stray), "the rebuild sweeps the stranded tmp")
    assert(st.totalRows == 3L && st.files.forall(_.file.startsWith("part-")))
  }

  test("a failed write keeps the old file and leaves no tmp") {
    val path = tempDir("graft_mlog").toString
    PostingsManifest.write(spark, path, PostingsManifest.State(
      PostingsManifest.Params(4, 16, 123L, None),
      Seq(PostingsManifest.FileEntry(0, "part-a", 10L, 5L))))
    val dest = PostingsManifest.manifestPath(path)
    val before = text(dest)
    intercept[IllegalStateException](ManifestLog.swapText(fs(path), dest,
      Iterator("graft-postings-manifest\t3") ++
        Iterator.continually[String](throw new IllegalStateException("boom"))))
    assert(text(dest) == before)
    assert(fs(path).listStatus(new Path(path))
      .forall(!_.getPath.getName.contains(".tmp-")))
  }
}
