package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ArtifactManifest, PostingsManifest}

/** What a manifest reader concludes from each on-disk shape it can meet,
  * for both sidecar families: a trusted state (`Some`), a degrade to the
  * listing fallback (`None`), or a thrown error for a file that can only
  * come from a bug. Every case hand-writes the sidecar text, so the
  * table pins the formats themselves, not just round trips through the
  * writer. A last test pins the writers' exact bytes.
  */
class ManifestReadVerdictSpec extends AnyFunSuite with SparkSpec {

  private sealed trait Verdict
  private case object Trusted extends Verdict
  private case object Degrades extends Verdict
  private case object Throws extends Verdict

  /** One sidecar shape: base text, optional `_manifest_log` files
    * (name → text), and the expected verdict. */
  private case class Shape(name: String, base: String,
      log: Seq[(String, String)], verdict: Verdict)

  private def lines(ls: String*): String = ls.mkString("", "\n", "\n")

  private def artifact(s: Shape): String = {
    val dir = tempDir("graft_verdict").resolve("a")
    Files.createDirectories(dir)
    Files.write(dir.resolve("_manifest"), s.base.getBytes("UTF-8"))
    if (s.log.nonEmpty) {
      val ld = Files.createDirectories(dir.resolve("_manifest_log"))
      s.log.foreach { case (n, t) =>
        Files.write(ld.resolve(n), t.getBytes("UTF-8")) }
    }
    dir.toString
  }

  private def check(family: String, s: Shape)(read: String => Option[_])
      : Unit = {
    val path = artifact(s)
    s.verdict match {
      case Trusted => assert(read(path).nonEmpty, s"$family/${s.name}")
      case Degrades => assert(read(path).isEmpty, s"$family/${s.name}")
      case Throws =>
        intercept[IllegalArgumentException](read(path))
        ()
    }
  }

  // ------------------------------------------------------------ postings

  private val pHeader = "graft-postings-manifest\t3"
  private val pParams = "params\t4\t16\t123\t-\t2"
  private val pFile = "file\t0\tpart-a\t10\t5\t-"
  private val pDelta = "graft-postings-delta\t1"

  private val postingsShapes = Seq(
    Shape("well formed", lines(pHeader, pParams, pFile), Nil, Trusted),
    Shape("truncated to the header", lines(pHeader), Nil, Degrades),
    Shape("params, zero file lines", lines(pHeader, pParams), Nil, Degrades),
    Shape("garbled file line",
      lines(pHeader, pParams, "file\t0\tpart-a\t10"), Nil, Throws),
    Shape("unrecognized header",
      lines("graft-postings-manifest\t9", pParams, pFile), Nil, Throws),
    Shape("unknown delta action", lines(pHeader, pParams, pFile),
      Seq("delta.000000000001" -> lines(pDelta, "epoch\t3",
        "move\t0\tpart-a")), Throws),
    Shape("stranded tmp file in the log", lines(pHeader, pParams, pFile),
      Seq(".tmp-0b7e" -> lines(pDelta, "bogus")), Trusted),
  )

  postingsShapes.foreach { s =>
    test(s"postings read verdict: ${s.name}") {
      check("postings", s)(p => PostingsManifest.readClean(spark, p))
    }
  }

  test("postings replay: keyed upsert in first-seen order, epoch by max") {
    val path = artifact(Shape("replay", lines(pHeader, pParams, pFile,
      "file\t1\tpart-b\t20\t7\t-"), Seq(
      "delta.000000000001" -> lines(pDelta, "epoch\t3",
        "set\t0\tpart-a\t10\t5\t3", "set\t2\tpart-c\t30\t9\t-"),
      "delta.000000000002" -> lines(pDelta, "epoch\t1",
        "del\t1\tpart-b", "del\t9\tpart-gone")), Trusted))
    val st = PostingsManifest.readClean(spark, path).get
    assert(st.files == Seq(
      PostingsManifest.FileEntry(0, "part-a", 10L, 5L, 3L),
      PostingsManifest.FileEntry(2, "part-c", 30L, 9L)))
    assert(st.params == PostingsManifest.Params(4, 16, 123L, None))
    assert(st.epoch == 3L && st.logSeq == 2L && st.logDeltas == 2)
  }

  // ---------------------------------------------------------------- flat

  private val fHeader = "graft-artifact-manifest\t1"
  private val fFamily = "family\tfam_a"
  private val fParam = "param\tk\tv"
  private val fFile = "file\tpart-a\t10\t5"
  private val fDelta = "graft-artifact-delta\t1"

  private val flatShapes = Seq(
    Shape("well formed", lines(fHeader, fFamily, fParam, fFile), Nil,
      Trusted),
    Shape("truncated to the header", lines(fHeader), Nil, Degrades),
    Shape("family and params, zero file lines",
      lines(fHeader, fFamily, fParam, "param\tk2\tv2"), Nil, Degrades),
    Shape("garbled file line",
      lines(fHeader, fFamily, fParam, "file\tpart-a\t10"), Nil, Throws),
    Shape("foreign header", lines(pHeader, pParams, pFile), Nil, Degrades),
    Shape("another family's tag",
      lines(fHeader, "family\tfam_b", fFile), Nil, Degrades),
    Shape("unknown delta action", lines(fHeader, fFamily, fFile),
      Seq("delta.000000000001" -> lines(fDelta, "move\tpart-a")), Throws),
    Shape("stranded tmp file in the log", lines(fHeader, fFamily, fFile),
      Seq(".tmp-0b7e" -> lines(fDelta, "bogus")), Trusted),
  )

  flatShapes.foreach { s =>
    test(s"flat read verdict: ${s.name}") {
      check("flat", s)(p => ArtifactManifest.readClean(spark, p, "fam_a"))
    }
  }

  test("flat family guard: another family's tag refuses, unknown passes") {
    val other = artifact(Shape("other", lines(fHeader, "family\tfam_b",
      fFile), Nil, Degrades))
    assert(ArtifactManifest.familyOf(spark, other).contains("fam_b"))
    intercept[IllegalStateException](
      ArtifactManifest.requireFamilyOrUnknown(spark, other, "fam_a"))
    val foreign = artifact(Shape("foreign", lines(pHeader, pParams, pFile),
      Nil, Degrades))
    assert(ArtifactManifest.familyOf(spark, foreign).isEmpty)
    ArtifactManifest.requireFamilyOrUnknown(spark, foreign, "fam_a")
  }

  test("flat replay: keyed upsert in first-seen order") {
    val path = artifact(Shape("replay", lines(fHeader, fFamily, fParam,
      fFile, "file\tpart-b\t20\t7"), Seq(
      "delta.000000000001" -> lines(fDelta, "set\tpart-a\t11\t6",
        "set\tpart-c\t30\t9"),
      "delta.000000000002" -> lines(fDelta, "del\tpart-b",
        "del\tpart-gone")), Trusted))
    val st = ArtifactManifest.readClean(spark, path, "fam_a").get
    assert(st.files == Seq(ArtifactManifest.FileEntry("part-a", 11L, 6L),
      ArtifactManifest.FileEntry("part-c", 30L, 9L)))
    assert(st.params == Map("k" -> "v"))
    assert(st.logSeq == 2L && st.logDeltas == 2)
  }

  // -------------------------------------------------------- writer bytes

  private def text(p: Path): String = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("writers: base and delta bytes of both families") {
    val pp = tempDir("graft_verdict_w").toString
    val p0 = PostingsManifest.State(PostingsManifest.Params(4, 16, 123L,
      Some(2)), Seq(PostingsManifest.FileEntry(0, "part-a", 10L, 5L),
      PostingsManifest.FileEntry(1, "part-b", 20L, 7L, 1L)), epoch = 2L)
    PostingsManifest.write(spark, pp, p0)
    assert(text(new Path(pp, "_manifest")) == lines(pHeader,
      "params\t4\t16\t123\t2\t2", "file\t0\tpart-a\t10\t5\t-",
      "file\t1\tpart-b\t20\t7\t1"))
    PostingsManifest.commit(spark, pp, p0, p0.retiringCells(Set(0),
      Seq(PostingsManifest.FileEntry(0, "part-c", 30L, 9L))))
    assert(text(new Path(pp, "_manifest_log/delta.000000000001")) ==
      lines(pDelta, "epoch\t3", "set\t0\tpart-a\t10\t5\t3",
        "set\t0\tpart-c\t30\t9\t-"))

    val fp = tempDir("graft_verdict_w").toString
    val f0 = ArtifactManifest.State("fam_a", Map("z" -> "1", "a" -> "2"),
      Seq(ArtifactManifest.FileEntry("part-a", 10L, 5L),
        ArtifactManifest.FileEntry("part-b", 20L, 7L)))
    ArtifactManifest.write(spark, fp, f0)
    assert(text(new Path(fp, "_manifest")) == lines(fHeader, fFamily,
      "param\ta\t2", "param\tz\t1", fFile, "file\tpart-b\t20\t7"))
    ArtifactManifest.commit(spark, fp, f0, f0.copy(files =
      Seq(ArtifactManifest.FileEntry("part-b", 20L, 7L),
        ArtifactManifest.FileEntry("part-c", 30L, 9L))))
    assert(text(new Path(fp, "_manifest_log/delta.000000000001")) ==
      lines(fDelta, "del\tpart-a", "set\tpart-c\t30\t9"))
  }
}
