package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps._
import graft.operators.{MaintenanceProtocol, PostingsManifest, PqCodebookStore, Similarity}

/** The persisted PQ index artifact: codebook sidecar round-trip +
  * checksum fail-fasts, the fragment/replay/compact lifecycle ≡ the
  * from-scratch build, the steady-state serve ≡ the transient composed
  * route, and the manifest/cap invariants the family inherits from the
  * float postings artifact. */
class PqArtifactSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def embTable = Tables.load(spark, sf0001, "embeddings")

  private def centArr(e: DataFrame, n: Int): Array[Array[Double]] =
    e.filter($"vec_id" < n)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .resolve("pq_postings").toString

  private def artifactRows(df: DataFrame): Set[(Int, Long, Seq[Int], Double)] =
    df.select($"cell".cast("int"), $"cand_id", $"codes",
        round($"d2", 4) + lit(0.0))
      .as[(Int, Long, Seq[Int], Double)].collect().toSet

  test("codebook sidecar: save/load round-trips bit-identically, " +
      "carries the encoding law, and refuses corruption") {
    val e = embTable
    val cents = centArr(e, 8)
    val cs = Similarity.pqCodebooksFromHeadResidual(e, cents, m = 8, k = 16)
    val dir = tmp("graft_pq_cb")
    Similarity.savePqCodebooks(spark, dir, cs, residual = true)
    val (loaded, residual) = Similarity.loadPqCodebooks(spark, dir)
    assert(residual)
    assert(loaded.checksum == cs.checksum)
    assert(loaded.m == cs.m && loaded.dsub == cs.dsub && loaded.k == cs.k)
    (0 until cs.m * cs.k).foreach { r =>
      assert(java.util.Arrays.equals(loaded.codes(r), cs.codes(r)),
        s"codeword row $r drifted through the sidecar")
    }
    // a flipped codeword byte fails the checksum at load, not at serve
    val fs = graft.operators.MaintenanceProtocol.fsOf(spark, dir)
    val p = PqCodebookStore.sidecarPath(dir)
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val cwIdx = lines.indexWhere(_.startsWith("cw\t5\t"))
    val broken = lines.updated(cwIdx, {
      val f = lines(cwIdx).split('\t')
      (f.dropRight(1) :+ java.lang.Long.toHexString(
        java.lang.Long.parseUnsignedLong(f.last, 16) ^ 1L)).mkString("\t")
    })
    val out = fs.create(p, true)
    try {
      val w = new java.io.OutputStreamWriter(out, "UTF-8")
      w.write(broken.mkString("\n") + "\n"); w.flush()
    } finally out.close()
    val ex = intercept[IllegalArgumentException] {
      Similarity.loadPqCodebooks(spark, dir)
    }
    assert(ex.getMessage.contains("checksum"))
  }

  test("lifecycle: build + fragment appends + replay + compact lands " +
      "exactly the from-scratch coded build; manifest stays clean and " +
      "1-file-per-cell; the binding cap holds") {
    val e = embTable
    val cents = centArr(e, 8)
    val cs = Similarity.pqCodebooksFromHeadResidual(e, cents, m = 8, k = 16)
    val cap = 4
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = tmp("graft_pq_life")
    Similarity.saveIvfPqPostings(
      Similarity.ivfPqPostings(seed, cents, cs, cap), path, cs)
    Similarity.appendIvfPqPostingsFragment(spark, path, cents, b1)
    Similarity.appendIvfPqPostingsFragment(spark, path, cents, b2)
    Similarity.appendIvfPqPostingsFragment(spark, path, cents, b1) // replay
    Similarity.compactIvfPqPostings(spark, path)
    val got = artifactRows(Similarity.readPqPostings(spark, path))
    val want = artifactRows(Similarity.ivfPqPostings(e, cents, cs, cap))
    assert(got == want, "maintained artifact != from-scratch build")
    // manifest invariants: clean, 1 file per populated cell, cap held
    val st = PostingsManifest.readClean(spark, path)
    assert(st.nonEmpty, "manifest dirty or missing after compact")
    assert(st.get.perCellFiles.values.forall(_ == 1),
      s"fragments survive compaction: ${st.get.perCellFiles}")
    assert(st.get.perCellRows.values.forall(_ <= cap),
      s"cap $cap violated: ${st.get.perCellRows}")
    // params embed the coarse geometry + the codebook checksum column
    val pqCks = Similarity.readPqPostings(spark, path)
      .select($"pq_ck").distinct().as[Long].collect().toSeq
    assert(pqCks == Seq(cs.checksum))
  }

  test("serve from the persisted artifact equals the transient " +
      "composed route at the same geometry") {
    val e = embTable
    val cents = centArr(e, 8)
    val cs = Similarity.pqCodebooksFromHeadResidual(e, cents, m = 8, k = 16)
    val path = tmp("graft_pq_serve")
    Similarity.saveIvfPqPostings(
      Similarity.ivfPqPostings(e, cents, cs, cellCap = 4), path, cs)
    val centTable = e.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    def rows(d: DataFrame) = d
      .select($"vec_id", $"neighbor_id", $"d2", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val fromArtifact = rows(Similarity.ivfPqTopKFromPostings(
      e.filter($"vec_id" < 15), e, cents, path,
      probes = 2, k = 3, fetch = 5))
    val transient = rows(Similarity.ivfPqTopKWithCentroids(
      e, $"vec_id" < 15, centTable, cs,
      probes = 2, k = 3, fetch = 5, cellCap = 4))
    assert(fromArtifact == transient)
  }

  test("fail-fasts: foreign centroids refused on append and serve; a " +
      "swapped codebook sidecar is refused against the stored pq_ck") {
    val e = embTable
    val cents = centArr(e, 8)
    val cs = Similarity.pqCodebooksFromHeadResidual(e, cents, m = 8, k = 16)
    val path = tmp("graft_pq_fail")
    Similarity.saveIvfPqPostings(
      Similarity.ivfPqPostings(e.filter($"vec_id" % 10 =!= 0), cents, cs,
        cellCap = 4), path, cs)
    val otherCents = centArr(e, 9).drop(1) // 8 different centroids
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPqPostingsFragment(spark, path, otherCents,
        e.filter($"vec_id" % 10 === 0))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromPostings(e.filter($"vec_id" < 5), e,
        otherCents, path, probes = 2, k = 3, fetch = 5)
    }
    // swap the sidecar for a DIFFERENT codebook set: the stored codes'
    // pq_ck no longer matches — serve must fail, not silently mis-rank
    val otherCs = Similarity.pqCodebooksFromHead(e, m = 8, k = 8)
    PqCodebookStore.save(spark, path, otherCs, residual = true)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromPostings(e.filter($"vec_id" < 5), e,
        cents, path, probes = 2, k = 3, fetch = 5)
    }
    assert(ex.getMessage.contains("rebuild"))
    // save refuses a frame/codebook mismatch up front too
    intercept[IllegalArgumentException] {
      Similarity.saveIvfPqPostings(
        Similarity.ivfPqPostings(e, cents, cs, 4), tmp("graft_pq_fail2"),
        otherCs)
    }
  }

  test("append assigns and encodes under the artifact's own law: a " +
      "fragment-appended batch carries codes identical to the " +
      "from-scratch encode, and the dirty fallback read converges") {
    val e = embTable
    val cents = centArr(e, 8)
    val cs = Similarity.pqCodebooksFromHeadResidual(e, cents, m = 8, k = 16)
    val path = tmp("graft_pq_dirty")
    Similarity.saveIvfPqPostings(
      Similarity.ivfPqPostings(e.filter($"vec_id" % 10 =!= 0), cents, cs,
        cellCap = 4), path, cs)
    Similarity.appendIvfPqPostingsFragment(spark, path, cents,
      e.filter($"vec_id" % 10 === 0))
    Similarity.appendIvfPqPostingsFragment(spark, path, cents,
      e.filter($"vec_id" % 10 === 0)) // replay, uncompacted
    // a stranded dirty flag degrades the read to the converging
    // fallback — dedup + re-cap on the stored d2 must land the rebuild
    MaintenanceProtocol.markDirty(spark, path)
    try {
      val got = artifactRows(Similarity.readPqPostings(spark, path))
      val want = artifactRows(Similarity.ivfPqPostings(e, cents, cs, 4))
      assert(got == want, "dirty-state read did not converge")
    } finally MaintenanceProtocol.clearDirty(spark, path)
  }
}
