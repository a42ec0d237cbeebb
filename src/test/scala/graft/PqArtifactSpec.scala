package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps._
import graft.operators.{MaintenanceProtocol, PostingsCodec, PostingsManifest, Similarity}
import graft.operators.CoarseQuantizer.Flat
import graft.operators.Similarity.MaintenanceMode
import graft.operators.Similarity.MaintenanceMode.{Auto, Fragment, Retained}
import graft.operators.Similarity.PostingsSource

/** The IVF postings artifact under the PQ codec: codebook sidecar
  * round-trip + checksum fail-fasts, the append/replay/compact
  * lifecycle under every maintenance mode ≡ the from-scratch build, the
  * steady-state serve ≡ the transient composed route, the codec
  * identity fail-fasts, and the manifest/cap invariants the codec
  * shares with the float postings artifact. */
class PqArtifactSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def embTable = Tables.load(spark, sf0001, "embeddings")

  private def centArr(e: DataFrame, n: Int): Array[Array[Double]] =
    e.filter($"vec_id" < n)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)

  private def tmp(prefix: String): String =
    tempDir(prefix)
      .resolve("pq_postings").toString

  /** Residual head codebooks over the first `n` vectors as cells. */
  private def pqCodec(e: DataFrame, cents: Array[Array[Double]],
      k: Int = 16): PostingsCodec.Pq =
    PostingsCodec.Pq(Similarity.pqCodebooksFromHead(e, m = 8, k = k,
      residual = Some(Flat(cents))))

  /** The two-stage serve off the artifact: ADC preselect `fetch` deep,
    * exact re-rank to `k`. */
  private def serve(queries: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]], path: String, probes: Int, k: Int,
      fetch: Int): DataFrame =
    Similarity.rerankExactL2(corpus, queries, Similarity.ivfTopKFromPostings(
      queries, Flat(cents), PostingsSource.Classic(path), probes, fetch), k)

  private def artifactRows(df: DataFrame): Set[(Int, Long, Seq[Int], Double)] =
    df.select($"cell".cast("int"), $"cand_id", $"codes",
        round($"d2", 4) + lit(0.0))
      .as[(Int, Long, Seq[Int], Double)].collect().toSet

  test("codebook sidecar: save/load round-trips bit-identically, " +
      "carries the encoding law, and refuses corruption") {
    val e = embTable
    val cents = centArr(e, 8)
    val cs = pqCodec(e, cents).cs
    val dir = tmp("graft_pq_cb")
    PostingsCodec.save(spark, dir, PostingsCodec.Pq(cs, residual = true))
    val PostingsCodec.Pq(loaded, residual) = PostingsCodec.load(spark, dir)
    assert(residual)
    assert(loaded.checksum == cs.checksum)
    assert(loaded.m == cs.m && loaded.dsub == cs.dsub && loaded.k == cs.k)
    (0 until cs.m * cs.k).foreach { r =>
      assert(java.util.Arrays.equals(loaded.codes(r), cs.codes(r)),
        s"codeword row $r drifted through the sidecar")
    }
    // a flipped codeword byte fails the checksum at load, not at serve
    val fs = graft.operators.MaintenanceProtocol.fsOf(spark, dir)
    val p = PostingsCodec.sidecarPath(dir)
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
      PostingsCodec.load(spark, dir)
    }
    assert(ex.getMessage.contains("checksum"))
  }

  /** Build over an 80% seed (its manifest deleted under `adopt`), append
    * the two 10% batches and replay the first under `mode`, then
    * `compact`: the artifact must land exactly the from-scratch coded
    * build, manifest clean, one live file per cell, the binding cap
    * held. */
  private def lifecycle(mode: MaintenanceMode, compact: String => Unit,
      adopt: Boolean = false): Unit = {
    val e = embTable
    val cents = centArr(e, 8)
    val codec = pqCodec(e, cents)
    val cs = codec.cs
    val cap = 4
    val seed = e.filter($"vec_id" % 10 >= 2)
    val b1 = e.filter($"vec_id" % 10 === 0)
    val b2 = e.filter($"vec_id" % 10 === 1)
    val path = tmp("graft_pq_life")
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(seed, Flat(cents), cap, codec), path, codec)
    if (adopt) MaintenanceProtocol.fsOf(spark, path)
      .delete(PostingsManifest.manifestDir(path), false)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, mode)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b2, mode)
    Similarity.appendIvfPostings(spark, path, Flat(cents), b1, mode) // replay
    compact(path)
    val got = artifactRows(Similarity.readPostings(spark, path))
    val want = artifactRows(Similarity.ivfPostings(e, Flat(cents), cap, codec))
    assert(got == want, "maintained artifact != from-scratch build")
    // manifest invariants: clean, 1 file per populated cell, cap held
    val st = PostingsManifest.readClean(spark, path)
    assert(st.nonEmpty, "manifest dirty or missing after compact")
    assert(st.get.perCellFiles.values.forall(_ == 1),
      s"fragments survive compaction: ${st.get.perCellFiles}")
    assert(st.get.perCellRows.values.forall(_ <= cap),
      s"cap $cap violated: ${st.get.perCellRows}")
    // params embed the coarse geometry + the codebook checksum column
    val pqCks = Similarity.readPostings(spark, path)
      .select($"pq_ck").distinct().as[Long].collect().toSeq
    assert(pqCks == Seq(cs.checksum))
  }

  test("lifecycle: build + fragment appends + replay + compact lands " +
      "exactly the from-scratch coded build; manifest stays clean and " +
      "1-file-per-cell; the binding cap holds") {
    lifecycle(Fragment, Similarity.compactIvfPostings(spark, _))
  }

  // the recap modes read old rows through the codec's data schema: a
  // float schema left on any recap route fails these
  Seq[(String, MaintenanceMode)]("retained" -> Retained,
      "auto" -> Auto()).foreach { case (name, mode) =>
    test(s"lifecycle under $name appends + replay + retained compaction " +
        "lands exactly the from-scratch coded build") {
      lifecycle(mode, Similarity.compactIvfPostingsRetained(spark, _))
    }
  }

  test("lifecycle under retained appends that adopt a manifest-less " +
      "artifact + replay + retained compaction lands exactly the " +
      "from-scratch coded build") {
    lifecycle(Retained, Similarity.compactIvfPostingsRetained(spark, _),
      adopt = true)
  }

  test("serve from the persisted artifact equals the transient " +
      "composed route at the same geometry") {
    val e = embTable
    val cents = centArr(e, 8)
    val codec = pqCodec(e, cents)
    val cs = codec.cs
    val path = tmp("graft_pq_serve")
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(e, Flat(cents), cellCap = 4, codec), path, codec)
    val centTable = e.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    def rows(d: DataFrame) = d
      .select($"vec_id", $"neighbor_id", $"d2", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val fromArtifact = rows(serve(
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
    val codec = pqCodec(e, cents)
    val path = tmp("graft_pq_fail")
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(e.filter($"vec_id" % 10 =!= 0), Flat(cents),
        cellCap = 4, codec), path, codec)
    val otherCents = centArr(e, 9).drop(1) // 8 different centroids
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPostings(spark, path, Flat(otherCents),
        e.filter($"vec_id" % 10 === 0), Fragment)
    }
    intercept[IllegalArgumentException] {
      serve(e.filter($"vec_id" < 5), e,
        otherCents, path, probes = 2, k = 3, fetch = 5)
    }
    // swap the sidecar for a DIFFERENT codebook set: the stored codes'
    // pq_ck no longer matches — serve must fail, not silently mis-rank
    val otherCs = Similarity.pqCodebooksFromHead(e, m = 8, k = 8)
    PostingsCodec.save(spark, path, PostingsCodec.Pq(otherCs, residual = true))
    val ex = intercept[IllegalArgumentException] {
      serve(e.filter($"vec_id" < 5), e,
        cents, path, probes = 2, k = 3, fetch = 5)
    }
    assert(ex.getMessage.contains("rebuild"))
    // save refuses a frame/codebook mismatch up front too
    intercept[IllegalArgumentException] {
      Similarity.saveIvfPostings(
        Similarity.ivfPostings(e, Flat(cents), 4, codec), tmp("graft_pq_fail2"),
        PostingsCodec.Pq(otherCs))
    }
  }

  test("append assigns and encodes under the artifact's own law: a " +
      "fragment-appended batch carries codes identical to the " +
      "from-scratch encode, and the dirty fallback read converges") {
    val e = embTable
    val cents = centArr(e, 8)
    val codec = pqCodec(e, cents)
    val path = tmp("graft_pq_dirty")
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(e.filter($"vec_id" % 10 =!= 0), Flat(cents),
        cellCap = 4, codec), path, codec)
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      e.filter($"vec_id" % 10 === 0), Fragment)
    Similarity.appendIvfPostings(spark, path, Flat(cents),
      e.filter($"vec_id" % 10 === 0), Fragment) // replay, uncompacted
    // a stranded dirty flag degrades the read to the converging
    // fallback — dedup + re-cap on the stored d2 must land the rebuild
    MaintenanceProtocol.markDirty(spark, path)
    try {
      val got = artifactRows(Similarity.readPostings(spark, path))
      val want = artifactRows(Similarity.ivfPostings(e, Flat(cents), 4, codec))
      assert(got == want, "dirty-state read did not converge")
    } finally MaintenanceProtocol.clearDirty(spark, path)
  }

  test("codec identity fails fast: coded data that lost its sidecar, and " +
      "a PQ artifact served or appended through a frame, are never read " +
      "or appended as float") {
    val e = embTable
    val cents = centArr(e, 8)
    val codec = pqCodec(e, cents)
    val path = tmp("graft_pq_codec")
    Similarity.saveIvfPostings(
      Similarity.ivfPostings(e, Flat(cents), cellCap = 4, codec), path, codec)
    val frame = Similarity.readPostings(spark, path)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromPostings(e.filter($"vec_id" < 5), Flat(cents),
        PostingsSource.Frame(frame), probes = 2, k = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfPostings(frame, Flat(cents), e.limit(3))
    }
    // copied without its `_` sidecars (partition discovery skips them
    // all): the data files still carry codes, the codebooks are gone
    val fs = MaintenanceProtocol.fsOf(spark, path)
    Seq("_pq_codebooks", "_manifest", "_manifest_log").foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(path, n), true))
    intercept[IllegalArgumentException](Similarity.readPostings(spark, path))
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPostings(spark, path, Flat(cents), e.limit(3),
        Fragment)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromPostings(e.filter($"vec_id" < 5), Flat(cents),
        PostingsSource.Classic(path), probes = 2, k = 3)
    }
    assert(!spark.read.parquet(path).columns.contains("cv"),
      "a float batch landed in a coded artifact")
  }
}
