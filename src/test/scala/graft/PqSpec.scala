package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{PqAdc, PqCodebookSet, PqEncode, PqKernel, PqLut}
import graft.functions.VectorOps._
import graft.operators.Similarity
import graft.operators.CoarseQuantizer.Flat

/** Product-quantization family: encode argmin semantics (incl.
  * tie-breaks), ADC arithmetic, the checksum fail-fast, recall on a
  * clustered fixture, and the trained fit's quality + determinism. */
class PqSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.GraftColumnBridge

  private def embTable = Tables.load(spark, sf0001, "embeddings")

  /** Clustered synthetic corpus: every vector = one of `centers`
    * codeword-grid points + a small deterministic perturbation, so PQ
    * codes are near-exact and the ADC ranking should recover the true
    * neighbors — the fixture that makes a recall floor MEANINGFUL
    * (random uniform vectors have no recoverable structure at 16
    * codes). */
  private def clustered(n: Int, m: Int, dsub: Int,
      centers: Int): Seq[(Long, Seq[Float], String)] = {
    val rnd = new scala.util.Random(42)
    val grid = Array.fill(centers, m * dsub)(rnd.nextDouble() * 10.0)
    (0 until n).map { i =>
      val c = grid(i % centers)
      val v = c.map(x => (x + rnd.nextGaussian() * 0.01).toFloat).toSeq
      (i.toLong, v, s"l${i % 3}")
    }
  }

  private def df(rows: Seq[(Long, Seq[Float], String)]) =
    rows.toDF("vec_id", "embedding", "label")

  test("encode: codegen route equals driver-side kernel eval, " +
      "and the argmin tie-break is (d2 asc, code asc)") {
    val e = embTable.limit(64)
    val cs = Similarity.pqCodebooksFromHead(e, m = 8, k = 16)
    val got = Similarity.pqEncodeCorpus(e, cs)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    // driver-side truth: same argmin, hand-rolled
    val vecs = e.select($"vec_id", asDouble($"embedding"))
      .as[(Long, Seq[Double])].collect()
    vecs.foreach { case (id, v) =>
      val truth = (0 until cs.m).map { s =>
        val d2s = (0 until cs.k).map { c =>
          val cw = cs.codeword(s, c)
          var acc = 0.0
          var j = 0
          while (j < cs.dsub) {
            val d = v(s * cs.dsub + j) - cw(j); acc += d * d; j += 1
          }
          (acc, c)
        }
        d2s.minBy(identity)._2 // (d2, code) lexicographic = the tie-break
      }
      assert(got(id) == truth, s"vec $id")
    }
    // tie-break pin: a vector EQUAL to codeword 0 of every subspace is
    // also equidistant to any duplicate codeword — lowest code must win
    val csDup = PqCodebookSet(2, 2, 3, Array(
      Array(1.0, 2.0), Array(1.0, 2.0), Array(9.0, 9.0),
      Array(5.0, 5.0), Array(3.0, 4.0), Array(3.0, 4.0)))
    val one = Seq((1L, Seq(1.0f, 2.0f, 3.0f, 4.0f), "x")).toDF(
      "vec_id", "embedding", "label")
    val codes = Similarity.pqEncodeCorpus(one, csDup)
      .select($"codes").as[Seq[Int]].collect()(0)
    assert(codes == Seq(0, 1)) // sub 0: codes 0,1 tie -> 0; sub 1: 1,2 tie -> 1
  }

  test("encode: wrong-dim and null-element vectors yield null codes " +
      "(dropped by every downstream rank step)") {
    val cs = Similarity.pqCodebooksFromHead(embTable.limit(16), 8, 16)
    val bc = spark.sparkContext.broadcast(cs)
    val bad = Seq(
      (1L, Some(Seq.fill(64)(Option(1.0)))),          // ok
      (2L, Some(Seq.fill(63)(Option(1.0)))),          // wrong dim
      (3L, Some(Option(1.0) +: Seq.fill(63)(Option.empty[Double]))), // null elems
      (4L, Option.empty[Seq[Option[Double]]]))        // null vector
      .toDF("vec_id", "v")
    val out = bad.select($"vec_id", GraftColumnBridge.column(PqEncode(bc,
        GraftColumnBridge.expression($"v".cast("array<double>")))).as("c"))
      .select($"vec_id", $"c".isNull.as("n")).as[(Long, Boolean)]
      .collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }

  test("adc: equals the manual lookup sum; SQL-registered " +
      "graft_pq_adc resolves; mismatched shapes yield null") {
    val cs = Similarity.pqCodebooksFromHead(embTable.limit(16), 8, 16)
    val bc = spark.sparkContext.broadcast(cs)
    val e = embTable.limit(32)
    val rows = e.select($"vec_id",
        GraftColumnBridge.column(PqLut(bc,
          GraftColumnBridge.expression(asDouble($"embedding")))).as("lut"),
        GraftColumnBridge.column(PqEncode(bc,
          GraftColumnBridge.expression(asDouble($"embedding")))).as("codes"))
    val got = rows.select($"vec_id", GraftColumnBridge.column(PqAdc(
        GraftColumnBridge.expression($"lut"),
        GraftColumnBridge.expression($"codes"), cs.k)).as("d"))
      .as[(Long, Double)].collect().toMap
    val manual = rows.select($"vec_id", $"lut", $"codes")
      .as[(Long, Seq[Double], Seq[Int])].collect()
    manual.foreach { case (id, lut, codes) =>
      val truth = codes.zipWithIndex.map { case (c, s) => lut(s * cs.k + c) }.sum
      assert(got(id) == truth, s"vec $id")
    }
    // SQL registration (shape arg as literal)
    rows.createOrReplaceTempView("pq_rows")
    val viaSql = spark.sql(
      s"SELECT vec_id, graft_pq_adc(lut, codes, ${cs.k}) AS d FROM pq_rows")
      .as[(Long, Double)].collect().toMap
    assert(viaSql == got)
    // invalid shape literal fails ANALYSIS, not construction
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_pq_adc(lut, codes, 0) FROM pq_rows").collect()
    }
    // mismatched lut/codes shapes -> null, never a garbage distance
    val bad = Seq((Seq(1.0, 2.0, 3.0), Seq(0, 1))).toDF("lut", "codes")
    assert(bad.select(GraftColumnBridge.column(PqAdc(
        GraftColumnBridge.expression($"lut"),
        GraftColumnBridge.expression($"codes"), 2)).as("d"))
      .filter($"d".isNull).count() == 1)
    // out-of-range code -> null
    val oob = Seq((Seq(1.0, 2.0, 3.0, 4.0), Seq(0, 5))).toDF("lut", "codes")
    assert(oob.select(GraftColumnBridge.column(PqAdc(
        GraftColumnBridge.expression($"lut"),
        GraftColumnBridge.expression($"codes"), 2)).as("d"))
      .filter($"d".isNull).count() == 1)
  }

  test("serve: checksum fail-fast refuses a foreign codebook set, " +
      "including one hidden inside a mixed union") {
    val e = embTable.limit(64)
    val cs = Similarity.pqCodebooksFromHead(e, 8, 16)
    val other = Similarity.pqCodebooksFromHead(e, 8, 8)
    val codes = Similarity.pqEncodeCorpus(e, cs)
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromCodes(codes, e.limit(5), other, k = 3)
    }
    assert(ex.getMessage.contains("re-encode"))
    // a union that LEADS with matching rows still fails: the check is
    // over distinct checksums, not the first row
    val mixed = codes.unionByName(Similarity.pqEncodeCorpus(e, other))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromCodes(mixed, e.limit(5), cs, k = 3)
    }
    assert(ex2.getMessage.contains("re-encode"))
    // and the matching relation still serves
    assert(Similarity.pqTopKFromCodes(codes, e.limit(5), cs, k = 3)
      .count() == 15)
  }

  test("recall: ADC top-k recovers exact-L2 neighbors on a clustered " +
      "corpus; reconstruction error is the fit-quality signal") {
    val e = df(clustered(n = 300, m = 4, dsub = 4, centers = 12))
    val head = Similarity.pqCodebooksFromHead(e, m = 4, k = 8)
    val trained = Similarity.fitPqCodebooks(e, m = 4, k = 8, iters = 10)
    // trained codebooks must reconstruct at least as well as the
    // arbitrary head slices (Lloyd's monotonicity, modulo the head
    // codebook accidentally being optimal)
    val errHead = Similarity.pqReconstructionError(e, head)
    val errTrained = Similarity.pqReconstructionError(e, trained)
    assert(errTrained <= errHead + 1e-9,
      s"trained $errTrained vs head $errHead")
    // the two-stage serve (ADC preselect fetch=50 -> exact re-rank)
    // recovers the exact-L2 top-5 on grid+noise data: every same-
    // cluster candidate ADC-ties at the minimal region distance, so a
    // fetch wider than the cluster admits them all and the re-rank
    // restores exact order — recall governed by fetch, not tie-break
    val recall = Similarity.pqRecallAtK(e, trained, k = 5, fetch = 50)
    assert(recall >= 0.95, s"rerank recall@5 $recall")
    // raw ADC@k on the same corpus is tie-break-bound (every in-region
    // candidate scores identically) — strictly worse than the re-rank,
    // which is exactly why the two-stage shape exists
    val rawAdc = Similarity.pqRecallAtK(e, trained, k = 5)
    assert(rawAdc <= recall, s"raw $rawAdc vs rerank $recall")
    // determinism: a refit lands bit-identical codebooks
    val refit = Similarity.fitPqCodebooks(e, m = 4, k = 8, iters = 10)
    assert(refit.checksum == trained.checksum)
  }

  test("ivf+pq: probing every cell with a corpus-wide fetch degrades " +
      "to exact L2 search; a 1-probe pruned serve recovers clustered " +
      "neighbors") {
    import org.apache.spark.sql.DataFrame
    val e = df(clustered(n = 120, m = 4, dsub = 4, centers = 10))
    val cs = Similarity.fitPqCodebooks(e, m = 4, k = 8, iters = 8)
    // centroids = first 10 vectors; i % 10 cluster assignment makes
    // them land one per cluster, so cells ≈ clusters
    val cents = e.filter($"vec_id" < 10)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    def rows(d: DataFrame) = d
      .select(col(d.columns(0)).as("q"), $"neighbor_id", $"d2", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = rows(Similarity.bruteForceTopKL2(e, $"vec_id" < 15, k = 4))
    // degenerate: every cell probed + fetch ≥ corpus ⇒ the coarse
    // quantizer prunes nothing and the re-rank IS exact search
    val all = rows(Similarity.ivfPqTopKWithCentroids(e, $"vec_id" < 15,
      cents, cs, probes = 10, k = 4, fetch = 200))
    assert(all == want)
    // pruned: 1 probe — the true neighbors are same-cluster members
    // sharing the query's home cell, so the pruned serve still
    // recovers (nearly) all of them
    val pruned = rows(Similarity.ivfPqTopKWithCentroids(e, $"vec_id" < 15,
      cents, cs, probes = 1, k = 4, fetch = 50))
    val hits = pruned.map { case (q, nb, _, _) => (q, nb) }
      .intersect(want.map { case (q, nb, _, _) => (q, nb) })
    assert(hits.size.toDouble / want.size >= 0.9,
      s"pruned recall ${hits.size.toDouble / want.size}")
  }

  test("ivf+pq residual encoding: recall at equal serve cost is >= the " +
      "raw-vector form on a clustered corpus, and the residual " +
      "codebooks reconstruct the residual space better") {
    // geometry chosen so the encoding law is the binding constraint:
    // 4 codewords per subspace cannot describe 10 cluster locations, so
    // raw codes collapse within a probed cell (every member ADC-ties at
    // the region distance) while residual codes — fitted on the small
    // within-cell offsets — still discriminate; fetch < cell population
    // keeps the preselect decisive (a corpus-wide fetch would let the
    // exact re-rank hide any encoding)
    val e = df(clustered(n = 200, m = 4, dsub = 4, centers = 10))
    val centArr = e.filter($"vec_id" < 10)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = e.filter($"vec_id" < 10)
      .select($"vec_id".cast("int").as("cell"),
        asDouble($"embedding").as("centroid"))
    val rawCs = Similarity.fitPqCodebooks(e, m = 4, k = 4, iters = 10)
    val resCs = Similarity.fitPqCodebooks(e, m = 4, k = 4, iters = 10,
      residual = Some(Flat(centArr)))
    val pred = $"vec_id" < 40
    val raw = Similarity.ivfPqRecallAtK(e, pred, cents, rawCs,
      probes = 1, k = 4, fetch = 6, residual = false)
    val res = Similarity.ivfPqRecallAtK(e, pred, cents, resCs,
      probes = 1, k = 4, fetch = 6, residual = true)
    assert(res >= raw, s"residual recall $res < raw $raw")
    // determinism: the residual fit is content-addressed like the raw one
    val refit = Similarity.fitPqCodebooks(e, m = 4, k = 4, iters = 10,
      residual = Some(Flat(centArr)))
    assert(refit.checksum == resCs.checksum)
    // head-slice residual codebooks (the oracle twin) reconstruct the
    // residual corpus strictly better than RAW head slices do — raw
    // codewords sit a cluster-offset away from every residual
    val headRes = Similarity.pqCodebooksFromHead(e, m = 4, k = 8,
      residual = Some(Flat(centArr)))
    val headRaw = Similarity.pqCodebooksFromHead(e, m = 4, k = 8)
    def residCorpus = {
      // residual frame as its own corpus for the reconstruction metric
      import org.apache.spark.sql.functions.{broadcast => bcast}
      val c2 = cents
      Similarity.prepared(e)
        .join(bcast(c2.withColumn("cn2",
          graft.functions.VectorOps.dot($"centroid", $"centroid"))))
        .withColumn("d2", $"nrm" * $"nrm" + $"cn2"
          - lit(2.0) * graft.functions.VectorOps.dot($"v", $"centroid"))
        .withColumn("cr", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
            .orderBy($"d2".asc, $"cell".asc)))
        .filter($"cr" === 1)
        .select($"vec_id",
          zip_with($"v", $"centroid", (a, b) => a - b)
            .cast("array<float>").as("embedding"),
          lit("x").as("label"))
    }
    val errRes = Similarity.pqReconstructionError(residCorpus, headRes)
    val errRaw = Similarity.pqReconstructionError(residCorpus, headRaw)
    assert(errRes < errRaw,
      s"residual head codebooks $errRes !< raw head $errRaw on residuals")
  }

  test("pq kernel: lut layout is s*k+c and encode/lut/adc compose to " +
      "the reconstruction identity") {
    val e = df(clustered(n = 50, m = 4, dsub = 4, centers = 6))
    val cs = Similarity.fitPqCodebooks(e, m = 4, k = 6, iters = 5)
    val bc = spark.sparkContext.broadcast(cs)
    // ADC(lut(v), encode(v)) == sum over subspaces of the min subspace
    // distance == the reconstruction error of v
    val rows = e.select(asDouble($"embedding").as("v"))
      .select(GraftColumnBridge.column(PqAdc(
        GraftColumnBridge.expression(GraftColumnBridge.column(PqLut(bc,
          GraftColumnBridge.expression($"v")))),
        GraftColumnBridge.expression(GraftColumnBridge.column(PqEncode(bc,
          GraftColumnBridge.expression($"v")))), cs.k)).as("self_d2"),
        $"v")
      .as[(Double, Seq[Double])].collect()
    rows.foreach { case (selfD2, v) =>
      val truth = (0 until cs.m).map { s =>
        (0 until cs.k).map { c =>
          val cw = cs.codeword(s, c)
          (0 until cs.dsub).map { j =>
            val d = v(s * cs.dsub + j) - cw(j); d * d
          }.sum
        }.min
      }.sum
      assert(math.abs(selfD2 - truth) < 1e-9)
    }
  }

  test("residual codebooks: the kernel home assignment gives every " +
      "vector the residual the window-ranked form computes, bit for bit") {
    // the window-ranked home assignment + residual, INLINE (the pre-
    // kernel shape and the DuckDB oracle's form), independent of the
    // code under test; a head codebook with k = corpus size carries
    // every vector's residual slices as its codewords
    import org.apache.spark.sql.expressions.Window
    val e = embTable
    val n = e.count().toInt
    val centArr = e.filter($"vec_id" < 8)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val cdf = Similarity.centroidTableOf(spark, centArr)
      .withColumn("cn2", dot($"centroid", $"centroid"))
    val window = Similarity.prepared(e)
      .crossJoin(broadcast(cdf))
      .withColumn("d2",
        $"nrm" * $"nrm" + $"cn2" - lit(2.0) * dot($"v", $"centroid"))
      .filter($"d2".isNotNull)
      .withColumn("cr", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cell".asc)))
      .filter($"cr" === 1)
      .orderBy($"vec_id")
      .select(zip_with($"v", $"centroid", (a, b) => a - b))
      .as[Seq[Double]].collect().map(_.toArray)
    assert(window.length == n)
    val cs = Similarity.pqCodebooksFromHead(e, m = 8, k = n,
      residual = Some(Flat(centArr)))
    val dsub = cs.dsub
    window.zipWithIndex.foreach { case (r, c) =>
      (0 until cs.m).foreach { s =>
        assert(java.util.Arrays.equals(cs.codeword(s, c),
          java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub)),
          s"vector #$c subspace $s: kernel residual != window residual")
      }
    }
  }
}
