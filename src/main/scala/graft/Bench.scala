package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: run the headline queries on
  * `SPARK_GRAFT_SF_DIR` and print ONE JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query runs once untimed (JIT/codegen warm-up — on a long-lived
  * cluster these costs amortize to zero), then `BENCH_ITERS` (default 5)
  * timed runs; the reported figure is the MEDIAN. Single-shot timings on
  * this single-JVM harness carry 1.5-3× run-to-run noise from tiered-JIT
  * recompilation and code-cache churn (measured: q32 timed 6.24 s in one
  * round and 3.68 s in a rerun of identical code; six BenchOne
  * iterations settle at 1.8 s).
  *
  * Timed iterations are interleaved ROUND-ROBIN across queries (pass 1
  * of every query, then pass 2, ...), not back-to-back per query: a
  * transient whole-box slowdown (GC storm, JIT recompile wave,
  * co-tenant load) then lands on at most ONE sample of each query —
  * which the median rejects — instead of on every sample of whichever
  * query it happened to hit. Back-to-back sampling is how round 6
  * reported q06 at 3.1× its round-5 time on identical code: all three
  * samples fell inside one slow window and the median kept it.
  */
object Bench {

  /** Fixed pure-CPU workload (xorshift + FP accumulate, single thread,
    * zero I/O, zero Spark) — the host-drift self-calibration SURVEY
    * §6.1.8 calls for: the same box ran near-identical code 1.14–1.5×
    * apart within hours, so BENCH_rN ↔ BENCH_rN−1 comparisons need a
    * box-speed denominator measured IN the run they normalize. The
    * work is a compile-time constant — never scaled by sf, cpus, or
    * env — so its wall time varies only with the machine. */
  private def calibrateOnce(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var s = 0.0
    var i = 0
    while (i < 400000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      s += (x & 0xFFFF).toDouble * 1.0e-9
      i += 1
    }
    s
  }

  /** Median-of-3 calibration seconds (after one untimed JIT warm-up
    * pass; the sink defeats dead-code elimination). */
  def calibrationSec(): Double = {
    val sink = calibrateOnce()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val s = calibrateOnce()
      val sec = (System.nanoTime() - t0) / 1e9
      if (s + sink == Double.MinValue) System.err.println("calib sink")
      sec
    }.sorted
    times(1)
  }

  /** Fixed memory-BANDWIDTH workload — the second calibration dimension
    * r14 proved the ALU probe blind to: one bench window ran a uniform
    * ~1.35× slow while `host_factor` read 1.01, because the co-tenant
    * pressure was DRAM bandwidth, not core time. One touch per 64-byte
    * cache line over a 256 MiB long array (far past any LLC), so wall
    * time tracks memory-system throughput with near-zero ALU demand —
    * the complement of [[calibrateOnce]]. Single-threaded like the ALU
    * probe: a saturating co-tenant suppresses even one stream's share. */
  private lazy val bwArr: Array[Long] = {
    val a = new Array[Long]((1 << 28) / 8) // 256 MiB
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

  private def calibrateBwOnce(): Long = {
    var s = 0L
    var pass = 0
    while (pass < 8) { // 8 × 256 MiB = 2 GiB of line-granular traffic
      var i = 0
      while (i < bwArr.length) { s += bwArr(i); i += 8 }
      pass += 1
    }
    s
  }

  /** Median-of-3 bandwidth-probe seconds (untimed warm-up pass first —
    * it also faults the array in on the first call). */
  def calibrationBwSec(): Double = {
    val sink = calibrateBwOnce()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val s = calibrateBwOnce()
      val sec = (System.nanoTime() - t0) / 1e9
      if (s + sink == Long.MinValue) System.err.println("calib bw sink")
      sec
    }.sorted
    times(1)
  }

  /** What [[calibrationSec]] measures on the reference box at its fast
    * point (r14, quiet box; five samples 0.88–0.94) — host_factor =
    * measured / this, so 1.0 = reference speed, 1.5 = the slow end of
    * the observed §6.1.8 drift band. Cross-round query-time ratios
    * divide by the factor. */
  val CalibNominalSec = 0.88

  /** [[calibrationBwSec]] on the reference box at its fast point (r14,
    * quiet box; three samples 0.318–0.330 ≈ 6.3 GB/s single-stream) —
    * host_factor_bw = measured / this. Read the TWO factors together:
    * core contention moves host_factor, bandwidth contention (the r14
    * blind spot: a uniform 1.35× bench window at host_factor 1.01)
    * moves host_factor_bw, and a shared-box slowdown that shows in
    * NEITHER has not been observed. */
  val CalibBwNominalSec = 0.32

  def main(args: Array[String]): Unit = {
    val sfDir = graft.sources.Config.resolveDir(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // calibration-only mode: print the raw seconds + factor and exit —
    // how CalibNominalSec itself was pinned, and a quick box-speed probe
    // for any future timing investigation
    if (sys.env.contains("BENCH_CALIB_ONLY")) {
      val sec = calibrationSec()
      val bw = calibrationBwSec()
      println(f"""{"calib_sec":$sec%.4f,"host_factor":${sec / CalibNominalSec}%.3f,"calib_bw_sec":$bw%.4f,"host_factor_bw":${bw / CalibBwNominalSec}%.3f}""")
      return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.defaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // host-speed probe BEFORE any Spark work touches the caches (and
    // again after the metrics block — a box that slows down MID-run
    // shows up as start/end disagreement)
    val calibStartSec = calibrationSec()
    val calibBwStartSec = calibrationBwSec()
    // schema gate first (same as Verify): a drifted snapshot fails
    // HERE with per-column diffs instead of as N erroring queries
    // whose timings silently vanish from the report — the r10 bench
    // lost 11 queries to exactly that
    Tables.validate(spark, sfDir)

    // The noop sink consumes every output row and column, so Catalyst
    // cannot prune projections/windows the way it can under count() —
    // times reflect the full query, not the count-optimized skeleton.
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // optional subset (dev/diagnosis: adjacency and ordering effects are
    // part of what this harness measures — the driver passes no args)
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      if (args.isEmpty) all
      else {
        val unknown = args.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        all.filter(args.contains)
      }
    }
    // warm-up pass: JVM/codegen/parquet-footer caches. A warm-up failure
    // is tolerated (the timed passes decide pass/fail) but LOGGED to
    // stderr — stdout stays the driver's single JSON line — so a query
    // that flakes only its warm-up leaves a trace instead of vanishing.
    // clearCache between queries: each query's persisted intermediates
    // (the dedup/LSH frames) are scoped to its own run, so timings are
    // self-contained and cached blocks can't accumulate across the
    // (1 warm-up + BENCH_ITERS) × |queries| runs of a bench session
    // (executor-memory pressure from leaked blocks was distorting
    // unrelated queries' times in r2). It runs OUTSIDE the timed
    // bracket: the driver-side unpersist is bench hygiene, not query
    // execution, and folding it into the sample inflated every cached
    // query's report by its own teardown.
    names.foreach { name =>
      try run(name)
      catch {
        case e: Throwable =>
          System.err.println(s"bench warm-up failed for $name: $e")
      }
      finally spark.catalog.clearCache()
    }
    // timed passes: failures are reported by name, never silently folded
    // into the total as elapsed-to-failure time. The heap settles BEFORE
    // each timer starts (bench hygiene, not a product knob): without it,
    // one full GC of the accumulated cross-query garbage lands inside an
    // arbitrary query's timed region and shows up as a phantom 5-10s
    // regression on a sub-second query.
    val iters = sys.env.getOrElse("BENCH_ITERS", "5").toInt
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    val samples =
      scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
    (1 to iters).foreach { _ =>
      names.foreach { name =>
        System.gc()
        val t0 = System.nanoTime()
        try {
          run(name)
          samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => () }
        finally spark.catalog.clearCache() // teardown stays untimed
      }
    }
    // env-gated per-sample dump (stderr — stdout stays the one JSON
    // line): medians hide WHICH pass a slowdown landed on, and a
    // positional effect (first-of-round tax, neighbor interference)
    // only shows in the raw sample sequence
    if (sys.env.contains("BENCH_DEBUG_SAMPLES"))
      names.foreach { name =>
        System.err.println(s"[bench-samples] $name: " +
          samples(name).map(t => f"$t%.3f").mkString(" "))
      }
    val results = names.map { name =>
      val times = samples(name)
      // ANY failed iteration marks the query failed (-1.0, excluded from
      // the total) — a query flaking some of its runs must not report a
      // lucky surviving time as a healthy median
      if (times.size < iters) { errors += name; name -> -1.0 }
      else name -> times.sorted.apply(times.size / 2)
    }
    // ms precision: the documented run-to-run noise floor is 1.5-3×,
    // so sub-ms digits are pure line length — and the driver archives
    // only a bounded tail of this line, so every wasted character
    // pushes another query's timing out of the captured artifact.
    // Locale.ROOT, never the f interpolator: String.format under a
    // comma-decimal default locale (de_DE, fr_FR) renders 0.33 as
    // "0,330" and the single JSON output line stops parsing.
    def num(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    val qs = results.map { case (k, v) => s""""$k":${num(v, 3)}""" }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // quality metrics ride the same JSON line: trained-IVF recall@10
    // with the tracked production parameters (cells=32, probes=12 — the
    // knee of the measured recall/latency curve, SURVEY §6.2), so a
    // round that silently degrades the index shows up as a metrics
    // regression even while timings hold; plus the incremental-index
    // measurements (IndexBench) — per-ingest screen through a persisted
    // index vs full recompute, the numbers behind the 100-TB claim on
    // nearDupAgainstIndex/contaminationAgainstIndex. These ride outside
    // the queries total (they are index-health/ingest-economics numbers,
    // not per-query throughput).
    val metrics =
      try {
        val embDf = Tables.load(spark, sfDir, "embeddings")
        val recall = graft.operators.Similarity.ivfRecallAtK(
          embDf, numCells = 32, probes = 12, k = 10, trainFraction = 0.25)
        // PQ family health: trained-codebook reconstruction MSE plus
        // two-stage (ADC preselect -> exact re-rank) recall@10 at
        // fetch=100 — the serving shape whose recall a deployment
        // actually tracks (raw ADC@k is within-region tie-break-bound).
        // k=256 = the standard one-byte-per-subspace codebook, the
        // codebook-size knee at sf0.1 (16/64/256 -> recall .59/.80/.90,
        // SURVEY §6.2); fit is sub-second at any of the three.
        val pqCs = graft.operators.Similarity.fitPqCodebooks(
          embDf, m = 8, k = 256, iters = 10)
        val pqRecall = graft.operators.Similarity.pqRecallAtK(
          embDf, pqCs, k = 10, fetch = 100)
        val pqMse = graft.operators.Similarity.pqReconstructionError(
          embDf, pqCs)
        // composed IVF+PQ health (r19): trained 32-cell coarse
        // quantizer + RESIDUAL codebooks, 12-probe, fetch=100 re-rank
        // — the full IndexIVFPQ serve whose recall a deployment tracks
        // next to the plain-PQ number above
        val ivfPqRecall = {
          val model = graft.operators.Similarity.fitIvfIndex(
            embDf, 32, trainFraction = 0.25)
          val cents = model.clusterCenters.map(_.toArray)
          val cs = graft.operators.Similarity.fitPqCodebooks(
            embDf, m = 8, k = 256, iters = 10,
            residual = Some(graft.operators.CoarseQuantizer.Flat(cents)))
          graft.operators.Similarity.ivfPqRecallAtK(embDf,
            org.apache.spark.sql.functions.lit(true),
            graft.operators.Similarity.centroidTableOf(spark, cents),
            cs, probes = 12, k = 10, fetch = 100)
        }
        val nd = IndexBench.nearDup(spark, sfDir, iters = 3)
        val ct = IndexBench.contamination(spark, sfDir, iters = 3)
        val ex = IndexBench.exactDedup(spark, sfDir, iters = 3)
        val dr = IndexBench.exactAppendDrift(spark, sfDir, iters = 3)
        val iv = IndexBench.ivfServe(spark, sfDir, iters = 3)
        // streaming-lifecycle health (SURVEY §6.1.6): per-trigger
        // flatness of the three ingest seams over a short in-run
        // artifact growth — a regression in the seam shapes or the
        // foreachBatch persist pin shows up here, like the index
        // speedups do. NaN (a seam that admitted no rows) renders as
        // JSON null, never as an unparseable bare NaN token.
        def numOrNull(v: Double, dp: Int): String =
          if (v.isNaN || v.isInfinite) "null" else num(v, dp)
        val ing = IngestBench.run(spark, sfDir, nBatches = 4)
        val ingJson =
          s""""ingest_flatness_neardup":${numOrNull(IngestBench.flatness(ing.neardup.map(_._2)), 2)},"ingest_flatness_exact":${numOrNull(IngestBench.flatness(ing.exact.map(_._2)), 2)},"ingest_flatness_ivf":${numOrNull(IngestBench.flatness(ing.ivf.map(_._2)), 2)}"""
        s"""{"ivf_recall_at_10":${num(recall, 4)},"pq_recall_at_10":${num(pqRecall, 4)},"pq_mse":${num(pqMse, 4)},"ivfpq_recall_at_10":${num(ivfPqRecall, 4)},"neardup_screen_sec":${num(nd.screenSec, 3)},"neardup_full_sec":${num(nd.fullSec, 3)},"neardup_index_speedup":${num(nd.speedup, 2)},"contam_screen_sec":${num(ct.screenSec, 3)},"contam_full_sec":${num(ct.fullSec, 3)},"contam_index_speedup":${num(ct.speedup, 2)},"exact_screen_sec":${num(ex.screenSec, 3)},"exact_full_sec":${num(ex.fullSec, 3)},"exact_bloom_speedup":${num(ex.speedup, 2)},"exact_screen0_sec":${num(dr.screen0Sec, 3)},"exact_screen_appended_sec":${num(dr.screenAppendedSec, 3)},"exact_screen_compacted_sec":${num(dr.screenCompactedSec, 3)},"exact_append_drift":${num(dr.drift, 2)},"ivf_serve_sec":${num(iv.screenSec, 3)},"ivf_serve_full_sec":${num(iv.fullSec, 3)},"ivf_postings_speedup":${num(iv.speedup, 2)},$ingJson}"""
      } catch {
        // a broken index build must be VISIBLE in the metrics block,
        // not silently collapse to {} — null value + the error message
        case e: Throwable =>
          // strip EVERY control char (not just \n\r\t) plus quote and
          // backslash — one raw control char would invalidate the
          // driver's parse of the single JSON output line
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .map(c => if (c < ' ' || c == '"' || c == '\\') ' ' else c)
            .take(200)
          s"""{"ivf_recall_at_10":null,"error":"$msg"}"""
      }
      finally spark.catalog.clearCache()
    // end-of-run probe + the factor the driver normalizes by: the MEAN
    // of start/end (each already a median-of-3), with both raw numbers
    // kept so a mid-run drift is visible rather than averaged away
    val calibEndSec = calibrationSec()
    val calibBwEndSec = calibrationBwSec()
    val hostFactor = (calibStartSec + calibEndSec) / 2.0 / CalibNominalSec
    val hostFactorBw =
      (calibBwStartSec + calibBwEndSec) / 2.0 / CalibBwNominalSec
    // bandwidth-aware normalization (§6.1.8), applied IN the summary so
    // cross-round reads stop hand-correcting: a co-tenant slowdown
    // shows in at least one probe (core moves host_factor, bandwidth
    // moves host_factor_bw; a slowdown visible in neither has not been
    // observed), so the conservative box-independent wall divides by
    // the LARGER factor. total_normalized_core keeps the historical
    // core-only convention alongside it — read both: if they disagree,
    // the window was bandwidth-contended and raw per-query deltas are
    // suspect.
    val normFactor = math.max(hostFactor, hostFactorBw)
    val calibJson =
      s""""host_factor":${num(hostFactor, 3)},"calib_start_sec":${num(calibStartSec, 3)},"calib_end_sec":${num(calibEndSec, 3)},"host_factor_bw":${num(hostFactorBw, 3)},"calib_bw_start_sec":${num(calibBwStartSec, 3)},"calib_bw_end_sec":${num(calibBwEndSec, 3)},"total_normalized":${num(total / normFactor, 3)},"total_normalized_core":${num(total / hostFactor, 3)}"""
    val report =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qs,"errors":$errJson,"metrics":$metrics,$calibJson,"sf":"$sfDir"}"""
    // The driver archives only a bounded TAIL of this process's stdout,
    // so the single line above has been truncated in every BENCH_r*.json
    // to date (q01-q12 lost each round). The complete report therefore
    // also lands in a file in the repo working tree — the durable
    // artifact; stdout stays the driver-contract summary. Failure to
    // write the file must not fail the bench (stdout already has the
    // report), but it is logged rather than swallowed.
    val reportFile = sys.env.getOrElse("BENCH_REPORT_FILE", "bench_local.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(reportFile),
      (report + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Exception =>
        System.err.println(s"bench report file write failed ($reportFile): $e")
    }
    println(report)
    spark.stop()
  }
}
