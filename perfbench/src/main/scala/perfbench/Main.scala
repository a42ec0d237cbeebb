package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession}

/** One benchmark run in one JVM: set up, run closed-loop units for the
  * requested seconds, check outputs, and write a result file for
  * `run.py`. Usage (normally through run.py):
  *
  * {{{
  * perfbench.Main --workload bi_mix --seed 1 --seconds 10 --trace 0
  *   --scale full --work <dir> --out <file> --gen-tables <gen_tables.py>
  * }}}
  */
object Main {

  /** [[Bench.CalibNominalSec]] for an eighth of its loop — the work each
    * core does in [[parallelProbeSec]]. */
  val ParNominalSec: Double = Bench.CalibNominalSec / 8

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    if (workload == "startup") return startup(work, cores)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val tiny = opt.get("scale").contains("tiny")

    val spark = GraftSession.defaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // from main() on: the JVM's own launch is left out, it only adds noise
    val sessionS = (System.nanoTime() - t0) / 1e9

    // Host context, recorded only. Bench's single-thread probes cost
    // 6-12 s a run on a 4-core box, so they run once, at the end of
    // traced runs; the bandwidth probe could not run earlier anyway: its
    // 256 MiB array stays reachable from `Bench` for the life of the JVM
    // and would count in heap_live_peak_mb.
    val parStart = parallelProbeSec(cores)

    val t = new Tracer(spark, cores)
    val w: Workload = workload match {
      case "bi_mix" =>
        new BiMix(spark, t, work, seed, opt("gen-tables"), if (tiny) 0.001 else 0.01)
      case "curation_cycle" =>
        if (tiny) new Curation(spark, t, work, seed, 300, 300, 20, 5, 8, 4, 0.8)
        else new Curation(spark, t, work, seed, 1500, 1500, 100, 25, 32, 10, 0.8)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupReps = (0 until 3).map(r => timed(w.setup(r)))
    val prepareS = timed(w.prepare())
    val digest = w.inputDigest
    t.settleHeap()

    // Closed loop: the next unit starts when the previous one is done.
    // A traced run measures exactly three units: the first untraced (it
    // pays the cold start), the second traced, the third untraced, which
    // the traced one is compared with for the tracing overhead.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var u = 0
    while (if (trace) u < 3 else u == 0 || System.nanoTime() < deadline) {
      t.unit(traced = trace && u == 1, reference = !trace || u > 0)(w.unit(u))
      w.check(u)
      u += 1
    }
    val heapMb = t.heapPeakMb
    val finishS = timed(w.finish())
    val layers = if (trace) t.layerMetrics() ++ w.layerExtras() else Map.empty[String, Double]

    val calibEnd = if (trace) Bench.calibrationSec() else Double.NaN
    val bwEnd = if (trace) Bench.calibrationBwSec() else Double.NaN
    val parEnd = parallelProbeSec(cores)

    val measured = t.units.filterNot(_.traced)
    val latencies = t.ops.map(_._2).toSeq
    val setupS = sessionS + Stats.median(setupReps) + prepareS
    val e2e: Map[String, Double] =
      if (trace) Map.empty
      else Map(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(measured.map(_.wallS).toSeq),
        "op_p50_s" -> (if (latencies.isEmpty) 0.0 else Stats.hdQuantile(latencies, 0.5)),
        "op_p90_s" -> (if (latencies.isEmpty) 0.0 else Stats.hdQuantile(latencies, 0.9)),
        "heap_live_peak_mb" -> heapMb,
        "write_bytes_per_input_byte" ->
          measured.map(_.writeBytes).sum.toDouble / math.max(1L, measured.map(_.inputBytes).sum))

    def numMap(m: Map[String, Double]): String =
      Json.obj(m.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
    val byOp = t.ops.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) =>
      n -> Stats.dispersionJson(xs.map(_._2).toSeq)
    }
    val details = Json.obj(Seq(
      "cores" -> cores.toString,
      "units" -> t.units.size.toString,
      "unit_wall_s" -> t.units.map(r => Json.num(r.wallS)).mkString("[", ",", "]"),
      "latency_ops" -> Stats.dispersionJson(latencies),
      "ops" -> Json.obj(byOp),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "inputs_s" -> setupReps.map(Json.num).mkString("[", ",", "]"),
        "prepare_s" -> Json.num(prepareS))),
      "finish_s" -> Json.num(finishS),
      "host_factor" -> Json.num(calibEnd / Bench.CalibNominalSec),
      "host_factor_bw" -> Json.num(bwEnd / Bench.CalibBwNominalSec),
      "host_factor_par" -> Json.num((parStart + parEnd) / 2 / ParNominalSec),
      "host_factor_par_start_end_s" -> s"[${Json.num(parStart)},${Json.num(parEnd)}]",
      "input_digest" -> Json.str(digest)) ++ w.details)
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> w.attempted.toString,
      "failed" -> w.failed.toString,
      "problems" -> w.problems.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> numMap(e2e),
      "layers" -> numMap(layers),
      "details" -> details))
    Files.writeString(Paths.get(opt("out")), result)
    if (trace)
      Files.write(Paths.get(opt("out") + ".spans.jsonl"),
        t.spansJson.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** Start a session, run one small job and exit: run.py records this
    * JVM into a class-data-sharing archive that later runs start from. */
  private def startup(work: String, cores: Int): Unit = {
    val spark = GraftSession.defaults(SparkSession.builder()
      .master(s"local[$cores]").config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")).getOrCreate()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
      .write.mode("overwrite").parquet(s"$work/startup")
    spark.read.parquet(s"$work/startup").collect()
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The all-cores throughput probe (host_factor_par): `cores` threads
    * each run [[Bench]]'s xorshift loop for an eighth of its length,
    * once after one warm-up; a box whose cores are shared with other
    * tenants reads slow here even when the single-thread probe does
    * not. */
  def parallelProbeSec(cores: Int): Double = {
    val sink = new java.util.concurrent.atomic.DoubleAdder
    def work(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var s = 0.0
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        s += (x & 0xFFFF).toDouble * 1.0e-9
        i += 1
      }
      s
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until cores).map(_ => new Thread(() => sink.add(work())))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }
}
