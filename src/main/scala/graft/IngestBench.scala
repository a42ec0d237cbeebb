package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{CoarseQuantizer, Dedup}
import graft.streaming.CorpusIngest

/** Streaming-ingest economics at scale: per-MICRO-BATCH wall time of
  * the two dedup-ingest seams ([[CorpusIngest.parquetDedupIngest]] and
  * [[CorpusIngest.parquetExactDedupIngest]]) plus the IVF embedding
  * seam as the standing index grows across the run. StreamingSpec pins
  * the artifact-BYTE growth ∝ batch; this measures the wall-time side
  * of the same claim — each batch screens against an ever-larger
  * index, so a seam whose cost rode the index would show monotonically
  * growing batch times, while the designed cost (∝ batch + candidates)
  * shows a flat profile. SURVEY §6.1.6 records the sf1–sf10 runs;
  * [[Bench]] rides [[run]] at sf0.1 so a regression in the seam shapes
  * (or the foreachBatch persist pin) surfaces in the per-round metrics
  * block automatically.
  *
  * Protocol: the corpus is split into `nBatches` contiguous doc_id
  * ranges (earlier docs arrive first — the direction the generator
  * plants its duplicates); the first range seeds the standing
  * artifacts via the batch API, the rest arrive as one parquet file
  * per micro-batch (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`).
  * Per-batch time is Structured Streaming's own `triggerExecution`
  * duration; the flatness ratio excludes the first streamed batch
  * (JVM/codegen warm-up lands there).
  *
  * Usage: `tools/run_main.sh graft.IngestBench [sfDir] [nBatches]`.
  */
object IngestBench {

  /** Per-seam (rows, seconds) per streamed micro-batch, plus the
    * artifact row counts the byte-growth claims are checked against. */
  final case class Result(
      neardup: Seq[(Long, Double)], exact: Seq[(Long, Double)],
      ivf: Seq[(Long, Double)],
      ndKept: Long, exKept: Long, ivPostings: Long, docs: Long)

  /** max/min over steady-state batch times (warm-up batch excluded).
    * NaN when a seam admitted no rows — nothing to ratio. */
  def flatness(secs: Seq[Double]): Double = {
    val steady = if (secs.size > 1) secs.drop(1) else secs
    if (steady.isEmpty) Double.NaN else steady.max / steady.min
  }

  /** Run all three ingest seams for `nBatches` slices of `sfDir`'s
    * corpus. Session must have `numRecentProgressUpdates >= nBatches`
    * (the ring buffer drops the EARLIEST updates — exactly the
    * flatness baseline) — set by [[main]]'s builder, asserted here for
    * embedding callers like [[Bench]]. */
  def run(spark: SparkSession, sfDir: String, nBatches: Int): Result = {
    require(nBatches >= 3, s"nBatches=$nBatches — need >= 3 (seed + 2 streamed)")
    require(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
      .toInt >= nBatches,
      "numRecentProgressUpdates below nBatches would silently drop the " +
        "earliest batches from the flatness profile")
    import spark.implicits._

    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    val n = docs.count()
    val sz = (n + nBatches - 1) / nBatches
    def slice(i: Int): DataFrame =
      docs.filter($"doc_id" >= i * sz && $"doc_id" < (i + 1) * sz)

    // one parquet FILE per micro-batch, written in arrival order so the
    // file source's mtime ordering replays the same sequence
    val staging = ScratchDir("graft_ingestbench_stage").toString
    (1 until nBatches).foreach { i =>
      slice(i).coalesce(1).write.mode("append").parquet(staging)
      Thread.sleep(1100) // distinct mtimes -> deterministic file order
    }

    def streamedBatches(
        start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
        : Seq[(Long, Double)] = {
      val src = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(staging)
      val q = start(src)
      q.awaitTermination()
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      prog.map(p => (p.numInputRows,
        p.durationMs.get("triggerExecution").toDouble / 1000.0))
    }

    // ---- near-dup seam: MinHash band index rolls forward per batch
    val ndIdx = ScratchDir("graft_ingestbench_ndidx").toString
    val ndCorpus = ScratchDir("graft_ingestbench_ndcorp").toString
    Dedup.minhashBandIndex(slice(0), k = 5, numHashes = 32, bands = 8,
      hashedShingles = true).write.mode("overwrite").parquet(ndIdx)
    val nd = streamedBatches { src =>
      CorpusIngest.parquetDedupIngest(src, ndIdx, ndCorpus, threshold = 0.6)
        .trigger(Trigger.AvailableNow()).start()
    }

    // ---- exact seam: hash index + bloom roll forward per batch
    val exIdx = ScratchDir("graft_ingestbench_exidx").toString
    val exBloom = ScratchDir("graft_ingestbench_exbloom").toString
    val exCorpus = ScratchDir("graft_ingestbench_excorp").toString
    val seedIdx = Dedup.exactHashIndex(slice(0))
    seedIdx.write.mode("overwrite").parquet(exIdx)
    Dedup.exactIndexBloom(seedIdx, expectedItems = 2L * n)
      .write.mode("overwrite").parquet(exBloom)
    val ex = streamedBatches { src =>
      CorpusIngest.parquetExactDedupIngest(src, exIdx, exBloom, exCorpus)
        .trigger(Trigger.AvailableNow()).start()
    }

    // ---- embedding seam: cell-partitioned IVF postings roll forward
    // per batch (touched-cell recap, superseded files retired)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    val nEmb = emb.count()
    val szE = (nEmb + nBatches - 1) / nBatches
    def embSlice(i: Int): DataFrame =
      emb.filter($"vec_id" >= i * szE && $"vec_id" < (i + 1) * szE)
    val embStaging =
      ScratchDir("graft_ingestbench_embstage").toString
    (1 until nBatches).foreach { i =>
      embSlice(i).coalesce(1).write.mode("append").parquet(embStaging)
      Thread.sleep(1100)
    }
    val postingsPath =
      ScratchDir("graft_ingestbench_postings").toString
    // clamp the cell count and sample to the seed slice so the
    // fixture-scale smoke (hundreds of vectors) fits the same code
    // path the sf1+ runs measure
    val seedCount = embSlice(0).count()
    val cells = math.min(32L, math.max(4L, seedCount / 16)).toInt
    val model = graft.operators.Similarity.fitIvfIndex(embSlice(0),
      numCells = cells,
      trainFraction = if (seedCount < 2000) 1.0 else 0.25)
    graft.operators.Similarity.saveIvfPostings(
      graft.operators.Similarity.ivfPostings(embSlice(0),
        CoarseQuantizer.Flat(model)), postingsPath)
    val iv = {
      val src = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(embStaging)
      val q = CorpusIngest.embeddingIngest(src, CoarseQuantizer.Flat(model),
        postingsPath, graft.operators.Similarity.MaintenanceMode.Retained)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p =>
        (p.numInputRows, p.durationMs.get("triggerExecution").toDouble / 1000.0))
    }

    Result(nd, ex, iv,
      ndKept = spark.read.parquet(ndCorpus).count(),
      exKept = spark.read.parquet(exCorpus).count(),
      // through the manifest: a retained directory also holds tombstones
      ivPostings = graft.operators.Similarity.readPostings(spark,
        postingsPath).count(),
      docs = n)
  }

  /** The GROUPED embedding seam's flatness at a large cell count —
    * [[CorpusIngest.embeddingIngest]] under a `TwoLevel` quantizer at
    * the 2¹⁴-cell posture
    * (VERDICT r13 #5): hierarchical fit over the seed slice, two-level
    * postings artifact, per-batch appends whose assignment rides the
    * two-level kernel. Returns per-batch (rows, sec) + final postings
    * count. Run standalone via env `IB_GROUPED_CELLS` (see [[main]]) —
    * the corpus must be big enough that cells ≪ vectors. */
  def groupedEmbedding(spark: SparkSession, sfDir: String, nBatches: Int,
      groups: Int, cellsPerGroup: Int, groupProbes: Int,
      fragment: Boolean = false)
      : (Seq[(Long, Double)], Long, Option[Double]) = {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    val nEmb = emb.count()
    val szE = (nEmb + nBatches - 1) / nBatches
    def embSlice(i: Int): DataFrame =
      emb.filter($"vec_id" >= i * szE && $"vec_id" < (i + 1) * szE)
    val staging =
      ScratchDir("graft_ingestbench_2lstage").toString
    (1 until nBatches).foreach { i =>
      embSlice(i).coalesce(1).write.mode("append").parquet(staging)
      Thread.sleep(1100)
    }
    val gcs = Similarity.fitIvfHierarchical(embSlice(0), groups,
      cellsPerGroup, trainFraction = 0.25)
    val postingsPath =
      ScratchDir("graft_ingestbench_2lpost").toString
    val quantizer = CoarseQuantizer.TwoLevel(gcs, groupProbes)
    Similarity.saveIvfPostings(Similarity.ivfPostings(embSlice(0), quantizer),
      postingsPath)
    val src = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(staging)
    // fragment = the high-frequency mode: O(batch) per trigger, the
    // fold deferred to one closing compaction (timed separately — the
    // two numbers TOGETHER are the mode's whole bill)
    val writer = CorpusIngest.embeddingIngest(src, quantizer, postingsPath,
      if (fragment) Similarity.MaintenanceMode.Fragment
      else Similarity.MaintenanceMode.Retained)
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p =>
      (p.numInputRows, p.durationMs.get("triggerExecution").toDouble / 1000.0))
    val compactSec =
      if (fragment) Some {
        val t0 = System.nanoTime()
        graft.operators.Similarity.compactIvfPostings(spark, postingsPath)
        (System.nanoTime() - t0) / 1e9
      } else None
    (prog, Similarity.readPostings(spark, postingsPath).count(), compactSec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("scaledata/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    require(nBatches >= 3, s"nBatches=$nBatches — need >= 3 (seed + 2 streamed)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.defaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      // recentProgress is a ring buffer capped by this conf (default
      // 100): a deeper run would silently drop its EARLIEST batches —
      // exactly the ones the flatness baseline needs
      .config("spark.sql.streaming.numRecentProgressUpdates",
        math.max(100, nBatches + 8).toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JDBC-ingress-only mode: IB_JDBC=<table|1> (1 → lineitem) loads
    // the table into an embedded Derby warehouse, then times the
    // extract single-cursor vs N-striped
    // (JdbcIngress.readTablePartitioned) — the S1 parallel-ingress
    // claim with a number attached. Embedded Derby shares this JVM's
    // cores with Spark, so the measured stripe speedup is a LOWER
    // bound on a real warehouse's (no network, no server-side
    // parallelism in the denominator); the stripe BALANCE is the part
    // that transfers as-is, since it is the partitioning predicate's
    // own property.
    sys.env.get("IB_JDBC").foreach { spec =>
      val table = if (spec == "1") "lineitem" else spec
      val partCol = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
        "customer" -> "c_custkey", "part" -> "p_partkey")
        .getOrElse(table, sys.error(s"no stripe key mapped for $table"))
      Tables.validate(spark, sfDir, Seq(table))
      val df = Tables.load(spark, sfDir, table)
      val url = "jdbc:derby:memory:ibjdbc;create=true"
      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = body
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val (_, loadSec) = timed(
        graft.sources.WarehouseWriter.saveJdbc(df, url, table.toUpperCase))
      val (lo, hi) = {
        val r = df.agg(org.apache.spark.sql.functions.min(partCol),
          org.apache.spark.sql.functions.max(partCol)).head()
        (r.getLong(0), r.getLong(1))
      }
      val rows = df.count()
      def ingress(n: Int) =
        if (n == 1) graft.sources.JdbcIngress.readTable(spark, url,
          table.toUpperCase)
        else graft.sources.JdbcIngress.readTablePartitioned(spark, url,
          table.toUpperCase, partCol, lo, hi, n)
      def measure(n: Int): Double = {
        ingress(n).write.format("noop").mode("overwrite").save() // warm
        timed(ingress(n).write.format("noop").mode("overwrite").save())._2
      }
      val stripes = Seq(1, 2, 4, 8, 16)
      val secs = stripes.map(n => n -> measure(n))
      // stripe balance at the widest fan: rows per cursor, max/mean —
      // the striping predicate's own skew, independent of this box
      val widest = stripes.max
      val perStripe = ingress(widest)
        .groupBy(org.apache.spark.sql.functions.spark_partition_id())
        .count().collect().map(_.getLong(1))
      val balance =
        perStripe.max.toDouble / (perStripe.sum.toDouble / perStripe.length)
      val single = secs.head._2
      println(f"""{"metric":"ingest_bench_jdbc","sf_dir":"$sfDir",""" +
        f""""table":"$table","rows":$rows,"load_sec":$loadSec%.2f,""" +
        secs.map { case (n, s) =>
          f""""extract_${n}_sec":$s%.2f""" }.mkString(",") + "," +
        f""""speedup_widest":${single / secs.last._2}%.2f,""" +
        f""""stripes_widest":$widest,"stripe_balance":$balance%.2f}""")
      spark.stop()
      return
    }

    // grouped-seam-only mode: IB_GROUPED_CELLS=<groups>x<cellsPerGroup>
    // [IB_GROUP_PROBES=<gp>] runs ONLY the two-level embedding seam at
    // that cell count and exits — the 2¹⁴-cell flatness row
    // grouped-seam-only mode; IB_FRAGMENT=1 additionally switches the
    // seam to the fragment route (O(batch) triggers + one timed closing
    // compaction) — the recap/fragment per-trigger A/B at 2¹⁴ cells
    sys.env.get("IB_GROUPED_CELLS").foreach { spec =>
      Tables.validate(spark, sfDir, Seq("embeddings"))
      val Array(g, cpg) = spec.split("x").map(_.trim.toInt)
      val gp = sys.env.get("IB_GROUP_PROBES").map(_.toInt)
        .getOrElse(math.max(1, g / 16))
      val fragment = sys.env.contains("IB_FRAGMENT")
      val seam = if (fragment) "ivf_grouped_fragment" else "ivf_grouped"
      val (prog, nPostings, compactSec) =
        groupedEmbedding(spark, sfDir, nBatches, g, cpg, gp, fragment)
      prog.zipWithIndex.foreach { case ((rows, sec), i) =>
        println(f"""{"seam":"$seam","batch":$i,"rows":$rows,"sec":$sec%.2f}""")
      }
      println(f"""{"metric":"ingest_bench_grouped","sf_dir":"$sfDir",""" +
        f""""cells":${g * cpg},"groups":$g,"group_probes":$gp,""" +
        f""""fragment":$fragment,""" +
        f""""batches":${nBatches - 1},""" +
        f""""ivf_grouped_flatness":${flatness(prog.map(_._2))}%.2f,""" +
        f""""ivf_grouped_mean_sec":${prog.map(_._2).drop(1) match {
          case s if s.nonEmpty => s.sum / s.size; case _ => Double.NaN
        }}%.2f,""" +
        compactSec.map(s => f""""compact_sec":$s%.2f,""").getOrElse("") +
        f""""ivf_postings":$nPostings}""")
      spark.stop()
      return
    }

    // both corpora are loaded by run() — gate both before either seam
    // spends wall time
    Tables.validate(spark, sfDir, Seq("documents", "embeddings"))

    val r = run(spark, sfDir, nBatches)
    def report(seam: String, prog: Seq[(Long, Double)]): Unit =
      prog.zipWithIndex.foreach { case ((rows, sec), i) =>
        println(f"""{"seam":"$seam","batch":$i,"rows":$rows,"sec":$sec%.2f}""")
      }
    report("neardup", r.neardup)
    report("exact", r.exact)
    report("ivf", r.ivf)
    println(f"""{"metric":"ingest_bench","sf_dir":"$sfDir","docs":${r.docs},""" +
      f""""batches":${nBatches - 1},"neardup_flatness":${flatness(r.neardup.map(_._2))}%.2f,""" +
      f""""exact_flatness":${flatness(r.exact.map(_._2))}%.2f,""" +
      f""""ivf_flatness":${flatness(r.ivf.map(_._2))}%.2f,""" +
      f""""neardup_kept":${r.ndKept},"exact_kept":${r.exKept},"ivf_postings":${r.ivPostings}}""")
    spark.stop()
  }
}
