package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps._
import graft.operators.{Dedup, PlanLiterals, PostingsCodec, Similarity}
import graft.operators.CoarseQuantizer.Flat

/** How many Spark jobs an artifact build starts, pinned at sf0.001.
  * A build's parameters ride its frame's plan as literal columns, so
  * reading them back — a `take(1)` head row over the build pipeline,
  * a footer-inference job, a `distinct` over the PQ checksum column —
  * is pure per-job overhead; the builds run their write and nothing
  * else. A count that grows means a build started reading back what
  * it already knew. */
class ArtifactBuildJobsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def path(prefix: String): String =
    tempDir(prefix).resolve("artifact").toString

  private def assertJobs(what: String, want: Int)(build: => Unit): Unit = {
    val jobs = jobsDuring(build)
    assert(jobs.size == want,
      s"$what started ${jobs.size} jobs, want $want: ${jobs.mkString(", ")}")
  }

  /** A one-file copy of an sf0.001 table that no other suite reads, so
    * a cache another suite left on the shared session cannot stand in
    * for the scan and change the plan being counted. */
  private def staged(table: String) = {
    val p = tempDir(s"graft_jobs_$table").resolve(table).toString
    Tables.load(spark, sf0001, table).coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }
  private lazy val docs = staged("documents")

  test("plan literals pass through projections, filters and agreeing " +
      "unions, and nothing else") {
    val a = docs.select($"doc_id").withColumn("p", lit(5))
      .withColumn("s", lit("x"))
    assert(PlanLiterals(a.filter($"doc_id" > 3).select($"p".as("q"), $"s"),
      "q", "s") == Some(Seq(5, "x")))
    assert(PlanLiterals(a.unionByName(a), "p") == Some(Seq(5)))
    assert(PlanLiterals(a.unionByName(a.withColumn("p", lit(6))), "p").isEmpty)
    assert(PlanLiterals(a, "p", "missing").isEmpty)
    assert(PlanLiterals(docs, "doc_id").isEmpty)
    // an outer join may null the literal side's column
    assert(PlanLiterals(docs.select($"doc_id").join(a, Seq("doc_id"), "left"),
      "p").isEmpty)
  }

  test("a minhash index build runs only its write") {
    val index = Dedup.minhashBandIndex(docs, 5, 32, 8)
    val p = path("graft_jobs_minhash")
    assertJobs("saveMinhashIndex", 2)(Dedup.saveMinhashIndex(index, p))
    assert(Dedup.readMinhashIndex(spark, p).count() == index.count())
  }

  /** `build` reads its params back with exactly one `take(1)` job. */
  private def assertHeadRowRead(what: String)(build: => Unit): Unit = {
    val jobs = jobsDuring(build)
    assert(jobs.count(_.startsWith("take at FlatIndex.scala")) == 1,
      s"$what should read one head row: ${jobs.mkString(", ")}")
  }

  test("a frame without plan literals reads its params from a head row; " +
      "empty, it fails before the live artifact is touched") {
    // a stored artifact's scan carries the params as data, not literals
    val mh = Dedup.minhashBandIndex(docs, 5, 32, 8)
    val mhSrc = path("graft_jobs_mh_src")
    Dedup.saveMinhashIndex(mh, mhSrc)
    val mhStored = Dedup.readMinhashIndex(spark, mhSrc)
    assert(PlanLiterals(mhStored, "mh_k").isEmpty)
    val mhDst = path("graft_jobs_mh_dst")
    assertHeadRowRead("saveMinhashIndex(stored)")(
      Dedup.saveMinhashIndex(mhStored, mhDst))
    assert(Dedup.readMinhashIndex(spark, mhDst).count() == mh.count())
    val mhEx = intercept[IllegalArgumentException](
      Dedup.saveMinhashIndex(mhStored.limit(0), mhDst))
    assert(mhEx.getMessage.contains("empty minhash index"))
    assert(Dedup.readMinhashIndex(spark, mhDst).count() == mh.count())

    val wn = Dedup.winnowIndex(docs, 5, 4)
    val wnSrc = path("graft_jobs_wn_src")
    Dedup.saveWinnowIndex(wn, wnSrc)
    val wnStored = Dedup.readWinnowIndex(spark, wnSrc)
    val wnDst = path("graft_jobs_wn_dst")
    assertHeadRowRead("saveWinnowIndex(stored)")(
      Dedup.saveWinnowIndex(wnStored, wnDst))
    assert(Dedup.readWinnowIndex(spark, wnDst).count() == wn.count())
    val wnEx = intercept[IllegalArgumentException](
      Dedup.saveWinnowIndex(wnStored.limit(0), wnDst))
    assert(wnEx.getMessage.contains("empty winnow index"))
    assert(Dedup.readWinnowIndex(spark, wnDst).count() == wn.count())
  }

  test("a minhash delta lands one file per kernel task") {
    def liveFiles(p: String) = graft.operators.ArtifactManifest
      .readClean(spark, p, "minhash_band_index").get.totalFiles
    val p = path("graft_jobs_mh_append")
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(
      docs.filter($"doc_id" % 2 === 0), 5, 32, 8), p)
    // a one-file batch: Spread runs its kernel across every core, and
    // each kernel task writes its own file
    val before = liveFiles(p)
    Dedup.appendMinhashIndexDelta(spark, p, docs.filter($"doc_id" % 2 === 1))
    assert(liveFiles(p) - before == spark.sparkContext.defaultParallelism)
    // the streaming sink's delta keeps its kept rows' partitioning, so a
    // trigger adds as many index files as corpus files, its kernel
    // neither shuffled nor narrowed to fewer tasks
    val kept = docs.filter($"doc_id" % 2 === 1).repartition(2, $"doc_id")
      .localCheckpoint(true)
    val before2 = liveFiles(p)
    Dedup.appendMinhashIndexDeltaFrame(spark, p,
      Dedup.minhashIndexDelta(Dedup.readMinhashIndex(spark, p), kept))
    assert(liveFiles(p) - before2 == 2)
  }

  /** What a flat artifact's files look like: each data file's parquet
    * schema on one line (distinct), the data file count, and the
    * manifest's `family`/`param` lines. */
  private def layout(p: String): (Set[String], Int, Seq[String]) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(p).getFileSystem(conf)
    val files = fs.listStatus(new Path(p))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    val schemas = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try r.getFooter.getFileMetaData.getSchema.toString
        .replaceAll("\\s+", " ").trim
      finally r.close()
    }.toSet
    val in = fs.open(graft.operators.ArtifactManifest.manifestPath(p))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    (schemas, files.length,
      lines.filter(l => l.startsWith("family\t") || l.startsWith("param\t")))
  }

  /** One family's build → staged append → compaction over the sf0.001
    * documents' even and odd halves: the jobs each op starts, then the
    * files the three ops leave. */
  private def assertLifecycle(family: String, jobs: (Int, Int, Int),
      schema: String, files: Int, manifest: Seq[String])(
      build: (org.apache.spark.sql.DataFrame, String) => Unit,
      append: (org.apache.spark.sql.DataFrame, String) => Unit,
      compact: String => Unit): Unit = {
    val p = path(s"graft_jobs_${family}_cycle")
    val (seed, batch) =
      (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    val ran = (jobsDuring(build(seed, p)).size,
      jobsDuring(append(batch, p)).size, jobsDuring(compact(p)).size)
    val got = (ran, layout(p))
    assert(got == ((jobs, (Set(schema), files, manifest))), s"$family: $got")
  }

  test("exact index build, append and compaction: jobs and files") {
    assertLifecycle("exact_hash_index", (4, 2, 2),
      "message spark_schema { optional binary text_hash (STRING); }", 1,
      Seq("family\texact_hash_index", "param\t_base_files\t1"))(
      (d, p) => Dedup.saveExactIndex(Dedup.exactHashIndex(d), p),
      (d, p) => Dedup.appendExactIndexDelta(spark, p, d),
      p => Dedup.compactExactIndex(spark, p))
  }

  /** The minhash compaction runs its doc_id pre-pass (a shuffle map
    * stage and a collect) before its write. Its fold is a narrow
    * coalesce, so it writes one file per scan partition: on `local[4]`
    * the read packs the eight 34–43 KB files that the build and the
    * append left into four splits. */
  test("minhash index build, append and compaction: jobs and files") {
    assertLifecycle("minhash_band_index", (2, 2, 3),
      "message spark_schema { optional int64 doc_id; optional group sh " +
        "(LIST) { repeated group list { optional binary element (STRING); " +
        "} } optional group bk (LIST) { repeated group list { optional " +
        "int64 element; } } optional int32 mh_k; optional int32 " +
        "mh_hashes; optional int32 mh_bands; optional boolean mh_hashed; }",
      4, Seq("family\tminhash_band_index", "param\t_base_files\t4",
        "param\tbands\t8", "param\thashed\tfalse", "param\thashes\t32",
        "param\tk\t5"))(
      (d, p) => Dedup.saveMinhashIndex(Dedup.minhashBandIndex(d, 5, 32, 8), p),
      (d, p) => Dedup.appendMinhashIndexDelta(spark, p, d),
      p => Dedup.compactMinhashIndex(spark, p))
  }

  test("a minhash compaction without a replay shuffles doc_id keys only") {
    val p = path("graft_bytes_minhash_compact")
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(
      docs.filter($"doc_id" % 2 === 0), 5, 32, 8), p)
    Dedup.appendMinhashIndexDelta(spark, p, docs.filter($"doc_id" % 2 === 1))
    // the whole-index fold the compaction replaced, over the same rows,
    // shuffled 496,697 bytes of signature rows; the compaction's doc_id
    // pre-pass shuffled 4,642 (0.93 %). A groupBy-count pre-pass, whose
    // partial counts ride beside the keys, shuffles 6,047 (1.22 %).
    val whole = shuffleWriteBytesDuring(spark.read.parquet(p)
      .repartition(8, $"doc_id").distinct()
      .write.parquet(path("graft_bytes_minhash_whole")))
    val fold = shuffleWriteBytesDuring(Dedup.compactMinhashIndex(spark, p))
    assert(whole > 0 && fold * 100 <= whole,
      s"the compaction shuffled $fold bytes, the whole-index fold $whole")
  }

  test("winnow index build, append and compaction: jobs and files") {
    assertLifecycle("winnow_index", (5, 3, 3),
      "message spark_schema { optional int64 doc_id; optional int64 " +
        "fingerprint; required int64 df; required int32 wf_k; required " +
        "int32 wf_w; required binary wf_algo (STRING); }",
      8, Seq("family\twinnow_index", "param\t_base_files\t8",
        "param\twf_algo\txx64", "param\twf_k\t5", "param\twf_w\t4"))(
      (d, p) => Dedup.saveWinnowIndex(Dedup.winnowIndex(d, 5, 4), p),
      (d, p) => Dedup.appendWinnowIndexDelta(spark, p, d),
      p => Dedup.compactWinnowIndex(spark, p))
  }

  test("a winnow index build runs only its write") {
    val index = Dedup.winnowIndex(docs, 5, 4)
    val p = path("graft_jobs_winnow")
    assertJobs("saveWinnowIndex", 5)(Dedup.saveWinnowIndex(index, p))
    assert(Dedup.readWinnowIndex(spark, p).count() == index.count())
  }

  test("an IVF postings build runs only its write, under either codec") {
    val e = staged("embeddings")
    val cents = e.filter($"vec_id" < 8)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val float = Similarity.ivfPostings(e, Flat(cents), cellCap = 4)
    val fp = path("graft_jobs_ivf")
    assertJobs("saveIvfPostings(Float)", 2)(Similarity.saveIvfPostings(float, fp))
    assert(Similarity.readPostings(spark, fp).count() == float.count())

    val codec = PostingsCodec.Pq(Similarity.pqCodebooksFromHead(e, m = 8,
      k = 16, residual = Some(Flat(cents))))
    val coded = Similarity.ivfPostings(e, Flat(cents), cellCap = 4, codec)
    val pp = path("graft_jobs_pq")
    assertJobs("saveIvfPostings(Pq)", 3)(
      Similarity.saveIvfPostings(coded, pp, codec))
    assert(Similarity.readPostings(spark, pp).count() == coded.count())

    // a stored artifact's scan carries pq_ck as data: the codes check
    // falls back to its distinct job, and the foreign check still holds
    val stored = Similarity.readPostings(spark, pp)
    assert(PlanLiterals(stored, "pq_ck").isEmpty)
    val rp = path("graft_jobs_pq_resave")
    Similarity.saveIvfPostings(stored, rp, codec)
    assert(Similarity.readPostings(spark, rp).count() == coded.count())
    val other = PostingsCodec.Pq(Similarity.pqCodebooksFromHead(e, m = 8,
      k = 8, residual = Some(Flat(cents))))
    val ex = intercept[IllegalArgumentException](
      Similarity.saveIvfPostings(stored, path("graft_jobs_pq_foreign"), other))
    assert(ex.getMessage.contains("re-encode"))
  }
}
